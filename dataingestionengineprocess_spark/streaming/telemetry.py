"""Run telemetry (SURVEY.md §2.8 ST8 / §2.1 S8): the reference's
"completion status to CloudWatch" signal (Untitled
Diagram.drawio:147-148) as a StreamingQueryListener that records one
row per micro-batch progress event into a queryable parquet table.

The listener only BUFFERS on the callback thread (Spark invokes
listeners on its event bus; running jobs from inside a callback risks
deadlock) -- `flush` hands the buffered rows to one or more
`MetricsExporter` backends after the query drains.

The exporter interface is the CloudWatch seam: the diagram's
"completion status to CloudWatch" arrow is a METRICS BACKEND role,
not a parquet table per se. `ParquetMetricsExporter` (the default)
keeps the queryable `_stream_progress` / `_runs` tables; a deployment
that wants CloudWatch/StatsD/Prometheus implements the same two
methods and registers it alongside -- no listener or pipeline change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from ..session import local_frame

PROGRESS_TABLE = "_stream_progress"


class MetricsExporter:
    """Pluggable telemetry backend (S8/ST8). Two emit points:
    per-micro-batch stream progress and per-run completion status.
    Implementations must tolerate repeated delivery of the same run
    status (batch retries re-emit under the same run_id)."""

    def export_progress(self, spark: SparkSession,
                        rows: list[tuple]) -> None:
        """Receive buffered progress rows (tuples in `_SCHEMA` column
        order). Called from the flushing thread, never the listener
        bus thread -- running Spark jobs here is safe."""
        raise NotImplementedError

    def export_run(self, spark: SparkSession, status) -> None:
        """Receive one completed `RunStatus`."""
        raise NotImplementedError


class ParquetMetricsExporter(MetricsExporter):
    """The warehouse-table backend: progress rows append to
    `_stream_progress`, run statuses land in the idempotent
    one-partition-per-run `_runs` table (the same
    `sinks.warehouse.write_status` writer `emit_run_status` uses)."""

    def __init__(self, warehouse_dir: str) -> None:
        self.warehouse_dir = warehouse_dir

    def export_progress(self, spark: SparkSession,
                        rows: list[tuple]) -> None:
        if rows:
            (local_frame(spark, rows, _SCHEMA).coalesce(1)
             .write.mode("append")
             .parquet(os.path.join(self.warehouse_dir, PROGRESS_TABLE)))

    def export_run(self, spark: SparkSession, status) -> None:
        from ..sinks.warehouse import write_status

        write_status(spark, self.warehouse_dir, status)


class InMemoryMetricsExporter(MetricsExporter):
    """Second backend (tests / driver-side dashboards): accumulates
    in process memory. Progress rows are tuples; runs are RunStatus."""

    def __init__(self) -> None:
        self.progress: list[tuple] = []
        self.runs: list = []

    def export_progress(self, spark: SparkSession,
                        rows: list[tuple]) -> None:
        self.progress.extend(rows)

    def export_run(self, spark: SparkSession, status) -> None:
        self.runs.append(status)


_SCHEMA = (
    "query_id string, run_id string, batch_id long, name string, "
    "num_input_rows long, input_rows_per_second double, "
    "process_rows_per_second double, batch_duration_ms long, "
    "event string, timestamp string"
)


class RunTelemetryListener(StreamingQueryListener):
    """Buffers start/progress/termination events for one session.

    ``exporters``: extra `MetricsExporter` backends every flush also
    notifies (the parquet table derived from the flush target is
    always written; exporters receive the same row batch)."""

    def __init__(self,
                 exporters: list[MetricsExporter] | None = None) -> None:
        import threading

        self.exporters: list[MetricsExporter] = list(exporters or [])
        self.rows: list[tuple] = []
        # batches a prior flush delivered to SOME backends only:
        # [(rows, {delivered backend keys})] -- retried ahead of new
        # rows, skipping backends that already landed the batch (the
        # parquet backend is append-only; redelivering there would
        # silently duplicate progress rows)
        self._pending: list[tuple[list[tuple], set]] = []
        # listener-bus callbacks append from the bus thread while
        # flush() runs on the caller's thread: the buffer swap must be
        # atomic or events landing between snapshot and reset vanish
        self._lock = threading.Lock()

    def _append(self, row: tuple) -> None:
        with self._lock:
            self.rows.append(row)

    def onQueryStarted(self, event) -> None:
        self._append((
            str(event.id), str(event.runId), -1, event.name,
            0, 0.0, 0.0, 0, "started", event.timestamp,
        ))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self._append((
            str(p.id), str(p.runId), p.batchId, p.name,
            int(p.numInputRows),
            float(p.inputRowsPerSecond or 0.0),
            float(p.processedRowsPerSecond or 0.0),
            int(p.durationMs.get("triggerExecution", 0)),
            "progress", p.timestamp,
        ))

    def onQueryIdle(self, event) -> None:  # pragma: no cover - timing
        pass

    def onQueryTerminated(self, event) -> None:
        self._append((
            str(event.id), str(event.runId), -1, None,
            0, 0.0, 0.0, 0,
            "failed" if event.exception else "terminated", "",
        ))

    def flush(self, spark: SparkSession, warehouse_dir: str) -> str:
        """Hand buffered events to the parquet backend (the queryable
        progress table under ``warehouse_dir``) plus every registered
        exporter; returns the table path. One atomic buffer swap: all
        backends see the same batch. Delivery is tracked PER BACKEND:
        a backend that throws leaves the batch pending for itself
        only -- the other backends still receive it this flush, and
        the retry skips backends that already succeeded. Exactly-once
        per backend under flush retries (the parquet table is
        append-only; whole-batch redelivery would duplicate progress
        rows there), at-least-once overall, and the first error still
        propagates so the caller sees the failure."""
        path = os.path.join(warehouse_dir, PROGRESS_TABLE)
        with self._lock:
            rows, self.rows = self.rows, []
            pending, self._pending = self._pending, []
        if rows:
            pending.append((rows, set()))
        # Backend identity keys: the parquet backend is re-created per
        # flush, so key it by role + target dir (a different dir is a
        # different table, which SHOULD receive the batch); registered
        # exporters are long-lived objects, so id() is stable.
        backends = [("parquet:" + warehouse_dir,
                     ParquetMetricsExporter(warehouse_dir))]
        backends += [(("exp", id(e)), e) for e in self.exporters]
        still_pending: list[tuple[list[tuple], set]] = []
        first_err: BaseException | None = None
        for batch, delivered in pending:
            for key, exp in backends:
                if key in delivered:
                    continue
                try:
                    exp.export_progress(spark, batch)
                    delivered.add(key)
                except BaseException as e:  # noqa: BLE001 - backend seam
                    if first_err is None:
                        first_err = e
            if len(delivered) < len(backends):
                still_pending.append((batch, delivered))
        if still_pending:
            with self._lock:
                self._pending = still_pending + self._pending
        if first_err is not None:
            raise first_err
        return path


def emit_run_status(spark: SparkSession, sinks, status) -> None:
    """The S8 run-completion emit point: the `_runs` parquet table
    always writes (idempotent per run_id), then every MetricsExporter
    in ``sinks.exporters`` receives the same RunStatus -- so a
    CloudWatch-style backend is one SinkConfig field, no pipeline
    change. Exporters must tolerate redelivery (batch retries re-emit
    under the same run_id)."""
    from ..sinks.warehouse import write_status

    write_status(spark, sinks.warehouse_dir, status)
    for exp in getattr(sinks, "exporters", None) or []:
        exp.export_run(spark, status)


def read_progress(spark: SparkSession, warehouse_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(warehouse_dir, PROGRESS_TABLE))


def with_ingest_metrics(df: DataFrame, name: str = "ingest_metrics") -> DataFrame:
    """Attach free run-level metrics to a batch plan via ``observe``
    (A8): rows, null keys, value totals are accumulated DURING the
    action that executes the plan -- no second scan, unlike a separate
    ``df.agg`` pass. Read them back from the completed action through
    ``observed_metrics`` (or a QueryExecutionListener in a deployed
    app).

    At 100 TB a post-hoc metrics query re-reads the table; observe()
    rides along for free, which is why it is the right A8 mechanism.
    """
    from pyspark.sql import functions as F

    first_col = df.columns[0]
    return df.observe(
        name,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.when(F.col(first_col).isNull(), 1).otherwise(0)).alias(
            "null_first_col"
        ),
    )
