"""Streaming analytics over the events stream: watermarks, tumbling /
sliding / session windows, streaming dedup, stateful per-key ops.

SURVEY.md §2.8 ST2-ST6. Each helper builds a streaming DataFrame from
the events fixture replayed through the file source (the driver's
fixtures are static parquet; `availableNow` drains them as a bounded
stream -- the same mechanics a Kafka-fed deployment would use, minus
the unbounded tail).

Results are materialized to an in-memory sink and returned as a plain
DataFrame so the driver's collect-and-compare machinery (and DuckDB
oracles, where expressible) work unchanged.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import table_path
from ..session import tune_session

def _events_raw_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", ts_type),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ])


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events fixture as a bounded stream (ST1's file source).

    The file stream source wants a directory or glob, not a bare file
    path -- a one-character glob class keeps it happy while matching
    exactly the events file.

    Streaming sources need the schema declared up front, so the ts
    encoding is sniffed from the parquet footer on the driver (one
    footer read): TIMESTAMP(NANOS) fixtures arrive as raw nanos longs
    and are rebuilt at microsecond precision; timestamp[us] fixtures
    are declared NTZ and cast to the session-timezone TIMESTAMP. Both
    converge on the same canonical ts column `catalog.load` produces.
    """
    import pyarrow.parquet as pq

    tune_session(spark)
    path = table_path(sf_dir, "events")
    glob_path = path.replace("events.parquet", "events.[p]arquet")
    arrow_ts = pq.read_schema(path).field("ts").type
    if getattr(arrow_ts, "unit", None) == "ns":
        raw = spark.readStream.schema(
            _events_raw_schema(T.LongType())
        ).parquet(glob_path)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    raw = spark.readStream.schema(
        _events_raw_schema(T.TimestampNTZType())
    ).parquet(glob_path)
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


@contextmanager
def scoped_shuffle_partitions(spark: SparkSession, n: int | None):
    """Temporarily pin ``spark.sql.shuffle.partitions`` around a drain.

    Stateful streaming operators materialize one STATE STORE INSTANCE
    per shuffle partition per operator per micro-batch — the right
    number tracks key cardinality and cluster parallelism, NOT the
    batch-side default (AQE never re-plans a stream). At fixture scale
    the instance overhead dominates the actual work (measured 2.7x on
    the stream-stream outer join: 5.8 s at 32 partitions -> 2.2 s
    at 8), and in a plain 200-partition driver session the waste is
    proportionally worse. Production sizing goes UP for the same
    reason it goes down here. Session-global for the drain's duration;
    drains are sequential in every harness that calls this.
    """
    if n is None:
        yield
        return
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


#: Fixture-scale state-partition count for the drain helpers: every
#: registered query streams the (bounded) driver fixtures, where key
#: cardinality per micro-batch is thousands, not billions.
FIXTURE_STATE_PARTITIONS = 8


def run_to_table(stream_df: DataFrame, spark: SparkSession,
                 output_mode: str = "complete",
                 state_partitions: int | None = FIXTURE_STATE_PARTITIONS,
                 ) -> DataFrame:
    """Drain a bounded streaming aggregation into a memory sink and
    return the result as a batch DataFrame. ``state_partitions`` pins
    the stateful operators' partition count for the drain (see
    `scoped_shuffle_partitions`); pass None to use the session value.
    The partition count changes task layout only, never results —
    every drain-backed query is hash-checked against its oracle."""
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    with scoped_shuffle_partitions(spark, state_partitions):
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory").queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # Detach the result from the memory sink's named table and drop
    # the table: the sink pins the full result on the driver for the
    # SESSION's life, so a loop draining many streams (the bench, the
    # driver's correctness sweep) would grow one resident result set
    # per drain. localCheckpoint blocks are reference-counted and GC'd
    # with the returned DataFrame instead.
    out = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return out


def tumbling_counts(events: DataFrame, window: str = "1 hour",
                    watermark: str = "10 minutes") -> DataFrame:
    """ST2+ST3: watermarked tumbling-window counts per event type."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("window.start").alias("win_start"),
            "event_type", "n", "total_value",
        )
    )


def sliding_counts(events: DataFrame, window: str = "1 hour",
                   slide: str = "30 minutes",
                   watermark: str = "10 minutes") -> DataFrame:
    """ST3 sliding variant: each event lands in window/slide buckets."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("win_start"), "event_type", "n")
    )


def session_windows(events: DataFrame, gap: str = "30 minutes",
                    watermark: str = "10 minutes") -> DataFrame:
    """ST4: per-user session windows (gap-based)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events", "session_value",
        )
    )


def streaming_dedup_counts(events: DataFrame,
                           watermark: str = "10 minutes") -> DataFrame:
    """ST5: drop re-delivered events by id inside the watermark, then
    count per type. The fixture ids are unique, so this equals the
    plain count -- which is exactly what the oracle asserts."""
    return (
        events.withWatermark("ts", watermark)
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """ST6: custom per-key state via applyInPandasWithState -- running
    event count + value total per user, emitted when the (bounded)
    stream drains. Arrow-batched; state is one tuple per user."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ])
    state_schema = T.StructType([
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ])

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n],
             "total_value": [round(total, 2)]}
        )

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema,
            "update", GroupStateTimeout.NoTimeout,
        )
    )


def stateful_user_stats_tws(events: DataFrame) -> DataFrame:
    """ST6 on the Spark 4 API: per-user running count / total / max via
    ``transformWithStateInPandas`` (the transformWithState successor to
    applyInPandasWithState).

    Why it matters at scale: the processor owns TYPED state handles
    (ValueState here; List/MapState available) backed by the RocksDB
    state store, with per-state TTL -- so a 100 TB stream's keyed state
    lives off-heap and ages out without custom GC logic. Emission is
    incremental ("Update" mode): one row per user per micro-batch that
    touched it.

    ENVIRONMENT GATE: executing this requires (a) the RocksDB state
    store provider conf and (b) the ``protobuf`` package, which the
    transform_with_state driver worker imports for its state-server
    protocol. This container has no protobuf, so the operator is
    plan-constructable but not runnable here; tests skip accordingly.
    The REGISTERED, oracle-gated TWS query is
    ``queries/stream.stream_tws_user_stats``: it runs this API where
    protobuf exists and the identical shared fold through
    applyInPandasWithState otherwise.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState(
                "stats", "n LONG, total DOUBLE, max_value DOUBLE"
            )

        def handleInputRows(self, key, rows, timer_values):
            if self._st.exists():
                n, total, mx = self._st.get()
            else:
                n, total, mx = 0, 0.0, float("-inf")
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
                mx = max(mx, float(pdf["value"].max()))
            self._st.update((n, total, mx))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n],
                 "total_value": [round(total, 2)], "max_value": [mx]}
            )

        def close(self) -> None:
            pass

    return (
        events.groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=UserStats(),
            outputStructType=(
                "user_id LONG, n_events LONG, total_value DOUBLE, "
                "max_value DOUBLE"
            ),
            outputMode="Update",
            timeMode="None",
        )
    )
