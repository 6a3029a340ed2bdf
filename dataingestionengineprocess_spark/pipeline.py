"""The ingestion engine: landing-zone CSV -> validate -> dedup ->
enrich -> dual sink -> status.

This is the Spark-native re-expression of the reference's entire
architecture (Untitled Diagram.drawio): the Lambda/EC2 trigger loop
(:150-151) becomes a (micro-)batch over the landing directory, the
opaque "Ingestion Engine Process Using Python program" (:153-154)
becomes the declarative stage chain below, the Redshift + PostgreSQL
dual write (:79-98) becomes `write_warehouse` + `write_oltp`, and the
CloudWatch completion signal (:147-148) becomes a `_runs` status row.

One feed = one `FeedConfig`. Batch (`ingest_batch`) and Structured
Streaming (`ingest_stream`, one run per `foreachBatch` epoch --
ST1/ST7) share the run tail: stage chain, the four sink writes and the
status row (`_finish_run`).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .objectstore import hadoop_fs
from .operators.dedup import dedup_exact
from .operators.quality import VIOLATIONS_COL, ValidationResult, validate
from .session import local_frame
from .streaming.telemetry import emit_run_status
from .sinks.warehouse import (
    RunStatus,
    SinkConfig,
    merge_upsert,
    new_run_id,
    swap_into_place,
    write_oltp,
    write_run_partition,
    write_warehouse,
)
from .sources.csv_source import (
    CsvBatch,
    csv_reader,
    read_csv_feed,
    split_corrupt_records,
    with_corrupt_col,
)


@dataclass
class Enrichment:
    """Lookup join against reference data (J6 -- the diagram's
    PostgreSQL round-trip, :88-98).

    ``strategy`` picks the join plan:

    - ``"broadcast"`` (default): the dim is a bounded reference table;
      pin the broadcast so the fact side never shuffles.
    - ``"auto"``: the dim is too big to broadcast (a 100 TB-side
      reference). The fact side's key distribution is probed with
      `operators.skew.needs_salting` (one bounded aggregate job at
      plan-construction time, VERDICT r7 #9) and the join runs SALTED
      when the report flags a pathological key -- the regime where one
      shuffle partition becomes the straggler AQE can only split
      after materializing it -- and as a plain shuffle equi-join on
      uniform keys, where salting would replicate the dim for
      nothing. Row-level semantics are identical either way.
    """
    dim: DataFrame
    fact_col: str
    dim_col: str
    how: str = "left"
    strategy: str = "broadcast"

    def __post_init__(self) -> None:
        if self.strategy not in ("broadcast", "auto"):
            raise ValueError(
                f"unknown enrichment strategy {self.strategy!r} "
                "(expected 'broadcast' or 'auto')"
            )
        # Fail at CONFIG time, not when a skewed batch first arrives:
        # the auto path's salted branch supports inner/left only, and
        # whether it is taken depends on the batch's key distribution.
        if self.strategy == "auto" and self.how not in ("inner", "left"):
            raise ValueError(
                f"strategy='auto' supports how='inner'/'left', got "
                f"{self.how!r} (the salted fallback cannot replicate "
                "the fact side)"
            )


@dataclass
class FeedConfig:
    name: str
    schema: T.StructType
    key_cols: list[str]
    order_col: str  # newest-wins column for re-delivered rows (P3)
    rules: list = field(default_factory=list)
    enrichments: list[Enrichment] = field(default_factory=list)
    timestamp_format: str | None = None


def run_stages(
    feed: FeedConfig, clean: DataFrame
) -> tuple[DataFrame, DataFrame, ValidationResult]:
    """validate -> keep-latest dedup -> enrich. Returns (curated,
    quarantined, validation). Pure transformations: the caller decides
    when/where actions and writes happen (batch and streaming share
    this) -- and calls ``validation.unpersist()`` once its writes
    finish, releasing the validation scan's cache (a stream would
    otherwise leak one cache entry per micro-batch)."""
    result: ValidationResult = validate(clean, feed.rules)

    deduped = dedup_exact(
        result.passed,
        feed.key_cols,
        [F.col(feed.order_col).desc()],
    )

    curated = deduped
    for e in feed.enrichments:
        # Alias the dim side before joining: a reserved key name plus
        # collision-renamed payload columns. Joining on e.dim's raw
        # columns and then drop-by-name would delete BOTH sides when
        # the dim key shares the fact column's name (or a dim payload
        # column collides with a fact column).
        key = "__enrich_key"
        fact_cols = set(curated.columns)

        def fresh(c: str) -> str:
            # the renamed payload column must not collide with ANY
            # fact column either (a fact may already carry dim_<c>
            # from an upstream enrichment)
            if c not in fact_cols:
                return c
            cand, n = f"dim_{c}", 2
            while cand in fact_cols:
                cand = f"dim_{c}_{n}"
                n += 1
            return cand

        dim_side = e.dim.select(
            F.col(e.dim_col).alias(key),
            *[
                F.col(c).alias(fresh(c))
                for c in e.dim.columns
                if c != e.dim_col
            ],
        )
        if e.strategy == "broadcast":
            curated = curated.join(
                F.broadcast(dim_side),
                curated[e.fact_col] == dim_side[key], e.how,
            ).drop(key)
        else:  # "auto" (validated at Enrichment construction)
            # broadcast-ineligible dim: shuffle join, salted when the
            # FACT key distribution is pathological (report-driven --
            # the probe is one bounded aggregate job). Lazily
            # checkpoint first so the probe's aggregate materializes
            # the upstream lineage (validate -> dedup window -> prior
            # enrichments) ONCE and the real join reads the
            # checkpoint -- otherwise the probe would re-execute the
            # whole batch a second time, exactly the separate
            # counting pass the A8 telemetry policy below forbids.
            from .operators.skew import needs_salting, salted_join

            curated = curated.localCheckpoint(eager=False)
            dim_named = dim_side.withColumnRenamed(key, e.fact_col)
            if needs_salting(curated, e.fact_col):
                curated = salted_join(curated, dim_named,
                                      on=e.fact_col, how=e.how)
            else:
                curated = curated.join(dim_named, [e.fact_col], e.how)
    return curated, result.quarantined, result


def _finish_run(spark: SparkSession, feed: FeedConfig, sinks: SinkConfig,
                run_id: str, batch: CsvBatch, started: float) -> RunStatus:
    """The run tail `ingest_batch` and `ingest_stream` share: stage chain
    over the batch's clean rows, the four sink writes, the status row.

    Every sink write targets the run's own ``_run_id`` partition
    (`write_run_partition`), so a retried run --
    same run_id after a mid-run crash, or a replayed foreachBatch
    epoch -- REPLACES its partitions in every table instead of
    appending a second copy.

    Telemetry policy (A8): every count rides along on a write action
    via ``observe()``; no standalone ``.count()`` (at 100 TB a separate
    counting pass would re-read the whole batch). Each observation
    sits directly over a cache, never inside the curated lineage: when
    the curated result is empty, AQE replaces that whole lineage with
    an empty relation and drops any observation inside it, so the
    clean count is taken over the validated (cached) rows on the
    quarantine write, and the loaded count over the cached curated
    rows on the warehouse write.

    The run's caches are released on every exit, failed runs included
    (a stream would otherwise leak one cache entry per micro-batch)."""
    from pyspark.sql import Observation

    load_obs = Observation(f"loaded_{run_id}")
    rej_obs = Observation(f"rejects_{run_id}")
    quar_obs = Observation(f"quarantine_{run_id}")
    curated = validation = None
    try:
        curated, _, validation = run_stages(feed, batch.clean)
        # One curated pipeline execution: the warehouse write populates
        # the cache, the OLTP write reuses the cached rows.
        curated = curated.cache()
        write_warehouse(
            curated.observe(load_obs, F.count(F.lit(1)).alias("rows")),
            sinks.warehouse_dir, feed.name, run_id=run_id,
        )
        write_oltp(curated, sinks, f"{feed.name}_oltp", run_id=run_id)
        # Rejects/quarantine are separate branches of the cached scans;
        # their writes ARE the actions that produce their counts.
        # Quarantined rows are persisted, not just counted: silently
        # discarding rule violations would lose partner data.
        write_run_partition(
            batch.rejects.observe(rej_obs, F.count(F.lit(1)).alias("rows")),
            os.path.join(sinks.warehouse_dir, f"{feed.name}_rejects"), run_id,
        )
        violated = F.size(VIOLATIONS_COL) > 0
        write_run_partition(
            validation.marked.observe(
                quar_obs, F.count(F.lit(1)).alias("clean"),
                F.count_if(violated).alias("rows"),
            ).filter(violated)
            .withColumn(VIOLATIONS_COL, F.array_join(VIOLATIONS_COL, ",")),
            os.path.join(sinks.warehouse_dir, f"{feed.name}_quarantine"),
            run_id,
        )
        rows_rejected = int(rej_obs.get["rows"])
        status = RunStatus(
            run_id=run_id, feed=feed.name,
            rows_read=int(quar_obs.get["clean"]) + rows_rejected,
            rows_loaded=int(load_obs.get["rows"]),
            rows_rejected=rows_rejected,
            rows_quarantined=int(quar_obs.get["rows"]),
            started_at=started, finished_at=time.time(),
        )
        emit_run_status(spark, sinks, status)
        return status
    finally:
        for cached in (curated, validation, batch):
            if cached is not None:
                cached.unpersist()


def ingest_batch(spark: SparkSession, feed: FeedConfig,
                 src_path: str | list[str],
                 sinks: SinkConfig, run_id: str | None = None) -> RunStatus:
    """One landing-zone batch, end to end (see `_finish_run`). Idempotent
    per run_id: every sink write replaces the run's own partition on
    re-run."""
    started = time.time()
    run_id = run_id or new_run_id()
    batch = read_csv_feed(
        spark, src_path, feed.schema, timestamp_format=feed.timestamp_format
    )
    return _finish_run(spark, feed, sinks, run_id, batch, started)


def _read_csv_stream(spark: SparkSession, schema: T.StructType,
                     src_dir: str, timestamp_format: str | None = None,
                     max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming file source over the landing directory, parsed by the
    same `csv_reader` chain as the batch path."""
    reader = csv_reader(spark.readStream, schema,
                        timestamp_format=timestamp_format)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.csv(src_dir)


def _drain(stream: DataFrame, process_batch, checkpoint_dir: str):
    """Start ``stream`` with ``process_batch`` per micro-batch, draining
    what is available now."""
    return (
        stream.writeStream
        .foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def ingest_stream(spark: SparkSession, feed: FeedConfig, src_dir: str,
                  sinks: SinkConfig, checkpoint_dir: str,
                  max_files_per_trigger: int | None = None):
    """Continuous landing-zone ingest (ST1/ST7): the streaming file
    source tracks processed files in the checkpoint (exactly-once per
    file -- the durable replacement for the Lambda trigger), and each
    micro-batch runs the same run tail as `ingest_batch` inside
    foreachBatch.

    Returns the started StreamingQuery; callers typically
    ``q.awaitTermination()`` (or rely on availableNow to drain and
    stop)."""
    # Same malformed-row contract as the batch path: the corrupt-record
    # column is declared so parse failures are ROUTED to the rejects
    # table inside each micro-batch rather than silently becoming
    # all-null rows (PERMISSIVE without the column loses the raw line
    # AND the failure signal -- telemetry would report a clean batch).
    stream = _read_csv_stream(
        spark, with_corrupt_col(feed.schema), src_dir,
        feed.timestamp_format, max_files_per_trigger,
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        started = time.time()
        # Zero-padded epoch so run-partition names sort chronologically
        # ("stream-10" < "stream-9" otherwise); see expire_runs.
        run_id = f"stream-{epoch_id:012d}"
        # Checkpoint replay across the id-format change: a batch first
        # written as unpadded "stream-<N>" would otherwise survive next
        # to its padded replacement (a run write only replaces the
        # NEW partition name) and double the batch's rows. Hadoop
        # FS API so the cleanup also works on object stores.
        if epoch_id < 10 ** 11:  # padded and unpadded names differ
            fs, legacy = hadoop_fs(spark, os.path.join(
                sinks.warehouse_dir, feed.name, f"_run_id=stream-{epoch_id}"
            ))
            if fs.exists(legacy):
                fs.delete(legacy, True)
        batch = split_corrupt_records(batch_df)
        # clean drops _source_file: the streaming curated/OLTP schema
        # predates the lineage column, and appending a new column to
        # existing sink tables (JDBC append, mixed-schema _run_id
        # partitions) would break pre-upgrade consumers -- lineage is a
        # rejects-table concern here
        batch.clean = batch.clean.drop("_source_file")
        _finish_run(spark, feed, sinks, run_id, batch, started)

    return _drain(stream, process_batch, checkpoint_dir)


def upsert_stream(spark: SparkSession, schema: T.StructType, src_dir: str,
                  warehouse_dir: str, table: str, keys: list[str],
                  order_col: str, checkpoint_dir: str,
                  max_files_per_trigger: int | None = None):
    """Incremental keyed ingest (ST7 + S7's MERGE semantics): every
    micro-batch is MERGEd into the warehouse table keep-latest-by-key
    instead of appended. Re-delivered or corrected rows replace their
    earlier versions as soon as their file lands; the checkpoint's file
    ledger makes each file exactly-once, and merge_upsert's key window
    makes each batch idempotent -- so the table is correct under both
    re-delivery AND reprocessing.

    At scale the per-batch MERGE cost is the keep-latest shuffle over
    (table + batch); for a high-rate feed you would widen the trigger
    interval (bigger, fewer merges) or partition the table by key range
    so each merge rewrites only touched partitions.
    """
    path = os.path.join(warehouse_dir, table)

    def merge(clean: DataFrame, epoch_id: int) -> None:
        if clean.isEmpty():
            return
        fs, hp = hadoop_fs(spark, path)
        if fs.exists(hp):
            merge_upsert(spark, warehouse_dir, table, clean,
                         keys=keys, order_col=order_col)
        else:
            # First batch bootstraps the table (dedup within the batch
            # so a key delivered twice in one file still keeps latest).
            dedup_exact(
                clean, keys, [F.col(order_col).desc()]
            ).write.parquet(path)

    return _drain(
        _read_csv_stream(spark, with_corrupt_col(schema), src_dir,
                         max_files_per_trigger=max_files_per_trigger),
        _merge_clean_rows(merge, path + "_rejects"), checkpoint_dir,
    )


def _merge_clean_rows(merge, rejects_path: str):
    """foreachBatch body shared by the CSV upsert streams: split the
    micro-batch's PERMISSIVE parse, write its malformed rows (raw line
    + source file) as the epoch's ``stream-<epoch>`` partition of
    ``rejects_path``, and hand ``merge(clean, epoch_id)`` only the
    parsed rows. Without the split a bad key would merge as a key-NULL
    row and a bad value as a partial-null row. The split's cache is
    released on every exit."""

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch = split_corrupt_records(batch_df)
        try:
            write_run_partition(batch.rejects, rejects_path,
                                f"stream-{epoch_id:012d}")
            merge(batch.clean.drop("_source_file"), epoch_id)
        finally:
            batch.unpersist()

    return process_batch


def checkpoint_app_id(checkpoint_dir: str) -> str:
    """Producer id for exactly-once sinks: a stable 8-hex-char hash of
    the checkpoint location. One checkpoint == one epoch sequence ==
    one producer; a fresh checkpoint gets a fresh id."""
    import hashlib

    return hashlib.sha1(
        os.path.abspath(checkpoint_dir).encode()
    ).hexdigest()[:8]


def upsert_stream_versioned(spark: SparkSession, schema: T.StructType,
                            src_dir: str, table_path: str, keys: list[str],
                            order_col: str, checkpoint_dir: str,
                            max_files_per_trigger: int | None = None):
    """`upsert_stream` targeting a `sinks.versioned.VersionedTable`:
    every micro-batch MERGEs keep-latest-by-key into a NEW snapshot,
    stamped with the batch epoch.

    This upgrades foreachBatch's at-least-once replay contract to
    exactly-once END TO END: after a crash between sink commit and
    checkpoint commit, Structured Streaming re-delivers the epoch, and
    `VersionedTable.merge` sees a committed snapshot already carrying
    that (app, epoch) (the ids live in the version dir name, atomic
    with the snapshot's commit marker) and skips it -- the
    transactional-sink pattern lakehouse formats implement with a
    txnAppId/txnVersion log, here expressed with nothing but
    directories. The app id derives from the checkpoint location
    (`checkpoint_app_id`) because that is exactly the scope in which
    Structured Streaming promises monotone epochs: a stream restarted
    with a FRESH checkpoint restarts at epoch 0 and must NOT be
    deduplicated against the old stream's epochs -- its batches merge
    normally (keep-latest semantics make reprocessing safe).
    Concurrent readers stay on their pinned snapshot throughout (no
    merge window where the table path is missing, unlike the
    plain-parquet `upsert_stream`). Malformed rows go to
    ``<table_path>_rejects`` as in `upsert_stream`."""
    merge = _versioned_merge(spark, table_path, keys, order_col,
                             checkpoint_dir)
    return _drain(
        _read_csv_stream(spark, with_corrupt_col(schema), src_dir,
                         max_files_per_trigger=max_files_per_trigger),
        _merge_clean_rows(merge, table_path + "_rejects"), checkpoint_dir,
    )


def upsert_stream_into_versioned(stream: DataFrame, table_path: str,
                                 keys: list[str], order_col: str,
                                 checkpoint_dir: str):
    """`upsert_stream_versioned` for an already-built streaming
    DataFrame (no CSV parse, so no rejects): every micro-batch
    keep-latest-MERGEs into the versioned table, stamped
    (checkpoint-derived app, epoch) for exactly-once replay dedup."""
    return _drain(
        stream,
        _versioned_merge(stream.sparkSession, table_path, keys, order_col,
                         checkpoint_dir),
        checkpoint_dir,
    )


def _versioned_merge(spark: SparkSession, table_path: str, keys: list[str],
                     order_col: str, checkpoint_dir: str):
    """``merge(batch_df, epoch_id)``: keep-latest-MERGE one micro-batch
    into the versioned table as a new snapshot stamped
    (checkpoint-derived app, epoch); an empty batch publishes
    nothing."""
    from .sinks.versioned import VersionedTable

    vt = VersionedTable(spark, table_path)
    app = checkpoint_app_id(checkpoint_dir)

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if vt.current_version() is None:
            # Bootstrap: first snapshot is the batch deduped keep-latest.
            vt.publish(
                dedup_exact(batch_df, keys, [F.col(order_col).desc()]),
                epoch=epoch_id, app=app,
            )
        else:
            vt.merge(batch_df, keys=keys, order_col=order_col,
                     epoch=epoch_id, app=app)

    return merge


def replay_quarantine(spark: SparkSession, feed: FeedConfig,
                      sinks: SinkConfig,
                      run_id: str | None = None) -> RunStatus:
    """Re-run the stage chain over the feed's QUARANTINE table -- the
    recovery path after a rule fix: rows that now pass flow to the
    dual sinks under a fresh run id, rows that still violate rewrite
    the quarantine table (it only ever shrinks).

    Validation re-evaluates ``feed.rules`` as they are NOW -- the
    whole point is that the rules changed since the rows were
    quarantined.

    The curated output is localCheckpoint'ed BEFORE its writes (two
    sinks, one execution). The still-failing rows are never only in
    volatile storage: they are written DURABLY to a side directory
    first, and only then swapped into the quarantine path by
    `sinks.warehouse.swap_into_place` -- a crash anywhere
    leaves either the old quarantine table or the new one (plus a
    recoverable ``__prereplay`` copy) on disk, never a truncated
    table backed by nothing but executor-local checkpoint blocks.
    Telemetry follows the A8 observe() policy exactly like
    `ingest_batch`: both counts ride along on the sink writes (the
    warehouse write fires rows_loaded, the durable side write fires
    rows_quarantined) -- zero standalone counting jobs.
    """
    from pyspark.sql import Observation

    started = time.time()
    run_id = run_id or f"replay-{new_run_id()}"
    quar_path = os.path.join(sinks.warehouse_dir,
                             f"{feed.name}_quarantine")
    src = spark.read.parquet(quar_path).drop("_violations")
    # the quarantine table is run-partitioned; the originating run's
    # id is replaced by this replay's own below
    if "_run_id" in src.columns:
        src = src.drop("_run_id")

    curated, still_failing, validation = run_stages(feed, src)
    curated = curated.localCheckpoint(eager=True)
    load_obs = Observation(f"replay_loaded_{run_id}")
    curated = curated.observe(load_obs, F.count(F.lit(1)).alias("rows"))
    quar_obs = Observation(f"replay_quarantine_{run_id}")
    still_failing = still_failing.withColumn(
        "_violations", F.array_join("_violations", ",")
    ).withColumn("_run_id", F.lit(run_id)).observe(
        quar_obs, F.count(F.lit(1)).alias("rows")
    )

    write_warehouse(curated, sinks.warehouse_dir, feed.name, run_id=run_id)
    write_oltp(curated, sinks, f"{feed.name}_oltp", run_id=run_id)

    # Durable side write, then swap (never overwrite the table being
    # read in this very run). Partitioned like every other quarantine
    # write so the table keeps ONE layout (mixing flat files with
    # _run_id= dirs would break partition discovery).
    write_run_partition(still_failing, quar_path + "__replaying", run_id)
    fs, hp = hadoop_fs(spark, quar_path)
    swap_into_place(fs, hp, hp.suffix("__replaying"),
                    hp.suffix("__prereplay"), "replay_quarantine")

    validation.unpersist()
    # counts were observed on the writes above: rows_loaded on the
    # warehouse write, rows_quarantined on the durable side write
    # whose directory was just swapped into the quarantine path --
    # same values a post-swap re-read would report, zero extra jobs
    rows_loaded = int(load_obs.get["rows"])
    rows_quarantined = int(quar_obs.get["rows"])
    status = RunStatus(
        run_id=run_id, feed=feed.name,
        rows_read=rows_loaded + rows_quarantined,
        rows_loaded=rows_loaded, rows_rejected=0,
        rows_quarantined=rows_quarantined,
        started_at=started, finished_at=time.time(),
    )
    emit_run_status(spark, sinks, status)
    return status


def _list_landing_files(spark: SparkSession, landing_dir: str,
                        suffix: str = ".csv") -> list[tuple[str, int, int]]:
    """(path, size, mtime_ms) for every data file under the landing
    prefix, via the Hadoop FS API (works on object stores too)."""
    fs, root = hadoop_fs(spark, landing_dir)
    if not fs.exists(root):
        return []
    out = []
    it = fs.listFiles(root, True)
    while it.hasNext():
        st = it.next()
        p = st.getPath().toString()
        if p.endswith(suffix):
            out.append((p, int(st.getLen()), int(st.getModificationTime())))
    return sorted(out)


def ingest_new_files(spark: SparkSession, feed: FeedConfig,
                     landing_dir: str, sinks: SinkConfig,
                     run_id: str | None = None) -> RunStatus | None:
    """Batch-mode landing-zone sweep with a durable FILE LEDGER: the
    reference's "Lambda will look for new file in specific S3
    location" (Untitled Diagram.drawio:150-151) as a pull model.

    Every (path, size, mtime) identity already recorded in
    ``<feed>_ledger`` is skipped; everything else is ingested as ONE
    batch (a re-dropped file -- same path, new size/mtime -- counts as
    new and re-ingests under the new run id). Returns None when the
    sweep finds nothing, making it safe to run on a schedule.

    This is the batch counterpart of `ingest_stream`'s checkpoint file
    tracking: same exactly-once-per-file goal, but the ledger is a
    queryable warehouse table (auditable lineage) instead of an opaque
    streaming checkpoint.

    Scale: the ledger holds one narrow row per file ever ingested --
    millions of rows over a feed's lifetime, GBs of driver heap if
    collected. The membership check is therefore a LEFT ANTI join of
    the (small, one-sweep) listing DataFrame against the ledger table:
    only the new files -- bounded by what landed since the last sweep
    -- ever reach the driver.
    """
    ledger_path = os.path.join(sinks.warehouse_dir, f"{feed.name}_ledger")
    files = _list_landing_files(spark, landing_dir)
    if not files:
        return None
    fs, lp = hadoop_fs(spark, ledger_path)
    listing = local_frame(spark, files,
                          "path string, size long, mtime_ms long")
    seen: set[tuple[str, int, int]] = set()
    if fs.exists(lp):
        # "Which of the listed files has the ledger already seen?" as a
        # LEFT SEMI join of the ledger scan against the broadcast
        # listing (Spark's BroadcastHashJoin builds the RIGHT side for
        # semi joins, so the small listing is the build side): the
        # large ledger streams map-side with no shuffle, and at most
        # len(listing) rows -- one sweep's files -- reach the driver.
        # The full ledger is never collected.
        seen = {
            (r["path"], r["size"], r["mtime_ms"])
            for r in spark.read.parquet(ledger_path)
            .select("path", "size", "mtime_ms")
            .join(F.broadcast(listing),
                  ["path", "size", "mtime_ms"], "left_semi")
            .collect()
        }
    new = [f for f in files if f not in seen]
    if not new:
        return None

    # Deterministic run id from the FILE IDENTITY SET: a sweep that
    # crashed after ingest_batch but before the ledger append re-runs
    # with the same file set, derives the SAME run id, and every
    # per-run-partitioned sink write replaces its own partitions --
    # closing the crash window that a random id would turn into
    # silent warehouse/OLTP duplication. The max-mtime prefix keeps
    # ids chronologically sortable for `expire_runs`.
    if run_id is None:
        import hashlib

        ident = hashlib.md5(
            "|".join(f"{p}#{s}#{m}" for p, s, m in sorted(new)).encode()
        ).hexdigest()[:12]
        run_id = f"{max(m for _, _, m in new) * 1_000_000:020d}-sweep-{ident}"
    status = ingest_batch(
        spark, feed, [p for p, _, _ in new], sinks, run_id=run_id
    )
    ledger_rows = local_frame(
        spark, [(p, s, m, run_id) for p, s, m in new],
        "path string, size long, mtime_ms long, run_id string",
    )
    ledger_rows.coalesce(1).write.mode("append").parquet(ledger_path)
    return status
