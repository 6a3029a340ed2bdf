"""Dual-sink writers + run-status telemetry.

Reference flows (Untitled Diagram.drawio): EC2 -> Redshift bulk load
(:79-87), EC2 <-> PostgreSQL operational rows (:88-98), and the
completion-status metric to CloudWatch (:147-148). Spark-native:

- Warehouse sink = partitioned parquet directory (the COPY-compatible
  columnar layout; a real Redshift/warehouse load points at the same
  files). Partitioned by ingest date so downstream partition pruning
  works -- the single most important 100 TB layout decision.
- OLTP sink = JDBC when a URL is configured, else a parquet "table"
  directory stand-in (this sandbox has no database server; the write
  path is identical up to the final format call).
- Status sink = an append-only ``_runs`` parquet table -- the
  CloudWatch completion signal as a queryable table (S8), one row per
  ingest run with rows read/loaded/rejected and wall-clock.

Idempotency: every per-run write targets the run's own
``_run_id=<id>`` partition directory (`write_run_partition`), so
re-processing a re-dropped file replaces that run's partition instead
of duplicating it, and an empty run still leaves a readable 0-row
partition.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..objectstore import hadoop_fs
from ..operators.dedup import dedup_exact
from ..session import local_frame


@dataclass
class SinkConfig:
    warehouse_dir: str
    oltp_dir: str | None = None
    jdbc_url: str | None = None
    jdbc_options: dict[str, str] = field(default_factory=dict)
    #: extra MetricsExporter backends; every run status lands in the
    #: `_runs` table AND each of these (streaming.telemetry.emit_run_status)
    exporters: list = field(default_factory=list)


def write_warehouse(df: DataFrame, warehouse_dir: str, table: str,
                    partition_cols: list[str] | None = None,
                    mode: str = "append",
                    bloom_filter_cols: list[str] | None = None,
                    file_format: str = "parquet",
                    run_id: str | None = None) -> str:
    """Bulk-load curated rows into the warehouse layout (S6).

    ``run_id`` makes the load IDEMPOTENT per run, exactly like
    `write_oltp`: the rows replace the table's ``_run_id=<id>``
    partition (`write_run_partition`), and the other layout arguments
    do not apply.

    ``bloom_filter_cols`` writes a per-column bloom filter:
    point-lookup predicates on high-cardinality non-sort columns
    (order ids, user ids) can then skip row groups/stripes that
    min/max stats alone cannot, because a hash-distributed id spans
    nearly the full min/max range in EVERY row group. Costs a few
    hundred KB per column chunk; reserve it for id-lookup columns.

    ``file_format``: ``parquet`` (default) or ``orc`` -- both columnar
    with pushdown + pruning; ORC for warehouses standardized on the
    Hive/ORC stack.
    """
    if file_format not in ("parquet", "orc"):
        raise ValueError(f"unsupported warehouse format {file_format!r}")
    path = os.path.join(warehouse_dir, table)
    if run_id is not None:
        write_run_partition(df, path, run_id)
        return path
    writer = df.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    if file_format == "orc" and bloom_filter_cols:
        writer = writer.option(
            "orc.bloom.filter.columns", ",".join(bloom_filter_cols)
        )
    elif file_format == "parquet":
        for c in bloom_filter_cols or []:
            writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
    writer.format(file_format).save(path)
    return path


def write_oltp(df: DataFrame, cfg: SinkConfig, table: str,
               mode: str = "append", run_id: str | None = None) -> str:
    """Operational-row sink (S7): JDBC if configured, parquet stand-in
    otherwise. Upserts against a real DB go through a staging table +
    MERGE executed by the DB -- Spark ships the staged rows.

    ``run_id`` makes the parquet stand-in IDEMPOTENT per run: rows
    land under a ``_run_id=<id>`` partition (`write_run_partition`),
    so a crashed-and-retried batch (foreachBatch epoch replay,
    ingest_batch rerun) rewrites its own partition instead of
    appending a duplicate copy. Readers see the extra ``_run_id``
    lineage column. The JDBC path cannot get this from a plain
    append -- exactly-once against a real DB goes through the staged
    MERGE (`merge_upsert` semantics executed by the DB), so run_id is
    ignored there.
    """
    if cfg.jdbc_url:
        (df.write.format("jdbc")
         .option("url", cfg.jdbc_url)
         .option("dbtable", table)
         .options(**cfg.jdbc_options)
         .mode(mode)
         .save())
        return f"{cfg.jdbc_url}/{table}"
    if not cfg.oltp_dir:
        raise ValueError("SinkConfig needs jdbc_url or oltp_dir")
    path = os.path.join(cfg.oltp_dir, table)
    if run_id is not None:
        write_run_partition(df, path, run_id)
        return path
    df.write.mode(mode).parquet(path)
    return path


def write_run_partition(df: DataFrame, table_path: str, run_id: str) -> str:
    """Write ``df`` as the table's ``_run_id=<run_id>`` partition,
    REPLACING any previous contents of that partition only.

    This is the engine's per-run idempotence primitive: targeting the
    partition directory directly (instead of a table-level dynamic
    partition overwrite) means an EMPTY batch still materializes a
    readable 0-row partition -- a dynamic overwrite of an empty frame
    writes nothing, leaving either a stale previous attempt in place
    or (for a table whose every write was empty) an unreadable
    directory with no schema. Partition discovery surfaces ``_run_id``
    as a string column on read, exactly as partitionBy would.
    """
    part = os.path.join(table_path, f"_run_id={run_id}")
    drop = [c for c in df.columns if c == "_run_id"]
    df.drop(*drop).write.mode("overwrite").parquet(part)
    return part


@dataclass
class RunStatus:
    """One completion-status record (the CloudWatch signal, S8)."""
    run_id: str
    feed: str
    rows_read: int
    rows_loaded: int
    rows_rejected: int
    rows_quarantined: int
    started_at: float
    finished_at: float
    status: str = "SUCCEEDED"


def new_run_id() -> str:
    """Time-prefixed run id: a 20-digit zero-padded nanosecond epoch
    plus a uuid suffix, so lexicographic order IS chronological order.
    Retention (`expire_runs`) and humans listing partitions both rely
    on sortable ids; a bare uuid4 would sort arbitrarily."""
    return f"{time.time_ns():020d}-{uuid.uuid4().hex[:8]}"


def write_status(spark: SparkSession, warehouse_dir: str,
                 status: RunStatus) -> None:
    df = local_frame(
        spark, [(
            status.run_id, status.feed, status.rows_read, status.rows_loaded,
            status.rows_rejected, status.rows_quarantined,
            float(status.started_at), float(status.finished_at),
            round(status.finished_at - status.started_at, 3), status.status,
        )],
        "run_id string, feed string, rows_read long, rows_loaded long, "
        "rows_rejected long, rows_quarantined long, started_at double, "
        "finished_at double, duration_s double, status string",
    )
    # Idempotent per run: the status row lives in its own run_id
    # partition directory and a retry of the same run REPLACES it
    # instead of appending a duplicate record -- the _runs table stays
    # one-row-per-run under foreachBatch epoch replay and same-run_id
    # batch reruns. run_id comes back as the partition column on read
    # (same string type).
    (df.drop("run_id").coalesce(1).write.mode("overwrite")
     .parquet(os.path.join(warehouse_dir, "_runs",
                           f"run_id={status.run_id}")))


def read_status(spark: SparkSession, warehouse_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(warehouse_dir, "_runs"))


def _dir_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(total bytes, data file count) for a table directory, via the
    Hadoop FileSystem API (works for any supported scheme, not just
    local paths)."""
    fs, p = hadoop_fs(spark, path)
    total, files = 0, 0
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith(("_", ".")):
            continue
        total += st.getLen()
        files += 1
    return total, files


def swap_into_place(fs, table, staged, aside, op: str) -> None:
    """Replace the directory ``table`` by the fully written ``staged``
    with two renames: ``table`` moves to ``aside`` (a stale ``aside``
    from an earlier crash is deleted first), ``staged`` moves in, and
    ``aside`` is deleted. If the second rename fails, ``table`` moves
    back from ``aside`` before the IOError. ``fs`` and the paths come
    from `objectstore.hadoop_fs`; ``op`` prefixes the error messages.

    NOT atomic: between the renames ``table`` does not exist, so the
    callers assume one writer and no concurrent readers. A crash
    between them leaves the data intact under ``aside``."""
    fs.delete(aside, True)
    if not fs.rename(table, aside):
        raise IOError(f"{op}: could not move {table} aside")
    if not fs.rename(staged, table):
        fs.rename(aside, table)  # roll back
        raise IOError(f"{op}: could not move {staged} into place")
    fs.delete(aside, True)


def compact_table(spark: SparkSession, warehouse_dir: str, table: str,
                  target_file_bytes: int = 128 * 1024 * 1024) -> dict:
    """Rewrite a warehouse table into right-sized files.

    Micro-batch appends (ingest_stream's per-run writes) accumulate
    small files; at scale every query then pays a per-file open +
    footer read, and tiny row groups defeat min/max skipping. This is
    the OPTIMIZE/compaction step: read the table, repartition to
    ceil(total_bytes / target) output files, rewrite via a two-rename
    swap (write to a side directory, move the table aside, move the
    replacement in).

    Concurrency contract: the swap is NOT atomic -- between the two
    renames the table path briefly does not exist, so this assumes a
    single writer and no concurrent readers (run compaction in the
    maintenance window, as a real OPTIMIZE job does). A crash between
    the renames leaves the data intact under ``<path>__precompact``;
    re-running compaction recovers. For concurrent readers / always-on
    tables use the versioned layout instead: `sinks.versioned
    .VersionedTable.compact` publishes an immutable snapshot and never
    makes the table path disappear.

    Parquet compression makes bytes-in a slight overestimate of
    bytes-out, which errs toward files under target -- the safe side.
    Returns stats {files_before, files_after, bytes}.
    """
    import math

    path = os.path.join(warehouse_dir, table)
    total, before = _dir_stats(spark, path)
    n_files = max(1, math.ceil(total / target_file_bytes))

    spark.read.parquet(path).repartition(n_files).write.mode(
        "overwrite"
    ).parquet(path + "__compacting")
    fs, hp = hadoop_fs(spark, path)
    swap_into_place(fs, hp, hp.suffix("__compacting"),
                    hp.suffix("__precompact"), "compact_table")

    _, after = _dir_stats(spark, path)
    return {"files_before": before, "files_after": after, "bytes": total}


def merge_upsert(spark: SparkSession, warehouse_dir: str, table: str,
                 updates: DataFrame, keys: list[str],
                 order_col: str) -> dict:
    """Upsert ``updates`` into a warehouse parquet table by key,
    keeping the row with the greatest ``order_col`` per key (ties break
    toward the update). The batch MERGE for re-delivered partner files
    (diagram :88-98's PostgreSQL round-trip generalized): existing rows
    union the updates, a keep-latest window picks survivors, and the
    table is swapped via the same two-rename protocol as compact_table
    (same contract: single writer, no concurrent readers during the
    swap; crash recovery from ``<path>__premerge``).

    Idempotent: re-running the same updates batch is a no-op. At scale
    the rewrite cost is bounded by co-partitioning: the window shuffle
    partitions by key exactly once, and only the union of (table +
    batch) is rewritten -- the strategy a format with transaction-log
    MERGE (e.g. a lakehouse table format) optimizes further by
    rewriting only matched files; at the plain-parquet layer the full
    rewrite IS the correct baseline.

    Returns {rows_before, rows_updated, rows_after} -- all three ride
    along on the single rewrite action via ``observe()`` (A8 policy:
    metrics never cost an extra scan).
    """
    path = os.path.join(warehouse_dir, table)
    survivors, stats = keep_latest_merge(
        spark.read.parquet(path), updates, keys, order_col
    )
    survivors.write.mode("overwrite").parquet(path + "__merging")
    fs, hp = hadoop_fs(spark, path)
    swap_into_place(fs, hp, hp.suffix("__merging"), hp.suffix("__premerge"),
                    "merge_upsert")
    return stats()


def keep_latest_merge(existing: DataFrame, updates: DataFrame,
                      keys: list[str], order_col: str):
    """The keep-latest MERGE core of `merge_upsert` and
    `sinks.versioned.VersionedTable.merge`: ``existing`` union
    ``updates``, one survivor per key with the greatest ``order_col``,
    ties broken toward the update. Returns ``(survivors, stats)``: the
    caller writes ``survivors`` once, then ``stats()`` gives
    {rows_before, rows_updated, rows_after}, observed on that write
    (A8 policy: metrics never cost an extra scan)."""
    from pyspark.sql import Observation

    # __src: updates (1) beat existing (0) at equal order_col values.
    in_obs = Observation("merge_inputs")
    merged = (
        existing.withColumn("__src", F.lit(0))
        .unionByName(updates.withColumn("__src", F.lit(1)))
        .observe(
            in_obs,
            F.sum(F.when(F.col("__src") == 0, 1).otherwise(0))
            .alias("rows_before"),
            F.sum(F.when(F.col("__src") == 1, 1).otherwise(0))
            .alias("rows_updated"),
        )
    )
    out_obs = Observation("merge_output")
    survivors = (
        dedup_exact(merged, keys,
                    [F.col(order_col).desc(), F.col("__src").desc()])
        .drop("__src")
        .observe(out_obs, F.count(F.lit(1)).alias("rows_after"))
    )

    def stats() -> dict:
        inputs = in_obs.get
        return {
            "rows_before": int(inputs["rows_before"] or 0),
            "rows_updated": int(inputs["rows_updated"] or 0),
            "rows_after": int(out_obs.get["rows_after"]),
        }

    return survivors, stats


def expire_runs(spark: SparkSession, warehouse_dir: str, table: str,
                keep_last: int, partition_col: str = "_run_id",
                order: str = "name") -> dict:
    """Retention for run-partitioned tables: drop all but the newest
    ``keep_last`` partitions.

    ``order`` picks how "newest" is decided:

    - ``"name"`` (default): lexicographic partition value. Both id
      producers in this engine sort chronologically (``new_run_id``
      is nanosecond-time-prefixed; ``ingest_stream`` zero-pads the
      epoch id), and name order is STABLE under idempotent re-runs --
      re-ingesting an old drop rewrites that run's partition without
      promoting it to "newest", so retention never deletes genuinely
      newer runs around it.
    - ``"mtime"``: directory modification time (name as tie-break),
      for tables partitioned by ids that don't sort chronologically.
      Caveat: an idempotent RE-RUN of an old run refreshes its mtime
      and makes it look newest -- don't combine mtime ordering with
      replayable feeds.

    Partition deletion is a directory remove per expired run -- no
    rewrite of surviving data, which is the point of partitioning the
    table by run in the first place (S6's layout). Returns
    {kept, dropped}.
    """
    if order not in ("name", "mtime"):
        raise ValueError(f"order must be 'name' or 'mtime', got {order!r}")
    fs, root = hadoop_fs(spark, os.path.join(warehouse_dir, table))
    prefix = f"{partition_col}="
    parts = {
        st.getPath().getName(): st
        for st in fs.listStatus(root)
        if st.isDirectory() and st.getPath().getName().startswith(prefix)
    }
    names = sorted(parts, key=lambda n: (
        n if order == "name" else (parts[n].getModificationTime(), n)
    ))
    to_drop = names[:-keep_last] if keep_last > 0 else names
    for name in to_drop:
        fs.delete(parts[name].getPath(), True)
    return {"kept": len(names) - len(to_drop), "dropped": len(to_drop)}


def zorder_write(df: DataFrame, warehouse_dir: str, table: str,
                 zcols: list[str], n_files: int,
                 bits: int = 8) -> str:
    """Write a table clustered on the Morton (Z-order) interleaving of
    ``zcols`` -- multi-dimensional data skipping for plain parquet.

    A single-column sort gives tight parquet min/max ranges on that
    column only; interleaving the bits of several columns' quantile
    ranks makes EVERY z-column's per-file range narrow, so selective
    filters on any of them (or boxes over several) skip most files /
    row groups. This is the layout step a lakehouse OPTIMIZE ZORDER
    runs.

    Scale-aware quantization: per-column bucket boundaries come from
    ``approxQuantile`` (one pass, mergeable sketch, tiny driver-side
    array) and rows rank themselves against the literal boundary array
    JVM-side -- no global-order window (which would funnel the table
    through one partition). ``bits`` = 8 gives 256 buckets per
    dimension, plenty of resolution for file-level skipping. The only
    shuffle is the final range partition on the z-code; the rewrite
    runs at OPTIMIZE cadence, amortized over every later scan.
    """
    n_buckets = 1 << bits
    work = df
    rank_cols = []
    probs = [i / n_buckets for i in range(1, n_buckets)]
    # ONE sketch job covers every z-column (approxQuantile takes a
    # column list); a per-column call would re-scan the full input
    # len(zcols) times before the rewrite even starts.
    all_bounds = dict(zip(zcols, df.approxQuantile(list(zcols), probs, 0.001)))
    for c in zcols:
        barr = F.array(*[F.lit(float(b)) for b in all_bounds[c]])
        rc = f"__r_{c}"
        # rank = number of boundaries <= value: a 255-element JVM-side
        # scan per row, skew-proof because boundaries are quantiles.
        work = work.withColumn(
            rc,
            F.size(F.filter(barr, lambda b: b <= F.col(c).cast("double")))
            .cast("long"),
        )
        rank_cols.append(rc)

    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, rc in enumerate(rank_cols):
            bit = F.shiftright(F.col(rc), b).bitwiseAND(F.lit(1))
            z = z + (bit * F.lit(1 << (b * len(rank_cols) + i))).cast("long")
    work = work.withColumn("__z", z)

    path = os.path.join(warehouse_dir, table)
    (
        work.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop(*rank_cols, "__z")
        .write.mode("overwrite").parquet(path)
    )
    return path
