"""SparkSession construction tuned for this engine.

Defaults follow the 100 TB design brief: AQE on (runtime shuffle
coalescing, skew-join splitting, dynamic broadcast), Arrow for any
pandas exchange, UTC session timezone so timestamp semantics match the
DuckDB oracle, and shuffle partitions sized to cores in local mode
(on a real cluster you'd size to ~2-3x total executor cores, or leave
AQE's coalescing to shrink the default).

The module is also the one home of what a step does to the session:
materializing an intermediate (`checkpoint`), caching one for a block
(`cached`), pinning a conf for a block (`scoped_conf`) and building a
frame from driver-known rows (`local_frame`).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Iterable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: Configs applied to every session this engine builds. Each one is a
#: conscious scale decision, not a magic number:
#:  - adaptive.*: re-plan at runtime from real shuffle stats -- at 100 TB
#:    static planning always mis-sizes something.
#:  - autoBroadcastJoinThreshold stays default (10 MB); dims like
#:    region/nation/supplier broadcast automatically, and AQE upgrades
#:    sort-merge to broadcast when runtime stats allow.
#:  - arrow enabled: any pandas_udf / applyInPandas path is Arrow-batched.
#:  - session timezone UTC: deterministic timestamp<->string semantics.
ENGINE_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # parallelismFirst stays at its default (true): size-only
    # coalescing (false) was measured ~5% faster on the sub-second
    # tail but squeezed BYTE-LIGHT, COMPUTE-HEAVY reduce stages
    # (per-character gram explodes, percentile sketches) into 1-2
    # tasks and regressed them 2x -- shuffle BYTES are the wrong
    # proxy for those stages' work, at any scale
    # (OPTIMIZATION_r11.md §tail).
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let the planner pick shuffled-hash over sort-merge when one side
    # is provably much smaller than the other and fits a per-partition
    # hash map (guide §3.1/§9): skips both sorts. Giant-vs-giant joins
    # keep sort-merge (the size conditions fail), so the spill-safe
    # path still covers the cases that need it.
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.shuffle.partitions": str(os.cpu_count() or 8),
    # Parquet scans: keep splits near the default 128 MB so a 100 TB
    # table yields ~800k well-sized tasks rather than millions of tiny
    # ones; local fixtures are single files so this is inert locally.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # The events fixture stores ts as parquet TIMESTAMP(NANOS), which
    # Spark rejects outright; read it as raw nanos and let the catalog
    # rebuild a (microsecond) timestamp column.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

#: ENGINE_CONFS keys `tune_session` leaves alone: partition sizing is
#: the session builder's call (a harness sizes shuffle partitions to
#: its own cores), and no oracle-checked semantic depends on it.
_SIZING_CONFS = frozenset({
    "spark.sql.shuffle.partitions",
    "spark.sql.files.maxPartitionBytes",
})

_DESCRIPTION = "spark.job.description"


def get_spark(app_name: str = "dataingestionengineprocess-spark",
              master: str | None = None,
              extra_confs: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults."""
    builder = SparkSession.builder.appName(app_name)
    env_master = os.environ.get("SPARK_MASTER")
    if master:
        builder = builder.master(master)
    elif env_master:
        # honor the env var's VALUE (e.g. spark://host:7077), not just
        # its presence -- treating it as a flag would leave the builder
        # with no master at all
        builder = builder.master(env_master)
    else:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        builder = builder.master(f"local[{cpus}]")
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's *runtime-settable* confs to an existing session.

    The driver harness may hand us a session it built itself; every
    query entrypoint calls this so oracle-sensitive semantics (UTC
    timezone, AQE, Arrow) hold regardless of who built the session.
    Sizing confs (``_SIZING_CONFS``) are left to the session's builder.
    """
    for key, value in ENGINE_CONFS.items():
        if key not in _SIZING_CONFS:
            spark.conf.set(key, value)
    return spark


def release_persistent_rdds(spark: SparkSession) -> None:
    """Unpersist every persistent RDD in the context -- the
    localCheckpoint blocks a query leaves behind. Multi-query sweep
    tools (bench.py, tools/driver_replica.py) call this between
    queries so each query's memory profile is its own, not the sum of
    all before it: ~300 queries of accumulated MEMORY_AND_DISK blocks
    pin a default-1g heap until task execution memory starves
    (BASELINE.md round-9 robustness note). Single-query use never
    needs it -- blocks die with the session."""
    jmap = spark.sparkContext._jsc.sc().getPersistentRDDs()
    it = jmap.values().iterator()
    while it.hasNext():
        it.next().unpersist(False)


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """A local checkpoint of ``df``, eager or lazy, with every job it
    submits described by its call site, for example
    ``operators.graph.pagerank:167``.

    This is the package's one ``localCheckpoint`` call, so every step
    that materializes an intermediate names itself in the status store
    (and in any job group the caller opened). A lazy checkpoint is
    covered too: under AQE, building one runs the plan's non-final
    stages. The caller's own description comes back on return.
    """
    caller = sys._getframe(1)
    module = caller.f_globals["__name__"].removeprefix(__package__ + ".")
    sc = df.sparkSession.sparkContext
    previous = sc.getLocalProperty(_DESCRIPTION)
    sc.setJobDescription(
        f"{module}.{caller.f_code.co_name}:{caller.f_lineno}")
    try:
        return df.localCheckpoint(eager=eager)
    finally:
        sc.setLocalProperty(_DESCRIPTION, previous)


@contextmanager
def cached(df: DataFrame) -> Iterator[DataFrame]:
    """``df`` persisted for the block, released on every exit, raised
    exceptions included: the package's one ``persist``. A frame built
    from ``df`` before the block still reads the cache, since Spark
    looks cached plans up when a query runs, not when it is built."""
    df.persist()
    try:
        yield df
    finally:
        df.unpersist()


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str) -> Iterator[None]:
    """``key`` set to ``value`` for the block; on exit the previous
    value comes back, or the key is unset when it had none."""
    previous = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if previous is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, previous)


def local_frame(spark: SparkSession, rows: Iterable[tuple],
                schema: str | T.StructType) -> DataFrame:
    """A small DataFrame of driver-known rows, built JVM-side.

    ``spark.createDataFrame(<python list>, ddl)`` parallelizes the list
    into ``defaultParallelism`` slices behind a PythonRDD, so every
    action over it starts Python workers: about 1 s of mostly idle
    wall on a 4-core host for a 1-row control-plane write (the `_runs`
    status row, the file ledger append). Here the rows go column-wise
    into an Arrow table the JVM reads as a local relation (a
    ``LocalTableScan``): no Python worker and no extra job, whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says.

    ``schema`` (a DDL string or a StructType) is the result's schema
    exactly -- names, types, nullability. Rows are tuples in schema
    order; None is null.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    width = len(arrow_schema)
    if any(len(r) != width for r in rows):
        raise ValueError(f"local_frame: every row needs {width} fields")
    cols = list(zip(*rows)) if rows else [()] * width
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
