"""Deterministic (hash-based) sampling for training-data pipelines.

`df.sample()` draws per-partition pseudo-randomly: the kept set changes
with partitioning, retries, and cluster size -- unacceptable when a
100 TB corpus is sampled repeatedly (every rerun trains on different
rows) or when two tables must be sampled CONSISTENTLY (the same users'
documents and embeddings). The standard fix is hash sampling: keep a
row iff ``hash(key) mod M < fraction * M``. Properties:

- deterministic: same keys in => same rows out, on any cluster shape;
- consistent across tables: sampling two tables on the same key keeps
  aligned subsets (joins between samples lose nothing);
- disjoint variants via ``salt``: salt 0's 1% sample and salt 1's 1%
  sample are independent draws (different hash functions);
- scan-local: a narrow projection + filter, no shuffle, fully
  pushdown-friendly.

Uses xxhash64 (JVM-side, whole-stage codegen) so the filter runs at
scan speed. Engine-specific hash => rows-only driver check; the
statistical and consistency properties are pytest-asserted instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame

_M = 1_000_000


def _bucket(cols: list[str], salt: int) -> Column:
    return F.pmod(F.xxhash64(F.lit(salt), *[F.col(c) for c in cols]), F.lit(_M))


def hash_sample(df: DataFrame, key_cols: list[str], fraction: float,
                salt: int = 0) -> DataFrame:
    """Keep a deterministic ~``fraction`` of rows, keyed by ``key_cols``.

    Rows with equal keys are kept or dropped together (sampling by
    user_id keeps every row of a kept user).
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return df.filter(_bucket(key_cols, salt) < int(fraction * _M))


def stratified_hash_sample(df: DataFrame, strata_col: str,
                           fractions: dict[str, float],
                           key_cols: list[str],
                           default_fraction: float = 0.0,
                           salt: int = 0) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample dominant
    languages, keep all of the rare ones). Strata missing from
    ``fractions`` fall back to ``default_fraction``."""
    for s, f in fractions.items():
        if not 0.0 <= f <= 1.0:
            raise ValueError(f"fraction for stratum {s!r} must be in [0, 1]")
    cut = F.lit(int(default_fraction * _M))
    for s, f in sorted(fractions.items()):
        cut = F.when(F.col(strata_col) == s, F.lit(int(f * _M))).otherwise(cut)
    return df.filter(_bucket(key_cols, salt) < cut)


def systematic_weighted_sample(df: DataFrame, weight_col: str,
                               order_col: str, k: int) -> DataFrame:
    """Weighted sampling without randomness: systematic (fixed-stride)
    selection over the cumulative-weight axis. A row is kept iff the
    interval it owns on that axis, ``(cum - w, cum]``, contains a
    multiple of ``stride = max(1, total_weight // k)`` -- so inclusion
    probability is proportional to weight (capped at 1: a row heavier
    than the stride is included with certainty, once -- sampling
    without replacement), and INTEGER weights make the whole
    computation exact (no float rank to drift between engines or
    reruns). Row count is ~k when weights are small relative to the
    stride; it is FEWER when heavy rows absorb multiple selection
    points, and approaches the full row count when total_weight < 2k
    (stride floors at 1 -- every unit-weight row then owns a point).

    Scale design -- DISTRIBUTED prefix sum, the way parallel prefix
    sums are done (two passes over range partitions):

    1. range-partition by ``order_col`` and pin the layout
       (localCheckpoint), so both passes see identical partitions;
    2. per-partition weight totals -> driver (one long per partition,
       ~thousands of values at any corpus size) -> exclusive prefix
       gives each partition's starting offset;
    3. partition-LOCAL running sum (window partitioned by the range
       partition id) + broadcast offset = the exact global cumulative
       weight, with no single-task global window anywhere.

    The A-Res/A-ExpJ reservoir family is the one-pass streaming
    alternative, but its u^(1/w) keys are libm-dependent floats --
    reproducibility across engines is why the systematic form is the
    default here.

    ``order_col`` MUST be a unique key: with ties, range-partition
    boundaries and the running sum's row attribution inside a tie
    group are partition-order-dependent and the sample stops being
    reproducible.

    Weights are taken as INTEGERS (cast to long): the exact `div`
    arithmetic that makes the sample engine-reproducible needs
    integral cumulative weights. Fractional weight columns (double /
    decimal) should be pre-scaled (e.g. x1000 and rounded) by the
    caller; the cast here truncates.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    # Pin the range layout: boundaries come from a sample pass, and the
    # totals action + final action must agree on who owns which rows.
    parted = (
        df.repartitionByRange(n_parts, order_col)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    wlong = F.col(weight_col).cast("long")
    part_totals = {
        r["__pid"]: r["t"]
        for r in parted.groupBy("__pid")
        .agg(F.sum(wlong).alias("t"))
        .collect()
    }
    if not part_totals:  # empty input -> empty sample, same schema
        return df
    offsets, acc = [], 0
    for pid in range(max(part_totals) + 1):
        offsets.append((pid, acc))
        acc += int(part_totals.get(pid, 0) or 0)
    total = acc
    off = local_frame(
        df.sparkSession, offsets, "__pid int, __off long"
    )
    w = Window.partitionBy("__pid").orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = (
        parted.join(F.broadcast(off), "__pid")
        .withColumn("__cum", F.sum(wlong).over(w) + F.col("__off"))
    )
    stride = max(1, int(total) // k)
    # Selection points are stride, 2*stride, ...; the half-open weight
    # interval (cum - w, cum] contains one iff the integer quotient
    # advances. All-longs `div` keeps this exact at any scale.
    keep = F.expr(
        f"(__cum div {stride}) > "
        f"((__cum - cast({weight_col} as bigint)) div {stride})"
    )
    return cum.filter(keep).drop("__cum", "__pid", "__off")


def hamilton_quota(strata: DataFrame, k: int, n_col: str = "n_docs",
                   key_cols: tuple[str, ...] = ("lang", "source"),
                   ) -> DataFrame:
    """Hamilton (largest-remainder) apportionment of ``k`` slots across
    the ``strata`` rows, proportional to ``n_col``, in exact integer
    arithmetic: quota = floor(k*n/N) plus one extra for the strata with
    the largest remainders (ties broken by ``key_cols``), so the quotas
    always sum to exactly ``k``. Returns key_cols + n_col + floor_q +
    rem + quota. THE single Spark-side source of the apportionment
    algebra -- `agg_largest_remainder_quota` (the published quota
    table) and `sample_quota_apply` (the applied draw) both route
    through here so the remainder ranking cannot drift between them;
    their oracles stay self-contained SQL twins of the same algebra.

    Scale: the whole computation runs on the strata SUMMARY (one row
    per stratum -- bounded by the label-combination universe, not the
    corpus), so the two single-partition windows are over that bounded
    table only.
    """
    keys = list(key_cols)
    tot = strata.agg(F.sum(n_col).cast("long").alias("__n"))
    # integer `div`, NOT double `/`: past ~2^53 the double quotient
    # can round across an integer, splitting floor_q from the exact
    # `%` remainder so quotas stop summing to k (ADVICE r4)
    base = strata.crossJoin(F.broadcast(tot)).select(
        *keys, n_col,
        F.expr(f"(cast({k} as bigint) * cast({n_col} as bigint))"
               f" div __n").cast("long").alias("floor_q"),
        ((F.lit(k) * F.col(n_col)) % F.col("__n"))
        .cast("long").alias("rem"),
    )
    ranked = base.select(
        "*",
        F.row_number().over(
            Window.orderBy(F.col("rem").desc(), *keys)).alias("__rk"),
        (F.lit(k) - F.sum("floor_q").over(
            Window.partitionBy(F.lit(1)))).cast("long").alias("__left"),
    )
    return ranked.select(
        *keys, n_col, "floor_q", "rem",
        (F.col("floor_q")
         + F.when(F.col("__rk") <= F.col("__left"), 1).otherwise(0))
        .cast("long").alias("quota"),
    )
