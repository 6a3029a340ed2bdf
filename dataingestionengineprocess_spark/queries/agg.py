"""Aggregation surface (``agg_``): grouped, multi-level and sketch aggregates.

SURVEY.md §2.4 (A1-A7): grouping sets, rollup and cube, exact and
approximate distinct counts, percentiles, mode, regression and
inequality statistics, and mergeable HLL / count-min sketches. Float
aggregates are rounded in both engines (or summed as exact integer
cents) because double summation order differs across partitions and
engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, SparkSession, Window

from ..catalog import load
from ..functions.exact import snap6 as _snap6
from ..session import local_frame
from . import register


_MODE_ORACLE = """
SELECT l_returnflag, mode_qty, mode_count
FROM (
  SELECT l_returnflag, l_quantity AS mode_qty,
         CAST(count(*) AS BIGINT) AS mode_count,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY count(*) DESC, l_quantity ASC) AS rn
  FROM lineitem
  GROUP BY l_returnflag, l_quantity
) WHERE rn = 1
"""


@register("agg_mode_deterministic", oracle=_MODE_ORACLE)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count("*").alias("mode_count")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("mode_count").desc(), F.col("l_quantity").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("l_quantity").alias("mode_qty"),
            "mode_count",
        )
    )


_REGR_ORACLE = """
SELECT l_returnflag,
       round(regr_slope(l_extendedprice, l_quantity), 6)     AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
       round(regr_r2(l_extendedprice, l_quantity), 6)        AS r2,
       round(corr(l_extendedprice, l_quantity), 6)           AS pearson_r,
       CAST(count(*) AS BIGINT)                              AS n
FROM lineitem
GROUP BY l_returnflag
"""


@register("agg_regression_stats", oracle=_REGR_ORACLE)
def agg_regression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
        F.round(F.corr(y, x), 6).alias("pearson_r"),
        F.count("*").alias("n"),
    )


_ARGMAX_ORACLE = """
SELECT c_nationkey,
       (max(struct_pack(v := c_acctbal, k := c_custkey))).v AS top_acctbal,
       CAST((max(struct_pack(v := c_acctbal, k := c_custkey))).k AS BIGINT)
         AS top_custkey
FROM customer
GROUP BY c_nationkey
"""


@register("agg_argmax_struct", oracle=_ARGMAX_ORACLE)
def agg_argmax_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    top = F.max(
        F.struct(F.col("c_acctbal").alias("v"), F.col("c_custkey").alias("k"))
    )
    return c.groupBy("c_nationkey").agg(
        top.getField("v").alias("top_acctbal"),
        top.getField("k").alias("top_custkey"),
    )


_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


_CORR_ORACLE = " UNION ALL ".join(
    f"""SELECT '{a}' AS col_a, '{b}' AS col_b,
        floor(corr({a}, {b}) * 1000000 + 0.5) / 1000000 AS pearson_r
        FROM lineitem"""
    for i, a in enumerate(_CORR_COLS)
    for b in _CORR_COLS[i + 1:]
)


@register("agg_corr_matrix", oracle=_CORR_ORACLE)
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    pairs = [
        (a, b)
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1:]
    ]
    # floor-based rounding (FIXTURES.md): corr values are arbitrary
    # doubles, where repr-based round() can split from DuckDB's
    # binary round on .xxxxxx5 boundaries.
    wide = li.agg(*[
        (F.floor(F.corr(a, b) * 1000000 + 0.5) / 1000000)
        .alias(f"{a}__{b}") for a, b in pairs
    ])
    stack = ", ".join(
        f"'{a}', '{b}', {a}__{b}" for a, b in pairs
    )
    return wide.selectExpr(
        f"stack({len(pairs)}, {stack}) AS (col_a, col_b, pearson_r)"
    )


_GROUPING_ID_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
         AS gid,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) / 100e0
         AS sum_qty
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


@register("agg_rollup_grouping_id", oracle=_GROUPING_ID_ORACLE)
def agg_rollup_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    gid = (
        F.grouping("l_returnflag").cast("long") * 2
        + F.grouping("l_linestatus").cast("long")
    )
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            gid.alias("gid"),
            (
                F.sum(F.round(F.col("l_quantity") * 100).cast("long")) / 100.0
            ).alias("sum_qty"),
        )
    )


_BITMAP_ORACLE = """
SELECT l_returnflag, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS distinct_orders
FROM lineitem GROUP BY l_returnflag
"""


@register("agg_bitmap_exact_distinct", oracle=_BITMAP_ORACLE)
def agg_bitmap_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    per_bucket = li.groupBy(
        "l_returnflag",
        F.bitmap_bucket_number("l_orderkey").alias("bucket"),
    ).agg(
        F.bitmap_count(
            F.bitmap_construct_agg(F.bitmap_bit_position("l_orderkey"))
        ).alias("cnt")
    )
    return per_bucket.groupBy("l_returnflag").agg(
        F.sum("cnt").alias("distinct_orders")
    )


_HLL_ORACLE = """
SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_distinct,
       TRUE AS within_bound
FROM lineitem GROUP BY l_returnflag
UNION ALL
SELECT 'ALL' AS l_returnflag, count(DISTINCT l_orderkey) AS exact_distinct,
       TRUE AS within_bound
FROM lineitem
ORDER BY l_returnflag
"""


@register("agg_hll_mergeable", oracle=_HLL_ORACLE)
def agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    per_flag = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_orderkey").alias("sk"),
        F.countDistinct("l_orderkey").alias("exact_distinct"),
    )
    global_exact = li.agg(
        F.countDistinct("l_orderkey").alias("exact_distinct")
    )
    merged = per_flag.agg(
        F.lit("ALL").alias("l_returnflag"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("estimate"),
    ).crossJoin(F.broadcast(global_exact))
    bound = (
        F.abs(F.col("estimate") - F.col("exact_distinct"))
        <= F.lit(0.05) * F.col("exact_distinct")
    ).alias("within_bound")
    return (
        per_flag.select(
            "l_returnflag",
            F.hll_sketch_estimate("sk").alias("estimate"),
            "exact_distinct",
        )
        .unionByName(merged.select("l_returnflag", "estimate",
                                   "exact_distinct"))
        .select("l_returnflag", "exact_distinct", bound)
        .orderBy("l_returnflag")
    )


_CMS_PROBES = [1, 2, 3, 5, 8, 13, 21]


_CMS_ORACLE = f"""
WITH probes AS (
  SELECT unnest({_CMS_PROBES}) AS l_suppkey
),
exact AS (
  SELECT p.l_suppkey, CAST(count(li.l_suppkey) AS BIGINT) AS exact_count
  FROM probes p LEFT JOIN lineitem li ON li.l_suppkey = p.l_suppkey
  GROUP BY p.l_suppkey
)
SELECT l_suppkey, exact_count,
       TRUE AS never_undercount, TRUE AS within_eps
FROM exact ORDER BY l_suppkey
"""


@register("agg_cms_supplier_freq", oracle=_CMS_ORACLE)
def agg_cms_supplier_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch point frequencies for a fixed supplier probe
    set over lineitem (operators/cms.py) -- the mergeable
    point-frequency sketch next to HLL (distinct) and Misra-Gries
    (heavy hitters). BOUNDED-ERROR oracle (the A3 pattern): the raw
    estimates are sketch-internal, so the query emits the CMS
    guarantees as booleans -- never-undercount (est >= exact, holds
    with certainty) and overshoot <= eps*N (holds with the configured
    99% confidence; the seeded sketch is deterministic for a given
    fixture, so the pass/fail is a fixed fact per sf, verified at
    sf 0.001/0.01/0.1). The oracle recomputes exact probe counts and
    asserts both booleans TRUE."""
    from ..operators.cms import cms_point_estimates

    from ..operators.cms import cms_estimate

    eps = 0.0001
    li = load(spark, sf_dir, "lineitem")
    # ONE global aggregate carries everything the certificate needs:
    # the CMS sketch, the total row count (for eps*N), and one exact
    # conditional count per probe -- a single lineitem scan with no
    # groupBy shuffle (global agg partials merge map-side), instead of
    # separate sketch-build + probe-count + count() passes.
    row = li.agg(
        F.expr(
            f"count_min_sketch(l_suppkey, {eps}d, 0.99d, 42)"
        ).alias("sk"),
        F.count("*").alias("n_total"),
        *[
            F.sum(F.when(F.col("l_suppkey") == p, 1).otherwise(0))
            .alias(f"c{p}")
            for p in _CMS_PROBES
        ],
    ).collect()[0]
    ests = cms_estimate(spark, bytes(row["sk"]), _CMS_PROBES)
    n_total = int(row["n_total"])
    return local_frame(
        spark,
        [
            (
                p,
                int(row[f"c{p}"]),
                e >= row[f"c{p}"],
                e <= row[f"c{p}"] + eps * n_total,
            )
            for p, e in zip(_CMS_PROBES, ests)
        ],
        "l_suppkey long, exact_count long, "
        "never_undercount boolean, within_eps boolean",
    ).orderBy("l_suppkey")


_AGG_ORACLE = """
SELECT o_orderpriority,
       count(*)                                   AS n_orders,
       count(DISTINCT o_custkey)                  AS n_customers,
       round(sum(o_totalprice), 2)                AS sum_price,
       round(avg(o_totalprice), 4)                AS avg_price,
       round(min(o_totalprice), 2)                AS min_price,
       round(max(o_totalprice), 2)                AS max_price,
       round(stddev_samp(o_totalprice), 3)        AS sd_price
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("agg_battery", oracle=_AGG_ORACLE)
def agg_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
            F.round(F.stddev_samp("o_totalprice"), 3).alias("sd_price"),
        )
        .orderBy("o_orderpriority")
    )


_STATS_ORACLE = """
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 6)     AS corr_qty_price,
       round(var_samp(l_discount), 6)                  AS var_disc,
       round(stddev_samp(l_quantity), 4)               AS sd_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_statistics", oracle=_STATS_ORACLE)
def agg_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
            F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
            F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        )
        .orderBy("l_returnflag")
    )


_ROLLUP_ORACLE = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       grouping(l_returnflag) AS g_flag,
       grouping(l_linestatus) AS g_status,
       count(*) AS n,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@register("agg_rollup", oracle=_ROLLUP_ORACLE)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("long").alias("g_flag"),
            F.grouping("l_linestatus").cast("long").alias("g_status"),
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "g_flag", "g_status", "n", "sum_qty",
        )
    )


_CUBE_ORACLE = """
SELECT coalesce(o_orderstatus, 'ALL')  AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n,
       round(sum(o_totalprice), 2) AS sum_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@register("agg_cube", oracle=_CUBE_ORACLE)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("sum_price"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n", "sum_price",
        )
    )


_COLLECT_ORACLE = """
SELECT n.n_name,
       array_to_string(list_sort(list(DISTINCT c.c_mktsegment)), ',') AS segments
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


@register("agg_collect_set", oracle=_COLLECT_ORACLE)
def agg_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(F.array_join(F.array_sort(F.collect_set("c_mktsegment")), ",").alias("segments"))
    )


_APPROX_DISTINCT_ORACLE = """
SELECT l_returnflag,
       count(DISTINCT l_orderkey) AS exact_orders,
       count(DISTINCT l_partkey)  AS exact_parts,
       TRUE AS orders_within_bound,
       TRUE AS parts_within_bound
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_approx_distinct", oracle=_APPROX_DISTINCT_ORACLE)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    rsd = 0.02
    li = load(spark, sf_dir, "lineitem")
    # The sketches and the exact counts run as SEPARATE aggregations:
    # mixing countDistinct with approx_count_distinct in one agg makes
    # Catalyst rewrite the distincts via Expand, and the partial
    # aggregate then builds the two ~4 KB HLL++ registers (rsd 0.02 ->
    # p=12) once per expanded (flag, orderkey)/(flag, partkey) group --
    # ~750k sketch buffers instead of 5 (r10 plan audit: ~6 s -> ~1 s).
    # Split apart, the sketch agg keeps plain partial/final aggregation
    # (5 groups x tasks), the exact agg keeps its Expand, and the
    # 5-row sketch side broadcast-joins back on l_returnflag. HLL++
    # registers merge via max, so the estimate is independent of
    # partitioning/aggregation grouping -- values are identical.
    approx = (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", rsd).alias("approx_orders"),
            F.approx_count_distinct("l_partkey", rsd).alias("approx_parts"),
        )
    )
    exact = (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("exact_orders"),
            F.countDistinct("l_partkey").alias("exact_parts"),
        )
    )
    agg = exact.join(F.broadcast(approx), "l_returnflag")

    def bound(approx: str, exact: str):
        return (
            F.abs(F.col(approx) - F.col(exact))
            <= F.lit(3 * rsd) * F.col(exact)
        )

    return agg.select(
        "l_returnflag", "exact_orders", "exact_parts",
        bound("approx_orders", "exact_orders").alias("orders_within_bound"),
        bound("approx_parts", "exact_parts").alias("parts_within_bound"),
    ).orderBy("l_returnflag")


_GSETS_ORACLE = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       round(sum(l_extendedprice), 2) AS revenue
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


@register("agg_grouping_sets", oracle=_GSETS_ORACLE)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gsets")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               round(sum(l_extendedprice), 2) AS revenue
        FROM lineitem_gsets
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), ())
        """
    )


_BIGORD_ORACLE = """
WITH big AS (
  SELECT l_orderkey, sum(l_quantity) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 180
)
SELECT c_name, o_orderkey, round(o_totalprice, 2) AS total_price,
       round(sum_qty, 2) AS sum_qty
FROM big
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
"""


@register("agg_having_big_orders", oracle=_BIGORD_ORACLE)
def agg_having_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    big = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__sq"))
        .filter(F.col("__sq") > 180)
    )
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name", "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
            F.round("__sq", 2).alias("sum_qty"),
        )
    )


_PCTL_ORACLE = """
SELECT o_orderpriority,
       count(*) AS n_orders,
       round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90_price,
       round(quantile_cont(o_totalprice, 0.99), 4) AS p99_price
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("agg_percentiles", oracle=_PCTL_ORACLE)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("median_price"),
            F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90_price"),
            F.round(F.percentile("o_totalprice", F.lit(0.99)), 4).alias("p99_price"),
        )
        .orderBy("o_orderpriority")
    )


_APPROX_PCTL_ORACLE = """
SELECT o_orderpriority,
       count(*) AS n_orders,
       round(quantile_cont(o_totalprice, 0.5), 4) AS median_exact,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90_exact,
       TRUE AS median_within_bound,
       TRUE AS p90_within_bound
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("agg_approx_percentiles", oracle=_APPROX_PCTL_ORACLE)
def agg_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.percentile_approx("o_totalprice", F.lit(0.5), F.lit(10000))
            .alias("median_approx"),
            F.percentile_approx("o_totalprice", F.lit(0.9), F.lit(10000))
            .alias("p90_approx"),
            *[
                F.percentile("o_totalprice", F.lit(q)).alias(f"__q{i}")
                for i, q in enumerate((0.49, 0.5, 0.51, 0.89, 0.9, 0.91))
            ],
        )
    )
    return agg.select(
        "o_orderpriority", "n_orders",
        F.round("__q1", 4).alias("median_exact"),
        F.round("__q4", 4).alias("p90_exact"),
        F.col("median_approx").between(F.col("__q0"), F.col("__q2"))
        .alias("median_within_bound"),
        F.col("p90_approx").between(F.col("__q3"), F.col("__q5"))
        .alias("p90_within_bound"),
    ).orderBy("o_orderpriority")


_STRAGG_ORACLE = """
SELECT n_regionkey,
       string_agg(n_name, ',' ORDER BY n_name) AS nations,
       count(*) AS n_nations
FROM nation
GROUP BY n_regionkey
ORDER BY n_regionkey
"""


@register("agg_string_concat", oracle=_STRAGG_ORACLE)
def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(
            F.array_join(F.sort_array(F.collect_list("n_name")), ",")
            .alias("nations"),
            F.count("*").alias("n_nations"),
        )
        .orderBy("n_regionkey")
    )


_BOOL_AGG_ORACLE = """
SELECT o_orderpriority,
       bool_and(o_totalprice > 1000)  AS all_above_1k,
       bool_or(o_totalprice > 400000) AS any_jumbo,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
         AS n_finished
FROM orders
GROUP BY o_orderpriority
"""


@register("agg_boolean", oracle=_BOOL_AGG_ORACLE)
def agg_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_above_1k"),
        F.bool_or(F.col("o_totalprice") > 400000).alias("any_jumbo"),
        F.count_if(F.col("o_orderstatus") == "F").alias("n_finished"),
    )


_WMED_ORACLE = """
WITH w AS (
  SELECT l_returnflag AS flag,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
         CAST(floor(l_quantity + 0.5) AS BIGINT) AS wt
  FROM lineitem
),
cum AS (
  SELECT flag, cents, wt,
         CAST(sum(wt) OVER (PARTITION BY flag ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cw,
         CAST(sum(wt) OVER (PARTITION BY flag) AS BIGINT) AS tw
  FROM w
)
SELECT flag,
       CAST(max(tw) AS BIGINT) AS total_weight,
       CAST(min(CASE WHEN cw * 2 >= tw THEN cents END) AS BIGINT)
         AS wmedian_cents,
       CAST(min(CASE WHEN cw * 10 >= tw * 9 THEN cents END) AS BIGINT)
         AS wp90_cents
FROM cum
GROUP BY flag
ORDER BY flag
"""


@register("agg_weighted_median", oracle=_WMED_ORACLE)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median and p90 of extended price per
    return flag via the cumulative-weight crossing rule."""
    from ..operators.ranking import distributed_prefix_sum

    li = load(spark, sf_dir, "lineitem")
    w = li.select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
        .alias("cents"),
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("wt"),
    )
    # tie-group collapse: exact (crossing test is tie-group invariant)
    # and shrinks the ranked stream to |distinct (flag, cents)|
    g = w.groupBy("flag", "cents").agg(
        F.sum("wt").cast("long").alias("w"))
    # global inclusive cumsum over the (flag, cents) total order --
    # flags sort contiguously, so per-flag cum = global cum - base
    cum = distributed_prefix_sum(g, ["flag", "cents"], "w", "gcum")
    # 3-row bounded state off the checkpointed frame, declaratively:
    # each flag's exclusive base is the value of (global cum - own
    # weight) at its FIRST row, i.e. min(gcum - w) per flag -- one
    # distributive aggregate, no driver collect, no Python sort
    # (same idiom as curation._sharded_prev_cum's per-source base)
    offs = cum.groupBy("flag").agg(
        F.sum("w").cast("long").alias("tw"),
        F.min(F.col("gcum") - F.col("w")).cast("long").alias("base"))
    cw = (F.col("gcum") - F.col("base")).cast("long")
    return (
        cum.join(F.broadcast(offs), "flag")
        .groupBy("flag")
        .agg(
            F.max("tw").cast("long").alias("total_weight"),
            F.min(F.when(cw * 2 >= F.col("tw"), F.col("cents")))
            .cast("long").alias("wmedian_cents"),
            F.min(F.when(cw * 10 >= F.col("tw") * 9, F.col("cents")))
            .cast("long").alias("wp90_cents"),
        )
        .orderBy("flag")
    )


_TRIMMED_ORACLE = """
WITH c AS (
  SELECT l_returnflag,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY floor(l_extendedprice * 100 + 0.5),
                                     l_orderkey, l_linenumber) AS rn,
         count(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem
)
SELECT l_returnflag,
       CAST(max(n) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_kept,
       floor(sum(cents) / 100.0 / count(*) * 1e6 + 0.5) / 1e6
         AS trimmed_mean_s
FROM c
WHERE rn > CAST(floor(n / 10) AS BIGINT)
  AND rn <= n - CAST(floor(n / 10) AS BIGINT)
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_trimmed_mean", oracle=_TRIMMED_ORACLE)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% rank-trimmed mean of extended price per return flag over
    exact integer cents with a deterministic tie-break."""
    from ..operators.ranking import grouped_rank

    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    rows = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", cents.alias("cents"),
        "l_orderkey", "l_linenumber")
    # l_returnflag: fixed TPC-H enum (A/N/R) -- skip the probe job.
    c = grouped_rank(
        rows, ["l_returnflag"], ["cents", "l_orderkey", "l_linenumber"],
        "rn", count_col="n",
        known_group_count=4).drop("l_orderkey", "l_linenumber")
    lo = F.floor(F.col("n") / 10).cast("long")
    return (
        c.where((F.col("rn") > lo) & (F.col("rn") <= F.col("n") - lo))
        .groupBy("l_returnflag")
        .agg(
            F.max("n").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            _snap6(F.sum("cents") / 100.0 / F.count(F.lit(1)))
            .alias("trimmed_mean_s"),
        )
        .orderBy("l_returnflag")
    )


_THEIL_ORACLE = """
WITH spend AS (
  SELECT c.c_custkey, c.c_nationkey,
         CAST(sum(floor(o.o_totalprice * 100 + 0.5)) AS BIGINT) AS cents
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey, c.c_nationkey
),
g AS (
  SELECT c_nationkey,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS tot
  FROM spend GROUP BY c_nationkey
),
ratio AS (
  SELECT s.c_nationkey, g.n,
         floor(CAST(s.cents AS DOUBLE) * g.n / g.tot * 1e6 + 0.5) / 1e6
           AS r_s
  FROM spend s JOIN g ON s.c_nationkey = g.c_nationkey
),
terms AS (
  SELECT c_nationkey, n,
         CASE WHEN r_s > 0 THEN
           CAST(floor(r_s * (floor(ln(r_s) * 1e6 + 0.5) / 1e6)
                      * 1e6 + 0.5) AS BIGINT)
         ELSE CAST(0 AS BIGINT) END AS term_q
  FROM ratio
)
SELECT n.n_name,
       CAST(max(t.n) AS BIGINT) AS n_customers,
       floor(sum(t.term_q) / 1e6 / max(t.n) * 1e6 + 0.5) / 1e6
         AS theil_s
FROM terms t JOIN nation n ON n.n_nationkey = t.c_nationkey
GROUP BY n.n_name
ORDER BY n.n_name
"""


@register("agg_theil_inequality", oracle=_THEIL_ORACLE)
def agg_theil_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T index of customer-spend concentration per nation,
    int64-quantized terms for an order-independent reduce."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    nation = load(spark, sf_dir, "nation")
    spend = (
        cust.join(orders, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_nationkey")
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5))
             .cast("long").alias("cents"))
    )
    g = spend.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("tot"),
    )
    r_s = _snap6(F.col("cents").cast("double") * F.col("n") / F.col("tot"))
    # A spend share below 5e-7 snaps to exactly 0; x*ln(x) -> 0 there, so
    # both engines drop the term EXPLICITLY (Spark's log(0)=NULL would
    # silently vanish while DuckDB's ln(0) raises -- the one divergence
    # the snap idiom doesn't cover on its own).
    term_q = (
        F.when(r_s > 0,
               F.floor(r_s * _snap6(F.log(r_s)) * 1e6 + 0.5).cast("long"))
        .otherwise(F.lit(0).cast("long"))
    )
    terms = (
        spend.join(F.broadcast(g), "c_nationkey")
        .select("c_nationkey", "n", term_q.alias("term_q"))
    )
    return (
        terms.join(F.broadcast(nation),
                   terms.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.max("n").cast("long").alias("n_customers"),
            _snap6(F.sum("term_q") / 1e6 / F.max("n")).alias("theil_s"),
        )
        .orderBy("n_name")
    )


_PYTH_ORACLE = """
WITH c AS (
  SELECT l_returnflag,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
  FROM lineitem
),
q AS (
  SELECT l_returnflag, cents,
         CAST(floor((floor(ln(cents) * 1e6 + 0.5) / 1e6) * 1e6 + 0.5)
              AS BIGINT) AS ln_q,
         CAST(floor(1e12 / cents + 0.5) AS BIGINT) AS inv_q
  FROM c
)
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_rows,
       floor(sum(cents) / 100.0 / count(*) * 1e6 + 0.5) / 1e6
         AS mean_arith_s,
       floor(exp(sum(ln_q) / 1e6 / count(*)) / 100.0 * 1e6 + 0.5) / 1e6
         AS mean_geom_s,
       floor(count(*) * 1e12 / sum(inv_q) / 100.0 * 1e6 + 0.5) / 1e6
         AS mean_harm_s
FROM q
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_pythagorean_means", oracle=_PYTH_ORACLE)
def agg_pythagorean_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic / geometric / harmonic mean price per return flag
    from order-independent int64-quantized reduces."""
    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    q = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", cents.alias("cents"),
    ).select(
        "l_returnflag", "cents",
        F.floor(_snap6(F.log("cents")) * 1e6 + 0.5).cast("long")
        .alias("ln_q"),
        F.floor(1e12 / F.col("cents") + 0.5).cast("long").alias("inv_q"),
    )
    n = F.count(F.lit(1))
    return (
        q.groupBy("l_returnflag")
        .agg(
            n.cast("long").alias("n_rows"),
            _snap6(F.sum("cents") / 100.0 / n).alias("mean_arith_s"),
            _snap6(F.exp(F.sum("ln_q") / 1e6 / n) / 100.0)
            .alias("mean_geom_s"),
            _snap6(n * 1e12 / F.sum("inv_q") / 100.0)
            .alias("mean_harm_s"),
        )
        .orderBy("l_returnflag")
    )


_QUOTA_K = 1000


_QUOTA_ORACLE = f"""
WITH strata AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY lang, source
),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM strata),
base AS (
  SELECT s.lang, s.source, s.n_docs,
         CAST(({_QUOTA_K} * s.n_docs) // t.n AS BIGINT) AS floor_q,
         CAST(({_QUOTA_K} * s.n_docs) % t.n AS BIGINT) AS rem
  FROM strata s CROSS JOIN tot t
),
ranked AS (
  SELECT *,
         row_number() OVER (ORDER BY rem DESC, lang, source) AS rk,
         CAST({_QUOTA_K} AS BIGINT)
           - CAST(sum(floor_q) OVER () AS BIGINT) AS leftover
  FROM base
)
SELECT lang, source, n_docs, floor_q, rem,
       CAST(floor_q + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS quota
FROM ranked
ORDER BY lang, source
"""


@register("agg_largest_remainder_quota", oracle=_QUOTA_ORACLE)
def agg_largest_remainder_quota(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Hamilton-method apportionment of 1000 sample slots across
    (lang, source) strata in exact integer arithmetic."""
    from ..operators.sampling import hamilton_quota

    strata = (
        load(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    return hamilton_quota(strata, _QUOTA_K).orderBy("lang", "source")
