"""Core relational surface: scan/project/filter/join/agg/sort/set-ops.

SURVEY.md §2.2 (P1-P2), §2.3 (J1-J6), §2.4 (A1-A7), §2.6 (O1-O4).
Reference evidence: the ingestion engine's typed dual sinks
(Untitled Diagram.drawio:64-69,79-98) imply a full relational query
surface over the curated tables; provenance tags per SURVEY.md §2.

All queries are declarative DataFrame compositions -- Catalyst handles
predicate pushdown, column pruning, join strategy (broadcast for the
small dims), and AQE re-planning. Float aggregates are rounded in BOTH
engines because double summation order is nondeterministic across
partitions (and across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from . import register
from ..session import local_frame

# ---------------------------------------------------------------------------
# Flagship: TPC-H Q1-style pricing summary (scan -> filter -> agg -> sort).
# The filter reaches the parquet scan as a pushed predicate; aggregation is
# partial (map-side) then final -- 2-phase agg is free from the planner.
# ---------------------------------------------------------------------------

_Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                   AS sum_qty,
       round(sum(l_extendedprice), 2)                              AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4)                                   AS avg_qty,
       round(avg(l_extendedprice), 4)                              AS avg_price,
       round(avg(l_discount), 4)                                   AS avg_disc,
       count(*)                                                    AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", oracle=_Q1_ORACLE)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# P1: projection / rename / cast -- the CSV-typing step of the reference's
# ingestion flow expressed over a curated table.
# ---------------------------------------------------------------------------

_PROJECT_ORACLE = """
SELECT o_orderkey AS order_id,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price_dec,
       upper(o_orderstatus) AS status_u,
       CAST(o_orderdate AS DATE) AS order_date
FROM orders
WHERE o_orderkey <= 1000
"""


@register("project_cast_rename", oracle=_PROJECT_ORACLE)
def project_cast_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 1000)
        .select(
            F.col("o_orderkey").alias("order_id"),
            # decimal cast demonstrates exact typing; surfaced as double so
            # both engines hand the comparator the same physical type
            F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("total_price_dec"),
            F.upper("o_orderstatus").alias("status_u"),
            F.col("o_orderdate").cast("date").alias("order_date"),
        )
    )


# ---------------------------------------------------------------------------
# P2: predicate zoo -- comparison, boolean combinators, IN, BETWEEN, LIKE,
# IS NULL. All push down to the parquet scan.
# ---------------------------------------------------------------------------

_FILTER_ORACLE = """
SELECT p_partkey, p_name, p_brand, p_size, p_retailprice
FROM part
WHERE p_size BETWEEN 10 AND 30
  AND p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
  AND p_name LIKE '%a%'
  AND (p_retailprice > 900.0 OR p_size = 15)
  AND p_type IS NOT NULL
"""


@register("filter_predicates", oracle=_FILTER_ORACLE)
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    return p.filter(
        F.col("p_size").between(10, 30)
        & F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
        & F.col("p_name").like("%a%")
        & ((F.col("p_retailprice") > 900.0) | (F.col("p_size") == 15))
        & F.col("p_type").isNotNull()
    ).select("p_partkey", "p_name", "p_brand", "p_size", "p_retailprice")


# ---------------------------------------------------------------------------
# J1/J4: equi inner join, dims broadcast. TPC-H Q3-style shipping priority.
# customer/orders join shuffles on the key; AQE picks broadcast for the
# filtered customer side when it shrinks below the threshold.
# ---------------------------------------------------------------------------

_Q3_ORACLE = """
SELECT l.l_orderkey,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@register("q3_shipping_priority", oracle=_Q3_ORACLE)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# J4/J6: TPC-H Q5-style multi-way join with a broadcast dim chain
# (supplier->nation->region are tiny at every SF: broadcast, no shuffle).
# This is the [R] lookup-enrichment shape: fact rows enriched against
# reference-data dims (diagram's PostgreSQL round-trip, :88-98).
# ---------------------------------------------------------------------------

_Q5_ORACLE = """
SELECT n.n_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
ORDER BY revenue DESC, n_name
"""


@register("q5_region_revenue", oracle=_Q5_ORACLE)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    dim = (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey", "n_name")
    )
    return (
        li.join(F.broadcast(dim), li.l_suppkey == dim.s_suppkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


# ---------------------------------------------------------------------------
# J2: outer join -- customers left-joined to their order stats; customers
# without orders surface with zero counts (null-handling via coalesce).
# ---------------------------------------------------------------------------

_LEFT_ORACLE = """
SELECT c.c_custkey, c.c_mktsegment,
       count(o.o_orderkey)                         AS n_orders,
       round(coalesce(sum(o.o_totalprice), 0), 2)  AS total_spend
FROM customer c
LEFT JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_mktsegment
"""


@register("join_left_outer", oracle=_LEFT_ORACLE)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        cust.join(orders, orders.o_custkey == cust.c_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spend"),
        )
    )


# ---------------------------------------------------------------------------
# J3: semi / anti joins -- EXISTS / NOT EXISTS idioms. Anti join is the
# reference's "rows not yet loaded" reconciliation shape.
# ---------------------------------------------------------------------------

_SEMI_ORACLE = """
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
"""


@register("join_semi", oracle=_SEMI_ORACLE)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    big = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


_ANTI_ORACLE = """
SELECT c_custkey, c_name, c_acctbal
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
"""


@register("join_anti", oracle=_ANTI_ORACLE)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    big = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_acctbal"
    )


# ---------------------------------------------------------------------------
# J5: theta / non-equi join. Pairs of parts in the same brand where one is
# strictly pricier -- equi component keeps it a hash join with a residual
# predicate rather than a cartesian product.
# ---------------------------------------------------------------------------

_THETA_ORACLE = """
SELECT a.p_brand,
       count(*) AS n_pairs,
       round(avg(a.p_retailprice - b.p_retailprice), 4) AS avg_gap
FROM part a
JOIN part b
  ON a.p_brand = b.p_brand AND a.p_retailprice > b.p_retailprice
GROUP BY a.p_brand
"""


@register("join_theta_price_pairs", oracle=_THETA_ORACLE)
def join_theta_price_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = load(spark, sf_dir, "part").alias("a")
    b = load(spark, sf_dir, "part").alias("b")
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_retailprice") > F.col("b.p_retailprice")),
        )
        .groupBy(F.col("a.p_brand").alias("p_brand"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.avg(F.col("a.p_retailprice") - F.col("b.p_retailprice")), 4).alias("avg_gap"),
        )
    )


# ---------------------------------------------------------------------------
# A1/A2/A6: aggregation battery -- core stats plus exact distinct counts.
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# A6: correlation + variance over the fact table.
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# A4: rollup with grouping flags. GROUPING() disambiguates real NULLs from
# subtotal rows -- identical semantics in Spark SQL and DuckDB.
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# A4: cube -- all grouping-set combinations.
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# A7: collect_set nested into a deterministic string (sorted + joined so the
# value hash is stable across partition orders and engines).
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# A3: approximate count-distinct (HyperLogLog++) under a BOUNDED-ERROR
# oracle. The estimate itself is engine-specific (no SQL twin can
# reproduce HLL++ register state), so the query emits the sketch's
# CONTRACT instead of its value: a `within_bound` boolean comparing the
# estimate to the exact distinct count at 3x the requested rsd (three
# standard errors -- deterministic-pass territory for HLL++). The
# DuckDB oracle recomputes the exact counts and asserts the booleans
# TRUE, so a sketch breaching its bound hash-mismatches. At 100 TB the
# approx path replaces exact countDistinct's full expand-shuffle with a
# constant-size mergeable sketch; the exact counts here exist only to
# ground the oracle.
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# O1/O2: global sort + limit with a total order (unique tiebreak) so both
# engines pick identical rows. Planner turns this into TakeOrderedAndProject
# -- per-partition top-k then a k-way driver merge, no global sort shuffle.
# ---------------------------------------------------------------------------

_TOPK_ORACLE = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 25
"""


@register("topk_global", oracle=_TOPK_ORACLE)
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(25)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total_price"))
    )


# ---------------------------------------------------------------------------
# O3/O4: set operations -- union / intersect / except over key sets.
# ---------------------------------------------------------------------------

_SETOPS_ORACLE = """
WITH building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
     rich     AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000),
     unioned  AS (SELECT c_custkey FROM building UNION SELECT c_custkey FROM rich),
     overlap  AS (SELECT c_custkey FROM building INTERSECT SELECT c_custkey FROM rich),
     only_b   AS (SELECT c_custkey FROM building EXCEPT SELECT c_custkey FROM rich)
SELECT 'union' AS op, count(*) AS n FROM unioned
UNION ALL SELECT 'intersect' AS op, count(*) AS n FROM overlap
UNION ALL SELECT 'except' AS op, count(*) AS n FROM only_b
"""


@register("set_operations", oracle=_SETOPS_ORACLE)
def set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    rich = cust.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    unioned = building.union(rich).distinct().agg(F.count("*").alias("n")).select(
        F.lit("union").alias("op"), "n"
    )
    both = building.intersect(rich).agg(F.count("*").alias("n")).select(
        F.lit("intersect").alias("op"), "n"
    )
    only_b = building.exceptAll(rich.distinct()).distinct().agg(
        F.count("*").alias("n")
    ).select(F.lit("except").alias("op"), "n")
    return unioned.union(both).union(only_b)


# ---------------------------------------------------------------------------
# Correlated scalar subquery (Catalyst decorrelates it into a join):
# orders above their customer's average order value.
# ---------------------------------------------------------------------------

_SUBQ_ORACLE = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price
FROM orders o
WHERE o_totalprice > 1.8 * (SELECT avg(o2.o_totalprice)
                            FROM orders o2
                            WHERE o2.o_custkey = o.o_custkey)
"""


@register("subquery_above_cust_avg", oracle=_SUBQ_ORACLE)
def subquery_above_cust_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    avg_per_cust = orders.groupBy("o_custkey").agg(
        F.avg("o_totalprice").alias("cust_avg")
    ).withColumnRenamed("o_custkey", "ac_custkey")
    return (
        orders.join(avg_per_cust, orders.o_custkey == avg_per_cust.ac_custkey)
        .filter(F.col("o_totalprice") > 1.8 * F.col("cust_avg"))
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total_price"))
    )


# ---------------------------------------------------------------------------
# J7: as-of join -- each event matched to the user's latest order
# snapshot at-or-before the event time. Spark lacks native ASOF JOIN;
# operators.asof implements the union+last-carry-forward plan (one
# shuffle + sort). DuckDB HAS native ASOF JOIN -- the oracle uses it,
# making this a true cross-engine semantic check.
# ---------------------------------------------------------------------------

_ASOF_ORACLE = """
WITH snap AS (
  SELECT o_custkey AS user_id, o_orderdate,
         max(o_orderkey) AS o_orderkey,
         max_by(o_totalprice, o_orderkey) AS o_totalprice
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, s.o_orderkey,
       round(s.o_totalprice, 2) AS snap_price
FROM events e
ASOF JOIN snap s ON e.user_id = s.user_id AND e.ts >= s.o_orderdate
"""


@register("asof_join_latest_order", oracle=_ASOF_ORACLE)
def asof_join_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join_backward

    events = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    snap = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"), "o_orderdate")
        .agg(
            F.max("o_orderkey").alias("o_orderkey"),
            F.max_by("o_totalprice", "o_orderkey").alias("o_totalprice"),
        )
    )
    joined = asof_join_backward(
        events, snap, on="user_id", left_ts="ts", right_ts="o_orderdate",
        payload_cols=["o_orderkey", "o_totalprice"], how="inner",
    )
    return joined.select(
        "event_id", "user_id", "o_orderkey",
        F.round("o_totalprice", 2).alias("snap_price"),
    )


# ---------------------------------------------------------------------------
# J2 (completing the outer-join family): FULL OUTER between a customer
# segment and one order-year -- both sides have unmatched rows, so
# every null-extension path is exercised. Spark plans a sort-merge
# full-outer (broadcast is impossible for full outer by definition).
# ---------------------------------------------------------------------------

_FULL_ORACLE = """
SELECT c.c_custkey, c.c_name, o.o_orderkey,
       round(o.o_totalprice, 2) AS total_price
FROM (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') c
FULL OUTER JOIN
     (SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate < TIMESTAMP '1996-01-01') o
  ON c.c_custkey = o.o_custkey
"""


@register("join_full_outer", oracle=_FULL_ORACLE)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", "c_name")
    )
    orders = (
        load(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= "1995-01-01")
            & (F.col("o_orderdate") < "1996-01-01")
        )
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "outer")
        .select(
            "c_custkey", "c_name", "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# O3: multi-feed merge via unionByName(allowMissingColumns=True) --
# the schema-drift-tolerant union a multi-partner landing zone needs
# (partners add/reorder columns; positional union would corrupt rows).
# ---------------------------------------------------------------------------

_UNION_ORACLE = """
SELECT c_custkey AS entity_key, c_name AS entity_name,
       c_nationkey AS nationkey, c_acctbal AS acctbal,
       'customer' AS kind
FROM customer
UNION ALL
SELECT s_suppkey, s_name, s_nationkey, NULL, 'supplier' FROM supplier
"""


@register("union_by_name", oracle=_UNION_ORACLE)
def union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    customers = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_key"),
        F.col("c_name").alias("entity_name"),
        F.col("c_nationkey").cast("int").alias("nationkey"),
        F.col("c_acctbal").alias("acctbal"),
        F.lit("customer").alias("kind"),
    )
    # deliberately different column ORDER and a missing column --
    # exactly the drift unionByName absorbs and union() would not
    suppliers = load(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("kind"),
        F.col("s_nationkey").cast("int").alias("nationkey"),
        F.col("s_suppkey").alias("entity_key"),
        F.col("s_name").alias("entity_name"),
    )
    return customers.unionByName(suppliers, allowMissingColumns=True)


# ---------------------------------------------------------------------------
# A4 (completing rollup/cube): explicit GROUPING SETS through the SQL
# front end -- only the requested combinations are aggregated (one
# Expand + one hash-agg; cheaper than cube when you need 3 of its 2^n
# sets).
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# TPC-H Q4-style: correlated EXISTS through the SQL front end --
# Catalyst decorrelates it into a left-semi join (free optimization,
# SURVEY.md §4). Oracle runs the identical SQL in DuckDB.
# ---------------------------------------------------------------------------

_EXISTS_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM {orders}
WHERE o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate < TIMESTAMP '1995-07-01'
  AND EXISTS (
    SELECT 1 FROM {lineitem}
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL '60' DAY
  )
GROUP BY o_orderpriority
"""


@register("subquery_exists_late_ship",
          oracle=_EXISTS_SQL.format(orders="orders", lineitem="lineitem"))
def subquery_exists_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_ex")
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_ex")
    return spark.sql(
        _EXISTS_SQL.format(orders="orders_ex", lineitem="lineitem_ex")
    )


# ---------------------------------------------------------------------------
# TPC-H Q18-style: large-volume orders -- HAVING over a fact-sized
# aggregate, then joined back to dimensions. The groupBy(l_orderkey)
# agg is the big shuffle; the subsequent joins reuse its output
# (orders join is shuffle-hash/SMJ on the already-grouped key).
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# TPC-H Q7-style: bilateral trade volume between nation pairs -- the
# deep multi-join (lineitem ⋈ supplier ⋈ orders ⋈ customer ⋈ nation
# x2). Both nation joins broadcast; the fact-side joins are the only
# shuffles.
# ---------------------------------------------------------------------------

#: Revenue is summed in exact integer CENTS (per-row double product ->
#: round -> bigint) rather than rounding a double sum: with thousands
#: of rows per group, double accumulation order differs between
#: engines by 1 ulp and round(sum, 2) lands on different cents. The
#: per-row product+round is bitwise-identical in both engines (same
#: IEEE ops, both round half-away-from-zero), and bigint sums are
#: order-independent. This is also the right 100 TB shape: long sums
#: are associative, so partial aggregation is exact.
_NATION_PAIRS_ORACLE = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l.l_shipdate) AS ship_year,
       sum(round(l.l_extendedprice * (1 - l.l_discount) * 100)::BIGINT)
         / 100.0 AS revenue
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
WHERE n1.n_name < n2.n_name
GROUP BY 1, 2, 3
"""


@register("join_nation_pairs_revenue", oracle=_NATION_PAIRS_ORACLE)
def join_nation_pairs_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("nk1"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("nk2"))
        .filter(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(
            (
                F.sum(
                    F.round(
                        F.col("l_extendedprice")
                        * (1 - F.col("l_discount")) * 100
                    ).cast("long")
                ) / 100.0
            ).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# J5 scale path: pure range join (no equi component) rewritten as a
# bucketed equi-join (operators/skew.range_bucket_join). Orders priced
# into tier bands: Spark would plan the raw BETWEEN predicate as a
# broadcast-nested-loop; the bucket rewrite makes it a hash join. The
# oracle runs the naive BETWEEN join -- same rows, different plan.
# ---------------------------------------------------------------------------

_RANGE_BAND_ORACLE = """
SELECT b.tier, count(*) AS n_orders,
       round(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) / 100.0, 2) AS tier_revenue
FROM orders o
JOIN (VALUES ('budget',   0.0,      75000.0),
             ('mid',      75000.0,  200000.0),
             ('premium',  200000.0, 350000.0),
             ('luxury',   350000.0, 600000.0)) AS b(tier, lo, hi)
  ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
GROUP BY b.tier
ORDER BY tier
"""


@register("join_range_price_bands", oracle=_RANGE_BAND_ORACLE)
def join_range_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import range_bucket_join

    orders = load(spark, sf_dir, "orders")
    bands = local_frame(
        spark,
        [("budget", 0.0, 75000.0), ("mid", 75000.0, 200000.0),
         ("premium", 200000.0, 350000.0), ("luxury", 350000.0, 600000.0)],
        "tier string, lo double, hi double",
    )
    joined = range_bucket_join(
        orders, "o_totalprice", bands, "lo", "hi", bucket_width=25000.0
    )
    return (
        joined.groupBy("tier")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0, 2
            ).alias("tier_revenue"),
        )
        .orderBy("tier")
    )


# ---------------------------------------------------------------------------
# A6 extended: EXACT interpolated percentiles (SQL `percentile` /
# quantile_cont -- both engines interpolate linearly over the sorted
# group). The exact form is the oracle for percentile_approx's sketch
# (agg_approx_distinct plays the same role for count-distinct): at
# 100 TB you run the KLL/GK sketch, and this query is how you validate
# its error on a sample.
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# UNPIVOT: wide part metrics melted to (metric, value) rows via stack()
# -- the inverse of pivot, used to normalize per-column metrics into a
# long table a generic quality monitor can consume. Narrow projection,
# no shuffle: the stack is a per-row generator in the scan stage.
# ---------------------------------------------------------------------------

_UNPIVOT_ORACLE = """
SELECT p_partkey, 'retail_price' AS metric, round(p_retailprice, 2) AS value
FROM part
UNION ALL
SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value
FROM part
"""


@register("unpivot_part_metrics", oracle=_UNPIVOT_ORACLE)
def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "part").select(
        "p_partkey",
        F.expr(
            "stack(2, 'retail_price', round(p_retailprice, 2), "
            "'size', cast(p_size AS DOUBLE)) AS (metric, value)"
        ),
    )


# ---------------------------------------------------------------------------
# A3-adjacent: percentile_approx -- the GK/KLL-style sketch quantiles
# actually run at 100 TB (single pass, mergeable, bounded memory; the
# exact percentile needs a per-group sort). Sketch internals are
# engine-specific, so like agg_approx_distinct the query ships the
# sketch's CONTRACT as the oracle: the approx quantile's guarantee is
# on RANK, not value, so each estimate is asserted to lie inside the
# exact interpolated [p-0.01, p+0.01] rank window (50x the sketch's
# 1/accuracy rank error). The oracle recomputes group sizes + exact
# quantiles and asserts the booleans TRUE. agg_percentiles (hash-green
# since r1) proves round(quantile_cont, 4) parity on this fixture.
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# A7 extended: group-sorted string aggregation. Raw collect_list order
# is partition-dependent; sort_array + array_join pins it, which is the
# only way string aggregation is reproducible on a cluster (same rule
# as DuckDB's string_agg ORDER BY).
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# J-extended: correlated LATERAL subquery join -- "top-2 most recent
# orders PER customer" written as the correlated form. Catalyst
# decorrelates it into the same window/join machinery topk_per_group
# uses, but the LATERAL surface is what users migrating correlated SQL
# bring with them, so it ships as its own checked query.
# ---------------------------------------------------------------------------

_LATERAL_ORACLE = """
SELECT c.c_custkey, o.o_orderkey, o.o_orderdate
FROM customer c,
LATERAL (
  SELECT o_orderkey, o_orderdate
  FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_orderdate DESC, o_orderkey
  LIMIT 2
) o
WHERE c.c_custkey <= 200
"""


@register("join_lateral_recent_orders", oracle=_LATERAL_ORACLE)
def join_lateral_recent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "customer").createOrReplaceTempView("__lat_cust")
    load(spark, sf_dir, "orders").createOrReplaceTempView("__lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_orderdate
        FROM __lat_cust c,
        LATERAL (
          SELECT o_orderkey, o_orderdate
          FROM __lat_orders
          WHERE o_custkey = c.c_custkey
          ORDER BY o_orderdate DESC, o_orderkey
          LIMIT 2
        ) o
        WHERE c.c_custkey <= 200
        """
    )


# ---------------------------------------------------------------------------
# IN / NOT IN subqueries: the null-aware anti-join shape. NOT IN over a
# nullable column is the classic SQL footgun (one NULL empties the
# result); o_orderkey is non-null here so the planner can use a plain
# anti join -- the docstring-level point is that Catalyst plans
# null-aware anti joins ONLY when it must.
# ---------------------------------------------------------------------------

_IN_SUBQ_ORACLE = """
SELECT c_custkey, c_name
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders
                    WHERE o_orderpriority = '1-URGENT')
  AND c_custkey NOT IN (SELECT o_custkey FROM orders
                        WHERE o_orderstatus = 'F')
"""


@register("subquery_in_not_in", oracle=_IN_SUBQ_ORACLE)
def subquery_in_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "customer").createOrReplaceTempView("__insq_cust")
    load(spark, sf_dir, "orders").createOrReplaceTempView("__insq_orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM __insq_cust
        WHERE c_custkey IN (SELECT o_custkey FROM __insq_orders
                            WHERE o_orderpriority = '1-URGENT')
          AND c_custkey NOT IN (SELECT o_custkey FROM __insq_orders
                                WHERE o_orderstatus = 'F')
        """
    )


# ---------------------------------------------------------------------------
# Boolean aggregates: bool_and / bool_or / count_if -- constraint
# checking as aggregation ("did EVERY order in the group pass?"),
# the data-quality rollup shape.
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# J7 forward direction: for each ERROR event, the same user's next
# PURCHASE event at-or-after it (the "time to recovery/conversion"
# attribution shape; both sides interleave inside the events window).
# DuckDB's native ASOF JOIN supports the forward inequality directly,
# so the whole direction is exactly oracled.
# ---------------------------------------------------------------------------

_ASOF_FWD_ORACLE = """
WITH probe AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
),
snap AS (
  SELECT user_id, ts AS p_ts, max(event_id) AS purchase_event_id
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT p.event_id, p.user_id, s.purchase_event_id,
       CAST(date_diff('second', p.ts, s.p_ts) AS BIGINT) AS secs_to_purchase
FROM probe p
ASOF JOIN snap s
  ON p.user_id = s.user_id AND p.ts <= s.p_ts
"""


@register("asof_join_next_purchase", oracle=_ASOF_FWD_ORACLE)
def asof_join_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join_forward

    ev = load(spark, sf_dir, "events")
    probe = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    snap = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts").alias("p_ts"))
        .agg(F.max("event_id").alias("purchase_event_id"))
    )
    joined = asof_join_forward(
        probe, snap, on="user_id", left_ts="ts", right_ts="p_ts",
        payload_cols=["purchase_event_id", "p_ts"], how="inner",
    )
    return joined.select(
        "event_id", "user_id", "purchase_event_id",
        (F.unix_timestamp(F.col("p_ts")) - F.unix_timestamp(F.col("ts")))
        .cast("long").alias("secs_to_purchase"),
    )


# ---------------------------------------------------------------------------
# J7+: SCD2 temporal dimension join -- each fact row joins the
# dimension VERSION that was active at the fact's event time (the
# warehouse "slowly changing dimension type 2" lookup; Flink calls it
# a temporal table join). The dim here is each customer's order
# priority, effective from the order date it was last set; facts are
# line-item ship events, which pick up the priority active when they
# shipped. Composition, not new machinery: the keyed backward as-of
# operator (operators/asof.py) IS the SCD2 join -- one union + one
# shuffle + one in-partition sort, no per-version interval explosion.
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
WITH dim AS (
  SELECT o_custkey AS custkey, o_orderdate AS eff_date,
         max_by(o_orderpriority, o_orderkey) AS priority
  FROM orders GROUP BY o_custkey, o_orderdate
),
facts AS (
  SELECT l_orderkey, l_linenumber, o_custkey AS custkey, l_shipdate
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT f.l_orderkey, f.l_linenumber, f.custkey, f.l_shipdate,
       d.priority AS active_priority
FROM facts f
ASOF JOIN dim d
  ON f.custkey = d.custkey AND f.l_shipdate >= d.eff_date
"""


@register("join_scd2_temporal", oracle=_SCD2_ORACLE)
def join_scd2_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join_backward

    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    dim = orders.groupBy(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("eff_date"),
    ).agg(F.max_by("o_orderpriority", "o_orderkey").alias("priority"))
    facts = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("l_orderkey", "l_linenumber",
                F.col("o_custkey").alias("custkey"), "l_shipdate")
    )
    joined = asof_join_backward(
        facts, dim, on="custkey", left_ts="l_shipdate", right_ts="eff_date",
        payload_cols=["priority"], how="inner",
    )
    return joined.select(
        "l_orderkey", "l_linenumber", "custkey", "l_shipdate",
        F.col("priority").alias("active_priority"),
    )
