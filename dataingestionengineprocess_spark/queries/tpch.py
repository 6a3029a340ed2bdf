"""TPC-H analog battery: the 22 query shapes (``q1_`` .. ``q22_``).

SURVEY.md §2.2-2.6 (P2 predicates, J1-J4 joins, A1/A5 aggregation,
O1-O2 sort/limit) exercised through the classic TPC-H query shapes.
The fixtures lack ``partsupp``, ``l_shipmode``,
``l_commitdate/l_receiptdate``, ``c_phone`` and
``ps_supplycost/ps_availqty`` (TESTDATA.md), so each query keeps the
ORIGINAL's plan shape -- the part that matters for the 100 TB story --
against proxies derivable from the available columns:

- "partsupp" := distinct (l_partkey, l_suppkey) pairs from lineitem,
  with unit cost min(l_extendedprice / l_quantity) (Q2) or shipped
  volume (Q11/Q16/Q20).
- "late" := l_shipdate > o_orderdate + INTERVAL (commit/receipt dates
  don't exist; Q4/Q21).
- Q12's ship-mode class := l_returnflag.

Supplier-side filters use a REGION, not a nation: the supplier table
scales at 10 rows per sf0.001 across 25 nations, so a single-nation
filter would be empty at small SF while a region keeps ~1/5 of
suppliers at every SF.

Float sums follow the exact-cents rule (FIXTURES.md): sum
``round(expr*100)::long`` then divide, so Spark and DuckDB agree
bit-for-bit regardless of accumulation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, SparkSession, Window as W

from ..catalog import load
from . import register


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


def _cents(expr):
    """Exact-cents accumulator: deterministic across engines/partition orders."""
    return F.sum(F.round(expr * 100).cast("long"))


_Q6_ORACLE = """
SELECT round(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)) / 100.0, 2) AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("q6_forecast_revenue", oracle=_Q6_ORACLE)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(_cents(F.col("l_extendedprice") * F.col("l_discount")) / 100.0, 2).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


_Q10_ORACLE = """
SELECT c.c_custkey, c.c_name,
       round(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) / 100.0, 2) AS revenue,
       c.c_acctbal, n.n_name
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register("q10_returned_items", oracle=_Q10_ORACLE)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(_cents(rev) / 100.0, 2).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


_Q13_ORACLE = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '5-LOW'
  GROUP BY c.c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@register("q13_order_distribution", oracle=_Q13_ORACLE)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "5-LOW")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


_Q14_ORACLE = """
SELECT round(
         100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                          THEN CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)
                          ELSE 0 END)
         / sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)),
       4) AS promo_revenue_pct
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
"""


@register("q14_promo_revenue", oracle=_Q14_ORACLE)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    part = load(spark, sf_dir, "part")
    rev_cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev_cents).otherwise(F.lit(0)))
                / F.sum(rev_cents),
                4,
            ).alias("promo_revenue_pct")
        )
    )


_Q15_ORACLE = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS total_cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name,
       round(r.total_cents / 100.0, 2) AS total_revenue
FROM supplier s
JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_cents = (SELECT max(total_cents) FROM revenue)
ORDER BY s_suppkey
"""


@register("q15_top_supplier", oracle=_Q15_ORACLE)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_cents"))
    )
    # Scalar-subquery max as a broadcast 1-row join (no single-partition
    # window; the agg output is |suppliers| rows, the max is 1 row).
    max_rev = revenue.agg(F.max("total_cents").alias("max_cents"))
    top = revenue.crossJoin(F.broadcast(max_rev)).filter(
        F.col("total_cents") == F.col("max_cents")
    )
    sup = load(spark, sf_dir, "supplier")
    return (
        sup.join(F.broadcast(top), sup.s_suppkey == top.supplier_no)
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("total_cents") / 100.0, 2).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


_Q17_ORACLE = """
SELECT round(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) / 100.0 / 7.0, 2) AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN (
  SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_cut
  FROM lineitem
  GROUP BY l_partkey
) t ON t.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#1'
  AND l.l_quantity < t.qty_cut
"""


@register("q17_small_qty_revenue", oracle=_Q17_ORACLE)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    cuts = li.groupBy(F.col("l_partkey").alias("cut_partkey")).agg(
        (0.2 * F.avg("l_quantity")).alias("qty_cut")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(cuts), li.l_partkey == cuts.cut_partkey)
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            F.round(_cents(F.col("l_extendedprice")) / 100.0 / 7.0, 2).alias("avg_yearly")
        )
    )


_Q18_ORACLE = """
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       round(sum(l.l_quantity), 2) AS total_qty
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 100
"""


@register("q18_large_volume_customers", oracle=_Q18_ORACLE)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty_sum"))
        .filter(F.col("qty_sum") > 300)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    return (
        li.join(F.broadcast(big), li.l_orderkey == F.col("big_orderkey"), "left_semi")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


_Q19_ORACLE = """
SELECT round(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) / 100.0, 2) AS revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3'  AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20 AND 30)
"""


@register("q19_disjunctive_revenue", oracle=_Q19_ORACLE)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35) & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            F.round(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))) / 100.0, 2).alias("revenue")
        )
    )


_Q22_ORACLE = """
SELECT c.c_nationkey AS cntry, count(*) AS numcust,
       round(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) / 100.0, 2) AS totacctbal
FROM customer c
WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-06-01 00:00:00')
GROUP BY c.c_nationkey
ORDER BY cntry
"""


@register("q22_inactive_customers", oracle=_Q22_ORACLE)
def q22_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    recent = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-06-01 00:00:00").cast("timestamp")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("avg_bal"))
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntry"))
        .agg(
            F.count("*").alias("numcust"),
            F.round(_cents(F.col("c_acctbal")) / 100.0, 2).alias("totacctbal"),
        )
        .orderBy("cntry")
    )


_Q8_ORACLE = """
SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
       round(
         sum(CASE WHEN sn.n_name = 'NATION_6'
                  THEN CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)
                  ELSE 0 END)
         / sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)),
       4) AS mkt_share
FROM lineitem l
JOIN orders o    ON l.l_orderkey = o.o_orderkey
JOIN customer c  ON o.o_custkey = c.c_custkey
JOIN nation cn   ON c.c_nationkey = cn.n_nationkey
JOIN region r    ON cn.n_regionkey = r.r_regionkey
JOIN supplier s  ON l.l_suppkey = s.s_suppkey
JOIN nation sn   ON s.s_nationkey = sn.n_nationkey
JOIN part p      ON l.l_partkey = p.p_partkey
WHERE r.r_name = 'AMERICA'
  AND p.p_type = 'ECONOMY'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1
ORDER BY o_year
"""


@register("q8_market_share", oracle=_Q8_ORACLE)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    # customers restricted to the market region (broadcast dim chain)
    cust_in_region = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("c_custkey")
    )
    sup_nation = (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nat.select(F.col("n_nationkey").alias("sn_key"),
                                   F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("sn_key"),
        )
        .select("s_suppkey", "supp_nation")
    )
    part = load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust_in_region), orders.o_custkey == F.col("c_custkey"), "left_semi")
        .join(F.broadcast(sup_nation), li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(part), li.l_partkey == part.p_partkey, "left_semi")
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_6", cents).otherwise(F.lit(0)))
                / F.sum(cents),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def _region_suppliers(spark: SparkSession, sf_dir: str, r_name: str) -> DataFrame:
    """(s_suppkey, s_name, s_acctbal, n_name) for suppliers in a region.
    Three broadcast-joined dims -- never a shuffle."""
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region").filter(F.col("r_name") == r_name)
    return (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )


_Q2_ORACLE = """
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         min(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
ranked AS (
  SELECT ps.l_partkey, ps.unit_cost, eu.s_name, eu.s_acctbal, eu.n_name,
         min(ps.unit_cost) OVER (PARTITION BY ps.l_partkey) AS min_cost
  FROM ps JOIN eu ON ps.l_suppkey = eu.s_suppkey
)
SELECT r.s_acctbal, r.s_name, r.n_name, p.p_partkey, p.p_type,
       floor(r.unit_cost * 10000 + 0.5) / 10000 AS unit_cost
FROM ranked r JOIN part p ON r.l_partkey = p.p_partkey
WHERE p.p_type = 'LARGE' AND p.p_size <= 10 AND r.unit_cost = r.min_cost
"""


@register("q2_min_cost_supplier", oracle=_Q2_ORACLE)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    ps = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity"))
             .alias("unit_cost"))
    )
    eu = _region_suppliers(spark, sf_dir, "EUROPE")
    part = load(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") <= 10)
    )
    w = W.partitionBy("l_partkey")
    return (
        ps.join(F.broadcast(eu), ps.l_suppkey == eu.s_suppkey)
        .withColumn("min_cost", F.min("unit_cost").over(w))
        .filter(F.col("unit_cost") == F.col("min_cost"))
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_type",
            # floor-based rounding: Spark's round() re-rounds via the
            # SHORTEST decimal repr (BigDecimal.valueOf) while DuckDB
            # rounds the binary value, so a quotient sitting 1 ulp
            # below a .xxxx5 boundary rounds differently; floor(x*1e4
            # + 0.5)/1e4 is identical IEEE arithmetic in both engines.
            (F.floor(F.col("unit_cost") * 10000 + 0.5) / 10000)
            .alias("unit_cost"),
        )
    )


_Q4_ORACLE = """
SELECT o.o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o.o_orderpriority
"""


@register("q4_priority_late_orders", oracle=_Q4_ORACLE)
def q4_priority_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate
               > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


_Q7_ORACLE = """
WITH nr AS (
  SELECT n_nationkey, r_name
  FROM nation JOIN region ON n_regionkey = r_regionkey
)
SELECT sr.r_name AS supp_region, cr.r_name AS cust_region,
       CAST(year(l.l_shipdate) AS INT) AS l_year,
       round(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) / 100.0, 2) AS revenue
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nr cr      ON c.c_nationkey = cr.n_nationkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nr sr      ON s.s_nationkey = sr.n_nationkey
WHERE ((sr.r_name = 'EUROPE' AND cr.r_name = 'ASIA')
    OR (sr.r_name = 'ASIA' AND cr.r_name = 'EUROPE'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY sr.r_name, cr.r_name, 3
"""


@register("q7_region_volume", oracle=_Q7_ORACLE)
def q7_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    nr = nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey).select(
        "n_nationkey", "r_name"
    )
    cust = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(nr), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("r_name").alias("cust_region"))
    )
    supp = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nr), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("r_name").alias("supp_region"))
    )
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    orders = load(spark, sf_dir, "orders")
    pair = (
        ((F.col("supp_region") == "EUROPE") & (F.col("cust_region") == "ASIA"))
        | ((F.col("supp_region") == "ASIA") & (F.col("cust_region") == "EUROPE"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(pair)
        .groupBy(
            "supp_region", "cust_region",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            F.round(
                _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                / 100.0, 2,
            ).alias("revenue")
        )
    )


_Q9_ORACLE = """
SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
       round(sum(CAST(round((l.l_extendedprice * (1 - l.l_discount)
                             - p.p_retailprice * l.l_quantity * 0.1) * 100) AS BIGINT)) / 100.0, 2) AS profit
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN part p     ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE '%widget%'
GROUP BY n.n_name, 2
"""


@register("q9_product_profit", oracle=_Q9_ORACLE)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    part = load(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    supp = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity") * 0.1
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.round(_cents(profit) / 100.0, 2).alias("profit"))
    )


_Q11_ORACLE = """
WITH eu AS (
  SELECT s_suppkey FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
per_part AS (
  SELECT l.l_partkey,
         sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS value_cents
  FROM lineitem l JOIN eu ON l.l_suppkey = eu.s_suppkey
  GROUP BY l.l_partkey
)
SELECT l_partkey AS ps_partkey,
       round(value_cents / 100.0, 2) AS part_value
FROM per_part
WHERE value_cents > 0.001 * (SELECT sum(value_cents) FROM per_part)
"""


@register("q11_important_parts", oracle=_Q11_ORACLE)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    eu = _region_suppliers(spark, sf_dir, "EUROPE").select("s_suppkey")
    li = load(spark, sf_dir, "lineitem")
    per_part = (
        li.join(F.broadcast(eu), li.l_suppkey == F.col("s_suppkey"), "left_semi")
        .groupBy("l_partkey")
        .agg(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
             .alias("value_cents"))
    )
    total = per_part.agg(F.sum("value_cents").alias("total_cents"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_cents") > 0.001 * F.col("total_cents"))
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            F.round(F.col("value_cents") / 100.0, 2).alias("part_value"),
        )
    )


_Q12_ORACLE = """
SELECT l.l_returnflag AS ship_class,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l.l_returnflag
"""


@register("q12_priority_by_class", oracle=_Q12_ORACLE)
def q12_priority_by_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    orders = load(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long")
            .alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long")
            .alias("low_line_count"),
        )
    )


_Q16_ORACLE = """
WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
bad AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(count(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
FROM ps
JOIN part p ON ps.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#3'
  AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 9, 19, 29, 39, 49)
  AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM bad)
GROUP BY p.p_brand, p.p_type, p.p_size
"""


@register("q16_supplier_part_counts", oracle=_Q16_ORACLE)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = (
        load(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey").distinct()
    )
    part = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#3")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 9, 19, 29, 39, 49))
    )
    bad = load(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        ps.join(F.broadcast(bad), ps.l_suppkey == F.col("s_suppkey"),
                "left_anti")
        .join(F.broadcast(part), ps.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


_Q20_ORACLE = """
WITH boltlines AS (
  SELECT l.l_partkey, l.l_suppkey, CAST(l.l_quantity AS BIGINT) AS qty
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_name LIKE '%bolt%'
    AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l.l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
),
part_total AS (
  SELECT l_partkey, sum(qty) AS tot,
         count(DISTINCT l_suppkey) AS n_supp
  FROM boltlines GROUP BY l_partkey
),
supp_part AS (
  SELECT l_partkey, l_suppkey, sum(qty) AS sq
  FROM boltlines GROUP BY l_partkey, l_suppkey
),
dominant AS (
  SELECT DISTINCT sp.l_suppkey
  FROM supp_part sp JOIN part_total pt ON sp.l_partkey = pt.l_partkey
  WHERE sp.sq > 2.0 * pt.tot / pt.n_supp
)
SELECT s.s_name, s.s_acctbal, n.n_name
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'EUROPE'
  AND s.s_suppkey IN (SELECT l_suppkey FROM dominant)
"""


@register("q20_dominant_suppliers", oracle=_Q20_ORACLE)
def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    bolt = (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate")
             >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate")
               < F.lit("1999-01-01 00:00:00").cast("timestamp"))
        )
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey,
              "left_semi")
        .select("l_partkey", "l_suppkey",
                F.col("l_quantity").cast("long").alias("qty"))
    )
    supp_part = bolt.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("qty").alias("sq")
    )
    part_total = bolt.groupBy("l_partkey").agg(
        F.sum("qty").alias("tot"),
        F.countDistinct("l_suppkey").alias("n_supp"),
    )
    dominant = (
        supp_part.join(part_total, "l_partkey")
        .filter(F.col("sq") > 2.0 * F.col("tot") / F.col("n_supp"))
        .select("l_suppkey").distinct()
    )
    return (
        _region_suppliers(spark, sf_dir, "EUROPE")
        .join(F.broadcast(dominant), F.col("s_suppkey") == F.col("l_suppkey"),
              "left_semi")
        .select("s_name", "s_acctbal", "n_name")
    )


_Q21_ORACLE = """
WITH late AS (
  SELECT l.l_orderkey, l.l_suppkey
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY
  GROUP BY l.l_orderkey, l.l_suppkey
),
allsup AS (
  SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_supp
  FROM lineitem GROUP BY l_orderkey
),
latec AS (SELECT l_orderkey, count(*) AS n_late FROM late GROUP BY l_orderkey)
SELECT s.s_name, count(*) AS numwait
FROM late
JOIN allsup ON late.l_orderkey = allsup.l_orderkey
JOIN latec  ON late.l_orderkey = latec.l_orderkey
JOIN supplier s ON late.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE allsup.n_supp >= 2 AND latec.n_late = 1 AND r.r_name = 'EUROPE'
GROUP BY s.s_name
"""


@register("q21_waiting_suppliers", oracle=_Q21_ORACLE)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One fact-fact join, then ONE orderkey-keyed aggregation derives
    # everything: the supplier count, the late-supplier SET (bounded
    # by order size, ~7 lines in TPC-H shapes), and therefore the one
    # guilty supplier when that set is a singleton. The oracle's three
    # CTEs collapse into a single pass over the joined facts with no
    # second scan and no extra distinct shuffle.
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    flagged = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            "l_orderkey", "l_suppkey",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 45 DAYS")
            ).alias("__late"),
        )
    )
    # collect_set skips nulls, so only late suppliers land in the set.
    per_order = flagged.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.collect_set(
            F.when(F.col("__late"), F.col("l_suppkey"))
        ).alias("late_set"),
    )
    guilty = (
        per_order.filter(
            (F.col("n_supp") >= 2) & (F.size("late_set") == 1)
        )
        .select(F.element_at("late_set", 1).alias("l_suppkey"))
    )
    eu = _region_suppliers(spark, sf_dir, "EUROPE")
    return (
        guilty.join(F.broadcast(eu), F.col("l_suppkey") == eu.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
