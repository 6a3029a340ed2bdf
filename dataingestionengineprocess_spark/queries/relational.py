"""Core relational surface: project, filter, subqueries, set operations and SQL.

SURVEY.md §2.2 (P1-P2), §2.6 (O1-O4): projection and casts, predicate
batteries, IN / EXISTS / scalar subqueries, set operations,
union-by-name, unpivot, recursive CTEs and SQL UDFs. Joins, aggregates
and the TPC-H analogs have their own modules (join.py, agg.py,
tpch.py).

All queries are declarative DataFrame compositions -- Catalyst handles
predicate pushdown, column pruning, join strategy (broadcast for the
small dims), and AQE re-planning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, SparkSession

from ..catalog import load
from . import register


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


_SQL_UDF_ORACLE = """
SELECT l_returnflag,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100)
                AS BIGINT)) AS BIGINT) / 100.0 AS net_revenue,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem
WHERE l_quantity < 25
GROUP BY l_returnflag
"""


@register("sql_udf_net_price", oracle=_SQL_UDF_ORACLE)
def sql_udf_net_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION net_price(p DOUBLE, d DOUBLE, t DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1 - d) * (1 + t)"
    )
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("__sqludf_li")
    # Exact-cents sum (see FIXTURES.md oracle notes): per-row round is
    # bitwise identical across engines; the long sum is order-free.
    return spark.sql(
        """
        SELECT l_returnflag,
               sum(CAST(round(net_price(l_extendedprice, l_discount, l_tax) * 100)
                   AS BIGINT)) / 100e0 AS net_revenue,
               count(*) AS n
        FROM __sqludf_li
        WHERE l_quantity < 25
        GROUP BY l_returnflag
        """
    )


_RCTE_BODY = """
WITH RECURSIVE chain AS (
  SELECT c_custkey AS root, c_custkey AS node, 0 AS depth
  FROM {src} WHERE c_custkey % 2 = 1
  UNION ALL
  SELECT ch.root, c.c_custkey AS node, ch.depth + 1 AS depth
  FROM chain ch JOIN {src} c ON c.c_custkey = ch.node * 2
)
SELECT root,
       CAST(max(depth) AS BIGINT) AS chain_len,
       CAST(max(node) AS BIGINT)  AS deepest_node
FROM chain GROUP BY root
"""


@register("sql_recursive_cte", oracle=_RCTE_BODY.format(src="customer"))
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "customer").createOrReplaceTempView("__rcte_cust")
    return spark.sql(_RCTE_BODY.format(src="__rcte_cust"))
