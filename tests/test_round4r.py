"""Unit/edge coverage for the round-4r queries (Pareto skyline,
trimmed mean, Theil index). The oracle gate lives in
test_oracle_parity.py; this file hand-tracks dominance, trimming,
and inequality arithmetic on planted fixtures.
"""

from __future__ import annotations


def _parts(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "p_partkey long, p_name string, p_brand string, "
              "p_type string, p_size int, p_retailprice double",
    ).write.mode("overwrite").parquet(str(tmp_path / "part.parquet"))
    return str(tmp_path)


def _cust_orders(spark, tmp_path, custs, orders):
    from pyspark.sql import functions as F

    spark.createDataFrame(
        custs, "c_custkey long, c_name string, c_nationkey int, "
               "c_acctbal double, c_mktsegment string",
    ).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_orderstatus string, "
                "o_totalprice double, o_orderdate string, "
                "o_orderpriority string",
    ).withColumn("o_orderdate", F.to_timestamp("o_orderdate")) \
     .write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        [(0, "ALPHA", 0), (1, "BETA", 0)],
        "n_nationkey int, n_name string, n_regionkey int",
    ).write.mode("overwrite").parquet(str(tmp_path / "nation.parquet"))
    return str(tmp_path)


# --- skyline -----------------------------------------------------------------


def test_skyline_dominance_and_ties(spark, tmp_path):
    # size 10 @ 5.00 and size 20 @ 8.00 are frontier; size 15 @ 9.00
    # is dominated (20 is bigger AND cheaper); a second part tied at
    # (10, 5.00) is also frontier; size 10 @ 6.00 is dominated by the
    # same-size cheaper one via the per-size min prune.
    from dataingestionengineprocess_spark.queries.orders import (
        part_pareto_skyline,
    )

    rows = [
        (1, "a", "B", "T", 10, 5.00),
        (2, "b", "B", "T", 20, 8.00),
        (3, "c", "B", "T", 15, 9.00),
        (4, "d", "B", "T", 10, 5.00),
        (5, "e", "B", "T", 10, 6.00),
    ]
    out = part_pareto_skyline(spark, _parts(spark, tmp_path, rows)).collect()
    assert {r["p_partkey"] for r in out} == {1, 2, 4}


def test_skyline_equal_price_larger_size_dominates(spark, tmp_path):
    # Same price, bigger size dominates: only the size-30 part stays.
    from dataingestionengineprocess_spark.queries.orders import (
        part_pareto_skyline,
    )

    rows = [(1, "a", "B", "T", 10, 4.00), (2, "b", "B", "T", 30, 4.00)]
    out = part_pareto_skyline(spark, _parts(spark, tmp_path, rows)).collect()
    assert [r["p_partkey"] for r in out] == [2]


# --- trimmed mean ------------------------------------------------------------


def test_trimmed_mean_drops_extremes(spark, tmp_path):
    # 10 rows, one group: trimming drops exactly the min and max
    # (floor(10/10) = 1 each side); mean of the middle 8 is exact.
    from dataingestionengineprocess_spark.queries.agg import agg_trimmed_mean

    vals = [1.00, 2.00, 3.00, 4.00, 5.00, 6.00, 7.00, 8.00, 9.00, 100.00]
    rows = [(i, 1, 1, i, 1.0, v, 0.0, 0.0, "A", "O", "2024-01-01")
            for i, v in enumerate(vals)]
    from pyspark.sql import functions as F

    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_suppkey long, "
              "l_linenumber int, l_quantity double, "
              "l_extendedprice double, l_discount double, l_tax double, "
              "l_returnflag string, l_linestatus string, l_shipdate string",
    ).withColumn("l_shipdate", F.to_timestamp("l_shipdate")) \
     .write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    r = agg_trimmed_mean(spark, str(tmp_path)).collect()[0]
    assert (r["n_rows"], r["n_kept"]) == (10, 8)
    assert r["trimmed_mean_s"] == 5.5  # mean of 2..9


def test_trimmed_mean_small_group_keeps_all(spark, tmp_path):
    # n = 9 -> floor(9/10) = 0: nothing trimmed, plain mean.
    from dataingestionengineprocess_spark.queries.agg import agg_trimmed_mean
    from pyspark.sql import functions as F

    rows = [(i, 1, 1, i, 1.0, float(i + 1), 0.0, 0.0, "A", "O",
             "2024-01-01") for i in range(9)]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_suppkey long, "
              "l_linenumber int, l_quantity double, "
              "l_extendedprice double, l_discount double, l_tax double, "
              "l_returnflag string, l_linestatus string, l_shipdate string",
    ).withColumn("l_shipdate", F.to_timestamp("l_shipdate")) \
     .write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    r = agg_trimmed_mean(spark, str(tmp_path)).collect()[0]
    assert (r["n_rows"], r["n_kept"]) == (9, 9)
    assert r["trimmed_mean_s"] == 5.0


# --- Theil index -------------------------------------------------------------


def test_theil_zero_for_equal_and_single(spark, tmp_path):
    # Nation ALPHA: two customers with identical spend -> T = 0.
    # Nation BETA: one customer -> T = 0 (r = 1, ln 1 = 0).
    from dataingestionengineprocess_spark.queries.agg import (
        agg_theil_inequality,
    )

    custs = [(1, "c1", 0, 0.0, "M"), (2, "c2", 0, 0.0, "M"),
             (3, "c3", 1, 0.0, "M")]
    orders = [(10, 1, "O", 100.0, "2024-01-01", "P"),
              (11, 2, "O", 100.0, "2024-01-02", "P"),
              (12, 3, "O", 250.0, "2024-01-03", "P")]
    out = {r["n_name"]: r for r in agg_theil_inequality(
        spark, _cust_orders(spark, tmp_path, custs, orders)).collect()}
    assert out["ALPHA"]["theil_s"] == 0.0
    assert out["BETA"]["n_customers"] == 1
    assert out["BETA"]["theil_s"] == 0.0


def test_theil_positive_and_bounded_for_skew(spark, tmp_path):
    # One customer holds ~all spend of a 2-customer nation: T must be
    # positive and below ln(n) = ln(2).
    from dataingestionengineprocess_spark.queries.agg import (
        agg_theil_inequality,
    )

    custs = [(1, "c1", 0, 0.0, "M"), (2, "c2", 0, 0.0, "M")]
    orders = [(10, 1, "O", 10000.0, "2024-01-01", "P"),
              (11, 2, "O", 1.0, "2024-01-02", "P")]
    r = agg_theil_inequality(
        spark, _cust_orders(spark, tmp_path, custs, orders)).collect()
    t = {x["n_name"]: x["theil_s"] for x in r}["ALPHA"]
    import math

    assert 0.0 < t < math.log(2) + 1e-9
