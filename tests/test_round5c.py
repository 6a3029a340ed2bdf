"""Unit/edge coverage for round-5c (PSI drift, FK-orphan audit, dedup
savings). Oracle gate in test_oracle_parity.py."""

from __future__ import annotations

from fixture_tables import write_documents, write_orders


def test_psi_identical_halves_zero(spark, tmp_path):
    # The same price profile in both halves -> every term 0, TOTAL 0.
    from dataingestionengineprocess_spark.queries.ml import ml_psi_drift

    rows = []
    for i, price in enumerate([100.0, 100.0, 250000.0]):
        rows.append((i, 1, "O", price, "2024-01-05", "P"))
        rows.append((100 + i, 1, "O", price, "2024-01-25", "P"))
    out = {r["bucket"]: r
           for r in ml_psi_drift(spark, write_orders(spark, tmp_path, rows))
           .collect()}
    assert out["TOTAL"]["psi_s"] == 0.0
    assert out["TOTAL"]["c1"] == out["TOTAL"]["c2"] == 3
    assert out["0"]["c1"] == 2 and out["4"]["c1"] == 1  # 25M cents bin 4


def test_psi_shifted_distribution_positive(spark, tmp_path):
    # All mass in bucket 0 before, bucket 9 after -> large positive PSI.
    from dataingestionengineprocess_spark.queries.ml import ml_psi_drift

    rows = [(i, 1, "O", 10.0, "2024-01-05", "P") for i in range(5)]
    rows += [(10 + i, 1, "O", 999999.0, "2024-01-25", "P")
             for i in range(5)]
    out = {r["bucket"]: r
           for r in ml_psi_drift(spark, write_orders(spark, tmp_path, rows))
           .collect()}
    assert out["TOTAL"]["psi_s"] > 2.0
    assert out["9"]["c2"] == 5 and out["9"]["c1"] == 0


def test_fk_orphans_planted(spark, tmp_path):
    # A lineitem pointing at a missing order (and part/supplier), and
    # an order pointing at a missing customer, are counted as orphans.
    from pyspark.sql import functions as F
    from dataingestionengineprocess_spark.queries.quality import (
        quality_fk_orphans,
    )

    sf = str(tmp_path)
    spark.createDataFrame([(1, "r")], "r_regionkey long, r_name string") \
        .write.parquet(sf + "/region.parquet")
    spark.createDataFrame([(1, "n", 1)],
                          "n_nationkey long, n_name string, "
                          "n_regionkey long") \
        .write.parquet(sf + "/nation.parquet")
    spark.createDataFrame([(1, "c", 1)],
                          "c_custkey long, c_name string, "
                          "c_nationkey long") \
        .write.parquet(sf + "/customer.parquet")
    spark.createDataFrame([(1, "s", 1)],
                          "s_suppkey long, s_name string, "
                          "s_nationkey long") \
        .write.parquet(sf + "/supplier.parquet")
    spark.createDataFrame([(1, "p", "B")],
                          "p_partkey long, p_name string, "
                          "p_brand string") \
        .write.parquet(sf + "/part.parquet")
    spark.createDataFrame(
        [(1, 1, "O", 1.0, "2024-01-01", "P"),
         (2, 99, "O", 1.0, "2024-01-01", "P")],   # orphan custkey
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.to_timestamp("o_orderdate")) \
     .write.parquet(sf + "/orders.parquet")
    spark.createDataFrame(
        [(1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", "2024-01-02"),
         (77, 2, 3, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", "2024-01-02")],
        "l_orderkey long, l_partkey long, l_suppkey long, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate string",
    ).withColumn("l_shipdate", F.to_timestamp("l_shipdate")) \
     .write.parquet(sf + "/lineitem.parquet")

    out = {r["edge"]: r for r in quality_fk_orphans(spark, sf).collect()}
    assert out["lineitem.l_orderkey -> orders"]["n_orphans"] == 1
    assert out["lineitem.l_partkey -> part"]["n_orphans"] == 1
    assert out["lineitem.l_suppkey -> supplier"]["n_orphans"] == 1
    assert out["orders.o_custkey -> customer"]["n_orphans"] == 1
    assert out["orders.o_custkey -> customer"]["orphan_rate_s"] == 0.5
    assert out["nation.n_regionkey -> region"]["n_orphans"] == 0


def test_dedup_savings_cross_source_attribution(spark, tmp_path):
    # doc 0 (source a) is canonical (min id); its duplicate in source
    # b charges b's savings, not a's. Whitespace-variant text still
    # fingerprints as a duplicate.
    from dataingestionengineprocess_spark.queries.dedup import (
        dedup_savings_report,
    )

    rows = [
        (0, "hello world", "en", "a", 11),
        (1, "hello   world", "en", "b", 13),   # normalized dup of 0
        (2, "unique text", "en", "b", 11),
    ]
    out = {r["source"]: r
           for r in dedup_savings_report(
               spark, write_documents(spark, tmp_path, rows)).collect()}
    assert out["a"]["n_dupes"] == 0 and out["a"]["chars_saved"] == 0
    assert out["b"]["n_dupes"] == 1
    assert out["b"]["chars_saved"] == 13
    assert out["b"]["chars_total"] == 24
    assert out["b"]["saved_share_s"] == 0.541667
