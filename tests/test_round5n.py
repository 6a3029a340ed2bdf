"""Unit/edge coverage for round-5n (DiD promo lift, transitivity
audit). Oracle gate in test_oracle_parity.py."""

from __future__ import annotations

from fixture_tables import write_documents


def _lineitem_part(spark, tmp_path, lines, parts):
    from pyspark.sql import functions as F

    spark.createDataFrame(
        lines, "l_orderkey long, l_partkey long, l_suppkey long, "
               "l_linenumber int, l_quantity double, "
               "l_extendedprice double, l_discount double, l_tax double, "
               "l_returnflag string, l_linestatus string, "
               "l_shipdate string",
    ).withColumn("l_shipdate", F.to_timestamp("l_shipdate")) \
     .write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    spark.createDataFrame(
        parts, "p_partkey long, p_name string, p_brand string, "
               "p_type string, p_size int, p_retailprice double",
    ).write.mode("overwrite").parquet(str(tmp_path / "part.parquet"))
    return str(tmp_path)


def test_did_hand_case(spark, tmp_path):
    # control: 10 -> 12 (+2); treated: 20 -> 30 (+10). DiD = +8.
    from dataingestionengineprocess_spark.queries.orders import (
        orders_promo_lift_did,
    )

    parts = [(1, "p", "B", "PROMO", 1, 1.0),
             (2, "p", "B", "SMALL", 1, 1.0)]
    lines = [
        (1, 1, 1, 1, 1.0, 20.0, 0.0, 0.0, "N", "O", "2024-01-05"),
        (2, 1, 1, 1, 1.0, 30.0, 0.0, 0.0, "N", "O", "2024-01-20"),
        (3, 2, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", "2024-01-05"),
        (4, 2, 1, 1, 1.0, 12.0, 0.0, 0.0, "N", "O", "2024-01-20"),
    ]
    out = orders_promo_lift_did(
        spark, _lineitem_part(spark, tmp_path, lines, parts)).collect()
    total = [r for r in out if r["treated"] == -1][0]
    assert total["did_s"] == 8.0
    cells = {(r["treated"], r["period"]): r["mean_rev_s"]
             for r in out if r["treated"] >= 0}
    assert cells == {(1, 1): 20.0, (1, 2): 30.0,
                     (0, 1): 10.0, (0, 2): 12.0}


def test_did_parallel_trends_zero(spark, tmp_path):
    # Both groups move by the same amount: DiD = 0 exactly.
    from dataingestionengineprocess_spark.queries.orders import (
        orders_promo_lift_did,
    )

    parts = [(1, "p", "B", "PROMO", 1, 1.0),
             (2, "p", "B", "SMALL", 1, 1.0)]
    lines = [
        (1, 1, 1, 1, 1.0, 20.0, 0.0, 0.0, "N", "O", "2024-01-05"),
        (2, 1, 1, 1, 1.0, 25.0, 0.0, 0.0, "N", "O", "2024-01-20"),
        (3, 2, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", "2024-01-05"),
        (4, 2, 1, 1, 1.0, 15.0, 0.0, 0.0, "N", "O", "2024-01-20"),
    ]
    out = orders_promo_lift_did(
        spark, _lineitem_part(spark, tmp_path, lines, parts)).collect()
    assert [r for r in out if r["treated"] == -1][0]["did_s"] == 0.0


def test_transitivity_triangle_vs_chain(spark, tmp_path):
    # Three mutually-identical docs form a closed triangle (closure
    # 1.0); a separate chain a-b-c where a and c share nothing stays
    # open. Here: docs 0,1,2 identical -> triangle. Expect 3 edges,
    # 3 two-paths, all closed.
    from dataingestionengineprocess_spark.queries.dedup import (
        dedup_transitivity_audit,
    )

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    rows = [(i, base, "en", "s", 1) for i in range(3)]
    rows.append((9, " ".join(f"w{i}" for i in range(20)), "en", "s", 1))
    r = dedup_transitivity_audit(
        spark, write_documents(spark, tmp_path, rows)).collect()[0]
    assert r["n_edges"] == 3
    assert r["n_two_paths"] == 3
    assert r["n_closed"] == 3
    assert r["closure_rate_s"] == 1.0
