"""Unit/edge coverage for the round-4t queries (XML source,
Pythagorean means, PRF threshold sweep). The oracle gate lives in
test_oracle_parity.py; this file plants XML-hostile names, pins the
AM >= GM >= HM chain, and hand-tracks a confusion table.
"""

from __future__ import annotations

from fixture_tables import write_embeddings, write_lineitem


def _suppliers(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "s_suppkey long, s_name string, s_nationkey int, "
              "s_acctbal double",
    ).write.mode("overwrite").parquet(str(tmp_path / "supplier.parquet"))
    return str(tmp_path)


def _lineitem(spark, tmp_path, prices):
    return write_lineitem(
        spark, tmp_path,
        [(i, 1, 1, i, 1.0, p, 0.0, 0.0, "A", "O", "2024-01-01")
         for i, p in enumerate(prices)])


# --- XML source --------------------------------------------------------------


def test_xml_roundtrip_hostile_names(spark, tmp_path):
    # Names with XML metacharacters and unicode must survive the
    # writer's escaping byte-for-byte (length check + exact cents).
    from dataingestionengineprocess_spark.queries.source import (
        source_xml_roundtrip,
    )

    rows = [(1, "A&B <truck> \"co\"", 0, 12.34),
            (2, "naïve & sons », €50", 0, -5.67),
            (3, "plain", 1, 0.0)]
    out = {r["s_nationkey"]: r for r in source_xml_roundtrip(
        spark, _suppliers(spark, tmp_path, rows)).collect()}
    assert out[0]["n_supp"] == 2
    assert out[0]["bal_cents"] == 1234 + (-567)
    assert out[0]["name_bytes"] == len(rows[0][1]) + len(rows[1][1])
    assert out[1]["min_key"] == 3


# --- Pythagorean means -------------------------------------------------------


def test_pyth_means_chain_and_equality(spark, tmp_path):
    # Distinct values: AM > GM > HM strictly. All-equal values:
    # the three means coincide at the common value.
    from dataingestionengineprocess_spark.queries.agg import (
        agg_pythagorean_means,
    )

    r = agg_pythagorean_means(
        spark, _lineitem(spark, tmp_path, [1.0, 4.0, 16.0])).collect()[0]
    assert r["mean_arith_s"] > r["mean_geom_s"] > r["mean_harm_s"]
    assert r["mean_arith_s"] == 7.0
    assert abs(r["mean_geom_s"] - 4.0) < 1e-3  # (1*4*16)^(1/3)

    r2 = agg_pythagorean_means(
        spark, _lineitem(spark, tmp_path, [5.0, 5.0, 5.0])).collect()[0]
    assert r2["mean_arith_s"] == 5.0
    assert abs(r2["mean_geom_s"] - 5.0) < 1e-3
    assert abs(r2["mean_harm_s"] - 5.0) < 1e-3


# --- PRF sweep ---------------------------------------------------------------


def test_prf_hand_confusion(spark, tmp_path):
    # Scores 0.3/0.1/-0.2 with labels 0/1/0 (positive = label 0).
    # At thr 0.0: tp=1 (0.3), fp=1 (0.1), fn=1 (-0.2), tn=0.
    from dataingestionengineprocess_spark.queries.ml import (
        ml_threshold_sweep_prf,
    )

    rows = [(1, [0.3, 0.0], 0), (2, [0.1, 0.0], 1), (3, [-0.2, 0.0], 0)]
    out = {r["thr"]: r for r in ml_threshold_sweep_prf(
        spark, write_embeddings(spark, tmp_path, rows)).collect()}
    r0 = out[0.0]
    assert (r0["tp"], r0["fp"], r0["fn"], r0["tn"]) == (1, 1, 1, 0)
    assert r0["precision_s"] == 0.5
    assert r0["recall_s"] == 0.5
    assert r0["f1_s"] == 0.5


def test_prf_degenerate_no_predictions_null_precision(spark, tmp_path):
    # All scores below the top threshold: tp + fp = 0 there ->
    # precision is NULL (nullif), recall 0, f1 0.
    from dataingestionengineprocess_spark.queries.ml import (
        ml_threshold_sweep_prf,
    )

    rows = [(1, [-0.9, 0.0], 0), (2, [-0.8, 0.0], 1)]
    out = {r["thr"]: r for r in ml_threshold_sweep_prf(
        spark, write_embeddings(spark, tmp_path, rows)).collect()}
    top = out[0.4]
    assert (top["tp"], top["fp"]) == (0, 0)
    assert top["precision_s"] is None
    assert top["recall_s"] == 0.0
