"""Round-6b invariants: LPA communities + modularity, split
conformal coverage, RRF fusion, linear-SHAP attribution."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from dataingestionengineprocess_spark.catalog import load
from dataingestionengineprocess_spark.queries.graph import (
    graph_label_propagation,
    graph_modularity_communities,
)
from dataingestionengineprocess_spark.queries.ml import (
    ml_conformal_split,
    ml_shapley_linear,
)
from dataingestionengineprocess_spark.queries.text import (
    text_rrf_hybrid_retrieval,
)
from tests.conftest import SF_SMOKE


def test_lpa_labels_are_member_nodes(spark):
    # After any number of propagation rounds every label is some
    # node's id, and a node's label must belong to its 2-hop
    # neighborhood closure (labels only travel one edge per round).
    rows = graph_label_propagation(spark, SF_SMOKE).collect()
    nodes = {r["node"] for r in rows}
    assert all(r["label"] in nodes for r in rows)
    # Deterministic across runs (tie rule is total).
    again = graph_label_propagation(spark, SF_SMOKE).collect()
    assert rows == again


def test_modularity_invariants(spark):
    rows = graph_modularity_communities(spark, SF_SMOKE).collect()
    n_nodes = sum(r["n_nodes"] for r in rows)
    deg_sum = sum(r["deg_sum"] for r in rows)
    e_in = sum(r["e_in"] for r in rows)
    lpa_nodes = graph_label_propagation(spark, SF_SMOKE).count()
    # Communities partition the node set; handshake: sum(deg) = 2m.
    assert n_nodes == lpa_nodes
    m = deg_sum / 2
    assert e_in <= m
    # Global modularity Q = sum of contributions, in [-0.5, 1).
    q = sum(r["q_c_s"] for r in rows)
    assert -0.5 <= q < 1.0
    # Sum over c of (deg_c/2m)^2 <= 1 and e_in/m <= 1 individually.
    for r in rows:
        assert 0 <= r["e_in"] <= m
        assert r["q_c_s"] <= r["e_in"] / m + 1e-9


def test_conformal_coverage_near_nominal(spark):
    rows = ml_conformal_split(spark, SF_SMOKE).collect()
    # Segments whose calibration split has n_cal < 9 drop: with
    # alpha = 0.1, k = ceil(0.9 * (n + 1)) > n means qhat = +inf (the
    # standard small-n conformal degenerate case). At smoke scale
    # (150 customers) some of the 5 segments hit it; at sf0.01+ all
    # five survive (driver replica: 5 rows).
    assert 1 <= len(rows) <= 5
    for r in rows:
        assert r["n_cal"] >= 9
        assert r["n_cal"] > 0 and r["n_test"] > 0
        assert 0.0 <= r["coverage_s"] <= 1.0
        # Finite-sample conformal guarantee is >= 0.9 in expectation;
        # at smoke scale allow sampling slack but catch gross breaks
        # (e.g. an off-by-one rank making qhat the min residual).
        assert r["coverage_s"] >= 0.75
        assert r["qhat"] > 0


def test_conformal_quantile_rank_is_ceil_rule(spark):
    # Recompute one surviving segment's qhat in pure python.
    got_rows = ml_conformal_split(spark, SF_SMOKE).collect()
    cust = load(spark, SF_SMOKE, "customer").collect()
    seg = got_rows[0]["c_mktsegment"]
    train = [c for c in cust if c["c_custkey"] % 2 == 0
             and c["c_mktsegment"] == seg]
    cents = sum(math.floor(c["c_acctbal"] * 100 + 0.5) for c in train)
    pred = math.floor(cents / len(train) / 100.0 * 1e6 + 0.5) / 1e6
    cal = sorted(
        (math.floor(abs(c["c_acctbal"] - pred) * 1e6 + 0.5), c["c_custkey"])
        for c in cust
        if c["c_custkey"] % 4 == 1 and c["c_mktsegment"] == seg)
    k = ((len(cal) + 1) * 9 + 9) // 10
    want = cal[k - 1][0] / 1e6
    got = {r["c_mktsegment"]: r["qhat"] for r in got_rows}[seg]
    assert abs(got - want) < 1e-9


def test_rrf_scores_and_rank_consistency(spark):
    rows = text_rrf_hybrid_retrieval(spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= 20
    # Scores are the fusion of the two rank reciprocals, descending.
    scores = [r["rrf_s"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        want = 0.0
        if r["r_lex"] is not None:
            want += 1.0 / (60 + r["r_lex"])
        if r["r_dense"] is not None:
            want += 1.0 / (60 + r["r_dense"])
        assert abs(r["rrf_s"] - want) < 2e-6
    # The dense leg ranks every non-query embedding: rank 1 exists.
    assert any(r["r_dense"] == 1 for r in rows) or all(
        r["r_dense"] is None or r["r_dense"] > 1 for r in rows)


def test_shapley_linear_matches_closed_form(spark):
    li = load(spark, SF_SMOKE, "lineitem")
    m = li.agg(F.avg("l_quantity").alias("q")).collect()[0]["q"]
    got = ml_shapley_linear(spark, SF_SMOKE).collect()
    # Per-flag mean |phi_qty| ~= 2.0 * E|x - mean| computed directly
    # (quantization drift < 1e-5 of the magnitude).
    direct = {
        r["l_returnflag"]: r["d"]
        for r in li.groupBy("l_returnflag")
        .agg(F.avg(F.abs(2.0 * (F.col("l_quantity") - F.lit(m))))
             .alias("d")).collect()
    }
    for r in got:
        assert abs(r["mean_abs_phi_qty_s"]
                   - direct[r["l_returnflag"]]) < 1e-3
        assert r["n"] > 0
        assert r["mean_abs_phi_disc_s"] >= 0
        assert r["mean_abs_phi_tax_s"] >= 0
