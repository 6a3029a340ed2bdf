"""Unit/edge coverage for the round-4f queries (model-evaluation /
mixture-diagnostics tier). The oracle gate and plan shapes live in
test_oracle_parity.py / test_plan_shapes.py; this file drives the
analytic edges: perfect/reversed/degenerate AUC, 'und' confusion
classes, hand-computed Zipf fits, zero/positive KL, degenerate reward
groups, and the ESS extremes.
"""

from __future__ import annotations

import math

from fixture_tables import write_documents, write_events


# --- exact AUC ---------------------------------------------------------------


def test_auc_perfect_separation_is_one(spark, tmp_path):
    # Every 'en' doc longer than every non-'en' doc -> AUC = 1.
    from dataingestionengineprocess_spark.queries.ml import ml_auc_exact

    sf = write_documents(spark, tmp_path, [
        (0, "t", "en", "s", 100), (1, "t", "en", "s", 90),
        (2, "t", "de", "s", 10), (3, "t", "fr", "s", 20),
    ])
    r = ml_auc_exact(spark, sf).collect()[0]
    assert (r["n_pos"], r["n_neg"]) == (2, 2)
    assert r["auc_s"] == 1.0 and r["gini_s"] == 1.0


def test_auc_reversed_is_zero_and_ties_half(spark, tmp_path):
    from dataingestionengineprocess_spark.queries.ml import ml_auc_exact

    # reversed: every positive below every negative
    sf = write_documents(spark, tmp_path, [
        (0, "t", "en", "s", 1), (1, "t", "de", "s", 2),
    ])
    r = ml_auc_exact(spark, sf).collect()[0]
    assert r["auc_s"] == 0.0 and r["gini_s"] == -1.0

    # all scores identical: AUC = 1/2 by the tie half-credit
    sf2 = write_documents(spark, tmp_path, [
        (0, "t", "en", "s", 7), (1, "t", "de", "s", 7),
        (2, "t", "en", "s", 7), (3, "t", "es", "s", 7),
    ])
    r2 = ml_auc_exact(spark, sf2).collect()[0]
    assert r2["auc_s"] == 0.5 and r2["gini_s"] == 0.0


def test_auc_mixed_matches_hand_count(spark, tmp_path):
    # pos scores {3, 1}, neg scores {2, 2}: pairs won = (3>2)x2 = 2,
    # lost = (1<2)x2 = 2, no ties -> AUC = 2/4 = 0.5... make it
    # asymmetric: pos {3, 2}, neg {2, 1}: wins = 3>2, 3>1, 2>1 = 3,
    # tie = (2, 2) = 0.5 -> AUC = 3.5/4 = 0.875.
    from dataingestionengineprocess_spark.queries.ml import ml_auc_exact

    sf = write_documents(spark, tmp_path, [
        (0, "t", "en", "s", 3), (1, "t", "en", "s", 2),
        (2, "t", "de", "s", 2), (3, "t", "de", "s", 1),
    ])
    r = ml_auc_exact(spark, sf).collect()[0]
    assert r["auc_s"] == 0.875


# --- langid confusion --------------------------------------------------------


def test_confusion_counts_und_and_misses(spark, tmp_path):
    # 'the fast' -> en (hit), 'data table' -> es, 'xyz' -> und.
    # Truth: doc0 en (tp for en), doc1 en (predicted es: fn for en,
    # fp for es), doc2 de (predicted und: fn for de, fp for und).
    from dataingestionengineprocess_spark.queries.quality import (
        quality_langid_confusion,
    )

    sf = write_documents(spark, tmp_path, [
        (0, "the fast", "en", "s", 8),
        (1, "data table", "en", "s", 10),
        (2, "xyz qqq", "de", "s", 7),
    ])
    out = {r["class"]: r for r in quality_langid_confusion(spark, sf).collect()}
    assert set(out) == {"en", "de", "es", "und"}
    en = out["en"]
    assert (en["n_true"], en["n_pred"], en["tp"], en["fp"], en["fn"]) \
        == (2, 1, 1, 0, 1)
    assert en["precision_s"] == 1.0 and en["recall_s"] == 0.5
    # f1 = 2*1/(1+2) = 0.666667 (floor snap of 2/3)
    assert abs(en["f1_s"] - 0.666667) < 1e-9
    es = out["es"]
    assert (es["n_true"], es["n_pred"], es["tp"]) == (0, 1, 0)
    assert es["precision_s"] == 0.0 and es["recall_s"] == 0.0
    und = out["und"]
    assert (und["n_true"], und["n_pred"], und["tp"]) == (0, 1, 0)
    de = out["de"]
    assert (de["n_true"], de["n_pred"], de["fn"]) == (1, 0, 1)
    assert de["precision_s"] == 0.0  # zero-denominator branch


# --- Zipf slope --------------------------------------------------------------


def _snap6(x: float) -> float:
    return math.floor(x * 1e6 + 0.5) / 1e6


def test_zipf_slope_matches_hand_ols(spark, tmp_path):
    # Corpus: 'a'x8 'b'x4 'c'x2 'd'x1 -> ranks 1..4. Replicate the
    # quantized OLS in Python and compare exactly.
    from dataingestionengineprocess_spark.queries.text import text_zipf_slope

    text = " ".join(["a"] * 8 + ["b"] * 4 + ["c"] * 2 + ["d"])
    sf = write_documents(spark, tmp_path, [(0, text, "en", "s", len(text))])
    r = text_zipf_slope(spark, sf).collect()[0]
    assert r["k"] == 4

    xs = [_snap6(math.log(rk)) for rk in (1, 2, 3, 4)]
    ys = [_snap6(math.log(c)) for c in (8, 4, 2, 1)]
    q = lambda v: math.floor(v * 1e6 + 0.5)
    k = 4
    sx, sy = sum(q(x) for x in xs), sum(q(y) for y in ys)
    sxy = sum(q(x * y) for x, y in zip(xs, ys))
    sxx = sum(q(x * x) for x in xs)
    num = (k * sxy) / 1e6 - (sx / 1e6) * (sy / 1e6)
    den = (k * sxx) / 1e6 - (sx / 1e6) * (sx / 1e6)
    slope = _snap6(num / den)
    assert r["slope_s"] == slope
    assert r["intercept_s"] == _snap6(sy / 1e6 / k - slope * (sx / 1e6 / k))
    # halving per rank falls FASTER than Zipf's 1/rank, so the fitted
    # slope sits well below -1 (hand OLS gives ~ -1.459)
    assert -1.6 < r["slope_s"] < -1.3


# --- KL divergence -----------------------------------------------------------


def test_kl_identical_sources_are_zero(spark, tmp_path):
    from dataingestionengineprocess_spark.queries.text import (
        text_kl_source_divergence,
    )

    sf = write_documents(spark, tmp_path, [
        (0, "a a b", "en", "s1", 5),
        (1, "a a b", "en", "s2", 5),
    ])
    out = {r["source"]: r["kl_s"] for r in
           text_kl_source_divergence(spark, sf).collect()}
    assert out == {"s1": 0.0, "s2": 0.0}


def test_kl_disjoint_vocab_matches_hand_value(spark, tmp_path):
    # s1 = all 'a', s2 = all 'b', equal sizes: P_s1(a)=1, Q(a)=1/2 ->
    # KL = ln 2 for both (after the per-term quantization).
    from dataingestionengineprocess_spark.queries.text import (
        text_kl_source_divergence,
    )

    sf = write_documents(spark, tmp_path, [
        (0, "a a a a", "en", "s1", 7),
        (1, "b b b b", "en", "s2", 7),
    ])
    out = {r["source"]: r["kl_s"] for r in
           text_kl_source_divergence(spark, sf).collect()}
    expect = math.floor(1.0 * math.log(2.0) * 1e6 + 0.5) / 1e6
    assert out["s1"] == expect and out["s2"] == expect


# --- GRPO normalization ------------------------------------------------------


def test_grpo_degenerate_groups_emit_zero(spark, tmp_path):
    # Singleton group and constant-reward group both z = 0.0.
    from dataingestionengineprocess_spark.queries.ml import (
        ml_reward_group_normalize,
    )

    sf = write_events(spark, tmp_path, [
        (1, "2024-01-01 09:00:00", 1, "purchase", 5.0, "{}"),
        (2, "2024-01-01 09:00:00", 2, "purchase", 3.0, "{}"),
        (3, "2024-01-01 10:00:00", 2, "purchase", 3.0, "{}"),
    ])
    out = {r["event_id"]: r["reward_z_s"] for r in
           ml_reward_group_normalize(spark, sf).collect()}
    assert out == {1: 0.0, 2: 0.0, 3: 0.0}


def test_grpo_two_event_group_is_plus_minus_one(spark, tmp_path):
    # Population std of {a, b} is |a-b|/2 -> z = +-1 exactly.
    from dataingestionengineprocess_spark.queries.ml import (
        ml_reward_group_normalize,
    )

    sf = write_events(spark, tmp_path, [
        (1, "2024-01-01 09:00:00", 7, "purchase", 10.0, "{}"),
        (2, "2024-01-01 10:00:00", 7, "purchase", 20.0, "{}"),
    ])
    out = {r["event_id"]: r["reward_z_s"] for r in
           ml_reward_group_normalize(spark, sf).collect()}
    assert out == {1: -1.0, 2: 1.0}


# --- effective sample size ---------------------------------------------------


def test_ess_equal_weights_ratio_one(spark, tmp_path):
    from dataingestionengineprocess_spark.queries.ml import (
        ml_effective_sample_size,
    )

    sf = write_documents(spark, tmp_path, [
        (i, "t", "en", "s", 50) for i in range(8)
    ])
    r = ml_effective_sample_size(spark, sf).collect()[0]
    assert r["n_docs"] == 8 and r["sum_w"] == 400
    assert r["ess_s"] == 8.0 and r["ess_ratio_s"] == 1.0


def test_ess_dominant_weight_collapses(spark, tmp_path):
    # One huge weight among near-zeros: ESS -> ~1, ratio ~ 1/n.
    from dataingestionengineprocess_spark.queries.ml import (
        ml_effective_sample_size,
    )

    sf = write_documents(spark, tmp_path,
               [(0, "t", "en", "s", 10000)]
               + [(i, "t", "en", "s", 1) for i in range(1, 10)])
    r = ml_effective_sample_size(spark, sf).collect()[0]
    assert r["n_docs"] == 10
    assert 1.0 <= r["ess_s"] < 1.01
    assert r["ess_ratio_s"] < 0.11
