"""Unit/edge coverage for the round-4g queries (statistical-dependence
/ data-governance tier). The oracle gate and plan shapes live in
test_oracle_parity.py / test_plan_shapes.py; this file drives the
analytic edges: independent vs perfectly-associated contingency
tables, MI = 0 / NMI = 1 extremes, identical / disjoint / nested
source vocabularies, homogeneous l = 1 classes, and a hand-replayed
md5 Laplace coin.
"""

from __future__ import annotations

import hashlib
import math

from fixture_tables import write_documents


def _customer(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "c_custkey long, c_nationkey long, c_acctbal double, "
              "c_mktsegment string",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    return str(tmp_path)


# --- chi-squared independence ------------------------------------------------


def test_chi2_exact_independence_is_zero(spark, tmp_path):
    # Counts are an exact product table (margins multiply out), so
    # every observed cell equals its expectation: chi2 = 0, V = 0.
    from dataingestionengineprocess_spark.queries.stat import (
        stat_chi2_independence,
    )

    rows, i = [], 0
    # lang margin 2:1, source margin 1:1 -> cells 2,2,1,1
    for lang, source, n in [("en", "a", 2), ("en", "b", 2),
                            ("de", "a", 1), ("de", "b", 1)]:
        for _ in range(n):
            rows.append((i, "t", lang, source, 10))
            i += 1
    r = stat_chi2_independence(spark, write_documents(spark, tmp_path, rows)).collect()[0]
    assert (r["n"], r["dof"]) == (6, 1)
    assert r["chi2_s"] == 0.0 and r["cramers_v_s"] == 0.0


def test_chi2_perfect_association_v_is_one(spark, tmp_path):
    # Diagonal 2x2 table: each lang pinned to one source -> V = 1 and
    # chi2 = n.
    from dataingestionengineprocess_spark.queries.stat import (
        stat_chi2_independence,
    )

    rows = [(0, "t", "en", "a", 1), (1, "t", "en", "a", 1),
            (2, "t", "de", "b", 1), (3, "t", "de", "b", 1)]
    r = stat_chi2_independence(spark, write_documents(spark, tmp_path, rows)).collect()[0]
    assert r["dof"] == 1
    assert r["chi2_s"] == 4.0 and r["cramers_v_s"] == 1.0


def test_chi2_matches_hand_computation(spark, tmp_path):
    # 2x2 observed [[3, 1], [1, 3]]: margins all 4, n = 8, every
    # expected cell = 2 -> chi2 = 4 * (1^2 / 2) = 2, V = sqrt(2/8).
    from dataingestionengineprocess_spark.queries.stat import (
        stat_chi2_independence,
    )

    rows, i = [], 0
    for lang, source, n in [("en", "a", 3), ("en", "b", 1),
                            ("de", "a", 1), ("de", "b", 3)]:
        for _ in range(n):
            rows.append((i, "t", lang, source, 10))
            i += 1
    r = stat_chi2_independence(spark, write_documents(spark, tmp_path, rows)).collect()[0]
    assert r["chi2_s"] == 2.0
    assert abs(r["cramers_v_s"] - math.sqrt(0.25)) < 1e-6


# --- mutual information ------------------------------------------------------


def test_mi_independent_bands_is_zero(spark, tmp_path):
    # n_chars band x lang forms a product table -> MI = 0, NMI = 0,
    # and the marginal entropies are the hand values ln 2.
    from dataingestionengineprocess_spark.queries.ml import (
        ml_mutual_information,
    )

    rows, i = [], 0
    for band_chars in (50, 150):          # bands 0 and 1
        for lang in ("en", "de"):
            rows.append((i, "t", lang, "s", band_chars))
            i += 1
    r = ml_mutual_information(spark, write_documents(spark, tmp_path, rows)).collect()[0]
    assert r["n"] == 4
    assert r["mi_s"] == 0.0 and r["nmi_s"] == 0.0
    assert abs(r["h_band_s"] - math.log(2)) < 1e-6
    assert abs(r["h_lang_s"] - math.log(2)) < 1e-6


def test_mi_deterministic_mapping_nmi_is_one(spark, tmp_path):
    # Lang fully determined by the band (and vice versa):
    # I = H_x = H_y -> NMI = 1.
    from dataingestionengineprocess_spark.queries.ml import (
        ml_mutual_information,
    )

    rows = [(0, "t", "en", "s", 50), (1, "t", "en", "s", 60),
            (2, "t", "de", "s", 150), (3, "t", "de", "s", 160)]
    r = ml_mutual_information(spark, write_documents(spark, tmp_path, rows)).collect()[0]
    assert abs(r["mi_s"] - math.log(2)) < 1e-6
    assert r["nmi_s"] == 1.0


# --- cross-source n-gram overlap ---------------------------------------------


def test_overlap_identical_sources_full_jaccard(spark, tmp_path):
    from dataingestionengineprocess_spark.queries.text import (
        text_source_ngram_overlap,
    )

    text = "the quick brown fox jumps"
    sf = write_documents(spark, tmp_path, [
        (0, text, "en", "a", 10), (1, text, "en", "b", 10)])
    rows = text_source_ngram_overlap(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["src_a"], r["src_b"]) == ("a", "b")
    assert r["n_common"] == 3  # 5 tokens -> 3 trigrams
    assert r["jaccard_s"] == 1.0 and r["containment_s"] == 1.0


def test_overlap_disjoint_sources_emit_no_pair(spark, tmp_path):
    from dataingestionengineprocess_spark.queries.text import (
        text_source_ngram_overlap,
    )

    sf = write_documents(spark, tmp_path, [
        (0, "alpha beta gamma delta", "en", "a", 10),
        (1, "one two three four", "en", "b", 10)])
    assert text_source_ngram_overlap(spark, sf).count() == 0


def test_overlap_nested_sources_containment_one(spark, tmp_path):
    # Source b's grams are a strict subset of a's: containment of the
    # smaller side = 1 while Jaccard < 1.
    from dataingestionengineprocess_spark.queries.text import (
        text_source_ngram_overlap,
    )

    sf = write_documents(spark, tmp_path, [
        (0, "a b c d e f", "en", "big", 10),   # grams: abc bcd cde def
        (1, "a b c d", "en", "small", 10)])    # grams: abc bcd
    r = text_source_ngram_overlap(spark, sf).collect()[0]
    assert r["n_common"] == 2
    assert r["containment_s"] == 1.0
    assert r["jaccard_s"] == 0.5  # 2 / (4 + 2 - 2)


def test_overlap_short_docs_produce_no_grams(spark, tmp_path):
    from dataingestionengineprocess_spark.queries.text import (
        text_source_ngram_overlap,
    )

    sf = write_documents(spark, tmp_path, [
        (0, "one two", "en", "a", 7), (1, "one two", "en", "b", 7)])
    assert text_source_ngram_overlap(spark, sf).count() == 0


# --- l-diversity audit -------------------------------------------------------


def test_ldiv_homogeneous_class_flagged(spark, tmp_path):
    # One class, every member shares the sensitive value: l = 1, all
    # rows at risk.
    from dataingestionengineprocess_spark.queries.gov import (
        gov_l_diversity_audit,
    )

    sf = _customer(spark, tmp_path, [
        (0, 1, 500.0, "AUTO"), (1, 1, 600.0, "AUTO"), (2, 1, 700.0, "AUTO")])
    r = gov_l_diversity_audit(spark, sf).collect()[0]
    assert (r["c_nationkey"], r["n_classes"]) == (1, 1)
    assert r["min_l"] == 1 and r["n_homogeneous"] == 1
    assert r["rows_at_risk"] == 3 and r["n_rows"] == 3


def test_ldiv_diverse_class_clean(spark, tmp_path):
    # l = 2 meets the threshold: nothing at risk even though k = 2.
    from dataingestionengineprocess_spark.queries.gov import (
        gov_l_diversity_audit,
    )

    sf = _customer(spark, tmp_path, [
        (0, 1, 500.0, "AUTO"), (1, 1, 600.0, "HOUSEHOLD")])
    r = gov_l_diversity_audit(spark, sf).collect()[0]
    assert r["min_l"] == 2 and r["n_homogeneous"] == 0
    assert r["rows_at_risk"] == 0 and r["n_rows"] == 2


def test_ldiv_band_boundary_splits_classes(spark, tmp_path):
    # 999.99 and 1000.0 land in different balance bands -> two
    # classes of one row each, both homogeneous.
    from dataingestionengineprocess_spark.queries.gov import (
        gov_l_diversity_audit,
    )

    sf = _customer(spark, tmp_path, [
        (0, 1, 999.99, "AUTO"), (1, 1, 1000.0, "AUTO")])
    r = gov_l_diversity_audit(spark, sf).collect()[0]
    assert r["n_classes"] == 2 and r["n_homogeneous"] == 2
    assert r["rows_at_risk"] == 2


def test_ldiv_negative_balance_bands(spark, tmp_path):
    # floor(-0.01 / 1000) = -1: negative balances get their own band
    # rather than folding into band 0.
    from dataingestionengineprocess_spark.queries.gov import (
        gov_l_diversity_audit,
    )

    sf = _customer(spark, tmp_path, [
        (0, 1, -0.01, "AUTO"), (1, 1, 0.01, "AUTO")])
    r = gov_l_diversity_audit(spark, sf).collect()[0]
    assert r["n_classes"] == 2


# --- DP noisy counts ---------------------------------------------------------


def _laplace_noise(source: str, eps: float = 1.0) -> float:
    """Reference replay of the query's md5 inverse-CDF draw."""
    h = hashlib.md5(f"{source}:dp".encode()).hexdigest()[:6]
    u = (int(h, 16) % 999999 - 499999.0) / 1000000.0
    if u == 0:
        noise = 0.0
    elif u > 0:
        noise = -(1.0 / eps) * math.log(1.0 - 2.0 * u)
    else:
        noise = (1.0 / eps) * math.log(1.0 + 2.0 * u)
    return math.floor(noise * 1e6 + 0.5) / 1e6


def test_dp_noise_matches_hand_replay(spark, tmp_path):
    from dataingestionengineprocess_spark.queries.gov import (
        gov_dp_noisy_counts,
    )

    sf = write_documents(spark, tmp_path, [
        (0, "t", "en", "web", 10), (1, "t", "en", "web", 10),
        (2, "t", "en", "books", 10)])
    rows = {r["source"]: r for r in gov_dp_noisy_counts(spark, sf).collect()}
    assert rows["web"]["true_n"] == 2 and rows["books"]["true_n"] == 1
    for src in ("web", "books"):
        want = _laplace_noise(src)
        assert abs(rows[src]["noise_s"] - want) < 1e-9, (src, want)
        assert rows[src]["noisy_n_s"] == rows[src]["true_n"] + rows[src]["noise_s"]


def test_dp_noise_is_deterministic_and_bounded(spark, tmp_path):
    # Same release twice -> identical noise; |noise| <= b * ln(5e5):
    # the mod-999999 coin keeps 1 - 2|u| >= 2e-6, so ln never sees 0.
    from dataingestionengineprocess_spark.queries.gov import (
        gov_dp_noisy_counts,
    )

    sf = write_documents(spark, tmp_path,
               [(i, "t", "en", f"s{i % 5}", 10) for i in range(20)])
    a = sorted(gov_dp_noisy_counts(spark, sf).collect())
    b = sorted(gov_dp_noisy_counts(spark, sf).collect())
    assert a == b
    for r in a:
        assert abs(r["noise_s"]) <= math.log(5e5) + 1e-6


def test_dp_boundary_coin_stays_finite():
    # The worst coin (m = 0 -> u = -0.499999) must yield a finite
    # noise: the documented reason the modulus is 999999, not 1e6.
    u = (0 - 499999.0) / 1000000.0
    noise = math.log(1.0 + 2.0 * u)
    assert math.isfinite(noise)
    assert abs(noise) <= math.log(5e5) + 1e-9
