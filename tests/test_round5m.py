"""Unit/edge coverage for round-5m (temperature mix, permutation
test). Oracle gate in test_oracle_parity.py."""

from __future__ import annotations

from fixture_tables import write_documents, write_embeddings


def test_temperature_mix_flattens_shares(spark, tmp_path):
    # en 80 docs vs fr 20: raw shares 0.8/0.2; alpha = 0.3 tempering
    # pulls weights toward uniform -- fr's weight rises above its raw
    # share, en's falls -- and quotas still sum exactly to 10000.
    from dataingestionengineprocess_spark.queries.curation import (
        curation_temperature_mix,
    )

    rows = [(i, "t", "en", "s", 1) for i in range(80)]
    rows += [(100 + i, "t", "fr", "s", 1) for i in range(20)]
    out = {r["lang"]: r
           for r in curation_temperature_mix(
               spark, write_documents(spark, tmp_path, rows)).collect()}
    assert out["en"]["p_s"] == 0.8 and out["fr"]["p_s"] == 0.2
    assert out["fr"]["weight_s"] > 0.2
    assert out["en"]["weight_s"] < 0.8
    assert out["en"]["quota"] + out["fr"]["quota"] == 10000
    # 0.8^0.3 / (0.8^0.3 + 0.2^0.3) ~ 0.6018
    assert abs(out["en"]["weight_s"] - 0.6018) < 0.001


def test_temperature_mix_uniform_stays_uniform(spark, tmp_path):
    # Equal classes stay equal: weights 0.5/0.5, quotas 5000/5000.
    from dataingestionengineprocess_spark.queries.curation import (
        curation_temperature_mix,
    )

    rows = [(i, "t", "en", "s", 1) for i in range(10)]
    rows += [(100 + i, "t", "fr", "s", 1) for i in range(10)]
    out = {r["lang"]: r
           for r in curation_temperature_mix(
               spark, write_documents(spark, tmp_path, rows)).collect()}
    assert out["en"]["weight_s"] == out["fr"]["weight_s"] == 0.5
    assert out["en"]["quota"] == out["fr"]["quota"] == 5000


def test_permutation_test_separated_groups_significant(spark, tmp_path):
    # Class 0 scores hugely above the rest: no random relabeling can
    # match the observed gap -> p = 0.
    from dataingestionengineprocess_spark.queries.stat import (
        stat_permutation_test,
    )

    rows = [(i, [1000.0 + i, 0.0], 0) for i in range(10)]
    rows += [(100 + i, [float(i), 0.0], 1) for i in range(30)]
    r = stat_permutation_test(
        spark, write_embeddings(spark, tmp_path, rows)).collect()[0]
    assert r["n_perms"] >= 15  # degenerate single-group perms drop
    assert r["p_value_s"] == 0.0
    assert r["obs_diff_s"] > 900.0


def test_permutation_test_identical_groups_insignificant(spark,
                                                         tmp_path):
    # All scores equal: every |diff| is 0, observed too -> every
    # permutation "beats" it -> p = 1.
    from dataingestionengineprocess_spark.queries.stat import (
        stat_permutation_test,
    )

    rows = [(i, [5.0, 0.0], i % 2) for i in range(40)]
    r = stat_permutation_test(
        spark, write_embeddings(spark, tmp_path, rows)).collect()[0]
    assert r["obs_diff_s"] == 0.0
    assert r["p_value_s"] == 1.0
