"""Unit/edge coverage for round-5g (Welch t, ANOVA, Heaps growth).
Oracle gate in test_oracle_parity.py."""

from __future__ import annotations

import math

from fixture_tables import write_documents, write_embeddings


def test_welch_hand_case(spark, tmp_path):
    # x = {1, 2, 3} (mean 2, var 1), y = {5, 7} (mean 6, var 2):
    # se^2 = 1/3 + 1 = 4/3, t = -4 / sqrt(4/3) = -3.464102,
    # df = (4/3)^2 / ((1/3)^2/2 + 1^2/1) = 1.684211.
    from dataingestionengineprocess_spark.queries.stat import stat_welch_ttest

    rows = [(0, [1.0, 0.0], 0), (1, [2.0, 0.0], 0), (2, [3.0, 0.0], 0),
            (3, [5.0, 0.0], 1), (4, [7.0, 0.0], 1)]
    r = stat_welch_ttest(spark, write_embeddings(spark, tmp_path, rows)) \
        .collect()[0]
    assert (r["n1"], r["n2"]) == (3, 2)
    assert abs(r["t_s"] - (-4 / math.sqrt(4 / 3))) < 2e-6
    assert abs(r["df_s"] - (4 / 3) ** 2 / ((1 / 9) / 2 + 1)) < 2e-6


def test_welch_single_obs_group_null(spark, tmp_path):
    # A one-observation group has no variance -> t and df NULL.
    from dataingestionengineprocess_spark.queries.stat import stat_welch_ttest

    rows = [(0, [1.0, 0.0], 0), (1, [5.0, 0.0], 1), (2, [6.0, 0.0], 1)]
    r = stat_welch_ttest(spark, write_embeddings(spark, tmp_path, rows)) \
        .collect()[0]
    assert r["t_s"] is None and r["df_s"] is None


def test_anova_hand_case(spark, tmp_path):
    # groups {1,2,3}, {2,3,4}, {6,7,8}: grand mean 4,
    # SSB = 3*((2-4)^2 + (3-4)^2 + (7-4)^2) = 42, MSB = 21,
    # SSW = 6, MSW = 1 -> F = 21.
    from dataingestionengineprocess_spark.queries.stat import stat_anova_oneway

    rows, vid = [], 0
    for lbl, vals in [(0, [1, 2, 3]), (1, [2, 3, 4]), (2, [6, 7, 8])]:
        for v in vals:
            rows.append((vid, [float(v), 0.0], lbl))
            vid += 1
    out = stat_anova_oneway(
        spark, write_embeddings(spark, tmp_path, rows)).collect()
    assert len(out) == 3
    assert all(abs(r["f_s"] - 21.0) < 2e-5 for r in out)
    means = {r["label"]: r["mean_s"] for r in out}
    assert means == {0: 2.0, 1: 3.0, 2: 7.0}


def test_heaps_vocab_monotone_and_exact_end(spark, tmp_path):
    # 10 docs with all-new tokens each: vocab is strictly increasing
    # and the final checkpoint equals the full vocabulary; beta ~ 1
    # for linear growth.
    from dataingestionengineprocess_spark.queries.text import (
        text_vocab_growth_heaps,
    )

    rows = [(i, " ".join(f"d{i}w{j}" for j in range(5)), "en", "s", 1)
            for i in range(10)]
    out = text_vocab_growth_heaps(
        spark, write_documents(spark, tmp_path, rows)).collect()
    vocabs = [r["vocab"] for r in out]
    assert vocabs == sorted(vocabs)
    assert vocabs[-1] == 50
    assert out[-1]["n_tokens"] == 50
    assert abs(out[0]["beta_s"] - 1.0) < 1e-5


def test_heaps_repeated_corpus_flat_tail(spark, tmp_path):
    # Every doc is identical: vocab is flat after the first
    # checkpoint, so beta ~ 0.
    from dataingestionengineprocess_spark.queries.text import (
        text_vocab_growth_heaps,
    )

    rows = [(i, "same tokens everywhere", "en", "s", 1)
            for i in range(10)]
    out = text_vocab_growth_heaps(
        spark, write_documents(spark, tmp_path, rows)).collect()
    assert all(r["vocab"] == 3 for r in out)
    assert abs(out[0]["beta_s"]) < 1e-5
