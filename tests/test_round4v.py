"""Unit/edge coverage for the round-4v queries (ACF, KS exponential
fit, lift/gains). The oracle gate lives in test_oracle_parity.py;
this file hand-tracks a perfectly periodic series, a metronomic gap
train, and a perfectly separating score.
"""

from __future__ import annotations

from fixture_tables import write_embeddings, write_events


# --- ACF ---------------------------------------------------------------------


def test_acf_periodic_series(spark, tmp_path):
    # Counts alternate 2,0,2,0,... over 8 days (odd days absent from
    # events entirely -- the densified axis must supply exact
    # zeros): acf(1) = -1, acf(2) = +1.
    from dataingestionengineprocess_spark.queries.events import (
        events_autocorrelation,
    )

    rows, eid = [], 0
    for d in range(0, 8, 2):
        for j in range(2):
            rows.append((eid, f"2024-01-{d + 1:02d} 10:0{j}:00", 1,
                         "view", 0.0, ""))
            eid += 1
    out = {r["lag_days"]: r["acf_s"] for r in events_autocorrelation(
        spark, write_events(spark, tmp_path, rows)).collect()}
    # axis is 0..6 (7 days), tot 8: cy = 7y-8 alternates 6/-8.
    # acf(1) = -288/336, acf(2) = +236/336 -- the truncated-overlap
    # estimator, NOT +/-1 (numerator only spans n-k pairs).
    assert out[1] == -0.857143
    assert out[2] == 0.702381


def test_acf_constant_series_null(spark, tmp_path):
    # A constant series has zero variance: den = 0 -> acf NULL via
    # nullif, not a division error (ANSI mode).
    from dataingestionengineprocess_spark.queries.events import (
        events_autocorrelation,
    )

    rows = [(d, f"2024-01-{d + 1:02d} 10:00:00", 1, "view", 0.0, "")
            for d in range(5)]
    out = events_autocorrelation(
        spark, write_events(spark, tmp_path, rows)).collect()
    assert all(r["acf_s"] is None for r in out)
    assert all(r["den"] == 0 for r in out)


# --- KS exponential ----------------------------------------------------------


def test_ks_metronome_far_from_exponential(spark, tmp_path):
    # Constant 1-second gaps: the empirical CDF is 0 just below the
    # common gap while the fit already reached 1 - 1/e, so
    # D = 1 - 1/e (the left-side bound at rank 1). n = 9 gaps.
    from dataingestionengineprocess_spark.queries.stat import (
        stat_ks_exponential,
    )
    import math

    rows = [(i, f"2024-01-01 00:00:{i:02d}", 1, "tick", 0.0, "")
            for i in range(10)]
    r = stat_ks_exponential(
        spark, write_events(spark, tmp_path, rows)).collect()[0]
    assert r["n_gaps"] == 9
    assert abs(r["ks_stat_s"] - (1 - math.exp(-1))) < 1e-5


def test_ks_single_gap_type(spark, tmp_path):
    # One gap: F_emp is 0 just below the only point where the fit is
    # already 1 - 1/e, so D = 1 - 1/e -- and no crash on n = 1.
    from dataingestionengineprocess_spark.queries.stat import (
        stat_ks_exponential,
    )
    import math

    rows = [(0, "2024-01-01 00:00:00", 1, "tick", 0.0, ""),
            (1, "2024-01-01 00:00:05", 1, "tick", 0.0, "")]
    r = stat_ks_exponential(
        spark, write_events(spark, tmp_path, rows)).collect()[0]
    assert r["n_gaps"] == 1
    assert abs(r["ks_stat_s"] - (1 - math.exp(-1))) < 1e-5


# --- lift / gains ------------------------------------------------------------


def test_lift_perfect_separation(spark, tmp_path):
    # 20 rows, 4 positives all with the highest scores: decile 1
    # (2 rows) and decile 2 capture 2 positives each -> gains 0.5
    # then 1.0; decile-1 lift = (2/2)/(4/20) = 5.
    from dataingestionengineprocess_spark.queries.ml import ml_lift_gain_table

    rows = [(i, [1.0 - 0.01 * i, 0.0], 0 if i < 4 else 1)
            for i in range(20)]
    out = {r["decile"]: r for r in ml_lift_gain_table(
        spark, write_embeddings(spark, tmp_path, rows)).collect()}
    assert out[1]["n_pos"] == 2 and out[1]["gain_s"] == 0.5
    assert out[1]["lift_s"] == 5.0
    assert out[2]["cum_pos"] == 4 and out[2]["gain_s"] == 1.0
    assert out[10]["cum_pos"] == 4
    assert abs(out[10]["lift_s"] - 1.0) < 1e-6  # full-set lift is 1


def test_lift_no_positives_null_gain(spark, tmp_path):
    # Zero positives: gain divides by nullif(0) -> NULL, lift NULL,
    # no ANSI division error.
    from dataingestionengineprocess_spark.queries.ml import ml_lift_gain_table

    rows = [(i, [0.1 * i, 0.0], 1) for i in range(10)]
    out = ml_lift_gain_table(
        spark, write_embeddings(spark, tmp_path, rows)).collect()
    assert all(r["gain_s"] is None for r in out)
    assert all(r["lift_s"] is None for r in out)
