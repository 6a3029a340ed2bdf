"""Unit/edge coverage for round-5h (isotonic calibration, Brier
decomposition). Oracle gate in test_oracle_parity.py."""

from __future__ import annotations

from fixture_tables import write_embeddings


def _mk(score: float, positive: bool, vid: int):
    # label 0 is the positive class in these queries
    return (vid, [score, 0.0], 0 if positive else 1)


def test_isotonic_monotone_output(spark, sf_dir):
    # The fitted sequence is non-decreasing in bin order on the
    # fixture -- the defining isotonic invariant.
    from dataingestionengineprocess_spark.queries.ml import (
        ml_isotonic_calibration,
    )

    out = ml_isotonic_calibration(spark, sf_dir).collect()
    isos = [r["iso_s"] for r in out]
    assert isos == sorted(isos)
    assert all(0.0 <= v <= 1.0 for v in isos)


def test_isotonic_pools_violator(spark, tmp_path):
    # Three populated bins with rates 0.0, 1.0, 0.0 (middle violates
    # monotonicity downward): PAV pools the last two bins to 0.5
    # while the first stays 0. Scores chosen so sigmoid lands in
    # distinct bins: -3 -> ~0.047 (bin 0), 0 -> 0.5 (bin 10),
    # +3 -> ~0.953 (bin 19).
    from dataingestionengineprocess_spark.queries.ml import (
        ml_isotonic_calibration,
    )

    rows = []
    vid = 0
    for _ in range(4):
        rows.append(_mk(-3.0, False, vid)); vid += 1
    for _ in range(4):
        rows.append(_mk(0.0, True, vid)); vid += 1
    for _ in range(4):
        rows.append(_mk(3.0, False, vid)); vid += 1
    out = ml_isotonic_calibration(
        spark, write_embeddings(spark, tmp_path, rows)).collect()
    assert [r["rate_s"] for r in out] == [0.0, 1.0, 0.0]
    assert [r["iso_s"] for r in out] == [0.0, 0.5, 0.5]


def test_isotonic_identity_on_monotone_input(spark, tmp_path):
    # Already-monotone rates are returned unchanged.
    from dataingestionengineprocess_spark.queries.ml import (
        ml_isotonic_calibration,
    )

    rows, vid = [], 0
    for _ in range(4):
        rows.append(_mk(-3.0, False, vid)); vid += 1
    for i in range(4):
        rows.append(_mk(0.0, i < 2, vid)); vid += 1
    for _ in range(4):
        rows.append(_mk(3.0, True, vid)); vid += 1
    out = ml_isotonic_calibration(
        spark, write_embeddings(spark, tmp_path, rows)).collect()
    assert [r["rate_s"] for r in out] == [0.0, 0.5, 1.0]
    assert [r["iso_s"] for r in out] == [0.0, 0.5, 1.0]


def test_brier_decomposition_identity(spark, sf_dir):
    # brier_raw = rel - res + unc + within-bin-variance; wbv >= 0 and
    # small, so the identity holds within the binning slack. All
    # components bounded sanely.
    from dataingestionengineprocess_spark.queries.ml import (
        ml_brier_decomposition,
    )

    r = ml_brier_decomposition(spark, sf_dir).collect()[0]
    assert 0.0 <= r["unc_s"] <= 0.25
    assert r["rel_s"] >= 0.0 and r["res_s"] >= 0.0
    wbv = r["brier_raw_s"] - (r["rel_s"] - r["res_s"] + r["unc_s"])
    assert -1e-4 <= wbv <= 0.05


def test_brier_perfect_forecaster_bins(spark, tmp_path):
    # Scores +-3 perfectly separate classes: raw Brier ~ sigmoid
    # residual^2, resolution ~ uncertainty, reliability small.
    from dataingestionengineprocess_spark.queries.ml import (
        ml_brier_decomposition,
    )

    rows, vid = [], 0
    for _ in range(5):
        rows.append(_mk(3.0, True, vid)); vid += 1
        rows.append(_mk(-3.0, False, vid)); vid += 1
    r = ml_brier_decomposition(
        spark, write_embeddings(spark, tmp_path, rows)).collect()[0]
    assert r["unc_s"] == 0.25
    assert r["res_s"] == 0.25          # bins match classes exactly
    assert abs(r["rel_s"] - 0.002249) < 1e-6  # (1 - sigmoid(3))^2
    assert abs(r["brier_raw_s"] - 0.002249) < 1e-6
