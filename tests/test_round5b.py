"""Unit/edge coverage for round-5b (subject access report, Spearman,
rolling slope). Oracle gate in test_oracle_parity.py."""

from __future__ import annotations

from fixture_tables import write_embeddings, write_events


def test_sar_includes_inactive_subject(spark, sf_dir):
    # Fixture invariants: every customer row appears exactly once;
    # counts are non-negative; any customer absent from orders carries
    # zeros and NULL activity days.
    from dataingestionengineprocess_spark.queries.gov import (
        gov_subject_access_report,
    )
    from dataingestionengineprocess_spark.catalog import load

    out = gov_subject_access_report(spark, sf_dir).collect()
    n_cust = load(spark, sf_dir, "customer").count()
    assert len(out) == n_cust
    for r in out:
        if r["n_orders"] == 0:
            assert r["first_day"] is None and r["spend_cents"] == 0
        else:
            assert r["first_day"] <= r["last_day"]


def test_spearman_perfect_and_inverse(spark, tmp_path):
    from dataingestionengineprocess_spark.queries.stat import (  # noqa
        stat_mann_whitney,
    )
    from dataingestionengineprocess_spark.queries.stat import (
        stat_spearman_corr,
    )

    # monotone increasing pair -> rho = 1
    rows = [(i, [float(i), float(i * 2)], 0) for i in range(10)]
    r = stat_spearman_corr(spark, write_embeddings(spark, tmp_path, rows)) \
        .collect()[0]
    assert r["rho_s"] == 1.0
    # perfectly inverse -> rho = -1
    rows = [(i, [float(i), float(100 - i)], 0) for i in range(10)]
    r = stat_spearman_corr(spark, write_embeddings(spark, tmp_path, rows)) \
        .collect()[0]
    assert r["rho_s"] == -1.0


def test_spearman_ties_hand_case(spark, tmp_path):
    # s1 = [1, 2, 2, 3], s2 = [1, 2, 3, 4]: a-ranks x2 = [2, 5, 5, 8],
    # b-ranks x2 = [2, 4, 6, 8]. Pearson on those: rho = 0.9486833
    # -> snapped 0.948683.
    from dataingestionengineprocess_spark.queries.stat import (
        stat_spearman_corr,
    )

    rows = [(0, [1.0, 1.0], 0), (1, [2.0, 2.0], 0),
            (2, [2.0, 3.0], 0), (3, [3.0, 4.0], 0)]
    r = stat_spearman_corr(spark, write_embeddings(spark, tmp_path, rows)) \
        .collect()[0]
    assert r["n"] == 4
    assert r["rho_s"] == 0.948683


def test_spearman_constant_axis_null(spark, tmp_path):
    # A constant column has zero rank variance -> rho NULL, not a
    # division error.
    from dataingestionengineprocess_spark.queries.stat import (
        stat_spearman_corr,
    )

    rows = [(i, [5.0, float(i)], 0) for i in range(5)]
    r = stat_spearman_corr(spark, write_embeddings(spark, tmp_path, rows)) \
        .collect()[0]
    assert r["rho_s"] is None


def test_rolling_slope_linear_series(spark, tmp_path):
    # Counts 1,2,3,... per day (one extra event each day) -> slope 1.0
    # once the frame holds >= 2 points; first day NULL (degenerate).
    from dataingestionengineprocess_spark.queries.window import (
        window_rolling_slope,
    )

    rows, eid = [], 0
    for d in range(1, 6):
        for _ in range(d):
            rows.append((eid, f"2024-01-0{d} 01:00:00", 1, "view",
                         0.0, ""))
            eid += 1
    out = window_rolling_slope(
        spark, write_events(spark, tmp_path, rows)).collect()
    assert out[0]["slope_s"] is None
    assert all(r["slope_s"] == 1.0 for r in out[1:])
