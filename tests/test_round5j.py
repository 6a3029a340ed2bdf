"""Unit/edge coverage for round-5j (seasonal-naive backtest, price
index). Oracle gate in test_oracle_parity.py."""

from __future__ import annotations

from fixture_tables import write_events, write_lineitem


def test_snaive_perfect_weekly_pattern(spark, tmp_path):
    # A perfectly 7-periodic series: the lag-7 forecast is exact,
    # MAE = MAPE = 0 over the scored final week.
    from dataingestionengineprocess_spark.queries.events import (
        events_snaive_backtest,
    )

    rows, eid = [], 0
    for d in range(1, 15):                       # two identical weeks
        for _ in range((d - 1) % 7 + 1):         # counts 1..7 repeating
            rows.append((eid, f"2024-01-{d:02d} 01:00:00", 1, "view",
                         0.0, ""))
            eid += 1
    out = events_snaive_backtest(
        spark, write_events(spark, tmp_path, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_days"], r["total_abs_err"]) == (7, 0)
    assert r["mae_s"] == 0.0 and r["mape_s"] == 0.0


def test_snaive_known_error(spark, tmp_path):
    # Week 1 count 2/day, week 2 count 3/day: every scored day errs
    # by 1 -> MAE 1, MAPE = 1/3 (actual 3).
    from dataingestionengineprocess_spark.queries.events import (
        events_snaive_backtest,
    )

    rows, eid = [], 0
    for d in range(1, 8):
        for _ in range(2):
            rows.append((eid, f"2024-01-{d:02d} 01:00:00", 1, "view",
                         0.0, ""))
            eid += 1
    for d in range(8, 15):
        for _ in range(3):
            rows.append((eid, f"2024-01-{d:02d} 01:00:00", 1, "view",
                         0.0, ""))
            eid += 1
    r = events_snaive_backtest(
        spark, write_events(spark, tmp_path, rows)).collect()[0]
    assert (r["n_days"], r["total_abs_err"], r["mae_s"]) == (7, 7, 1.0)
    assert r["mape_s"] == 0.333333


def test_price_index_hand_case(spark, tmp_path):
    # Part 1: p1 = 1.00 q1 = 2; p2 = 2.00 q2 = 1.
    # Laspeyres = (200*2)/(100*2) = 2.0; Paasche = 200/100 = 2.0;
    # Fisher = 2.0. A part traded only in period 1 is excluded.
    from dataingestionengineprocess_spark.queries.orders import (
        part_price_index,
    )

    sf = write_lineitem(spark, tmp_path, [
        (1, 1, 1, 1, 2.0, 2.00, 0.0, 0.0, "N", "O", "2024-01-05"),
        (2, 1, 1, 1, 1.0, 2.00, 0.0, 0.0, "N", "O", "2024-01-20"),
        (3, 9, 1, 1, 1.0, 5.00, 0.0, 0.0, "N", "O", "2024-01-05"),
    ])
    r = part_price_index(spark, sf).collect()[0]
    assert r["n_parts"] == 1
    assert r["laspeyres_s"] == 2.0
    assert r["paasche_s"] == 2.0
    assert r["fisher_s"] == 2.0


def test_price_index_mixed_direction(spark, tmp_path):
    # Two parts, one doubling and one halving with asymmetric
    # quantities: Laspeyres and Paasche diverge, Fisher in between.
    from dataingestionengineprocess_spark.queries.orders import (
        part_price_index,
    )

    sf = write_lineitem(spark, tmp_path, [
        # part 1: p 1.00 -> 2.00, q1 = 10, q2 = 1
        (1, 1, 1, 1, 10.0, 10.00, 0.0, 0.0, "N", "O", "2024-01-05"),
        (2, 1, 1, 1, 1.0, 2.00, 0.0, 0.0, "N", "O", "2024-01-20"),
        # part 2: p 2.00 -> 1.00, q1 = 1, q2 = 10
        (3, 2, 1, 1, 1.0, 2.00, 0.0, 0.0, "N", "O", "2024-01-05"),
        (4, 2, 1, 1, 10.0, 10.00, 0.0, 0.0, "N", "O", "2024-01-20"),
    ])
    r = part_price_index(spark, sf).collect()[0]
    assert r["n_parts"] == 2
    # L = (200*10 + 100*1)/(100*10 + 200*1) = 2100/1200 = 1.75
    assert r["laspeyres_s"] == 1.75
    # P = (200*1 + 100*10)/(100*1 + 200*10) = 1200/2100
    assert r["paasche_s"] == 0.571429
    import math
    assert abs(r["fisher_s"] - math.sqrt(1.75 * 1200 / 2100)) < 2e-6
