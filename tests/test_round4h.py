"""Unit/edge coverage for the round-4h queries (lifecycle /
concentration / distinctiveness tier). The oracle gate and plan
shapes live in test_oracle_parity.py / test_plan_shapes.py; this file
drives the analytic edges: hand-replayed KM curves with censoring and
a kill step, perfect/independent basket lifts, degenerate and maximal
Gini, sign symmetry of the log-odds z, and hand-computed seasonal
indices.
"""

from __future__ import annotations

import math

from fixture_tables import write_documents, write_events


def _star(spark, tmp_path, customers, orders):
    # minimal region/nation/customer/orders star for the Gini query
    spark.createDataFrame(
        [(0, "AMERICA", ""), (1, "EUROPE", "")],
        "r_regionkey long, r_name string, r_comment string",
    ).write.mode("overwrite").parquet(str(tmp_path / "region.parquet"))
    spark.createDataFrame(
        [(0, "US", 0, ""), (1, "DE", 1, "")],
        "n_nationkey long, n_name string, n_regionkey long, "
        "n_comment string",
    ).write.mode("overwrite").parquet(str(tmp_path / "nation.parquet"))
    spark.createDataFrame(
        customers, "c_custkey long, c_nationkey long, c_acctbal double, "
                   "c_mktsegment string",
    ).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_totalprice double",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    return str(tmp_path)


# --- Kaplan-Meier ------------------------------------------------------------


def test_km_hand_replayed_curve_with_censoring(spark, tmp_path):
    # Users: A dur 1 (death), B dur 2 (death), C dur 3 = max day
    # (censored). Steps: t=1 n=3 d=1 -> S=2/3; t=2 n=2 d=1 -> S=1/3;
    # t=3 n=1 d=0 c=1 -> S stays 1/3.
    from dataingestionengineprocess_spark.queries.events import (
        events_kaplan_meier,
    )

    sf = write_events(spark, tmp_path, [
        (0, "2024-01-01 00:00:00", 1, "view", 0.0, ""),
        (1, "2024-01-02 00:00:00", 1, "view", 0.0, ""),
        (2, "2024-01-01 00:00:00", 2, "view", 0.0, ""),
        (3, "2024-01-03 00:00:00", 2, "view", 0.0, ""),
        (4, "2024-01-01 00:00:00", 3, "view", 0.0, ""),
        (5, "2024-01-04 00:00:00", 3, "view", 0.0, ""),
    ])
    rows = {r["dur"]: r for r in events_kaplan_meier(spark, sf).collect()}
    assert (rows[1]["n_risk"], rows[1]["d"], rows[1]["c"]) == (3, 1, 0)
    assert abs(rows[1]["surv_s"] - 2 / 3) < 2e-6
    assert (rows[2]["n_risk"], rows[2]["d"]) == (2, 1)
    assert abs(rows[2]["surv_s"] - 1 / 3) < 2e-6
    assert (rows[3]["n_risk"], rows[3]["d"], rows[3]["c"]) == (1, 0, 1)
    assert rows[3]["surv_s"] == rows[2]["surv_s"]  # censoring: no drop


def test_km_kill_step_pins_survival_to_zero(spark, tmp_path):
    # A duration step where EVERYONE still at risk dies: user A
    # (fd=0, ld=3 -> dur 3, a death since max day = 5) is the only
    # user with dur >= 3, so at t=3 d = n_risk = 1 and survival must
    # be EXACTLY 0 -- the kill flag, not exp(ln(0)). User B's single
    # event on the max day censors at dur 0 without a drop.
    from dataingestionengineprocess_spark.queries.events import (
        events_kaplan_meier,
    )

    sf = write_events(spark, tmp_path, [
        (0, "2024-01-01 00:00:00", 1, "view", 0.0, ""),
        (1, "2024-01-04 00:00:00", 1, "view", 0.0, ""),
        (2, "2024-01-06 00:00:00", 2, "view", 0.0, ""),
    ])
    rows = {r["dur"]: r for r in events_kaplan_meier(spark, sf).collect()}
    assert (rows[0]["n_risk"], rows[0]["d"], rows[0]["c"]) == (2, 0, 1)
    assert rows[0]["surv_s"] == 1.0
    assert (rows[3]["n_risk"], rows[3]["d"]) == (1, 1)
    assert rows[3]["surv_s"] == 0.0


def test_km_single_user_censored_survival_one(spark, tmp_path):
    from dataingestionengineprocess_spark.queries.events import (
        events_kaplan_meier,
    )

    sf = write_events(spark, tmp_path, [
        (0, "2024-01-01 00:00:00", 1, "view", 0.0, ""),
        (1, "2024-01-03 00:00:00", 1, "view", 0.0, ""),
    ])
    r = events_kaplan_meier(spark, sf).collect()
    assert len(r) == 1
    assert (r[0]["dur"], r[0]["d"], r[0]["c"]) == (2, 0, 1)
    assert r[0]["surv_s"] == 1.0


# --- basket lift -------------------------------------------------------------


def _lineitem_part(spark, tmp_path, baskets):
    # baskets: list of (orderkey, [brands]); parts synthesized per brand
    brands = sorted({b for _, bs in baskets for b in bs})
    part_rows = [(i, f"part{i}", b) for i, b in enumerate(brands)]
    brand_pk = {b: i for i, b in enumerate(brands)}
    li_rows = []
    k = 0
    for ok, bs in baskets:
        for b in bs:
            li_rows.append((ok, brand_pk[b], k, 1.0))
            k += 1
    spark.createDataFrame(
        part_rows, "p_partkey long, p_name string, p_brand string",
    ).write.mode("overwrite").parquet(str(tmp_path / "part.parquet"))
    spark.createDataFrame(
        li_rows, "l_orderkey long, l_partkey long, l_linenumber long, "
                 "l_quantity double",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    return str(tmp_path)


def test_basket_perfect_cooccurrence_lift(spark, tmp_path):
    # A and B always together in 2 of 4 orders: supp=1/2, conf=1,
    # lift = (1/2) / (1/2 * 1/2) = 2.
    from dataingestionengineprocess_spark.queries.orders import (
        basket_brand_lift,
    )

    sf = _lineitem_part(spark, tmp_path, [
        (1, ["A", "B"]), (2, ["A", "B"]), (3, ["C"]), (4, ["C"])])
    rows = basket_brand_lift(spark, sf).collect()
    r = [x for x in rows if x["brand_a"] == "A" and x["brand_b"] == "B"][0]
    assert r["n_ab"] == 2
    assert r["support_s"] == 0.5
    assert r["confidence_s"] == 1.0
    assert r["lift_s"] == 2.0


def test_basket_independent_brands_lift_one(spark, tmp_path):
    # A in every order, B in every order -> lift exactly 1.
    from dataingestionengineprocess_spark.queries.orders import (
        basket_brand_lift,
    )

    sf = _lineitem_part(spark, tmp_path, [
        (1, ["A", "B"]), (2, ["A", "B"]), (3, ["A", "B"])])
    r = basket_brand_lift(spark, sf).collect()[0]
    assert r["lift_s"] == 1.0 and r["confidence_s"] == 1.0


def test_basket_duplicate_lines_count_once(spark, tmp_path):
    # Two lineitems of the same brand in one order: the DISTINCT
    # basket build must count the (order, brand) membership once.
    from dataingestionengineprocess_spark.queries.orders import (
        basket_brand_lift,
    )

    sf = _lineitem_part(spark, tmp_path, [
        (1, ["A", "A", "B"]), (2, ["A", "B"])])
    r = basket_brand_lift(spark, sf).collect()[0]
    assert r["n_ab"] == 2 and r["support_s"] == 1.0


# --- Gini --------------------------------------------------------------------


def test_gini_equal_revenues_zero(spark, tmp_path):
    from dataingestionengineprocess_spark.queries.orders import (
        sales_gini_by_region,
    )

    sf = _star(spark, tmp_path,
               [(1, 0, 0.0, "A"), (2, 0, 0.0, "A")],
               [(10, 1, 100.0), (11, 2, 100.0)])
    r = {x["region"]: x for x in sales_gini_by_region(spark, sf).collect()}
    assert r["AMERICA"]["gini_s"] == 0.0
    assert r["AMERICA"]["total_cents"] == 20000


def test_gini_max_concentration(spark, tmp_path):
    # One of n customers holds everything: G = (n-1)/n.
    from dataingestionengineprocess_spark.queries.orders import (
        sales_gini_by_region,
    )

    sf = _star(spark, tmp_path,
               [(1, 0, 0.0, "A"), (2, 0, 0.0, "A"), (3, 0, 0.0, "A"),
                (4, 0, 0.0, "A")],
               [(10, 1, 400.0)])
    r = {x["region"]: x for x in sales_gini_by_region(spark, sf).collect()}
    assert r["AMERICA"]["n_cust"] == 4
    assert abs(r["AMERICA"]["gini_s"] - 0.75) < 2e-6


def test_gini_zero_order_customers_included(spark, tmp_path):
    # The customer with no orders must appear as a zero, raising G
    # above the orders-only value.
    from dataingestionengineprocess_spark.queries.orders import (
        sales_gini_by_region,
    )

    sf = _star(spark, tmp_path,
               [(1, 0, 0.0, "A"), (2, 0, 0.0, "A")],
               [(10, 1, 100.0)])
    r = {x["region"]: x for x in sales_gini_by_region(spark, sf).collect()}
    assert r["AMERICA"]["n_cust"] == 2
    assert abs(r["AMERICA"]["gini_s"] - 0.5) < 2e-6  # (n-1)/n, n=2


def test_gini_hand_value_two_unequal(spark, tmp_path):
    # cents 100 and 300: G = 2*(1*100+2*300)/(2*400) - 3/2 = 0.25.
    from dataingestionengineprocess_spark.queries.orders import (
        sales_gini_by_region,
    )

    sf = _star(spark, tmp_path,
               [(1, 0, 0.0, "A"), (2, 0, 0.0, "A")],
               [(10, 1, 1.0), (11, 2, 3.0)])
    r = {x["region"]: x for x in sales_gini_by_region(spark, sf).collect()}
    assert abs(r["AMERICA"]["gini_s"] - 0.25) < 2e-6


# --- distinctive terms -------------------------------------------------------


def test_distinctive_terms_marker_word_tops(spark, tmp_path):
    # 'zebra' appears only in source a; shared filler dominates counts
    # but has no source signal, so the marker word must rank first.
    from dataingestionengineprocess_spark.queries.text import (
        text_distinctive_terms,
    )

    filler = "the and of to in " * 4
    sf = write_documents(spark, tmp_path, [
        (0, filler + "zebra zebra zebra", "en", "a", 10),
        (1, filler, "en", "b", 10),
        (2, filler, "en", "b", 10),
    ])
    rows = text_distinctive_terms(spark, sf).collect()
    top_a = [r for r in rows if r["source"] == "a"][0]
    assert top_a["tok"] == "zebra"
    assert top_a["z_s"] > 0
    assert top_a["y_st"] == 3 and top_a["y_t"] == 3


def test_distinctive_terms_symmetric_sources_tie(spark, tmp_path):
    # Identical corpora in both sources: every z pins to the same
    # value for a and b (mirror symmetry), and the shared-count terms
    # are not spuriously distinctive (|z| well below 1).
    from dataingestionengineprocess_spark.queries.text import (
        text_distinctive_terms,
    )

    text = "alpha beta gamma delta"
    sf = write_documents(spark, tmp_path, [
        (0, text, "en", "a", 10), (1, text, "en", "b", 10)])
    rows = text_distinctive_terms(spark, sf).collect()
    za = {r["tok"]: r["z_s"] for r in rows if r["source"] == "a"}
    zb = {r["tok"]: r["z_s"] for r in rows if r["source"] == "b"}
    assert za == zb
    assert all(abs(z) < 1.0 for z in za.values())


# --- seasonal decomposition --------------------------------------------------


def test_seasonal_flat_series_zero_indices(spark, tmp_path):
    # Constant daily counts over 14 days: every seasonal index 0,
    # trend = the constant on full-window days, residual 0.
    from dataingestionengineprocess_spark.queries.events import (
        events_seasonal_decompose,
    )

    rows = []
    eid = 0
    for d in range(14):
        for k in range(3):
            rows.append((eid, f"2024-01-{d + 1:02d} 12:00:00", k, "view",
                         0.0, ""))
            eid += 1
    sf = write_events(spark, tmp_path, rows)
    out = {r["day_num"]: r for r in
           events_seasonal_decompose(spark, sf).collect()}
    assert len(out) == 14
    for d, r in out.items():
        assert r["seasonal_s"] == 0.0
        if 3 <= d <= 10:
            assert r["trend_s"] == 3.0 and r["resid_s"] == 0.0
        else:
            assert r["trend_s"] is None and r["resid_s"] is None


def test_seasonal_weekly_spike_lands_on_its_dow(spark, tmp_path):
    # 14 days, 1 event/day except day 0 and day 7 (dow 0) with 8:
    # dow-0 mean = 8, grand = (12*1 + 2*8)/14 = 2 -> seasonal(dow 0)
    # = 6, seasonal(other) = 1 - 2 = -1.
    from dataingestionengineprocess_spark.queries.events import (
        events_seasonal_decompose,
    )

    rows = []
    eid = 0
    for d in range(14):
        n = 8 if d % 7 == 0 else 1
        for k in range(n):
            rows.append((eid, f"2024-01-{d + 1:02d} 12:00:00", k, "view",
                         0.0, ""))
            eid += 1
    sf = write_events(spark, tmp_path, rows)
    out = {r["day_num"]: r for r in
           events_seasonal_decompose(spark, sf).collect()}
    assert out[0]["seasonal_s"] == 6.0
    assert out[1]["seasonal_s"] == -1.0
    # full-window trend at day 7 covers days 4..10 = (1*6 + 8)/7 = 2
    assert out[7]["trend_s"] == 2.0
    assert out[7]["resid_s"] == 8 - 6.0 - 2.0
