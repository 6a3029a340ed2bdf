"""Unit/edge coverage for the round-4l queries (URL dedup, cohort
LTV, rule pack). The oracle gate lives in test_oracle_parity.py;
this file drives the analytic edges: each canonicalization rule in
isolation, cohort matrix hand values, and planted rule violations.
"""

from __future__ import annotations

from fixture_tables import write_documents, write_table


def _docs(spark, tmp_path, n):
    return write_documents(
        spark, tmp_path, [(i, "t", "en", "s", 10) for i in range(n)])


def _orders(spark, tmp_path, rows):
    return write_table(
        spark, tmp_path, "orders", rows,
        "o_orderkey long, o_custkey long, o_totalprice double, "
        "o_orderdate string",
        dates=["o_orderdate"],
    )


# --- URL canonicalization ----------------------------------------------------


def test_url_four_styles_collapse_to_one(spark, tmp_path):
    # doc_ids 0, 100, 200, 300 are the four spellings of page 0: all
    # must collapse to one canonical URL with 4 variants, keeper 0.
    from dataingestionengineprocess_spark.queries.dedup import (
        dedup_url_canonical,
    )

    sf = _docs(spark, tmp_path, 400)
    out = {r["canonical_url"]: r for r in
           dedup_url_canonical(spark, sf).collect()}
    assert len(out) == 100  # every page has all 4 spellings
    r = out["http://site0.example.com/p?a=1&b=2"]
    assert r["n_variants"] == 4 and r["keeper_doc"] == 0


def test_url_singletons_not_reported(spark, tmp_path):
    # Only style-0 spellings exist (doc_id < 100): no group exceeds
    # one variant, so the dedup report is empty.
    from dataingestionengineprocess_spark.queries.dedup import (
        dedup_url_canonical,
    )

    sf = _docs(spark, tmp_path, 100)
    assert dedup_url_canonical(spark, sf).count() == 0


def test_url_canonical_form_details(spark, tmp_path):
    # The canonical string itself: lower scheme+host, :80 stripped,
    # params sorted, utm_ dropped, fragment gone.
    from dataingestionengineprocess_spark.queries.dedup import (
        dedup_url_canonical,
    )

    sf = _docs(spark, tmp_path, 400)
    for url in (r["canonical_url"]
                for r in dedup_url_canonical(spark, sf).collect()):
        assert url.startswith("http://site")
        assert ":80" not in url and "#" not in url
        assert "utm_" not in url
        assert url.endswith("?a=1&b=2")
        assert url == url.lower()


# --- cohort LTV --------------------------------------------------------------


def test_cohort_ltv_hand_matrix(spark, tmp_path):
    # Two customers acquired in Jan (orders 10 + 20), one of them
    # orders 30 more in Feb; one customer acquired in Feb (40).
    from dataingestionengineprocess_spark.queries.orders import (
        orders_cohort_ltv,
    )

    sf = _orders(spark, tmp_path, [
        (1, 1, 10.0, "2024-01-05"),
        (2, 2, 20.0, "2024-01-20"),
        (3, 1, 30.0, "2024-02-10"),
        (4, 3, 40.0, "2024-02-15"),
    ])
    out = {(r["cohort"], r["months_since"]): r for r in
           orders_cohort_ltv(spark, sf).collect()}
    jan = 2024 * 12 + 1
    feb = jan + 1
    assert out[(jan, 0)]["n_customers"] == 2
    assert out[(jan, 0)]["cum_cents"] == 3000
    assert out[(jan, 0)]["avg_ltv_s"] == 15.0
    assert out[(jan, 1)]["cum_cents"] == 6000    # +30 in month 1
    assert out[(jan, 1)]["avg_ltv_s"] == 30.0
    assert out[(feb, 0)]["n_customers"] == 1
    assert out[(feb, 0)]["avg_ltv_s"] == 40.0


def test_cohort_ltv_cumulative_monotone(spark, tmp_path):
    from dataingestionengineprocess_spark.queries.orders import (
        orders_cohort_ltv,
    )

    rows = [(k, k % 5, 10.0 + k, f"2024-{1 + k % 3:02d}-10")
            for k in range(30)]
    sf = _orders(spark, tmp_path, rows)
    out = orders_cohort_ltv(spark, sf).collect()
    by_cohort = {}
    for r in sorted(out, key=lambda r: (r["cohort"], r["months_since"])):
        prev = by_cohort.get(r["cohort"])
        if prev is not None:
            assert r["cum_cents"] >= prev
        by_cohort[r["cohort"]] = r["cum_cents"]


# --- cross-field rules -------------------------------------------------------


def _li_orders(spark, tmp_path, li_rows, o_rows):
    from pyspark.sql import functions as F

    spark.createDataFrame(
        li_rows,
        "l_orderkey long, l_partkey long, l_linenumber long, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_shipdate string",
    ).withColumn("l_shipdate", F.to_date("l_shipdate")) \
     .write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    spark.createDataFrame(
        o_rows, "o_orderkey long, o_custkey long, o_totalprice double, "
                "o_orderdate string",
    ).withColumn("o_orderdate", F.to_date("o_orderdate")) \
     .write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    return str(tmp_path)


def test_rules_planted_violations_counted(spark, tmp_path):
    # Four lines: one clean, one shipped before its order, one with a
    # negative quantity AND an out-of-range discount, one with
    # negative tax.
    from dataingestionengineprocess_spark.queries.quality import (
        quality_cross_field_rules,
    )

    sf = _li_orders(
        spark, tmp_path,
        [
            (1, 1, 1, 5.0, 100.0, 0.05, 0.02, "2024-01-10"),
            (1, 2, 2, 5.0, 100.0, 0.05, 0.02, "2023-12-30"),
            (2, 3, 1, -1.0, 100.0, 1.5, 0.02, "2024-02-05"),
            (2, 4, 2, 5.0, 100.0, 0.05, -0.1, "2024-02-05"),
        ],
        [(1, 1, 200.0, "2024-01-01"), (2, 2, 200.0, "2024-02-01")],
    )
    out = {r["rule"]: r for r in
           quality_cross_field_rules(spark, sf).collect()}
    assert set(out) == {"ship_after_order", "discount_in_range",
                        "positive_quantity", "tax_nonnegative",
                        "positive_price"}
    assert all(r["n_checked"] == 4 for r in out.values())
    assert out["ship_after_order"]["n_violations"] == 1
    assert out["discount_in_range"]["n_violations"] == 1
    assert out["positive_quantity"]["n_violations"] == 1
    assert out["tax_nonnegative"]["n_violations"] == 1
    assert out["positive_price"]["n_violations"] == 0
    assert out["ship_after_order"]["violation_rate_s"] == 0.25


def test_rules_clean_data_all_zero(spark, tmp_path):
    from dataingestionengineprocess_spark.queries.quality import (
        quality_cross_field_rules,
    )

    sf = _li_orders(
        spark, tmp_path,
        [(1, 1, 1, 5.0, 100.0, 0.05, 0.02, "2024-01-10")],
        [(1, 1, 200.0, "2024-01-01")],
    )
    out = quality_cross_field_rules(spark, sf).collect()
    assert all(r["n_violations"] == 0 and r["violation_rate_s"] == 0.0
               for r in out)
