"""Unit/edge coverage for round-5d (WOE/IV, duplicate payments, HHI).
Oracle gate in test_oracle_parity.py; the fixture has no exact
duplicate payments, so the screen's REAL behavior is pinned here on
planted replays."""

from __future__ import annotations

import math

from fixture_tables import write_lineitem, write_orders


def test_duplicate_payment_planted_replay(spark, tmp_path):
    # Customer 1: the same 10.00 charge on the same day three times
    # (2 copies at stake) plus a same-amount charge on ANOTHER day
    # (not a dup). Customer 2: clean.
    from dataingestionengineprocess_spark.queries.orders import (
        orders_duplicate_payment_screen,
    )

    sf = write_orders(spark, tmp_path, [
        (1, 1, "O", 10.00, "2024-01-05", "P"),
        (2, 1, "O", 10.00, "2024-01-05", "P"),
        (3, 1, "O", 10.00, "2024-01-05", "P"),
        (4, 1, "O", 10.00, "2024-01-06", "P"),
        (5, 2, "O", 99.00, "2024-01-05", "P"),
    ])
    out = orders_duplicate_payment_screen(spark, sf).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["o_custkey"], r["n_dup_groups"], r["n_orders"],
            r["cents_at_stake"]) == (1, 1, 3, 2000)


def test_woe_iv_separating_category(spark, tmp_path):
    # Priority A orders never return; priority B orders always do.
    # WOE(A) > 0 > WOE(B); IV total positive; counts conserved.
    from dataingestionengineprocess_spark.queries.ml import ml_woe_iv_encoding

    orows, lrows = [], []
    for i in range(4):
        orows.append((i, 1, "O", 1.0, "2024-01-05", "A"))
        lrows.append((i, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
                      "2024-01-06"))
    for i in range(4, 8):
        orows.append((i, 1, "O", 1.0, "2024-01-05", "B"))
        lrows.append((i, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "R", "O",
                      "2024-01-06"))
    sf = write_orders(spark, tmp_path, orows)
    write_lineitem(spark, tmp_path, lrows)
    out = {r["o_orderpriority"]: r
           for r in ml_woe_iv_encoding(spark, sf).collect()}
    assert out["A"]["woe_s"] > 0 > out["B"]["woe_s"]
    assert out["TOTAL"]["iv_s"] > 1.0
    assert out["TOTAL"]["n_good"] == 4 and out["TOTAL"]["n_bad"] == 4
    # smoothed symmetric case: woe(A) == -woe(B)
    assert out["A"]["woe_s"] == -out["B"]["woe_s"]
    # hand value: pg(A) = 4.5/5, pb(A) = 0.5/5 -> ln(9) = 2.197225
    assert abs(out["A"]["woe_s"] - math.log(9)) < 2e-6


def test_hhi_monopoly_and_duopoly(spark, tmp_path):
    # Nation 1: one supplier -> HHI 1.0. Nation 2: two equal
    # suppliers -> HHI 0.5, top share 0.5.
    from dataingestionengineprocess_spark.queries.orders import (
        supplier_herfindahl_index,
    )

    sf = str(tmp_path)
    spark.createDataFrame(
        [(1, "MONO", 0), (2, "DUO", 0)],
        "n_nationkey long, n_name string, n_regionkey long",
    ).write.parquet(sf + "/nation.parquet")
    spark.createDataFrame(
        [(1, "s1", 1), (2, "s2", 2), (3, "s3", 2)],
        "s_suppkey long, s_name string, s_nationkey long",
    ).write.parquet(sf + "/supplier.parquet")
    write_lineitem(spark, tmp_path, [
        (1, 1, 1, 1, 1.0, 50.0, 0.0, 0.0, "N", "O", "2024-01-02"),
        (2, 1, 2, 1, 1.0, 30.0, 0.0, 0.0, "N", "O", "2024-01-02"),
        (3, 1, 3, 1, 1.0, 30.0, 0.0, 0.0, "N", "O", "2024-01-02"),
    ])
    out = {r["n_name"]: r
           for r in supplier_herfindahl_index(spark, sf).collect()}
    assert out["MONO"]["hhi_s"] == 1.0
    assert out["MONO"]["top_share_s"] == 1.0
    assert out["DUO"]["hhi_s"] == 0.5
    assert out["DUO"]["top_share_s"] == 0.5
    assert out["DUO"]["n_suppliers"] == 2
