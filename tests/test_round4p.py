"""Unit/edge coverage for the round-4p queries (bot screen + order
backlog). The oracle gate lives in test_oracle_parity.py; this file
plants a metronomic bot, a bursty human, a monotype scraper, and a
hand-tracked backlog with a never-shipped order.
"""

from __future__ import annotations

from fixture_tables import write_events


def _orders_li(spark, tmp_path, orders, lines):
    from pyspark.sql import functions as F

    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_orderdate string",
    ).withColumn("o_orderdate", F.to_date("o_orderdate")) \
     .write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        lines, "l_orderkey long, l_linenumber long, l_shipdate string",
    ).withColumn("l_shipdate", F.to_date("l_shipdate")) \
     .write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    return str(tmp_path)


# --- bot screen --------------------------------------------------------------


def test_bot_metronome_flagged_human_not(spark, tmp_path):
    # User 1: 30 events exactly 1 s apart, one action type ->
    # rate 60/min, gap std 0: all three flags. User 2: 10 events at
    # irregular multi-minute gaps, 3 types -> no flags.
    from dataingestionengineprocess_spark.queries.quality import (
        quality_bot_user_screen,
    )

    rows, eid = [], 0
    for t in range(30):
        rows.append((eid, f"2024-01-01 00:00:{t:02d}", 1, "click",
                     0.0, ""))
        eid += 1
    human_gaps = [0, 3, 8, 15, 19, 31, 40, 47, 55, 59]
    for i, m in enumerate(human_gaps):
        rows.append((eid, f"2024-01-01 01:{m:02d}:00", 2,
                     ["view", "click", "purchase"][i % 3], 0.0, ""))
        eid += 1
    out = {r["user_id"]: r for r in
           quality_bot_user_screen(spark, write_events(spark, tmp_path, rows)
                                   ).collect()}
    bot, human = out[1], out[2]
    assert bot["gap_std_sec_s"] == 0.0
    assert bot["rate_per_min_s"] > 2.0
    assert (bot["flag_rate"], bot["flag_metronome"],
            bot["flag_monotype"]) == (1, 1, 1)
    assert human["n_types"] == 3
    assert (human["flag_rate"], human["flag_metronome"],
            human["flag_monotype"]) == (0, 0, 0)


def test_bot_single_event_user_null_std(spark, tmp_path):
    # One event: no gaps -> NULL std, rate over the 1-second floor,
    # no flags.
    from dataingestionengineprocess_spark.queries.quality import (
        quality_bot_user_screen,
    )

    rows = [(0, "2024-01-01 00:00:00", 1, "view", 0.0, "")]
    r = quality_bot_user_screen(spark, write_events(spark, tmp_path, rows)
                                ).collect()[0]
    assert r["n_events"] == 1
    assert r["gap_std_sec_s"] is None
    assert (r["flag_rate"], r["flag_metronome"], r["flag_monotype"]) \
        == (0, 0, 0)


def test_bot_day_scale_gaps_no_overflow(spark, tmp_path):
    # Multi-day gaps square past int64: the decimal accumulation must
    # return the exact std (2 gaps of 10 and 20 days -> pop std of
    # {864000, 1728000} s = 432000 s).
    from dataingestionengineprocess_spark.queries.quality import (
        quality_bot_user_screen,
    )

    rows = [(0, "2024-01-01 00:00:00", 1, "view", 0.0, ""),
            (1, "2024-01-11 00:00:00", 1, "view", 0.0, ""),
            (2, "2024-01-31 00:00:00", 1, "view", 0.0, "")]
    r = quality_bot_user_screen(spark, write_events(spark, tmp_path, rows)
                                ).collect()[0]
    assert r["gap_std_sec_s"] == 432000.0


# --- backlog -----------------------------------------------------------------


def test_backlog_hand_tracked_flows(spark, tmp_path):
    # Day 0: orders 1, 2 placed. Day 1: order 3 placed; order 1 fully
    # ships. Day 2: order 2's last line ships. Order 3 never ships.
    from dataingestionengineprocess_spark.queries.orders import (
        orders_backlog_timeseries,
    )

    sf = _orders_li(
        spark, tmp_path,
        [(1, 1, "2024-01-01"), (2, 1, "2024-01-01"), (3, 1, "2024-01-02")],
        [(1, 1, "2024-01-02"),
         (2, 1, "2024-01-02"), (2, 2, "2024-01-03")],
    )
    out = {r["day_num"]: r for r in
           orders_backlog_timeseries(spark, sf).collect()}
    assert (out[0]["n_in"], out[0]["n_out"], out[0]["backlog"]) == (2, 0, 2)
    assert (out[1]["n_in"], out[1]["n_out"], out[1]["backlog"]) == (1, 1, 2)
    assert (out[2]["n_in"], out[2]["n_out"], out[2]["backlog"]) == (0, 1, 1)
    # the tail backlog is order 3, placed but lineless


def test_backlog_partial_shipment_keeps_order_open(spark, tmp_path):
    # An order ships one of two lines: it stays in the backlog until
    # the LAST line's ship date.
    from dataingestionengineprocess_spark.queries.orders import (
        orders_backlog_timeseries,
    )

    sf = _orders_li(
        spark, tmp_path,
        [(1, 1, "2024-01-01")],
        [(1, 1, "2024-01-02"), (1, 2, "2024-01-05")],
    )
    out = {r["day_num"]: r for r in
           orders_backlog_timeseries(spark, sf).collect()}
    assert out[0]["backlog"] == 1
    assert 1 not in out  # nothing happens on the partial-ship day
    assert out[4]["n_out"] == 1 and out[4]["backlog"] == 0
