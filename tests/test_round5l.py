"""Unit/edge coverage for round-5l (adstock decay, key discovery).
Oracle gate in test_oracle_parity.py."""

from __future__ import annotations

from fixture_tables import write_events, write_orders


def test_adstock_impulse_decays_geometrically(spark, tmp_path):
    # One event on day 0 only: adstock(t) = 0.7^t exactly (snapped).
    from dataingestionengineprocess_spark.queries.events import (
        events_adstock_decay,
    )

    rows = [(1, "2024-01-01 01:00:00", 1, "view", 0.0, "")]
    # later empty days don't exist in the counts table -- only days
    # WITH events appear, so plant one event per later day of another
    # type to... no: adstock is defined over observed days per type.
    # Add a second event of the SAME type 3 days later to create a
    # second observed day: adstock(3) = 1 + 0.7^3.
    rows.append((2, "2024-01-04 01:00:00", 1, "view", 0.0, ""))
    out = events_adstock_decay(
        spark, write_events(spark, tmp_path, rows)).collect()
    assert [(r["t"], r["adstock_s"]) for r in out] == [
        (0, 1.0), (3, 1.343)]  # 1 + 0.7^3 = 1.343


def test_adstock_accumulates_pressure(spark, tmp_path):
    # Constant 1 event/day for 4 days: adstock = 1, 1.7, 2.19, 2.533.
    from dataingestionengineprocess_spark.queries.events import (
        events_adstock_decay,
    )

    rows = [(d, f"2024-01-0{d + 1} 01:00:00", 1, "view", 0.0, "")
            for d in range(4)]
    out = events_adstock_decay(
        spark, write_events(spark, tmp_path, rows)).collect()
    got = [r["adstock_s"] for r in out]
    assert got == [1.0, 1.7, 2.19, 2.533]


def test_key_discovery_verdicts(spark, tmp_path):
    # orderkey unique -> key; custkey repeats -> not; the
    # (custkey, orderdate) pair also repeats here -> not a key.
    from dataingestionengineprocess_spark.queries.quality import (
        quality_key_discovery,
    )

    sf = write_orders(spark, tmp_path, [
        (1, 1, "O", 1.0, "2024-01-01", "P"),
        (2, 1, "O", 2.0, "2024-01-01", "P"),
        (3, 2, "O", 3.0, "2024-01-02", "P"),
    ])
    out = {r["candidate"]: r
           for r in quality_key_discovery(spark, sf).collect()}
    assert out["o_orderkey"]["is_key"] == 1
    assert out["o_orderkey"]["n_dup_rows"] == 0
    assert out["o_custkey"]["is_key"] == 0
    assert out["o_custkey"]["n_dup_rows"] == 1
    assert out["o_custkey,o_orderdate"]["is_key"] == 0
    assert out["o_custkey,o_orderdate,o_totalprice"]["is_key"] == 1
