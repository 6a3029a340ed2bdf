"""Unit/edge coverage for stream_rate_limit_gate. Oracle gate in
test_oracle_parity.py; the carried-state semantics (exhaustion,
refill, idle-epoch reset) are pinned here on planted event streams
where every admission decision is known by hand."""

from __future__ import annotations

from fixture_tables import write_events


def _drain(spark, sf):
    from dataingestionengineprocess_spark.queries.stream import (
        stream_rate_limit_gate,
    )

    return {r["epoch"]: r
            for r in stream_rate_limit_gate(spark, sf).collect()}


def test_rate_limit_exhaust_and_refill(spark, tmp_path):
    # User 1 sends 6 events per epoch (event_id % 3 routes them:
    # ids 0,3,6,9,12,15 -> epoch 0; 1,4,...,16 -> epoch 1; etc).
    # Epoch 0: bucket 4 -> admit 4, reject 2, tokens 0.
    # Epoch 1: avail = min(4, 0+2) = 2 -> admit 2, reject 4.
    # Epoch 2: same again.
    rows = [(i, f"2024-01-01 0{i % 10}:0{i // 10}:00", 1, "view",
             0.0, "") for i in range(18)]
    sf = write_events(spark, tmp_path, rows)
    out = _drain(spark, sf)
    assert (out[0]["n_admitted"], out[0]["n_rejected"]) == (4, 2)
    assert (out[1]["n_admitted"], out[1]["n_rejected"]) == (2, 4)
    assert (out[2]["n_admitted"], out[2]["n_rejected"]) == (2, 4)


def test_rate_limit_idle_epoch_resets_bucket(spark, tmp_path):
    # User 1 floods epoch 0 (ids 0,3,6,9,12,15: 6 events -> 4 in,
    # tokens 0) then SKIPS epoch 1 entirely (only user 2 appears) and
    # returns in epoch 2 (ids 2,5,8,11): absent from the epoch-1
    # state table, the bucket resets to full -> all 4 admitted.
    rows = [(i, "2024-01-01 01:00:00", 1, "view", 0.0, "")
            for i in (0, 3, 6, 9, 12, 15)]
    rows += [(i, "2024-01-01 02:00:00", 2, "view", 0.0, "")
             for i in (1, 4)]
    rows += [(i, "2024-01-01 03:00:00", 1, "view", 0.0, "")
             for i in (2, 5, 8, 11)]
    sf = write_events(spark, tmp_path, rows)
    out = _drain(spark, sf)
    assert (out[0]["n_admitted"], out[0]["n_rejected"]) == (4, 2)
    assert (out[1]["n_admitted"], out[1]["n_rejected"]) == (2, 0)
    assert (out[2]["n_admitted"], out[2]["n_rejected"]) == (4, 0)


def test_rate_limit_light_user_never_throttled(spark, tmp_path):
    # 2 events per epoch stays under both cap and refill: everything
    # admitted in every epoch.
    rows = [(i, "2024-01-01 01:00:00", 1, "view", 0.0, "")
            for i in range(6)]
    sf = write_events(spark, tmp_path, rows)
    out = _drain(spark, sf)
    for k in range(3):
        assert out[k]["n_rejected"] == 0
        assert out[k]["n_admitted"] == 2
