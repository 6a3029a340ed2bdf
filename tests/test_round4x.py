"""Unit/edge coverage for the round-4x queries (sequence gaps,
grouped k-fold, Fano factor). The oracle gate lives in
test_oracle_parity.py (the fixture key space is dense, so the gap
audit's REAL behavior is pinned here on planted holes).
"""

from __future__ import annotations

from fixture_tables import write_events


def _orders_keys(spark, tmp_path, keys):
    from pyspark.sql import functions as F

    rows = [(k, 1, "O", 1.0, "2024-01-01", "P") for k in keys]
    spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderstatus string, "
              "o_totalprice double, o_orderdate string, "
              "o_orderpriority string",
    ).withColumn("o_orderdate", F.to_timestamp("o_orderdate")) \
     .write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    return str(tmp_path)


# --- sequence gaps -----------------------------------------------------------


def test_gaps_planted_holes(spark, tmp_path):
    # Keys 1,2,3, 7,8, 12: holes [4,6] (3 missing) and [9,11] (3).
    from dataingestionengineprocess_spark.queries.quality import (
        quality_id_sequence_gaps,
    )

    out = quality_id_sequence_gaps(
        spark, _orders_keys(spark, tmp_path, [1, 2, 3, 7, 8, 12])
    ).collect()
    got = [(r["gap_lo"], r["gap_hi"], r["n_missing"]) for r in out]
    assert got == [(4, 6, 3), (9, 11, 3)]


def test_gaps_dense_sequence_empty(spark, tmp_path):
    # A dense key range (with duplicate rows on one key) has no gaps.
    from dataingestionengineprocess_spark.queries.quality import (
        quality_id_sequence_gaps,
    )

    out = quality_id_sequence_gaps(
        spark, _orders_keys(spark, tmp_path, [5, 6, 7, 7, 8])).collect()
    assert out == []


# --- grouped k-fold ----------------------------------------------------------


def test_kfold_user_never_straddles_folds(spark, tmp_path):
    # Recompute each user's fold independently and check the balance
    # sheet matches; totals conserve users and events.
    from dataingestionengineprocess_spark.queries.ml import (
        ml_group_kfold_assign,
    )
    import hashlib

    rows = []
    eid = 0
    for u in range(40):
        for j in range(1 + u % 3):
            rows.append((eid, f"2024-01-01 0{j}:00:00", u,
                         "purchase" if j == 0 else "view", 0.0, ""))
            eid += 1
    out = ml_group_kfold_assign(
        spark, write_events(spark, tmp_path, rows)).collect()
    assert sum(r["n_users"] for r in out) == 40
    assert sum(r["n_events"] for r in out) == eid
    by_fold = {r["fold"]: r for r in out}
    import collections

    expect_users = collections.Counter(
        int(hashlib.md5(str(u).encode()).hexdigest()[:6], 16) % 5
        for u in range(40))
    for f, n in expect_users.items():
        assert by_fold[f]["n_users"] == n


# --- Fano factor -------------------------------------------------------------


def test_fano_metronomic_zero_bursty_high(spark, tmp_path):
    # 'steady': exactly 2/day for 4 days -> var 0 -> fano 0.
    # 'bursty': 8 events on one day of the same 4-day span -> fano
    # (n*sum(y^2)-sum(y)^2)/(n*sum(y)) = (4*64-64)/(4*8) = 6.
    from dataingestionengineprocess_spark.queries.events import (
        events_fano_burstiness,
    )

    rows, eid = [], 0
    for d in range(4):
        for j in range(2):
            rows.append((eid, f"2024-01-0{d + 1} 10:0{j}:00", 1,
                         "steady", 0.0, ""))
            eid += 1
    for j in range(8):
        rows.append((eid, f"2024-01-04 11:{j:02d}:00", 2,
                     "bursty", 0.0, ""))
        eid += 1
    out = {r["event_type"]: r for r in events_fano_burstiness(
        spark, write_events(spark, tmp_path, rows)).collect()}
    assert out["steady"]["fano_s"] == 0.0
    assert out["steady"]["n_days"] == 4
    assert out["bursty"]["n_days"] == 4  # densified to the global span
    assert out["bursty"]["fano_s"] == 6.0


def test_gaps_island_across_bucket_boundary_merges(spark, tmp_path):
    # Dense keys 4094..4098 straddle the 4096 island bucket: the two
    # per-bucket islands must merge into one, yielding NO gap. Then
    # keys {4090, 4094..4097, 4100} leave gap (4091..4093) before the
    # boundary-merged island and gap (4098..4099) after it.
    from dataingestionengineprocess_spark.queries.quality import (
        quality_id_sequence_gaps,
    )

    out = quality_id_sequence_gaps(
        spark, _orders_keys(spark, tmp_path, [4094, 4095, 4096, 4097,
                                              4098])).collect()
    assert out == []

    out2 = quality_id_sequence_gaps(
        spark, _orders_keys(spark, tmp_path, [4090, 4094, 4095, 4096,
                                              4097, 4100])).collect()
    got = [(r["gap_lo"], r["gap_hi"], r["n_missing"]) for r in out2]
    assert got == [(4091, 4093, 3), (4098, 4099, 2)]
