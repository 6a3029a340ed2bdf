"""Unit/edge coverage for the round-4d queries (the oracle gate and
plan shapes live in test_oracle_parity.py / test_plan_shapes.py; this
file drives the branches the fixture cannot reach)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _mini_orders(spark, tmp_path, rows):
    """Write a minimal orders.parquet a query can load as an sf_dir."""
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.to_timestamp("o_orderdate"))
    df.write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    return str(tmp_path)


def test_incremental_mv_retracts_emptied_group(spark, tmp_path):
    # A (priority, month) group whose every base order has key % 7 == 0
    # is fully deleted by the CDC batch: the refresh must RETRACT the
    # row (not emit n_orders=0), while a sibling group survives.
    from dataingestionengineprocess_spark.queries.warehouse import (
        warehouse_incremental_mv,
    )

    sf = _mini_orders(spark, tmp_path, [
        # group A: both keys divisible by 7 -> fully deleted
        (7, 1, "O", 100.0, "1995-03-10", "1-URGENT"),
        (14, 1, "O", 200.0, "1995-03-20", "1-URGENT"),
        # group B: one delete (21), one update (3), one plain survivor
        (21, 2, "O", 50.0, "1995-04-01", "2-HIGH"),
        (3, 2, "O", 80.0, "1995-04-02", "2-HIGH"),
        (4, 2, "O", 10.0, "1995-04-03", "2-HIGH"),
        # post-cutoff insert lands in its own group
        (5, 3, "O", 30.0, "2000-01-15", "3-MEDIUM"),
    ])
    out = {(r["o_orderpriority"], str(r["month"])[:7]):
           (r["n_orders"], r["sum_cents"])
           for r in warehouse_incremental_mv(spark, sf).collect()}
    assert ("1-URGENT", "1995-03") not in out          # retracted
    # survivor group: update adds 500 cents to key 3; delete drops 21
    assert out[("2-HIGH", "1995-04")] == (2, 8000 + 500 + 1000)
    assert out[("3-MEDIUM", "2000-01")] == (1, 3000)   # insert


def test_incremental_mv_update_is_delete_plus_insert(spark, tmp_path):
    # An update never changes n_orders, only the cents sum.
    from dataingestionengineprocess_spark.queries.warehouse import (
        warehouse_incremental_mv,
    )

    sf = _mini_orders(spark, tmp_path, [
        (3, 1, "O", 99.995, "1996-06-01", "1-URGENT"),  # key%7==3: update
        (1, 1, "O", 10.0, "1996-06-02", "1-URGENT"),
    ])
    rows = warehouse_incremental_mv(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    # floor(99.995*100 + 0.5) = 10000 cents, +500 update, +1000 plain
    assert (r["n_orders"], r["sum_cents"]) == (2, 10000 + 500 + 1000)


def test_token_budget_selects_density_prefix(spark, tmp_path):
    # 3 docs, budget = 30% of 20 tokens = 6: only the densest doc
    # (4 tokens, all distinct) fits; the 2nd-densest would push the
    # running total past the budget AND the budget counts its tokens.
    from dataingestionengineprocess_spark.queries.curation import (
        curation_token_budget_select,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d", "en", "web", 7),           # density 1.0, 4 tok
            (2, "x y z x y z x y", "en", "web", 15),  # density .375, 8 tok
            (3, "p p p p p p p p", "en", "wiki", 15), # density .125, 8 tok
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r["source"]: (r["n_selected"], r["sel_tokens"])
           for r in curation_token_budget_select(spark, str(tmp_path)).collect()}
    assert out == {"web": (1, 4)}


def test_token_budget_bucket_is_monotone_in_density():
    # bucket id must be non-decreasing as density decreases, so the
    # bucket-local order + offsets reconstruct the global cumsum
    import math

    buckets = 64
    densities = [1.0, 0.999, 0.51, 0.5, 0.25, 0.016, 0.001]
    ids = [min(buckets - 1, math.floor((1.0 - d) * buckets))
           for d in densities]
    assert ids == sorted(ids)
    assert ids[0] == 0 and ids[-1] == buckets - 1


def test_retraction_mv_drain_is_versioned_and_idempotent(spark):
    # The drain publishes one snapshot per epoch (bootstrap + 2 signed
    # merges), stamps (app, epoch), and a full re-run (fresh scratch)
    # reaches the identical final state.
    import os

    from dataingestionengineprocess_spark.catalog import scratch_path
    from dataingestionengineprocess_spark.queries.stream import (
        stream_retraction_mv,
    )
    from dataingestionengineprocess_spark.sinks.versioned import (
        VersionedTable,
    )

    sf = "/root/testdata/sf0.001"
    a = {(r["o_orderpriority"], str(r["month"])): (r["n_orders"],
                                                   r["sum_cents"])
         for r in stream_retraction_mv(spark, sf).collect()}
    tbl = os.path.join(scratch_path("retractmv_run", sf), "tbl")
    vt = VersionedTable(spark, tbl)
    assert len(vt.versions()) == 3          # one snapshot per epoch
    # exactly-once stamps rode in under the checkpoint-derived app id
    from dataingestionengineprocess_spark.pipeline import checkpoint_app_id

    app = checkpoint_app_id(os.path.join(scratch_path("retractmv_run", sf),
                                         "ck"))
    assert vt.last_epoch(app) == 2          # epochs 0..2 folded
    b = {(r["o_orderpriority"], str(r["month"])): (r["n_orders"],
                                                   r["sum_cents"])
         for r in stream_retraction_mv(spark, sf).collect()}
    assert a == b and len(a) > 0


def test_retraction_mv_replay_guard_skips_folded_epoch(spark, tmp_path):
    # A replayed micro-batch (same epoch id) must be a no-op: the
    # (app, epoch) stamp already on the table wins over re-delivery.
    from dataingestionengineprocess_spark.sinks.versioned import (
        VersionedTable,
    )

    vt = VersionedTable(spark, str(tmp_path / "tbl"))
    df = spark.createDataFrame([("P", 1, 100)], "k string, sum_n int, sum_c int")
    vt.publish(df, epoch=5, app="ab12")
    assert vt.last_epoch("ab12") == 5
    # the query's guard condition: epoch_id <= last_epoch -> skip
    assert 5 <= vt.last_epoch("ab12")
    assert 4 <= vt.last_epoch("ab12")
    assert not (6 <= vt.last_epoch("ab12"))
    # a different app's stamps never mask this producer's progress
    assert vt.last_epoch("cd34") is None
