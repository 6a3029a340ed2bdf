"""Unit coverage for operators/ranking.py (distributed global rank /
prefix sum) and the round-5a queries built on them."""

from __future__ import annotations

from fixture_tables import write_documents, write_embeddings


def test_global_rank_matches_single_partition_rank(spark):
    from pyspark.sql import functions as F
    from dataingestionengineprocess_spark.operators.ranking import (
        global_rank,
    )

    # deterministic shuffled keys across many input partitions
    vals = [((i * 131) % 997, i) for i in range(997)]
    df = spark.createDataFrame(vals, "k long, uid long").repartition(16)
    out = {r["uid"]: r["gr"]
           for r in global_rank(df, ["k", "uid"]).collect()}
    expect = {uid: rank + 1
              for rank, (_, uid) in enumerate(sorted(vals))}
    assert out == expect
    # ranks are a dense 1..n permutation
    assert sorted(out.values()) == list(range(1, 998))
    _ = F  # keep linters honest about the import pattern


def test_distributed_prefix_sum_exact(spark):
    from dataingestionengineprocess_spark.operators.ranking import (
        distributed_prefix_sum,
    )

    rows = [(i, (i * 7) % 11 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "k long, w long").repartition(8)
    out = {r["k"]: r["cum"]
           for r in distributed_prefix_sum(df, ["k"], "w").collect()}
    acc = 0
    for k, w in sorted(rows):
        acc += w
        assert out[k] == acc


def test_quantile_normalize_equalizes_sources(spark, tmp_path):
    # Source a: scores 1..4; source b: 101..104 (a shifted scale).
    # After normalization both sources map to the SAME pooled quantile
    # values -> identical per-source moments.
    from dataingestionengineprocess_spark.queries.ml import (
        ml_quantile_normalize,
    )

    emb, docs = [], []
    for i, v in enumerate([1.0, 2.0, 3.0, 4.0]):
        emb.append((i, [v, 0.0], 0))
        docs.append((i, "t", "en", "a", 1))
    for i, v in enumerate([101.0, 102.0, 103.0, 104.0]):
        emb.append((10 + i, [v, 0.0], 0))
        docs.append((10 + i, "t", "en", "b", 1))
    sf = write_embeddings(spark, tmp_path, emb)
    write_documents(spark, tmp_path, docs)
    out = {r["source"]: r
           for r in ml_quantile_normalize(spark, sf).collect()}
    a, b = out["a"], out["b"]
    assert a["n_vecs"] == b["n_vecs"] == 4
    assert a["mean_norm_s"] == b["mean_norm_s"]
    assert a["min_norm_s"] == b["min_norm_s"] == 2.0   # pos 2 of pooled
    assert a["max_norm_s"] == b["max_norm_s"] == 104.0


def test_mann_whitney_hand_case_with_ties(spark, tmp_path):
    # x = {1, 2}, y = {2, 3}: ranks 1, 2.5, 2.5, 4 -> R1 = 3.5,
    # U1 = 0.5, tie sum (c^3 - c) = 6, z = -1.5 / sqrt(1.5).
    from dataingestionengineprocess_spark.queries.stat import stat_mann_whitney

    sf = write_embeddings(spark, tmp_path, [
        (0, [1.0, 0.0], 0), (1, [2.0, 0.0], 0),
        (2, [2.0, 0.0], 1), (3, [3.0, 0.0], 1),
    ])
    r = stat_mann_whitney(spark, sf).collect()[0]
    assert (r["n1"], r["n2"], r["r1_x2"], r["u1_x2"]) == (2, 2, 7, 1)
    assert r["z_s"] == -1.224745


def test_mann_whitney_all_one_group_null_z(spark, tmp_path):
    # Degenerate: every row in group x -> n2 = 0, variance 0, z NULL.
    from dataingestionengineprocess_spark.queries.stat import stat_mann_whitney

    sf = write_embeddings(spark, tmp_path, [
        (0, [1.0, 0.0], 0), (1, [2.0, 0.0], 0),
    ])
    r = stat_mann_whitney(spark, sf).collect()[0]
    assert (r["n1"], r["n2"]) == (2, 0)
    assert r["z_s"] is None


def test_grouped_rank_wide_horizon_shuffles_offsets(spark):
    """VERDICT r6 #2: above ``broadcast_max`` groups, grouped_rank's
    offsets join must flip from broadcast to shuffle (a time-derived
    group key growing with the data horizon must not force an
    unbounded broadcast), with results identical to the broadcast
    path and to the per-group window definition."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from dataingestionengineprocess_spark.operators.ranking import (
        grouped_rank,
    )

    # synthetic wide horizon: 200 time-bucket groups, 5 rows each,
    # plus a NULL-bucket group -- the shuffle path's offsets join must
    # stay null-safe exactly like the broadcast path's
    rows = [((i * 53) % 200, i) for i in range(1000)]
    rows += [(None, 1000 + i) for i in range(5)]
    df = spark.createDataFrame(rows, "bucket long, uid long") \
        .repartition(16)

    # The OFFSETS join is the one on __g_bucket; the inner __pid
    # broadcast (one row per partition, bounded by cluster size, never
    # by data) from _with_offsets legitimately stays a broadcast.
    def offsets_join_lines(df_):
        plan_ = df_._jdf.queryExecution().executedPlan().toString()
        return plan_, [ln for ln in plan_.splitlines()
                       if "Join" in ln and "__g_bucket" in ln]

    wide = grouped_rank(df, ["bucket"], ["uid"], "rn",
                        count_col="n", broadcast_max=50)
    plan, joins = offsets_join_lines(wide)
    assert joins, plan
    assert all("BroadcastHashJoin" not in ln for ln in joins), plan
    assert any(("SortMergeJoin" in ln) or ("ShuffledHashJoin" in ln)
               for ln in joins), plan

    small = grouped_rank(df, ["bucket"], ["uid"], "rn", count_col="n")
    plan_b, joins_b = offsets_join_lines(small)
    assert any("BroadcastHashJoin" in ln for ln in joins_b), plan_b

    w = Window.partitionBy("bucket").orderBy("uid")
    expect = {(r["bucket"], r["uid"]): r["rn"]
              for r in df.withColumn("rn", F.row_number().over(w))
              .collect()}
    got_wide = {(r["bucket"], r["uid"]): r["rn"] for r in wide.collect()}
    got_small = {(r["bucket"], r["uid"]): r["rn"]
                 for r in small.collect()}
    assert got_wide == expect
    assert got_small == expect
    # count_col agrees on both paths (5 rows per bucket, NULL included)
    assert all(r["n"] == 5 for r in wide.collect())
    # the NULL group survived the shuffle-form offsets join intact
    assert sorted(rn for (b, _), rn in got_wide.items()
                  if b is None) == [1, 2, 3, 4, 5]


def test_grouped_rank_known_group_count_skips_probe(spark):
    """VERDICT r7 #4: a caller that already knows the group-key
    cardinality must be able to skip the eager strategy-probe job, so
    multi-call queries pay the probe at most once. The hint only picks
    the join strategy -- results must be identical -- and above
    ``broadcast_max`` it must still pin the shuffle-hash plan."""
    from pyspark.sql import functions as F
    from dataingestionengineprocess_spark.operators.ranking import (
        grouped_rank,
    )

    sc = spark.sparkContext
    rows = [((i * 53) % 200, i) for i in range(1000)]
    df = spark.createDataFrame(rows, "bucket long, uid long") \
        .repartition(8).localCheckpoint(eager=True)

    def build(tag, **kw):
        sc.setJobGroup(tag, "grouped_rank build phase")
        out = grouped_rank(df, ["bucket"], ["uid"], "rn", **kw)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(tag))
        sc.setJobGroup("grk-idle", "")
        return out, n_jobs

    probed, n_probed = build("grk-probe")
    hinted, n_hinted = build("grk-hint", known_group_count=200)
    # the offsets-probe jobs disappear (global_rank's own build-time
    # collect remains on both paths; the probe's checkpoint+count can
    # surface as 1-2 jobs depending on AQE stage splitting, so assert
    # strictly-fewer rather than an exact delta)
    assert n_hinted < n_probed, (n_probed, n_hinted)

    assert sorted(map(tuple, hinted.collect())) \
        == sorted(map(tuple, probed.collect()))

    # above the limit the hinted path pins shuffle-hash on the
    # offsets join rather than relying on missing stats
    wide, _ = build("grk-wide", broadcast_max=50, known_group_count=200)
    plan = wide._jdf.queryExecution().executedPlan().toString()
    joins = [ln for ln in plan.splitlines()
             if "Join" in ln and "__g_bucket" in ln]
    assert joins, plan
    assert any("ShuffledHashJoin" in ln for ln in joins), plan
    assert all("BroadcastHashJoin" not in ln for ln in joins), plan
