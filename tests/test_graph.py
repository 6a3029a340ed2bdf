"""PageRank invariants: mass conservation on symmetric graphs, degree
ordering on a known topology, and convergence stability."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataingestionengineprocess_spark.operators.graph import pagerank


@pytest.fixture()
def star_edges(spark):
    # hub 0 connected to 1..4, symmetric
    rows = []
    for i in range(1, 5):
        rows += [(0, i), (i, 0)]
    return spark.createDataFrame(rows, ["src", "dst"])


def test_pagerank_conserves_mass_on_symmetric_graph(spark, star_edges):
    ranks = pagerank(star_edges, iterations=12).collect()
    total = sum(r["rank"] for r in ranks)
    assert abs(total - 5.0) < 1e-6   # N nodes, no dangling leak


def test_pagerank_ranks_hub_highest(spark, star_edges):
    ranks = {r["node"]: r["rank"] for r in
             pagerank(star_edges, iterations=12).collect()}
    assert ranks[0] > max(ranks[i] for i in range(1, 5))
    leaf = [round(ranks[i], 9) for i in range(1, 5)]
    assert len(set(leaf)) == 1        # symmetric leaves tie exactly


def test_pagerank_query_returns_hubs(spark, sf_dir):
    from dataingestionengineprocess_spark.queries import all_queries

    out = all_queries()["graph_pagerank_parts"](spark, sf_dir)
    rows = out.collect()
    assert 0 < len(rows) <= 50
    assert rows[0]["rank"] >= rows[-1]["rank"]


def test_pagerank_shuffle_path_matches_broadcast_path(spark, star_edges):
    """broadcast_node_limit=0 forces the big-nodes strategy; ranks must
    be bit-comparable to the broadcast path at 9 decimals."""
    b = {r["node"]: round(r["rank"], 9)
         for r in pagerank(star_edges, iterations=8).collect()}
    s = {r["node"]: round(r["rank"], 9)
         for r in pagerank(star_edges, iterations=8,
                           broadcast_node_limit=0).collect()}
    assert b == s


def test_pagerank_shuffle_path_plans_no_broadcast(spark, star_edges):
    """On the big-nodes path nothing may broadcast: with our hints
    absent and the auto-broadcast threshold disabled, a full iteration
    must plan only shuffle joins over the pre-bucketed edges (the
    rank-table broadcast is exactly what blows up at web scale).
    Drives `pagerank_iteration` directly -- the public entry
    checkpoints its result (to release the edge cache), which replans
    the iteration as an opaque LogicalRDD scan."""
    from pyspark.sql import functions as F

    from dataingestionengineprocess_spark.operators.graph import (
        pagerank_iteration,
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    w_edges = None
    try:
        deg = star_edges.groupBy("src").agg(F.count("*").alias("__deg"))
        w_edges = (
            star_edges.join(deg, "src")
            .select(
                F.col("src").alias("__src"), F.col("dst").alias("node"),
                (F.lit(1.0) / F.col("__deg")).alias("__w"),
            )
            .repartition("__src").cache()
        )
        w_edges.count()
        nodes = (
            w_edges.select(F.col("__src").alias("node"))
            .union(w_edges.select("node")).distinct()
            .localCheckpoint(eager=True)
        )
        ranks = nodes.withColumn("rank", F.lit(1.0))
        out = pagerank_iteration(w_edges, nodes, ranks, 0.85,
                                 use_broadcast=False)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan, plan
        # the stationary edge side is consumed pre-partitioned from the
        # cache: the contribution join must NOT re-exchange it -- no
        # Exchange may sit between the InMemoryTableScan and the join
        # (the only __src exchange allowed is the narrow rank side's)
        assert "InMemoryTableScan" in plan, plan
        # two RUNTIME __src-exchanges would mean the edge side
        # re-shuffled too; exactly one (the narrow rank side) is the
        # proof the cached bucketing was reused. The cache's own
        # REPARTITION_BY_COL exchange (printed inside the stored
        # InMemoryRelation build plan) ran once at materialization and
        # is not part of the iteration, so count only the
        # ENSURE_REQUIREMENTS exchanges the join itself demanded.
        runtime_src_exchanges = sum(
            "ENSURE_REQUIREMENTS" in line
            for line in plan.splitlines()
            if "Exchange hashpartitioning(__src" in line
        )
        assert runtime_src_exchanges == 1, plan
    finally:
        if w_edges is not None:
            w_edges.unpersist()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_pagerank_shuffle_path_releases_edge_cache(spark, star_edges):
    """Every pagerank call on the shuffle path must leave the session
    cache manager as it found it -- including with checkpointing
    disabled (the leak case: one edge InMemoryRelation per call)."""
    # start from a known-empty cache: other tests in the shared
    # session may have live entries of their own
    spark.catalog.clearCache()
    jcm = spark._jsparkSession.sharedState().cacheManager()
    assert jcm.isEmpty()
    pagerank(star_edges, iterations=2, checkpoint_every=0,
             broadcast_node_limit=0).collect()
    assert jcm.isEmpty()
    pagerank(star_edges, iterations=2, checkpoint_every=1,
             broadcast_node_limit=0).collect()
    assert jcm.isEmpty()


def _weighted_star(spark, star_edges):
    """(w_edges, nodes) as `pagerank` builds them, eagerly
    checkpointed so a plan over one iteration shows only that
    iteration's operators."""
    deg = star_edges.groupBy("src").agg(F.count("*").alias("__deg"))
    w_edges = (
        star_edges.join(deg, "src")
        .select(
            F.col("src").alias("__src"), F.col("dst").alias("node"),
            (F.lit(1.0) / F.col("__deg")).alias("__w"),
        )
        .localCheckpoint(eager=True)
    )
    nodes = (
        w_edges.select(F.col("__src").alias("node"))
        .union(w_edges.select("node")).distinct()
        .localCheckpoint(eager=True)
    )
    return w_edges, nodes


def test_pagerank_broadcast_step_plans_one_node_shuffle(spark, star_edges):
    """A broadcast-path step sums the contributions and the zero row
    per node in ONE aggregate: one hash exchange on node and the
    broadcast contribution join as the only join -- no second join
    against the node table."""
    import re

    from dataingestionengineprocess_spark.operators.graph import (
        pagerank_iteration,
    )

    w_edges, nodes = _weighted_star(spark, star_edges)
    ranks = nodes.withColumn("rank", F.lit(1.0))
    for reset in (False, True):
        node_side = (nodes.withColumn("__p", F.lit(0.2)) if reset
                     else nodes)
        out = pagerank_iteration(w_edges, node_side, ranks, 0.85,
                                 use_broadcast=True)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning(node") == 1, plan
        joins = re.findall(
            r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"
            r"|BroadcastNestedLoopJoin|CartesianProduct)", plan)
        assert joins == ["BroadcastHashJoin"], plan


def test_pagerank_broadcast_step_costs_two_jobs(spark, star_edges):
    """Each broadcast-path iteration runs exactly two jobs (the rank
    broadcast and the one node-keyed shuffle): 4 iterations cost 4
    jobs more than 2."""
    import uuid

    sc = spark.sparkContext

    def jobs(iterations):
        tag = f"pagerank-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(tag, "pagerank job count")
        try:
            pagerank(star_edges, iterations=iterations).collect()
            return len(sc.statusTracker().getJobIdsForGroup(tag))
        finally:
            sc.setJobGroup("pagerank-idle", "")

    assert jobs(4) - jobs(2) == 4
