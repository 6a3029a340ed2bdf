"""Iterative graph algorithms on DataFrames: PageRank.

Companions to operators/components.py (connected components): the
reference has no graph surface (its engine box is opaque,
Untitled Diagram.drawio:153-154), but corpus curation at 100 TB uses
link analysis for source-quality weighting -- PageRank over a
citation/co-occurrence graph is the canonical form.

Scale design: the edge subtree (often expensive -- the co-purchase
query derives it from a self-join + distinct) is materialized ONCE
with the out-degree folded in as a per-edge weight, so each iteration
is exactly one join + ONE shuffle over a static, already-partitioned
table: the contributions and a zero row per node are summed by node in
one aggregate, which also carries nodes with no in-edges (no second
join against the node table); lineage is
truncated with localCheckpoint every few iterations so the plan does
not grow linearly with iteration count (the classic iterative-Spark
trap).

Two per-iteration join strategies, auto-selected on the measured node
count:

- **broadcast** (node count within budget): the rank table is
  broadcast onto the stationary edges, so the join is map-side and the
  only shuffle carries per-partition partial contribution sums.
- **shuffle** (node count beyond budget): the edge table is
  pre-hash-partitioned by source ONCE at setup (the partitioning
  survives the localCheckpoint), and each iteration shuffles only the
  narrow (node, rank) table to meet it -- the edges never move again.
  This is the path a web-scale graph (billions of nodes, where a
  broadcast rank table would blow the executor budget) takes.
"""

from __future__ import annotations

from contextlib import nullcontext

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import cached, checkpoint

#: Truncate lineage EVERY iteration: materializing the rank table per
#: iteration (broadcast build or shuffle input) walks the pending
#: chain anyway, so deferring the checkpoint would re-execute earlier
#: iterations quadratically inside each segment; each checkpoint is a
#: narrow (node, rank) table so the cost is small relative to the join.
_CHECKPOINT_EVERY = 1

#: Auto-select boundary between the broadcast and shuffle strategies.
#: A hashed (node BIGINT, rank DOUBLE) relation costs roughly 50-100 B
#: per entry in the JVM, so 5M nodes is ~0.5 GB -- near the practical
#: per-executor broadcast budget; beyond it the pre-bucketed shuffle
#: join wins.
_BROADCAST_NODE_LIMIT = 5_000_000


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             iterations: int = 8, damping: float = 0.85,
             checkpoint_every: int = _CHECKPOINT_EVERY,
             out_degrees: DataFrame | None = None,
             broadcast_node_limit: int = _BROADCAST_NODE_LIMIT,
             reset: DataFrame | None = None) -> DataFrame:
    """PageRank over a directed edge list -> (node, rank).

    Ranks are scaled so they sum to the node count N (the random-surfer
    normalization): rank = (1-d) + d * sum(in-contributions), with each
    node spreading its rank uniformly over its out-edges. Dangling
    nodes (no out-edges) appear as destinations only; their mass leaks,
    which is the standard simplification when the graph is made
    symmetric upstream (as the co-purchase query does).

    ``out_degrees`` (node, degree): callers that already know each
    node's out-degree (e.g. a symmetric graph built from undirected
    pairs, where degree == undirected degree) pass it here -- the
    node-count table is broadcast-joined onto the edges, skipping the
    groupBy shuffle over the full edge list that deriving degrees
    in-operator would cost.

    ``broadcast_node_limit``: node counts at or below it use the
    broadcast-ranks iteration; above it the shuffle-join iteration
    (edges pre-bucketed by source once, no broadcast anywhere). Pass 0
    to force the shuffle path, a huge value to force broadcast.

    ``reset`` (node, p): PERSONALIZED PageRank -- the teleport lands
    on the given distribution (p should sum to 1) instead of
    uniformly: rank = (1-d) * p(node) + d * contribs, ranks
    initialized to p and summing to ~1 (minus dangling leakage).
    Nodes absent from ``reset`` get p = 0. The teleport column rides
    the (checkpointed) node table into each step's one aggregate, so
    the per-iteration plan has the same shape as the uniform case.
    """
    if out_degrees is not None:
        out_deg = F.broadcast(out_degrees.select(
            F.col("node").alias(src), F.col("degree").alias("__deg")
        ))
    else:
        out_deg = edges.groupBy(src).agg(F.count("*").alias("__deg"))
    # Materialize the static side ONCE. The edge list is often an
    # expensive subtree (the co-purchase query builds it from a
    # self-join + distinct); without this every iteration -- and every
    # branch inside an iteration -- re-executes that subtree. The
    # out-degree is folded in here too, so iterations never join it
    # again: each edge carries its contribution weight 1/deg.
    # LAZY checkpoints, fused by the strategy count below: computing
    # the node count walks nodes -> w_edges, persisting both as a side
    # effect (the ranking.py fusion move). Under AQE a lazy checkpoint
    # still runs its plan's shuffle stages as jobs of their own, so
    # the whole setup (edge materialization, node distinct, count)
    # measured 5 jobs, on the sf0.001 and sf0.01 co-purchase graphs
    # and on a 49-leaf star alike; with AQE off it is 2. Lineage
    # truncation is identical -- localCheckpoint swaps in the RDD scan
    # at construction time either way.
    w_edges = checkpoint(
        edges.join(out_deg, src)
        .select(
            F.col(src).alias("__src"), F.col(dst).alias("node"),
            (F.lit(1.0) / F.col("__deg")).alias("__w"),
        ),
        eager=False,
    )
    nodes = (
        w_edges.select(F.col("__src").alias("node"))
        .union(w_edges.select("node"))
        .distinct()
    )
    if reset is not None:
        nodes = nodes.join(
            reset.select("node", F.col("p").alias("__p")), "node", "left"
        ).select("node", F.coalesce("__p", F.lit(0.0)).alias("__p"))
    nodes = checkpoint(nodes, eager=False)
    # The strategy decision needs the node count; this count is also
    # the job that materializes both checkpoints above.
    use_broadcast = nodes.count() <= broadcast_node_limit
    if use_broadcast:
        scope = nullcontext(w_edges)
    else:
        # Pre-bucket the stationary edges by join key and CACHE (not
        # checkpoint): under AQE a localCheckpoint captures the
        # adaptive plan's UnknownPartitioning, while a cached
        # InMemoryRelation keeps its hashpartitioning (AQE does not
        # re-plan cached output partitioning by default). Every
        # iteration's join then sees edges already distributed by
        # __src and plans an exchange ONLY on the narrow rank side.
        scope = cached(w_edges.repartition("__src"))

    if reset is not None:
        ranks = nodes.select("node", F.col("__p").alias("rank"))
    else:
        ranks = nodes.withColumn("rank", F.lit(1.0))

    with scope as w_edges:
        if not use_broadcast:
            w_edges.count()  # materialize once, before the loop
        for i in range(iterations):
            ranks = pagerank_iteration(
                w_edges, nodes, ranks, damping, use_broadcast
            )
            if checkpoint_every and (i + 1) % checkpoint_every == 0:
                # LAZY: the next iteration's rank materialization
                # (broadcast build / shuffle input) walks this RDD and
                # persists it as a side effect, so an eager job per
                # iteration double-paid the same pass. Lineage is still
                # truncated at plan-construction time (localCheckpoint
                # swaps in the RDD scan immediately), so the plan stays
                # bounded per iteration either way.
                ranks = checkpoint(ranks, eager=False)
        if not use_broadcast:
            # The final ranks must be made independent of the cache
            # before it is released (a later consumer action would
            # otherwise recompute the edge repartition per action).
            # The loop's checkpoints are lazy, so force one
            # materializing checkpoint here while the cache is alive.
            ranks = checkpoint(ranks)
    return ranks


def pagerank_iteration(w_edges: DataFrame, nodes: DataFrame,
                       ranks: DataFrame, damping: float,
                       use_broadcast: bool) -> DataFrame:
    """One PageRank step over the stationary weighted edges: the
    contribution join (broadcast or pre-bucketed shuffle) and ONE
    per-node aggregate over the contributions plus a zero row per
    node, so the damped rebuild covers the full node set without a
    second (join) shuffle. Exposed separately so plan-shape tests can
    prove the iteration's join strategy before the driving loop's
    checkpoints replan it as an opaque LogicalRDD scan."""
    rank_side = ranks.withColumnRenamed("node", "__src")
    if use_broadcast:
        # Ranks broadcast: the node set is the small dimension of a
        # link graph (edges are the 100 TB side), so the per-iteration
        # join is map-side over the stationary edges and the shuffle
        # carries only per-partition PARTIAL sums (<= nodes/partition
        # rows), not one row per edge.
        rank_side = F.broadcast(rank_side)
    # Personalized teleport: a "__p" column on the node table routes
    # the (1-d) mass to the reset distribution instead of uniformly;
    # it rides the same aggregate (max over the node row's p and the
    # contribution rows' NULLs).
    p_col = ["__p"] if "__p" in nodes.columns else []
    contribs = w_edges.join(rank_side, "__src").select(
        "node", (F.col("rank") * F.col("__w")).alias("__c"),
        *[F.lit(None).cast("double").alias(c) for c in p_col],
    )
    # Every node contributes one 0.0 row, so nodes with no in-edges
    # still get their teleport rank from the same aggregate, with no
    # join against the node table (x + 0.0 == x: only the summation
    # order varies, as it does across partitionings).
    keys = nodes.select("node", F.lit(0.0).alias("__c"), *p_col)
    summed = contribs.unionByName(keys).groupBy("node").agg(
        F.sum("__c").alias("contrib"), *[F.max(c).alias(c) for c in p_col]
    )
    base = (F.lit(1.0 - damping) * F.col("__p")
            if p_col else F.lit(1.0 - damping))
    return summed.select(
        "node", (base + F.lit(damping) * F.col("contrib")).alias("rank")
    )


def khop_bfs(edges: DataFrame, seeds: DataFrame, hops: int = 2,
             src: str = "src", dst: str = "dst",
             node: str = "node") -> DataFrame:
    """Exact min-hop BFS distances from ``seeds`` (one ``node``
    column) over directed ``edges``, bounded depth.

    Each hop is one equi-join of the current frontier against the
    edge table plus a left-anti subtraction of the visited set -- the
    standard distributed BFS step. Frontiers materialize eagerly per
    hop (localCheckpoint) so lineage stays flat and each frontier is
    computed exactly once; depth is bounded, so driver state is just
    the loop counter. Shared with `graph_khop_reachability`
    (queries/graph.py), whose DuckDB oracle unrolls the identical
    frontier algebra as chained CTEs.

    Both per-hop joins PIN the shuffle-hash strategy (VERDICT r8 #2):
    the frontier and visited sets grow with the reachable set -- on a
    well-connected graph one hop can cover most nodes -- so letting
    the planner broadcast them is wrong at scale AND brittle locally
    (the checkpointed frontier's accurate small stats invited a
    BroadcastExchange whose driver-side build OOMed a default-1g
    driver late in a 400-query sweep). Shuffle-hash keeps every hop's
    memory bounded by a partition, not by the driver heap.
    """
    # LAZY checkpoints: each frontier RDD persists the first time the
    # consumer's action touches it (and every frontier is still
    # computed exactly once -- the union/visited/next-hop consumers
    # all read the persisted blocks); eager spent one job per hop on
    # a pass the consumer pays anyway. Lineage stays flat either way.
    d0 = checkpoint(seeds.select(node).distinct(), eager=False)
    frontier, visited = d0, d0
    out = d0.withColumn("dist", F.lit(0))
    for hop in range(1, hops + 1):
        nxt = checkpoint(bfs_hop(frontier, edges, visited, src=src,
                                 dst=dst, node=node), eager=False)
        out = out.union(nxt.withColumn("dist", F.lit(hop)))
        visited = visited.union(nxt)
        frontier = nxt
    return out


def bfs_hop(frontier: DataFrame, edges: DataFrame, visited: DataFrame,
            src: str = "src", dst: str = "dst",
            node: str = "node") -> DataFrame:
    """One un-checkpointed BFS step: next frontier = N(frontier) \\
    visited. Public so the plan suite can pin its join strategies
    (`khop_bfs` checkpoints each hop away from the final plan)."""
    return (
        frontier.hint("shuffle_hash")
        .join(edges, frontier[node] == edges[src])
        .select(F.col(dst).alias(node)).distinct()
        .join(visited.hint("shuffle_hash"), node, "left_anti")
    )


#: DuckDB-oracle twin of `copurchase_half(min_orders=1)`: the
#: sets + half CTE fragment every co-purchase oracle composes over
#: (pagerank, LPA/modularity, personalized pagerank). ONE copy, next
#: to the Spark-side single source, so the projection the oracles
#: model cannot drift from the engine's edge build. Plain string (no
#: f-string) so the struct-literal braces need no escaping.
COPURCHASE_HALF_SQL = """
sets AS (
  SELECT l_orderkey, list_distinct(list(l_partkey)) AS ps
  FROM lineitem GROUP BY l_orderkey
),
half AS (
  SELECT DISTINCT p.src AS src, p.dst AS dst FROM (
    SELECT unnest(flatten(list_transform(ps,
        x -> list_transform(list_filter(ps, y -> y > x),
                            y -> {'src': x, 'dst': y})))) AS p
    FROM sets
  )
)"""


def copurchase_half(pairs: DataFrame, key: str = "l_orderkey",
                    item: str = "l_partkey",
                    min_orders: int = 1) -> DataFrame:
    """Undirected co-occurrence pairs (``src < dst``) of ``item``
    values sharing a ``key``, via per-key item sets + in-array pair
    explosion; ``min_orders`` > 1 keeps only pairs co-occurring under
    at least that many distinct keys (the sparsified-projection
    threshold `graph_triangle_count` and `graph_jaccard_link_
    prediction` use -- the un-thresholded wedge count grows ~m^1.5).

    ONE groupBy shuffle instead of a distinct self-join's two-sided
    shuffle of every row -- measured 2.3x faster at sf0.1 with
    identical edges (see `graph_pagerank_parts`). Per-key fan-out is
    |items|^2, the same quadratic the self-join pays, but with no join
    machinery. Eagerly checkpointed: every caller feeds the half-pair
    table to at least two consumers (mirror union + degrees, or an
    iterative BFS/PageRank loop), so flat lineage computed once is the
    right default. THE single source of the co-purchase edge build --
    `graph_pagerank_parts`, `graph_khop_reachability`,
    `graph_jaccard_link_prediction`, and tools/scale_probe.py all
    route through here so the idiom cannot drift between surfaces.
    """
    sets_ = pairs.groupBy(key).agg(F.collect_set(item).alias("ps"))
    exploded = (
        sets_.select(F.explode(F.expr(
            "filter(flatten(transform(ps,"
            " x -> transform(ps, y -> struct(x as src, y as dst)))),"
            " p -> p.src < p.dst)"
        )).alias("p"))
        .select("p.src", "p.dst")
    )
    if min_orders > 1:
        # per-key sets make each (key, pair) unique, so the plain
        # count IS the distinct-key co-occurrence count
        half = (exploded.groupBy("src", "dst")
                .agg(F.count(F.lit(1)).alias("__n"))
                .where(F.col("__n") >= min_orders)
                .select("src", "dst"))
    else:
        half = exploded.distinct()
    # LAZY: the caller's first consumer action (degree broadcast
    # build, BFS seed job, ...) materializes and persists the RDD as
    # a side effect -- an eager job here double-paid that pass.
    # Lineage is truncated at construction time either way.
    return checkpoint(half, eager=False)


def copurchase_edges(pairs: DataFrame, key: str = "l_orderkey",
                     item: str = "l_partkey") -> DataFrame:
    """Symmetric (mirrored) co-occurrence edge list built from
    `copurchase_half` -- the narrow union of both directions."""
    half = copurchase_half(pairs, key, item)
    return half.union(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
