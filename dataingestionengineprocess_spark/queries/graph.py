"""Graph-analytics surface (``graph_``) over relational edge lists.

PageRank and personalized PageRank, HITS, label propagation,
modularity communities, triangle counts, k-hop reachability and link
prediction on the part co-purchase graph (operators/graph.py builds
the edges). Iterations are unrolled as joins and aggregates, so every
query is a plain DataFrame composition with a SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, SparkSession

from ..catalog import load
from ..functions.exact import snap6
from ..operators.graph import COPURCHASE_HALF_SQL
from . import register


def _pagerank_oracle(iterations: int = 8, damping: float = 0.85) -> str:
    steps = []
    prev = "pr0"
    for k in range(1, iterations + 1):
        steps.append(f"""
pr{k} AS (
  SELECT n.node, {1 - damping} + {damping} * coalesce(s.contrib, 0.0) AS rank
  FROM nodes n LEFT JOIN (
     SELECT e.dst AS node, sum(p.rank * e.w) AS contrib
     FROM edges e JOIN {prev} p ON p.node = e.src
     GROUP BY e.dst
  ) s ON s.node = n.node
)""")
        prev = f"pr{k}"
    from ..operators.graph import COPURCHASE_HALF_SQL

    return "WITH " + COPURCHASE_HALF_SQL + f""",
deg AS (
  SELECT node, CAST(count(*) AS DOUBLE) AS degree FROM (
    SELECT src AS node FROM half UNION ALL SELECT dst AS node FROM half
  ) GROUP BY node
),
edges AS (
  SELECT h.src, h.dst, 1.0 / d.degree AS w
  FROM half h JOIN deg d ON d.node = h.src
  UNION ALL
  SELECT h.dst AS src, h.src AS dst, 1.0 / d.degree AS w
  FROM half h JOIN deg d ON d.node = h.dst
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
pr0 AS (SELECT node, 1.0 AS rank FROM nodes),
{",".join(steps)}
SELECT node, round(rank, 6) AS rank FROM {prev}
ORDER BY round(rank, 6) DESC, node LIMIT 50
"""


@register("graph_pagerank_parts", oracle=_pagerank_oracle())
def graph_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import copurchase_half, pagerank

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # Shared set-explosion edge build (operators/graph.py): one groupBy
    # shuffle, identical edges to the distinct self-join, 2.3x faster.
    # The graph is symmetric, so only the src < dst half is built; the
    # mirror direction is a narrow union afterwards, and per-node
    # degrees come from the half-pair table + a broadcast join inside
    # pagerank() instead of a groupBy over the full mirrored edge list.
    half = copurchase_half(li)
    deg = (
        half.select(F.explode(F.array("src", "dst")).alias("node"))
        .groupBy("node").agg(F.count("*").alias("degree"))
    )
    co = half.union(half.select(F.col("dst"), F.col("src")))
    return (
        pagerank(co, iterations=8, out_degrees=deg)
        .select("node", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), "node")
        .limit(50)
    )


_TRIANGLE_ORACLE = """
WITH u AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
  SELECT a.l_partkey AS a, b.l_partkey AS b
  FROM u a JOIN u b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 2
)
SELECT CAST(count(*) AS BIGINT) AS n_triangles,
       (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_edges
FROM pairs e1
JOIN pairs e2 ON e1.b = e2.a
JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
"""


@register("graph_triangle_count", oracle=_TRIANGLE_ORACLE)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import copurchase_half

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # Sparsified (>= 2 shared orders) projection via the SHARED
    # set-explosion edge source (r6 review: this was the third inline
    # copy of the build, and the self-join form it used is the one
    # copurchase_half's docstring documents as 2.3x slower).
    pairs = copurchase_half(li, min_orders=2) \
        .withColumnRenamed("src", "a").withColumnRenamed("dst", "b")
    # Undirected degree per node from the half-pairs, broadcast onto
    # the edges to re-orient them lower-degree-endpoint-first.
    deg = (
        pairs.select(F.explode(F.array("a", "b")).alias("n"))
        .groupBy("n").agg(F.count("*").alias("d"))
    )
    ranked = (
        pairs.join(F.broadcast(deg.withColumnRenamed("n", "a")
                   .withColumnRenamed("d", "da")), "a")
        .join(F.broadcast(deg.withColumnRenamed("n", "b")
              .withColumnRenamed("d", "db")), "b")
    )
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ranked.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    ).localCheckpoint(eager=True)
    # Wedges fan out only from each edge's LOWER-degree endpoint:
    # e1=(u,v), e2=(u,w) with v < w (each unordered wedge once),
    # closed by the edge between v and w in EITHER orientation --
    # canonicalized back to id order so the close stays an equi-join.
    # Wedge counts are PRE-AGGREGATED per (v, w) before the closing
    # join: the raw wedge fan-out streams straight into a map-side
    # partial count, so the join (and any sort for it) sees at most
    # one row per distinct endpoint pair instead of every wedge --
    # the difference between spilling a 100M-row wedge stream and
    # joining an edge-bounded table.
    e2 = oriented.select(F.col("u"), F.col("v").alias("w"))
    closing = oriented.select(
        F.least("u", "v").alias("v"), F.greatest("u", "v").alias("w")
    )
    wedge_counts = (
        oriented.join(e2, "u")
        .filter(F.col("v") < F.col("w"))
        .groupBy("v", "w")
        .agg(F.count("*").alias("wc"))
    )
    tri = (
        wedge_counts.join(closing, ["v", "w"], "left_semi")
        # coalesce: sum over an empty (triangle-free) result is NULL,
        # but the count contract (and the oracle's count(*)) says 0.
        .agg(F.coalesce(F.sum("wc"), F.lit(0))
             .cast("long").alias("n_triangles"))
    )
    edges = pairs.agg(F.count("*").alias("n_edges"))
    return tri.join(F.broadcast(edges))


_KHOP_ORACLE = """
WITH u AS (
  SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem
),
half AS (
  SELECT DISTINCT a.p AS src, b.p AS dst
  FROM u a JOIN u b ON a.k = b.k AND a.p < b.p
),
edges AS (
  SELECT src, dst FROM half
  UNION ALL
  SELECT dst AS src, src AS dst FROM half
),
seed_brand AS (SELECT min(p_brand) AS b FROM part),
d0 AS (
  SELECT DISTINCT p.p_partkey AS node
  FROM part p JOIN seed_brand s ON p.p_brand = s.b
),
d1 AS (
  SELECT DISTINCT e.dst AS node
  FROM d0 JOIN edges e ON e.src = d0.node
  WHERE e.dst NOT IN (SELECT node FROM d0)
),
d2 AS (
  SELECT DISTINCT e.dst AS node
  FROM d1 JOIN edges e ON e.src = d1.node
  WHERE e.dst NOT IN (SELECT node FROM d0)
    AND e.dst NOT IN (SELECT node FROM d1)
)
SELECT CAST(node AS BIGINT) AS p_partkey, CAST(0 AS BIGINT) AS dist
  FROM d0
UNION ALL
SELECT CAST(node AS BIGINT), CAST(1 AS BIGINT) FROM d1
UNION ALL
SELECT CAST(node AS BIGINT), CAST(2 AS BIGINT) FROM d2
ORDER BY dist, p_partkey
"""


@register("graph_khop_reachability", oracle=_KHOP_ORACLE)
def graph_khop_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 2-hop BFS distances over the co-purchase graph from the
    lexicographically smallest brand's parts. BFS core shared with
    operators/graph.py:khop_bfs (scale-probed at 1x/2x/4x)."""
    from ..operators.graph import copurchase_edges, khop_bfs

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # Shared set-explosion edge build (operators/graph.py): one groupBy
    # shuffle, identical edges to the distinct self-join, 2.3x faster.
    edges = copurchase_edges(li)

    part = load(spark, sf_dir, "part")
    seed_brand = part.agg(F.min("p_brand").alias("b"))
    seeds = (
        part.join(F.broadcast(seed_brand), part.p_brand == F.col("b"))
        .select(F.col("p_partkey").alias("node"))
    )
    return (
        khop_bfs(edges, seeds, hops=2)
        .select(F.col("node").cast("long").alias("p_partkey"),
                F.col("dist").cast("long").alias("dist"))
        .orderBy("dist", "p_partkey")
    )


_LPA_EDGES_SQL = COPURCHASE_HALF_SQL + """,
edges AS (
  SELECT src, dst FROM half
  UNION ALL
  SELECT dst AS src, src AS dst FROM half
),
l1 AS (SELECT src AS node, min(dst) AS label FROM edges GROUP BY src),
nbr AS (SELECT e.src AS node, l.label
        FROM edges e JOIN l1 l ON l.node = e.dst),
cnt AS (SELECT node, label, count(*) AS c FROM nbr GROUP BY node, label),
mx AS (SELECT node, max(c) AS mc FROM cnt GROUP BY node),
l2 AS (
  SELECT c.node, min(c.label) AS label
  FROM cnt c JOIN mx m ON m.node = c.node AND c.c = m.mc
  GROUP BY c.node
)
"""


def _lpa_two_rounds(spark: SparkSession, sf_dir: str):
    """(half-edges, mirrored edges, round-2 label per node)."""
    from ..operators.graph import copurchase_half

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    half = copurchase_half(li)
    edges = half.union(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    l1 = edges.groupBy("src").agg(F.min("dst").alias("label")) \
        .withColumnRenamed("src", "lnode")
    nbr = edges.join(l1, edges["dst"] == F.col("lnode")) \
        .select(F.col("src").alias("node"), "label")
    cnt = nbr.groupBy("node", "label").agg(F.count(F.lit(1)).alias("c"))
    mx = cnt.groupBy("node").agg(F.max("c").alias("mc"))
    l2 = (
        cnt.join(mx, "node")
        .where(F.col("c") == F.col("mc"))
        .groupBy("node")
        .agg(F.min("label").alias("label"))
    )
    return half, edges, l2


_LPA_ORACLE = f"""
WITH {_LPA_EDGES_SQL}
SELECT node, CAST(label AS BIGINT) AS label FROM l2 ORDER BY node
"""


@register("graph_label_propagation", oracle=_LPA_ORACLE)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two synchronous LPA rounds over the part co-purchase graph:
    per-node community label, deterministic (count desc, label asc)
    vote. Pure join+aggregate rounds -- the scale path for iterative
    label refinement (add rounds = add shuffles, never windows)."""
    _, _, l2 = _lpa_two_rounds(spark, sf_dir)
    return l2.select("node", F.col("label").cast("long").alias("label")) \
        .orderBy("node")


_MODULARITY_ORACLE = f"""
WITH {_LPA_EDGES_SQL},
m AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM half),
deg AS (
  SELECT src AS node, count(*) AS degree FROM edges GROUP BY src
),
e_in AS (
  SELECT a.label, count(*) AS e_c
  FROM half h
  JOIN l2 a ON a.node = h.src
  JOIN l2 b ON b.node = h.dst AND b.label = a.label
  GROUP BY a.label
),
comm AS (
  SELECT l.label,
         CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(d.degree) AS BIGINT) AS deg_sum
  FROM l2 l JOIN deg d ON d.node = l.node
  GROUP BY l.label
)
SELECT CAST(c.label AS BIGINT) AS community,
       c.n_nodes,
       CAST(COALESCE(e.e_c, 0) AS BIGINT) AS e_in,
       c.deg_sum,
       floor((COALESCE(e.e_c, 0) / m.m
              - (c.deg_sum / (2.0 * m.m)) * (c.deg_sum / (2.0 * m.m)))
             * 1e6 + 0.5) / 1e6 AS q_c_s
FROM comm c CROSS JOIN m LEFT JOIN e_in e ON e.label = c.label
ORDER BY c.n_nodes DESC, community
"""


@register("graph_modularity_communities", oracle=_MODULARITY_ORACLE)
def graph_modularity_communities(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Newman modularity contribution per LPA community:
    Q_c = e_c/m - (deg_c/2m)^2 over the undirected co-purchase graph.
    All inputs are exact integer aggregates (half-edge count m,
    within-community edges e_c, community degree sums); the single
    double expression is snap6-gridded. The global Q is sum(q_c_s) --
    the objective a Louvain pass would greedily improve."""
    half, edges, l2 = _lpa_two_rounds(spark, sf_dir)
    m_df = half.agg(F.count(F.lit(1)).cast("double").alias("m"))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("degree")) \
        .withColumnRenamed("src", "node")
    a = l2.select(F.col("node").alias("na"), F.col("label"))
    b = l2.select(F.col("node").alias("nb"), F.col("label").alias("lb"))
    e_in = (
        half.join(a, half["src"] == F.col("na"))
        .join(b, (half["dst"] == F.col("nb"))
              & (F.col("lb") == F.col("label")))
        .groupBy("label").agg(F.count(F.lit(1)).alias("e_c"))
    )
    comm = (
        l2.join(deg, "node")
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"),
             F.sum("degree").cast("long").alias("deg_sum"))
    )
    q_c = (F.coalesce(F.col("e_c"), F.lit(0)) / F.col("m")
           - (F.col("deg_sum") / (2.0 * F.col("m")))
           * (F.col("deg_sum") / (2.0 * F.col("m"))))
    return (
        comm.crossJoin(F.broadcast(m_df))
        .join(e_in, "label", "left")
        .select(F.col("label").cast("long").alias("community"),
                "n_nodes",
                F.coalesce(F.col("e_c"), F.lit(0)).cast("long")
                .alias("e_in"),
                "deg_sum",
                snap6(q_c).alias("q_c_s"))
        .orderBy(F.desc("n_nodes"), "community")
    )


_LINKPRED_ORACLE = """
WITH u AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
half AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM u a JOIN u b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 2
),
edges AS (
  SELECT src, dst FROM half UNION ALL SELECT dst, src FROM half
),
deg AS (SELECT src AS node, count(*) AS degree FROM edges GROUP BY src),
wedge AS (
  SELECT e1.src AS a, e2.dst AS b, count(*) AS common
  FROM edges e1 JOIN edges e2
    ON e2.src = e1.dst AND e1.src < e2.dst
  GROUP BY e1.src, e2.dst
),
cand AS (
  SELECT w.a, w.b, w.common
  FROM wedge w
  LEFT JOIN half h ON h.src = w.a AND h.dst = w.b
  WHERE h.src IS NULL
)
SELECT c.a, c.b, CAST(c.common AS BIGINT) AS common,
       floor(c.common
             / CAST(da.degree + db.degree - c.common AS DOUBLE)
             * 1e6 + 0.5) / 1e6 AS jaccard_s
FROM cand c
JOIN deg da ON da.node = c.a
JOIN deg db ON db.node = c.b
ORDER BY jaccard_s DESC, a, b LIMIT 50
"""


def jaccard_link_scores(li: DataFrame) -> DataFrame:
    """Neighborhood-Jaccard scores for all non-adjacent 2-hop pairs
    of the >= 2-shared-orders co-purchase projection of ``li``
    (l_orderkey, l_partkey). Factored for tools/scale_probe.py; the
    registered query takes its top-50. The sparsified half-edge
    build routes through the shared `copurchase_half(min_orders=2)`
    (set explosion, 2.3x the self-join form) so the projection
    cannot drift from the other graph surfaces."""
    from ..operators.graph import copurchase_half

    half = copurchase_half(li, min_orders=2)
    # checkpointed by the operator: feeds wedges, degrees, anti-join
    edges = half.union(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("degree")) \
        .withColumnRenamed("src", "node")
    e1 = edges.select(F.col("src").alias("a"), F.col("dst").alias("mid"))
    e2 = edges.select(F.col("src").alias("mid2"), F.col("dst").alias("b"))
    wedge = (
        e1.join(e2, (F.col("mid2") == F.col("mid"))
                & (F.col("a") < F.col("b")))
        .groupBy("a", "b").agg(F.count(F.lit(1)).alias("common"))
    )
    cand = wedge.join(
        half, (half["src"] == wedge["a"]) & (half["dst"] == wedge["b"]),
        "left_anti")
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("dega"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("degb"))
    jac = F.col("common") / (F.col("dega") + F.col("degb")
                             - F.col("common")).cast("double")
    return (
        cand.join(da, "a").join(db, "b")
        .select("a", "b", F.col("common").cast("long").alias("common"),
                snap6(jac).alias("jaccard_s"))
    )


@register("graph_jaccard_link_prediction", oracle=_LINKPRED_ORACLE)
def graph_jaccard_link_prediction(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Top-50 neighborhood-Jaccard scores over non-adjacent 2-hop
    pairs of the >= 2-shared-orders co-purchase projection."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return (
        jaccard_link_scores(li)
        .orderBy(F.desc("jaccard_s"), "a", "b")
        .limit(50)
    )


_PPR_BRAND = "Brand#11"


_PPR_ITER = 6


_PPR_D = 0.85


def _ppr_oracle() -> str:
    steps = []
    prev = "pr0"
    for k in range(1, _PPR_ITER + 1):
        steps.append(f"""
pr{k} AS (
  SELECT n.node,
         {1 - _PPR_D} * n.p + {_PPR_D} * coalesce(s.contrib, 0.0) AS rank
  FROM pnodes n LEFT JOIN (
     SELECT e.dst AS node, sum(p.rank * e.w) AS contrib
     FROM edges e JOIN {prev} p ON p.node = e.src
     GROUP BY e.dst
  ) s ON s.node = n.node
)""")
        prev = f"pr{k}"
    from ..operators.graph import COPURCHASE_HALF_SQL

    return "WITH " + COPURCHASE_HALF_SQL + f""",
deg AS (
  SELECT node, CAST(count(*) AS DOUBLE) AS degree FROM (
    SELECT src AS node FROM half UNION ALL SELECT dst AS node FROM half
  ) GROUP BY node
),
edges AS (
  SELECT h.src, h.dst, 1.0 / d.degree AS w
  FROM half h JOIN deg d ON d.node = h.src
  UNION ALL
  SELECT h.dst AS src, h.src AS dst, 1.0 / d.degree AS w
  FROM half h JOIN deg d ON d.node = h.dst
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
seeds AS (
  SELECT n.node FROM nodes n
  JOIN part p ON p.p_partkey = n.node AND p.p_brand = '{_PPR_BRAND}'
),
ns AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM seeds),
pnodes AS (
  SELECT n.node,
         CASE WHEN s.node IS NOT NULL THEN 1.0 / ns.c ELSE 0.0 END AS p
  FROM nodes n LEFT JOIN seeds s ON s.node = n.node CROSS JOIN ns
),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
pr0 AS (SELECT node, p AS rank FROM pnodes),
{",".join(steps)}
SELECT f.node, round(f.rank * nn.n, 6) AS rank_n
FROM {prev} f CROSS JOIN nn
ORDER BY round(f.rank * nn.n, 6) DESC, f.node LIMIT 50
"""


@register("graph_personalized_pagerank", oracle=_ppr_oracle())
def graph_personalized_pagerank(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """PPR with the teleport on one brand's parts; shared pagerank
    loop, ranks rescaled by N before the 6-digit round."""
    from ..operators.graph import copurchase_half, pagerank

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    half = copurchase_half(li)
    deg = (
        half.select(F.explode(F.array("src", "dst")).alias("node"))
        .groupBy("node").agg(F.count("*").alias("degree"))
    )
    co = half.union(half.select(F.col("dst"), F.col("src")))
    parts = load(spark, sf_dir, "part") \
        .where(F.col("p_brand") == _PPR_BRAND) \
        .select(F.col("p_partkey").alias("node"))
    seeds = deg.select("node").join(F.broadcast(parts), "node")
    n_seeds = seeds.count()  # bounded model state (<=|brand| parts)
    # No seeds in the graph: the oracle's CASE never takes the 1/c
    # branch and every reset mass is 0.0 -- mirror that instead of
    # dividing by zero on the driver (the reset frame is empty either
    # way, so the literal only needs to be well-defined).
    seed_mass = 1.0 / n_seeds if n_seeds else 0.0
    reset = seeds.select("node", F.lit(seed_mass).alias("p"))
    ranks = pagerank(co, iterations=_PPR_ITER, damping=_PPR_D,
                     out_degrees=deg, reset=reset)
    n_nodes = deg.count()
    return (
        ranks.select("node",
                     F.round(F.col("rank") * float(n_nodes), 6)
                     .alias("rank_n"))
        .orderBy(F.desc("rank_n"), "node")
        .limit(50)
    )


_HITS_ITER = 2


_HITS_ORACLE = f"""
WITH e AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
h0 AS (SELECT DISTINCT c, 1.0 AS h FROM e),
a1r AS (
  SELECT e.p, sum(h0.h) AS a FROM e JOIN h0 ON h0.c = e.c GROUP BY e.p
),
a1 AS (SELECT p, a / (SELECT sum(a) FROM a1r) AS a FROM a1r),
h1r AS (
  SELECT e.c, sum(a1.a) AS h FROM e JOIN a1 ON a1.p = e.p GROUP BY e.c
),
h1 AS (SELECT c, h / (SELECT sum(h) FROM h1r) AS h FROM h1r),
a2r AS (
  SELECT e.p, sum(h1.h) AS a FROM e JOIN h1 ON h1.c = e.c GROUP BY e.p
),
a2 AS (SELECT p, a / (SELECT sum(a) FROM a2r) AS a FROM a2r)
SELECT p AS part, round(a * 1e4, 6) AS authority_scaled
FROM a2 ORDER BY round(a * 1e4, 6) DESC, p LIMIT 30
"""


@register("graph_hits_bipartite", oracle=_HITS_ORACLE)
def graph_hits_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two HITS iterations on the customer-part purchase graph;
    top-30 part authorities, sum-normalized half-steps."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    e = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("c"),
                F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=True)  # static edges feed 3 half-steps
    )

    def normalize(df: DataFrame, col: str) -> DataFrame:
        tot = df.agg(F.sum(col).alias("__t"))
        return df.crossJoin(F.broadcast(tot)) \
            .select(*[c for c in df.columns if c != col],
                    (F.col(col) / F.col("__t")).alias(col))

    h0 = e.select("c").distinct().withColumn("h", F.lit(1.0))
    a1 = normalize(
        e.join(h0, "c").groupBy("p").agg(F.sum("h").alias("a")), "a")
    h1 = normalize(
        e.join(a1, "p").groupBy("c").agg(F.sum("a").alias("h")), "h")
    a2 = normalize(
        e.join(h1, "c").groupBy("p").agg(F.sum("h").alias("a")), "a")
    return (
        a2.select(F.col("p").alias("part"),
                  F.round(F.col("a") * 1e4, 6).alias("authority_scaled"))
        .orderBy(F.desc("authority_scaled"), "part")
        .limit(30)
    )
