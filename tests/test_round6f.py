"""Round-6f invariants: personalized PageRank and HITS."""

from __future__ import annotations

from pyspark.sql import functions as F

from dataingestionengineprocess_spark.catalog import load
from dataingestionengineprocess_spark.queries.graph import (
    graph_hits_bipartite,
    graph_personalized_pagerank,
)
from tests.conftest import SF_SMOKE


def test_ppr_mass_concentrates_near_seeds(spark):
    rows = graph_personalized_pagerank(spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= 50
    ranks = [r["rank_n"] for r in rows]
    assert ranks == sorted(ranks, reverse=True)
    assert all(r > 0 for r in ranks)
    # Seed-brand parts must dominate the top of a personalized walk:
    # the teleport returns ALL (1-d) mass to them every step.
    brand = {r["p_partkey"]
             for r in load(spark, SF_SMOKE, "part")
             .where(F.col("p_brand") == "Brand#11").collect()}
    top10 = [r["node"] for r in rows[:10]]
    assert sum(1 for n in top10 if n in brand) >= 5, top10


def test_ppr_uniform_reset_none_unchanged(spark):
    # The reset=None path (global PageRank) must be byte-stable
    # against the personalized extension -- guard the shared loop.
    from dataingestionengineprocess_spark.operators.graph import (
        copurchase_half,
        pagerank,
    )

    li = load(spark, SF_SMOKE, "lineitem") \
        .select("l_orderkey", "l_partkey")
    half = copurchase_half(li)
    co = half.union(half.select(F.col("dst"), F.col("src")))
    deg = (half.select(F.explode(F.array("src", "dst")).alias("node"))
           .groupBy("node").agg(F.count("*").alias("degree")))
    ranks = pagerank(co, iterations=2, out_degrees=deg)
    total = ranks.agg(F.sum("rank").alias("s")).collect()[0]["s"]
    n = ranks.count()
    # Uniform normalization: ranks sum ~N (symmetric graph, no
    # dangling leakage).
    assert abs(total - n) < 1e-6 * n


def test_hits_authorities_normalized_and_positive(spark):
    rows = graph_hits_bipartite(spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= 30
    vals = [r["authority_scaled"] for r in rows]
    assert vals == sorted(vals, reverse=True)
    assert all(v > 0 for v in vals)
    # Sum-normalized: each authority (scaled by 1e4) is < 1e4, and
    # the top-30 can't exceed the whole mass.
    assert all(v < 1e4 for v in vals)
    assert sum(vals) <= 1e4 + 1e-6
