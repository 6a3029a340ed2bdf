"""Unit/edge coverage for the round-4s queries (k-hop BFS, Flesch
readability, inverted postings). The oracle gate lives in
test_oracle_parity.py; this file hand-tracks a path graph, syllable
floors, and a hashlib-recomputed postings digest.
"""

from __future__ import annotations

import hashlib

from fixture_tables import write_documents


def _graph(spark, tmp_path, parts, lines):
    from pyspark.sql import functions as F

    spark.createDataFrame(
        parts, "p_partkey long, p_name string, p_brand string, "
               "p_type string, p_size int, p_retailprice double",
    ).write.mode("overwrite").parquet(str(tmp_path / "part.parquet"))
    spark.createDataFrame(
        lines, "l_orderkey long, l_partkey long",
    ).withColumn("l_suppkey", F.lit(1)) \
     .write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    return str(tmp_path)


# --- k-hop BFS ---------------------------------------------------------------


def test_khop_path_graph_exact_distances(spark, tmp_path):
    # Brand 'AAA' = part 1 (seed). Orders: {1,2}, {2,3}, {3,4} build a
    # path 1-2-3-4; part 5 is isolated. 2-hop BFS: 1->0, 2->1, 3->2,
    # 4 and 5 unreached.
    from dataingestionengineprocess_spark.queries.graph import (
        graph_khop_reachability,
    )

    parts = [(i, f"p{i}", "AAA" if i == 1 else "ZZZ", "T", 1, 1.0)
             for i in range(1, 6)]
    lines = [(100, 1), (100, 2), (200, 2), (200, 3), (300, 3), (300, 4)]
    out = {r["p_partkey"]: r["dist"] for r in graph_khop_reachability(
        spark, _graph(spark, tmp_path, parts, lines)).collect()}
    assert out == {1: 0, 2: 1, 3: 2}


def test_khop_cycle_keeps_min_distance(spark, tmp_path):
    # Triangle 1-2-3 with seed 1: 2 and 3 are both 1 hop (the 2-hop
    # path must not re-label them), so no node gets dist 2.
    from dataingestionengineprocess_spark.queries.graph import (
        graph_khop_reachability,
    )

    parts = [(i, f"p{i}", "AAA" if i == 1 else "ZZZ", "T", 1, 1.0)
             for i in (1, 2, 3)]
    lines = [(100, 1), (100, 2), (200, 2), (200, 3), (300, 3), (300, 1)]
    out = {r["p_partkey"]: r["dist"] for r in graph_khop_reachability(
        spark, _graph(spark, tmp_path, parts, lines)).collect()}
    assert out == {1: 0, 2: 1, 3: 1}


# --- Flesch ------------------------------------------------------------------


def test_flesch_floors_and_bands(spark, tmp_path):
    # Doc 1: no sentence punctuation -> n_sentences floored to 1.
    # Doc 2: vowel-free words -> syllables floored to n_words.
    from dataingestionengineprocess_spark.queries.text import (
        text_readability_flesch,
    )

    rows = [(1, "the cat sat", "en", "s", 0),
            (2, "zzz bzz tsk", "en", "s", 0)]
    out = {r["doc_id"]: r for r in text_readability_flesch(
        spark, write_documents(spark, tmp_path, rows)).collect()}
    assert out[1]["n_sentences"] == 1
    assert out[1]["n_words"] == 3
    assert out[2]["n_syllables"] == 3  # floored to word count
    # one syllable per word, 3 words / 1 sentence:
    # 206.835 - 1.015*3 - 84.6*1 = 119.19
    assert abs(out[2]["flesch_s"] - 119.19) < 1e-6
    assert out[2]["band"] == "easy"


def test_flesch_dense_sentence_band_shift(spark, tmp_path):
    # Long polysyllabic single sentence lands in a harder band than a
    # staccato doc of the same words split into many sentences.
    from dataingestionengineprocess_spark.queries.text import (
        text_readability_flesch,
    )

    hard = " ".join(["organization"] * 30) + "."  # 5 vowel runs/word
    easy = ". ".join(["cat"] * 30) + "."
    rows = [(1, hard, "en", "s", 0), (2, easy, "en", "s", 0)]
    out = {r["doc_id"]: r for r in text_readability_flesch(
        spark, write_documents(spark, tmp_path, rows)).collect()}
    assert out[1]["flesch_s"] < out[2]["flesch_s"]
    assert out[1]["band"] == "very_difficult"


# --- inverted postings -------------------------------------------------------


def test_postings_digest_matches_hashlib(spark, tmp_path):
    # Hand-recompute the md5 of the ordered 'doc:pos' string for a
    # term appearing in two docs at known 1-based positions.
    from dataingestionengineprocess_spark.queries.text import (
        text_inverted_postings,
    )

    rows = [(1, "alpha beta alpha", "en", "s", 0),
            (2, "beta alpha", "en", "s", 0)]
    out = {r["term"]: r for r in text_inverted_postings(
        spark, write_documents(spark, tmp_path, rows)).collect()}
    a = out["alpha"]
    assert (a["df"], a["tf_total"]) == (2, 3)
    expect = hashlib.md5(b"1:1,1:3,2:2").hexdigest()
    assert a["postings_md5"] == expect
    b = out["beta"]
    assert (b["df"], b["tf_total"]) == (2, 2)
    assert b["postings_md5"] == hashlib.md5(b"1:2,2:1").hexdigest()


def test_postings_topk_orders_by_df_then_term(spark, tmp_path):
    # df tie between 'x' and 'y' -> lexicographic order decides.
    from dataingestionengineprocess_spark.queries.text import (
        text_inverted_postings,
    )

    rows = [(1, "x y common", "en", "s", 0),
            (2, "y x common", "en", "s", 0),
            (3, "common", "en", "s", 0)]
    out = text_inverted_postings(spark, write_documents(spark, tmp_path, rows)).collect()
    assert [r["term"] for r in out] == ["common", "x", "y"]
