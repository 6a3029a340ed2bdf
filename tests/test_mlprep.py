"""Unit tests for the model-prep operators: containment pairs,
interval-overlap join (emit-once guarantee), classifier determinism."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from dataingestionengineprocess_spark.operators.dedup import containment_pairs
from dataingestionengineprocess_spark.operators.skew import interval_overlap_join


def test_containment_catches_subset_duplication(spark):
    # doc 2 embeds doc 1 verbatim inside 3x more text: Jaccard would
    # score ~0.33, containment scores 1.0.
    short = "alpha beta gamma delta epsilon zeta"
    long = short + " one two three four five six seven eight nine ten " \
                   "eleven twelve thirteen fourteen fifteen sixteen"
    df = spark.createDataFrame(
        [(1, short), (2, long), (3, "unrelated words only here now folks")],
        ["doc_id", "text"],
    )
    pairs = containment_pairs(df, threshold=0.9).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(1, 2)]
    assert pairs[0].containment == 1.0


def test_containment_vs_jaccard_threshold(spark):
    # identical docs: both containment and jaccard are 1; a half-
    # overlapping doc passes containment 0.5 only below threshold.
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "a b c d x y z w")],
        ["doc_id", "text"],
    )
    got = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(df, threshold=0.5).collect()
    }
    assert got[(1, 2)] == 1.0
    # doc 3 shares shingles "a b c" and "b c d" with 1/2: 2/min(4,6)=0.5
    assert got[(1, 3)] == 0.5 and got[(2, 3)] == 0.5


def _intervals(spark, rows, start, end):
    return spark.createDataFrame(rows, ["id", start, end])


@pytest.mark.parametrize("width", [1, 3, 10, 100])
def test_interval_overlap_emits_each_pair_once(spark, width):
    # Long intervals sharing MANY grid cells must still emit one row
    # per overlapping pair, for any bucket width (the first-shared-cell
    # filter replaces a distinct).
    left = _intervals(
        spark, [(1, 0, 50), (2, 40, 60), (3, 90, 95)], "l_start", "l_end")
    right = _intervals(
        spark, [(10, 10, 45), (20, 55, 99), (30, 200, 300)],
        "r_start", "r_end")
    rows = interval_overlap_join(
        left.withColumnRenamed("id", "lid"),
        right.withColumnRenamed("id", "rid"),
        bucket_width=width,
    ).select("lid", "rid").collect()
    got = sorted((r.lid, r.rid) for r in rows)
    # brute-force truth
    lrows = [(1, 0, 50), (2, 40, 60), (3, 90, 95)]
    rrows = [(10, 10, 45), (20, 55, 99), (30, 200, 300)]
    want = sorted(
        (li, ri)
        for li, ls, le in lrows
        for ri, rs, re in rrows
        if ls <= re and rs <= le
    )
    assert got == want


def test_interval_overlap_negative_coordinates(spark):
    # floor-based cells must round toward -inf, not toward zero.
    left = _intervals(spark, [(1, -25, -5)], "l_start", "l_end")
    right = _intervals(spark, [(2, -10, 3), (3, -100, -30)],
                       "r_start", "r_end")
    rows = interval_overlap_join(
        left.withColumnRenamed("id", "lid"),
        right.withColumnRenamed("id", "rid"),
        bucket_width=7,
    ).select("lid", "rid").collect()
    assert sorted((r.lid, r.rid) for r in rows) == [(1, 2)]


def test_classifier_score_is_deterministic_and_bounded(spark):
    from dataingestionengineprocess_spark.queries.text import (
        text_classifier_score,
    )

    a = text_classifier_score(spark, "/root/testdata/sf0.001").collect()
    b = text_classifier_score(spark, "/root/testdata/sf0.001").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    for r in a:
        assert 0.0 <= r.score <= 1.0
        assert r.keep == (r.score >= 0.5)


def test_cdc_chunks_resist_shift(spark, tmp_path):
    """The property fixed-size chunking lacks: inserting one token at
    the FRONT of a doc must leave the tail chunks' fingerprints
    intact (boundaries are content-defined, so only chunks touching
    the edit change)."""
    import pyspark.sql.functions as F
    from dataingestionengineprocess_spark.queries.curation import (
        curation_cdc_chunks,
    )

    base = " ".join(f"tok{i % 37}x{(i * 7) % 23}" for i in range(200))
    spark.createDataFrame(
        [(1, base), (2, "inserted " + base)], ["doc_id", "text"]
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    chunks = curation_cdc_chunks(spark, str(tmp_path)).collect()
    fps = {1: set(), 2: set()}
    for r in chunks:
        fps[r.doc_id].add(r.chunk_fp)
    shared = fps[1] & fps[2]
    # Every chunk after the first boundary is identical; only the
    # head chunk (which absorbed the inserted token) differs.
    assert len(shared) >= len(fps[1]) - 1
    assert len(shared) > 5, f"degenerate chunking: {len(fps[1])} chunks"


def test_classifier_score_composes_as_quality_rule(spark):
    """The curation gate plugs into the ingest pipeline's declarative
    rule system unchanged: a Rule wrapping the score expression
    quarantines low-quality docs in the same single validation scan
    as the schema rules."""
    import pyspark.sql.functions as F
    from dataingestionengineprocess_spark.operators.quality import (
        Rule, not_null, validate,
    )
    from dataingestionengineprocess_spark.queries.quality import (
        classifier_score,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    score = classifier_score("text")
    res = validate(docs, [not_null("text"), Rule("quality_score", score >= 0.5)])
    n_pass, n_quar = res.passed.count(), res.quarantined.count()
    assert n_pass + n_quar == docs.count()
    assert n_quar > 0  # the fixture has low-scoring docs
    flagged = res.quarantined.select(
        F.explode("_violations").alias("v")).distinct().collect()
    assert {"quality_score"} == {r.v for r in flagged} - {"not_null_text"}
