"""Unit tests for the certificate audit kernels.

`pair_certificate_facts` (and its SimHash entry
`simhash_certificate_facts`) and `ann_certificate_facts` take the
engine's FOUND set as an argument, so every invariant they assert can
be pinned directly with synthetic found sets -- including the failure
directions the fixture-backed registry queries can never exercise
(a noncanonical or repeated pair, an unsound pair, a stray BRP pair, a
non-k/32 MinHash estimate, a wrong re-rank score) and the zero-shingle
edge cases the round-8 review fixed. The MinHash and BRP certificates
are driven through their registered queries over a tiny parquet
fixture, with the LSH operator replaced by a synthetic found set.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from dataingestionengineprocess_spark.queries import all_queries
from dataingestionengineprocess_spark.queries.dedup import (
    pair_certificate_facts,
    simhash_certificate_facts,
)
from dataingestionengineprocess_spark.queries.knn import ann_certificate_facts


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "id_a long, id_b long")


def _facts(df) -> dict:
    return {r["item"]: r for r in df.collect()}


# doc 0 and doc 3 are exact near-dups (J = 1.0 on their shingle sets)
# with id_a % 3 == 0, so the stratum universe is non-empty; docs 1-2
# are unrelated filler.
_CORPUS = [
    (0, "alpha beta gamma delta epsilon"),
    (1, "one two three four five six"),
    (2, "red green blue yellow purple"),
    (3, "alpha beta gamma delta epsilon"),
]


def test_simhash_kernel_accepts_perfect_found_set(spark):
    docs = _docs(spark, _CORPUS)
    found = _pairs(spark, [(0, 3)])
    facts = _facts(simhash_certificate_facts(spark, docs, found, "text",
                                             recall_floor_tenths=5))
    assert facts["exact_pairs_j090_present"]["n_exact"] == 1
    assert all(r["ok"] for r in facts.values()), facts


def test_simhash_kernel_flags_noncanonical_and_unsound(spark):
    docs = _docs(spark, _CORPUS)
    # reversed pair -> noncanonical; (1, 2) shares no shingle -> unsound
    found = _pairs(spark, [(3, 0), (1, 2)])
    facts = _facts(simhash_certificate_facts(spark, docs, found, "text",
                                             recall_floor_tenths=5))
    assert not facts["canonical_unique"]["ok"]
    assert not facts["soundness_j080"]["ok"]
    # recall: the canonical (0, 3) stratum pair was NOT found
    assert not facts["recall_floor_050"]["ok"]


def test_simhash_kernel_zero_shingle_pairs(spark):
    """Round-8 review fix: found pairs touching shingle-less docs
    (under 3 tokens) must not silently escape the soundness audit.
    Empty-vs-empty is a sound collision (identical empty feature
    sets); empty-vs-nonempty counts unsound."""
    docs = _docs(spark, _CORPUS + [(4, "tiny doc"), (5, "wee")])
    both_empty = _pairs(spark, [(0, 3), (4, 5)])
    facts = _facts(simhash_certificate_facts(spark, docs, both_empty,
                                             "text", recall_floor_tenths=5))
    assert facts["soundness_j080"]["ok"], facts

    mixed = _pairs(spark, [(0, 3), (1, 4)])  # doc 1 has shingles, 4 not
    facts = _facts(simhash_certificate_facts(spark, docs, mixed, "text",
                                             recall_floor_tenths=5))
    assert not facts["soundness_j080"]["ok"], facts


def _no_bad(found):
    return found.agg(F.lit(0))


def test_pair_kernel_flags_a_repeated_pair(spark):
    exact = _pairs(spark, [(0, 3)])
    facts = _facts(pair_certificate_facts(
        spark, exact, _pairs(spark, [(0, 3), (0, 3)]), "present", 5,
        "sound", _no_bad))
    assert not facts["canonical_unique"]["ok"]
    assert all(r["ok"] for item, r in facts.items()
               if item != "canonical_unique"), facts


def test_pair_kernel_recall_floor_is_inclusive(spark):
    """10 exact pairs at a 0.8 floor: 8 found passes, 7 fails."""
    exact_rows = [(i, i + 100) for i in range(10)]
    exact = _pairs(spark, exact_rows)
    for n_found, ok in ((8, True), (7, False)):
        facts = _facts(pair_certificate_facts(
            spark, exact, _pairs(spark, exact_rows[:n_found]), "present",
            8, "sound", _no_bad))
        assert facts["recall_floor_080"]["ok"] is ok, (n_found, facts)
        assert facts["recall_floor_080"]["n_exact"] == 10


def _write_table(spark, root, name, rows, schema):
    spark.createDataFrame(rows, schema).write.parquet(
        str(root / f"{name}.parquet"))


@pytest.mark.parametrize("stray", [(0, 99), (0, 4)],
                         ids=["missing_id", "zero_norm_id"])
def test_brp_certificate_counts_strays(spark, tmp_path, monkeypatch,
                                       stray):
    """A found pair naming an id absent from the corpus, or a
    zero-norm vector, has a NULL exact cosine and counts as a stray."""
    import dataingestionengineprocess_spark.operators.similarity as sim

    _write_table(spark, tmp_path, "embeddings",
                 [(0, [1.0, 0.0]), (1, [1.0, 0.1]), (2, [0.0, 1.0]),
                  (3, [0.1, 1.0]), (4, [0.0, 0.0])],
                 "vec_id long, embedding array<float>")
    good = [(0, 1), (2, 3)]
    for found, sound in ((good, True), (good + [stray], False)):
        monkeypatch.setattr(
            sim, "brp_similarity_join",
            lambda emb, threshold_cos, rows=found: _pairs(spark, rows))
        facts = _facts(all_queries()["similarity_brp_lsh_certificate"](
            spark, str(tmp_path)))
        assert facts["sound_no_false_positives"]["ok"] is sound, facts
        # the exact side is the vec_id % 5 == 0 stratum: only (0, 1)
        assert facts["exact_pairs_present"]["n_exact"] == 1


@pytest.mark.parametrize("estimates,ok", [
    ([0.5, 1.0], True),        # 16/32 and 32/32
    ([0.51], False),           # not an exact k/32
    ([15 / 32], False),        # an exact k/32 below the 0.5 threshold
    ([], True),                # empty found set: vacuously true
], ids=["exact_k32", "not_k32", "below_threshold", "empty"])
def test_minhash_certificate_checks_estimates(spark, tmp_path,
                                              monkeypatch, estimates, ok):
    import dataingestionengineprocess_spark.operators.dedup as ops

    _write_table(spark, tmp_path, "documents", _CORPUS,
                 "doc_id long, text string")
    rows = [(0, 3 + i, e) for i, e in enumerate(estimates)]
    monkeypatch.setattr(
        ops, "minhash_neardup_pairs",
        lambda docs, **kw: spark.createDataFrame(
            rows, "id_a long, id_b long, est_jaccard double"))
    facts = _facts(all_queries()["dedup_minhash_lsh_certificate"](
        spark, str(tmp_path)))
    assert facts["estimates_k_over_32"]["ok"] is ok, facts
    assert facts["exact_pairs_j070_present"]["n_exact"] == 1


#: Spark jobs that building and collecting each pair-set certificate
#: runs at sf0.001 in the test session, as (fewest, most): the
#: checkpoints (the shingle stream where there is one, the exact set,
#: the found set) and the one action, each with the stages AQE submits
#: as jobs of their own. The SimHash and pHash soundness joins re-plan
#: at run time, and whether AQE resubmits two of their stages depends
#: on which stage finishes first, so those two vary by up to 2 from
#: run to run.
_CERT_JOBS = {
    "dedup_simhash": (38, 42),
    "multimodal_phash_neardup": (38, 42),
    "dedup_minhash_lsh_certificate": (31, 31),
    "similarity_brp_lsh_certificate": (28, 28),
}


@pytest.mark.parametrize("name", sorted(_CERT_JOBS))
def test_certificate_job_counts(spark, sf_dir, name):
    """Pins the job count of each kernel user, so a change to the
    kernel cannot add a checkpoint or a second action unnoticed."""
    sc = spark.sparkContext
    tag = f"cert-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(tag, f"{name} job count")
    try:
        all_queries()[name](spark, sf_dir).collect()
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(tag))
    finally:
        sc.setJobGroup("cert-jobs-idle", "")
    fewest, most = _CERT_JOBS[name]
    assert fewest <= n_jobs <= most, n_jobs


@pytest.fixture(scope="module")
def tiny_emb(spark):
    # 12 vectors in 4-d; vec_id < 10 are probes. Deterministic
    # integer-ish coordinates keep the exact top-5 unambiguous.
    rows = [(i, [float((i * 7 + d * 3) % 11 + 1) for d in range(4)], 0)
            for i in range(12)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).localCheckpoint(eager=True)


def _exact_top5(spark, emb):
    from pyspark.sql import Window

    from dataingestionengineprocess_spark.functions.vectors import (
        norm_side,
        quantized_cosine,
    )

    va = norm_side(emb, "vec_id", "embedding", "id_a", "va", "na")
    vb = norm_side(emb, "vec_id", "embedding", "id_b", "vb", "nb")
    w = Window.partitionBy("id_a").orderBy(F.desc("cq"), F.asc("id_b"))
    return (
        va.filter(F.col("id_a") < 10)
        .join(vb, F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", quantized_cosine().alias("cq"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
    )


def test_ann_kernel_accepts_exact_answer(spark, tiny_emb):
    found = _exact_top5(spark, tiny_emb).select(
        F.col("id_a").alias("query_id"), F.col("id_b").alias("neighbor_id"),
        (F.col("cq") / 1e6).alias("cos_sim"), F.col("rn").alias("rank"))
    facts = _facts(ann_certificate_facts(spark, tiny_emb, found,
                                         recall_floor_tenths=9))
    assert all(r["ok"] for r in facts.values()), facts
    assert facts["recall_floor_090"]["fact"] == 50


def test_ann_kernel_flags_malformed_and_wrong_scores(spark, tiny_emb):
    exact = _exact_top5(spark, tiny_emb)
    # self-pair + non-dense rank -> malformed; corrupted score ->
    # scores_exact_rerank false; recall floor 0.9 missed (two queries'
    # neighbors dropped: 40/50 = 0.8 < 0.9 -- one query would land
    # exactly ON the floor, which passes)
    found = exact.filter(F.col("id_a") > 1).select(
        F.col("id_a").alias("query_id"), F.col("id_b").alias("neighbor_id"),
        (F.col("cq") / 1e6 + 0.01).alias("cos_sim"),
        (F.col("rn") + 1).alias("rank"),
    ).unionByName(spark.createDataFrame(
        [(0, 0, 1.0, 1)],
        "query_id long, neighbor_id long, cos_sim double, rank long"))
    facts = _facts(ann_certificate_facts(spark, tiny_emb, found,
                                         recall_floor_tenths=9))
    assert not facts["output_wellformed"]["ok"]
    assert not facts["scores_exact_rerank"]["ok"]
    assert not facts["recall_floor_090"]["ok"]
    # the engine-independent exact-universe facts are untouched by a
    # bad found set
    assert facts["recall_floor_090"]["fact"] == 50
