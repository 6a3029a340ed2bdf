"""Unit/edge coverage for round-5q (BM25 retrieval). The oracle gate
lives in test_oracle_parity.py; this file checks the scorer against a
hand-computed reference and the selection edges."""

from __future__ import annotations

import math

from fixture_tables import write_documents


def _bm25_ref(corpus, terms, k1=1.2, b=0.75):
    # per-doc token lists
    toks = {d: t.split(" ") for d, t in corpus.items()}
    n = len(corpus)
    avgdl = sum(len(t) for t in toks.values()) / n
    out = {}
    for d, t in toks.items():
        score_q = 0
        for term in terms:
            tf = t.count(term)
            if tf == 0:
                continue
            df = sum(1 for tt in toks.values() if term in tt)
            idf = math.floor(
                math.log((n - df + 0.5) / (df + 0.5) + 1.0) * 1e6 + 0.5
            ) / 1e6
            w = tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(t) / avgdl))
            score_q += math.floor(idf * w * 1e6 + 0.5)
        if score_q:
            out[d] = score_q / 1e6
    return out


def test_bm25_matches_hand_reference(spark, tmp_path):
    from dataingestionengineprocess_spark.queries.text import (
        text_bm25_retrieval,
    )

    corpus = {
        1: "vector hash merge vector",
        2: "hash table scan scan scan scan",
        3: "merge sort join",
        4: "plain prose with no query words",
    }
    sf = write_documents(spark, tmp_path,
               [(d, t, "en", "s", len(t)) for d, t in corpus.items()])
    got = {r["doc_id"]: r["bm25_s"]
           for r in text_bm25_retrieval(spark, sf).collect()}
    ref = _bm25_ref(corpus, ("vector", "hash", "merge"))
    assert got == ref            # doc 4 (no terms) excluded entirely
    assert 4 not in got
    # more matching terms and higher tf must outscore a single rarer hit
    assert got[1] > got[2] and got[1] > got[3]


def test_bm25_top20_truncates_by_integer_score_then_id(spark, tmp_path):
    from dataingestionengineprocess_spark.queries.text import (
        text_bm25_retrieval,
    )

    # 30 identical docs -> identical scores; the top-20 must be the
    # 20 smallest doc_ids (integer-key tiebreak, no float ambiguity)
    rows = [(i, "vector hash", "en", "s", 11) for i in range(30)]
    sf = write_documents(spark, tmp_path, rows)
    got = [r["doc_id"] for r in text_bm25_retrieval(spark, sf).collect()]
    assert sorted(got) == list(range(20))


def _emb(spark, tmp_path, vecs):
    rows = [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    return str(tmp_path)


def test_matryoshka_full_dim_is_identity_and_bounds(spark, tmp_path):
    from dataingestionengineprocess_spark.queries.knn import (
        knn_matryoshka_recall,
    )

    # 12 deterministic 64-dim vectors; first 16 dims are IDENTICAL
    # across vectors, so the d=16 ranking is pure id-tiebreak while
    # the full-dim ranking follows the tail structure.
    vecs = []
    for i in range(12):
        head = [1.0] * 16
        tail = [((i * 7 + j * 3) % 11) / 10.0 for j in range(48)]
        vecs.append(head + tail)
    sf = _emb(spark, tmp_path, vecs)
    rows = {r["dim"]: r for r in knn_matryoshka_recall(spark, sf).collect()}
    assert set(rows) == {16, 32, 64}
    assert rows[64]["recall_at5_s"] == 1.0  # identity sanity row
    for d in (16, 32):
        assert 0.0 <= rows[d]["recall_at5_s"] <= 1.0
        assert rows[d]["n_queries"] == 10
