"""Unit/edge coverage for the round-4n queries (NDCG + path mining).
The oracle gate lives in test_oracle_parity.py; this file drives the
metric edges: perfect/empty/partial relevance lists with hand-counted
gains, and hand-built journey paths.
"""

from __future__ import annotations

import math

from fixture_tables import write_embeddings, write_events


def _unit(dim, i, scale=1.0):
    v = [0.0] * dim
    v[i] = scale
    return v


# --- NDCG --------------------------------------------------------------------


def test_ndcg_all_relevant_is_one(spark, tmp_path):
    # Query 0 and its 3 neighbors share label and direction: every
    # retrieved hit relevant -> DCG = IDCG -> NDCG = 1.
    from dataingestionengineprocess_spark.queries.ml import ml_ndcg_exact

    dim = 8
    rows = [(0, _unit(dim, 0), 1)]
    rows += [(i, _unit(dim, 0, 1.0 + 0.1 * i), 1) for i in range(1, 4)]
    sf = write_embeddings(spark, tmp_path, rows)
    out = {r["query_id"]: r for r in ml_ndcg_exact(spark, sf).collect()}
    r0 = out[0]
    assert r0["n_rel"] == 3
    assert r0["ndcg_s"] == 1.0
    assert r0["dcg_s"] == r0["idcg_s"]


def test_ndcg_no_relevant_is_null(spark, tmp_path):
    # Query 0 is the only label-1 vector: zero relevant hits -> NULL.
    from dataingestionengineprocess_spark.queries.ml import ml_ndcg_exact

    dim = 8
    rows = [(0, _unit(dim, 0), 1),
            (1, _unit(dim, 1), 2), (2, _unit(dim, 2), 2)]
    sf = write_embeddings(spark, tmp_path, rows)
    r0 = {r["query_id"]: r for r in
          ml_ndcg_exact(spark, sf).collect()}[0]
    assert r0["n_rel"] == 0
    assert r0["idcg_s"] == 0.0 and r0["ndcg_s"] is None


def test_ndcg_relevant_at_rank_two_hand_value(spark, tmp_path):
    # Query 0: nearest neighbor wrong-label, second-nearest right-
    # label -> DCG = 1/log2(3), IDCG = 1/log2(2) = 1, NDCG = log2-
    # ratio, hand-computed with the same quantization.
    from dataingestionengineprocess_spark.queries.ml import ml_ndcg_exact

    dim = 8
    q = [1.0] + [0.0] * (dim - 1)
    near_wrong = [0.99] + [0.14] + [0.0] * (dim - 2)
    far_right = [0.9] + [0.43] + [0.0] * (dim - 2)
    rows = [(0, q, 1), (1, near_wrong, 2), (2, far_right, 1)]
    sf = write_embeddings(spark, tmp_path, rows)
    r0 = {r["query_id"]: r for r in
          ml_ndcg_exact(spark, sf).collect()}[0]
    assert r0["n_rel"] == 1
    dcg = math.floor(1.0 / (math.log(3.0) / math.log(2.0)) * 1e6
                     + 0.5) / 1e6
    assert r0["dcg_s"] == dcg
    assert r0["idcg_s"] == 1.0
    assert abs(r0["ndcg_s"] - dcg) < 1e-9


# --- path trigrams -----------------------------------------------------------


def test_paths_hand_built_journeys(spark, tmp_path):
    # Two users a>b>c>d and one user a>b>c: paths a>b>c x3? no --
    # u1: a>b>c, b>c>d; u2: a>b>c, b>c>d; u3: a>b>c.
    from dataingestionengineprocess_spark.queries.events import (
        events_path_trigrams,
    )

    rows, eid = [], 0
    for u, seq in [(1, "abcd"), (2, "abcd"), (3, "abc")]:
        for t, s in enumerate(seq):
            rows.append((eid, f"2024-01-01 00:0{t}:00", u, s, 0.0, ""))
            eid += 1
    out = {r["path"]: r["n"] for r in
           events_path_trigrams(spark, write_events(spark, tmp_path, rows)
                                ).collect()}
    assert out == {"a>b>c": 3, "b>c>d": 2}


def test_paths_short_journeys_excluded(spark, tmp_path):
    # A user with only two events contributes no trigram.
    from dataingestionengineprocess_spark.queries.events import (
        events_path_trigrams,
    )

    rows = [(0, "2024-01-01 00:00:00", 1, "a", 0.0, ""),
            (1, "2024-01-01 00:01:00", 1, "b", 0.0, "")]
    assert events_path_trigrams(
        spark, write_events(spark, tmp_path, rows)).count() == 0
