"""Round-6c invariants: binary-quantized ANN, MMR greedy, GMM EM
step, closed-form OLS, Kendall tau-b, BH FDR."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from dataingestionengineprocess_spark.catalog import load
from dataingestionengineprocess_spark.queries.embedding import (
    _sign_words,
    embedding_binary_quantize,
)
from dataingestionengineprocess_spark.queries.knn import knn_mmr_diversify
from dataingestionengineprocess_spark.queries.ml import (
    ml_gmm_em_portable,
    ml_ols_normal_equations,
)
from dataingestionengineprocess_spark.queries.stat import (
    stat_benjamini_hochberg,
    stat_kendall_tau,
)
from tests.conftest import SF_SMOKE


def test_sign_words_match_python_bits(spark):
    emb = load(spark, SF_SMOKE, "embeddings").where(F.col("vec_id") < 3)
    words = {r["vec_id"]: (r["w1"], r["w2"])
             for r in _sign_words(emb).collect()}
    for r in emb.collect():
        w1 = sum(1 << j for j in range(32) if r["embedding"][j] > 0)
        w2 = sum(1 << j for j in range(32) if r["embedding"][32 + j] > 0)
        assert words[r["vec_id"]] == (w1, w2)


def test_binary_quantize_output_shape(spark):
    rows = embedding_binary_quantize(spark, SF_SMOKE).collect()
    by_q = {}
    for r in rows:
        assert 0 <= r["hamming"] <= 64
        assert -1.0 - 1e-9 <= r["cos_s"] <= 1.0 + 1e-9
        by_q.setdefault(r["qid"], []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    for q, rs in by_q.items():
        assert len(rs) == 5
        assert all(r["nid"] != q for r in rs)
        cs = [r["cos_s"] for r in rs]
        assert cs == sorted(cs, reverse=True)


def test_mmr_matches_python_greedy(spark):
    from dataingestionengineprocess_spark.functions.vectors import (
        as_double,
        cosine,
    )

    emb = load(spark, SF_SMOKE, "embeddings")
    vecs = {r["vec_id"]: r["v"] for r in emb.select(
        "vec_id", as_double("embedding").alias("v")).collect()}

    def cos_q(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return math.floor(d / (na * nb) * 1e6 + 0.5)

    got = knn_mmr_diversify(spark, SF_SMOKE).collect()
    for qid in (0, 1, 2):
        rel = sorted(((cos_q(vecs[qid], v), -n) for n, v in vecs.items()
                      if n != qid), reverse=True)[:8]
        pool = [(-negn, rq) for rq, negn in rel]
        sel, objs = [], []
        for _ in range(3):
            best = None
            for nid, rq in pool:
                if nid in sel:
                    continue
                pen = max((cos_q(vecs[nid], vecs[s]) for s in sel),
                          default=0) if sel else 0
                obj = 7 * rq - 3 * pen if sel else 7 * rq
                cand = (obj, -nid)
                if best is None or cand > best:
                    best = cand
            sel.append(-best[1])
            objs.append(best[0])
        mine = [(r["nid"], r["obj_s"]) for r in got if r["qid"] == qid]
        assert [n for n, _ in mine] == sel
        for (_, o_s), o in zip(mine, objs):
            assert abs(o_s - o / 1e7) < 1e-9
    # cosine() helper agrees with the python fold (sanity anchor)
    a, b = vecs[0], vecs[1]
    spark_cos = (
        emb.sparkSession.range(1)
        .select(cosine(F.lit(a).cast("array<double>"),
                       F.lit(b).cast("array<double>")).alias("c"))
        .collect()[0]["c"])
    assert abs(spark_cos - (cos_q(a, b) / 1e6)) < 2e-6


def test_gmm_em_step_invariants(spark):
    rows = {r["component"]: r
            for r in ml_gmm_em_portable(spark, SF_SMOKE).collect()}
    assert set(rows) == {1, 2}
    w1, w2 = rows[1]["w_new_s"], rows[2]["w_new_s"]
    assert abs(w1 + w2 - 1.0) < 3e-6
    assert 0 < w1 < 1 and 0 < w2 < 1
    # Component means straddle, and their weight-average is the
    # sample mean (EM's first-moment preservation).
    mu1, mu2 = rows[1]["mu_new_s"], rows[2]["mu_new_s"]
    assert mu1 < mu2
    o = load(spark, SF_SMOKE, "orders")
    mean = o.agg(F.avg("o_totalprice").alias("m")).collect()[0]["m"]
    assert abs((w1 * mu1 + w2 * mu2) - mean) < 1.0  # cents-grid drift


def test_ols_matches_numpy_lstsq(spark):
    import numpy as np

    li = load(spark, SF_SMOKE, "lineitem") \
        .select("l_quantity", "l_discount", "l_extendedprice").collect()
    X = np.array([[1.0, r["l_quantity"], r["l_discount"]] for r in li])
    y = np.array([r["l_extendedprice"] for r in li])
    beta = np.linalg.lstsq(X, y, rcond=None)[0]
    got = ml_ols_normal_equations(spark, SF_SMOKE).collect()[0]
    assert got["n_rows"] == len(li)
    # Quantized moments drift the solve at ~1e-5 relative scale.
    assert abs(got["beta0_s"] - beta[0]) < abs(beta[0]) * 1e-3 + 1.0
    assert abs(got["beta1_s"] - beta[1]) < abs(beta[1]) * 1e-3 + 0.1
    assert abs(got["beta2_s"] - beta[2]) < abs(beta[2]) * 1e-3 + 10.0
    resid = y - X @ beta
    r2 = 1.0 - (resid @ resid) / ((y - y.mean()) @ (y - y.mean()))
    assert abs(got["r2_s"] - r2) < 1e-3


def test_kendall_tau_matches_python(spark):
    rows = stat_kendall_tau(spark, SF_SMOKE).collect()
    assert all(-1.0 <= r["tau_b_s"] <= 1.0 for r in rows)
    # Recompute one nation exactly.
    cust = load(spark, SF_SMOKE, "customer").collect()
    nat = {r["n_nationkey"]: r["n_name"]
           for r in load(spark, SF_SMOKE, "nation").collect()}
    ocnt = {}
    for r in load(spark, SF_SMOKE, "orders").collect():
        ocnt[r["o_custkey"]] = ocnt.get(r["o_custkey"], 0) + 1
    name = rows[0]["n_name"]
    pts = [(c["c_acctbal"], ocnt.get(c["c_custkey"], 0))
           for c in cust if nat[c["c_nationkey"]] == name]
    con = dis = tx = ty = n0 = 0
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            n0 += 1
            p = (pts[i][0] - pts[j][0]) * (pts[i][1] - pts[j][1])
            con += p > 0
            dis += p < 0
            tx += pts[i][0] == pts[j][0]
            ty += pts[i][1] == pts[j][1]
    want = math.floor((con - dis) / math.sqrt((n0 - tx) * (n0 - ty))
                      * 1e6 + 0.5) / 1e6
    got = {r["n_name"]: r for r in rows}[name]
    assert (got["n0"], got["concordant"], got["discordant"]) \
        == (n0, con, dis)
    assert abs(got["tau_b_s"] - want) < 1e-9


def test_bh_rejection_is_step_up(spark):
    rows = stat_benjamini_hochberg(spark, SF_SMOKE).collect()
    m = len(rows)
    assert m >= 2
    ps = [r["p_s"] for r in rows]
    assert ps == sorted(ps)
    assert all(0.0 <= p <= 1.0 + 1e-9 for p in ps)
    flags = [r["p_s"] <= r["bh_rank"] * 0.05 / m for r in rows]
    kmax = max((i + 1 for i, f in enumerate(flags) if f), default=0)
    for r in rows:
        assert r["rejected"] == (r["bh_rank"] <= kmax)
        assert abs(r["bh_threshold_s"]
                   - math.floor(r["bh_rank"] * 0.05 / m * 1e6 + 0.5)
                   / 1e6) < 1e-12
