"""Round-6 invariants: the TWS-path stateful query (shared fold,
fallback equivalence, final-emission reduction)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dataingestionengineprocess_spark.catalog import load
from dataingestionengineprocess_spark.queries.stream import (
    _fold_user_stats,
    stream_tws_user_stats,
    tws_runtime_available,
    user_stats_tws,
)
from tests.conftest import SF_SMOKE


def test_fold_is_incremental():
    # Folding in two chunks == folding once: the per-micro-batch state
    # carry is exactly associative, so update-mode emissions converge
    # to the batch answer regardless of how files split into batches.
    a = pd.DataFrame({"value": [1.004, 2.005, None]})
    b = pd.DataFrame({"value": [0.10, 5.55]})
    once = _fold_user_stats(0, 0, None, [pd.concat([a, b])])
    twice = _fold_user_stats(*_fold_user_stats(0, 0, None, [a]), [b])
    assert once == twice
    n, cents, mx = once
    assert n == 5                      # count(*) keeps the NULL row
    assert cents == 100 + 201 + 10 + 555  # round-half-up cents
    assert mx == 5.55


def test_fold_all_null_values_keeps_count_null_max():
    n, cents, mx = _fold_user_stats(
        0, 0, None, [pd.DataFrame({"value": [None, None]})])
    assert (n, cents, mx) == (2, 0, None)


def test_stream_tws_user_stats_equals_batch_aggregate(spark):
    got = {r["user_id"]: (r["n_events"], r["total_value"], r["max_value"])
           for r in stream_tws_user_stats(spark, SF_SMOKE).collect()}
    want = {
        r["user_id"]: (r["n"], r["t"], r["m"])
        for r in load(spark, SF_SMOKE, "events").groupBy("user_id").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (F.sum(F.floor(F.col("value") * 100 + F.lit(0.5))
                   .cast("long")) / 100.0).alias("t"),
            F.max("value").alias("m"),
        ).collect()
    }
    assert got == want


def test_gbdt_stumps_reduce_training_mse(spark):
    # Two boosting rounds must not exceed the constant-predictor
    # baseline MSE = p(1-p), each split must show non-negative
    # variance-reduction gain, thresholds must lie in bucket range,
    # and left/right leaves must pull in opposite directions of the
    # residual mean (their count-weighted sum is the zero-mean total).
    from dataingestionengineprocess_spark.queries.ml import (
        ml_gbdt_stumps_portable,
    )

    rows = ml_gbdt_stumps_portable(spark, SF_SMOKE).collect()
    assert [r["round"] for r in rows] == [1, 2]
    ev = load(spark, SF_SMOKE, "events").where(F.col("value").isNotNull())
    n = ev.count()
    k = ev.where(F.col("event_type") == "purchase").count()
    p = k / n
    baseline_mse = p * (1 - p)
    for r in rows:
        assert r["gain_s"] >= 0
        assert r["n_rows"] == n
        assert r["mse_s"] <= baseline_mse + 1e-6
        if r["feature"] == "cents":
            assert 0 <= r["threshold"] <= 63
        else:
            assert r["feature"] == "hour" and 0 <= r["threshold"] <= 23
    # round-1 split on the ZERO-mean residual: leaves straddle zero
    r1 = rows[0]
    assert min(r1["w_left_s"], r1["w_right_s"]) <= 0 <= max(
        r1["w_left_s"], r1["w_right_s"])


def test_hnsw_layer_structure(spark):
    # Levels are the md5 leading-zero geometric draw; layer-1 pop must
    # be ~1/16 of layer 0 (binomial bound), every sampled node appears
    # at layer 0 with <= 4 ranked-contiguous neighbors, and layer-1
    # nodes' neighbors are layer-1 members only.
    from dataingestionengineprocess_spark.queries.knn import (
        knn_hnsw_layer_portable,
    )

    rows = knn_hnsw_layer_portable(spark, SF_SMOKE).collect()
    pops = {r["layer"]: r["layer_pop"] for r in rows}
    assert 0 < pops[1] < pops[0]
    emb = load(spark, SF_SMOKE, "embeddings")
    l1_ids = {
        r["vec_id"] for r in emb.select(
            "vec_id",
            F.length(F.regexp_extract(
                F.md5(F.col("vec_id").cast("string")), "^0*", 0))
            .alias("lvl")).where(F.col("lvl") >= 1).collect()
    }
    assert pops[1] == len(l1_ids)
    by_node = {}
    for r in rows:
        by_node.setdefault((r["layer"], r["node"]), []).append(r)
        if r["layer"] == 1:
            assert r["node"] in l1_ids and r["neighbor"] in l1_ids
    for (_, _), lst in by_node.items():
        ranks = sorted(x["rank"] for x in lst)
        assert ranks == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 4
        sims = [x["sim_s"] for x in sorted(lst, key=lambda x: x["rank"])]
        assert sims == sorted(sims, reverse=True)


def test_hnsw_full_layer0_graph_recall_planted(spark):
    # The deployment-shape FULL layer-0 build (lsh_knn_graph: corpus
    # on BOTH sides of the band join, no query broadcast) must find
    # planted near-duplicate partners (cosine >= ~0.95 -- the regime
    # LSH is for; the random fixture has no recall guarantee at 8x8,
    # same caveat as test_lsh_ann_recall_at_5_fixture).
    import math as m
    import random

    from dataingestionengineprocess_spark.operators.similarity import (
        lsh_knn_graph,
    )

    rng = random.Random(7)
    rows = []
    for i in range(50):
        v = [rng.gauss(0, 1) for _ in range(64)]
        nrm = m.sqrt(sum(x * x for x in v))
        v = [x / nrm for x in v]
        w = [x + rng.gauss(0, 0.03) for x in v]
        rows.append((2 * i, v))
        rows.append((2 * i + 1, w))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    g = lsh_knn_graph(df, k=4)
    by_node = {}
    for r in g.collect():
        by_node.setdefault(r["node"], set()).add(r["neighbor"])
    partner_hits = sum(
        1 for i in range(100)
        if (i ^ 1) in by_node.get(i, set()))
    assert partner_hits >= 90, f"planted partner recall {partner_hits}/100"
    # graph shape: ranks contiguous from 1, at most k per node
    for r in g.groupBy("node").agg(
            F.count(F.lit(1)).alias("d"), F.min("rank").alias("lo"),
            F.max("rank").alias("hi")).collect():
        assert r["lo"] == 1 and r["hi"] == r["d"] <= 4


def test_als_halfstep_matches_numpy_solve(spark):
    # The closed-form 2x2 ridge solve must agree with numpy's
    # lstsq-style solve reconstructed from the SAME quantized sums,
    # and the update must actually FIT: predicted u.v correlates with
    # the ratings better than the zero-factor baseline (SSE strictly
    # below sum(r^2)).
    import hashlib

    import numpy as np

    from dataingestionengineprocess_spark.queries.ml import (
        _ALS_LAMBDA,
        ml_als_halfstep_portable,
    )

    out = {r["c_custkey"]: (r["n_items"], r["u1_s"], r["u2_s"])
           for r in ml_als_halfstep_portable(spark, SF_SMOKE).collect()}
    assert out
    li = load(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity")
    orders = load(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey")
    ratings = (li.join(orders, li.l_orderkey == orders.o_orderkey)
               .groupBy(F.col("o_custkey").alias("cust"),
                        F.col("l_partkey").alias("part"))
               .agg(F.sum("l_quantity").cast("long").alias("r"))
               .collect())

    def factor(part: int, sfx: str) -> float:
        h = int(hashlib.md5(f"{part}{sfx}".encode()).hexdigest()[:6], 16)
        return h / float(0xFFFFFF) - 0.5

    by_cust: dict = {}
    for row in ratings:
        by_cust.setdefault(row["cust"], []).append(
            (factor(row["part"], ":a"), factor(row["part"], ":b"),
             row["r"]))
    import math

    def q(x):
        return math.floor(x * 1e6 + 0.5)

    sse_fit = sse_zero = 0.0
    for cust, items in by_cust.items():
        s11 = sum(q(v1 * v1) for v1, _, _ in items) / 1e6
        s12 = sum(q(v1 * v2) for v1, v2, _ in items) / 1e6
        s22 = sum(q(v2 * v2) for _, v2, _ in items) / 1e6
        b1 = sum(q(r * v1) for v1, _, r in items) / 1e6
        b2 = sum(q(r * v2) for _, v2, r in items) / 1e6
        a = np.array([[s11 + _ALS_LAMBDA, s12], [s12, s22 + _ALS_LAMBDA]])
        u = np.linalg.solve(a, np.array([b1, b2]))
        n, u1, u2 = out[cust]
        assert n == len(items)
        assert abs(u1 - u[0]) < 2e-6 and abs(u2 - u[1]) < 2e-6, cust
        for v1, v2, r in items:
            sse_fit += (r - (u1 * v1 + u2 * v2)) ** 2
            sse_zero += r * r
    assert sse_fit < sse_zero


def test_tws_plan_constructs_and_gate_is_honest(spark):
    # The TWS branch must at least BUILD its plan in this container
    # (API shape pinned); executing it needs protobuf, and the gate
    # must report exactly that.
    ev = (spark.readStream.format("rate").option("rowsPerSecond", 1)
          .load()
          .select(F.col("value").alias("user_id"),
                  (F.col("value") * 1.0).alias("value")))
    out = user_stats_tws(ev)
    assert set(out.schema.fieldNames()) == {
        "user_id", "n_events", "total_value", "max_value"}
    try:
        import google.protobuf  # noqa: F401

        has_pb = True
    except ImportError:
        has_pb = False
    assert tws_runtime_available() == has_pb
    if not has_pb:
        pytest.skip("protobuf absent: TWS branch plan-checked only; "
                    "the registered query runs the shared fold via "
                    "applyInPandasWithState")
