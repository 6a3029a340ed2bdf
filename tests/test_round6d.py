"""Round-6d invariants: Hampel filter, k-center coreset, kNN
classifier, Jaccard link prediction, Theil-Sen slope."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from dataingestionengineprocess_spark.catalog import load
from dataingestionengineprocess_spark.queries.curation import (
    curation_kcenter_coreset,
)
from dataingestionengineprocess_spark.queries.graph import (
    graph_jaccard_link_prediction,
)
from dataingestionengineprocess_spark.queries.ml import ml_knn_classifier
from dataingestionengineprocess_spark.queries.stat import stat_theil_sen_slope
from dataingestionengineprocess_spark.queries.window import (
    window_hampel_filter,
)
from tests.conftest import SF_SMOKE


def test_hampel_matches_python_rolling(spark):
    rows = window_hampel_filter(spark, SF_SMOKE).collect()
    ev = sorted(
        (r for r in load(spark, SF_SMOKE, "events").collect()
         if r["value"] is not None),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]))
    by_user: dict[int, list] = {}
    for r in ev:
        by_user.setdefault(r["user_id"], []).append(r)
    want = {}
    for _, rs in by_user.items():
        vqs = [math.floor(r["value"] * 1e6 + 0.5) for r in rs]
        for i, r in enumerate(rs):
            s = sorted(vqs[max(0, i - 3):i + 4])
            n = len(s)
            med2q = s[(n + 1) // 2 - 1] + s[(n + 2) // 2 - 1]
            dev = sorted(abs(2 * x - med2q) for x in s)
            mad4q = dev[(n + 1) // 2 - 1] + dev[(n + 2) // 2 - 1]
            want[r["event_id"]] = (
                med2q / 2e6, mad4q / 4e6,
                2.0 * abs(2 * vqs[i] - med2q) > 4.4478 * mad4q)
    assert len(rows) == len(want)
    for r in rows:
        m, d, o = want[r["event_id"]]
        assert abs(r["med_s"] - m) < 1e-12
        assert abs(r["mad_s"] - d) < 1e-12
        assert r["is_outlier"] == o
    # Sanity: outliers exist but are a minority.
    n_out = sum(1 for r in rows if r["is_outlier"])
    assert 0 < n_out < len(rows) / 2


def test_kcenter_steps_have_growing_coverage(spark):
    rows = curation_kcenter_coreset(spark, SF_SMOKE).collect()
    assert [r["step"] for r in rows] == [1, 2, 3]
    assert rows[0]["vec_id"] == 0 and rows[0]["dist_s"] == 0.0
    # Greedy k-center distances are non-increasing: the 3rd pick's
    # min-distance to {c1, c2} cannot exceed the 2nd pick's distance
    # to c1.
    assert rows[2]["dist_s"] <= rows[1]["dist_s"] + 1e-9
    assert rows[1]["dist_s"] > 0
    # All selected ids distinct.
    assert len({r["vec_id"] for r in rows}) == 3


def test_knn_classifier_matches_python(spark):
    from dataingestionengineprocess_spark.functions.vectors import (
        as_double,
    )

    emb = {r["vec_id"]: (r["label"], r["v"])
           for r in load(spark, SF_SMOKE, "embeddings")
           .select("vec_id", "label", as_double("embedding").alias("v"))
           .collect()}

    def cos_q(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return math.floor(
            d / (math.sqrt(sum(x * x for x in a))
                 * math.sqrt(sum(x * x for x in b))) * 1e6 + 0.5)

    got = ml_knn_classifier(spark, SF_SMOKE).collect()
    assert [r["qid"] for r in got] == list(range(20))
    for r in got[:5]:  # python replay is O(n) per query; 5 suffice
        qv = emb[r["qid"]][1]
        scored = sorted(
            ((-cos_q(qv, v), nid, lab) for nid, (lab, v) in emb.items()
             if nid >= 20), )[:5]
        votes: dict[int, int] = {}
        for _, _, lab in scored:
            votes[lab] = votes.get(lab, 0) + 1
        mc = max(votes.values())
        pred = min(l for l, c in votes.items() if c == mc)
        assert (r["pred_label"], r["n_votes"]) == (pred, mc)
        assert r["true_label"] == emb[r["qid"]][0]
        assert r["correct"] == (pred == r["true_label"])


def test_link_prediction_scores_are_jaccard(spark):
    rows = graph_jaccard_link_prediction(spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= 50
    js = [r["jaccard_s"] for r in rows]
    assert js == sorted(js, reverse=True)
    for r in rows:
        assert 0.0 < r["jaccard_s"] <= 1.0
        assert r["common"] >= 1
        assert r["a"] < r["b"]


def test_theil_sen_matches_python_median(spark):
    rows = stat_theil_sen_slope(spark, SF_SMOKE).collect()
    cust = load(spark, SF_SMOKE, "customer").collect()
    nat = {r["n_nationkey"]: r["n_name"]
           for r in load(spark, SF_SMOKE, "nation").collect()}
    ocnt: dict[int, int] = {}
    for r in load(spark, SF_SMOKE, "orders").collect():
        ocnt[r["o_custkey"]] = ocnt.get(r["o_custkey"], 0) + 1
    name = rows[0]["n_name"]
    pts = [(c["c_acctbal"], ocnt.get(c["c_custkey"], 0))
           for c in cust if nat[c["c_nationkey"]] == name
           and c["c_custkey"] % 3 == 0]
    slopes = []
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            if pts[i][0] != pts[j][0]:
                slopes.append(math.floor(
                    (pts[j][1] - pts[i][1]) / (pts[j][0] - pts[i][0])
                    * 1e6 + 0.5))
    slopes.sort()
    n = len(slopes)
    want = (slopes[(n + 1) // 2 - 1] + slopes[(n + 2) // 2 - 1]) / 2e6
    got = {r["n_name"]: r for r in rows}[name]
    assert got["n_pairs"] == n
    assert abs(got["theil_slope_s"] - want) < 1e-12
