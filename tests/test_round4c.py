"""Round-4c invariants: the portable k-means trainer (cluster
accounting, empty-cluster fallback, agreement with a numpy replay),
length-bucket clamping, and the ORC/text round-trip sources beyond
what the oracle rollups can see (schema + row identity)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from dataingestionengineprocess_spark.catalog import load
from dataingestionengineprocess_spark.operators.similarity import (
    kmeans_portable_fit,
    portable_init_sample,
)
from tests.conftest import SF_SMOKE


def _numpy_portable_kmeans(ids, vecs, k, iters, scale=1_000_000):
    """Driver-side replay of the portable fit's exact arithmetic:
    quantize once, argmin squared-L2 with ties to the lowest index,
    integer sums, (sum / n) / scale means."""
    q = np.floor(vecs * scale + 0.5).astype(np.int64)
    order = sorted(range(len(ids)), key=lambda i: (
        __import__("hashlib").md5(str(ids[i]).encode()).hexdigest(), ids[i]))
    cents = [vecs[i].copy() for i in order[:k]]
    counts = {}
    for _ in range(iters):
        assign = []
        for row in vecs:
            dists = []
            for j, c in enumerate(cents):
                acc = 0.0
                for a, b in zip(row, c):
                    acc += (a - b) * (a - b)
                dists.append((acc, j))
            assign.append(min(dists)[1])
        counts = {}
        sums = {}
        for i, j in enumerate(assign):
            counts[j] = counts.get(j, 0) + 1
            sums.setdefault(j, np.zeros(vecs.shape[1], dtype=object))
            sums[j] = sums[j] + q[i].astype(object)
        for j in range(k):
            if j in counts:
                cents[j] = np.array(
                    [(int(s) / counts[j]) / scale for s in sums[j]]
                )
    return cents, counts


def test_kmeans_portable_matches_numpy_replay(spark):
    emb = load(spark, SF_SMOKE, "embeddings")
    got = kmeans_portable_fit(emb, n_clusters=4, iters=2).collect()
    pdf = emb.select("vec_id", "embedding").toPandas()
    ids = pdf["vec_id"].tolist()
    vecs = np.array([np.asarray(v, dtype=np.float64)
                     for v in pdf["embedding"]])
    cents, counts = _numpy_portable_kmeans(ids, vecs, k=4, iters=2)

    by_cluster = {}
    for r in got:
        by_cluster.setdefault(r.clabel, {})[r.d] = (r.c, r.n)
    assert set(by_cluster) == set(range(4))
    for j in range(4):
        assert len(by_cluster[j]) == vecs.shape[1]
        for d in range(vecs.shape[1]):
            c, n = by_cluster[j][d]
            assert n == counts.get(j, 0)
            assert c == pytest.approx(cents[j][d], abs=1e-12)


def test_kmeans_portable_total_membership(spark):
    emb = load(spark, SF_SMOKE, "embeddings")
    total = emb.count()
    got = kmeans_portable_fit(emb, n_clusters=8, iters=2)
    ns = got.groupBy("clabel").agg(F.max("n").alias("n")).collect()
    assert sum(r.n for r in ns) == total


def test_kmeans_portable_empty_cluster_keeps_centroid(spark):
    # Two far-apart groups + k=3: the third md5-ordered init point
    # loses every vector to a nearer centroid, so its cluster is empty
    # and the fitted centroid must be EXACTLY the init vector.
    rows = [(i, [0.0, 0.0]) for i in range(5)] + \
           [(i, [100.0, 100.0]) for i in range(5, 10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = kmeans_portable_fit(df, n_clusters=3, iters=2).collect()
    empty = [r for r in got if r.n == 0]
    assert empty, "expected at least one empty cluster"
    init = portable_init_sample(df, 3, "vec_id", "embedding")
    empty_label = empty[0].clabel
    fitted = sorted(((r.d, r.c) for r in got if r.clabel == empty_label))
    assert [c for _, c in fitted] == init[empty_label]


def test_kmeans_portable_raises_on_tiny_corpus(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="fewer than"):
        kmeans_portable_fit(df, n_clusters=3, iters=1)


def test_length_buckets_clamp_and_account(spark):
    from dataingestionengineprocess_spark.queries.curation import (
        _BUCKETS,
        curation_length_buckets,
    )

    got = curation_length_buckets(spark, SF_SMOKE).collect()
    docs = load(spark, SF_SMOKE, "documents").count()
    assert sum(r.n_docs for r in got) == docs
    for r in got:
        assert r.bucket in _BUCKETS
        assert r.capacity == r.bucket * r.n_docs
        assert r.sum_tokens <= r.capacity or r.bucket == _BUCKETS[-1]
        assert 0.0 <= r.padding_waste < 1.0 or r.bucket == _BUCKETS[-1]
        assert not math.isnan(r.padding_waste)


def test_orc_roundtrip_preserves_rows(spark):
    from dataingestionengineprocess_spark.catalog import scratch_path

    docs = load(spark, SF_SMOKE, "documents")
    # the query itself is oracle-checked; here prove row identity of
    # the staged dataset, not just the rollup
    from dataingestionengineprocess_spark.queries.source import (
        source_orc_roundtrip,
    )

    source_orc_roundtrip(spark, SF_SMOKE)
    back = spark.read.orc(scratch_path("orc_roundtrip", SF_SMOKE))
    assert back.count() == docs.count()
    a = {r.doc_id: (r.text, r.lang, r.source, r.n_chars)
         for r in docs.collect()}
    b = {r.doc_id: (r.text, r.lang, r.source, r.n_chars)
         for r in back.collect()}
    assert a == b


def test_text_lines_roundtrip_parses_every_line(spark):
    from dataingestionengineprocess_spark.catalog import scratch_path
    from dataingestionengineprocess_spark.queries.source import (
        source_text_lines,
    )

    source_text_lines(spark, SF_SMOKE)
    lines = spark.read.text(scratch_path("text_lines", SF_SMOKE))
    docs = load(spark, SF_SMOKE, "documents")
    assert lines.count() == docs.count()
    parsed = lines.select(F.split("value", "\t", 3).alias("p"))
    bad = parsed.filter(F.size("p") < 3).count()
    assert bad == 0


def _nearest(spark, probes, cands, tol=None):
    from dataingestionengineprocess_spark.operators.asof import (
        asof_join_nearest,
    )
    from pyspark.sql import functions as F

    left = spark.createDataFrame(
        probes, "pid long, k string, ts string").withColumn(
        "ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        cands, "cid long, k string, cts string").withColumn(
        "cts", F.to_timestamp("cts"))
    out = asof_join_nearest(
        left, right, on="k", left_ts="ts", right_ts="cts",
        payload_cols=["cid"], tolerance_seconds=tol, how="inner",
    )
    return {r["pid"]: (r["cid"], r["__delta_us"]) for r in out.collect()}


def test_asof_nearest_picks_closer_side(spark):
    got = _nearest(
        spark,
        [(1, "a", "2024-01-01 10:00:00")],
        [(10, "a", "2024-01-01 09:00:00"),   # 1h before
         (11, "a", "2024-01-01 10:00:05")],  # 5s after
    )
    assert got == {1: (11, 5_000_000)}


def test_asof_nearest_tie_resolves_backward(spark):
    got = _nearest(
        spark,
        [(1, "a", "2024-01-01 10:00:00")],
        [(10, "a", "2024-01-01 09:59:50"),   # 10s before
         (11, "a", "2024-01-01 10:00:10")],  # 10s after
    )
    assert got == {1: (10, -10_000_000)}


def test_asof_nearest_tolerance_drops_far_matches(spark):
    got = _nearest(
        spark,
        [(1, "a", "2024-01-01 10:00:00"),
         (2, "b", "2024-01-01 10:00:00")],
        [(10, "a", "2024-01-01 09:00:00"),   # 1h away: out of 60s tol
         (11, "b", "2024-01-01 10:00:30")],  # 30s away: within
        tol=60,
    )
    assert got == {2: (11, 30_000_000)}


def test_asof_nearest_fractional_axis_exact(spark):
    # Regression: a fractional double axis must NOT be truncated to
    # integers before the distance compare -- probe 1.6 is nearer to
    # 2.1 (0.5) than to 1.0 (0.6), though truncation would say the
    # opposite; a fractional tolerance must survive un-truncated too.
    from dataingestionengineprocess_spark.operators.asof import (
        asof_join_nearest,
    )

    left = spark.createDataFrame([(1, 1.6)], "k int, lt double")
    right = spark.createDataFrame(
        [(1, 1.0, 10), (1, 2.1, 20)], "k int, rt double, rv int")
    row = asof_join_nearest(
        left, right, on="k", left_ts="lt", right_ts="rt",
        payload_cols=["rv"]).collect()[0]
    assert row["rv"] == 20 and abs(row["__delta_us"] - 0.5) < 1e-12
    assert asof_join_nearest(
        left, right, on="k", left_ts="lt", right_ts="rt",
        payload_cols=["rv"], tolerance_seconds=0.4).count() == 0
    # fractional tolerance on an INTEGER axis: int() would make it 0
    li = spark.createDataFrame([(1, 5)], "k int, lt int")
    ri = spark.createDataFrame([(1, 5, 7)], "k int, rt int, rv int")
    out = asof_join_nearest(
        li, ri, on="k", left_ts="lt", right_ts="rt",
        payload_cols=["rv"], tolerance_seconds=0.5).collect()
    assert out[0]["rv"] == 7 and out[0]["__delta_us"] == 0


def test_asof_nearest_no_cross_key_leak(spark):
    got = _nearest(
        spark,
        [(1, "a", "2024-01-01 10:00:00")],
        [(11, "b", "2024-01-01 10:00:01")],
    )
    assert got == {}


def test_asof_nearest_matches_pandas_merge_asof(spark):
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(7)
    probes = [(int(i), "k%d" % (i % 3),
               str(pd.Timestamp("2024-01-01") +
                   pd.Timedelta(seconds=int(rng.randint(0, 10_000)))))
              for i in range(60)]
    # odd-second candidates vs even-second probes would still allow
    # ties across sides; use distinct prime-ish offsets to keep every
    # |delta| unique per key so pandas tie policy never engages
    cands = [(int(100 + i), "k%d" % (i % 3),
              str(pd.Timestamp("2024-01-01") +
                  pd.Timedelta(seconds=int(rng.randint(0, 10_000)),
                               microseconds=137 * i)))
             for i in range(40)]
    got = _nearest(spark, probes, cands)

    pl = pd.DataFrame(probes, columns=["pid", "k", "ts"])
    pr = pd.DataFrame(cands, columns=["cid", "k", "cts"])
    pl["ts"] = pd.to_datetime(pl["ts"], format="mixed")
    pr["cts"] = pd.to_datetime(pr["cts"], format="mixed")
    m = pd.merge_asof(
        pl.sort_values("ts"), pr.sort_values("cts"),
        left_on="ts", right_on="cts", by="k", direction="nearest",
    )
    want = {}
    for _, r in m.iterrows():
        if pd.notna(r["cid"]):
            want[int(r["pid"])] = int(r["cid"])
    assert {p: c for p, (c, _) in got.items()} == want


def test_rolling_distinct_bounded_by_type_totals(spark):
    from dataingestionengineprocess_spark.queries.window import (
        window_rolling_distinct_users,
    )

    got = window_rolling_distinct_users(spark, SF_SMOKE)
    events = load(spark, SF_SMOKE, "events")
    totals = {r["event_type"]: r["u"] for r in events.groupBy("event_type")
              .agg(F.countDistinct("user_id").alias("u")).collect()}
    for r in got.collect():
        assert 1 <= r.users_1h <= totals[r.event_type]


def test_rolling_distinct_null_type_and_null_ts_kept(spark):
    """ADVICE r5: NULL event_type must be its own window partition and
    NULL-ts rows their own peer group (DuckDB RANGE-frame rule), not
    silently dropped by the banded join. Pin against DuckDB's NATIVE
    distinct window on a fixture with both NULL shapes."""
    import duckdb
    import pandas as pd

    from dataingestionengineprocess_spark.queries.window import (
        banded_rolling_distinct,
    )

    t0 = pd.Timestamp("2024-01-01 10:00:00")
    pdf = pd.DataFrame({
        "event_id": [1, 2, 3, 4, 5, 6, 7, 8],
        "event_type": ["a", "a", None, None, "a", None, "b", "b"],
        "user_id": [10, 11, 10, 12, 10, 12, 13, None],
        "ts": [t0, t0 + pd.Timedelta(minutes=30),
               t0, t0 + pd.Timedelta(minutes=90),
               None, None,               # NULL ts peer group per type
               t0, t0 + pd.Timedelta(minutes=59)],
    })
    got = {
        r["event_id"]: r["users_1h"]
        for r in banded_rolling_distinct(
            spark.createDataFrame(pdf)).collect()
    }
    con = duckdb.connect()
    con.register("events", pdf)
    want = {
        int(r[0]): int(r[1]) for r in con.execute("""
            SELECT event_id, count(DISTINCT user_id) OVER (
              PARTITION BY event_type ORDER BY ts
              RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
            ) FROM events
        """).fetchall()
    }
    assert got == want
    assert len(got) == len(pdf)  # every event kept, NULLs included


def test_rfm_scores_are_quartiles(spark):
    from dataingestionengineprocess_spark.queries.events import (
        events_rfm_segments,
    )

    rows = events_rfm_segments(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 1 <= r.r_score <= 4
        assert 1 <= r.f_score <= 4
        assert 1 <= r.m_score <= 4
        assert r.frequency >= 1 and r.monetary_cents >= 0
        assert r.recency_days >= 0
    # quartile sizes differ by at most 1 per score dimension
    import collections

    for dim in ("r_score", "f_score", "m_score"):
        sizes = collections.Counter(getattr(r, dim) for r in rows)
        assert max(sizes.values()) - min(sizes.values()) <= 1


def test_logreg_learns_separable_direction(spark):
    import math

    from dataingestionengineprocess_spark.queries.ml import ml_logreg_portable

    rows = {r.term: r for r in ml_logreg_portable(spark, SF_SMOKE).collect()}
    assert set(rows) == {"bias", "x_chars", "x_tokens"}
    n = rows["bias"].n_rows
    assert all(math.isfinite(r.weight_s) for r in rows.values())
    assert 0 <= rows["bias"].n_correct <= n
