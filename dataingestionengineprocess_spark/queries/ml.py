"""Model-prep surface (``ml_``, ``rec_``, ``label_``): features, fits and evaluation.

Feature scaling and encoding, exact evaluation metrics (AUC, AUPRC,
NDCG, calibration), statistical drift tests, and small model fits
(logistic regression, naive Bayes, k-means, GMM, PCA, ALS, GBDT
stumps) whose `_portable` variants use md5-derived randomness so a
DuckDB oracle replays them exactly. Engine-portable hashing uses md5
(present in both engines) rather than xxhash64.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F, SparkSession, Window as W

from ..catalog import load
from ..functions.exact import (
    epoch_day as _epoch_day, FIXTURE_SPLIT_DAY as _PSI_SPLIT_DAY, q6,
    q6 as _q6, q6f as _q6f, snap6, snap6 as _snap6, snap6 as _snap6_expr,
    US_PER_DAY as _US_PER_DAY,
)
from ..functions.text import md5_bucket, tokens
from ..operators.skew import spread_input
from ..session import local_frame
from . import register
from .join import _coord_sql, md5_points
from .knn import _COS


_SCALING_ORACLE = """
WITH j AS (
  SELECT o_orderkey, c_mktsegment AS segment, o_totalprice AS price
  FROM orders JOIN customer ON o_custkey = c_custkey
),
stats AS (
  SELECT segment,
         percentile_cont(0.05) WITHIN GROUP (ORDER BY price) AS p05,
         percentile_cont(0.95) WITHIN GROUP (ORDER BY price) AS p95,
         avg(price) AS mu, stddev_samp(price) AS sigma
  FROM j GROUP BY segment
)
SELECT o_orderkey, j.segment,
       round(least(greatest(price, p05), p95), 4) AS winsorized,
       round((least(greatest(price, p05), p95) - p05) / (p95 - p05), 6)
           AS minmax,
       round((price - mu) / sigma, 6) AS zscore
FROM j JOIN stats ON j.segment = stats.segment
"""


# ``ml_feature_scaling``: winsorize / min-max / z-score feature
# normalization from exact per-segment statistics.
@register("ml_feature_scaling", oracle=_SCALING_ORACLE)
def ml_feature_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    j = orders.join(
        cust, orders.o_custkey == cust.c_custkey
    ).select(
        "o_orderkey", F.col("c_mktsegment").alias("segment"),
        F.col("o_totalprice").alias("price"),
    )
    stats = j.groupBy("segment").agg(
        F.percentile("price", F.lit(0.05)).alias("p05"),
        F.percentile("price", F.lit(0.95)).alias("p95"),
        F.avg("price").alias("mu"),
        F.stddev_samp("price").alias("sigma"),
    )
    clipped = F.least(F.greatest(F.col("price"), F.col("p05")), F.col("p95"))
    return (
        j.join(F.broadcast(stats), "segment")
        .select(
            "o_orderkey", "segment",
            F.round(clipped, 4).alias("winsorized"),
            F.round((clipped - F.col("p05")) / (F.col("p95") - F.col("p05")), 6)
            .alias("minmax"),
            F.round((F.col("price") - F.col("mu")) / F.col("sigma"), 6)
            .alias("zscore"),
        )
    )


_LAG_ORACLE = """
SELECT user_id, event_id,
       round(value, 4) AS target,
       round(lag(value, 1) OVER w, 4) AS lag1,
       round(lag(value, 2) OVER w, 4) AS lag2,
       round(lag(value, 3) OVER w, 4) AS lag3,
       round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), 4)
           AS trailing3_mean
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
QUALIFY lag(value, 3) OVER w IS NOT NULL
"""


@register("ml_lag_features", oracle=_LAG_ORACLE)
def ml_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    trail = w.rowsBetween(-3, -1)
    return (
        ev.select(
            "user_id", "event_id",
            F.round("value", 4).alias("target"),
            F.round(F.lag("value", 1).over(w), 4).alias("lag1"),
            F.round(F.lag("value", 2).over(w), 4).alias("lag2"),
            F.round(F.lag("value", 3).over(w), 4).alias("lag3"),
            F.round(F.avg("value").over(trail), 4).alias("trailing3_mean"),
            F.lag("value", 3).over(w).alias("__complete"),
        )
        .filter(F.col("__complete").isNotNull())
        .drop("__complete")
    )


_NEG_K = 5


_NEG_DRAWS = 2 * _NEG_K


_NEGSAMPLE_ORACLE = f"""
WITH n AS (SELECT count(*) AS n_parts FROM part),
users AS (SELECT c_custkey FROM customer WHERE c_custkey % 10 = 0),
cand AS (
  SELECT c_custkey, i,
         CAST('0x' || substr(md5(c_custkey || '#' || i), 1, 6) AS BIGINT)
             % n_parts AS item
  FROM users CROSS JOIN n CROSS JOIN generate_series(1, {_NEG_DRAWS}) g(i)
),
seen AS (
  SELECT DISTINCT o_custkey AS c_custkey, l_partkey AS item
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
fresh AS (
  SELECT c.c_custkey, c.item, min(c.i) AS draw
  FROM cand c ANTI JOIN seen s USING (c_custkey, item)
  GROUP BY c.c_custkey, c.item
)
SELECT c_custkey, item, draw, rank FROM (
  SELECT c_custkey, item, draw,
         row_number() OVER (PARTITION BY c_custkey
                            ORDER BY draw, item) AS rank
  FROM fresh
) WHERE rank <= {_NEG_K}
"""


@register("rec_negative_sampling", oracle=_NEGSAMPLE_ORACLE)
def rec_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").filter(F.col("c_custkey") % 10 == 0)
    n_parts = load(spark, sf_dir, "part").agg(
        F.count("*").alias("n_parts"))
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    seen = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c_custkey"),
                F.col("l_partkey").alias("item"))
        .distinct()
    )
    # item ids are 0-based dense (p_partkey in [0, n_parts)): the
    # candidate domain must match exactly or the sampler emits
    # phantom items / can never draw the boundary key.
    item = md5_bucket(
        F.concat(F.col("c_custkey").cast("string"), F.lit("#"),
                 F.col("i").cast("string")),
        F.col("n_parts"),
    )
    cand = (
        cust.select("c_custkey")
        .crossJoin(F.broadcast(n_parts))
        .withColumn("i", F.explode(F.sequence(F.lit(1), F.lit(_NEG_DRAWS))))
        .select("c_custkey", "i", item.alias("item"))
    )
    fresh = (
        cand.join(seen, ["c_custkey", "item"], "left_anti")
        .groupBy("c_custkey", "item")
        .agg(F.min("i").alias("draw"))
    )
    w = W.partitionBy("c_custkey").orderBy("draw", "item")
    return (
        fresh.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _NEG_K)
        .select("c_custkey", "item", "draw", "rank")
    )


_TARGETENC_ORACLE = """
WITH g AS (
  SELECT o_orderpriority, sum(o_totalprice) AS s, count(*) AS n
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderkey, o.o_orderpriority,
       round(CASE WHEN n > 1 THEN (s - o_totalprice) / (n - 1) END, 6)
           AS loo_mean_price
FROM orders o JOIN g ON o.o_orderpriority = g.o_orderpriority
"""


@register("ml_target_encoding", oracle=_TARGETENC_ORACLE)
def ml_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    g = orders.groupBy("o_orderpriority").agg(
        F.sum("o_totalprice").alias("s"), F.count("*").alias("n"))
    loo = F.when(
        F.col("n") > 1,
        (F.col("s") - F.col("o_totalprice")) / (F.col("n") - 1),
    )
    return (
        orders.join(F.broadcast(g), "o_orderpriority")
        .select("o_orderkey", "o_orderpriority",
                F.round(loo, 6).alias("loo_mean_price"))
    )


_QBIN_ORACLE = """
SELECT bin, CAST(count(*) AS BIGINT) AS n,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi
FROM (
  SELECT o_totalprice,
         CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT)
             AS bin
  FROM orders
) GROUP BY bin
"""


@register("ml_quantile_bins", oracle=_QBIN_ORACLE)
def ml_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT equal-count bins, distributed: ntile(k) is a pure
    function of the global ordinal rank and the row count --
    the first (n mod k) buckets take ceil(n/k) rows, the rest take
    floor(n/k) -- so the single-task global-ntile window is replaced
    by `operators/ranking.global_rank` (range-partitioned local
    row_numbers + broadcast offsets) and integer bucket arithmetic in
    codegen. The row count is one bounded aggregate. Same exact
    semantics as the SQL ntile; no stage sorts more than one range
    partition. (The approximate alternative -- approxQuantile
    cutpoints + map-only assignment, as in
    `sinks/warehouse.zorder_write` -- trades exact equal counts for
    zero ranking passes; this query pins the exact semantics.)"""
    from ..operators.ranking import global_rank, ntile_expr

    o = load(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    ranked = global_rank(o, ["o_totalprice", "o_orderkey"], "gr")
    n = ranked.count()  # reads the checkpointed layout, not orders
    ranked = ranked.withColumn("__n", F.lit(n).cast("long"))
    binned = ranked.select(
        "o_totalprice", ntile_expr("gr", "__n", 10).alias("bin"))
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


_NB_TRAIN_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents
),
ct AS (SELECT lang, tok, count(*) AS c FROM toks GROUP BY 1, 2),
tot AS (SELECT lang, count(*) AS n FROM toks GROUP BY 1),
vocab AS (SELECT DISTINCT tok FROM toks),
vs AS (SELECT count(*) AS v FROM vocab),
prior AS (
  SELECT lang, count(*) AS d, sum(count(*)) OVER () AS dall
  FROM documents GROUP BY lang
)
SELECT t.lang, vb.tok,
       floor(ln((COALESCE(ct.c, 0) + 1) * 1.0 / (t.n + vs.v)) * 1e6 + 0.5)
         / 1e6 AS logp,
       floor(ln(p.d * 1.0 / p.dall) * 1e6 + 0.5) / 1e6 AS logprior
FROM tot t
CROSS JOIN vocab vb
CROSS JOIN vs
LEFT JOIN ct ON ct.lang = t.lang AND ct.tok = vb.tok
JOIN prior p ON p.lang = t.lang
"""


def _nb_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fitted model as a DataFrame: one row per (lang, tok) with
    Laplace-smoothed token log-probability and the class log-prior."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "lang", F.explode(tokens("text")).alias("tok"))
    ct = tok.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c"))
    tot = tok.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    vocab = tok.select("tok").distinct()
    vs = vocab.agg(F.count(F.lit(1)).alias("v"))
    prior = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("d"))
    dall = docs.agg(F.count(F.lit(1)).alias("dall"))

    grid = (
        tot.crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(vs))
        .join(ct, ["lang", "tok"], "left")
        .join(F.broadcast(prior), "lang")
        .crossJoin(F.broadcast(dall))
    )
    return grid.select(
        "lang", "tok",
        _snap6(F.log((F.coalesce(F.col("c"), F.lit(0)) + 1)
                    / (F.col("n") + F.col("v")))).alias("logp"),
        _snap6(F.log(F.col("d") / F.col("dall"))).alias("logprior"),
    )


@register("ml_naive_bayes_train", oracle=_NB_TRAIN_ORACLE)
def ml_naive_bayes_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit the multinomial NB model and emit it as a table. The oracle
    refits from scratch in SQL — a hash pass proves the distributed
    count/smooth/normalize pipeline, not just its row count."""
    return _nb_model(spark, sf_dir)


_NB_SCORE_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents
),
ct AS (SELECT lang, tok, count(*) AS c FROM toks GROUP BY 1, 2),
tot AS (SELECT lang, count(*) AS n FROM toks GROUP BY 1),
vocab AS (SELECT DISTINCT tok FROM toks),
vs AS (SELECT count(*) AS v FROM vocab),
prior AS (
  SELECT lang, count(*) AS d, sum(count(*)) OVER () AS dall
  FROM documents GROUP BY lang
),
model AS (
  SELECT t.lang, vb.tok,
         floor(ln((COALESCE(ct.c, 0) + 1) * 1.0 / (t.n + vs.v)) * 1e6 + 0.5)
           / 1e6 AS logp,
         floor(ln(p.d * 1.0 / p.dall) * 1e6 + 0.5) / 1e6 AS logprior
  FROM tot t
  CROSS JOIN vocab vb
  CROSS JOIN vs
  LEFT JOIN ct ON ct.lang = t.lang AND ct.tok = vb.tok
  JOIN prior p ON p.lang = t.lang
),
dt AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
scores AS (
  SELECT dt.doc_id, m.lang,
         any_value(m.logprior)
           + list_reduce(list_prepend(0.0, list(dt.c * m.logp ORDER BY dt.tok)),
                         (a, x) -> a + x) AS score
  FROM dt JOIN model m ON m.tok = dt.tok
  GROUP BY dt.doc_id, m.lang
),
best AS (
  SELECT doc_id, lang AS pred_lang, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, lang) AS rn
  FROM scores
)
SELECT b.doc_id, b.pred_lang, d.lang AS actual_lang,
       b.pred_lang = d.lang AS correct,
       floor(b.score * 1e4 + 0.5) / 1e4 AS score
FROM best b JOIN documents d ON d.doc_id = b.doc_id
WHERE b.rn = 1
"""


@register("ml_naive_bayes_score", oracle=_NB_SCORE_ORACLE)
def ml_naive_bayes_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify every document with the NB model fit by
    `ml_naive_bayes_train` (same in-plan fit — train and inference
    compose into ONE Catalyst plan, no materialization boundary).

    Per (doc, class) the score is logprior + sum over the doc's
    distinct tokens of count*logp. The sum is an ordered fold over
    token-sorted snapped doubles, so it is bit-identical across
    engines and the argmax (score desc, lang asc) can never flip.

    100 TB shape: doc-token counts join a broadcastable vocab-bounded
    model, fold per (doc, class) — one uniform-key shuffle on doc_id,
    identical to the unigram-LM scorer's profile.
    """
    docs = load(spark, sf_dir, "documents")
    model = _nb_model(spark, sf_dir)
    dt = (
        docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    )
    ordered_sum = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("tok", "contrib"))),
            lambda s: s.getField("contrib"),
        ),
        F.lit(0.0), lambda a, x: a + x,
    )
    scores = (
        dt.join(F.broadcast(model), "tok")
        .select("doc_id", "lang", "logprior",
                (F.col("c") * F.col("logp")).alias("contrib"), "tok")
        .groupBy("doc_id", "lang")
        .agg((F.first("logprior") + ordered_sum).alias("score"))
    )
    best = scores.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("lang"))
        ),
    ).filter(F.col("rn") == 1)
    return (
        best.join(docs.select("doc_id", F.col("lang").alias("actual_lang")),
                  "doc_id")
        .select(
            "doc_id",
            F.col("lang").alias("pred_lang"),
            "actual_lang",
            (F.col("lang") == F.col("actual_lang")).alias("correct"),
            (F.floor(F.col("score") * 1e4 + F.lit(0.5)) / 1e4).alias("score"),
        )
    )


_KMEANS_K = 8


_KMEANS_DIM = 64


_KMEANS_SCALE = 1_000_000


def _kmeans_oracle(k: int = _KMEANS_K, dim: int = _KMEANS_DIM,
                   scale: int = _KMEANS_SCALE) -> str:
    """Full SQL replica of two portable Lloyd's iterations.

    Mirror rules (FIXTURES.md): md5-ordered init sample; squared-L2
    as an index-ordered list-comprehension fold (replicates Spark's
    zip_with + left aggregate); ties to the LOWEST centroid index via
    (dist, j) row_number; cluster sums over the ONCE-quantized int64
    vectors (order-independent, so plain sum() is exact); means back
    to doubles with the same two IEEE divisions; empty clusters keep
    the previous centroid (CASE on the LEFT-JOIN count, not coalesce
    -- list() over an all-NULL join row is [NULL], not NULL).
    """
    rng = f"range(1, {dim + 1})"
    dist = ("list_sum([(e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]) "
            f"for i in {rng}])")
    return f"""
WITH e AS (
  SELECT vec_id,
         embedding::DOUBLE[] AS v,
         [CAST(floor(x * {scale} + 0.5) AS BIGINT)
          for x in embedding::DOUBLE[]] AS q
  FROM embeddings
),
init AS (
  SELECT vec_id, v,
         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                            vec_id) - 1 AS j
  FROM e QUALIFY j < {k}
),
c0 AS (SELECT CAST(j AS INTEGER) AS j, v AS cv FROM init),
a1 AS (
  SELECT vec_id, j FROM (
    SELECT e.vec_id, c.j,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {dist}, c.j) AS rn
    FROM e, c0 c
  ) WHERE rn = 1
),
dims AS (SELECT CAST(unnest(range(1, {dim + 1})) AS INTEGER) AS i),
s1 AS (
  SELECT a1.j, d.i,
         CAST(sum(e.q[d.i]) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM a1 JOIN e USING (vec_id) CROSS JOIN dims d
  GROUP BY a1.j, d.i
),
c1 AS (
  SELECT c0.j,
         CASE WHEN count(s1.i) = 0 THEN c0.cv
              ELSE list((s1.s / CAST(s1.n AS DOUBLE)) / {scale}
                        ORDER BY s1.i)
         END AS cv
  FROM c0 LEFT JOIN s1 ON s1.j = c0.j
  GROUP BY c0.j, c0.cv
),
a2 AS (
  SELECT vec_id, j FROM (
    SELECT e.vec_id, c.j,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {dist}, c.j) AS rn
    FROM e, c1 c
  ) WHERE rn = 1
),
s2 AS (
  SELECT a2.j, d.i,
         CAST(sum(e.q[d.i]) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM a2 JOIN e USING (vec_id) CROSS JOIN dims d
  GROUP BY a2.j, d.i
),
c2 AS (
  SELECT c1.j, d.i,
         CASE WHEN s2.i IS NULL THEN c1.cv[d.i]
              ELSE (s2.s / CAST(s2.n AS DOUBLE)) / {scale}
         END AS c,
         CASE WHEN s2.i IS NULL THEN 0 ELSE s2.n END AS n
  FROM c1 CROSS JOIN dims d
  LEFT JOIN s2 ON s2.j = c1.j AND s2.i = d.i
)
SELECT j AS clabel, CAST(n AS BIGINT) AS n,
       CAST(i - 1 AS INTEGER) AS d, c
FROM c2
ORDER BY clabel, d
"""


@register("ml_kmeans_portable", oracle=_kmeans_oracle())
def ml_kmeans_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two distributed Lloyd's iterations over the embedding corpus,
    k=8, hash-checked end to end (init sample -> assignment -> exact
    integer cluster sums -> means -> reassignment -> means). Output is
    the fitted model long-form: (clabel, n, d, c). See
    operators/similarity.kmeans_portable_fit for the 100 TB notes
    (map-only assignment inside codegen, k x (dim+1) longs of shuffle
    payload per partition, k x dim driver state)."""
    from ..operators.similarity import kmeans_portable_fit

    emb = load(spark, sf_dir, "embeddings")
    return kmeans_portable_fit(
        emb, n_clusters=_KMEANS_K, iters=2, scale=_KMEANS_SCALE,
    ).orderBy("clabel", "d")


_LOGREG_LR = 0.5


_LOGREG_ORACLE = f"""
WITH d AS (
  SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
         n_chars / 500.0 AS x1,
         len(string_split(text, ' ')) / 100.0 AS x2
  FROM documents
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
ga AS (
  /* iteration 1: w = 0 -> margin = 0 -> p = 0.5 exactly */
  SELECT
    CAST(sum(CAST(floor((0.5 - y) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS s0,
    CAST(sum(CAST(floor((0.5 - y) * x1 * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS s1,
    CAST(sum(CAST(floor((0.5 - y) * x2 * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS s2
  FROM d
),
wa AS (
  SELECT 0 - {_LOGREG_LR} * ((ga.s0 / CAST(nn.n AS DOUBLE)) / 1e6) AS w0,
         0 - {_LOGREG_LR} * ((ga.s1 / CAST(nn.n AS DOUBLE)) / 1e6) AS w1,
         0 - {_LOGREG_LR} * ((ga.s2 / CAST(nn.n AS DOUBLE)) / 1e6) AS w2
  FROM ga, nn
),
pb AS (
  SELECT d.y, d.x1, d.x2,
         floor((1.0 / (1.0 + exp(-(wa.w0 + wa.w1 * d.x1 + wa.w2 * d.x2))))
               * 1e6 + 0.5) / 1e6 AS p
  FROM d, wa
),
gb AS (
  SELECT
    CAST(sum(CAST(floor((p - y) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS s0,
    CAST(sum(CAST(floor((p - y) * x1 * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS s1,
    CAST(sum(CAST(floor((p - y) * x2 * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS s2
  FROM pb
),
wb AS (
  SELECT wa.w0 - {_LOGREG_LR} * ((gb.s0 / CAST(nn.n AS DOUBLE)) / 1e6) AS w0,
         wa.w1 - {_LOGREG_LR} * ((gb.s1 / CAST(nn.n AS DOUBLE)) / 1e6) AS w1,
         wa.w2 - {_LOGREG_LR} * ((gb.s2 / CAST(nn.n AS DOUBLE)) / 1e6) AS w2
  FROM wa, gb, nn
),
acc AS (
  SELECT CAST(sum(CASE WHEN (wb.w0 + wb.w1 * d.x1 + wb.w2 * d.x2 > 0)
                            = (d.y = 1.0)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
  FROM d, wb
)
SELECT t.term,
       floor(t.w * 1e6 + 0.5) / 1e6 AS weight_s,
       nn.n AS n_rows, acc.n_correct
FROM (SELECT 'bias' AS term, w0 AS w FROM wb
      UNION ALL SELECT 'x_chars', w1 FROM wb
      UNION ALL SELECT 'x_tokens', w2 FROM wb) t, nn, acc
ORDER BY t.term
"""


@register("ml_logreg_portable", oracle=_LOGREG_ORACLE)
def ml_logreg_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two batch gradient-descent iterations of logistic regression
    (is-English from chars/tokens), distributed and hash-checked:
    the sigmoid is snapped to 1e-6 before the residual, per-row
    gradient contributions quantize to int64 and reduce exactly, the
    weight update replays the same two IEEE divisions in both
    engines. Output: the fitted weights plus training accuracy under
    the final weights.

    Scale: each iteration is one map-side-combined 3-sum aggregate
    over the scan (gradient payload = 3 longs per partition); driver
    state = 3 doubles per iteration, the same bounded-model-state
    contract as `kmeans_portable_fit`. The feature pass is
    recomputed per iteration from the scan (two iterations = two
    scans) -- at 100 TB you'd persist the projected feature columns,
    the same call the k-means trainer makes."""
    import math

    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        F.when(F.col("lang") == "en", F.lit(1.0)).otherwise(F.lit(0.0))
        .alias("y"),
        (F.col("n_chars") / 500.0).alias("x1"),
        (F.size(tokens("text")) / 100.0).alias("x2"),
    ).persist()
    try:
        n = d.count()
        w = [0.0, 0.0, 0.0]
        for it in range(2):
            margin = (F.lit(w[0]) + F.lit(w[1]) * F.col("x1")
                      + F.lit(w[2]) * F.col("x2"))
            p = _snap6(F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)))
            r = p - F.col("y")
            row = d.agg(
                F.sum(F.floor(r * 1e6 + F.lit(0.5)).cast("long")).alias("s0"),
                F.sum(F.floor(r * F.col("x1") * 1e6 + F.lit(0.5))
                      .cast("long")).alias("s1"),
                F.sum(F.floor(r * F.col("x2") * 1e6 + F.lit(0.5))
                      .cast("long")).alias("s2"),
            ).collect()[0]
            w = [w[k] - _LOGREG_LR * ((row[f"s{k}"] / n) / 1e6)
                 for k in range(3)]
        margin = (F.lit(w[0]) + F.lit(w[1]) * F.col("x1")
                  + F.lit(w[2]) * F.col("x2"))
        n_correct = d.filter(
            (margin > 0) == (F.col("y") == 1.0)
        ).count()
    finally:
        d.unpersist()

    rows = [
        ("bias", math.floor(w[0] * 1e6 + 0.5) / 1e6, n, n_correct),
        ("x_chars", math.floor(w[1] * 1e6 + 0.5) / 1e6, n, n_correct),
        ("x_tokens", math.floor(w[2] * 1e6 + 0.5) / 1e6, n, n_correct),
    ]
    return local_frame(
        spark, rows,
        "term string, weight_s double, n_rows bigint, n_correct bigint",
    ).orderBy("term")


_ABL_LR = 0.5


_ABLATION_ORACLE = f"""
WITH d AS (
  SELECT source,
         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
         n_chars / 500.0 AS x1,
         len(string_split(text, ' ')) / 100.0 AS x2
  FROM documents
),
g1 AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_s,
    CAST(sum(CAST(floor((0.5 - y) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS s0,
    CAST(sum(CAST(floor((0.5 - y) * x1 * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS s1,
    CAST(sum(CAST(floor((0.5 - y) * x2 * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS s2
  FROM d GROUP BY source
),
tot AS (
  SELECT CAST(sum(n_s) AS BIGINT) AS n,
         CAST(sum(s0) AS BIGINT) AS t0,
         CAST(sum(s1) AS BIGINT) AS t1,
         CAST(sum(s2) AS BIGINT) AS t2
  FROM g1
),
wa AS (
  SELECT g1.source,
         tot.n - g1.n_s AS n_m,
         0 - {_ABL_LR} * (((tot.t0 - g1.s0) / CAST(tot.n - g1.n_s AS DOUBLE)) / 1e6) AS w0,
         0 - {_ABL_LR} * (((tot.t1 - g1.s1) / CAST(tot.n - g1.n_s AS DOUBLE)) / 1e6) AS w1,
         0 - {_ABL_LR} * (((tot.t2 - g1.s2) / CAST(tot.n - g1.n_s AS DOUBLE)) / 1e6) AS w2
  FROM g1, tot WHERE tot.n - g1.n_s > 0
),
p2 AS (
  SELECT wa.source AS excl, wa.n_m, wa.w0, wa.w1, wa.w2, d.y, d.x1, d.x2,
         floor((1.0 / (1.0 + exp(-(wa.w0 + wa.w1 * d.x1 + wa.w2 * d.x2))))
               * 1e6 + 0.5) / 1e6 AS p
  FROM d JOIN wa ON d.source <> wa.source
),
g2 AS (
  SELECT excl, any_value(n_m) AS n_m,
         any_value(w0) AS w0, any_value(w1) AS w1, any_value(w2) AS w2,
    CAST(sum(CAST(floor((p - y) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS s0,
    CAST(sum(CAST(floor((p - y) * x1 * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS s1,
    CAST(sum(CAST(floor((p - y) * x2 * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS s2
  FROM p2 GROUP BY excl
),
wb AS (
  SELECT excl,
         w0 - {_ABL_LR} * ((s0 / CAST(n_m AS DOUBLE)) / 1e6) AS w0,
         w1 - {_ABL_LR} * ((s1 / CAST(n_m AS DOUBLE)) / 1e6) AS w1,
         w2 - {_ABL_LR} * ((s2 / CAST(n_m AS DOUBLE)) / 1e6) AS w2
  FROM g2
),
ev AS (
  SELECT wb.excl,
         CAST(count(*) AS BIGINT) AS n_holdout,
         CAST(sum(CASE WHEN (wb.w0 + wb.w1 * d.x1 + wb.w2 * d.x2 > 0)
                            = (d.y = 1.0) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct
  FROM d JOIN wb ON d.source = wb.excl
  GROUP BY wb.excl
)
SELECT wb.excl AS source,
       floor(wb.w0 * 1e6 + 0.5) / 1e6 AS w0_s,
       floor(wb.w1 * 1e6 + 0.5) / 1e6 AS w1_s,
       floor(wb.w2 * 1e6 + 0.5) / 1e6 AS w2_s,
       ev.n_holdout, ev.n_correct
FROM wb JOIN ev ON wb.excl = ev.excl
ORDER BY source
"""


@register("ml_source_ablation", oracle=_ABLATION_ORACLE)
def ml_source_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K leave-one-source-out logistic regressions trained in parallel
    (2 GD iterations each) and scored on their own held-out source;
    hash-checked end to end. See the module comment for why iteration
    1 collapses to one per-source aggregate and what fans out in
    iteration 2."""
    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        F.when(F.col("lang") == "en", F.lit(1.0)).otherwise(F.lit(0.0))
        .alias("y"),
        (F.col("n_chars") / 500.0).alias("x1"),
        (F.size(tokens("text")) / 100.0).alias("x2"),
    ).persist()
    try:
        def q(col):
            return F.floor(col * 1e6 + F.lit(0.5)).cast("long")

        g1 = d.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_s"),
            F.sum(q(F.lit(0.5) - F.col("y"))).alias("s0"),
            F.sum(q((F.lit(0.5) - F.col("y")) * F.col("x1"))).alias("s1"),
            F.sum(q((F.lit(0.5) - F.col("y")) * F.col("x2"))).alias("s2"),
        ).collect()
        n = sum(r["n_s"] for r in g1)
        t = [sum(r[f"s{j}"] for r in g1) for j in range(3)]
        models = []  # (source, n_m, w0, w1, w2) -- K x 3 doubles of state
        for r in g1:
            n_m = n - r["n_s"]
            if n_m <= 0:
                continue
            models.append((
                r["source"], n_m,
                *[-_ABL_LR * (((t[j] - r[f"s{j}"]) / n_m) / 1e6)
                  for j in range(3)],
            ))
        mdf = local_frame(
            spark, models,
            "excl string, n_m long, w0 double, w1 double, w2 double",
        )

        margin = (F.col("w0") + F.col("w1") * F.col("x1")
                  + F.col("w2") * F.col("x2"))
        p = _snap6(F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)))
        r_ = p - F.col("y")
        g2 = (
            d.join(F.broadcast(mdf), F.col("source") != F.col("excl"))
            .groupBy("excl")
            .agg(F.sum(q(r_)).alias("s0"),
                 F.sum(q(r_ * F.col("x1"))).alias("s1"),
                 F.sum(q(r_ * F.col("x2"))).alias("s2"))
            .collect()
        )
        by_src = {m[0]: m for m in models}
        final = []
        for row in g2:
            src, n_m, w0, w1, w2 = by_src[row["excl"]]
            w = [w0, w1, w2]
            final.append((src, *[w[j] - _ABL_LR * ((row[f"s{j}"] / n_m) / 1e6)
                                 for j in range(3)]))
        fdf = local_frame(
            spark, final, "excl string, w0 double, w1 double, w2 double"
        )

        ev = (
            d.join(F.broadcast(fdf), F.col("source") == F.col("excl"))
            .groupBy("excl")
            .agg(
                F.count(F.lit(1)).alias("n_holdout"),
                F.sum(F.when((margin > 0) == (F.col("y") == 1.0), 1)
                      .otherwise(0)).alias("n_correct"),
            )
        )
        out = (
            F.broadcast(fdf).join(ev, "excl")
            .select(
                F.col("excl").alias("source"),
                _snap6(F.col("w0")).alias("w0_s"),
                _snap6(F.col("w1")).alias("w1_s"),
                _snap6(F.col("w2")).alias("w2_s"),
                "n_holdout", "n_correct",
            )
            .orderBy("source")
        )
    finally:
        # the two gradient collects already consumed the cache; the
        # caller's action re-derives d (a map-only projection of the
        # scan) for the eval join, keeping the returned plan honest
        # (and plan-testable) instead of a checkpointed RDD scan
        d.unpersist()
    return out


_WINSOR_ORACLE = """
WITH c AS (
  SELECT o_orderpriority AS grp,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         o_orderkey AS k
  FROM orders
),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY grp ORDER BY cents, k) AS rn,
         count(*) OVER (PARTITION BY grp) AS n
  FROM c
),
b AS (
  SELECT grp,
         max(CASE WHEN rn = CAST(ceil(0.05 * n) AS BIGINT)
                  THEN cents END) AS lo_cents,
         max(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
                  THEN cents END) AS hi_cents
  FROM r GROUP BY grp
)
SELECT c.grp AS o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_rows,
       b.lo_cents, b.hi_cents,
       CAST(sum(least(greatest(c.cents, b.lo_cents), b.hi_cents))
            AS BIGINT) AS sum_winsorized
FROM c JOIN b ON c.grp = b.grp
GROUP BY c.grp, b.lo_cents, b.hi_cents
ORDER BY o_orderpriority
"""


@register("ml_winsorize_robust_mean", oracle=_WINSOR_ORACLE)
def ml_winsorize_robust_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-exact p05/p95 winsorized totals per order priority: the
    boundary table comes off one rank window, broadcasts back onto
    the scan, and the clamped sum is integer-cents exact."""
    orders = load(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    c = orders.select(
        F.col("o_orderpriority").alias("grp"),
        cents.alias("cents"),
        F.col("o_orderkey").alias("k"),
    )
    # o_orderpriority has 5 values: a per-priority rank window would
    # funnel a fifth of orders through one task's sort -- rank via
    # grouped_rank's checkpointed layout + broadcast bases instead.
    from ..operators.ranking import grouped_rank

    # o_orderpriority: fixed TPC-H enum (5 values) -- skip the probe.
    r = grouped_rank(c, ["grp"], ["cents", "k"], "rn", count_col="n",
                     known_group_count=8)
    b = (
        r.filter(
            (F.col("rn") == F.ceil(0.05 * F.col("n")))
            | (F.col("rn") == F.ceil(0.95 * F.col("n")))
        )
        .groupBy("grp")
        .agg(
            F.max(F.when(F.col("rn") == F.ceil(0.05 * F.col("n")),
                         F.col("cents"))).alias("lo_cents"),
            F.max(F.when(F.col("rn") == F.ceil(0.95 * F.col("n")),
                         F.col("cents"))).alias("hi_cents"),
        )
    )
    return (
        c.join(F.broadcast(b), "grp")
        .groupBy("grp", "lo_cents", "hi_cents")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.least(F.greatest(F.col("cents"), F.col("lo_cents")),
                          F.col("hi_cents"))).alias("sum_winsorized"),
        )
        .select(
            F.col("grp").alias("o_orderpriority"),
            "n_rows", "lo_cents", "hi_cents", "sum_winsorized",
        )
        .orderBy("o_orderpriority")
    )


_BT_ORACLE = """
WITH d AS (
  SELECT doc_id, source,
         floor(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) * 1e6 + 0.5) / 1e6 AS q
  FROM documents WHERE len(string_split(text, ' ')) > 0
),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b, a.q AS q_a, b.q AS q_b
  FROM d a JOIN d b ON b.doc_id = a.doc_id + 1 AND a.source <> b.source
),
games AS (
  SELECT CASE WHEN q_a > q_b THEN src_a
              WHEN q_b > q_a THEN src_b
              WHEN src_a < src_b THEN src_a ELSE src_b END AS winner,
         CASE WHEN q_a > q_b THEN src_b
              WHEN q_b > q_a THEN src_a
              WHEN src_a < src_b THEN src_b ELSE src_a END AS loser,
         CAST(count(*) AS BIGINT) AS n
  FROM pairs GROUP BY 1, 2
),
sym AS (
  SELECT i, j, CAST(sum(n) AS BIGINT) AS n_games,
         CAST(sum(w) AS BIGINT) AS wins_i
  FROM (
    SELECT winner AS i, loser AS j, n, n AS w FROM games
    UNION ALL
    SELECT loser AS i, winner AS j, n, 0 AS w FROM games
  ) GROUP BY i, j
),
wtot AS (
  SELECT i AS source, CAST(sum(wins_i) AS BIGINT) AS wins,
         CAST(sum(n_games) AS BIGINT) AS games
  FROM sym GROUP BY i
),
p1 AS (  /* iteration 1: p = 1 everywhere -> p_i + p_j = 2.0 */
  SELECT s.i AS source,
         greatest(
           floor(CAST(w.wins AS DOUBLE)
                 / (CAST(sum(CAST(floor(s.n_games / 2.0 * 1e6 + 0.5)
                                  AS BIGINT)) AS BIGINT) / 1e6)
                 * 1e6 + 0.5) / 1e6,
           0.000001) AS p
  FROM sym s JOIN wtot w ON w.source = s.i
  GROUP BY s.i, w.wins
),
p2 AS (
  SELECT s.i AS source,
         greatest(
           floor(CAST(w.wins AS DOUBLE)
                 / (CAST(sum(CAST(floor(s.n_games / (pi.p + pj.p)
                                        * 1e6 + 0.5)
                                  AS BIGINT)) AS BIGINT) / 1e6)
                 * 1e6 + 0.5) / 1e6,
           0.000001) AS p
  FROM sym s
  JOIN p1 pi ON pi.source = s.i
  JOIN p1 pj ON pj.source = s.j
  JOIN wtot w ON w.source = s.i
  GROUP BY s.i, w.wins
),
pq AS (
  SELECT source, CAST(floor(p * 1e6 + 0.5) AS BIGINT) AS p_q FROM p2
),
tot AS (SELECT CAST(sum(p_q) AS BIGINT) AS t FROM pq)
SELECT w.source,
       floor(CAST(pq.p_q AS DOUBLE) / CAST(tot.t AS DOUBLE) * 1e6 + 0.5)
         / 1e6 AS rating_s,
       w.wins, w.games
FROM pq JOIN wtot w ON w.source = pq.source, tot
ORDER BY w.source
"""


@register("ml_bradley_terry_portable", oracle=_BT_ORACLE)
def ml_bradley_terry_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level Bradley-Terry strengths from synthesized pairwise
    preferences, two quantized MM iterations, ratings normalized to
    sum 1. Hash-checked against a full SQL replica of the identical
    arithmetic."""
    docs = load(spark, sf_dir, "documents")
    # tokenize once; both the ratio and the guard reuse the array.
    # spread_input: the tokenize+distinct map pass is the corpus-wide
    # cost -- never leave it on a single-file partition.
    d = (
        spread_input(docs)
        .select("doc_id", "source", tokens(F.col("text")).alias("toks"))
        .filter(F.size("toks") > 0)
        .select(
            "doc_id", "source",
            _snap6(
                F.size(F.array_distinct("toks")).cast("double")
                / F.size("toks")
            ).alias("q"),
        )
    )

    a = d.alias("a")
    b = d.alias("b")
    pairs = a.join(
        b,
        (F.col("b.doc_id") == F.col("a.doc_id") + 1)
        & (F.col("a.source") != F.col("b.source")),
    ).select(
        F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"),
        F.col("a.q").alias("q_a"), F.col("b.q").alias("q_b"),
    )

    a_wins = (F.col("q_a") > F.col("q_b")) | (
        (F.col("q_a") == F.col("q_b")) & (F.col("src_a") < F.col("src_b"))
    )
    games = (
        pairs.select(
            F.when(a_wins, F.col("src_a")).otherwise(F.col("src_b"))
            .alias("winner"),
            F.when(a_wins, F.col("src_b")).otherwise(F.col("src_a"))
            .alias("loser"),
        )
        .groupBy("winner", "loser")
        .agg(F.count(F.lit(1)).alias("n"))
    )

    # symmetric per-(i, opponent) game counts + i's wins vs that
    # opponent. localCheckpoint: this is the BOUNDED model state
    # (<= |sources|^2 rows) every MM iteration re-reads -- without it
    # each of the ~5 downstream references replays the corpus-wide
    # pair synthesis (measured 6.5 -> 5.0 s cold / 1.9 s warm, sf0.1).
    sym = (
        games.select(
            F.col("winner").alias("i"), F.col("loser").alias("j"),
            F.col("n"), F.col("n").alias("w"))
        .unionByName(games.select(
            F.col("loser").alias("i"), F.col("winner").alias("j"),
            F.col("n"), F.lit(0).cast("long").alias("w")))
        .groupBy("i", "j")
        .agg(F.sum("n").alias("n_games"), F.sum("w").alias("wins_i"))
        .localCheckpoint(eager=True)
    )
    wtot = sym.groupBy(F.col("i").alias("source")).agg(
        F.sum("wins_i").alias("wins"), F.sum("n_games").alias("games")
    )

    def mm_step(ratings: DataFrame | None) -> DataFrame:
        """One quantized MM update; ratings=None means the all-ones
        start (p_i + p_j folds to the literal 2.0)."""
        if ratings is None:
            joined = sym.withColumn("psum", F.lit(2.0))
        else:
            # ratings is |sources| rows: broadcast explicitly -- the
            # checkpointed model state carries no stats, so without
            # the hint these degrade to sort-merge joins
            joined = (
                sym.join(F.broadcast(ratings.select(
                    F.col("source").alias("i"), F.col("p").alias("p_i"))),
                    "i")
                .join(F.broadcast(ratings.select(
                    F.col("source").alias("j"), F.col("p").alias("p_j"))),
                    "j")
                .withColumn("psum", F.col("p_i") + F.col("p_j"))
            )
        denom = (
            joined
            .withColumn("t_q", _q6(F.col("n_games") / F.col("psum")))
            .groupBy(F.col("i").alias("source"))
            .agg(F.sum("t_q").alias("denom_q"))
        )
        return denom.join(F.broadcast(wtot), "source").select(
            "source",
            F.greatest(
                _snap6(F.col("wins").cast("double")
                       / (F.col("denom_q") / 1e6)),
                F.lit(0.000001),
            ).alias("p"),
        )

    p2 = mm_step(mm_step(None))
    pq = p2.select("source", _q6(F.col("p")).alias("p_q"))
    tot = pq.agg(F.sum("p_q").alias("t"))
    return (
        pq.crossJoin(F.broadcast(tot))
        .join(F.broadcast(wtot), "source")
        .select(
            "source",
            _snap6(F.col("p_q").cast("double") / F.col("t").cast("double"))
            .alias("rating_s"),
            "wins", "games",
        )
        .orderBy("source")
    )


_FLEISS_ORACLE = """
WITH votes AS (
  SELECT d.doc_id,
         CASE WHEN (CAST('0x' || substr(
                      md5(CAST(d.doc_id AS VARCHAR) || ':'
                          || CAST(k.k AS VARCHAR)), 1, 6) AS BIGINT) % 100)
                   < 10 * (k.k + 1)
              THEN 1 - t.y ELSE t.y END AS v
  FROM documents d,
       (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y, doc_id
        FROM documents) t,
       (SELECT unnest([0, 1, 2]) AS k) k
  WHERE t.doc_id = d.doc_id
),
per_doc AS (
  SELECT doc_id, CAST(sum(v) AS BIGINT) AS n_en,
         CAST(3 - sum(v) AS BIGINT) AS n_ot
  FROM votes GROUP BY doc_id
),
scored AS (
  SELECT doc_id,
         CASE WHEN n_en >= 2 THEN 'en' ELSE 'other' END AS label,
         CASE WHEN n_en = 0 OR n_en = 3 THEN 1 ELSE 0 END AS unanimous,
         n_en * (n_en - 1) + n_ot * (n_ot - 1) AS pi_num, n_en
  FROM per_doc
),
corpus AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs_t,
         CAST(sum(pi_num) AS BIGINT) AS pi_sum,
         CAST(sum(n_en) AS BIGINT) AS en_votes
  FROM scored
),
kap AS (
  SELECT floor(
    ((pi_sum / (CAST(n_docs_t AS DOUBLE) * 6.0))
     - ((en_votes / (CAST(n_docs_t AS DOUBLE) * 3.0))
        * (en_votes / (CAST(n_docs_t AS DOUBLE) * 3.0))
        + (1.0 - en_votes / (CAST(n_docs_t AS DOUBLE) * 3.0))
          * (1.0 - en_votes / (CAST(n_docs_t AS DOUBLE) * 3.0))))
    / (1.0 - ((en_votes / (CAST(n_docs_t AS DOUBLE) * 3.0))
              * (en_votes / (CAST(n_docs_t AS DOUBLE) * 3.0))
              + (1.0 - en_votes / (CAST(n_docs_t AS DOUBLE) * 3.0))
                * (1.0 - en_votes / (CAST(n_docs_t AS DOUBLE) * 3.0))))
    * 1e6 + 0.5) / 1e6 AS kappa_s
  FROM corpus
)
SELECT s.label, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(s.unanimous) AS BIGINT) AS n_unanimous,
       floor(CAST(sum(s.pi_num) AS BIGINT)
             / (CAST(count(*) AS DOUBLE) * 6.0) * 1e6 + 0.5) / 1e6
         AS mean_agreement_s,
       kap.kappa_s
FROM scored s, kap
GROUP BY s.label, kap.kappa_s
ORDER BY s.label
"""


@register("label_fleiss_consolidation", oracle=_FLEISS_ORACLE)
def label_fleiss_consolidation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority-vote consolidation of three simulated annotators plus
    corpus Fleiss' kappa, all from exact integer vote counts."""
    docs = load(spark, sf_dir, "documents")
    truth = F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0))
    votes = (
        docs.select("doc_id", truth.alias("y"))
        .select("doc_id", "y",
                F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("k"))
        .select(
            "doc_id",
            F.when(
                md5_bucket(
                    F.concat_ws(
                        ":", F.col("doc_id").cast("string"),
                        F.col("k").cast("string")), 100)
                < 10 * (F.col("k") + 1),
                1 - F.col("y"),
            ).otherwise(F.col("y")).alias("v"),
        )
    )
    per_doc = votes.groupBy("doc_id").agg(
        F.sum("v").cast("long").alias("n_en"),
        (F.lit(3) - F.sum("v")).cast("long").alias("n_ot"),
    )
    scored = per_doc.select(
        "doc_id",
        F.when(F.col("n_en") >= 2, F.lit("en")).otherwise(F.lit("other"))
        .alias("label"),
        F.when(F.col("n_en").isin(0, 3), F.lit(1)).otherwise(F.lit(0))
        .alias("unanimous"),
        (F.col("n_en") * (F.col("n_en") - 1)
         + F.col("n_ot") * (F.col("n_ot") - 1)).alias("pi_num"),
        "n_en",
    )
    corpus = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_t"),
        F.sum("pi_num").cast("long").alias("pi_sum"),
        F.sum("n_en").cast("long").alias("en_votes"),
    )
    p_en = F.col("en_votes") / (F.col("n_docs_t").cast("double") * 3.0)
    p_e = p_en * p_en + (1.0 - p_en) * (1.0 - p_en)
    p_bar = F.col("pi_sum") / (F.col("n_docs_t").cast("double") * 6.0)
    kap = corpus.select(_snap6((p_bar - p_e) / (1.0 - p_e)).alias("kappa_s"))
    return (
        scored.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("unanimous").cast("long").alias("n_unanimous"),
            _snap6(F.sum("pi_num").cast("long")
                   / (F.count(F.lit(1)).cast("double") * 6.0))
            .alias("mean_agreement_s"),
        )
        .crossJoin(F.broadcast(kap))
        .orderBy("label")
    )


_AUC_ORACLE = """
WITH scored AS (
  SELECT n_chars AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
),
by_score AS (
  SELECT score, CAST(sum(y) AS BIGINT) AS p_s,
         CAST(count(*) - sum(y) AS BIGINT) AS n_s
  FROM scored GROUP BY score
),
cum AS (
  SELECT p_s, n_s,
         CAST(coalesce(sum(n_s) OVER (
           ORDER BY score
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         AS BIGINT) AS cumneg_below
  FROM by_score
),
tot AS (
  SELECT CAST(sum(p_s) AS BIGINT) AS pos,
         CAST(sum(n_s) AS BIGINT) AS neg,
         CAST(sum(p_s * (2 * cumneg_below + n_s)) AS BIGINT) AS num2
  FROM cum
)
SELECT pos AS n_pos, neg AS n_neg,
       floor(CAST(num2 AS DOUBLE) / (2.0 * pos * neg) * 1e6 + 0.5) / 1e6
         AS auc_s,
       floor((CAST(num2 AS DOUBLE) / (2.0 * pos * neg) * 2.0 - 1.0)
             * 1e6 + 0.5) / 1e6 AS gini_s
FROM tot
"""


@register("ml_auc_exact", oracle=_AUC_ORACLE)
def ml_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC (+ Gini) of document length predicting the 'en'
    label, via the grouped integer rank statistic."""
    docs = load(spark, sf_dir, "documents")
    by_score = (
        docs.select(
            F.col("n_chars").alias("score"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        )
        .groupBy("score")
        .agg(
            F.sum("y").cast("long").alias("p_s"),
            (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("n_s"),
        )
    )
    # ordered cumulative over the DISTINCT-SCORE table only: a single
    # unpartitioned window, but over a bounded (quantized-score) row
    # count, never the corpus
    w = W.orderBy("score").rowsBetween(W.unboundedPreceding, -1)
    cum = by_score.withColumn(
        "cumneg_below", F.coalesce(F.sum("n_s").over(w), F.lit(0)).cast("long")
    )
    tot = cum.agg(
        F.sum("p_s").cast("long").alias("pos"),
        F.sum("n_s").cast("long").alias("neg"),
        F.sum(F.col("p_s") * (2 * F.col("cumneg_below") + F.col("n_s")))
        .cast("long").alias("num2"),
    )
    auc = F.col("num2").cast("double") / (2.0 * F.col("pos") * F.col("neg"))
    return tot.select(
        F.col("pos").alias("n_pos"), F.col("neg").alias("n_neg"),
        _snap6(auc).alias("auc_s"),
        _snap6(auc * 2.0 - 1.0).alias("gini_s"),
    )


_GRPO_ORACLE = """
WITH e AS (
  SELECT event_id, user_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS r
  FROM events
),
g AS (
  SELECT event_id, user_id, r,
         CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
         CAST(sum(r) OVER (PARTITION BY user_id) AS BIGINT) AS s,
         CAST(sum(r * r) OVER (PARTITION BY user_id) AS BIGINT) AS q
  FROM e
)
SELECT event_id, user_id,
       CASE WHEN n * q - s * s <= 0 THEN 0.0
            ELSE floor((CAST(r * n - s AS DOUBLE)
                        / sqrt(CAST(n * q - s * s AS DOUBLE)))
                       * 1e6 + 0.5) / 1e6
       END AS reward_z_s
FROM g
ORDER BY event_id
"""


@register("ml_reward_group_normalize", oracle=_GRPO_ORACLE)
def ml_reward_group_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-relative (per-user) reward z-scores from integer-cents
    sums; one window exchange, degenerate groups to 0.0."""
    ev = load(spark, sf_dir, "events")
    e = ev.select(
        "event_id", "user_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("r"),
    )
    w = W.partitionBy("user_id")
    g = e.select(
        "event_id", "user_id", "r",
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
        F.sum("r").over(w).cast("long").alias("s"),
        F.sum(F.col("r") * F.col("r")).over(w).cast("long").alias("q"),
    )
    var_num = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    z = (F.col("r") * F.col("n") - F.col("s")).cast("double") / F.sqrt(
        var_num.cast("double"))
    return g.select(
        "event_id", "user_id",
        F.when(var_num <= 0, F.lit(0.0)).otherwise(_snap6(z))
        .alias("reward_z_s"),
    ).orderBy("event_id")


_ESS_ORACLE = """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_w,
       floor(CAST(sum(n_chars) AS DOUBLE) * CAST(sum(n_chars) AS DOUBLE)
             / CAST(sum(n_chars * n_chars) AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS ess_s,
       floor(CAST(sum(n_chars) AS DOUBLE) * CAST(sum(n_chars) AS DOUBLE)
             / CAST(sum(n_chars * n_chars) AS DOUBLE) / count(*)
             * 1e6 + 0.5) / 1e6 AS ess_ratio_s
FROM documents
GROUP BY source
ORDER BY source
"""


@register("ml_effective_sample_size", oracle=_ESS_ORACLE)
def ml_effective_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source importance-weight ESS and ESS/n from exact integer
    weight sums (weight = n_chars)."""
    docs = load(spark, sf_dir, "documents")
    sw = F.sum("n_chars").cast("long")
    swsq = F.sum(F.col("n_chars") * F.col("n_chars")).cast("long")
    ess = sw.cast("double") * sw.cast("double") / swsq.cast("double")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            sw.alias("sum_w"),
            _snap6(ess).alias("ess_s"),
            _snap6(ess / F.count(F.lit(1))).alias("ess_ratio_s"),
        )
        .orderBy("source")
    )


_MI_ORACLE = """
WITH j AS (
  SELECT CAST(floor(n_chars / 100.0) AS BIGINT) AS x, lang AS y,
         CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2
),
mx AS (SELECT x, CAST(sum(c) AS BIGINT) AS cx FROM j GROUP BY x),
my AS (SELECT y, CAST(sum(c) AS BIGINT) AS cy FROM j GROUP BY y),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM j),
mi AS (
  SELECT CAST(sum(CAST(floor(
           (CAST(j.c AS DOUBLE) / tot.n)
           * ln((CAST(j.c AS DOUBLE) / tot.n)
                / ((CAST(mx.cx AS DOUBLE) / tot.n)
                   * (CAST(my.cy AS DOUBLE) / tot.n)))
           * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS mi_q
  FROM j JOIN mx USING (x) JOIN my USING (y), tot
),
hx AS (
  SELECT CAST(sum(CAST(floor(
           -(CAST(cx AS DOUBLE) / tot.n) * ln(CAST(cx AS DOUBLE) / tot.n)
           * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS hx_q
  FROM mx, tot
),
hy AS (
  SELECT CAST(sum(CAST(floor(
           -(CAST(cy AS DOUBLE) / tot.n) * ln(CAST(cy AS DOUBLE) / tot.n)
           * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS hy_q
  FROM my, tot
)
SELECT tot.n,
       CAST(mi.mi_q AS DOUBLE) / 1e6 AS mi_s,
       CAST(hx.hx_q AS DOUBLE) / 1e6 AS h_band_s,
       CAST(hy.hy_q AS DOUBLE) / 1e6 AS h_lang_s,
       floor((CAST(mi.mi_q AS DOUBLE) / 1e6)
             / sqrt((CAST(hx.hx_q AS DOUBLE) / 1e6)
                    * (CAST(hy.hy_q AS DOUBLE) / 1e6))
             * 1e6 + 0.5) / 1e6 AS nmi_s
FROM mi, hx, hy, tot
"""


@register("ml_mutual_information", oracle=_MI_ORACLE)
def ml_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MI, marginal entropies, and normalized MI between the length
    band and the language, via quantized exact-count reduces."""
    docs = load(spark, sf_dir, "documents")
    j = (
        docs.select(
            F.floor(F.col("n_chars") / 100.0).cast("long").alias("x"),
            F.col("lang").alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    mx = j.groupBy("x").agg(F.sum("c").cast("long").alias("cx"))
    my = j.groupBy("y").agg(F.sum("c").cast("long").alias("cy"))
    tot = j.agg(F.sum("c").cast("long").alias("n"))

    p_xy = F.col("c").cast("double") / F.col("n")
    p_x = F.col("cx").cast("double") / F.col("n")
    p_y = F.col("cy").cast("double") / F.col("n")
    mi = (
        j.join(F.broadcast(mx), "x").join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(tot))
        .agg(F.sum(_q6(p_xy * F.log(p_xy / (p_x * p_y))))
             .cast("long").alias("mi_q"))
    )
    hx = (
        mx.crossJoin(F.broadcast(tot))
        .agg(F.sum(_q6(-p_x * F.log(p_x))).cast("long").alias("hx_q"))
    )
    hy = (
        my.crossJoin(F.broadcast(tot))
        .agg(F.sum(_q6(-p_y * F.log(p_y))).cast("long").alias("hy_q"))
    )
    mi_s = F.col("mi_q").cast("double") / 1e6
    hx_s = F.col("hx_q").cast("double") / 1e6
    hy_s = F.col("hy_q").cast("double") / 1e6
    return (
        tot.crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .select(
            "n",
            mi_s.alias("mi_s"),
            hx_s.alias("h_band_s"),
            hy_s.alias("h_lang_s"),
            _snap6(mi_s / F.sqrt(hx_s * hy_s)).alias("nmi_s"),
        )
    )


_AUPRC_ORACLE = """
WITH by_score AS (
  SELECT n_chars AS score,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
           AS p_s,
         CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT)
           AS n_s
  FROM documents GROUP BY n_chars
),
cum AS (
  SELECT p_s, n_s,
         CAST(sum(p_s) OVER w AS BIGINT) AS tp,
         CAST(sum(n_s) OVER w AS BIGINT) AS fp
  FROM by_score
  WINDOW w AS (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
tot AS (SELECT CAST(sum(p_s) AS BIGINT) AS pos,
               CAST(sum(n_s) AS BIGINT) AS neg FROM by_score),
terms AS (
  SELECT CAST(sum(CAST(floor(
           (CAST(p_s AS DOUBLE) / tot.pos)
           * (CAST(tp AS DOUBLE) / (tp + fp)) * 1e9 + 0.5)
         AS BIGINT)) AS BIGINT) AS ap_q
  FROM cum, tot WHERE p_s > 0
)
SELECT tot.pos AS n_pos, tot.neg AS n_neg,
       floor(CAST(terms.ap_q AS DOUBLE) / 1e9 * 1e6 + 0.5) / 1e6
         AS auprc_s,
       floor(CAST(tot.pos AS DOUBLE) / (tot.pos + tot.neg) * 1e6 + 0.5)
         / 1e6 AS baseline_s,
       floor((CAST(terms.ap_q AS DOUBLE) / 1e9)
             / (CAST(tot.pos AS DOUBLE) / (tot.pos + tot.neg))
             * 1e6 + 0.5) / 1e6 AS lift_s
FROM terms, tot
"""


@register("ml_auprc_exact", oracle=_AUPRC_ORACLE)
def ml_auprc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact average precision of document length predicting 'en',
    via the grouped descending-cumulative pass."""
    docs = load(spark, sf_dir, "documents")
    by_score = (
        docs.select(
            F.col("n_chars").alias("score"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        )
        .groupBy("score")
        .agg(
            F.sum("y").cast("long").alias("p_s"),
            (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("n_s"),
        )
        .localCheckpoint(eager=True)  # cum pass + totals reuse
    )
    w = W.orderBy(F.col("score").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow)
    cum = by_score.select(
        "p_s", "n_s",
        F.sum("p_s").over(w).cast("long").alias("tp"),
        F.sum("n_s").over(w).cast("long").alias("fp"),
    )
    tot = by_score.agg(F.sum("p_s").cast("long").alias("pos"),
                       F.sum("n_s").cast("long").alias("neg"))
    # 1e-9 quantum: per-term products of two sub-1 ratios need the
    # extra headroom before the final 1e-6 snap
    terms = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("p_s") > 0)
        .agg(F.sum(
            F.floor((F.col("p_s").cast("double") / F.col("pos"))
                    * (F.col("tp").cast("double")
                       / (F.col("tp") + F.col("fp"))) * 1e9 + F.lit(0.5))
            .cast("long")).cast("long").alias("ap_q"))
    )
    ap = F.col("ap_q").cast("double") / 1e9
    base = F.col("pos").cast("double") / (F.col("pos") + F.col("neg"))
    return (
        tot.crossJoin(F.broadcast(terms))
        .select(
            F.col("pos").alias("n_pos"), F.col("neg").alias("n_neg"),
            _snap6(ap).alias("auprc_s"),
            _snap6(base).alias("baseline_s"),
            _snap6(ap / base).alias("lift_s"),
        )
    )


_ECE_ORACLE = """
WITH m AS (
  SELECT CAST(floor(CAST(sum(n_chars) AS DOUBLE) / count(*) * 1e6 + 0.5)
              AS BIGINT) AS mean_q,
         floor(sqrt((sum(CAST(n_chars AS DOUBLE) * n_chars)
                     - CAST(sum(n_chars) AS DOUBLE) * sum(n_chars)
                       / count(*)) / count(*)) * 1e6 + 0.5) / 1e6 AS std_s
  FROM documents
),
scored AS (
  SELECT CAST(floor(1.0 / (1.0 + exp(-((n_chars - mean_q / 1e6)
                                       / std_s))) * 1e6 + 0.5) AS BIGINT)
           AS p_q,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents, m
),
bins AS (
  SELECT least(CAST(floor(p_q / 100000.0) AS BIGINT), 9) AS bin,
         CAST(count(*) AS BIGINT) AS n_b,
         CAST(sum(p_q) AS BIGINT) AS sum_pq,
         CAST(sum(y) AS BIGINT) AS n_pos
  FROM scored GROUP BY 1
),
tot AS (SELECT CAST(sum(n_b) AS BIGINT) AS n FROM bins),
rel AS (
  SELECT bin, n_b, n_pos,
         floor(CAST(sum_pq AS DOUBLE) / n_b + 0.5) / 1e6 AS conf_s,
         floor(CAST(n_pos AS DOUBLE) / n_b * 1e6 + 0.5) / 1e6 AS acc_s
  FROM bins
),
ece AS (
  SELECT floor(CAST(sum(CAST(floor(n_b * abs(acc_s - conf_s) * 1e6 + 0.5)
                            AS BIGINT)) AS BIGINT) / 1e6
               / tot.n * 1e6 + 0.5) / 1e6 AS ece_s
  FROM rel, tot GROUP BY tot.n
)
SELECT bin, n_b, n_pos, conf_s, acc_s,
       floor(abs(acc_s - conf_s) * 1e6 + 0.5) / 1e6 AS gap_s,
       ece.ece_s
FROM rel, ece
ORDER BY bin
"""


@register("ml_expected_calibration_error", oracle=_ECE_ORACLE)
def ml_expected_calibration_error(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """10-bin reliability table + ECE for the logistic length score
    predicting 'en'."""
    docs = load(spark, sf_dir, "documents")
    m = docs.agg(
        F.floor(F.sum("n_chars").cast("double") / F.count(F.lit(1)) * 1e6
                + F.lit(0.5)).cast("long").alias("mean_q"),
        _snap6(F.sqrt(
            (F.sum(F.col("n_chars").cast("double") * F.col("n_chars"))
             - F.sum("n_chars").cast("double") * F.sum("n_chars")
               / F.count(F.lit(1))) / F.count(F.lit(1)))).alias("std_s"),
    )
    z = (F.col("n_chars") - F.col("mean_q") / 1e6) / F.col("std_s")
    p_q = F.floor(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)) * 1e6
                  + F.lit(0.5)).cast("long")
    scored = (
        docs.crossJoin(F.broadcast(m))
        .select(
            p_q.alias("p_q"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        )
    )
    bins = (
        scored.groupBy(F.least(F.floor(F.col("p_q") / 100000), F.lit(9))
                       .cast("long").alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_b"),
            F.sum("p_q").cast("long").alias("sum_pq"),
            F.sum("y").cast("long").alias("n_pos"),
        )
        .localCheckpoint(eager=True)  # reliability rows + ECE reuse
    )
    tot = bins.agg(F.sum("n_b").cast("long").alias("n"))
    rel = bins.select(
        "bin", "n_b", "n_pos",
        (F.floor(F.col("sum_pq").cast("double") / F.col("n_b")
                 + F.lit(0.5)) / 1e6).alias("conf_s"),
        _snap6(F.col("n_pos").cast("double") / F.col("n_b"))
        .alias("acc_s"),
    )
    # per-term int64 quantization before the sum: the 10-row reduce
    # must be order-independent like every other portable reduce here
    ece = (
        rel.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(F.sum(_q6(F.col("n_b")
                       * F.abs(F.col("acc_s") - F.col("conf_s"))))
             .cast("long").alias("gap_q"))
        .select(_snap6(F.col("gap_q").cast("double") / 1e6 / F.col("n"))
                .alias("ece_s"))
    )
    return (
        rel.crossJoin(F.broadcast(ece))
        .select("bin", "n_b", "n_pos", "conf_s", "acc_s",
                _snap6(F.abs(F.col("acc_s") - F.col("conf_s")))
                .alias("gap_s"),
                "ece_s")
        .orderBy("bin")
    )


_PCA_DIM = 64


def _pca_oracle(dim: int = _PCA_DIM) -> str:
    """Full SQL replica: centering, covariance, 4 matvecs, 2-norm
    normalizations, Rayleigh eigenvalue, explained ratio."""

    def matvec(w: str, v: str) -> str:
        return f"""
{w} AS (
  SELECT c.i,
         CAST(sum(CAST(floor(c.cov_s * {v}.val * 1e6 + 0.5) AS BIGINT))
              AS BIGINT) AS wq
  FROM cov c JOIN {v} ON {v}.i = c.j GROUP BY c.i
)"""

    def normalize(v: str, w: str, prev: str) -> str:
        # nq = 0 (all |C.v| products under the quantum, e.g. identical
        # embeddings): keep the previous vector instead of dividing by
        # a zero norm -- mirrored by the driver loop's early return.
        return f"""
{v}_n AS (
  SELECT CAST(sum(CAST(floor((wq / 1e6) * (wq / 1e6) * 1e6 + 0.5)
                       AS BIGINT)) AS BIGINT) AS nq
  FROM {w}
),
{v} AS (
  SELECT w.i,
         CASE WHEN n.nq = 0 THEN p.val
              ELSE floor((w.wq / 1e6)
                         / (floor(sqrt(n.nq / 1e6) * 1e6 + 0.5) / 1e6)
                         * 1e6 + 0.5) / 1e6 END AS val
  FROM {w} w JOIN {prev} p USING (i), {v}_n n
)"""

    return f"""
WITH dims AS (SELECT CAST(unnest(range(1, {dim + 1})) AS INTEGER) AS i),
e AS (
  SELECT vec_id,
         [CAST(floor(x * 1e6 + 0.5) AS BIGINT)
          for x in embedding::DOUBLE[]] AS q
  FROM embeddings
),
x AS (
  SELECT e.vec_id, d.i, e.q[d.i] AS q FROM e CROSS JOIN dims d
),
nv AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
mu AS (
  SELECT i, CAST(sum(q) AS BIGINT) AS sq FROM x GROUP BY i
),
cx AS (
  SELECT x.vec_id, x.i,
         x.q / 1e6 - (mu.sq / CAST(nv.n AS DOUBLE)) / 1e6 AS c
  FROM x JOIN mu USING (i), nv
),
cov AS (
  SELECT a.i AS i, b.i AS j,
         floor(CAST(sum(CAST(floor(a.c * b.c * 1e6 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e6 / nv.n * 1e6 + 0.5) / 1e6 AS cov_s
  FROM cx a JOIN cx b USING (vec_id), nv
  GROUP BY a.i, b.i, nv.n
),
v0 AS (SELECT i, 0.125 AS val FROM dims),
{matvec('w1', 'v0')},
{normalize('v1', 'w1', 'v0')},
{matvec('w2', 'v1')},
{normalize('v2', 'w2', 'v1')},
{matvec('w3', 'v2')},
{normalize('v3', 'w3', 'v2')},
{matvec('w4', 'v3')},
lam AS (
  SELECT CAST(sum(CAST(floor(v3.val * (w4.wq / 1e6) * 1e6 + 0.5)
                       AS BIGINT)) AS BIGINT) AS lq
  FROM v3 JOIN w4 USING (i)
),
tr AS (
  SELECT CAST(sum(CAST(floor(cov_s * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
           AS tq
  FROM cov WHERE i = j
)
SELECT CAST(v3.i - 1 AS BIGINT) AS d, v3.val AS loading_s,
       CAST(lam.lq AS DOUBLE) / 1e6 AS lambda_s,
       floor((CAST(lam.lq AS DOUBLE) / 1e6)
             / nullif(CAST(tr.tq AS DOUBLE) / 1e6, 0) * 1e6 + 0.5) / 1e6
         AS explained_s
FROM v3, lam, tr
ORDER BY d
"""


@register("ml_pca_power_portable", oracle=_pca_oracle())
def ml_pca_power_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embeddings: distributed exact
    covariance + four snapped power-iteration matvecs, fully oracled.

    The matrix iteration runs driver-side over the collected 4096-cell
    covariance (bounded model state, like the k-means centroids);
    every float op mirrors the SQL replica's quantized arithmetic.
    """
    from ..operators.quantize import quantized_covariance

    emb = load(spark, sf_dir, "embeddings")
    cov_rows = quantized_covariance(emb, "vec_id", "embedding").collect()
    dim = _PCA_DIM
    cov = [[0.0] * dim for _ in range(dim)]
    for r in cov_rows:
        cov[r["i"] - 1][r["j"] - 1] = r["cov_s"]

    # driver-side iteration, mirroring the SQL replica op for op
    def matvec(v):
        return [sum(_q6f(cov[i][j] * v[j]) for j in range(dim))
                for i in range(dim)]

    def normalize(wq, v_prev):
        # zero norm (all |C.v| products under the quantum): keep the
        # previous vector -- mirrors the oracle's CASE nq = 0 branch
        nq = sum(_q6f((w / 1e6) * (w / 1e6)) for w in wq)
        if nq == 0:
            return v_prev
        norm_s = _q6f(math.sqrt(nq / 1e6)) / 1e6
        return [_q6f((w / 1e6) / norm_s) / 1e6 for w in wq]

    v = [0.125] * dim
    for _ in range(3):
        v = normalize(matvec(v), v)
    w4 = matvec(v)
    lam_s = sum(_q6f(v[i] * (w4[i] / 1e6)) for i in range(dim)) / 1e6
    tr_q = sum(_q6f(cov[i][i]) for i in range(dim))
    explained_s = (None if tr_q == 0
                   else math.floor(lam_s / (tr_q / 1e6) * 1e6 + 0.5) / 1e6)
    return local_frame(
        spark, [(i, v[i], lam_s, explained_s) for i in range(dim)],
        "d long, loading_s double, lambda_s double, explained_s double",
    )


_NDCG_K = 10


_NDCG_NQ = 20


_NDCG_ORACLE = f"""
WITH ranked AS (
  SELECT query_id, neighbor_id, rel, rank FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           CASE WHEN a.label = b.label THEN 1 ELSE 0 END AS rel,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY round({_COS}, 6) DESC, b.vec_id)
             AS rank
    FROM embeddings a
    JOIN embeddings b ON a.vec_id <> b.vec_id
    WHERE a.vec_id < {_NDCG_NQ}
  ) WHERE rank <= {_NDCG_K}
),
ideal AS (
  SELECT query_id, rank,
         row_number() OVER (PARTITION BY query_id ORDER BY rank) AS j
  FROM ranked WHERE rel = 1
),
dcg AS (
  SELECT query_id,
         CAST(sum(CAST(floor(rel / (ln(rank + 1.0) / ln(2.0))
                             * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS dcg_q,
         CAST(sum(rel) AS BIGINT) AS n_rel
  FROM ranked GROUP BY query_id
),
idcg AS (
  SELECT query_id,
         CAST(sum(CAST(floor(1.0 / (ln(j + 1.0) / ln(2.0))
                             * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS idcg_q
  FROM ideal GROUP BY query_id
)
SELECT d.query_id, d.n_rel,
       CAST(d.dcg_q AS DOUBLE) / 1e6 AS dcg_s,
       CAST(COALESCE(i.idcg_q, 0) AS DOUBLE) / 1e6 AS idcg_s,
       floor(CAST(d.dcg_q AS DOUBLE)
             / nullif(CAST(i.idcg_q AS DOUBLE), 0) * 1e6 + 0.5) / 1e6
         AS ndcg_s
FROM dcg d LEFT JOIN idcg i USING (query_id)
ORDER BY query_id
"""


@register("ml_ndcg_exact", oracle=_NDCG_ORACLE)
def ml_ndcg_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 per query over exact-cosine retrieval with same-label
    relevance; zero-relevant queries yield NULL."""
    from ..operators.similarity import brute_force_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _NDCG_NQ)
    topk = brute_force_topk(emb, queries, k=_NDCG_K)
    q_lab = emb.select(F.col("vec_id").alias("query_id"),
                       F.col("label").alias("q_label"))
    n_lab = emb.select(F.col("vec_id").alias("neighbor_id"),
                       F.col("label").alias("n_label"))
    ranked = (
        topk.join(F.broadcast(q_lab), "query_id")
        .join(F.broadcast(n_lab), "neighbor_id")
        .select(
            "query_id", "rank",
            F.when(F.col("q_label") == F.col("n_label"), 1).otherwise(0)
            .alias("rel"),
        )
        .localCheckpoint(eager=True)  # dcg + ideal both read it
    )
    log2 = F.log(F.col("rank") + 1.0) / F.log(F.lit(2.0))
    dcg = ranked.groupBy("query_id").agg(
        F.sum(_q6(F.col("rel") / log2)).cast("long").alias("dcg_q"),
        F.sum("rel").cast("long").alias("n_rel"),
    )
    wj = W.partitionBy("query_id").orderBy("rank")
    ideal = (
        ranked.filter(F.col("rel") == 1)
        .withColumn("j", F.row_number().over(wj))
    )
    log2j = F.log(F.col("j") + 1.0) / F.log(F.lit(2.0))
    idcg = ideal.groupBy("query_id").agg(
        F.sum(_q6(F.lit(1.0) / log2j)).cast("long").alias("idcg_q"))
    return (
        dcg.join(idcg, "query_id", "left")
        .select(
            "query_id", "n_rel",
            (F.col("dcg_q").cast("double") / 1e6).alias("dcg_s"),
            (F.coalesce(F.col("idcg_q"), F.lit(0)).cast("double") / 1e6)
            .alias("idcg_s"),
            _snap6(F.col("dcg_q").cast("double")
                   / F.nullif(F.col("idcg_q").cast("double"), F.lit(0.0)))
            .alias("ndcg_s"),
        )
        .orderBy("query_id")
    )


_THRESHOLDS = [round(-0.4 + 0.1 * i, 1) for i in range(9)]  # -0.4..0.4


_PRF_ORACLE = f"""
WITH scored AS (
  SELECT CASE WHEN label = 0 THEN 1 ELSE 0 END AS y,
         floor(CAST(embedding[1] AS DOUBLE) * 1e6 + 0.5) / 1e6 AS s
  FROM embeddings
),
axis AS (
  SELECT unnest([{", ".join(str(t) for t in _THRESHOLDS)}]) AS thr
),
conf AS (
  SELECT a.thr,
         CAST(sum(CASE WHEN s >= a.thr AND y = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS tp,
         CAST(sum(CASE WHEN s >= a.thr AND y = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS fp,
         CAST(sum(CASE WHEN s < a.thr AND y = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS fn,
         CAST(sum(CASE WHEN s < a.thr AND y = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS tn
  FROM scored, axis a GROUP BY a.thr
)
SELECT thr, tp, fp, fn, tn,
       floor(tp / CAST(nullif(tp + fp, 0) AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS precision_s,
       floor(tp / CAST(nullif(tp + fn, 0) AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS recall_s,
       floor(2.0 * tp / CAST(nullif(2 * tp + fp + fn, 0) AS DOUBLE)
             * 1e6 + 0.5) / 1e6 AS f1_s
FROM conf
ORDER BY thr
"""


@register("ml_threshold_sweep_prf", oracle=_PRF_ORACLE)
def ml_threshold_sweep_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision / recall / F1 at 9 fixed thresholds of the snapped
    first embedding component vs the label-0 class."""
    emb = load(spark, sf_dir, "embeddings")
    scored = emb.select(
        F.when(F.col("label") == 0, 1).otherwise(0).alias("y"),
        _snap6(F.element_at("embedding", 1).cast("double")).alias("s"),
    )
    axis = F.broadcast(
        local_frame(spark, [(t,) for t in _THRESHOLDS], "thr double"))
    conf = (
        scored.crossJoin(axis)
        .groupBy("thr")
        .agg(
            F.sum(F.when((F.col("s") >= F.col("thr"))
                         & (F.col("y") == 1), 1).otherwise(0))
            .cast("long").alias("tp"),
            F.sum(F.when((F.col("s") >= F.col("thr"))
                         & (F.col("y") == 0), 1).otherwise(0))
            .cast("long").alias("fp"),
            F.sum(F.when((F.col("s") < F.col("thr"))
                         & (F.col("y") == 1), 1).otherwise(0))
            .cast("long").alias("fn"),
            F.sum(F.when((F.col("s") < F.col("thr"))
                         & (F.col("y") == 0), 1).otherwise(0))
            .cast("long").alias("tn"),
        )
    )
    prec = _snap6(F.col("tp")
                  / F.nullif(F.col("tp") + F.col("fp"), F.lit(0))
                  .cast("double"))
    rec = _snap6(F.col("tp")
                 / F.nullif(F.col("tp") + F.col("fn"), F.lit(0))
                 .cast("double"))
    f1 = _snap6(2.0 * F.col("tp")
                / F.nullif(2 * F.col("tp") + F.col("fp") + F.col("fn"),
                           F.lit(0)).cast("double"))
    return (
        conf.select("thr", "tp", "fp", "fn", "tn",
                    prec.alias("precision_s"), rec.alias("recall_s"),
                    f1.alias("f1_s"))
        .orderBy("thr")
    )


_LIFT_ORACLE = """
WITH scored AS (
  SELECT vec_id,
         CASE WHEN label = 0 THEN 1 ELSE 0 END AS y,
         floor(CAST(embedding[1] AS DOUBLE) * 1e6 + 0.5) / 1e6 AS s
  FROM embeddings
),
ranked AS (
  SELECT y,
         row_number() OVER (ORDER BY s DESC, vec_id) AS rn,
         count(*) OVER () AS n,
         sum(y) OVER () AS pos
  FROM scored
),
dec AS (
  SELECT CAST((rn - 1) * 10 // n + 1 AS BIGINT) AS decile,
         y, n, pos
  FROM ranked
),
per AS (
  SELECT decile,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(y) AS BIGINT) AS n_pos,
         CAST(max(n) AS BIGINT) AS n_all,
         CAST(max(pos) AS BIGINT) AS pos_all
  FROM dec GROUP BY decile
),
cum AS (
  SELECT decile, n_rows, n_pos,
         CAST(sum(n_rows) OVER (ORDER BY decile
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_rows,
         CAST(sum(n_pos) OVER (ORDER BY decile
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_pos,
         n_all, pos_all
  FROM per
)
SELECT decile, n_rows, n_pos, cum_pos,
       floor(CAST(cum_pos AS DOUBLE) / nullif(pos_all, 0) * 1e6 + 0.5)
         / 1e6 AS gain_s,
       floor(CAST(cum_pos AS DOUBLE) * n_all
             / (CAST(cum_rows AS DOUBLE) * nullif(pos_all, 0))
             * 1e6 + 0.5) / 1e6 AS lift_s
FROM cum
ORDER BY decile
"""


@register("ml_lift_gain_table", oracle=_LIFT_ORACLE)
def ml_lift_gain_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift and cumulative gains of the embedding score vs the
    label-0 class, exact integer decile boundaries."""
    emb = load(spark, sf_dir, "embeddings")
    scored = emb.select(
        "vec_id",
        F.when(F.col("label") == 0, 1).otherwise(0).alias("y"),
        _snap6(F.element_at("embedding", 1).cast("double")).alias("s"),
    )
    wall = W.partitionBy(F.lit(1))
    ranked = scored.select(
        "y",
        F.row_number().over(
            wall.orderBy(F.col("s").desc(), "vec_id")).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("y").over(wall).alias("pos"),
    )
    dec = ranked.select(
        (((F.col("rn") - 1) * 10 / F.col("n")).cast("long") + 1)
        .alias("decile"), "y", "n", "pos",
    )
    per = dec.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("y").cast("long").alias("n_pos"),
        F.max("n").cast("long").alias("n_all"),
        F.max("pos").cast("long").alias("pos_all"),
    )
    wcum = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    cum = per.select(
        "decile", "n_rows", "n_pos",
        F.sum("n_rows").over(wcum).cast("long").alias("cum_rows"),
        F.sum("n_pos").over(wcum).cast("long").alias("cum_pos"),
        "n_all", "pos_all",
    )
    gain = _snap6(F.col("cum_pos").cast("double")
                  / F.nullif(F.col("pos_all"), F.lit(0)))
    lift = _snap6(F.col("cum_pos").cast("double") * F.col("n_all")
                  / (F.col("cum_rows").cast("double")
                     * F.nullif(F.col("pos_all"), F.lit(0))))
    return (
        cum.select("decile", "n_rows", "n_pos", "cum_pos",
                   gain.alias("gain_s"), lift.alias("lift_s"))
        .orderBy("decile")
    )


_KFOLD_ORACLE = """
WITH tagged AS (
  SELECT user_id, event_type,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 6))
              AS BIGINT) % 5 AS fold
  FROM events
)
SELECT fold,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_purchases
FROM tagged
GROUP BY fold
ORDER BY fold
"""


@register("ml_group_kfold_assign", oracle=_KFOLD_ORACLE)
def ml_group_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe 5-fold assignment by user md5 with the per-fold
    balance sheet (users, events, purchases)."""
    from ..functions.text import md5_bucket

    ev = load(spark, sf_dir, "events")
    # THE shared bucket arithmetic (functions/text.py:md5_bucket) --
    # same 6-hex-digit fold coin as every other split/mix/resample
    # surface, so the fold assignment cannot drift from them.
    fold = md5_bucket(F.col("user_id").cast("string").cast("binary"), 5)
    return (
        ev.select(fold.alias("fold"), "user_id", "event_type")
        .groupBy("fold")
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.when(F.col("event_type") == "purchase", 1)
                  .otherwise(0)).cast("long").alias("n_purchases"),
        )
        .orderBy("fold")
    )


_CHURN_CUTOFF_DAY = 19743  # 2024-01-21 (fixture spans 2024-01)


_CHURN_HORIZON_DAYS = 10


_CHURN_ORACLE = f"""
WITH ev AS (
  SELECT user_id, event_type,
         CAST(CAST(epoch_us(ts) AS BIGINT) // {_US_PER_DAY} AS BIGINT)
           AS day
  FROM events
),
obs AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_events_obs,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_purchases_obs,
         CAST({_CHURN_CUTOFF_DAY} - max(day) AS BIGINT)
           AS days_since_last
  FROM ev WHERE day < {_CHURN_CUTOFF_DAY}
  GROUP BY user_id
),
fut AS (
  SELECT DISTINCT user_id FROM ev
  WHERE day >= {_CHURN_CUTOFF_DAY}
    AND day < {_CHURN_CUTOFF_DAY} + {_CHURN_HORIZON_DAYS}
)
SELECT o.user_id, o.n_events_obs, o.n_purchases_obs, o.days_since_last,
       CAST(CASE WHEN f.user_id IS NULL THEN 1 ELSE 0 END AS BIGINT)
         AS churned
FROM obs o LEFT JOIN fut f ON f.user_id = o.user_id
ORDER BY o.user_id
"""


@register("ml_churn_labels", oracle=_CHURN_ORACLE)
def ml_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe churn label table: observation-window features,
    horizon-window label, disjoint day ranges of one scan."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.expr(f"unix_micros(ts) div {_US_PER_DAY}").cast("long")
        .alias("day"),
    )
    obs = (
        ev.where(F.col("day") < _CHURN_CUTOFF_DAY)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events_obs"),
            F.sum(F.when(F.col("event_type") == "purchase", 1)
                  .otherwise(0)).cast("long").alias("n_purchases_obs"),
            (F.lit(_CHURN_CUTOFF_DAY) - F.max("day")).cast("long")
            .alias("days_since_last"),
        )
    )
    fut = (
        ev.where((F.col("day") >= _CHURN_CUTOFF_DAY)
                 & (F.col("day") < _CHURN_CUTOFF_DAY
                    + _CHURN_HORIZON_DAYS))
        .select("user_id").distinct()
        .withColumn("__seen", F.lit(1))
    )
    return (
        obs.join(fut, "user_id", "left")
        .select(
            "user_id", "n_events_obs", "n_purchases_obs",
            "days_since_last",
            F.when(F.col("__seen").isNull(), 1).otherwise(0).cast("long")
            .alias("churned"),
        )
        .orderBy("user_id")
    )


_QNORM_ORACLE = """
WITH scored AS (
  SELECT d.source, e.vec_id,
         floor(CAST(e.embedding[1] AS DOUBLE) * 1e6 + 0.5) / 1e6 AS s
  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
),
persrc AS (
  SELECT source, vec_id, s,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY s, vec_id) AS BIGINT) AS rn,
         CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_src
  FROM scored
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM scored),
pooled AS (
  SELECT s AS norm_s,
         CAST(row_number() OVER (ORDER BY s, vec_id) AS BIGINT) AS gr
  FROM scored
),
mapped AS (
  SELECT p.source,
         CAST((p.rn * nn.n + p.n_src - 1) // p.n_src AS BIGINT) AS pos
  FROM persrc p CROSS JOIN nn
)
SELECT m.source,
       CAST(count(*) AS BIGINT) AS n_vecs,
       floor(sum(floor(g.norm_s * 1e6 + 0.5)) / 1e6 / count(*)
             * 1e6 + 0.5) / 1e6 AS mean_norm_s,
       min(g.norm_s) AS min_norm_s,
       max(g.norm_s) AS max_norm_s
FROM mapped m JOIN pooled g ON g.gr = m.pos
GROUP BY m.source
ORDER BY m.source
"""


@register("ml_quantile_normalize", oracle=_QNORM_ORACLE)
def ml_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map each source's score ranks onto the pooled distribution's
    quantile values; per-source moments of the normalized scores."""
    from ..operators.ranking import global_rank

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        _snap6(F.element_at("embedding", 1).cast("double")).alias("s"),
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    scored = emb.join(docs, emb.vec_id == docs.doc_id).select(
        "source", "vec_id", "s",
    ).localCheckpoint(eager=True)  # feeds persrc, nn, AND global_rank
    # per-source rank WITHOUT the per-source window (sources are a
    # small bounded universe -- the window form funnels each source's
    # whole eval population through one task's sort)
    from ..operators.ranking import grouped_rank

    # source: fixed generator enum (20 values) -- skip the probe.
    persrc = grouped_rank(
        scored, ["source"], ["s", "vec_id"], "rn",
        count_col="n_src",
        known_group_count=32).select("source", "s", "rn", "n_src")
    nn = scored.agg(F.count(F.lit(1)).cast("long").alias("n"))
    glob = global_rank(scored.select("s", "vec_id"), ["s", "vec_id"]) \
        .select(F.col("s").alias("norm_s"), "gr")
    mapped = persrc.crossJoin(F.broadcast(nn)).select(
        "source",
        F.expr("(rn * n + n_src - 1) div n_src").cast("long").alias("pos"),
    )
    return (
        mapped.join(glob, mapped.pos == glob.gr)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            _snap6(F.sum(F.floor(F.col("norm_s") * 1e6 + 0.5)) / 1e6
                   / F.count(F.lit(1))).alias("mean_norm_s"),
            F.min("norm_s").alias("min_norm_s"),
            F.max("norm_s").alias("max_norm_s"),
        )
        .orderBy("source")
    )


_PSI_BUCKETS = 10


_PSI_BIN_CENTS = 6_000_000  # 60k-dollar-wide bins over o_totalprice


_PSI_ORACLE = f"""
WITH base AS (
  SELECT least(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
               // {_PSI_BIN_CENTS}, {_PSI_BUCKETS - 1}) AS bucket,
         CASE WHEN date_diff('day', DATE '1970-01-01',
                             CAST(o_orderdate AS DATE))
                   < {_PSI_SPLIT_DAY} THEN 1 ELSE 2 END AS half
  FROM orders
),
axis AS (SELECT unnest(range(0, {_PSI_BUCKETS})) AS bucket),
cnt AS (
  SELECT a.bucket,
         CAST(coalesce(sum(CASE WHEN b.half = 1 THEN 1 END), 0)
              AS BIGINT) AS c1,
         CAST(coalesce(sum(CASE WHEN b.half = 2 THEN 1 END), 0)
              AS BIGINT) AS c2
  FROM axis a LEFT JOIN base b ON b.bucket = a.bucket
  GROUP BY a.bucket
),
tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
               CAST(sum(c2) AS BIGINT) AS n2 FROM cnt),
terms AS (
  SELECT c.bucket, c.c1, c.c2,
         floor((c.c2 + 0.5) / (t.n2 + {_PSI_BUCKETS / 2}) * 1e6 + 0.5)
           / 1e6 AS p2,
         floor((c.c1 + 0.5) / (t.n1 + {_PSI_BUCKETS / 2}) * 1e6 + 0.5)
           / 1e6 AS p1
  FROM cnt c CROSS JOIN tot t
),
quant AS (
  SELECT bucket, c1, c2,
         CAST(floor((p2 - p1)
              * (floor(ln(p2 / p1) * 1e6 + 0.5) / 1e6)
              * 1e6 + 0.5) AS BIGINT) AS term_q
  FROM terms
)
SELECT CAST(bucket AS VARCHAR) AS bucket, c1, c2,
       floor(term_q / 1e6 * 1e6 + 0.5) / 1e6 AS psi_s
FROM quant
UNION ALL
SELECT 'TOTAL' AS bucket,
       CAST(sum(c1) AS BIGINT), CAST(sum(c2) AS BIGINT),
       floor(sum(term_q) / 1e6 * 1e6 + 0.5) / 1e6
FROM quant
ORDER BY bucket
"""


@register("ml_psi_drift", oracle=_PSI_ORACLE)
def ml_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of order totals, first half-month
    vs second: smoothed per-bucket terms plus the TOTAL row."""
    orders = load(spark, sf_dir, "orders")
    bucket = F.least(
        F.expr(f"cast(floor(o_totalprice * 100 + 0.5) as bigint) "
               f"div {_PSI_BIN_CENTS}"),
        F.lit(_PSI_BUCKETS - 1))
    half = F.when(
        _epoch_day("o_orderdate") < _PSI_SPLIT_DAY, 1).otherwise(2)
    base = orders.select(bucket.alias("bucket"), half.alias("half"))
    axis = spark.range(_PSI_BUCKETS).select(
        F.col("id").cast("long").alias("bucket"))
    cnt = (
        axis.join(base, "bucket", "left")
        .groupBy("bucket")
        .agg(
            F.coalesce(F.sum(F.when(F.col("half") == 1, 1)), F.lit(0))
            .cast("long").alias("c1"),
            F.coalesce(F.sum(F.when(F.col("half") == 2, 1)), F.lit(0))
            .cast("long").alias("c2"),
        )
    )
    tot = cnt.agg(F.sum("c1").cast("long").alias("n1"),
                  F.sum("c2").cast("long").alias("n2"))
    k2 = _PSI_BUCKETS / 2
    terms = cnt.crossJoin(F.broadcast(tot)).select(
        "bucket", "c1", "c2",
        _snap6((F.col("c1") + 0.5) / (F.col("n1") + k2)).alias("p1"),
        _snap6((F.col("c2") + 0.5) / (F.col("n2") + k2)).alias("p2"),
    )
    term_q = F.floor(
        (F.col("p2") - F.col("p1"))
        * _snap6(F.log(F.col("p2") / F.col("p1"))) * 1e6 + 0.5
    ).cast("long")
    quant = terms.select("bucket", "c1", "c2", term_q.alias("term_q")) \
        .localCheckpoint(eager=True)  # 10 rows, feeds bucket + total legs
    per = quant.select(
        F.col("bucket").cast("string").alias("bucket"), "c1", "c2",
        _snap6(F.col("term_q") / 1e6).alias("psi_s"),
    )
    total = quant.agg(
        F.sum("c1").cast("long").alias("c1"),
        F.sum("c2").cast("long").alias("c2"),
        _snap6(F.sum("term_q") / 1e6).alias("psi_s"),
    ).select(F.lit("TOTAL").alias("bucket"), "c1", "c2", "psi_s")
    return per.unionByName(total).orderBy("bucket")


_WOE_ORACLE = """
WITH bad_orders AS (
  SELECT DISTINCT l_orderkey AS ok FROM lineitem WHERE l_returnflag = 'R'
),
tagged AS (
  SELECT o.o_orderpriority AS pri,
         CASE WHEN b.ok IS NULL THEN 0 ELSE 1 END AS bad
  FROM orders o LEFT JOIN bad_orders b ON b.ok = o.o_orderkey
),
cnt AS (
  SELECT pri,
         CAST(sum(1 - bad) AS BIGINT) AS n_good,
         CAST(sum(bad) AS BIGINT) AS n_bad
  FROM tagged GROUP BY pri
),
tot AS (SELECT CAST(sum(n_good) AS BIGINT) AS g,
               CAST(sum(n_bad) AS BIGINT) AS b,
               CAST(count(*) AS BIGINT) AS k FROM cnt),
rates AS (
  SELECT c.pri, c.n_good, c.n_bad,
         floor((c.n_good + 0.5) / (t.g + t.k / 2.0) * 1e6 + 0.5) / 1e6
           AS pg,
         floor((c.n_bad + 0.5) / (t.b + t.k / 2.0) * 1e6 + 0.5) / 1e6
           AS pb
  FROM cnt c CROSS JOIN tot t
),
woe AS (
  SELECT pri, n_good, n_bad,
         floor(ln(pg / pb) * 1e6 + 0.5) / 1e6 AS woe_s,
         CAST(floor((pg - pb) * (floor(ln(pg / pb) * 1e6 + 0.5) / 1e6)
                    * 1e6 + 0.5) AS BIGINT) AS iv_q
  FROM rates
)
SELECT pri AS o_orderpriority, n_good, n_bad, woe_s,
       floor(iv_q / 1e6 * 1e6 + 0.5) / 1e6 AS iv_s
FROM woe
UNION ALL
SELECT 'TOTAL', CAST(sum(n_good) AS BIGINT), CAST(sum(n_bad) AS BIGINT),
       NULL, floor(sum(iv_q) / 1e6 * 1e6 + 0.5) / 1e6
FROM woe
ORDER BY o_orderpriority
"""


@register("ml_woe_iv_encoding", oracle=_WOE_ORACLE)
def ml_woe_iv_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence + Information Value of order priority vs the
    returned-line outcome, smoothed and int64-quantized."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderpriority").alias("pri"))
    bad_orders = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("ok")).distinct()
        .withColumn("__bad", F.lit(1))
    )
    tagged = orders.join(
        bad_orders, orders.o_orderkey == bad_orders.ok, "left"
    ).select("pri", F.coalesce("__bad", F.lit(0)).alias("bad"))
    cnt = tagged.groupBy("pri").agg(
        F.sum(1 - F.col("bad")).cast("long").alias("n_good"),
        F.sum("bad").cast("long").alias("n_bad"),
    )
    tot = cnt.agg(
        F.sum("n_good").cast("long").alias("g"),
        F.sum("n_bad").cast("long").alias("b"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    rates = cnt.crossJoin(F.broadcast(tot)).select(
        "pri", "n_good", "n_bad",
        _snap6((F.col("n_good") + 0.5) / (F.col("g") + F.col("k") / 2.0))
        .alias("pg"),
        _snap6((F.col("n_bad") + 0.5) / (F.col("b") + F.col("k") / 2.0))
        .alias("pb"),
    )
    woe_s = _snap6(F.log(F.col("pg") / F.col("pb")))
    iv_q = F.floor((F.col("pg") - F.col("pb")) * woe_s * 1e6 + 0.5) \
        .cast("long")
    woe = rates.select(
        "pri", "n_good", "n_bad", woe_s.alias("woe_s"),
        iv_q.alias("iv_q"),
    ).localCheckpoint(eager=True)  # bounded category table, two legs
    per = woe.select(
        F.col("pri").alias("o_orderpriority"), "n_good", "n_bad",
        "woe_s", _snap6(F.col("iv_q") / 1e6).alias("iv_s"),
    )
    total = woe.agg(
        F.sum("n_good").cast("long").alias("n_good"),
        F.sum("n_bad").cast("long").alias("n_bad"),
        _snap6(F.sum("iv_q") / 1e6).alias("iv_s"),
    ).select(F.lit("TOTAL").alias("o_orderpriority"), "n_good", "n_bad",
             F.lit(None).cast("double").alias("woe_s"), "iv_s")
    return per.unionByName(total).orderBy("o_orderpriority")


_CAL_BINS = 20


_P_SQL = ("floor(1.0 / (1.0 + exp(-(floor(CAST(embedding[1] AS DOUBLE)"
          " * 1e6 + 0.5) / 1e6))) * 1e6 + 0.5) / 1e6")


def _p_col():
    s = _snap6(F.element_at("embedding", 1).cast("double"))
    return _snap6(F.lit(1.0) / (F.lit(1.0) + F.exp(-s)))


_ISO_ORACLE = f"""
WITH scored AS (
  SELECT {_P_SQL} AS p, CASE WHEN label = 0 THEN 1 ELSE 0 END AS y
  FROM embeddings
),
binned AS (
  SELECT least(CAST(floor(p * {_CAL_BINS}) AS BIGINT),
               {_CAL_BINS - 1}) AS bin,
         CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
  FROM scored GROUP BY 1
),
idx AS (
  SELECT bin, n, pos,
         CAST(row_number() OVER (ORDER BY bin) AS BIGINT) AS i,
         CAST(sum(n) OVER (ORDER BY bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cumn,
         CAST(sum(pos) OVER (ORDER BY bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cumpos
  FROM binned
),
pairs AS (
  SELECT a.i AS ai, b.i AS bi,
         floor(CAST(b.cumpos - (a.cumpos - a.pos) AS DOUBLE)
               / (b.cumn - (a.cumn - a.n)) * 1e6 + 0.5) / 1e6 AS r
  FROM idx a JOIN idx b ON a.i <= b.i
),
minb AS (
  SELECT x.i, p.ai, min(p.r) AS mn
  FROM idx x JOIN pairs p ON p.ai <= x.i AND p.bi >= x.i
  GROUP BY x.i, p.ai
),
iso AS (SELECT i, max(mn) AS iso_s FROM minb GROUP BY i)
SELECT x.bin, x.n, x.pos,
       floor(CAST(x.pos AS DOUBLE) / x.n * 1e6 + 0.5) / 1e6 AS rate_s,
       iso.iso_s
FROM idx x JOIN iso ON iso.i = x.i
ORDER BY x.bin
"""


@register("ml_isotonic_calibration", oracle=_ISO_ORACLE)
def ml_isotonic_calibration(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Isotonic (monotone) calibration map over 20 sigmoid-score bins
    via the closed-form minimax pooling on bounded tables."""
    scored = load(spark, sf_dir, "embeddings").select(
        _p_col().alias("p"),
        F.when(F.col("label") == 0, 1).otherwise(0).alias("y"),
    )
    binned = scored.groupBy(
        F.least(F.floor(F.col("p") * _CAL_BINS).cast("long"),
                F.lit(_CAL_BINS - 1)).alias("bin")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"),
          F.sum("y").cast("long").alias("pos"))
    w_ord = W.orderBy("bin")
    w_run = w_ord.rowsBetween(W.unboundedPreceding, 0)
    idx = binned.select(
        "bin", "n", "pos",
        F.row_number().over(w_ord).cast("long").alias("i"),
        F.sum("n").over(w_run).cast("long").alias("cumn"),
        F.sum("pos").over(w_run).cast("long").alias("cumpos"),
    ).localCheckpoint(eager=True)  # <= 20 rows, feeds three legs
    a = idx.select(F.col("i").alias("ai"),
                   (F.col("cumn") - F.col("n")).alias("n0"),
                   (F.col("cumpos") - F.col("pos")).alias("p0"))
    b = idx.select(F.col("i").alias("bi"),
                   F.col("cumn").alias("n1"), F.col("cumpos").alias("p1"))
    pairs = (
        a.join(b, a.ai <= b.bi)
        .select("ai", "bi",
                _snap6((F.col("p1") - F.col("p0")).cast("double")
                       / (F.col("n1") - F.col("n0"))).alias("r"))
    )
    minb = (
        idx.select("i").join(
            pairs, (pairs.ai <= F.col("i")) & (pairs.bi >= F.col("i")))
        .groupBy("i", "ai").agg(F.min("r").alias("mn"))
    )
    iso = minb.groupBy("i").agg(F.max("mn").alias("iso_s"))
    return (
        idx.join(iso, "i")
        .select("bin", "n", "pos",
                _snap6(F.col("pos").cast("double") / F.col("n"))
                .alias("rate_s"),
                "iso_s")
        .orderBy("bin")
    )


_BRIER_ORACLE = f"""
WITH scored AS (
  SELECT {_P_SQL} AS p, CASE WHEN label = 0 THEN 1 ELSE 0 END AS y
  FROM embeddings
),
q AS (
  SELECT CAST(floor(p * 1e6 + 0.5) AS BIGINT) AS pq, y,
         least(CAST(floor(p * {_CAL_BINS}) AS BIGINT),
               {_CAL_BINS - 1}) AS bin
  FROM scored
),
raw AS (
  SELECT CAST(count(*) AS BIGINT) AS nn, CAST(sum(y) AS BIGINT) AS np,
         sum(CAST((pq - y * 1000000) AS HUGEINT)
             * (pq - y * 1000000)) AS se
  FROM q
),
bins AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT)
           AS pos,
         sum(CAST(pq AS HUGEINT)) AS spq
  FROM q GROUP BY bin
),
terms AS (
  SELECT b.bin, b.n,
         CAST(floor(b.n * (CAST(b.spq AS DOUBLE) / b.n / 1e6
                           - CAST(b.pos AS DOUBLE) / b.n)
                    * (CAST(b.spq AS DOUBLE) / b.n / 1e6
                       - CAST(b.pos AS DOUBLE) / b.n) * 1e6 + 0.5)
              AS BIGINT) AS rel_q,
         CAST(floor(b.n * (CAST(b.pos AS DOUBLE) / b.n
                           - CAST(r.np AS DOUBLE) / r.nn)
                    * (CAST(b.pos AS DOUBLE) / b.n
                       - CAST(r.np AS DOUBLE) / r.nn) * 1e6 + 0.5)
              AS BIGINT) AS res_q
  FROM bins b CROSS JOIN raw r
)
SELECT r.nn AS n_rows,
       floor(sum(t.rel_q) / 1e6 / r.nn * 1e6 + 0.5) / 1e6 AS rel_s,
       floor(sum(t.res_q) / 1e6 / r.nn * 1e6 + 0.5) / 1e6 AS res_s,
       floor((CAST(r.np AS DOUBLE) / r.nn)
             * (1 - CAST(r.np AS DOUBLE) / r.nn) * 1e6 + 0.5) / 1e6
         AS unc_s,
       floor(CAST(r.se AS DOUBLE) / 1e12 / r.nn * 1e6 + 0.5) / 1e6
         AS brier_raw_s
FROM terms t CROSS JOIN raw r
GROUP BY r.nn, r.np, r.se
"""


@register("ml_brier_decomposition", oracle=_BRIER_ORACLE)
def ml_brier_decomposition(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score (reliability,
    resolution, uncertainty) plus the raw Brier, exact units."""
    q = load(spark, sf_dir, "embeddings").select(
        F.floor(_p_col() * 1e6 + 0.5).cast("long").alias("pq"),
        F.when(F.col("label") == 0, 1).otherwise(0).alias("y"),
        F.least(F.floor(_p_col() * _CAL_BINS).cast("long"),
                F.lit(_CAL_BINS - 1)).alias("bin"),
    ).localCheckpoint(eager=True)  # feeds raw + bins legs
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    raw = q.agg(
        F.count(F.lit(1)).cast("long").alias("nn"),
        F.sum("y").cast("long").alias("np"),
        F.sum(dec(F.col("pq") - F.col("y") * 1000000)
              * (F.col("pq") - F.col("y") * 1000000)).alias("se"),
    )
    bins = q.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
        F.sum(dec(F.col("pq"))).alias("spq"),
    )
    fb = F.col("spq").cast("double") / F.col("n") / 1e6
    ob = F.col("pos").cast("double") / F.col("n")
    obar = F.col("np").cast("double") / F.col("nn")
    terms = bins.crossJoin(F.broadcast(raw)).select(
        F.floor(F.col("n") * (fb - ob) * (fb - ob) * 1e6 + 0.5)
        .cast("long").alias("rel_q"),
        F.floor(F.col("n") * (ob - obar) * (ob - obar) * 1e6 + 0.5)
        .cast("long").alias("res_q"),
        "nn", "np", "se",
    )
    return (
        terms.groupBy("nn", "np", "se")
        .agg(
            _snap6(F.sum("rel_q") / 1e6 / F.col("nn")).alias("rel_s"),
            _snap6(F.sum("res_q") / 1e6 / F.col("nn")).alias("res_s"),
        )
        .select(
            F.col("nn").alias("n_rows"), "rel_s", "res_s",
            _snap6(obar * (1 - obar)).alias("unc_s"),
            _snap6(F.col("se").cast("double") / 1e12 / F.col("nn"))
            .alias("brier_raw_s"),
        )
    )


_KS2_ORACLE = """
WITH scored AS (
  SELECT floor(CAST(embedding[1] AS DOUBLE) * 1e6 + 0.5) / 1e6 AS s,
         CASE WHEN label = 0 THEN 1 ELSE 0 END AS x
  FROM embeddings
),
grp AS (
  SELECT s, CAST(sum(x) AS BIGINT) AS c1,
         CAST(sum(1 - x) AS BIGINT) AS c2
  FROM scored GROUP BY s
),
cum AS (
  SELECT s,
         CAST(sum(c1) OVER w AS BIGINT) AS k1,
         CAST(sum(c2) OVER w AS BIGINT) AS k2
  FROM grp
  WINDOW w AS (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
),
tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
               CAST(sum(c2) AS BIGINT) AS n2 FROM grp),
d AS (
  SELECT c.s,
         floor(abs(CAST(c.k1 AS DOUBLE) / nullif(t.n1, 0)
                   - CAST(c.k2 AS DOUBLE) / nullif(t.n2, 0))
               * 1e6 + 0.5) / 1e6 AS d_s
  FROM cum c CROSS JOIN tot t
),
mx AS (SELECT max(d_s) AS ks FROM d)
SELECT t.n1, t.n2, mx.ks AS ks_s,
       (SELECT min(s) FROM d WHERE d.d_s = mx.ks) AS ks_at_s
FROM tot t CROSS JOIN mx
"""


@register("ml_ks_two_sample", oracle=_KS2_ORACLE)
def ml_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS separation of class-0 vs rest score
    distributions; sup-CDF distance plus its leftmost witness."""
    from ..operators.ranking import distributed_prefix_sums

    scored = load(spark, sf_dir, "embeddings").select(
        _snap6(F.element_at("embedding", 1).cast("double")).alias("s"),
        F.when(F.col("label") == 0, 1).otherwise(0).alias("x"),
    )
    grp = scored.groupBy("s").agg(
        F.sum("x").cast("long").alias("c1"),
        F.sum(1 - F.col("x")).cast("long").alias("c2"),
    ).localCheckpoint(eager=True)  # value-group table, three legs
    # BOTH class cumulatives from ONE range-partition pass
    cum = distributed_prefix_sums(grp, ["s"], {"k1": "c1", "k2": "c2"})
    tot = grp.agg(F.sum("c1").cast("long").alias("n1"),
                  F.sum("c2").cast("long").alias("n2"))
    d = cum.crossJoin(F.broadcast(tot)).select(
        "s", "n1", "n2",
        _snap6(F.abs(
            F.col("k1").cast("double") / F.nullif(F.col("n1"), F.lit(0))
            - F.col("k2").cast("double")
            / F.nullif(F.col("n2"), F.lit(0)))).alias("d_s"),
    )
    mx = d.agg(F.max("d_s").alias("ks"))
    at = (
        d.join(F.broadcast(mx), d.d_s == mx.ks)
        .agg(F.min("s").alias("ks_at_s"))
    )
    return (
        tot.crossJoin(mx).crossJoin(at)
        .select("n1", "n2", F.col("ks").alias("ks_s"), "ks_at_s")
    )


_GBDT_LR = 0.5


_GBDT_ORACLE = f"""
WITH d AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y,
         LEAST(CAST(floor(value * 100 + 0.5) AS BIGINT) // 1000,
               CAST(63 AS BIGINT)) AS b1,
         CAST(hour(ts) AS BIGINT) AS b2
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CAST(y AS BIGINT)) AS BIGINT) AS sy FROM d),
f0 AS (SELECT sy / CAST(n AS DOUBLE) AS f0 FROM nn),
g1a AS (
  SELECT b1 AS b,
         CAST(sum(CAST(floor((y - f0.f0) * 1e6 + 0.5) AS BIGINT))
              AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS c
  FROM d CROSS JOIN f0 GROUP BY b1
),
g1b AS (
  SELECT b2 AS b,
         CAST(sum(CAST(floor((y - f0.f0) * 1e6 + 0.5) AS BIGINT))
              AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS c
  FROM d CROSS JOIN f0 GROUP BY b2
),
t1 AS (SELECT CAST(sum(s) AS BIGINT) AS st,
              CAST(sum(c) AS BIGINT) AS ct FROM g1a),
p1a AS (SELECT b, CAST(sum(s) OVER (ORDER BY b) AS BIGINT) AS sl,
               CAST(sum(c) OVER (ORDER BY b) AS BIGINT) AS cl FROM g1a),
p1b AS (SELECT b, CAST(sum(s) OVER (ORDER BY b) AS BIGINT) AS sl,
               CAST(sum(c) OVER (ORDER BY b) AS BIGINT) AS cl FROM g1b),
gain1 AS (
  SELECT 'cents' AS feature, b AS t,
         floor((CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / cl
                + CAST(st - sl AS DOUBLE) * CAST(st - sl AS DOUBLE)
                  / (ct - cl)) / 1e12 * 1e6 + 0.5) / 1e6 AS gain_s,
         (CAST(sl AS DOUBLE) / cl) / 1e6 AS wl,
         (CAST(st - sl AS DOUBLE) / (ct - cl)) / 1e6 AS wr
  FROM p1a, t1 WHERE ct - cl > 0
  UNION ALL
  SELECT 'hour', b,
         floor((CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / cl
                + CAST(st - sl AS DOUBLE) * CAST(st - sl AS DOUBLE)
                  / (ct - cl)) / 1e12 * 1e6 + 0.5) / 1e6,
         (CAST(sl AS DOUBLE) / cl) / 1e6,
         (CAST(st - sl AS DOUBLE) / (ct - cl)) / 1e6
  FROM p1b, t1 WHERE ct - cl > 0
),
s1 AS (SELECT * FROM gain1 ORDER BY gain_s DESC, feature, t LIMIT 1),
d2 AS (
  SELECT d.y, d.b1, d.b2,
         f0.f0 + {_GBDT_LR} * (CASE WHEN s1.feature = 'cents'
           THEN CASE WHEN d.b1 <= s1.t THEN s1.wl ELSE s1.wr END
           ELSE CASE WHEN d.b2 <= s1.t THEN s1.wl ELSE s1.wr END
         END) AS f1
  FROM d, f0, s1
),
g2a AS (
  SELECT b1 AS b,
         CAST(sum(CAST(floor((y - f1) * 1e6 + 0.5) AS BIGINT))
              AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS c
  FROM d2 GROUP BY b1
),
g2b AS (
  SELECT b2 AS b,
         CAST(sum(CAST(floor((y - f1) * 1e6 + 0.5) AS BIGINT))
              AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS c
  FROM d2 GROUP BY b2
),
t2 AS (SELECT CAST(sum(s) AS BIGINT) AS st,
              CAST(sum(c) AS BIGINT) AS ct FROM g2a),
p2a AS (SELECT b, CAST(sum(s) OVER (ORDER BY b) AS BIGINT) AS sl,
               CAST(sum(c) OVER (ORDER BY b) AS BIGINT) AS cl FROM g2a),
p2b AS (SELECT b, CAST(sum(s) OVER (ORDER BY b) AS BIGINT) AS sl,
               CAST(sum(c) OVER (ORDER BY b) AS BIGINT) AS cl FROM g2b),
gain2 AS (
  SELECT 'cents' AS feature, b AS t,
         floor((CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / cl
                + CAST(st - sl AS DOUBLE) * CAST(st - sl AS DOUBLE)
                  / (ct - cl)) / 1e12 * 1e6 + 0.5) / 1e6 AS gain_s,
         (CAST(sl AS DOUBLE) / cl) / 1e6 AS wl,
         (CAST(st - sl AS DOUBLE) / (ct - cl)) / 1e6 AS wr
  FROM p2a, t2 WHERE ct - cl > 0
  UNION ALL
  SELECT 'hour', b,
         floor((CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / cl
                + CAST(st - sl AS DOUBLE) * CAST(st - sl AS DOUBLE)
                  / (ct - cl)) / 1e12 * 1e6 + 0.5) / 1e6,
         (CAST(sl AS DOUBLE) / cl) / 1e6,
         (CAST(st - sl AS DOUBLE) / (ct - cl)) / 1e6
  FROM p2b, t2 WHERE ct - cl > 0
),
s2 AS (SELECT * FROM gain2 ORDER BY gain_s DESC, feature, t LIMIT 1),
d3 AS (
  SELECT d2.y,
         d2.f1 + {_GBDT_LR} * (CASE WHEN s2.feature = 'cents'
           THEN CASE WHEN d2.b1 <= s2.t THEN s2.wl ELSE s2.wr END
           ELSE CASE WHEN d2.b2 <= s2.t THEN s2.wl ELSE s2.wr END
         END) AS f2
  FROM d2, s2
),
mse AS (
  SELECT CAST(sum(CAST(floor((y - f2) * (y - f2) * 1e6 + 0.5)
                       AS BIGINT)) AS BIGINT) AS se,
         CAST(count(*) AS BIGINT) AS n
  FROM d3
)
SELECT r.round, r.feature, CAST(r.t AS BIGINT) AS threshold, r.gain_s,
       floor(r.wl * 1e6 + 0.5) / 1e6 AS w_left_s,
       floor(r.wr * 1e6 + 0.5) / 1e6 AS w_right_s,
       mse.n AS n_rows,
       floor(mse.se / CAST(mse.n AS DOUBLE) + 0.5) / 1e6 AS mse_s
FROM (SELECT CAST(1 AS BIGINT) AS round, * FROM s1
      UNION ALL SELECT CAST(2 AS BIGINT), * FROM s2) r, mse
ORDER BY r.round
"""


@register("ml_gbdt_stumps_portable", oracle=_GBDT_ORACLE)
def ml_gbdt_stumps_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two rounds of least-squares gradient boosting with depth-1
    trees (stumps), trained BY THE ENGINE and hash-checked: predict
    is-purchase from bucketed event value (64 dollar-bucket caps) and
    hour of day. Output: per round the chosen split (feature,
    threshold, variance-reduction gain, leaf weights) plus the final
    training MSE.

    Exactness contract (FIXTURES.md): residuals quantize to int64 at
    1e-6 BEFORE every sum, so each round's per-bucket statistics are
    order-independent; the gain / leaf-weight arithmetic is a pinned
    sequence of IEEE double ops on those integers (cast points stated
    in the oracle verbatim), so the split search is deterministic
    cross-engine; ties break (gain DESC, feature, threshold).

    Scale: each round = one scan feeding TWO map-side-combined
    aggregates with <= 64 + 24 groups; the split search runs on the
    collected bucket table (bounded model state, like the k-means
    centroid collect -- never data). At 100 TB: 2 rounds = 2 scans of
    the projected feature columns; deeper trees would recurse the
    same bounded-aggregate shape per node."""
    import math

    ev = load(spark, sf_dir, "events")
    # NULL feature rows are excluded in BOTH engines: a NULL hour
    # bucket would hit Python's mixed-type sort in the split search
    # and DuckDB's NULLS LAST prefix window differently -- stated,
    # not incidental (fixtures carry no NULL ts/value today).
    d = ev.where(F.col("value").isNotNull()
                 & F.col("ts").isNotNull()).select(
        F.when(F.col("event_type") == "purchase", F.lit(1.0))
        .otherwise(F.lit(0.0)).alias("y"),
        F.least(F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT) div 1000"),
                F.lit(63).cast("long")).alias("b1"),
        F.hour("ts").cast("long").alias("b2"),
    ).localCheckpoint(eager=True)  # one materialization feeds all rounds

    head = d.agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum(F.col("y").cast("long")).cast("long").alias("sy")
                 ).collect()[0]
    n, f0 = head["n"], head["sy"] / float(head["n"])

    def best_split(pred) -> tuple:
        """One boosting round: bounded per-bucket residual stats for
        both features -> driver-side prefix + gain argmax (the bucket
        table is model state: <= 88 rows)."""
        rq = F.floor((F.col("y") - pred) * 1e6 + F.lit(0.5)).cast("long")
        best = None
        for feat, bcol in (("cents", "b1"), ("hour", "b2")):
            rows = sorted(
                d.groupBy(bcol).agg(
                    F.sum(rq).cast("long").alias("s"),
                    F.count(F.lit(1)).cast("long").alias("c"),
                ).collect(),
                key=lambda r: r[bcol])
            st = sum(r["s"] for r in rows)
            ct = sum(r["c"] for r in rows)
            sl = cl = 0
            for r in rows:
                sl += r["s"]
                cl += r["c"]
                if ct - cl <= 0:
                    continue
                # the EXACT double sequence the oracle states: cast
                # each integer sum to double, square, divide, add
                g = (float(sl) * float(sl) / cl
                     + float(st - sl) * float(st - sl) / (ct - cl))
                gain_s = math.floor(g / 1e12 * 1e6 + 0.5) / 1e6
                wl = (float(sl) / cl) / 1e6
                wr = (float(st - sl) / (ct - cl)) / 1e6
                key = (-gain_s, feat, r[bcol])
                if best is None or key < best[0]:
                    best = (key, feat, int(r[bcol]), gain_s, wl, wr)
        return best[1:]

    def leaf(split) -> F.Column:
        feat, t, _, wl, wr = split
        bcol = "b1" if feat == "cents" else "b2"
        return F.when(F.col(bcol) <= F.lit(t), F.lit(wl)).otherwise(
            F.lit(wr))

    s1 = best_split(F.lit(f0))
    pred1 = F.lit(f0) + _GBDT_LR * leaf(s1)
    s2 = best_split(pred1)
    pred2 = pred1 + _GBDT_LR * leaf(s2)

    se = d.agg(F.sum(
        F.floor((F.col("y") - pred2) * (F.col("y") - pred2) * 1e6
                + F.lit(0.5)).cast("long")).cast("long").alias("se")
    ).collect()[0]["se"]
    mse_s = math.floor(se / float(n) + 0.5) / 1e6

    out = [(r, feat, t, gain_s,
            math.floor(wl * 1e6 + 0.5) / 1e6,
            math.floor(wr * 1e6 + 0.5) / 1e6, n, mse_s)
           for r, (feat, t, gain_s, wl, wr) in ((1, s1), (2, s2))]
    return local_frame(
        spark, out, "round bigint, feature string, threshold bigint, "
                    "gain_s double, w_left_s double, w_right_s double, "
                    "n_rows bigint, mse_s double").orderBy("round")


_ALS_LAMBDA = 0.1


_HEXMAX = float(0xFFFFFF)


_ALS_ORACLE = f"""
WITH r AS (
  SELECT o.o_custkey AS cust, l.l_partkey AS part,
         CAST(sum(l.l_quantity) AS BIGINT) AS r
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
),
v AS (
  SELECT cust, r,
         CAST('0x' || substr(md5(CAST(part AS VARCHAR) || ':a'), 1, 6)
              AS BIGINT) / {_HEXMAX!r} - 0.5 AS v1,
         CAST('0x' || substr(md5(CAST(part AS VARCHAR) || ':b'), 1, 6)
              AS BIGINT) / {_HEXMAX!r} - 0.5 AS v2
  FROM r
),
s AS (
  SELECT cust, CAST(count(*) AS BIGINT) AS n_items,
    CAST(sum(CAST(floor(v1 * v1 * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS s11,
    CAST(sum(CAST(floor(v1 * v2 * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS s12,
    CAST(sum(CAST(floor(v2 * v2 * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS s22,
    CAST(sum(CAST(floor(r * v1 * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS b1,
    CAST(sum(CAST(floor(r * v2 * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS b2
  FROM v GROUP BY cust
),
u AS (
  SELECT cust, n_items,
         (s11 / 1e6 + {_ALS_LAMBDA}) AS a11, s12 / 1e6 AS a12,
         (s22 / 1e6 + {_ALS_LAMBDA}) AS a22, b1 / 1e6 AS c1,
         b2 / 1e6 AS c2
  FROM s
)
SELECT cust AS c_custkey, n_items,
       floor((a22 * c1 - a12 * c2) / (a11 * a22 - a12 * a12)
             * 1e6 + 0.5) / 1e6 AS u1_s,
       floor((a11 * c2 - a12 * c1) / (a11 * a22 - a12 * a12)
             * 1e6 + 0.5) / 1e6 AS u2_s
FROM u ORDER BY c_custkey
"""


@register("ml_als_halfstep_portable", oracle=_ALS_ORACLE)
def ml_als_halfstep_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One ALS user-side update over (customer, part, summed-quantity)
    ratings with md5-derived 2-dim item factors, hash-checked row by
    row: per-term 1e-6 int64 quantization makes the five normal-
    equation sums order-independent, the item factors are exact
    rationals (hex6/0xFFFFFF - 0.5), and the ridge-regularized 2x2
    solve is one pinned IEEE sequence (stated identically in both
    engines, lambda = 0.1 keeps det > 0).

    Scale: three wide stages end to end -- the fact join (orderkey),
    the ratings rollup (cust, part), and the update's map-side-
    combined 6-sum aggregate (cust) -- then a codegen'd closed-form
    solve; no driver model state at all (contrast: the k-means /
    logreg / GBDT fits collect bounded model tables; here the 'model'
    IS the output). k factors > 2 need k(k+1)/2 + k sums and a small
    per-row solve on the same three-stage plan."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey",
                                                "l_quantity")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    ratings = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("o_custkey").alias("cust"),
                 F.col("l_partkey").alias("part"))
        .agg(F.sum("l_quantity").cast("long").alias("r"))
    )

    def hex6(suffix: str) -> F.Column:
        return F.conv(F.substring(
            F.md5(F.concat(F.col("part").cast("string"),
                           F.lit(suffix))), 1, 6), 16, 10).cast("long")

    v = ratings.select(
        "cust", "r",
        (hex6(":a") / _HEXMAX - 0.5).alias("v1"),
        (hex6(":b") / _HEXMAX - 0.5).alias("v2"),
    )

    def q(col) -> F.Column:
        return F.floor(col * 1e6 + F.lit(0.5)).cast("long")

    s = v.groupBy("cust").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(q(F.col("v1") * F.col("v1"))).cast("long").alias("s11"),
        F.sum(q(F.col("v1") * F.col("v2"))).cast("long").alias("s12"),
        F.sum(q(F.col("v2") * F.col("v2"))).cast("long").alias("s22"),
        F.sum(q(F.col("r") * F.col("v1"))).cast("long").alias("b1"),
        F.sum(q(F.col("r") * F.col("v2"))).cast("long").alias("b2"),
    )
    a11 = F.col("s11") / 1e6 + _ALS_LAMBDA
    a12 = F.col("s12") / 1e6
    a22 = F.col("s22") / 1e6 + _ALS_LAMBDA
    c1 = F.col("b1") / 1e6
    c2 = F.col("b2") / 1e6
    det = a11 * a22 - a12 * a12
    return s.select(
        F.col("cust").alias("c_custkey"), "n_items",
        _snap6_expr((a22 * c1 - a12 * c2) / det).alias("u1_s"),
        _snap6_expr((a11 * c2 - a12 * c1) / det).alias("u2_s"),
    ).orderBy("c_custkey")


_CONFORMAL_ORACLE = """
WITH pred AS (
  SELECT c_mktsegment,
         floor(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
               / CAST(count(*) AS DOUBLE) / 100.0 * 1e6 + 0.5) / 1e6
           AS pred
  FROM customer WHERE c_custkey % 2 = 0
  GROUP BY c_mktsegment
),
cal AS (
  SELECT c.c_mktsegment, c.c_custkey,
         CAST(floor(abs(c.c_acctbal - p.pred) * 1e6 + 0.5) AS BIGINT)
           AS rq
  FROM customer c JOIN pred p ON p.c_mktsegment = c.c_mktsegment
  WHERE c.c_custkey % 4 = 1
),
ranked AS (
  SELECT c_mktsegment, rq,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY rq, c_custkey) AS rn,
         count(*) OVER (PARTITION BY c_mktsegment) AS n_cal
  FROM cal
),
qhat AS (
  /* Segments whose calibration split cannot reach the ceil rank
     (k > n_cal, i.e. n_cal < 9 at alpha = 0.1) DROP -- qhat is
     +infinity, the standard small-n conformal degenerate case; the
     Spark side drops them identically (no rank-k row survives the
     filter). Without this guard the engines disagree at smoke SF. */
  SELECT * FROM (
    SELECT c_mktsegment, CAST(max(n_cal) AS BIGINT) AS n_cal,
           CAST(min(CASE WHEN rn = ((n_cal + 1) * 9 + 9) // 10
                         THEN rq END) AS BIGINT) AS qhat_q
    FROM ranked GROUP BY c_mktsegment
  ) WHERE qhat_q IS NOT NULL
),
test AS (
  SELECT c.c_mktsegment,
         CAST(floor(abs(c.c_acctbal - p.pred) * 1e6 + 0.5) AS BIGINT)
           AS rq
  FROM customer c JOIN pred p ON p.c_mktsegment = c.c_mktsegment
  WHERE c.c_custkey % 4 = 3
)
SELECT t.c_mktsegment, q.n_cal, q.qhat_q / 1e6 AS qhat,
       CAST(count(*) AS BIGINT) AS n_test,
       CAST(count(*) FILTER (WHERE t.rq <= q.qhat_q) AS BIGINT)
         AS n_covered,
       floor(count(*) FILTER (WHERE t.rq <= q.qhat_q)
             / CAST(count(*) AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS coverage_s
FROM test t JOIN qhat q ON q.c_mktsegment = t.c_mktsegment
GROUP BY t.c_mktsegment, q.n_cal, q.qhat_q
ORDER BY t.c_mktsegment
"""


@register("ml_conformal_split", oracle=_CONFORMAL_ORACLE)
def ml_conformal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split conformal prediction at alpha = 0.1: exact calibration
    quantile (rank-crossing, ceil((n+1)0.9)), held-out coverage
    audit. Distributed rank via grouped_rank, no per-segment
    window."""
    from ..operators.ranking import grouped_rank

    cust = load(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
    pred = (
        cust.where(F.col("c_custkey") % 2 == 0)
        .groupBy("c_mktsegment")
        .agg(snap6(F.sum(cents) / F.count(F.lit(1)).cast("double")
                   / 100.0).alias("pred"))
    )
    rq = q6(F.abs(F.col("c_acctbal") - F.col("pred"))).alias("rq")
    cal = (
        cust.where(F.col("c_custkey") % 4 == 1)
        .join(F.broadcast(pred), "c_mktsegment")
        .select("c_mktsegment", "c_custkey", rq)
    )
    # c_mktsegment: fixed generator enum (5 values) -- skip the probe.
    ranked = grouped_rank(cal, ["c_mktsegment"], ["rq", "c_custkey"],
                          "rn", count_col="n_cal", known_group_count=8)
    # Integer `div`, not double-divide-then-floor: past ~2^53 the
    # double path loses ulps and can land one rank off the oracle's
    # exact // (the hamilton_quota precedent, ADVICE r4).
    k = F.expr("((n_cal + 1) * 9 + 9) div 10")
    qhat = (
        ranked.where(F.col("rn") == k)
        .select("c_mktsegment", F.col("n_cal").cast("long").alias("n_cal"),
                F.col("rq").alias("qhat_q"))
    )
    test = (
        cust.where(F.col("c_custkey") % 4 == 3)
        .join(F.broadcast(pred), "c_mktsegment")
        .select("c_mktsegment", rq)
    )
    return (
        test.join(F.broadcast(qhat), "c_mktsegment")
        .groupBy("c_mktsegment", "n_cal", "qhat_q")
        .agg(F.count(F.lit(1)).cast("long").alias("n_test"),
             F.sum(F.when(F.col("rq") <= F.col("qhat_q"), 1)
                   .otherwise(0)).cast("long").alias("n_covered"))
        .select("c_mktsegment", "n_cal",
                (F.col("qhat_q") / 1e6).alias("qhat"), "n_test",
                "n_covered",
                snap6(F.col("n_covered")
                      / F.col("n_test").cast("double"))
                .alias("coverage_s"))
        .orderBy("c_mktsegment")
    )


_SHAP_W = {"qty": 2.0, "disc": -50000.0, "tax": 30000.0}


_SHAP_B = 100.0


_SHAPLEY_ORACLE = f"""
WITH means AS (
  SELECT sum(CAST(floor(l_quantity * 1e6 + 0.5) AS BIGINT))
           / CAST(count(*) AS DOUBLE) / 1e6 AS m_qty,
         sum(CAST(floor(l_discount * 1e6 + 0.5) AS BIGINT))
           / CAST(count(*) AS DOUBLE) / 1e6 AS m_disc,
         sum(CAST(floor(l_tax * 1e6 + 0.5) AS BIGINT))
           / CAST(count(*) AS DOUBLE) / 1e6 AS m_tax
  FROM lineitem
),
phi AS (
  SELECT l_returnflag,
         CAST(floor(abs({_SHAP_W["qty"]} * (l_quantity - m_qty))
              * 1e6 + 0.5) AS BIGINT) AS a_qty,
         CAST(floor(abs({_SHAP_W["disc"]} * (l_discount - m_disc))
              * 1e6 + 0.5) AS BIGINT) AS a_disc,
         CAST(floor(abs({_SHAP_W["tax"]} * (l_tax - m_tax))
              * 1e6 + 0.5) AS BIGINT) AS a_tax
  FROM lineitem CROSS JOIN means
)
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       floor(sum(a_qty) / CAST(count(*) AS DOUBLE) / 1e6 * 1e6 + 0.5)
         / 1e6 AS mean_abs_phi_qty_s,
       floor(sum(a_disc) / CAST(count(*) AS DOUBLE) / 1e6 * 1e6 + 0.5)
         / 1e6 AS mean_abs_phi_disc_s,
       floor(sum(a_tax) / CAST(count(*) AS DOUBLE) / 1e6 * 1e6 + 0.5)
         / 1e6 AS mean_abs_phi_tax_s
FROM phi GROUP BY l_returnflag ORDER BY l_returnflag
"""


@register("ml_shapley_linear", oracle=_SHAPLEY_ORACLE)
def ml_shapley_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form Linear-SHAP attributions vs the global feature
    means, reduced to per-returnflag mean |phi| -- the standard
    global-importance view. One scan for means (broadcast totals),
    one for the attribution reduce."""
    li = load(spark, sf_dir, "lineitem")
    means = li.agg(
        (F.sum(q6(F.col("l_quantity"))) / F.count(F.lit(1))
         .cast("double") / 1e6).alias("m_qty"),
        (F.sum(q6(F.col("l_discount"))) / F.count(F.lit(1))
         .cast("double") / 1e6).alias("m_disc"),
        (F.sum(q6(F.col("l_tax"))) / F.count(F.lit(1))
         .cast("double") / 1e6).alias("m_tax"),
    )
    phi = li.crossJoin(F.broadcast(means)).select(
        "l_returnflag",
        q6(F.abs(_SHAP_W["qty"]
                 * (F.col("l_quantity") - F.col("m_qty")))).alias("a_qty"),
        q6(F.abs(_SHAP_W["disc"]
                 * (F.col("l_discount") - F.col("m_disc")))).alias("a_disc"),
        q6(F.abs(_SHAP_W["tax"]
                 * (F.col("l_tax") - F.col("m_tax")))).alias("a_tax"),
    )
    n = F.count(F.lit(1))
    return (
        phi.groupBy("l_returnflag")
        .agg(n.cast("long").alias("n"),
             snap6(F.sum("a_qty") / n.cast("double") / 1e6)
             .alias("mean_abs_phi_qty_s"),
             snap6(F.sum("a_disc") / n.cast("double") / 1e6)
             .alias("mean_abs_phi_disc_s"),
             snap6(F.sum("a_tax") / n.cast("double") / 1e6)
             .alias("mean_abs_phi_tax_s"))
        .orderBy("l_returnflag")
    )


_GMM_MU1 = 50_000.0


_GMM_MU2 = 200_000.0


_GMM_VAR = 5.0e9


_GMM_ORACLE = f"""
WITH d AS (
  SELECT o_totalprice AS x,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS xc
  FROM orders
),
r AS (
  SELECT xc,
         CAST(floor((1.0 / (1.0 + exp(
             ((x - {_GMM_MU2}) * (x - {_GMM_MU2})
              - (x - {_GMM_MU1}) * (x - {_GMM_MU1}))
             / (2.0 * {_GMM_VAR})))) * 1e6 + 0.5) AS BIGINT) AS r2q
  FROM d
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(r2q) AS BIGINT) AS s2,
         CAST(sum(CAST(floor((r2q / 1e6) * xc + 0.5) AS BIGINT))
              AS BIGINT) AS num2,
         CAST(sum(CAST(floor(((1e6 - r2q) / 1e6) * xc + 0.5) AS BIGINT))
              AS BIGINT) AS num1
  FROM r
)
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS component, n AS n_rows,
         floor((n * 1e6 - s2) / CAST(n AS DOUBLE) / 1e6 * 1e6 + 0.5)
           / 1e6 AS w_new_s,
         floor(num1 * 1e4 / CAST(n * 1e6 - s2 AS DOUBLE) * 1e6 + 0.5)
           / 1e6 AS mu_new_s
  FROM s
  UNION ALL
  SELECT CAST(2 AS BIGINT), n,
         floor(s2 / CAST(n AS DOUBLE) / 1e6 * 1e6 + 0.5) / 1e6,
         floor(num2 * 1e4 / CAST(s2 AS DOUBLE) * 1e6 + 0.5) / 1e6
  FROM s
) ORDER BY component
"""


@register("ml_gmm_em_portable", oracle=_GMM_ORACLE)
def ml_gmm_em_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One EM step of the 2-component 1-D GMM: grid-snapped
    responsibilities, int64 weighted sums, exact new (w, mu) per
    component. ONE scan + one bounded aggregate."""
    o = load(spark, sf_dir, "orders")
    x = F.col("o_totalprice")
    gap = ((x - _GMM_MU2) * (x - _GMM_MU2)
           - (x - _GMM_MU1) * (x - _GMM_MU1)) / (2.0 * _GMM_VAR)
    r2q = q6(1.0 / (1.0 + F.exp(gap)))
    xc = F.floor(x * 100 + F.lit(0.5)).cast("long")
    r = o.select(
        xc.alias("xc"), r2q.alias("r2q"),
    )
    s = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("r2q").cast("long").alias("s2"),
        F.sum(F.floor((F.col("r2q") / 1e6) * F.col("xc") + F.lit(0.5))
              .cast("long")).cast("long").alias("num2"),
        F.sum(F.floor(((1e6 - F.col("r2q")) / 1e6) * F.col("xc")
                      + F.lit(0.5)).cast("long")).cast("long")
        .alias("num1"),
    ).localCheckpoint(eager=True)  # one-row model state: both
    # component projections read it, so the union plans ONE scan of
    # orders instead of recomputing the aggregate per branch.
    c1 = s.select(
        F.lit(1).cast("long").alias("component"),
        F.col("n").alias("n_rows"),
        snap6((F.col("n") * 1e6 - F.col("s2"))
              / F.col("n").cast("double") / 1e6).alias("w_new_s"),
        snap6(F.col("num1") * 1e4
              / (F.col("n") * 1e6 - F.col("s2")).cast("double"))
        .alias("mu_new_s"),
    )
    c2 = s.select(
        F.lit(2).cast("long").alias("component"),
        F.col("n").alias("n_rows"),
        snap6(F.col("s2") / F.col("n").cast("double") / 1e6)
        .alias("w_new_s"),
        snap6(F.col("num2") * 1e4 / F.col("s2").cast("double"))
        .alias("mu_new_s"),
    )
    return c1.unionByName(c2).orderBy("component")


_OLS_ORACLE = """
WITH s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CAST(floor(l_quantity * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
      AS sx1,
    CAST(sum(CAST(floor(l_discount * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
      AS sx2,
    CAST(sum(CAST(floor(l_quantity * l_quantity * 1e6 + 0.5) AS BIGINT))
      AS BIGINT) AS s11,
    CAST(sum(CAST(floor(l_quantity * l_discount * 1e6 + 0.5) AS BIGINT))
      AS BIGINT) AS s12,
    CAST(sum(CAST(floor(l_discount * l_discount * 1e6 + 0.5) AS BIGINT))
      AS BIGINT) AS s22,
    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
      AS BIGINT) AS sy,
    CAST(sum(CAST(floor(l_quantity * l_extendedprice * 100 + 0.5)
      AS BIGINT)) AS BIGINT) AS s1y,
    CAST(sum(CAST(floor(l_discount * l_extendedprice * 100 + 0.5)
      AS BIGINT)) AS BIGINT) AS s2y,
    CAST(sum(CAST(floor(l_extendedprice * l_extendedprice * 0.01 + 0.5)
      AS BIGINT)) AS BIGINT) AS syy
  FROM lineitem
),
m AS (
  SELECT CAST(n AS DOUBLE) AS a11, sx1 / 1e6 AS a12, sx2 / 1e6 AS a13,
         s11 / 1e6 AS a22, s12 / 1e6 AS a23, s22 / 1e6 AS a33,
         sy / 100.0 AS b1, s1y / 100.0 AS b2, s2y / 100.0 AS b3,
         syy * 100.0 AS yy, n
  FROM s
),
d AS (
  SELECT *,
    a11 * (a22 * a33 - a23 * a23)
      - a12 * (a12 * a33 - a23 * a13)
      + a13 * (a12 * a23 - a22 * a13) AS det
  FROM m
),
beta AS (
  SELECT n, yy, b1, b2, b3, a11,
    (b1 * (a22 * a33 - a23 * a23)
      - a12 * (b2 * a33 - a23 * b3)
      + a13 * (b2 * a23 - a22 * b3)) / det AS beta0,
    (a11 * (b2 * a33 - a23 * b3)
      - b1 * (a12 * a33 - a23 * a13)
      + a13 * (a12 * b3 - b2 * a13)) / det AS beta1,
    (a11 * (a22 * b3 - b2 * a23)
      - a12 * (a12 * b3 - b2 * a13)
      + b1 * (a12 * a23 - a22 * a13)) / det AS beta2
  FROM d
)
SELECT n AS n_rows,
       floor(beta0 * 1e6 + 0.5) / 1e6 AS beta0_s,
       floor(beta1 * 1e6 + 0.5) / 1e6 AS beta1_s,
       floor(beta2 * 1e6 + 0.5) / 1e6 AS beta2_s,
       floor((1.0 - (yy - beta0 * b1 - beta1 * b2 - beta2 * b3)
              / (yy - b1 * b1 / a11)) * 1e6 + 0.5) / 1e6 AS r2_s
FROM beta
"""


@register("ml_ols_normal_equations", oracle=_OLS_ORACLE)
def ml_ols_normal_equations(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Closed-form OLS (price ~ quantity + discount): one scan for
    the nine quantized moment sums, Cramer's-rule solve, R^2."""
    li = load(spark, sf_dir, "lineitem")
    qt, dc, pr = F.col("l_quantity"), F.col("l_discount"), \
        F.col("l_extendedprice")

    def iq(expr, scale):  # int64-quantized per-row term
        return F.sum(F.floor(expr * scale + F.lit(0.5)).cast("long")) \
            .cast("long")

    s = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        iq(qt, 1e6).alias("sx1"), iq(dc, 1e6).alias("sx2"),
        iq(qt * qt, 1e6).alias("s11"), iq(qt * dc, 1e6).alias("s12"),
        iq(dc * dc, 1e6).alias("s22"),
        iq(pr, 100).alias("sy"), iq(qt * pr, 100).alias("s1y"),
        iq(dc * pr, 100).alias("s2y"), iq(pr * pr, 0.01).alias("syy"),
    )
    m = s.select(
        "n", F.col("n").cast("double").alias("a11"),
        (F.col("sx1") / 1e6).alias("a12"), (F.col("sx2") / 1e6).alias("a13"),
        (F.col("s11") / 1e6).alias("a22"), (F.col("s12") / 1e6).alias("a23"),
        (F.col("s22") / 1e6).alias("a33"),
        (F.col("sy") / 100.0).alias("b1"), (F.col("s1y") / 100.0).alias("b2"),
        (F.col("s2y") / 100.0).alias("b3"),
        (F.col("syy") * 100.0).alias("yy"),
    )
    a11, a12, a13 = F.col("a11"), F.col("a12"), F.col("a13")
    a22, a23, a33 = F.col("a22"), F.col("a23"), F.col("a33")
    b1, b2, b3 = F.col("b1"), F.col("b2"), F.col("b3")
    det = (a11 * (a22 * a33 - a23 * a23)
           - a12 * (a12 * a33 - a23 * a13)
           + a13 * (a12 * a23 - a22 * a13))
    beta0 = (b1 * (a22 * a33 - a23 * a23)
             - a12 * (b2 * a33 - a23 * b3)
             + a13 * (b2 * a23 - a22 * b3)) / det
    beta1 = (a11 * (b2 * a33 - a23 * b3)
             - b1 * (a12 * a33 - a23 * a13)
             + a13 * (a12 * b3 - b2 * a13)) / det
    beta2 = (a11 * (a22 * b3 - b2 * a23)
             - a12 * (a12 * b3 - b2 * a13)
             + b1 * (a12 * a23 - a22 * a13)) / det
    sse = F.col("yy") - beta0 * b1 - beta1 * b2 - beta2 * b3
    sst = F.col("yy") - b1 * b1 / a11
    return m.select(
        F.col("n").alias("n_rows"),
        snap6(beta0).alias("beta0_s"), snap6(beta1).alias("beta1_s"),
        snap6(beta2).alias("beta2_s"),
        snap6(1.0 - sse / sst).alias("r2_s"),
    )


_KNN_NQ = 20


_KNN_K = 5


_KNNC_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS qid, label AS true_label,
         embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {_KNN_NQ}
),
c AS (
  SELECT vec_id AS nid, label, embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id >= {_KNN_NQ}
),
scored AS (
  SELECT qid, true_label, nid, label,
         CAST(floor(list_dot_product(qv, cv)
              / (sqrt(list_dot_product(qv, qv))
                 * sqrt(list_dot_product(cv, cv))) * 1e6 + 0.5)
           AS BIGINT) AS cosq
  FROM q JOIN c ON TRUE
),
top AS (
  SELECT qid, true_label, label FROM (
    SELECT *, row_number() OVER (PARTITION BY qid
                                 ORDER BY cosq DESC, nid) AS rn
    FROM scored
  ) WHERE rn <= {_KNN_K}
),
votes AS (
  SELECT qid, true_label, label, count(*) AS c
  FROM top GROUP BY qid, true_label, label
),
win AS (
  SELECT v.qid, v.true_label,
         min(v.label) AS pred_label, max(v.c) AS n_votes
  FROM votes v
  JOIN (SELECT qid, max(c) AS mc FROM votes GROUP BY qid) m
    ON m.qid = v.qid AND v.c = m.mc
  GROUP BY v.qid, v.true_label
)
SELECT qid, CAST(true_label AS BIGINT) AS true_label,
       CAST(pred_label AS BIGINT) AS pred_label,
       CAST(n_votes AS BIGINT) AS n_votes,
       pred_label = true_label AS correct
FROM win ORDER BY qid
"""


@register("ml_knn_classifier", oracle=_KNNC_ORACLE)
def ml_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5-NN majority-vote classification of 20 query vectors,
    deterministic tie rule."""
    from ..functions.vectors import as_double, dot, l2_norm
    from ..operators.ranking import grouped_rank

    emb = load(spark, sf_dir, "embeddings")
    # norms once per side, not re-folded per pair by cosine() --
    # same fold/sqrt/division, bit-identical q6 keys
    q = emb.where(F.col("vec_id") < _KNN_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("true_label"),
        as_double("embedding").alias("qv"),
        l2_norm(as_double("embedding")).alias("qn"))
    c = emb.where(F.col("vec_id") >= _KNN_NQ).select(
        F.col("vec_id").alias("nid"), "label",
        as_double("embedding").alias("cv"),
        l2_norm(as_double("embedding")).alias("cn"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .select("qid", "true_label", "nid", "label",
                (-q6(dot("qv", "cv") / (F.col("qn") * F.col("cn"))))
                .alias("ncosq"))
    )
    top = grouped_rank(scored, ["qid"], ["ncosq", "nid"], "rn",
                       known_group_count=_KNN_NQ) \
        .where(F.col("rn") <= _KNN_K)
    votes = top.groupBy("qid", "true_label", "label") \
        .agg(F.count(F.lit(1)).alias("c"))
    mx = votes.groupBy("qid").agg(F.max("c").alias("mc"))
    win = (
        votes.join(F.broadcast(mx), "qid")
        .where(F.col("c") == F.col("mc"))
        .groupBy("qid", "true_label")
        .agg(F.min("label").alias("pred_label"),
             F.max("c").alias("n_votes"))
    )
    return win.select(
        "qid", F.col("true_label").cast("long").alias("true_label"),
        F.col("pred_label").cast("long").alias("pred_label"),
        F.col("n_votes").cast("long").alias("n_votes"),
        (F.col("pred_label") == F.col("true_label")).alias("correct"),
    ).orderBy("qid")


_DB_EPS = 0.02


_DB_MINPTS = 3


_DBSCAN_ORACLE = f"""
WITH pts AS (
  SELECT c_custkey, {_coord_sql('c_custkey', 'cx')} AS x,
         {_coord_sql('c_custkey', 'cy')} AS y
  FROM customer
),
nbr AS (
  SELECT a.c_custkey AS p, b.c_custkey AS q
  FROM pts a JOIN pts b
    ON a.c_custkey <> b.c_custkey
   AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
       <= {_DB_EPS} * {_DB_EPS}
),
cnt AS (
  SELECT p.c_custkey, CAST(COALESCE(n.c, 0) AS BIGINT) AS n_neighbors
  FROM pts p LEFT JOIN (SELECT p AS k, count(*) AS c FROM nbr
                        GROUP BY p) n ON n.k = p.c_custkey
),
core AS (SELECT c_custkey FROM cnt WHERE n_neighbors >= {_DB_MINPTS}),
border AS (
  SELECT DISTINCT n.p AS c_custkey
  FROM nbr n JOIN core c ON c.c_custkey = n.q
  WHERE n.p NOT IN (SELECT c_custkey FROM core)
)
SELECT c.c_custkey, c.n_neighbors,
       CASE WHEN c.n_neighbors >= {_DB_MINPTS} THEN 'core'
            WHEN b.c_custkey IS NOT NULL THEN 'border'
            ELSE 'noise' END AS label
FROM cnt c LEFT JOIN border b ON b.c_custkey = c.c_custkey
ORDER BY c.c_custkey
"""


def eps_neighbor_pairs(pts: DataFrame,
                       eps: float = _DB_EPS) -> DataFrame:
    """(p, q) pairs within eps, via the 3x3 grid-cell equi-join +
    exact distance filter -- the plan-testable pre-checkpoint shape
    (the full query checkpoints this frame for its two consumers).
    ``eps`` is parameterized for tools/scale_probe.py, which shrinks
    it ~1/sqrt(k) to hold neighbor density constant as points grow."""
    spark = pts.sparkSession
    cell = pts.select(
        "c_custkey", "x", "y",
        F.floor(F.col("x") / eps).cast("long").alias("gx"),
        F.floor(F.col("y") / eps).cast("long").alias("gy"))
    offs = spark.range(9).select(
        (F.col("id") % 3 - 1).alias("ox"), (F.col("id") / 3).cast("long")
        .alias("oy3"))
    offs = offs.select("ox", (F.col("oy3") - 1).alias("oy"))
    probe = cell.crossJoin(F.broadcast(offs)).select(
        F.col("c_custkey").alias("p"), F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        (F.col("gx") + F.col("ox")).alias("gx"),
        (F.col("gy") + F.col("oy")).alias("gy"))
    build = cell.select(F.col("c_custkey").alias("q"),
                        F.col("x").alias("xb"), F.col("y").alias("yb"),
                        "gx", "gy")
    d2 = ((F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
          + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb")))
    return (
        probe.join(build, ["gx", "gy"])
        .where((F.col("p") != F.col("q"))
               & (d2 <= F.lit(eps * eps)))
        .select("p", "q")
    )


@register("ml_dbscan_labels", oracle=_DBSCAN_ORACLE)
def ml_dbscan_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN core/border/noise labels, eps-neighbors via the 3x3
    grid-cell join proven lossless by the all-pairs oracle."""
    cust = load(spark, sf_dir, "customer")
    pts = md5_points(cust, "c_custkey", "cx", "cy") \
        .localCheckpoint(eager=True)  # one md5 pass feeds both sides
    nbr = eps_neighbor_pairs(pts) \
        .localCheckpoint(eager=True)  # feeds the count AND border pass
    cnt = (
        pts.join(nbr.groupBy("p").agg(F.count(F.lit(1)).alias("c")),
                 pts["c_custkey"] == F.col("p"), "left")
        .select("c_custkey",
                F.coalesce(F.col("c"), F.lit(0)).cast("long")
                .alias("n_neighbors"))
    )
    core = cnt.where(F.col("n_neighbors") >= _DB_MINPTS) \
        .select(F.col("c_custkey").alias("core_id"))
    border = (
        nbr.join(core, nbr["q"] == F.col("core_id"))
        .select(F.col("p").alias("b_id")).distinct()
        .join(core, F.col("b_id") == F.col("core_id"), "left_anti")
    )
    return (
        cnt.join(border, cnt["c_custkey"] == F.col("b_id"), "left")
        .select("c_custkey", "n_neighbors",
                F.when(F.col("n_neighbors") >= _DB_MINPTS, "core")
                .when(F.col("b_id").isNotNull(), "border")
                .otherwise("noise").alias("label"))
        .orderBy("c_custkey")
    )
