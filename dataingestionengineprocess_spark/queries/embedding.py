"""Embedding-table surface (``embedding_``) over ``embeddings``.

Quantization (int8, binary), random projection, whitening, Procrustes
alignment, per-label centroids and centroid similarity, and outlier
screening. Vector math runs on built-in array functions over doubles
(functions/vectors.py) so Spark and DuckDB fold identical values in
identical order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, SparkSession

from ..catalog import load
from ..functions.exact import q6, snap6, snap6 as _snap6
from ..functions.vectors import as_double
from ..session import checkpoint
from . import register


_WHITEN_ORACLE = """
WITH x AS (
  SELECT vec_id, label, u.dim AS dim, u.val AS val FROM (
    SELECT vec_id, label,
           unnest([{'dim': i, 'val': CAST(e[i] AS DOUBLE)}
                   for i in range(1, len(e) + 1)]) AS u
    FROM (SELECT vec_id, label, embedding AS e FROM embeddings)
  )
),
stats AS (
  SELECT dim, avg(val) AS mu, stddev_samp(val) AS sigma FROM x GROUP BY dim
)
SELECT vec_id, label, x.dim AS dim,
       round((val - mu) / sigma, 6) AS w
FROM x JOIN stats ON x.dim = stats.dim
"""


@register("embedding_whitening", oracle=_WHITEN_ORACLE)
def embedding_whitening(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id", "label",
        F.posexplode(as_double("embedding")).alias("dim0", "val"),
    ).withColumn("dim", F.col("dim0") + 1).drop("dim0")
    stats = x.groupBy("dim").agg(
        F.avg("val").alias("mu"), F.stddev_samp("val").alias("sigma"))
    return (
        x.join(F.broadcast(stats), "dim")
        .select(
            "vec_id", "label", "dim",
            F.round((F.col("val") - F.col("mu")) / F.col("sigma"), 6).alias("w"),
        )
    )


_JL_IN = 64


_JL_OUT = 16


def _jl_sign(i: int, j: int) -> float:
    """+1/-1 from the parity of md5('i:j')'s first hex digit --
    bit-identical to the oracle's CASE over DuckDB md5."""
    import hashlib

    h = hashlib.md5(f"{i}:{j}".encode()).hexdigest()
    return 1.0 if int(h[0], 16) % 2 == 0 else -1.0


_JL_ORACLE = f"""
SELECT vec_id, label, u.j AS out_dim, u.v AS projected FROM (
  SELECT vec_id, label,
   unnest([{{'j': j - 1,
             'v': round(list_sum([e[i] *
        (CASE WHEN CAST('0x' || substr(md5((i-1) || ':' || (j-1)), 1, 1)
                   AS BIGINT) % 2 = 0 THEN 1.0 ELSE -1.0 END)
     for i in range(1, {_JL_IN + 1})]) / sqrt({_JL_OUT}.0), 6)}}
    for j in range(1, {_JL_OUT + 1})]) AS u
  FROM (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings)
)
"""


@register("embedding_random_projection", oracle=_JL_ORACLE)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output is LONG form (vec_id, label, out_dim, projected) -- one
    row per projected coordinate -- because the driver canonicalizer
    requires scalar-only result columns (no top-level array<double>,
    the round-2 failure mode). The projection itself is unchanged:
    map-only k x d multiply-adds inside codegen, zero shuffles."""
    import math

    emb = load(spark, sf_dir, "embeddings")
    e = as_double("embedding")
    cols = []
    for j in range(_JL_OUT):
        signs = F.array(*[F.lit(_jl_sign(i, j)) for i in range(_JL_IN)])
        acc = F.aggregate(
            F.zip_with(e, signs, lambda x, s: x * s),
            F.lit(0.0), lambda a, x: a + x,
        )
        cols.append(F.round(acc / math.sqrt(_JL_OUT), 6))
    return emb.select(
        "vec_id", "label",
        F.posexplode(F.array(*cols)).alias("out_dim", "projected"),
    )


_CENTROID_ORACLE = """
SELECT label, dim,
       count(*) AS n,
       round(avg(val), 6) AS mu
FROM (
  SELECT label, generate_subscripts(embedding, 1) AS dim,
         unnest(embedding) AS val
  FROM embeddings
)
GROUP BY label, dim
"""


@register("embedding_label_centroids", oracle=_CENTROID_ORACLE)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    x = emb.select(
        "label", F.posexplode("embedding").alias("dim0", "val")
    ).select("label", (F.col("dim0") + 1).alias("dim"),
             F.col("val").cast("double").alias("val"))
    return x.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("val"), 6).alias("mu"),
    )


_CENTROID_SIM_ORACLE = """
WITH cent AS (
  SELECT label, dim, round(avg(val), 6) AS mu
  FROM (
    SELECT label, generate_subscripts(embedding, 1) AS dim,
           unnest(embedding) AS val
    FROM embeddings
  )
  GROUP BY label, dim
),
pairs AS (
  SELECT a.label AS label_a, b.label AS label_b, a.dim,
         a.mu * b.mu AS dot_term, a.mu * a.mu AS na_term,
         b.mu * b.mu AS nb_term
  FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
),
folded AS (
  SELECT label_a, label_b,
         list_reduce(list_prepend(0.0, list(dot_term ORDER BY dim)),
                     (x, y) -> x + y) AS dot,
         list_reduce(list_prepend(0.0, list(na_term ORDER BY dim)),
                     (x, y) -> x + y) AS na,
         list_reduce(list_prepend(0.0, list(nb_term ORDER BY dim)),
                     (x, y) -> x + y) AS nb
  FROM pairs GROUP BY 1, 2
)
SELECT label_a, label_b,
       floor(dot / sqrt(na) / sqrt(nb) * 1e6 + 0.5) / 1e6 AS cosine
FROM folded
"""


@register("embedding_centroid_similarity", oracle=_CENTROID_SIM_ORACLE)
def embedding_centroid_similarity(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    cent = (
        emb.select("label", F.posexplode("embedding").alias("dim0", "val"))
        .select("label", (F.col("dim0") + 1).alias("dim"),
                F.col("val").cast("double").alias("val"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg("val"), 6).alias("mu"))
    )
    a = cent.select(F.col("label").alias("label_a"), "dim",
                    F.col("mu").alias("mu_a"))
    b = cent.select(F.col("label").alias("label_b"),
                    F.col("dim").alias("dim_b"), F.col("mu").alias("mu_b"))
    pairs = a.join(
        F.broadcast(b),
        (F.col("dim") == F.col("dim_b"))
        & (F.col("label_a") < F.col("label_b")),
    )

    def fold(term):
        return F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", term.alias("t")))),
                lambda s: s.getField("t"),
            ),
            F.lit(0.0), lambda acc, x: acc + x,
        )

    folded = pairs.groupBy("label_a", "label_b").agg(
        fold(F.col("mu_a") * F.col("mu_b")).alias("dot"),
        fold(F.col("mu_a") * F.col("mu_a")).alias("na"),
        fold(F.col("mu_b") * F.col("mu_b")).alias("nb"),
    )
    return folded.select(
        "label_a", "label_b",
        (F.floor(F.col("dot") / F.sqrt("na") / F.sqrt("nb") * 1e6
                 + F.lit(0.5)) / 1e6).alias("cosine"),
    )


_INT8_DIM = 64


_INT8_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
s AS (
  SELECT vec_id, v,
         list_max([abs(x) for x in v]) / 127 AS scale
  FROM e
),
q AS (
  SELECT vec_id, v, scale,
         CASE WHEN scale = 0 THEN [0 for x in v]
              ELSE [greatest(-127, least(127,
                       CAST(floor(x / scale + 0.5) AS BIGINT)))
                    for x in v] END AS code
  FROM s
)
SELECT vec_id,
       floor(scale * 1e6 + 0.5) / 1e6 AS scale_s,
       CAST(list_sum([abs(c) for c in code]) AS BIGINT) AS code_l1,
       floor(list_sum([(v[i] - code[i] * scale)
                       * (v[i] - code[i] * scale)
                       for i in range(1, {_INT8_DIM + 1})])
             / {_INT8_DIM} * 1e9 + 0.5) / 1e9 AS mse_s
FROM q
ORDER BY vec_id
"""


@register("embedding_quantize_int8", oracle=_INT8_ORACLE)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantize each embedding to int8 (per-vector absmax scale,
    round-half-up, clamp to [-127, 127]), then report the scale, the
    L1 mass of the codes (proves every code byte, not just the
    stats), and the reconstruction MSE via an index-ordered fold.

    Scale: map-only -- quantization fuses into the scan; at 100 TB
    this runs at I/O speed and is exactly the compression pass you
    run before shipping vectors to an ANN index."""
    emb = load(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d = emb.select("vec_id", v.alias("v")).withColumn(
        "scale", F.array_max(F.transform(F.col("v"), F.abs)) / 127
    ).withColumn(
        "code",
        F.when(F.col("scale") == 0,
               F.transform(F.col("v"), lambda x: F.lit(0).cast("long")))
        .otherwise(F.transform(
            F.col("v"),
            lambda x: F.greatest(
                F.lit(-127).cast("long"),
                F.least(F.lit(127).cast("long"),
                        F.floor(x / F.col("scale") + F.lit(0.5))),
            ),
        )),
    )
    mse = F.aggregate(
        F.zip_with(
            F.col("v"), F.col("code"),
            lambda x, c: (x - c * F.col("scale"))
            * (x - c * F.col("scale")),
        ),
        F.lit(0.0), lambda acc, x: acc + x,
    ) / _INT8_DIM
    return d.select(
        "vec_id",
        (F.floor(F.col("scale") * 1e6 + F.lit(0.5)) / 1e6).alias("scale_s"),
        F.aggregate(
            F.transform(F.col("code"), F.abs),
            F.lit(0).cast("long"), lambda acc, x: acc + x,
        ).alias("code_l1"),
        (F.floor(mse * 1e9 + F.lit(0.5)) / 1e9).alias("mse_s"),
    ).orderBy("vec_id")


_OUTLIER_ORACLE = """
WITH comp AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) AS dim,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6 + 0.5)
              AS BIGINT) AS xq
  FROM embeddings
),
stats AS (
  SELECT label, dim, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(xq AS HUGEINT)) AS sx,
         sum(CAST(xq AS HUGEINT) * xq) AS sxx
  FROM comp GROUP BY label, dim
),
terms AS (
  SELECT c.vec_id, c.label,
         CASE WHEN s.n * s.sxx - s.sx * s.sx > 0 THEN
           CAST(floor(
             (CAST(c.xq AS DOUBLE) - CAST(s.sx AS DOUBLE) / s.n)
             * (CAST(c.xq AS DOUBLE) - CAST(s.sx AS DOUBLE) / s.n)
             / (CAST(s.n * s.sxx - s.sx * s.sx AS DOUBLE)
                / (CAST(s.n AS DOUBLE) * s.n))
             * 1e6 + 0.5) AS BIGINT)
         ELSE CAST(0 AS BIGINT) END AS zq
  FROM comp c JOIN stats s ON s.label = c.label AND s.dim = c.dim
),
m2 AS (
  SELECT vec_id, label,
         floor(sum(zq) / 1e6 * 1e6 + 0.5) / 1e6 AS m2_s
  FROM terms GROUP BY vec_id, label
),
top AS (
  SELECT label, vec_id, m2_s,
         row_number() OVER (PARTITION BY label
                            ORDER BY m2_s DESC, vec_id) AS rk
  FROM m2
)
SELECT label, vec_id, m2_s, CAST(rk AS BIGINT) AS rk
FROM top WHERE rk <= 5
ORDER BY label, rk
"""


@register("embedding_outlier_zscore", oracle=_OUTLIER_ORACLE)
def embedding_outlier_zscore(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Top-5 per-label embedding outliers by diagonal Mahalanobis
    distance over 1e-6-quantized components."""
    emb = load(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id", "label",
        F.posexplode("embedding").alias("dim0", "val"),
    ).select(
        "vec_id", "label", (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("val").cast("double") * 1e6 + 0.5).cast("long")
        .alias("xq"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    stats = comp.groupBy("label", "dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec(F.col("xq"))).alias("sx"),
        F.sum(dec(F.col("xq")) * F.col("xq")).alias("sxx"),
    )
    var_num = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    mean = F.col("sx").cast("double") / F.col("n")
    var = var_num.cast("double") / (F.col("n").cast("double") * F.col("n"))
    zq = F.when(
        var_num > 0,
        F.floor((F.col("xq").cast("double") - mean)
                * (F.col("xq").cast("double") - mean) / var
                * 1e6 + 0.5).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    terms = comp.join(F.broadcast(stats), ["label", "dim"]) \
        .select("vec_id", "label", zq.alias("zq"))
    m2 = terms.groupBy("vec_id", "label").agg(
        _snap6(F.sum("zq") / 1e6).alias("m2_s"))
    # labels are a small bounded universe: a per-label rank window
    # would funnel each label's whole vector population through one
    # task. Rank distributed instead (descending m2 via negation --
    # grouped_rank orders ascending).
    from ..operators.ranking import grouped_rank

    top = grouped_rank(
        m2.withColumn("__neg", -F.col("m2_s")),
        ["label"], ["__neg", "vec_id"], "rk",
        # label: fixed generator enum (10 values) -- skip the probe.
        known_group_count=16).drop("__neg")
    return (top.where(F.col("rk") <= 5)
            .select("label", "vec_id", "m2_s", "rk")
            .orderBy("label", "rk"))


_BQ_NQ = 5         # query vectors: vec_id < 5


_BQ_CAND = 32      # Hamming candidates per query


_BQ_TOPK = 5       # re-ranked output per query


_BQ_WORDS_SQL = """
bits AS (
  SELECT vec_id, j,
         CASE WHEN (embedding::DOUBLE[])[j + 1] > 0 THEN 1 ELSE 0 END
           AS b
  FROM embeddings CROSS JOIN (SELECT unnest(range(64)) AS j)
),
words AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN j < 32 THEN b * power(2, j) ELSE 0 END)
              AS BIGINT) AS w1,
         CAST(sum(CASE WHEN j >= 32 THEN b * power(2, j - 32) ELSE 0 END)
              AS BIGINT) AS w2
  FROM bits GROUP BY vec_id
)
"""


_BQ_ORACLE = f"""
WITH {_BQ_WORDS_SQL},
ham AS (
  SELECT q.vec_id AS qid, c.vec_id AS nid,
         bit_count(xor(q.w1, c.w1)) + bit_count(xor(q.w2, c.w2))
           AS hamming
  FROM words q JOIN words c ON q.vec_id < {_BQ_NQ}
                            AND c.vec_id <> q.vec_id
),
cand AS (
  SELECT qid, nid, hamming,
         row_number() OVER (PARTITION BY qid
                            ORDER BY hamming, nid) AS hr
  FROM ham
),
rer AS (
  SELECT c.qid, c.nid, c.hamming,
         CAST(floor(list_dot_product(qe.embedding::DOUBLE[],
                                     ce.embedding::DOUBLE[])
              / (sqrt(list_dot_product(qe.embedding::DOUBLE[],
                                       qe.embedding::DOUBLE[]))
                 * sqrt(list_dot_product(ce.embedding::DOUBLE[],
                                         ce.embedding::DOUBLE[])))
              * 1e6 + 0.5) AS BIGINT) AS cosq
  FROM cand c
  JOIN embeddings qe ON qe.vec_id = c.qid
  JOIN embeddings ce ON ce.vec_id = c.nid
  WHERE c.hr <= {_BQ_CAND}
),
final AS (
  SELECT qid, nid, CAST(hamming AS BIGINT) AS hamming,
         cosq / 1e6 AS cos_s,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cosq DESC, nid) AS rr
  FROM rer
)
SELECT qid, nid, hamming, cos_s
FROM final WHERE rr <= {_BQ_TOPK} ORDER BY qid, cos_s DESC, nid
"""


def _sign_words(emb: DataFrame) -> DataFrame:
    """(vec_id, w1, w2): the 64 sign bits packed into two 32-bit
    words -- posexplode + one groupBy, never a per-row UDF."""
    from ..functions.vectors import as_double

    bit = (F.col("val") > 0).cast("long")
    return (
        emb.select("vec_id",
                   F.posexplode(as_double("embedding"))
                   .alias("j", "val"))
        .groupBy("vec_id")
        .agg(F.sum(F.when(F.col("j") < 32,
                          bit * F.pow(F.lit(2.0), F.col("j")))
                   .otherwise(0.0)).cast("long").alias("w1"),
             F.sum(F.when(F.col("j") >= 32,
                          bit * F.pow(F.lit(2.0), F.col("j") - 32))
                   .otherwise(0.0)).cast("long").alias("w2"))
    )


@register("embedding_binary_quantize", oracle=_BQ_ORACLE)
def embedding_binary_quantize(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Sign-bit binary quantization ANN: Hamming top-32 candidates
    (bit_count(xor) over two packed words) re-ranked by exact cosine
    to top-5 per query. grouped_rank for both per-query ranks (query
    universe = {_BQ_NQ}, bounded)."""
    from ..functions.vectors import as_double, dot, l2_norm
    from ..operators.ranking import grouped_rank

    emb = load(spark, sf_dir, "embeddings")
    words = checkpoint(_sign_words(emb))
    qw = words.where(F.col("vec_id") < _BQ_NQ).select(
        F.col("vec_id").alias("qid"), F.col("w1").alias("qw1"),
        F.col("w2").alias("qw2"))
    ham = (
        words.crossJoin(F.broadcast(qw))
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("nid"),
                (F.bit_count(F.col("w1").bitwiseXOR(F.col("qw1")))
                 + F.bit_count(F.col("w2").bitwiseXOR(F.col("qw2"))))
                .cast("long").alias("hamming"))
    )
    cand = grouped_rank(ham, ["qid"], ["hamming", "nid"], "hr",
                        known_group_count=_BQ_NQ) \
        .where(F.col("hr") <= _BQ_CAND)
    # norms computed once per side, not re-folded per candidate pair
    # (same fold/sqrt/division as cosine() -- bit-identical q6 values)
    vecs = emb.select("vec_id", as_double("embedding").alias("v")) \
        .withColumn("n", l2_norm(F.col("v")))
    qv = vecs.select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"),
                     F.col("n").alias("qn"))
    cv = vecs.select(F.col("vec_id").alias("nid"), F.col("v").alias("cv"),
                     F.col("n").alias("cn"))
    rer = (
        cand.join(F.broadcast(qv), "qid").join(cv, "nid")
        .select("qid", "nid", "hamming",
                q6(dot(F.col("qv"), F.col("cv"))
                   / (F.col("qn") * F.col("cn"))).alias("cosq"))
        # derive, don't re-fold: the 64-dim cosine aggregate doesn't
        # codegen, so repeating it would compute the fold twice
        .withColumn("ncosq", -F.col("cosq"))
    )
    top = grouped_rank(rer, ["qid"], ["ncosq", "nid"], "rr",
                       known_group_count=_BQ_NQ) \
        .where(F.col("rr") <= _BQ_TOPK)
    return (
        top.select("qid", "nid", "hamming",
                   (F.col("cosq") / 1e6).alias("cos_s"))
        .orderBy("qid", F.desc("cos_s"), "nid")
    )


_PROC_ORACLE = """
WITH e AS (
  SELECT (embedding::DOUBLE[])[1] AS ax, (embedding::DOUBLE[])[2] AS ay,
         (embedding::DOUBLE[])[3] AS bx, (embedding::DOUBLE[])[4] AS by
  FROM embeddings
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CAST(floor((ax * bx + ay * by) * 1e6 + 0.5) AS BIGINT))
      AS BIGINT) AS sdot,
    CAST(sum(CAST(floor((ax * by - ay * bx) * 1e6 + 0.5) AS BIGINT))
      AS BIGINT) AS scross,
    CAST(sum(CAST(floor((ax * ax + ay * ay + bx * bx + by * by) * 1e6
      + 0.5) AS BIGINT)) AS BIGINT) AS snorm
  FROM e
),
t AS (
  SELECT n, sdot / 1e6 AS sd, scross / 1e6 AS sc, snorm / 1e6 AS sn,
         atan2(scross / 1e6, sdot / 1e6) AS theta
  FROM s
)
SELECT n AS n_rows,
       floor(theta * 1e6 + 0.5) / 1e6 AS theta_s,
       floor((sn - 2.0 * sd) * 1e6 + 0.5) / 1e6 AS sse_before_s,
       floor((sn - 2.0 * (cos(theta) * sd + sin(theta) * sc)) * 1e6
             + 0.5) / 1e6 AS sse_after_s
FROM t
"""


@register("embedding_procrustes_2d", oracle=_PROC_ORACLE)
def embedding_procrustes_2d(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Closed-form 2-D orthogonal Procrustes: rotation angle + SSE
    before/after from four quantized moment sums, one scan."""
    from ..functions.vectors import as_double

    e = load(spark, sf_dir, "embeddings").select(
        as_double("embedding").alias("v"))
    ax, ay = F.element_at("v", 1), F.element_at("v", 2)
    bx, by = F.element_at("v", 3), F.element_at("v", 4)

    def iq(expr):
        return F.sum(F.floor(expr * 1e6 + F.lit(0.5)).cast("long")) \
            .cast("long")

    s = e.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        iq(ax * bx + ay * by).alias("sdot"),
        iq(ax * by - ay * bx).alias("scross"),
        iq(ax * ax + ay * ay + bx * bx + by * by).alias("snorm"),
    )
    theta = F.atan2(F.col("scross") / 1e6, F.col("sdot") / 1e6)
    sd, sc, sn = (F.col("sdot") / 1e6, F.col("scross") / 1e6,
                  F.col("snorm") / 1e6)
    return s.select(
        F.col("n").alias("n_rows"),
        snap6(theta).alias("theta_s"),
        snap6(sn - 2.0 * sd).alias("sse_before_s"),
        snap6(sn - 2.0 * (F.cos(theta) * sd + F.sin(theta) * sc))
        .alias("sse_after_s"),
    )
