"""Sampling surface (``sample_``): stratified, weighted and quota samples.

md5-keyed stratified and systematic samples, Neyman allocation and
quota application. Every draw is a deterministic function of a hash
both engines compute, so each sample has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, SparkSession, Window as W

from ..catalog import load
from ..functions.exact import snap6
from ..functions.text import md5_bucket
from . import register


_STRAT_SAMPLE_FRACTIONS = {"en": 0.25, "de": 0.5, "fr": 0.5, "es": 0.5}


_STRAT_SAMPLE_CERT_ORACLE = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(CASE lang WHEN 'en' THEN 0.25 WHEN 'de' THEN 0.5
                      WHEN 'fr' THEN 0.5 WHEN 'es' THEN 0.5
                      ELSE 1.0 END AS DOUBLE) AS target_rate,
       TRUE AS ok
FROM documents GROUP BY lang ORDER BY lang NULLS FIRST
"""


@register("sample_stratified_corpus", oracle=_STRAT_SAMPLE_CERT_ORACLE)
def sample_stratified_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language stratified sample via xxhash64 bucket filter --
    the deployable scan-speed sampler, audited as a certificate: one
    row per stratum with its (engine-independent) universe size and
    target rate, plus a rate-tolerance boolean -- exact equality for
    keep-whole strata, +-0.15 absolute for hashed ones.
    `sample_md5_stratified` hash-checks the same policy keyed on md5
    row-for-row; the sampled-row surface stays available via
    `stratified_hash_sample`."""
    from ..operators.sampling import stratified_hash_sample

    docs = load(spark, sf_dir, "documents")
    sampled = stratified_hash_sample(
        docs, "lang", _STRAT_SAMPLE_FRACTIONS,
        key_cols=["doc_id"], default_fraction=1.0,
    )
    totals = docs.groupBy("lang").agg(F.count("*").alias("n_total"))
    # null-safe join: a NULL-lang stratum groups on both sides but a
    # plain equi-join would never match it, reporting n_sampled = 0
    # for rows the default_fraction=1.0 policy actually kept
    counts = (
        sampled.groupBy(F.col("lang").alias("s_lang"))
        .agg(F.count("*").alias("n_sampled"))
    )
    target = F.coalesce(
        *[F.when(F.col("lang") == s, F.lit(f))
          for s, f in sorted(_STRAT_SAMPLE_FRACTIONS.items())],
        F.lit(1.0),
    )
    return (
        totals.join(counts,
                    F.col("lang").eqNullSafe(F.col("s_lang")), "left")
        .drop("s_lang")
        .withColumn("n_sampled", F.coalesce(F.col("n_sampled"), F.lit(0)))
        .withColumn("target_rate", target)
        .select(
            "lang",
            "n_total",
            "target_rate",
            F.when(F.col("target_rate") == 1.0,
                   F.col("n_sampled") == F.col("n_total"))
            .otherwise(
                F.abs(F.col("n_sampled") / F.col("n_total")
                      - F.col("target_rate")) <= 0.15)
            .alias("ok"),
        )
        .orderBy("lang")
    )


_MD5_SAMPLE_ORACLE = """
WITH b AS (
  SELECT doc_id, lang,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)
              AS BIGINT) % 1000 AS bucket
  FROM documents
)
SELECT doc_id, lang, bucket
FROM b
WHERE bucket < CASE lang WHEN 'en' THEN 250 ELSE 500 END
"""


@register("sample_md5_stratified", oracle=_MD5_SAMPLE_ORACLE)
def sample_md5_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    bucket = md5_bucket(F.col("doc_id").cast("string"), 1000)
    cut = F.when(F.col("lang") == "en", 250).otherwise(500)
    return (
        docs.select("doc_id", "lang", bucket.alias("bucket"))
        .filter(F.col("bucket") < cut)
    )


_WSAMPLE_K = 50


_WSAMPLE_ORACLE = f"""
WITH c AS (
  SELECT doc_id, n_chars,
         sum(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum,
         sum(n_chars) OVER () AS total
  FROM documents
)
SELECT doc_id, n_chars FROM c
WHERE (cum // greatest(1, total // {_WSAMPLE_K}))
    > ((cum - n_chars) // greatest(1, total // {_WSAMPLE_K}))
"""


@register("sample_weighted_systematic", oracle=_WSAMPLE_ORACLE)
def sample_weighted_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import systematic_weighted_sample

    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return systematic_weighted_sample(
        d, weight_col="n_chars", order_col="doc_id", k=_WSAMPLE_K
    )


_APPLY_K = 200


_APPLY_ORACLE = f"""
WITH strata AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY lang, source
),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM strata),
base AS (
  SELECT s.lang, s.source, s.n_docs,
         CAST(({_APPLY_K} * s.n_docs) // t.n AS BIGINT) AS floor_q,
         CAST(({_APPLY_K} * s.n_docs) % t.n AS BIGINT) AS rem
  FROM strata s CROSS JOIN tot t
),
quota AS (
  SELECT lang, source, n_docs,
         CAST(floor_q + CASE WHEN
              row_number() OVER (ORDER BY rem DESC, lang, source)
              <= {_APPLY_K} - (SELECT sum(floor_q) FROM base)
              THEN 1 ELSE 0 END AS BIGINT) AS quota
  FROM base
),
ranked AS (
  SELECT d.lang, d.source, d.doc_id,
         row_number() OVER (PARTITION BY d.lang, d.source
                            ORDER BY md5(CAST(d.doc_id AS VARCHAR)),
                                     d.doc_id) AS rk
  FROM documents d
),
drawn AS (
  SELECT r.lang, r.source, r.doc_id
  FROM ranked r JOIN quota q
    ON q.lang = r.lang AND q.source = r.source
  WHERE r.rk <= least(q.quota, q.n_docs)
)
SELECT q.lang, q.source, q.n_docs, q.quota,
       CAST(COALESCE(count(d.doc_id), 0) AS BIGINT) AS n_sampled,
       md5(COALESCE(string_agg(d.doc_id, ',' ORDER BY d.doc_id), ''))
         AS sample_md5
FROM quota q LEFT JOIN drawn d
  ON d.lang = q.lang AND d.source = q.source
GROUP BY q.lang, q.source, q.n_docs, q.quota
ORDER BY q.lang, q.source
"""


@register("sample_quota_apply", oracle=_APPLY_ORACLE)
def sample_quota_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamilton quotas at K=200 applied: md5-ranked draw per stratum,
    selection pinned by an md5 digest of the ordered ids."""
    from ..operators.sampling import hamilton_quota

    docs = load(spark, sf_dir, "documents")
    strata = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"))
    # Shared apportionment algebra (operators/sampling.py) -- same
    # remainder ranking as agg_largest_remainder_quota, K=200.
    quota = hamilton_quota(strata, _APPLY_K).select(
        "lang", "source", "n_docs", "quota")
    ranked = docs.select(
        "lang", "source", "doc_id",
        F.row_number().over(
            W.partitionBy("lang", "source")
            .orderBy(F.md5(F.col("doc_id").cast("string").cast("binary")),
                     "doc_id")).alias("rk"),
    )
    drawn = (
        ranked.join(F.broadcast(quota), ["lang", "source"])
        .where(F.col("rk") <= F.least(F.col("quota"), F.col("n_docs")))
        .select("lang", "source", "doc_id")
    )
    digest = F.md5(
        F.coalesce(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("doc_id")),
                            lambda x: x.cast("string")), ","),
            F.lit("")).cast("binary"))
    agg = drawn.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        digest.alias("sample_md5"),
    )
    return (
        quota.join(agg, ["lang", "source"], "left")
        .select(
            "lang", "source", "n_docs", "quota",
            F.coalesce(F.col("n_sampled"), F.lit(0)).cast("long")
            .alias("n_sampled"),
            F.coalesce(F.col("sample_md5"),
                       F.md5(F.lit("").cast("binary"))).alias("sample_md5"),
        )
        .orderBy("lang", "source")
    )


_NEYMAN_K = 100


_NEYMAN_ORACLE = f"""
WITH s AS (
  SELECT c_mktsegment,
         CAST(count(*) AS BIGINT) AS n_h,
         CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
           AS BIGINT) AS sx,
         CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
           * CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS sxx
  FROM customer GROUP BY c_mktsegment
),
w AS (
  SELECT c_mktsegment, n_h,
         sqrt((sxx - CAST(sx AS DOUBLE) * sx / n_h) / (n_h - 1))
           / 100.0 AS sd,
         CAST(floor(n_h * (sqrt((sxx - CAST(sx AS DOUBLE) * sx / n_h)
           / (n_h - 1)) / 100.0) * 100 + 0.5) AS BIGINT) AS wq
  FROM s
),
tot AS (SELECT CAST(sum(wq) AS BIGINT) AS n FROM w),
base AS (
  SELECT w.c_mktsegment, w.n_h, w.sd, w.wq,
         CAST(({_NEYMAN_K} * w.wq) // t.n AS BIGINT) AS floor_q,
         CAST(({_NEYMAN_K} * w.wq) % t.n AS BIGINT) AS rem
  FROM w CROSS JOIN tot t
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, c_mktsegment) AS rk,
         CAST({_NEYMAN_K} AS BIGINT)
           - CAST(sum(floor_q) OVER () AS BIGINT) AS leftover
  FROM base
)
SELECT c_mktsegment, n_h,
       floor(sd * 1e6 + 0.5) / 1e6 AS sd_s,
       CAST(floor_q + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS n_alloc
FROM ranked ORDER BY c_mktsegment
"""


@register("sample_neyman_allocation", oracle=_NEYMAN_ORACLE)
def sample_neyman_allocation(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Neyman optimal stratified allocation of a 100-draw budget
    across market segments via the shared Hamilton apportionment."""
    from ..operators.sampling import hamilton_quota

    cust = load(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
    s = cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum(cents).cast("long").alias("sx"),
        F.sum(cents * cents).cast("long").alias("sxx"),
    )
    sd = (F.sqrt((F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
                  / F.col("n_h")) / (F.col("n_h") - 1)) / 100.0)
    w = s.select(
        "c_mktsegment", "n_h", sd.alias("sd"),
        F.floor(F.col("n_h") * sd * 100 + F.lit(0.5)).cast("long")
        .alias("wq"))
    quota = hamilton_quota(w.select("c_mktsegment", "wq"), _NEYMAN_K,
                           n_col="wq", key_cols=("c_mktsegment",))
    return (
        w.join(quota.select("c_mktsegment",
                            F.col("quota").alias("n_alloc")),
               "c_mktsegment")
        .select("c_mktsegment", "n_h", snap6(F.col("sd")).alias("sd_s"),
                F.col("n_alloc").cast("long").alias("n_alloc"))
        .orderBy("c_mktsegment")
    )
