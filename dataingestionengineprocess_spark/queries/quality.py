"""Data-quality surface (``quality_``, ``entity_``): profiling, rules and drift.

Column and key profiling, foreign-key orphans, sequence gaps,
cross-field rules, outlier fences, Benford and drift screens, language
ID confusion, classifier-score calibration and entity resolution.
The hashed linear quality classifier (``classifier_score``) that text,
dedup, curation and stream queries share lives here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, SparkSession, Window as W

from ..catalog import load
from ..functions.exact import snap6 as _snap6
from ..functions.text import lang_id, LANG_MARKERS, md5_bucket, tokens
from ..operators.skew import spread_input
from . import register
from .join import join_fuzzy_levenshtein


_N_BUCKETS = 4096


_MIX = 2654435761  # Knuth multiplicative-hash constant


_SCALE = 8.0


_BIAS = 0.1


def weight_of(tok):
    """Deterministic per-token weight: md5 -> bucket -> mixed weight in
    [-0.5, 0.5]. Engine-portable (md5 + integer arithmetic only)."""
    bucket = md5_bucket(tok, _N_BUCKETS)
    return (bucket * F.lit(_MIX)) % 100001 / F.lit(100000.0) - 0.5


def classifier_score(text_col):
    """The full classifier score expression -- sigmoid(SCALE * mean
    token weight + BIAS) -- shared by every consumer of the gate
    (batch query, streaming gate, quality resampler, pipeline Rule)
    so the formula lives in exactly one Spark site.

    Boundary caveat (applies to any predicate ON the score, e.g.
    ``>= 0.5`` or the resampler's hash coin): the score is
    transcendental, so two engines can disagree in the last ulp; a
    membership predicate flips only when the score sits within ~1e-16
    of the threshold, i.e. with probability ~1e-10 per document --
    negligible at gate scale, but not the pure-integer certainty of
    the md5-membership samplers."""
    toks = tokens(text_col)
    wsum = F.aggregate(
        F.transform(toks, lambda t: weight_of(t)),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    return 1.0 / (1.0 + F.exp(-(F.lit(_SCALE) * wsum / F.size(toks)
                                + F.lit(_BIAS))))


def classifier_score_sql(toks_sql: str) -> str:
    """The identical score as a DuckDB SQL expression over a token-list
    expression -- the single source for every oracle that embeds the
    classifier."""
    return (
        f"1.0 / (1.0 + exp(-({_SCALE} * list_sum(list_transform({toks_sql}, "
        f"tok -> ((CAST('0x' || substr(md5(tok), 1, 6) AS BIGINT) "
        f"% {_N_BUCKETS}) * {_MIX}) % 100001 / 100000.0 - 0.5)) "
        f"/ len({toks_sql}) + {_BIAS})))"
    )


def _source_quality_oracle() -> str:
    score = classifier_score_sql("string_split(text, ' ')")
    return f"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg({score}), 6) AS mean_score,
       round(avg(CASE WHEN {score} >= 0.5 THEN 1.0 ELSE 0.0 END), 6)
           AS keep_rate
FROM documents
GROUP BY source
"""


@register("quality_report_by_source", oracle=_source_quality_oracle())
def quality_report_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    score = classifier_score("text")
    return (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg(score), 6).alias("mean_score"),
            F.round(F.avg(F.when(score >= 0.5, 1.0).otherwise(0.0)), 6)
            .alias("keep_rate"),
        )
    )


def _calibration_oracle() -> str:
    score = classifier_score_sql("string_split(text, ' ')")
    return f"""
WITH s AS (SELECT doc_id, lang, round({score}, 6) AS score FROM documents)
SELECT doc_id, lang, score,
       round(percent_rank() OVER (ORDER BY score, doc_id), 6) AS calibrated
FROM s
"""


def _calibration_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partitioned locally-ranked frame (pre-checkpoint): split
    out so the plan-shape test can prove the rank window is partitioned
    by __pid (the checkpoint in the query proper hides the window
    behind a LogicalRDD scan)."""
    scored = (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id", "lang",
            F.round(classifier_score("text"), 6).alias("score"),
        )
        .repartitionByRange(8, "score", "doc_id")
        .withColumn("__pid", F.spark_partition_id())
    )
    # local rank inside each range partition: parallel sorts, each
    # bounded by its partition's rows
    wp = W.partitionBy("__pid").orderBy("score", "doc_id")
    return scored.withColumn("__rn", F.row_number().over(wp))


@register("quality_score_calibration", oracle=_calibration_oracle())
def quality_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pin the partition assignment: repartitionByRange SAMPLES its
    # boundaries per execution, so without this the three consumers
    # below (ranked rows, counts, total) could observe different __pid
    # layouts whenever exchange reuse is disabled -- offsets would then
    # misalign with ranks. localCheckpoint materializes the ranked
    # frame once; every consumer reads the same snapshot.
    local = _calibration_ranked(spark, sf_dir).localCheckpoint()
    # per-partition counts -> exclusive prefix offsets + global N:
    # a #partitions-row table, trivially window-able
    counts = local.groupBy("__pid").agg(F.count("*").alias("__c"))
    wo = W.orderBy("__pid").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.select(
        "__pid",
        F.coalesce(F.sum("__c").over(wo), F.lit(0)).alias("__off"),
    )
    total = counts.agg(F.sum("__c").alias("__n"))
    return (
        local.join(F.broadcast(offsets), "__pid")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id", "lang", "score",
            F.round(
                # greatest(.., 1) guards the single-document corpus:
                # __n == 1 would divide by zero (Spark NULL) while the
                # oracle's percent_rank yields 0.0 -- with the guard the
                # numerator is 0 and both engines agree on 0.0.
                (F.col("__off") + F.col("__rn") - 1)
                / F.greatest(F.col("__n") - 1, F.lit(1)),
                6,
            ).alias("calibrated"),
        )
    )


_OUTLIER_ORACLE = """
WITH fences AS (
  SELECT lang,
         quantile_cont(n_chars, 0.25) AS q1,
         quantile_cont(n_chars, 0.75) AS q3
  FROM documents GROUP BY lang
)
SELECT d.lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (
         WHERE d.n_chars < q1 - 1.5 * (q3 - q1)
            OR d.n_chars > q3 + 1.5 * (q3 - q1)) AS BIGINT) AS n_outliers,
       round(q1, 4) AS q1, round(q3, 4) AS q3
FROM documents d JOIN fences USING (lang)
GROUP BY d.lang, q1, q3
"""


@register("quality_outlier_fences", oracle=_OUTLIER_ORACLE)
def quality_outlier_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    fences = d.groupBy("lang").agg(
        F.percentile("n_chars", F.lit(0.25)).alias("q1"),
        F.percentile("n_chars", F.lit(0.75)).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    is_outlier = (
        (F.col("n_chars") < F.col("q1") - 1.5 * iqr)
        | (F.col("n_chars") > F.col("q3") + 1.5 * iqr)
    )
    return (
        d.join(F.broadcast(fences), "lang")
        .groupBy("lang", "q1", "q3")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(is_outlier.cast("long")).alias("n_outliers"),
        )
        .select(
            "lang", "n_docs", "n_outliers",
            F.round("q1", 4).alias("q1"), F.round("q3", 4).alias("q3"),
        )
    )


_PROFILE_COLS = ("o_orderkey", "o_custkey", "o_orderstatus",
                 "o_totalprice", "o_orderpriority")


_PROFILE_ORACLE = " UNION ALL ".join(
    f"""SELECT '{c}' AS column_name,
        CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
        CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
        CAST(min({c}) AS VARCHAR) AS min_value,
        CAST(max({c}) AS VARCHAR) AS max_value
        FROM orders"""
    for c in _PROFILE_COLS
)


@register("quality_profile_orders", oracle=_PROFILE_ORACLE)
def quality_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            (F.count("*") - F.count(c)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = o.agg(*aggs)
    stack_expr = ", ".join(
        f"'{c}', `{c}__nulls`, `{c}__distinct`, `{c}__min`, `{c}__max`"
        for c in _PROFILE_COLS
    )
    return wide.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_expr}) AS "
        "(column_name, n_nulls, n_distinct, min_value, max_value)"
    )


_DRIFT_SPLIT = "1998-01-01"


_DRIFT_ORACLE = f"""
WITH src AS (
  SELECT CASE WHEN o_orderdate < TIMESTAMP '{_DRIFT_SPLIT}'
              THEN 'ref' ELSE 'cur' END AS which,
         o_orderpriority,
         CAST(CAST(floor(o_totalprice / 50000) AS BIGINT) AS VARCHAR)
             AS price_bin
  FROM orders
),
buckets AS (
  SELECT 'o_orderpriority' AS column_name, o_orderpriority AS bucket,
         sum(CASE WHEN which = 'ref' THEN 1 ELSE 0 END) AS cr,
         sum(CASE WHEN which = 'cur' THEN 1 ELSE 0 END) AS cc
  FROM src GROUP BY 2
  UNION ALL
  SELECT 'price_bin', price_bin,
         sum(CASE WHEN which = 'ref' THEN 1 ELSE 0 END),
         sum(CASE WHEN which = 'cur' THEN 1 ELSE 0 END)
  FROM src GROUP BY 2
),
tot AS (
  SELECT *,
         sum(cr) OVER (PARTITION BY column_name) AS nr,
         sum(cc) OVER (PARTITION BY column_name) AS nc,
         count(*) OVER (PARTITION BY column_name) AS k
  FROM buckets
)
SELECT column_name,
       CAST(max(nr) AS BIGINT) AS n_ref,
       CAST(max(nc) AS BIGINT) AS n_cur,
       CAST(max(k) AS BIGINT) AS n_buckets,
       round(0.5 * sum(abs(CAST(cc AS DOUBLE) / nc
                           - CAST(cr AS DOUBLE) / nr)), 6) AS tvd,
       round(sum(power((cc + 0.5) / (nc + 0.5 * k)
                       - (cr + 0.5) / (nr + 0.5 * k), 2)
                 / ((cr + 0.5) / (nr + 0.5 * k))), 6) AS chi2
FROM tot
GROUP BY column_name
"""


@register("quality_drift_orders", oracle=_DRIFT_ORACLE)
def quality_drift_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-vs-current drift per monitored column: bucket the
    column (categorical as-is, numeric into fixed-width bins), compare
    proportions with total-variation distance and the 0.5-smoothed
    chi^2 (finite even for buckets absent on one side).

    Scale: one scan of the fact table feeds every monitored column
    (the per-column projections are branches of the same cached scan);
    bucket tables are tiny (k buckets x columns), so everything after
    the first groupBy is driver-trivial but stays distributed."""
    # No cache: the two monitored-column branches are narrow columnar
    # projections of one parquet scan (cheap to re-read), and a cache
    # pinned here would outlive the query with no handle to unpersist.
    o = load(spark, sf_dir, "orders").withColumn(
        "__which",
        F.when(F.col("o_orderdate") < F.lit(_DRIFT_SPLIT).cast("timestamp"),
               "ref").otherwise("cur"),
    )
    monitored = o.select(
        "__which",
        F.lit("o_orderpriority").alias("column_name"),
        F.col("o_orderpriority").alias("bucket"),
    ).unionAll(o.select(
        "__which",
        F.lit("price_bin").alias("column_name"),
        F.floor(F.col("o_totalprice") / 50000).cast("long")
        .cast("string").alias("bucket"),
    ))
    buckets = monitored.groupBy("column_name", "bucket").agg(
        F.sum(F.when(F.col("__which") == "ref", 1).otherwise(0)).alias("cr"),
        F.sum(F.when(F.col("__which") == "cur", 1).otherwise(0)).alias("cc"),
    )
    totals = buckets.groupBy("column_name").agg(
        F.sum("cr").alias("nr"), F.sum("cc").alias("nc"),
        F.count("*").alias("k"),
    )
    j = buckets.join(F.broadcast(totals), "column_name")
    pr_s = (F.col("cr") + 0.5) / (F.col("nr") + 0.5 * F.col("k"))
    pc_s = (F.col("cc") + 0.5) / (F.col("nc") + 0.5 * F.col("k"))
    return (
        j.groupBy("column_name")
        .agg(
            F.max("nr").cast("long").alias("n_ref"),
            F.max("nc").cast("long").alias("n_cur"),
            F.max("k").cast("long").alias("n_buckets"),
            F.round(0.5 * F.sum(F.abs(
                F.col("cc").cast("double") / F.col("nc")
                - F.col("cr").cast("double") / F.col("nr")
            )), 6).alias("tvd"),
            F.round(F.sum(F.pow(pc_s - pr_s, 2) / pr_s), 6).alias("chi2"),
        )
    )


_ENTITY_ORACLE = """
WITH RECURSIVE pairs AS (
  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
  FROM part a JOIN part b
    ON a.p_brand = b.p_brand AND a.p_size = b.p_size
   AND a.p_partkey < b.p_partkey
  WHERE levenshtein(a.p_name, b.p_name) <= 6
),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
reach(s, d) AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
),
comp AS (
  SELECT s AS p_partkey, least(min(d), s) AS entity_id
  FROM reach GROUP BY s
)
SELECT p.p_partkey, c.entity_id, p.p_name,
       count(*) OVER (PARTITION BY c.entity_id) AS entity_size,
       p.p_partkey = c.entity_id AS canonical
FROM comp c JOIN part p ON p.p_partkey = c.p_partkey
"""


@register("entity_resolution_parts", oracle=_ENTITY_ORACLE)
def entity_resolution_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.components import (
        canonical_per_component,
        connected_components,
    )

    pairs = join_fuzzy_levenshtein(spark, sf_dir).select("key_a", "key_b")
    cc = connected_components(pairs, "key_a", "key_b")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_name")
    return (
        canonical_per_component(cc)
        .select(
            F.col("node").alias("p_partkey"),
            F.col("component").alias("entity_id"),
            F.col("cluster_size").alias("entity_size"),
            F.col("keep").alias("canonical"),
        )
        .join(p, "p_partkey")
        .select("p_partkey", "entity_id", "p_name", "entity_size", "canonical")
    )


_ROBUST_OUTLIER_ORACLE = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY 1
),
dev AS (
  SELECT e.event_type, any_value(m.med) AS med,
         quantile_cont(abs(e.value - m.med), 0.5) AS mad
  FROM events e JOIN med m ON e.event_type = m.event_type
  GROUP BY e.event_type
)
SELECT e.event_type,
       count(*) AS n,
       CAST(sum(CASE WHEN abs(0.6745 * (e.value - d.med) / d.mad) > 3.5
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       floor(any_value(d.med) * 1e4 + 0.5) / 1e4 AS med,
       floor(any_value(d.mad) * 1e4 + 0.5) / 1e4 AS mad,
       floor(max(abs(0.6745 * (e.value - d.med) / d.mad)) * 1e4 + 0.5) / 1e4
         AS max_abs_z
FROM events e JOIN dev d ON e.event_type = d.event_type
GROUP BY e.event_type
"""


@register("quality_robust_outliers", oracle=_ROBUST_OUTLIER_ORACLE)
def quality_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type robust outlier counts over events.value.

    Modified z = 0.6745*(x - median)/MAD, flagged at |z| > 3.5 (the
    Iglewicz-Hoaglin cutoff). Both percentiles are EXACT interpolated
    (matches DuckDB quantile_cont -- the A6 precedent), and every
    downstream float op is a single non-reassociated expression over
    identical doubles, so the flag can only flip on an exact tie that
    continuous fixture values never produce.
    """
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("med").alias("med"),
            F.percentile(F.abs(F.col("value") - F.col("med")),
                         F.lit(0.5)).alias("mad"),
        )
    )
    z = F.abs(0.6745 * (F.col("value") - F.col("med")) / F.col("mad"))
    return (
        ev.join(F.broadcast(dev), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(z > 3.5, 1).otherwise(0)).alias("n_outliers"),
            (F.floor(F.first("med") * 1e4 + F.lit(0.5)) / 1e4).alias("med"),
            (F.floor(F.first("mad") * 1e4 + F.lit(0.5)) / 1e4).alias("mad"),
            (F.floor(F.max(z) * 1e4 + F.lit(0.5)) / 1e4).alias("max_abs_z"),
        )
    )


_SKEW_ORACLE = """
WITH k1 AS (
  SELECT 'l_suppkey' AS key_col, l_suppkey AS k FROM lineitem
  UNION ALL
  SELECT 'l_orderkey', l_orderkey FROM lineitem
),
cnt AS (SELECT key_col, k, count(*) AS c FROM k1 GROUP BY 1, 2)
SELECT key_col,
       count(*) AS n_keys,
       CAST(sum(c) AS BIGINT) AS n_rows,
       max(c) AS max_cnt,
       quantile_cont(c, 0.5) AS p50_cnt,
       quantile_cont(c, 0.99) AS p99_cnt,
       floor(max(c) * count(*) * 1e4 / sum(c) + 0.5) / 1e4 AS skew_factor
FROM cnt GROUP BY key_col
"""


@register("quality_skew_report", oracle=_SKEW_ORACLE)
def quality_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_suppkey", "l_orderkey")
    k1 = li.select(F.lit("l_suppkey").alias("key_col"),
                   F.col("l_suppkey").alias("k")).unionAll(
        li.select(F.lit("l_orderkey").alias("key_col"),
                  F.col("l_orderkey").alias("k"))
    )
    cnt = k1.groupBy("key_col", "k").agg(F.count(F.lit(1)).alias("c"))
    return cnt.groupBy("key_col").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("c").alias("n_rows"),
        F.max("c").alias("max_cnt"),
        F.percentile("c", F.lit(0.5)).alias("p50_cnt"),
        F.percentile("c", F.lit(0.99)).alias("p99_cnt"),
        (F.floor(F.max("c") * F.count(F.lit(1)) * 1e4 / F.sum("c")
                 + F.lit(0.5)) / 1e4).alias("skew_factor"),
    )


_BENFORD_ORACLE = """
WITH cents AS (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
  FROM orders
),
d AS (
  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS digit
  FROM cents
),
obs AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM d GROUP BY digit
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
grid AS (
  SELECT CAST(unnest(range(1, 10)) AS INTEGER) AS digit
),
ex AS (
  SELECT g.digit,
         coalesce(o.n_obs, 0) AS n_obs,
         floor(t.n * log10(1.0 + 1.0 / g.digit) * 1e6 + 0.5) / 1e6
           AS n_exp
  FROM grid g CROSS JOIN tot t LEFT JOIN obs o ON o.digit = g.digit
)
SELECT digit, n_obs, n_exp,
       floor((n_obs - n_exp) * (n_obs - n_exp) / n_exp * 1e6 + 0.5)
         / 1e6 AS chi2_contrib
FROM ex ORDER BY digit
"""


@register("quality_benford_digits", oracle=_BENFORD_ORACLE)
def quality_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order totals vs the
    Benford expectation, with per-digit chi-square contributions.
    Digits are taken from exact cents integers (floor(x*100+0.5)),
    never from float formatting; the expected count is snapped at
    1e-6 before the contribution so both engines divide identical
    doubles.

    Scale: map-only digit extraction + a 9-group aggregate; the
    digit grid is a 9-row literal crossed with one global count --
    runs at scan speed on any feed."""
    orders = load(spark, sf_dir, "orders")
    d = orders.select(
        F.substring(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long").cast("string"), 1, 1,
        ).cast("int").alias("digit")
    )
    obs = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    tot = d.agg(F.count(F.lit(1)).alias("n"))
    grid = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    ex = (
        grid.crossJoin(F.broadcast(tot))
        .join(obs, "digit", "left")
        .select(
            "digit",
            F.coalesce(F.col("n_obs"), F.lit(0)).alias("n_obs"),
            _snap6(F.col("n") * F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")))
            .alias("n_exp"),
        )
    )
    return ex.select(
        "digit", "n_obs", "n_exp",
        _snap6((F.col("n_obs") - F.col("n_exp"))
               * (F.col("n_obs") - F.col("n_exp")) / F.col("n_exp"))
        .alias("chi2_contrib"),
    ).orderBy("digit")


_LEXICON_VALUES = ", ".join(
    "('{}', [{}])".format(code, ", ".join(f"'{w}'" for w in words))
    for code, words in sorted(LANG_MARKERS.items())
)


_CONFUSION_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS dt
  FROM documents
),
scores AS (
  SELECT t.doc_id, t.lang, l.code,
         len(list_filter(t.dt, x -> list_contains(l.words, x))) AS hits
  FROM t, (VALUES {_LEXICON_VALUES}) AS l(code, words)
),
pred AS (
  SELECT doc_id, lang,
         CASE WHEN hits > 0 THEN code ELSE 'und' END AS lang_pred
  FROM (SELECT doc_id, lang, code, hits,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY hits DESC, code) AS rn
        FROM scores) WHERE rn = 1
),
by_truth AS (
  SELECT lang AS class,
         CAST(count(*) AS BIGINT) AS n_true,
         CAST(sum(CASE WHEN lang_pred = lang THEN 1 ELSE 0 END) AS BIGINT)
           AS tp
  FROM pred GROUP BY lang
),
by_pred AS (
  SELECT lang_pred AS class, CAST(count(*) AS BIGINT) AS n_pred
  FROM pred GROUP BY lang_pred
)
SELECT coalesce(t.class, p.class) AS class,
       coalesce(t.n_true, 0) AS n_true,
       coalesce(p.n_pred, 0) AS n_pred,
       coalesce(t.tp, 0) AS tp,
       coalesce(p.n_pred, 0) - coalesce(t.tp, 0) AS fp,
       coalesce(t.n_true, 0) - coalesce(t.tp, 0) AS fn,
       CASE WHEN coalesce(p.n_pred, 0) = 0 THEN 0.0
            ELSE floor(CAST(t.tp AS DOUBLE) / p.n_pred * 1e6 + 0.5) / 1e6
       END AS precision_s,
       CASE WHEN coalesce(t.n_true, 0) = 0 THEN 0.0
            ELSE floor(CAST(t.tp AS DOUBLE) / t.n_true * 1e6 + 0.5) / 1e6
       END AS recall_s,
       CASE WHEN coalesce(p.n_pred, 0) + coalesce(t.n_true, 0) = 0 THEN 0.0
            ELSE floor(2.0 * coalesce(t.tp, 0)
                       / (coalesce(p.n_pred, 0) + coalesce(t.n_true, 0))
                       * 1e6 + 0.5) / 1e6
       END AS f1_s
FROM by_truth t FULL OUTER JOIN by_pred p ON p.class = t.class
ORDER BY class
"""


@register("quality_langid_confusion", oracle=_CONFUSION_ORACLE)
def quality_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 of the marker-lexicon language-ID
    against the labeled truth, from exact integer counts."""
    docs = load(spark, sf_dir, "documents")
    # ONE corpus pass: reduce to the (truth, pred) contingency table
    # (<= |classes|^2 rows -- bounded model state), checkpoint it, and
    # derive both margins from that; without the checkpoint the
    # by-truth and by-pred branches each rescan + re-score the corpus.
    cm = (
        spread_input(docs)
        .select(F.col("lang"), lang_id("text").alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=True)
    )
    by_truth = cm.groupBy(F.col("lang").alias("class")).agg(
        F.sum("n").cast("long").alias("n_true"),
        F.sum(F.when(F.col("lang_pred") == F.col("lang"), F.col("n"))
              .otherwise(0)).cast("long").alias("tp"),
    )
    by_pred = cm.groupBy(F.col("lang_pred").alias("class")).agg(
        F.sum("n").cast("long").alias("n_pred")
    )
    j = by_truth.join(by_pred, "class", "full_outer")
    n_true = F.coalesce(F.col("n_true"), F.lit(0))
    n_pred = F.coalesce(F.col("n_pred"), F.lit(0))
    tp = F.coalesce(F.col("tp"), F.lit(0))
    return j.select(
        "class",
        n_true.alias("n_true"), n_pred.alias("n_pred"), tp.alias("tp"),
        (n_pred - tp).alias("fp"), (n_true - tp).alias("fn"),
        F.when(n_pred == 0, F.lit(0.0))
        .otherwise(_snap6(tp.cast("double") / n_pred)).alias("precision_s"),
        F.when(n_true == 0, F.lit(0.0))
        .otherwise(_snap6(tp.cast("double") / n_true)).alias("recall_s"),
        F.when(n_pred + n_true == 0, F.lit(0.0))
        .otherwise(_snap6(2.0 * tp / (n_pred + n_true))).alias("f1_s"),
    ).orderBy("class")


_RULES_ORACLE = """
WITH joined AS (
  SELECT l.l_quantity, l.l_discount, l.l_tax, l.l_extendedprice,
         l.l_shipdate, o.o_orderdate
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END)
              AS BIGINT) AS v1,
         CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1
                       ELSE 0 END) AS BIGINT) AS v2,
         CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS v3,
         CAST(sum(CASE WHEN l_tax < 0 THEN 1 ELSE 0 END) AS BIGINT) AS v4,
         CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS v5
  FROM joined
)
SELECT rule, n_checked, n_violations,
       floor(CAST(n_violations AS DOUBLE) / n_checked * 1e6 + 0.5) / 1e6
         AS violation_rate_s
FROM (
  SELECT 'ship_after_order' AS rule, n AS n_checked, v1 AS n_violations
  FROM agg
  UNION ALL SELECT 'discount_in_range', n, v2 FROM agg
  UNION ALL SELECT 'positive_quantity', n, v3 FROM agg
  UNION ALL SELECT 'tax_nonnegative', n, v4 FROM agg
  UNION ALL SELECT 'positive_price', n, v5 FROM agg
)
ORDER BY rule
"""


@register("quality_cross_field_rules", oracle=_RULES_ORACLE)
def quality_cross_field_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-rule integrity pack over lineitem x orders, one pass,
    one row per rule."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    joined = li.join(orders.select("o_orderkey", "o_orderdate"),
                     li.l_orderkey == F.col("o_orderkey"))

    def viol(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    agg = joined.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        viol(F.col("l_shipdate") < F.col("o_orderdate")).alias("v1"),
        viol((F.col("l_discount") < 0) | (F.col("l_discount") > 1))
        .alias("v2"),
        viol(F.col("l_quantity") <= 0).alias("v3"),
        viol(F.col("l_tax") < 0).alias("v4"),
        viol(F.col("l_extendedprice") <= 0).alias("v5"),
    )
    rules = agg.select(
        F.expr("""stack(5,
            'ship_after_order', v1,
            'discount_in_range', v2,
            'positive_quantity', v3,
            'tax_nonnegative', v4,
            'positive_price', v5) AS (rule, n_violations)"""),
        F.col("n").alias("n_checked"),
    )
    return (
        rules.select(
            "rule", "n_checked", "n_violations",
            _snap6(F.col("n_violations").cast("double")
                   / F.col("n_checked")).alias("violation_rate_s"),
        )
        .orderBy("rule")
    )


_BOT_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         CAST(epoch_us(ts) AS BIGINT) AS us,
         CAST(epoch_us(ts) - epoch_us(lag(ts) OVER (
              PARTITION BY user_id ORDER BY ts, event_id)) AS BIGINT)
           AS gap_us
  FROM events
),
u AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
         CAST(max(us) - min(us) AS BIGINT) AS span_us,
         CAST(count(gap_us) AS BIGINT) AS n_gaps,
         CAST(sum(gap_us) AS BIGINT) AS sum_gap,
         CAST(sum(CAST(gap_us AS HUGEINT) * gap_us) AS DOUBLE)
           AS sum_gap2
  FROM seq GROUP BY user_id
),
sig AS (
  SELECT user_id, n_events, n_types,
         floor(CAST(n_events AS DOUBLE)
               / greatest(span_us / 6e7, 1.0 / 60.0) * 1e6 + 0.5) / 1e6
           AS rate_per_min_s,
         CASE WHEN n_gaps > 0 THEN
           floor(sqrt(greatest(
             (sum_gap2 - CAST(sum_gap AS DOUBLE) * sum_gap / n_gaps)
             / n_gaps, 0.0)) / 1e6 * 1e6 + 0.5) / 1e6
         END AS gap_std_sec_s
  FROM u
)
SELECT user_id, n_events, n_types, rate_per_min_s, gap_std_sec_s,
       CASE WHEN n_events >= 20 AND rate_per_min_s > 2.0 THEN 1 ELSE 0
         END AS flag_rate,
       CASE WHEN n_events >= 10 AND gap_std_sec_s < 1.0 THEN 1 ELSE 0
         END AS flag_metronome,
       CASE WHEN n_events >= 20 AND n_types = 1 THEN 1 ELSE 0
         END AS flag_monotype
FROM sig
ORDER BY user_id
"""


@register("quality_bot_user_screen", oracle=_BOT_ORACLE)
def quality_bot_user_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user bot heuristics (rate, gap regularity, action
    diversity) with deterministic integer-exact flags."""
    ev = load(spark, sf_dir, "events")
    wl = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = (F.unix_micros("ts")).cast("long")
    seq = ev.select(
        "user_id", "event_type", us.alias("us"),
        (us - F.lag(us).over(wl)).cast("long").alias("gap_us"),
    )
    u = seq.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("event_type").cast("long").alias("n_types"),
        (F.max("us") - F.min("us")).cast("long").alias("span_us"),
        F.count("gap_us").cast("long").alias("n_gaps"),
        F.sum("gap_us").cast("long").alias("sum_gap"),
        # exact decimal accumulation: day-scale gaps square past int64
        F.sum(F.col("gap_us").cast("decimal(38,0)") * F.col("gap_us"))
        .cast("double").alias("sum_gap2"),
    )
    rate = _snap6(
        F.col("n_events").cast("double")
        / F.greatest(F.col("span_us") / 6e7, F.lit(1.0 / 60.0)))
    gap_std = F.when(
        F.col("n_gaps") > 0,
        _snap6(F.sqrt(F.greatest(
            (F.col("sum_gap2")
             - F.col("sum_gap").cast("double") * F.col("sum_gap")
             / F.col("n_gaps")) / F.col("n_gaps"), F.lit(0.0))) / 1e6),
    )
    sig = u.select("user_id", "n_events", "n_types",
                   rate.alias("rate_per_min_s"),
                   gap_std.alias("gap_std_sec_s"))
    return (
        sig.select(
            "user_id", "n_events", "n_types", "rate_per_min_s",
            "gap_std_sec_s",
            F.when((F.col("n_events") >= 20)
                   & (F.col("rate_per_min_s") > 2.0), 1).otherwise(0)
            .alias("flag_rate"),
            F.when((F.col("n_events") >= 10)
                   & (F.col("gap_std_sec_s") < 1.0), 1).otherwise(0)
            .alias("flag_metronome"),
            F.when((F.col("n_events") >= 20) & (F.col("n_types") == 1), 1)
            .otherwise(0).alias("flag_monotype"),
        )
        .orderBy("user_id")
    )


# Rebinds `_PROFILE_ORACLE` (bound above for `quality_profile_orders`):
# each binding is read once, by the @register that follows it.
_PROFILE_ORACLE = """
WITH t AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
         date_diff('day', DATE '2024-01-01', CAST(o_orderdate AS DATE))
           AS day_num,
         o_orderpriority
  FROM orders
)
SELECT 'o_custkey' AS col_name,
       CAST(count(*) - count(o_custkey) AS BIGINT) AS n_null,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
       CAST(min(o_custkey) AS VARCHAR) AS min_s,
       CAST(max(o_custkey) AS VARCHAR) AS max_s
FROM t
UNION ALL
SELECT 'o_orderkey', CAST(count(*) - count(o_orderkey) AS BIGINT),
       CAST(count(DISTINCT o_orderkey) AS BIGINT),
       CAST(min(o_orderkey) AS VARCHAR), CAST(max(o_orderkey) AS VARCHAR)
FROM t
UNION ALL
SELECT 'o_orderpriority', CAST(count(*) - count(o_orderpriority) AS BIGINT),
       CAST(count(DISTINCT o_orderpriority) AS BIGINT),
       min(o_orderpriority), max(o_orderpriority)
FROM t
UNION ALL
SELECT 'o_orderstatus', CAST(count(*) - count(o_orderstatus) AS BIGINT),
       CAST(count(DISTINCT o_orderstatus) AS BIGINT),
       min(o_orderstatus), max(o_orderstatus)
FROM t
UNION ALL
SELECT 'orderdate_day', CAST(count(*) - count(day_num) AS BIGINT),
       CAST(count(DISTINCT day_num) AS BIGINT),
       CAST(min(day_num) AS VARCHAR), CAST(max(day_num) AS VARCHAR)
FROM t
UNION ALL
SELECT 'price_cents', CAST(count(*) - count(price_cents) AS BIGINT),
       CAST(count(DISTINCT price_cents) AS BIGINT),
       CAST(min(price_cents) AS VARCHAR), CAST(max(price_cents) AS VARCHAR)
FROM t
ORDER BY col_name
"""


@register("quality_column_profile", oracle=_PROFILE_ORACLE)
def quality_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column null / distinct / min / max profile of orders from
    ONE wide aggregate, unpivoted with stack()."""
    from ..operators.skew import spread_input

    # spread: the 6 countDistincts rewrite through a 7-way Expand, and
    # a single-file source would run that blowup on one core
    t = spread_input(load(spark, sf_dir, "orders")).select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
        .alias("price_cents"),
        F.datediff(F.to_date("o_orderdate"),
                   F.to_date(F.lit("2024-01-01"))).alias("day_num"),
        "o_orderpriority",
    )
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "price_cents",
            "day_num", "o_orderpriority"]
    names = {"price_cents": "price_cents", "day_num": "orderdate_day"}
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"{c}__nn"),
            F.countDistinct(c).alias(f"{c}__nd"),
            F.min(c).cast("string").alias(f"{c}__mn"),
            F.max(c).cast("string").alias(f"{c}__mx"),
        ]
    wide = t.agg(*aggs)
    stack_args = ", ".join(
        f"'{names.get(c, c)}', _n - {c}__nn, {c}__nd, {c}__mn, {c}__mx"
        for c in cols
    )
    return (
        wide.selectExpr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(col_name, n_null, n_distinct, min_s, max_s)")
        .select(
            "col_name",
            F.col("n_null").cast("long").alias("n_null"),
            F.col("n_distinct").cast("long").alias("n_distinct"),
            "min_s", "max_s",
        )
        .orderBy("col_name")
    )


_GAPS_ORACLE = """
WITH ks AS (SELECT DISTINCT o_orderkey AS k FROM orders),
runs AS (
  SELECT k, k - row_number() OVER (ORDER BY k) AS grp FROM ks
),
islands AS (
  SELECT CAST(min(k) AS BIGINT) AS lo, CAST(max(k) AS BIGINT) AS hi
  FROM runs GROUP BY grp
),
holes AS (
  SELECT hi + 1 AS gap_lo,
         lead(lo) OVER (ORDER BY lo) - 1 AS gap_hi
  FROM islands
)
SELECT CAST(gap_lo AS BIGINT) AS gap_lo,
       CAST(gap_hi AS BIGINT) AS gap_hi,
       CAST(gap_hi - gap_lo + 1 AS BIGINT) AS n_missing
FROM holes
WHERE gap_hi IS NOT NULL
ORDER BY gap_lo
"""


_GAP_BUCKET = 4096  # keys per island bucket; sf0.01 spans 4 buckets,


def sequence_islands(keys: DataFrame, key: str = "k",
                     bucket: int = _GAP_BUCKET) -> DataFrame:
    """Maximal runs of consecutive integers in ``keys`` as (lo, hi)
    islands, without a corpus-wide single-partition window: per-bucket
    key - row_number islands (parallel), then boundary-touching
    islands merged by a conditional running sum over the bounded
    island summary."""
    k = F.col(key)
    runs = keys.select(
        k.alias("k"), (k - (k % bucket)).alias("b")
    ).withColumn(
        "grp",
        F.col("k") - F.row_number().over(W.partitionBy("b").orderBy("k")),
    )
    local = runs.groupBy("b", "grp").agg(
        F.min("k").cast("long").alias("lo"),
        F.max("k").cast("long").alias("hi"),
    )
    w_ord = W.orderBy("lo")
    w_run = w_ord.rowsBetween(W.unboundedPreceding, 0)
    starts_new = F.when(
        F.col("lo") > F.lag("hi").over(w_ord) + 1, 1).otherwise(0)
    return (
        local.withColumn("mgrp", F.sum(starts_new).over(w_run))
        .groupBy("mgrp")
        .agg(F.min("lo").alias("lo"), F.max("hi").alias("hi"))
    )


@register("quality_id_sequence_gaps", oracle=_GAPS_ORACLE)
def quality_id_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every missing range in the order-key sequence: islands of
    consecutive keys, then the holes between them."""
    ks = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k")).distinct()
    islands = sequence_islands(ks)
    holes = islands.select(
        (F.col("hi") + 1).alias("gap_lo"),
        (F.lead("lo").over(W.orderBy("lo")) - 1).alias("gap_hi"),
    )
    return (
        holes.where(F.col("gap_hi").isNotNull())
        .select(
            F.col("gap_lo").cast("long").alias("gap_lo"),
            F.col("gap_hi").cast("long").alias("gap_hi"),
            (F.col("gap_hi") - F.col("gap_lo") + 1).cast("long")
            .alias("n_missing"),
        )
        .orderBy("gap_lo")
    )


_FK_ORACLE = """
WITH edges AS (
  SELECT 'lineitem.l_orderkey -> orders' AS edge,
         (SELECT count(*) FROM lineitem) AS n_child,
         (SELECT count(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderkey = l.l_orderkey))
           AS n_orphans
  UNION ALL
  SELECT 'lineitem.l_partkey -> part',
         (SELECT count(*) FROM lineitem),
         (SELECT count(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM part p
                            WHERE p.p_partkey = l.l_partkey))
  UNION ALL
  SELECT 'lineitem.l_suppkey -> supplier',
         (SELECT count(*) FROM lineitem),
         (SELECT count(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM supplier s
                            WHERE s.s_suppkey = l.l_suppkey))
  UNION ALL
  SELECT 'orders.o_custkey -> customer',
         (SELECT count(*) FROM orders),
         (SELECT count(*) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey))
  UNION ALL
  SELECT 'customer.c_nationkey -> nation',
         (SELECT count(*) FROM customer),
         (SELECT count(*) FROM customer c
          WHERE NOT EXISTS (SELECT 1 FROM nation n
                            WHERE n.n_nationkey = c.c_nationkey))
  UNION ALL
  SELECT 'supplier.s_nationkey -> nation',
         (SELECT count(*) FROM supplier),
         (SELECT count(*) FROM supplier s
          WHERE NOT EXISTS (SELECT 1 FROM nation n
                            WHERE n.n_nationkey = s.s_nationkey))
  UNION ALL
  SELECT 'nation.n_regionkey -> region',
         (SELECT count(*) FROM nation),
         (SELECT count(*) FROM nation n
          WHERE NOT EXISTS (SELECT 1 FROM region r
                            WHERE r.r_regionkey = n.n_regionkey))
)
SELECT edge, CAST(n_child AS BIGINT) AS n_child,
       CAST(n_orphans AS BIGINT) AS n_orphans,
       floor(CAST(n_orphans AS DOUBLE) / nullif(n_child, 0)
             * 1e6 + 0.5) / 1e6 AS orphan_rate_s
FROM edges
ORDER BY edge
"""


@register("quality_fk_orphans", oracle=_FK_ORACLE)
def quality_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan count and rate for every
    FK edge of the star schema via LEFT ANTI probes."""
    t = {name: load(spark, sf_dir, name)
         for name in ("lineitem", "orders", "part", "supplier",
                      "customer", "nation", "region")}
    edges = [
        ("lineitem.l_orderkey -> orders", t["lineitem"], "l_orderkey",
         t["orders"], "o_orderkey"),
        ("lineitem.l_partkey -> part", t["lineitem"], "l_partkey",
         t["part"], "p_partkey"),
        ("lineitem.l_suppkey -> supplier", t["lineitem"], "l_suppkey",
         t["supplier"], "s_suppkey"),
        ("orders.o_custkey -> customer", t["orders"], "o_custkey",
         t["customer"], "c_custkey"),
        ("customer.c_nationkey -> nation", t["customer"], "c_nationkey",
         t["nation"], "n_nationkey"),
        ("supplier.s_nationkey -> nation", t["supplier"], "s_nationkey",
         t["nation"], "n_nationkey"),
        ("nation.n_regionkey -> region", t["nation"], "n_regionkey",
         t["region"], "r_regionkey"),
    ]
    parts = []
    for name, child, ck, parent, pk in edges:
        ckeys = child.select(F.col(ck).alias("k"))
        orphans = ckeys.join(
            parent.select(F.col(pk).alias("k")), "k", "left_anti"
        ).agg(F.count(F.lit(1)).cast("long").alias("n_orphans"))
        n = ckeys.agg(F.count(F.lit(1)).cast("long").alias("n_child"))
        parts.append(
            n.crossJoin(orphans).select(
                F.lit(name).alias("edge"), "n_child", "n_orphans"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "edge", "n_child", "n_orphans",
        _snap6(F.col("n_orphans").cast("double")
               / F.nullif(F.col("n_child"), F.lit(0))
               ).alias("orphan_rate_s"),
    ).orderBy("edge")


_KEY_ORACLE = """
WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM orders),
cands AS (
  SELECT 'o_orderkey' AS candidate,
         (SELECT count(DISTINCT o_orderkey) FROM orders) AS n_distinct
  UNION ALL
  SELECT 'o_custkey',
         (SELECT count(DISTINCT o_custkey) FROM orders)
  UNION ALL
  SELECT 'o_custkey,o_orderdate',
         (SELECT count(*) FROM (SELECT DISTINCT o_custkey, o_orderdate
                                FROM orders))
  UNION ALL
  SELECT 'o_orderdate',
         (SELECT count(DISTINCT o_orderdate) FROM orders)
  UNION ALL
  SELECT 'o_orderpriority',
         (SELECT count(DISTINCT o_orderpriority) FROM orders)
  UNION ALL
  SELECT 'o_custkey,o_orderdate,o_totalprice',
         (SELECT count(*) FROM (SELECT DISTINCT o_custkey, o_orderdate,
                                       o_totalprice FROM orders))
)
SELECT c.candidate,
       n.n_rows,
       CAST(c.n_distinct AS BIGINT) AS n_distinct,
       CAST(n.n_rows - c.n_distinct AS BIGINT) AS n_dup_rows,
       CAST(CASE WHEN c.n_distinct = n.n_rows THEN 1 ELSE 0 END
            AS BIGINT) AS is_key
FROM cands c CROSS JOIN n
ORDER BY c.candidate
"""


_KEY_CANDIDATES = [
    ["o_orderkey"],
    ["o_custkey"],
    ["o_custkey", "o_orderdate"],
    ["o_orderdate"],
    ["o_orderpriority"],
    ["o_custkey", "o_orderdate", "o_totalprice"],
]


@register("quality_key_discovery", oracle=_KEY_ORACLE)
def quality_key_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key audit over orders: distinct combinations,
    duplicate rows, and the is_key verdict per candidate."""
    orders = load(spark, sf_dir, "orders").localCheckpoint(eager=True)
    n = orders.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    parts = []
    for cols in _KEY_CANDIDATES:
        parts.append(
            orders.select(*cols).distinct()
            .agg(F.count(F.lit(1)).cast("long").alias("n_distinct"))
            .select(F.lit(",".join(cols)).alias("candidate"),
                    "n_distinct")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return (
        out.crossJoin(F.broadcast(n))
        .select(
            "candidate", "n_rows", "n_distinct",
            (F.col("n_rows") - F.col("n_distinct")).cast("long")
            .alias("n_dup_rows"),
            F.when(F.col("n_distinct") == F.col("n_rows"), 1)
            .otherwise(0).cast("long").alias("is_key"),
        )
        .orderBy("candidate")
    )


_W1_ORACLE = """
WITH v AS (
  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS vq,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS a,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS b
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
),
d AS (
  SELECT vq, CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb
  FROM v GROUP BY vq
),
c AS (
  SELECT vq,
         CAST(sum(na) OVER w AS BIGINT) AS ca,
         CAST(sum(nb) OVER w AS BIGINT) AS cb,
         lead(vq) OVER (ORDER BY vq) AS nxt
  FROM d
  WINDOW w AS (ORDER BY vq ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
),
tot AS (
  SELECT CAST(sum(na) AS BIGINT) AS ta, CAST(sum(nb) AS BIGINT) AS tb
  FROM d
),
terms AS (
  SELECT abs(CAST(ca AS DOUBLE) / ta - CAST(cb AS DOUBLE) / tb) AS df,
         CAST(nxt - vq AS BIGINT) AS gapc
  FROM c CROSS JOIN tot WHERE nxt IS NOT NULL
)
SELECT t.ta AS n_a, t.tb AS n_b,
       CAST(sum(CAST(floor(df * gapc * 1e4 + 0.5) AS BIGINT)) AS DOUBLE)
         / 1e6 AS w1_s,
       floor(max(df) * 1e6 + 0.5) / 1e6 AS ks_s
FROM terms CROSS JOIN tot t GROUP BY t.ta, t.tb
"""


@register("quality_wasserstein_drift", oracle=_W1_ORACLE)
def quality_wasserstein_drift(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Exact W1 + KS between the purchase and click value
    distributions; CDFs via one distributed prefix pass."""
    from ..operators.ranking import distributed_prefix_sums, global_rank

    ev = load(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
        & F.col("event_type").isin("purchase", "click"))
    vq = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    d = (
        ev.select(vq.alias("vq"),
                  F.when(F.col("event_type") == "purchase", 1)
                  .otherwise(0).alias("a"),
                  F.when(F.col("event_type") == "click", 1)
                  .otherwise(0).alias("b"))
        .groupBy("vq")
        .agg(F.sum("a").cast("long").alias("na"),
             F.sum("b").cast("long").alias("nb"))
    )
    c = distributed_prefix_sums(d, ["vq"], {"ca": "na", "cb": "nb"})
    c = global_rank(c, ["vq"], "rn").localCheckpoint(eager=True)
    tot = d.agg(F.sum("na").cast("long").alias("ta"),
                F.sum("nb").cast("long").alias("tb"))
    nxt = c.select(F.col("vq").alias("nxt_vq"),
                   (F.col("rn") - 1).alias("rn"))
    terms = (
        c.join(nxt, "rn")
        .crossJoin(F.broadcast(tot))
        .select(
            (F.abs(F.col("ca").cast("double") / F.col("ta")
                   - F.col("cb").cast("double") / F.col("tb")))
            .alias("df"),
            (F.col("nxt_vq") - F.col("vq")).cast("long").alias("gapc"))
    )
    return (
        terms.crossJoin(F.broadcast(tot))
        .groupBy("ta", "tb")
        .agg((F.sum(F.floor(F.col("df") * F.col("gapc") * 1e4
                            + F.lit(0.5)).cast("long"))
              .cast("double") / 1e6).alias("w1_s"),
             (F.floor(F.max("df") * 1e6 + F.lit(0.5)) / 1e6)
             .alias("ks_s"))
        .select(F.col("ta").alias("n_a"), F.col("tb").alias("n_b"),
                "w1_s", "ks_s")
    )
