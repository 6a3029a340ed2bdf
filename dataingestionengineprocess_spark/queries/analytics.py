"""Advanced analytics surface: deterministic mode, regression aggregates,
cohort retention, cumulative distinct users, EWMA smoothing, and a
blocked fuzzy (edit-distance) self-join.

These extend SURVEY.md §2.4 (aggregations) and §2.5 (windows) with the
analytics a training-data pipeline runs over its telemetry and catalog
tables. Reference provenance: the engine box is opaque
(Untitled Diagram.drawio:153-154), so these are [S]/[C]-class surface;
every query here is a pure DataFrame composition with a DuckDB oracle.

Scale notes (100 TB design intent, per query):
- mode / regression: single shuffle on the group key, partial aggregation
  map-side; output is tiny (one row per group).
- cohort / cumulative: the per-user ``min(day)`` first-seen trick turns
  "cumulative distinct users" (quadratic if done naively with a running
  DISTINCT) into one groupBy + one small running-sum window over daily
  aggregates -- the unpartitioned window runs over per-DAY rows, not raw
  events, so single-task execution is fine at any scale.
- EWMA: per-key window, frame bounded to 20 rows -- state is O(frame),
  weights are exact powers of two so Spark and DuckDB agree bitwise.
- fuzzy join: blocking on (p_brand, p_size) bounds the quadratic
  candidate set per block; the join itself is a plain equi-join Catalyst
  can shuffle-partition, with levenshtein as a post-join filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from . import register

# ---------------------------------------------------------------------------
# Deterministic mode: most frequent l_quantity per return flag, ties broken
# by smallest value. Built-in F.mode() is tie-nondeterministic, so the
# portable idiom is count + row_number -- same plan DuckDB's oracle uses.
# ---------------------------------------------------------------------------

_MODE_ORACLE = """
SELECT l_returnflag, mode_qty, mode_count
FROM (
  SELECT l_returnflag, l_quantity AS mode_qty,
         CAST(count(*) AS BIGINT) AS mode_count,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY count(*) DESC, l_quantity ASC) AS rn
  FROM lineitem
  GROUP BY l_returnflag, l_quantity
) WHERE rn = 1
"""


@register("agg_mode_deterministic", oracle=_MODE_ORACLE)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count("*").alias("mode_count")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("mode_count").desc(), F.col("l_quantity").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("l_quantity").alias("mode_qty"),
            "mode_count",
        )
    )


# ---------------------------------------------------------------------------
# Linear-regression aggregates (Spark 3.4+ regr_* family): price-vs-quantity
# fit per return flag. One shuffle, three output rows; rounded because the
# covariance accumulators are order-sensitive doubles.
# ---------------------------------------------------------------------------

_REGR_ORACLE = """
SELECT l_returnflag,
       round(regr_slope(l_extendedprice, l_quantity), 6)     AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
       round(regr_r2(l_extendedprice, l_quantity), 6)        AS r2,
       round(corr(l_extendedprice, l_quantity), 6)           AS pearson_r,
       CAST(count(*) AS BIGINT)                              AS n
FROM lineitem
GROUP BY l_returnflag
"""


@register("agg_regression_stats", oracle=_REGR_ORACLE)
def agg_regression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
        F.round(F.corr(y, x), 6).alias("pearson_r"),
        F.count("*").alias("n"),
    )


# ---------------------------------------------------------------------------
# Cohort retention over events: users cohorted by first-seen day; for each
# (cohort day, week offset) count the distinct users still active. The
# first-seen table is one groupBy over events; everything after operates on
# per-user / per-day cardinalities.
# ---------------------------------------------------------------------------

_COHORT_ORACLE = """
WITH first_seen AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
  FROM events GROUP BY user_id
)
SELECT f.cohort_day,
       CAST(date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) // 7 AS BIGINT)
         AS week_offset,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS active_users
FROM events e JOIN first_seen f ON e.user_id = f.user_id
GROUP BY f.cohort_day, week_offset
"""


@register("events_cohort_retention", oracle=_COHORT_ORACLE)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    return (
        ev.join(first_seen, "user_id")
        .withColumn(
            "week_offset",
            F.expr("datediff(CAST(ts AS DATE), cohort_day) div 7"),
        )
        .groupBy("cohort_day", "week_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


# ---------------------------------------------------------------------------
# Cumulative distinct users per day WITHOUT a running DISTINCT: a user
# contributes to the cumulative count exactly once, on their first-seen day,
# so cumulative-distinct == running sum of daily new-user counts. The
# unpartitioned window runs over ~one row per day.
# ---------------------------------------------------------------------------

_CUMDIST_ORACLE = """
WITH first_seen AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS first_day
  FROM events GROUP BY user_id
), daily_new AS (
  SELECT first_day AS day, CAST(count(*) AS BIGINT) AS new_users
  FROM first_seen GROUP BY first_day
)
SELECT day, new_users,
       CAST(sum(new_users) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cumulative_users
FROM daily_new
"""


@register("events_cumulative_distinct_users", oracle=_CUMDIST_ORACLE)
def events_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    daily_new = (
        ev.groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("day"))
        .groupBy("day")
        .agg(F.count("*").alias("new_users"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily_new.withColumn(
        "cumulative_users", F.sum("new_users").over(w)
    )


# ---------------------------------------------------------------------------
# EWMA smoothing of event values per user over a bounded 20-row frame.
# collect_list over an ordered frame preserves frame order (oldest first);
# the weighted fold uses alpha = 1/2 so every weight is an exact power of
# two -- multiplication by 2^-k and the left-to-right list sum are then
# bit-identical in Spark and DuckDB, no rounding fudge needed.
# Denominator is the closed-form geometric sum 2 - 2^(1-n).
# ---------------------------------------------------------------------------

_EWMA_ORACLE = """
SELECT event_id, user_id, value,
       list_sum(list_transform(vals, (x, i) -> x * pow(0.5, len(vals) - i)))
         / (2 - pow(0.5, len(vals) - 1)) AS ewma
FROM (
  SELECT event_id, user_id, value,
         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS vals
  FROM events
)
"""


@register("window_ewma_smoothing", oracle=_EWMA_ORACLE)
def window_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, 0)
    )
    vals = F.collect_list("value").over(w)
    # Spark's transform index i is 0-based (newest element has
    # i = n-1, weight 2^0); DuckDB's is 1-based -- exponents match.
    ewma = F.expr(
        "aggregate(transform(vals, (x, i) -> x * pow(0.5, size(vals) - 1 - i)),"
        " 0D, (acc, x) -> acc + x) / (2 - pow(0.5, size(vals) - 1))"
    )
    return (
        ev.select("event_id", "user_id", "value", vals.alias("vals"))
        .withColumn("ewma", ewma)
        .drop("vals")
    )


# ---------------------------------------------------------------------------
# Blocked fuzzy self-join (entity-resolution idiom): candidate pairs share a
# blocking key (p_brand, p_size) -- an equi-join Catalyst shuffles on the
# key -- and survive an edit-distance filter. Blocking is what makes fuzzy
# matching feasible at 100 TB: the quadratic blowup is bounded per block
# instead of global.
# ---------------------------------------------------------------------------

_FUZZY_ORACLE = """
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
 AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 6
"""


@register("join_fuzzy_levenshtein", oracle=_FUZZY_ORACLE)
def join_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    a = p.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        "p_brand", "p_size",
    )
    b = p.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
        "p_brand", "p_size",
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, ["p_brand", "p_size"])
        .filter((F.col("key_a") < F.col("key_b")) & (dist <= 6))
        .select("key_a", "key_b", "name_a", "name_b", dist.alias("edit_dist"))
    )


# ---------------------------------------------------------------------------
# Deterministic argmax WITHOUT a window: max over a (measure, tiebreak)
# struct compares lexicographically in both engines, so one map-side-
# combinable aggregate replaces the sort-the-whole-partition window
# idiom. At 100 TB this is the difference between a partial-aggregating
# single shuffle and a full per-group sort.
# ---------------------------------------------------------------------------

_ARGMAX_ORACLE = """
SELECT c_nationkey,
       (max(struct_pack(v := c_acctbal, k := c_custkey))).v AS top_acctbal,
       CAST((max(struct_pack(v := c_acctbal, k := c_custkey))).k AS BIGINT)
         AS top_custkey
FROM customer
GROUP BY c_nationkey
"""


@register("agg_argmax_struct", oracle=_ARGMAX_ORACLE)
def agg_argmax_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    top = F.max(
        F.struct(F.col("c_acctbal").alias("v"), F.col("c_custkey").alias("k"))
    )
    return c.groupBy("c_nationkey").agg(
        top.getField("v").alias("top_acctbal"),
        top.getField("k").alias("top_custkey"),
    )


# ---------------------------------------------------------------------------
# explode_outer: fan-out that PRESERVES rows whose array is empty -- the
# difference between "tokenize and silently drop short docs" and
# "tokenize and keep every doc visible to downstream audits".
# ---------------------------------------------------------------------------

_EXPLODE_OUTER_ORACLE = """
SELECT d.doc_id, u.long_token
FROM (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 8)
           AS toks
  FROM documents WHERE doc_id <= 200
) d
LEFT JOIN LATERAL (SELECT unnest(d.toks) AS long_token) u ON TRUE
"""


@register("scalar_explode_outer", oracle=_EXPLODE_OUTER_ORACLE)
def scalar_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") <= 200)
    long_toks = F.filter(
        F.split("text", " "), lambda t: F.length(t) > 8
    )
    return d.select(
        "doc_id", F.explode_outer(long_toks).alias("long_token")
    )


# ---------------------------------------------------------------------------
# IQR outlier fences per language: exact quartiles of doc length, then a
# broadcast join tags each doc against its group's Tukey fences. The
# quartile table is one row per lang, so the second pass is scan +
# broadcast-filter -- no second shuffle of the corpus at any scale.
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# Token-distribution entropy per document: ln(n) - (1/n) * sum c*ln(c)
# over per-token counts c -- the repetition detector in corpus quality
# gates (boilerplate/spam has low entropy). Counts are exact integers;
# only the final few-dozen-term double sum is float, so round(4) is far
# outside both engines' accumulation drift.
# ---------------------------------------------------------------------------

_ENTROPY_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
counts AS (
  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS c
  FROM tok GROUP BY doc_id, t
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_distinct,
       round(ln(CAST(sum(c) AS DOUBLE))
             - sum(c * ln(CAST(c AS DOUBLE))) / sum(c), 4) AS token_entropy
FROM counts
GROUP BY doc_id
"""


@register("text_token_entropy", oracle=_ENTROPY_ORACLE)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    counts = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("c"))
    )
    n = F.sum("c")
    return counts.groupBy("doc_id").agg(
        n.alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.round(
            F.log(n.cast("double"))
            - F.sum(F.col("c") * F.log(F.col("c").cast("double"))) / n,
            4,
        ).alias("token_entropy"),
    )


# ---------------------------------------------------------------------------
# PageRank over the part co-purchase graph: parts sharing an order are
# linked (both directions, so the graph is symmetric and dangling-free)
# and link analysis surfaces the "hub" parts. Iterative: each step is
# one broadcast join of the ranks onto the edges plus ONE shuffle (the
# contributions and a zero row per node summed by node; no second join
# against the node table), lineage checkpoint-truncated -- see
# operators/graph.py.
#
# FULLY ORACLED (upgraded from rows-only): the iteration count is a
# fixed 8, so the "fixpoint" is just 8 unrolled join+agg steps -- the
# oracle builds pr1..pr8 as chained CTEs over the same co-purchase
# edge derivation. Ranks are compared at round-6; double drift from
# engine-different summation order is ~1e-13 after 8 damped
# iterations, far inside the rounding. tests/test_graph.py still pins
# the structural invariants (conservation, degree correlation).
# ---------------------------------------------------------------------------


def _pagerank_oracle(iterations: int = 8, damping: float = 0.85) -> str:
    steps = []
    prev = "pr0"
    for k in range(1, iterations + 1):
        steps.append(f"""
pr{k} AS (
  SELECT n.node, {1 - damping} + {damping} * coalesce(s.contrib, 0.0) AS rank
  FROM nodes n LEFT JOIN (
     SELECT e.dst AS node, sum(p.rank * e.w) AS contrib
     FROM edges e JOIN {prev} p ON p.node = e.src
     GROUP BY e.dst
  ) s ON s.node = n.node
)""")
        prev = f"pr{k}"
    from ..operators.graph import COPURCHASE_HALF_SQL

    return "WITH " + COPURCHASE_HALF_SQL + f""",
deg AS (
  SELECT node, CAST(count(*) AS DOUBLE) AS degree FROM (
    SELECT src AS node FROM half UNION ALL SELECT dst AS node FROM half
  ) GROUP BY node
),
edges AS (
  SELECT h.src, h.dst, 1.0 / d.degree AS w
  FROM half h JOIN deg d ON d.node = h.src
  UNION ALL
  SELECT h.dst AS src, h.src AS dst, 1.0 / d.degree AS w
  FROM half h JOIN deg d ON d.node = h.dst
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
pr0 AS (SELECT node, 1.0 AS rank FROM nodes),
{",".join(steps)}
SELECT node, round(rank, 6) AS rank FROM {prev}
ORDER BY round(rank, 6) DESC, node LIMIT 50
"""


@register("graph_pagerank_parts", oracle=_pagerank_oracle())
def graph_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import copurchase_half, pagerank

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # Shared set-explosion edge build (operators/graph.py): one groupBy
    # shuffle, identical edges to the distinct self-join, 2.3x faster.
    # The graph is symmetric, so only the src < dst half is built; the
    # mirror direction is a narrow union afterwards, and per-node
    # degrees come from the half-pair table + a broadcast join inside
    # pagerank() instead of a groupBy over the full mirrored edge list.
    half = copurchase_half(li)
    deg = (
        half.select(F.explode(F.array("src", "dst")).alias("node"))
        .groupBy("node").agg(F.count("*").alias("degree"))
    )
    co = half.union(half.select(F.col("dst"), F.col("src")))
    return (
        pagerank(co, iterations=8, out_degrees=deg)
        .select("node", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), "node")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Declarative data profiling: one scan produces per-column null counts,
# distinct counts, and min/max (stringified) in long format -- the
# ingest-time audit a 100 TB warehouse runs on every new partition.
# Single pass: all column aggregates in ONE agg, then a stack()
# unpivot; no per-column jobs.
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# Weighted sampling, reproducibly: systematic selection along the
# cumulative-weight axis (inclusion probability proportional to
# n_chars) in exact integer arithmetic -- so the SAME sample comes back
# on any cluster shape, any rerun, and in the DuckDB oracle. See
# operators/sampling.systematic_weighted_sample for the A-Res contrast.
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# Volume-anomaly detection: per-day event counts z-scored against the
# whole window. Two tiny aggregations after the one real shuffle (the
# daily count); the stats join is a broadcast of a single row. The
# monitoring query an ingest pipeline runs on its OWN telemetry.
# ---------------------------------------------------------------------------

_ANOMALY_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY day
),
stats AS (
  SELECT avg(n) AS mu, stddev_samp(n) AS sigma FROM daily
)
SELECT day, n, round((n - mu) / sigma, 4) AS zscore,
       CAST(abs(n - mu) > 2 * sigma AS BOOLEAN) AS is_anomaly
FROM daily, stats
"""


@register("events_volume_anomaly", oracle=_ANOMALY_ORACLE)
def events_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n")
    )
    stats = daily.agg(
        F.avg("n").alias("mu"), F.stddev_samp("n").alias("sigma")
    )
    z = (F.col("n") - F.col("mu")) / F.col("sigma")
    return (
        daily.crossJoin(F.broadcast(stats))
        .select(
            "day", "n",
            F.round(z, 4).alias("zscore"),
            (F.abs(F.col("n") - F.col("mu")) > 2 * F.col("sigma"))
            .alias("is_anomaly"),
        )
    )


# ---------------------------------------------------------------------------
# Distribution-drift monitor: compare each monitored column's bucket
# distribution between a REFERENCE window and the CURRENT window --
# the check an ingestion engine runs on every new delivery to catch a
# partner silently changing units, enum domains, or mix. Metrics are
# pure arithmetic (total-variation distance + smoothed chi^2), chosen
# over PSI's ln() so both engines compute bit-identical doubles.
# One scan builds all columns' bucket counts (unpivot-style union of
# narrow projections of the same cached scan); totals ride on a tiny
# per-column rollup.
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# OHLC time-series downsampling: per-hour open/high/low/close over the
# event value stream -- the canonical telemetry/market downsample. One
# shuffle on the hour bucket; open/close are min_by/max_by against the
# (ts, event_id) TOTAL order (partial-aggregating, no window sort), so
# results are deterministic under timestamp ties.
# ---------------------------------------------------------------------------

_OHLC_ORACLE = """
WITH r AS (
  SELECT date_trunc('hour', ts) AS hour, value, ts, event_id,
         row_number() OVER (PARTITION BY date_trunc('hour', ts)
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT hour,
       CAST(count(*) AS BIGINT) AS n_events,
       round(max(CASE WHEN rn_a = 1 THEN value END), 4) AS open,
       round(max(value), 4) AS high,
       round(min(value), 4) AS low,
       round(max(CASE WHEN rn_d = 1 THEN value END), 4) AS close
FROM r GROUP BY hour
"""


@register("events_ohlc_hourly", oracle=_OHLC_ORACLE)
def events_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    ord_ = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("hour"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.min_by("value", ord_), 4).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(F.max_by("value", ord_), 4).alias("close"),
        )
    )


# ---------------------------------------------------------------------------
# Ordered funnel (MATCH_RECOGNIZE-style): per user, the earliest
# view -> first click strictly after it -> first purchase strictly
# after that. Sequential-pattern semantics expressed as three
# min-after aggregations -- each stage is one narrow groupBy over a
# stage-filtered event scan, no per-user Python and no window sort of
# raw events.
# ---------------------------------------------------------------------------

_ORDERED_FUNNEL_ORACLE = """
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, v.t_view, min(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view
  GROUP BY e.user_id, v.t_view
),
p AS (
  SELECT e.user_id, c.t_click, min(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
  GROUP BY e.user_id, c.t_click
)
SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
       CASE WHEN p.user_id IS NOT NULL THEN 'purchase'
            WHEN c.user_id IS NOT NULL THEN 'click'
            ELSE 'view' END AS funnel_stage
FROM v
LEFT JOIN c ON v.user_id = c.user_id
LEFT JOIN p ON v.user_id = p.user_id
"""


@register("events_ordered_funnel", oracle=_ORDERED_FUNNEL_ORACLE)
def events_ordered_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id", "t_view")
        .agg(F.min("ts").alias("t_click"))
        .select("user_id", "t_click")
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id", "t_click")
        .agg(F.min("ts").alias("t_purchase"))
        .select("user_id", "t_purchase")
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id", "t_view", "t_click", "t_purchase",
            F.when(F.col("t_purchase").isNotNull(), "purchase")
            .when(F.col("t_click").isNotNull(), "click")
            .otherwise("view").alias("funnel_stage"),
        )
    )


# ---------------------------------------------------------------------------
# Triangle counting over the co-purchase graph: the canonical graph
# cohesion metric. The bipartite order-part projection is made SPARSE
# first -- an edge requires co-purchase in >= 2 DISTINCT orders, the
# standard projection-graph threshold (a single shared basket is
# noise, and the un-thresholded projection's wedge count grows like
# m^1.5: ~10^9 at sf0.1). Edges are then oriented by the DEGREE total
# order (lower-degree endpoint first, ties to the smaller id) -- the
# compact-forward trick: every triangle is counted exactly once under
# ANY vertex total order, and degree order bounds each node's wedge
# fan-out by O(sqrt(m)) instead of its raw degree, so one hot hub
# cannot blow up the wedge join. The DuckDB oracle counts under the
# plain id order -- same number, proving orientation-invariance.
# ---------------------------------------------------------------------------

_TRIANGLE_ORACLE = """
WITH u AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
  SELECT a.l_partkey AS a, b.l_partkey AS b
  FROM u a JOIN u b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 2
)
SELECT CAST(count(*) AS BIGINT) AS n_triangles,
       (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_edges
FROM pairs e1
JOIN pairs e2 ON e1.b = e2.a
JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
"""


@register("graph_triangle_count", oracle=_TRIANGLE_ORACLE)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import copurchase_half

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # Sparsified (>= 2 shared orders) projection via the SHARED
    # set-explosion edge source (r6 review: this was the third inline
    # copy of the build, and the self-join form it used is the one
    # copurchase_half's docstring documents as 2.3x slower).
    pairs = copurchase_half(li, min_orders=2) \
        .withColumnRenamed("src", "a").withColumnRenamed("dst", "b")
    # Undirected degree per node from the half-pairs, broadcast onto
    # the edges to re-orient them lower-degree-endpoint-first.
    deg = (
        pairs.select(F.explode(F.array("a", "b")).alias("n"))
        .groupBy("n").agg(F.count("*").alias("d"))
    )
    ranked = (
        pairs.join(F.broadcast(deg.withColumnRenamed("n", "a")
                   .withColumnRenamed("d", "da")), "a")
        .join(F.broadcast(deg.withColumnRenamed("n", "b")
              .withColumnRenamed("d", "db")), "b")
    )
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ranked.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    ).localCheckpoint(eager=True)
    # Wedges fan out only from each edge's LOWER-degree endpoint:
    # e1=(u,v), e2=(u,w) with v < w (each unordered wedge once),
    # closed by the edge between v and w in EITHER orientation --
    # canonicalized back to id order so the close stays an equi-join.
    # Wedge counts are PRE-AGGREGATED per (v, w) before the closing
    # join: the raw wedge fan-out streams straight into a map-side
    # partial count, so the join (and any sort for it) sees at most
    # one row per distinct endpoint pair instead of every wedge --
    # the difference between spilling a 100M-row wedge stream and
    # joining an edge-bounded table.
    e2 = oriented.select(F.col("u"), F.col("v").alias("w"))
    closing = oriented.select(
        F.least("u", "v").alias("v"), F.greatest("u", "v").alias("w")
    )
    wedge_counts = (
        oriented.join(e2, "u")
        .filter(F.col("v") < F.col("w"))
        .groupBy("v", "w")
        .agg(F.count("*").alias("wc"))
    )
    tri = (
        wedge_counts.join(closing, ["v", "w"], "left_semi")
        # coalesce: sum over an empty (triangle-free) result is NULL,
        # but the count contract (and the oracle's count(*)) says 0.
        .agg(F.coalesce(F.sum("wc"), F.lit(0))
             .cast("long").alias("n_triangles"))
    )
    edges = pairs.agg(F.count("*").alias("n_edges"))
    return tri.join(F.broadcast(edges))


# ---------------------------------------------------------------------------
# Pairwise correlation matrix across the lineitem numeric columns in
# ONE aggregation pass (all pairs as parallel corr aggregates over the
# same scan), long format.
# ---------------------------------------------------------------------------

_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")

_CORR_ORACLE = " UNION ALL ".join(
    f"""SELECT '{a}' AS col_a, '{b}' AS col_b,
        floor(corr({a}, {b}) * 1000000 + 0.5) / 1000000 AS pearson_r
        FROM lineitem"""
    for i, a in enumerate(_CORR_COLS)
    for b in _CORR_COLS[i + 1:]
)


@register("agg_corr_matrix", oracle=_CORR_ORACLE)
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    pairs = [
        (a, b)
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1:]
    ]
    # floor-based rounding (FIXTURES.md): corr values are arbitrary
    # doubles, where repr-based round() can split from DuckDB's
    # binary round on .xxxxxx5 boundaries.
    wide = li.agg(*[
        (F.floor(F.corr(a, b) * 1000000 + 0.5) / 1000000)
        .alias(f"{a}__{b}") for a, b in pairs
    ])
    stack = ", ".join(
        f"'{a}', '{b}', {a}__{b}" for a, b in pairs
    )
    return wide.selectExpr(
        f"stack({len(pairs)}, {stack}) AS (col_a, col_b, pearson_r)"
    )


# ---------------------------------------------------------------------------
# Quantile binning (feature discretization): deciles of order value
# over the (o_totalprice, o_orderkey) total order via ntile, rolled up
# to per-bin stats -- the discretizer a feature pipeline applies before
# bucketed training tables.
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# Entity resolution end-to-end: blocked fuzzy pairs -> connected
# components -> one canonical record per entity. The composition of
# the fuzzy-join idiom above with the dedup clustering machinery --
# the master-data pipeline that collapses near-identical catalog
# records. Oracle closes the same pair graph with a recursive CTE.
# ---------------------------------------------------------------------------

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
