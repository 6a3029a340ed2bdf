"""Event-analytics surface (``events_``) over the ``events`` table.

Product and telemetry reads a data platform runs over its event log:
active users, funnels and paths, cohorts and retention, attribution,
sessionization, survival curves, Markov models, anomaly and
changepoint screens, and time-series smoothing and forecasting.
Timestamps follow the session-UTC rule of ``session.tune_session``.
"""

from __future__ import annotations

from pyspark.sql import (
    DataFrame, functions as F, SparkSession, Window, Window as W,
)

from ..catalog import load
from ..functions.exact import (
    epoch_day as _epoch_day, FIXTURE_SPLIT_DAY as _RFM_SPLIT_DAY, q6 as _q6,
    q6f as _q6f, snap6 as _snap6, US_PER_DAY as _US_PER_DAY,
)
from ..functions.text import md5_bucket
from ..session import checkpoint, local_frame, scoped_conf
from . import register


_NEXTITEM_ORACLE = """
SELECT user_id, event_id,
       concat_ws('>', lag(event_type, 3) OVER w, lag(event_type, 2) OVER w,
                 lag(event_type, 1) OVER w) AS context,
       event_type AS next_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
QUALIFY lag(event_type, 1) OVER w IS NOT NULL
"""


@register("events_next_item_pairs", oracle=_NEXTITEM_ORACLE)
def events_next_item_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # Keep-predicate matches the oracle's QUALIFY exactly: a row
    # qualifies iff it HAS a predecessor (lag1 non-null) -- filtering
    # on context != '' instead would diverge the moment an event_type
    # is NULL (lag1 null but lag2 fills the context) or '' (context
    # empty though lag1 exists).
    return (
        ev.select(
            "user_id", "event_id",
            F.concat_ws(
                ">", F.lag("event_type", 3).over(w),
                F.lag("event_type", 2).over(w),
                F.lag("event_type", 1).over(w),
            ).alias("context"),
            F.col("event_type").alias("next_type"),
            F.lag("event_type", 1).over(w).alias("__lag1"),
        )
        .filter(F.col("__lag1").isNotNull())
        .drop("__lag1")
    )


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


_FUNNEL_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type, count(*) AS n
FROM seq WHERE prev_type IS NOT NULL
GROUP BY 1, 2
"""


@register("events_funnel_transitions", oracle=_FUNNEL_ORACLE)
def events_funnel_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix per user timeline (funnel edges)."""
    from pyspark.sql import Window as W

    from ..catalog import load

    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )


_DAU_ORACLE = """
SELECT date_trunc('day', ts) AS day,
       count(DISTINCT user_id) AS dau,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1
"""


@register("events_daily_active_users", oracle=_DAU_ORACLE)
def events_daily_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU + volume per day -- the canonical event-stream rollup. At
    100 TB the exact distinct is the expensive term (two-phase shuffle
    on (day, user)); agg_approx_distinct is the sketch alternative."""
    from ..catalog import load

    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.countDistinct("user_id").alias("dau"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


_PIVOT_ORACLE = """
SELECT date_trunc('day', ts) AS day,
       count(*) FILTER (WHERE event_type = 'click')    AS click,
       count(*) FILTER (WHERE event_type = 'error')    AS error,
       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       count(*) FILTER (WHERE event_type = 'signup')   AS signup,
       count(*) FILTER (WHERE event_type = 'view')     AS view
FROM events
GROUP BY 1
"""


@register("events_pivot_daily_matrix", oracle=_PIVOT_ORACLE)
def events_pivot_daily_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load

    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
        .na.fill(0)
    )


_GAPFILL_ORACLE = """
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
  FROM events
),
hours AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr FROM bounds
),
types AS (SELECT DISTINCT event_type FROM events),
counts AS (
  SELECT date_trunc('hour', ts) AS hr, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT t.event_type, h.hr, coalesce(c.n, 0) AS n,
       CAST(sum(coalesce(c.n, 0)) OVER (PARTITION BY t.event_type
                                        ORDER BY h.hr) AS BIGINT) AS cum_n
FROM hours h
CROSS JOIN types t
LEFT JOIN counts c ON c.hr = h.hr AND c.event_type = t.event_type
"""


@register("events_gapfill_hourly", oracle=_GAPFILL_ORACLE)
def events_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..catalog import load

    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hr"), "event_type"
    ).agg(F.count("*").alias("n"))
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("hr")
    )
    types = ev.select("event_type").distinct()
    w = W.partitionBy("event_type").orderBy("hr")
    return (
        hours.crossJoin(types)
        .join(hourly, ["hr", "event_type"], "left")
        .withColumn("n", F.coalesce("n", F.lit(0)))
        .withColumn("cum_n", F.sum("n").over(w))
        .select("event_type", "hr", "n", "cum_n")
    )


_RFM_ORACLE = """
WITH p AS (
  SELECT user_id, ts,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
mx AS (SELECT max(ts) AS anchor FROM p),
u AS (
  SELECT user_id,
         CAST(date_diff('day', max(ts), (SELECT anchor FROM mx))
              AS BIGINT) AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(cents) AS BIGINT) AS monetary_cents
  FROM p GROUP BY user_id
)
SELECT user_id, recency_days, frequency, monetary_cents,
       CAST(ntile(4) OVER (ORDER BY recency_days ASC, user_id) AS INTEGER)
         AS r_score,
       CAST(ntile(4) OVER (ORDER BY frequency DESC, user_id) AS INTEGER)
         AS f_score,
       CAST(ntile(4) OVER (ORDER BY monetary_cents DESC, user_id)
            AS INTEGER) AS m_score
FROM u ORDER BY user_id
"""


@register("events_rfm_segments", oracle=_RFM_ORACLE)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency / frequency / monetary quartile scores per purchasing
    user (score 1 = best quartile: most recent, most frequent,
    highest spend). Exact integer metrics end to end -- days from
    microsecond timestamps, summed cents -- and user_id tiebreaks
    make every quartile boundary deterministic.

    Scale: one groupBy(user) rollup, then each quartile score derives
    from a `global_rank` pass (range-partitioned local ranks +
    broadcast offsets) and `ntile_expr`'s integer bucket arithmetic --
    the user universe is unbounded, so the global ntile windows this
    used before round 5 would each funnel the whole rollup through
    one task's sort. Three rank passes (one per ordering), zero
    single-task windows."""
    events = load(spark, sf_dir, "events")

    p = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        .alias("cents"),
    )
    anchor = p.agg(F.max("ts").alias("anchor"))
    u = (
        p.groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum("cents").alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            F.datediff(F.col("anchor"), F.col("last_ts")).cast("long")
            .alias("recency_days"),
            "frequency", "monetary_cents",
        )
    )
    from ..operators.ranking import global_rank, ntile_expr

    base = u.select(
        "user_id", "recency_days", "frequency", "monetary_cents",
        (-F.col("frequency")).alias("__negf"),
        (-F.col("monetary_cents")).alias("__negm"),
    )
    ranked = global_rank(base, ["recency_days", "user_id"], "__gr_r")
    n = ranked.count()  # reads the checkpointed layout, not events
    ranked = global_rank(ranked, ["__negf", "user_id"], "__gr_f")
    ranked = global_rank(ranked, ["__negm", "user_id"], "__gr_m")
    ranked = ranked.withColumn("__n", F.lit(n).cast("long"))
    return ranked.select(
        "user_id", "recency_days", "frequency", "monetary_cents",
        ntile_expr("__gr_r", "__n", 4).cast("int").alias("r_score"),
        ntile_expr("__gr_f", "__n", 4).cast("int").alias("f_score"),
        ntile_expr("__gr_m", "__n", 4).cast("int").alias("m_score"),
    ).orderBy("user_id")


_OVERLAP_ORACLE = """
WITH tu AS (
  SELECT DISTINCT event_type, user_id FROM events
)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       CAST(count(*) AS BIGINT) AS n_both
FROM tu a JOIN tu b ON a.user_id = b.user_id
WHERE a.event_type < b.event_type
GROUP BY type_a, type_b
ORDER BY type_a, type_b
"""


@register("events_audience_overlap", oracle=_OVERLAP_ORACLE)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user intersection counts for every unordered pair of
    event types (a < b keeps each pair once)."""
    events = load(spark, sf_dir, "events")
    tu = events.select("event_type", "user_id").distinct()
    a = tu.alias("a")
    b = tu.alias("b")
    return (
        a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
               & (F.col("a.event_type") < F.col("b.event_type")))
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
        .orderBy("type_a", "type_b")
    )


_ATTR_ORACLE = """
WITH attributed AS (
  SELECT event_type, value,
         coalesce(
           last_value(CASE WHEN event_type <> 'purchase'
                           THEN event_type END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           'direct') AS channel
  FROM events
)
SELECT channel,
       CAST(count(*) AS BIGINT) AS n_conversions,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM attributed
WHERE event_type = 'purchase'
GROUP BY channel
ORDER BY channel
"""


@register("events_attribution_last_touch", oracle=_ATTR_ORACLE)
def events_attribution_last_touch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Last-touch attribution of purchases to the preceding
    non-purchase event type, integer-cent revenue per channel."""
    ev = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    channel = F.coalesce(
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        ).over(w),
        F.lit("direct"),
    )
    return (
        ev.withColumn("channel", channel)
        .filter(F.col("event_type") == "purchase")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_conversions"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
            .cast("long").alias("revenue_cents"),
        )
        .orderBy("channel")
    )


_EPOCH = "2024-01-01"  # day-number origin; only relative math uses it


_KM_ORACLE = f"""
WITH u AS (
  SELECT user_id,
         min(date_diff('day', DATE '{_EPOCH}', CAST(ts AS DATE))) AS fd,
         max(date_diff('day', DATE '{_EPOCH}', CAST(ts AS DATE))) AS ld
  FROM events GROUP BY user_id
),
mx AS (SELECT max(ld) AS max_day FROM u),
durs AS (
  SELECT CAST(ld - fd AS BIGINT) AS dur,
         CAST(sum(CASE WHEN ld < max_day THEN 1 ELSE 0 END) AS BIGINT) AS d,
         CAST(sum(CASE WHEN ld = max_day THEN 1 ELSE 0 END) AS BIGINT) AS c
  FROM u, mx GROUP BY 1
),
risk AS (
  SELECT dur, d, c,
         CAST(sum(d + c) OVER (ORDER BY dur DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS n_risk
  FROM durs
),
steps AS (
  SELECT dur, n_risk, d, c,
         CASE WHEN d < n_risk THEN CAST(floor(
             ln(1.0 - CAST(d AS DOUBLE) / n_risk) * 1e6 + 0.5) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS ln_q,
         CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS kill
  FROM risk
)
SELECT dur, n_risk, d, c,
       CAST(sum(ln_q) OVER w AS DOUBLE) / 1e6 AS logs_s,
       CASE WHEN max(kill) OVER w = 1 THEN 0.0
            ELSE floor(exp(CAST(sum(ln_q) OVER w AS DOUBLE) / 1e6)
                       * 1e6 + 0.5) / 1e6 END AS surv_s
FROM steps
WINDOW w AS (ORDER BY dur
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY dur
"""


@register("events_kaplan_meier", oracle=_KM_ORACLE)
def events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-limit survival curve of user engagement durations with
    final-day right-censoring, via the quantized-ln product."""
    ev = load(spark, sf_dir, "events")
    day = F.datediff(F.to_date("ts"), F.to_date(F.lit(_EPOCH)))
    # one corpus scan: the per-user table feeds both the max-day agg
    # and the duration rollup
    u = checkpoint(ev.groupBy("user_id")
                   .agg(F.min(day).alias("fd"), F.max(day).alias("ld")))
    mx = u.agg(F.max("ld").alias("max_day"))
    durs = (
        u.crossJoin(F.broadcast(mx))
        .groupBy((F.col("ld") - F.col("fd")).cast("long").alias("dur"))
        .agg(
            F.sum(F.when(F.col("ld") < F.col("max_day"), 1).otherwise(0))
            .cast("long").alias("d"),
            F.sum(F.when(F.col("ld") == F.col("max_day"), 1).otherwise(0))
            .cast("long").alias("c"),
        )
    )
    # bounded table (<= observation-window days): single-partition
    # windows here are over model state, not the corpus
    w_desc = W.orderBy(F.col("dur").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow)
    w_asc = W.orderBy("dur").rowsBetween(
        W.unboundedPreceding, W.currentRow)
    risk = durs.withColumn(
        "n_risk", F.sum(F.col("d") + F.col("c")).over(w_desc).cast("long"))
    steps = risk.select(
        "dur", "n_risk", "d", "c",
        F.when(F.col("d") < F.col("n_risk"),
               _q6(F.log(F.lit(1.0) - F.col("d").cast("double")
                         / F.col("n_risk"))))
        .otherwise(F.lit(0).cast("long")).alias("ln_q"),
        F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0).alias("kill"),
    )
    logs = F.sum("ln_q").over(w_asc).cast("double") / 1e6
    return (
        steps.select(
            "dur", "n_risk", "d", "c",
            logs.alias("logs_s"),
            F.when(F.max("kill").over(w_asc) == 1, F.lit(0.0))
            .otherwise(_snap6(F.exp(logs))).alias("surv_s"),
        )
        .orderBy("dur")
    )


_SEASONAL_ORACLE = f"""
WITH daily AS (
  SELECT date_diff('day', DATE '{_EPOCH}', CAST(ts AS DATE)) AS day_num,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
m AS (SELECT floor(CAST(sum(n) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6
             AS grand FROM daily),
dow_m AS (
  SELECT day_num % 7 AS dow,
         floor(CAST(sum(n) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6
           AS dow_mean
  FROM daily GROUP BY 1
),
trend AS (
  SELECT day_num,
         CASE WHEN count(*) OVER w = 7 THEN
           floor(CAST(sum(n) OVER w AS DOUBLE) / 7 * 1e6 + 0.5) / 1e6
         END AS trend_s
  FROM daily
  WINDOW w AS (ORDER BY day_num ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
)
SELECT d.day_num, d.day_num % 7 AS dow, d.n,
       floor((dm.dow_mean - m.grand) * 1e6 + 0.5) / 1e6 AS seasonal_s,
       t.trend_s,
       CASE WHEN t.trend_s IS NOT NULL THEN
         floor((d.n - (dm.dow_mean - m.grand) - t.trend_s) * 1e6 + 0.5)
           / 1e6 END AS resid_s
FROM daily d
JOIN dow_m dm ON dm.dow = d.day_num % 7
JOIN trend t ON t.day_num = d.day_num, m
ORDER BY d.day_num
"""


@register("events_seasonal_decompose", oracle=_SEASONAL_ORACLE)
def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal index + centered 7-day trend + residual
    for the daily event count."""
    ev = load(spark, sf_dir, "events")
    day = F.datediff(F.to_date("ts"), F.to_date(F.lit(_EPOCH)))
    # grand/dow/trend all reuse it
    daily = checkpoint(
        ev.groupBy(day.alias("day_num"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    grand = daily.agg(
        _snap6(F.sum("n").cast("double") / F.count(F.lit(1)))
        .alias("grand"))
    dow_m = (
        daily.groupBy((F.col("day_num") % 7).alias("dow"))
        .agg(_snap6(F.sum("n").cast("double") / F.count(F.lit(1)))
             .alias("dow_mean"))
    )
    wt = W.orderBy("day_num").rowsBetween(-3, 3)
    trend = daily.select(
        "day_num",
        F.when(F.count(F.lit(1)).over(wt) == 7,
               _snap6(F.sum("n").over(wt).cast("double") / 7))
        .alias("trend_s"),
    )
    seasonal = _snap6(F.col("dow_mean") - F.col("grand"))
    return (
        daily.withColumn("dow", F.col("day_num") % 7)
        .join(F.broadcast(dow_m), "dow")
        .join(F.broadcast(trend), "day_num")
        .crossJoin(F.broadcast(grand))
        .select(
            "day_num", "dow", "n",
            seasonal.alias("seasonal_s"),
            "trend_s",
            F.when(F.col("trend_s").isNotNull(),
                   _snap6(F.col("n") - seasonal - F.col("trend_s")))
            .alias("resid_s"),
        )
        .orderBy("day_num")
    )


_ZC = 1.96


_AB_ORACLE = f"""
WITH u AS (
  SELECT user_id,
         CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':ab'),
                                  1, 6) AS BIGINT) % 2 AS BIGINT) AS arm,
         CASE WHEN min(CASE WHEN event_type = 'purchase' THEN ts END)
                   IS NOT NULL
              AND date_diff('day', CAST(min(ts) AS DATE),
                    CAST(min(CASE WHEN event_type = 'purchase' THEN ts
                             END) AS DATE)) <= 2
              THEN 1 ELSE 0 END AS conv
  FROM events GROUP BY user_id
),
arms AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(conv) AS BIGINT) AS c
  FROM u GROUP BY arm
),
wide AS (
  SELECT
    max(CASE WHEN arm = 0 THEN n END) AS n0,
    max(CASE WHEN arm = 0 THEN c END) AS c0,
    max(CASE WHEN arm = 1 THEN n END) AS n1,
    max(CASE WHEN arm = 1 THEN c END) AS c1
  FROM arms
),
rates AS (
  SELECT n0, c0, n1, c1,
         CAST(c0 AS DOUBLE) / n0 AS p0, CAST(c1 AS DOUBLE) / n1 AS p1,
         CAST(c0 + c1 AS DOUBLE) / (n0 + n1) AS pp
  FROM wide
)
SELECT n0, c0, floor(p0 * 1e6 + 0.5) / 1e6 AS rate0_s,
       n1, c1, floor(p1 * 1e6 + 0.5) / 1e6 AS rate1_s,
       floor((p0 + {_ZC} * {_ZC} / (2 * n0)
              - {_ZC} * sqrt(p0 * (1 - p0) / n0
                             + {_ZC} * {_ZC} / (4.0 * n0 * n0)))
             / (1 + {_ZC} * {_ZC} / n0) * 1e6 + 0.5) / 1e6 AS lo0_s,
       floor((p0 + {_ZC} * {_ZC} / (2 * n0)
              + {_ZC} * sqrt(p0 * (1 - p0) / n0
                             + {_ZC} * {_ZC} / (4.0 * n0 * n0)))
             / (1 + {_ZC} * {_ZC} / n0) * 1e6 + 0.5) / 1e6 AS hi0_s,
       floor((p1 + {_ZC} * {_ZC} / (2 * n1)
              - {_ZC} * sqrt(p1 * (1 - p1) / n1
                             + {_ZC} * {_ZC} / (4.0 * n1 * n1)))
             / (1 + {_ZC} * {_ZC} / n1) * 1e6 + 0.5) / 1e6 AS lo1_s,
       floor((p1 + {_ZC} * {_ZC} / (2 * n1)
              + {_ZC} * sqrt(p1 * (1 - p1) / n1
                             + {_ZC} * {_ZC} / (4.0 * n1 * n1)))
             / (1 + {_ZC} * {_ZC} / n1) * 1e6 + 0.5) / 1e6 AS hi1_s,
       floor((p1 - p0) / nullif(p0, 0) * 1e6 + 0.5) / 1e6 AS uplift_s,
       floor((p1 - p0)
             / nullif(sqrt(pp * (1 - pp) * (1.0 / n0 + 1.0 / n1)), 0)
             * 1e6 + 0.5) / 1e6 AS z_s
FROM rates
"""


@register("events_ab_test_analysis", oracle=_AB_ORACLE)
def events_ab_test_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-arm conversion readout: md5-assigned variants, Wilson 95%
    intervals, pooled two-proportion z, relative uplift."""
    ev = load(spark, sf_dir, "events")
    fp = F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
    u = (
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"), fp.alias("first_purchase"))
        .select(
            md5_bucket(F.concat(F.col("user_id").cast("string"),
                                F.lit(":ab")), 2).alias("arm"),
            F.when(
                F.col("first_purchase").isNotNull()
                & (F.datediff(F.to_date("first_purchase"),
                              F.to_date("first_ts")) <= 2),
                1).otherwise(0).alias("conv"),
        )
    )
    arms = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("conv").cast("long").alias("c"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("c"))).alias("c0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("c"))).alias("c1"),
    )
    p0 = F.col("c0").cast("double") / F.col("n0")
    p1 = F.col("c1").cast("double") / F.col("n1")
    pp = (F.col("c0") + F.col("c1")).cast("double") / (F.col("n0")
                                                       + F.col("n1"))
    zc = F.lit(_ZC)

    def wilson(p, n, sign):
        half = zc * zc / (2 * n)
        rad = zc * F.sqrt(p * (1 - p) / n + zc * zc / (4.0 * n * n))
        return _snap6((p + half + sign * rad) / (1 + zc * zc / n))

    n0, n1 = F.col("n0"), F.col("n1")
    return wide.select(
        "n0", "c0", _snap6(p0).alias("rate0_s"),
        "n1", "c1", _snap6(p1).alias("rate1_s"),
        wilson(p0, n0, -1).alias("lo0_s"),
        wilson(p0, n0, 1).alias("hi0_s"),
        wilson(p1, n1, -1).alias("lo1_s"),
        wilson(p1, n1, 1).alias("hi1_s"),
        _snap6((p1 - p0) / F.nullif(p0, F.lit(0.0))).alias("uplift_s"),
        _snap6((p1 - p0)
               / F.nullif(F.sqrt(pp * (1 - pp)
                                 * (1.0 / n0 + 1.0 / n1)), F.lit(0.0)))
        .alias("z_s"),
    )


_CUSUM_ORACLE = """
WITH daily AS (
  SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day_num,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
m AS (
  SELECT CAST(floor(CAST(sum(n) AS DOUBLE) / count(*) * 1e6 + 0.5)
              AS BIGINT) AS mean_q,
         floor(sqrt((sum(CAST(n AS DOUBLE) * n)
                     - CAST(sum(n) AS DOUBLE) * sum(n) / count(*))
                    / count(*)) * 1e6 + 0.5) / 1e6 AS std_s,
         CAST(count(*) AS BIGINT) AS days
  FROM daily
),
cus AS (
  SELECT day_num, n,
         CAST(sum(n * 1000000 - mean_q) OVER (
           ORDER BY day_num
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS cusum_q
  FROM daily, m
)
SELECT day_num, n,
       CAST(cusum_q AS DOUBLE) / 1e6 AS cusum_s,
       floor(abs(CAST(cusum_q AS DOUBLE) / 1e6)
             / nullif(m.std_s * sqrt(CAST(m.days AS DOUBLE)), 0)
             * 1e6 + 0.5) / 1e6 AS stat_s,
       CASE WHEN row_number() OVER (ORDER BY abs(cusum_q) DESC, day_num)
                 = 1 THEN 1 ELSE 0 END AS is_changepoint
FROM cus, m
ORDER BY day_num
"""


@register("events_cusum_changepoint", oracle=_CUSUM_ORACLE)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-count CUSUM curve with standardized statistic and the
    earliest-argmax changepoint flag."""
    ev = load(spark, sf_dir, "events")
    day = F.datediff(F.to_date("ts"), F.to_date(F.lit("2024-01-01")))
    # mean/std + cusum reuse
    daily = checkpoint(
        ev.groupBy(day.alias("day_num"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    m = daily.agg(
        F.floor(F.sum("n").cast("double") / F.count(F.lit(1)) * 1e6
                + F.lit(0.5)).cast("long").alias("mean_q"),
        _snap6(F.sqrt(
            (F.sum(F.col("n").cast("double") * F.col("n"))
             - F.sum("n").cast("double") * F.sum("n") / F.count(F.lit(1)))
            / F.count(F.lit(1)))).alias("std_s"),
        F.count(F.lit(1)).cast("long").alias("days"),
    )
    w_cum = W.orderBy("day_num").rowsBetween(W.unboundedPreceding,
                                             W.currentRow)
    cus = (
        daily.crossJoin(F.broadcast(m))
        .withColumn(
            "cusum_q",
            F.sum(F.col("n") * 1000000 - F.col("mean_q")).over(w_cum)
            .cast("long"),
        )
    )
    w_rank = W.orderBy(F.abs(F.col("cusum_q")).desc(), "day_num")
    return (
        cus.select(
            "day_num", "n",
            (F.col("cusum_q").cast("double") / 1e6).alias("cusum_s"),
            _snap6(F.abs(F.col("cusum_q").cast("double") / 1e6)
                   / F.nullif(F.col("std_s")
                              * F.sqrt(F.col("days").cast("double")),
                              F.lit(0.0)))
            .alias("stat_s"),
            F.when(F.row_number().over(w_rank) == 1, 1).otherwise(0)
            .alias("is_changepoint"),
        )
        .orderBy("day_num")
    )


_MARKOV_STEPS = 6


def _markov_oracle(steps: int = _MARKOV_STEPS) -> str:
    its = []
    for k in range(1, steps + 1):
        its.append(f"""
pi{k} AS (
  SELECT g.j,
         CAST(sum(CAST(floor(p.val * g.p * 1e6 + 0.5) AS BIGINT))
              AS BIGINT) / 1e6 AS val
  FROM grid g JOIN pi{k - 1} p ON p.j = g.i
  GROUP BY g.j
)""")
    return f"""
WITH pairs AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
),
cnt AS (
  SELECT prev_type AS s_from, event_type AS s_to,
         CAST(count(*) AS BIGINT) AS c
  FROM pairs WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
states AS (
  SELECT event_type AS s,
         CAST(row_number() OVER (ORDER BY event_type) AS BIGINT) AS idx
  FROM (SELECT DISTINCT event_type FROM events)
),
outd AS (
  SELECT sf.idx AS i, CAST(COALESCE(sum(cnt.c), 0) AS BIGINT) AS o
  FROM states sf LEFT JOIN cnt ON cnt.s_from = sf.s
  GROUP BY sf.idx
),
grid AS (
  SELECT sf.idx AS i, st.idx AS j,
         CASE WHEN o.o = 0 THEN CASE WHEN sf.idx = st.idx THEN 1.0
                                     ELSE 0.0 END
              ELSE floor(CAST(COALESCE(cnt.c, 0) AS DOUBLE) / o.o
                         * 1e6 + 0.5) / 1e6 END AS p
  FROM states sf CROSS JOIN states st
  JOIN outd o ON o.i = sf.idx
  LEFT JOIN cnt ON cnt.s_from = sf.s AND cnt.s_to = st.s
),
nstates AS (SELECT CAST(count(*) AS BIGINT) AS k FROM states),
pi0 AS (SELECT idx AS j, 1.0 / nstates.k AS val FROM states, nstates),
{','.join(its)}
SELECT s.s AS state, o.o AS out_transitions,
       pi{steps}.val AS stationary_s
FROM pi{steps} JOIN states s ON s.idx = pi{steps}.j
JOIN outd o ON o.i = pi{steps}.j
ORDER BY state
"""


@register("events_markov_stationary", oracle=_markov_oracle())
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain via six
    snapped power steps over the densified transition matrix."""
    ev = load(spark, sf_dir, "events")
    wl = W.partitionBy("user_id").orderBy("ts", "event_id")
    # checkpoint both model tables: the corpus lag window would
    # otherwise re-run for the output lineage after the grid collect
    cnt = checkpoint(
        ev.withColumn("prev_type", F.lag("event_type").over(wl))
        .filter(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type").alias("s_from"),
                 F.col("event_type").alias("s_to"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    states = checkpoint(
        ev.select("event_type").distinct()
        .select(F.col("event_type").alias("s"))
        .withColumn("idx", F.row_number().over(W.orderBy("s")).cast("long"))
    )
    sf_ = states.select(F.col("s").alias("s_from"),
                        F.col("idx").alias("i"))
    st_ = states.select(F.col("s").alias("s_to"), F.col("idx").alias("j"))
    outd = (
        sf_.join(cnt, "s_from", "left")
        .groupBy("i")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("o"))
    )
    grid_rows = (
        sf_.crossJoin(st_)
        .join(F.broadcast(outd), "i")
        .join(F.broadcast(cnt), ["s_from", "s_to"], "left")
        .select(
            "i", "j",
            F.when(F.col("o") == 0,
                   F.when(F.col("i") == F.col("j"), F.lit(1.0))
                   .otherwise(F.lit(0.0)))
            .otherwise(_snap6(F.coalesce(F.col("c"), F.lit(0))
                              .cast("double") / F.col("o"))).alias("p"),
        )
        .collect()
    )
    out_rows = {r["i"]: None for r in grid_rows}
    k = len(out_rows)
    p = {(r["i"], r["j"]): r["p"] for r in grid_rows}
    pi = {j: 1.0 / k for j in range(1, k + 1)}
    for _ in range(_MARKOV_STEPS):
        pi = {j: sum(_q6f(pi[i] * p[(i, j)]) for i in range(1, k + 1))
              / 1e6 for j in range(1, k + 1)}
    out = (
        states.join(F.broadcast(outd),
                    states.idx == F.col("i"))
        .select(F.col("s").alias("state"),
                F.col("o").alias("out_transitions"), "idx")
    )
    pi_df = local_frame(
        spark, [(j, pi[j]) for j in pi], "idx long, stationary_s double")
    return (
        out.join(F.broadcast(pi_df), "idx")
        .select("state", "out_transitions", "stationary_s")
        .orderBy("state")
    )


_PATH_TOPK = 15


_PATH_ORACLE = f"""
WITH seq AS (
  SELECT user_id, event_type AS t3,
         lag(event_type, 1) OVER w AS t2,
         lag(event_type, 2) OVER w AS t1
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT t1 || '>' || t2 || '>' || t3 AS path,
       CAST(count(*) AS BIGINT) AS n
FROM seq WHERE t1 IS NOT NULL
GROUP BY 1
ORDER BY n DESC, path
LIMIT {_PATH_TOPK}
"""


@register("events_path_trigrams", oracle=_PATH_ORACLE)
def events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3-step event-type paths across all user journeys."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("t3"),
        F.lag("event_type", 1).over(w).alias("t2"),
        F.lag("event_type", 2).over(w).alias("t1"),
    )
    return (
        seq.filter(F.col("t1").isNotNull())
        .select(F.concat_ws(">", "t1", "t2", "t3").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(_PATH_TOPK)
    )


_ISLANDS_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day_num
  FROM events
),
runs AS (
  SELECT user_id, day_num,
         day_num - row_number() OVER (PARTITION BY user_id
                                      ORDER BY day_num) AS grp
  FROM days
),
islands AS (
  SELECT user_id, grp,
         CAST(min(day_num) AS BIGINT) AS start_day,
         CAST(count(*) AS BIGINT) AS len
  FROM runs GROUP BY user_id, grp
)
SELECT user_id,
       CAST(sum(len) AS BIGINT) AS n_active_days,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(max(len) AS BIGINT) AS longest_len,
       CAST(min(CASE WHEN len = ml THEN start_day END) AS BIGINT)
         AS longest_start_day
FROM (SELECT *, max(len) OVER (PARTITION BY user_id) AS ml
      FROM islands) t
GROUP BY user_id
ORDER BY user_id
"""


@register("events_activity_islands", oracle=_ISLANDS_ORACLE)
def events_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands over distinct active days: per-user streak
    count, longest streak, and its start day."""
    ev = load(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.to_date(F.lit("2024-01-01")))
        .alias("day_num"),
    ).distinct()
    rn = F.row_number().over(W.partitionBy("user_id").orderBy("day_num"))
    runs = days.withColumn("grp", F.col("day_num") - rn)
    islands = runs.groupBy("user_id", "grp").agg(
        F.min("day_num").cast("long").alias("start_day"),
        F.count(F.lit(1)).cast("long").alias("len"),
    )
    ml = F.max("len").over(W.partitionBy("user_id"))
    return (
        islands.withColumn("ml", ml)
        .groupBy("user_id")
        .agg(
            F.sum("len").cast("long").alias("n_active_days"),
            F.count(F.lit(1)).cast("long").alias("n_islands"),
            F.max("len").cast("long").alias("longest_len"),
            F.min(F.when(F.col("len") == F.col("ml"),
                         F.col("start_day"))).cast("long")
            .alias("longest_start_day"),
        )
        .orderBy("user_id")
    )


_TTC_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN ts END) AS t0,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
  FROM events GROUP BY user_id
),
conv AS (
  SELECT user_id,
         CAST(date_diff('day', DATE '2024-01-01', CAST(t0 AS DATE)) // 7
              AS BIGINT) AS week,
         CAST((epoch_us(tp) - epoch_us(t0)) // 1000000 AS BIGINT)
           AS lag_sec
  FROM per_user
  WHERE t0 IS NOT NULL AND tp IS NOT NULL AND tp > t0
    AND CAST(t0 AS DATE) >= DATE '2024-01-01'
),
cohort_n AS (
  SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(t0 AS DATE)) // 7
              AS BIGINT) AS week,
         CAST(count(*) AS BIGINT) AS n_users
  FROM per_user
  WHERE t0 IS NOT NULL AND CAST(t0 AS DATE) >= DATE '2024-01-01'
  GROUP BY 1
),
ranked AS (
  SELECT week, lag_sec,
         row_number() OVER (PARTITION BY week
                            ORDER BY lag_sec, user_id) AS rn,
         count(*) OVER (PARTITION BY week) AS n
  FROM conv
),
q AS (
  SELECT week,
         CAST(max(n) AS BIGINT) AS n_converted,
         CAST(min(CASE WHEN rn >= ceil(n * 0.5) THEN lag_sec END)
              AS BIGINT) AS median_lag_sec,
         CAST(min(CASE WHEN rn >= ceil(n * 0.9) THEN lag_sec END)
              AS BIGINT) AS p90_lag_sec
  FROM ranked GROUP BY week
)
SELECT c.week, c.n_users,
       COALESCE(q.n_converted, 0) AS n_converted,
       q.median_lag_sec, q.p90_lag_sec
FROM cohort_n c LEFT JOIN q ON q.week = c.week
ORDER BY c.week
"""


@register("events_time_to_convert", oracle=_TTC_ORACLE)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup-to-first-purchase lag per signup-week cohort with exact
    rank-crossing median and p90."""
    ev = load(spark, sf_dir, "events")
    per_user = checkpoint(ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts")))
        .alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
        .alias("tp"),
    ))  # feeds conv AND cohort_n: scan once
    # Cohorts are guarded to t0 >= the 2024-01-01 fixture anchor: for
    # earlier rows the truncating `/7 -> long` here and the flooring
    # `// 7` in the oracle would disagree on negative week indexes
    # (ADVICE r4). With the guard datediff >= 0, where both floor.
    anchored = F.to_date("t0") >= F.lit("2024-01-01")
    week = (F.datediff(F.to_date("t0"), F.to_date(F.lit("2024-01-01")))
            / 7).cast("long")
    conv = (
        per_user
        .where(F.col("t0").isNotNull() & F.col("tp").isNotNull()
               & (F.col("tp") > F.col("t0")) & anchored)
        .select(
            "user_id", week.alias("week"),
            ((F.unix_micros("tp") - F.unix_micros("t0")) / 1000000)
            .cast("long").alias("lag_sec"),
        )
    )
    cohort_n = (
        per_user.where(F.col("t0").isNotNull() & anchored)
        .groupBy(week.alias("week"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )
    # Per-cohort rank WITHOUT a per-week window: a hot signup week
    # would funnel its whole cohort through one task's sort. The group
    # key is signup WEEK, which grows with the data's time horizon --
    # since round 7 `grouped_rank` itself counts the groups and
    # auto-switches its offsets join from broadcast to shuffle above
    # GROUPED_RANK_BROADCAST_MAX, so a finer time key (hour/minute)
    # over years of data can no longer force an unbounded broadcast.
    from ..operators.ranking import grouped_rank

    ranked = grouped_rank(conv, ["week"], ["lag_sec", "user_id"],
                          "rn", count_col="n").select(
        "week", "lag_sec", "rn", "n")
    q = ranked.groupBy("week").agg(
        F.max("n").cast("long").alias("n_converted"),
        F.min(F.when(F.col("rn") >= F.ceil(F.col("n") * 0.5),
                     F.col("lag_sec"))).cast("long")
        .alias("median_lag_sec"),
        F.min(F.when(F.col("rn") >= F.ceil(F.col("n") * 0.9),
                     F.col("lag_sec"))).cast("long")
        .alias("p90_lag_sec"),
    )
    return (
        cohort_n.join(q, "week", "left")
        .select(
            "week", "n_users",
            F.coalesce(F.col("n_converted"), F.lit(0)).cast("long")
            .alias("n_converted"),
            "median_lag_sec", "p90_lag_sec",
        )
        .orderBy("week")
    )


_ACF_ORACLE = """
WITH counts AS (
  SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1
),
span AS (SELECT CAST(max(d) + 1 AS BIGINT) AS n_days FROM counts),
axis AS (
  SELECT CAST(i AS BIGINT) AS d
  FROM span, unnest(range(0, CAST(n_days AS INTEGER))) AS t(i)
),
dense AS (
  SELECT a.d, COALESCE(c.y, 0) AS y
  FROM axis a LEFT JOIN counts c ON c.d = a.d
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS tot
  FROM dense
),
centered AS (
  SELECT d.d, CAST(s.n * d.y - s.tot AS BIGINT) AS cy, s.n
  FROM dense d CROSS JOIN stats s
),
lags AS (SELECT unnest(range(1, 8)) AS lag),
prods AS (
  SELECT l.lag,
         CAST(sum(a.cy * b.cy) AS BIGINT) AS num
  FROM lags l
  JOIN centered a ON TRUE
  JOIN centered b ON b.d = a.d + l.lag
  GROUP BY l.lag
),
den AS (SELECT CAST(sum(cy * cy) AS BIGINT) AS den FROM centered)
SELECT p.lag AS lag_days, p.num, d.den,
       floor(CAST(p.num AS DOUBLE) / nullif(d.den, 0) * 1e6 + 0.5) / 1e6
         AS acf_s
FROM prods p CROSS JOIN den d
ORDER BY p.lag
"""


@register("events_autocorrelation", oracle=_ACF_ORACLE)
def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF of daily event counts at lags 1..7 in exact integer
    algebra over the densified day axis."""
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy(
        F.datediff(F.to_date("ts"), F.to_date(F.lit("2024-01-01")))
        .alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    span = counts.agg((F.max("d") + 1).cast("long").alias("n_days"))
    axis = span.select(
        F.explode(F.sequence(F.lit(0), F.col("n_days") - 1)).alias("d"))
    dense = (
        axis.join(counts, "d", "left")
        .select("d", F.coalesce(F.col("y"), F.lit(0)).alias("y"))
    )
    stats = dense.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("tot"))
    centered = checkpoint(
        dense.crossJoin(F.broadcast(stats))
        .select("d", (F.col("n") * F.col("y") - F.col("tot"))
                .cast("long").alias("cy"))  # bounded day axis, reused 3x
    )
    lags = F.broadcast(
        local_frame(spark, [(k,) for k in range(1, 8)], "lag long"))
    a = centered.alias("a")
    b = centered.alias("b")
    prods = (
        lags.join(a, F.lit(True))
        .join(b, F.col("b.d") == F.col("a.d") + F.col("lag"))
        .groupBy("lag")
        .agg(F.sum(F.col("a.cy") * F.col("b.cy")).cast("long")
             .alias("num"))
    )
    den = centered.agg(
        F.sum(F.col("cy") * F.col("cy")).cast("long").alias("den"))
    return (
        prods.crossJoin(F.broadcast(den))
        .select(
            F.col("lag").alias("lag_days"), "num", "den",
            _snap6(F.col("num").cast("double")
                   / F.nullif(F.col("den"), F.lit(0))).alias("acf_s"),
        )
        .orderBy("lag_days")
    )


_ENTROPY_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
),
bi AS (
  SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS c_xy
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
),
uni AS (
  SELECT prev_type, CAST(sum(c_xy) AS BIGINT) AS c_x FROM bi
  GROUP BY prev_type
),
n AS (SELECT CAST(sum(c_x) AS BIGINT) AS n_total FROM uni),
ratio AS (
  SELECT b.prev_type, u.c_x,
         CAST(b.c_xy AS DOUBLE) / u.c_x AS r_raw,
         floor(CAST(b.c_xy AS DOUBLE) / u.c_x * 1e6 + 0.5) / 1e6 AS r_s
  FROM bi b JOIN uni u ON u.prev_type = b.prev_type
),
terms AS (
  SELECT prev_type, c_x,
         CASE WHEN r_s > 0 THEN
           CAST(floor(r_raw * (floor(ln(r_s) * 1e6 + 0.5) / 1e6)
                      * 1e6 + 0.5) AS BIGINT)
         ELSE CAST(0 AS BIGINT) END AS term_q
  FROM ratio
)
SELECT t.prev_type,
       CAST(max(t.c_x) AS BIGINT) AS n_out,
       floor(CAST(max(t.c_x) AS DOUBLE) / max(n.n_total) * 1e6 + 0.5)
         / 1e6 AS p_prev_s,
       floor(-sum(t.term_q) / 1e6 * 1e6 + 0.5) / 1e6 AS h_cond_s
FROM terms t CROSS JOIN n
GROUP BY t.prev_type
ORDER BY t.prev_type
"""


@register("events_markov_entropy_rate", oracle=_ENTROPY_ORACLE)
def events_markov_entropy_rate(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Conditional entropy H(next|prev) per journey state from exact
    bigram counts, int64-quantized terms."""
    ev = load(spark, sf_dir, "events")
    wl = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lag("event_type").over(wl).alias("prev_type"),
    ).where(F.col("prev_type").isNotNull())
    bi = checkpoint(seq.groupBy("prev_type", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c_xy")
    ))  # bounded state space, feeds 2 legs
    uni = bi.groupBy("prev_type").agg(
        F.sum("c_xy").cast("long").alias("c_x"))
    n = uni.agg(F.sum("c_x").cast("long").alias("n_total"))
    ratio_s = _snap6(F.col("c_xy").cast("double") / F.col("c_x"))
    # A transition rarer than 5e-7 of its prev state's traffic snaps to
    # a 0 ratio; p*ln(p) -> 0 there, so both engines drop the term
    # EXPLICITLY (Spark log(0)=NULL would silently null the term while
    # DuckDB ln(0) raises Out of Range).
    term_q = (
        F.when(
            ratio_s > 0,
            F.floor(
                (F.col("c_xy").cast("double") / F.col("c_x"))
                * _snap6(F.log(ratio_s)) * 1e6 + 0.5).cast("long"))
        .otherwise(F.lit(0).cast("long"))
    )
    terms = (
        bi.join(F.broadcast(uni), "prev_type")
        .select("prev_type", "c_x", term_q.alias("term_q"))
    )
    return (
        terms.crossJoin(F.broadcast(n))
        .groupBy("prev_type")
        .agg(
            F.max("c_x").cast("long").alias("n_out"),
            _snap6(F.max("c_x").cast("double") / F.max("n_total"))
            .alias("p_prev_s"),
            _snap6(-F.sum("term_q") / 1e6).alias("h_cond_s"),
        )
        .orderBy("prev_type")
    )


_FANO_ORACLE = """
WITH counts AS (
  SELECT event_type,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
span AS (
  SELECT CAST(max(d) + 1 AS BIGINT) AS n_days FROM counts
),
axis AS (
  SELECT t.event_type, CAST(i.i AS BIGINT) AS d
  FROM (SELECT DISTINCT event_type FROM counts) t
  CROSS JOIN (SELECT unnest(range(0, (SELECT CAST(n_days AS INTEGER)
                                      FROM span))) AS i) i
),
dense AS (
  SELECT a.event_type, COALESCE(c.y, 0) AS y
  FROM axis a LEFT JOIN counts c
    ON c.event_type = a.event_type AND c.d = a.d
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(y) AS BIGINT) AS n_events,
       floor(CAST(count(*) * sum(y * y) - sum(y) * sum(y) AS DOUBLE)
             / nullif(count(*) * sum(y), 0) * 1e6 + 0.5) / 1e6
         AS fano_s
FROM dense
GROUP BY event_type
ORDER BY event_type
"""


@register("events_fano_burstiness", oracle=_FANO_ORACLE)
def events_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (var/mean) of daily counts per event type from
    exact integer power sums over the densified day axis."""
    ev = load(spark, sf_dir, "events")
    # bounded (type x day), feeds 3 legs
    counts = checkpoint(ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.to_date(F.lit("2024-01-01")))
        .alias("d"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y")))
    span = counts.agg((F.max("d") + 1).cast("long").alias("n_days"))
    types = counts.select("event_type").distinct()
    axis = (
        types.crossJoin(F.broadcast(span))
        .select("event_type",
                F.explode(F.sequence(F.lit(0), F.col("n_days") - 1))
                .alias("d"))
    )
    dense = (
        axis.join(counts, ["event_type", "d"], "left")
        .select("event_type", F.coalesce(F.col("y"), F.lit(0)).alias("y"))
    )
    n = F.count(F.lit(1))
    sy = F.sum("y")
    syy = F.sum(F.col("y") * F.col("y"))
    return (
        dense.groupBy("event_type")
        .agg(
            n.cast("long").alias("n_days"),
            sy.cast("long").alias("n_events"),
            _snap6((n * syy - sy * sy).cast("double")
                   / F.nullif(n * sy, F.lit(0))).alias("fano_s"),
        )
        .orderBy("event_type")
    )


_SESSION_GAP_US = 30 * 60 * 1_000_000


_SESSION_ORACLE = f"""
WITH ev AS (
  SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS us
  FROM events
),
flagged AS (
  SELECT user_id, event_id, us,
         CASE WHEN us - lag(us) OVER (PARTITION BY user_id
                                      ORDER BY us, event_id)
                   > {_SESSION_GAP_US}
              OR lag(us) OVER (PARTITION BY user_id
                               ORDER BY us, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM ev
),
tagged AS (
  SELECT user_id, us,
         CAST(sum(new_s) OVER (PARTITION BY user_id
              ORDER BY us, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS sid
  FROM flagged
),
sess AS (
  SELECT user_id, sid,
         CAST(count(*) AS BIGINT) AS n_ev,
         CAST(max(us) - min(us) AS BIGINT) AS dur_us,
         CAST(min(us) // {_US_PER_DAY} AS BIGINT) AS day_num
  FROM tagged GROUP BY user_id, sid
)
SELECT day_num,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       floor(CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) * 1e6 + 0.5) / 1e6 AS bounce_rate_s,
       floor(CAST(sum(n_ev) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6
         AS avg_events_s,
       floor(CAST(sum(dur_us) AS DOUBLE) / 1e6 / count(*) * 1e6 + 0.5)
         / 1e6 AS avg_duration_sec_s
FROM sess
GROUP BY day_num
ORDER BY day_num
"""


@register("events_session_stats", oracle=_SESSION_ORACLE)
def events_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day session summary (bounce rate, mean events, mean
    duration) from 30-min-gap sessionization, exact microseconds."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us"))
    wl = W.partitionBy("user_id").orderBy("us", "event_id")
    flagged = ev.select(
        "user_id", "event_id", "us",
        F.when(
            (F.col("us") - F.lag("us").over(wl) > _SESSION_GAP_US)
            | F.lag("us").over(wl).isNull(), 1).otherwise(0)
        .alias("new_s"),
    )
    # The running sum uses the SAME (us, event_id) total order as the
    # lag: an equal-us tie group whose first row opens a session would
    # otherwise split across session ids depending on engine tie
    # order -- the frame must be pinned, not just the flag.
    tagged = flagged.select(
        "user_id", "us",
        F.sum("new_s").over(wl.rowsBetween(W.unboundedPreceding, 0))
        .cast("long").alias("sid"),
    )
    sess = tagged.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).cast("long").alias("n_ev"),
        (F.max("us") - F.min("us")).cast("long").alias("dur_us"),
        F.expr(f"min(us) div {_US_PER_DAY}").cast("long").alias("day_num"),
    )
    n = F.count(F.lit(1))
    bounces = F.sum(F.when(F.col("n_ev") == 1, 1).otherwise(0))
    return (
        sess.groupBy("day_num")
        .agg(
            n.cast("long").alias("n_sessions"),
            bounces.cast("long").alias("n_bounces"),
            _snap6(bounces.cast("double") / n).alias("bounce_rate_s"),
            _snap6(F.sum("n_ev").cast("double") / n).alias("avg_events_s"),
            _snap6(F.sum("dur_us").cast("double") / 1e6 / n)
            .alias("avg_duration_sec_s"),
        )
        .orderBy("day_num")
    )


_ATTR_STEPS = 12


_TRANS_SQL = """
seq AS MATERIALIZED (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
),
firstp AS (
  SELECT user_id, min(rn) AS prn FROM seq
  WHERE event_type = 'purchase' GROUP BY user_id
),
j AS MATERIALIZED (
  SELECT s.user_id, s.event_type, s.rn, f.prn
  FROM seq s LEFT JOIN firstp f ON f.user_id = s.user_id
  WHERE f.prn IS NULL OR s.rn < f.prn
),
trans AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY rn)
           AS src,
         event_type AS dst
  FROM j
  UNION ALL
  SELECT 'START' AS src, event_type AS dst FROM j WHERE rn = 1
  UNION ALL
  SELECT 'START' AS src, 'CONV' AS dst FROM firstp WHERE prn = 1
  UNION ALL
  SELECT event_type AS src,
         CASE WHEN prn IS NULL THEN 'NULL' ELSE 'CONV' END AS dst
  FROM (
    SELECT user_id, event_type, prn,
           row_number() OVER (PARTITION BY user_id ORDER BY rn DESC)
             AS rrn
    FROM j
  ) WHERE rrn = 1
),
cnt AS MATERIALIZED (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS c
  FROM trans WHERE src IS NOT NULL GROUP BY src, dst
)"""


def _attribution_oracle(steps: int = _ATTR_STEPS) -> str:
    its = []
    for k in range(1, steps + 1):
        its.append(f"""
v{k} AS (
  SELECT g.var, g.s,
         CASE WHEN g.s = 'CONV' THEN 1.0
              WHEN g.s = 'NULL' OR g.s = g.var THEN 0.0
              ELSE COALESCE(m.val, 0.0) END AS val
  FROM grid g LEFT JOIN (
    SELECT vp.var, p.src AS s,
           CAST(sum(CAST(floor(p.pv * vp.val * 1e6 + 0.5) AS BIGINT))
                AS BIGINT) / 1e6 AS val
    FROM p JOIN v{k - 1} vp ON vp.s = p.dst
    GROUP BY vp.var, p.src
  ) m ON m.var = g.var AND m.s = g.s
)""")
    return f"""
WITH {_TRANS_SQL},
states AS (SELECT DISTINCT event_type AS s FROM j),
allstates AS (
  SELECT s FROM states
  UNION ALL SELECT 'START' UNION ALL SELECT 'CONV'
  UNION ALL SELECT 'NULL'
),
variants AS (SELECT s AS var FROM states UNION ALL SELECT 'BASE'),
grid AS MATERIALIZED (SELECT v.var, a.s FROM variants v CROSS JOIN allstates a),
outd AS (SELECT src, CAST(sum(c) AS BIGINT) AS o FROM cnt GROUP BY src),
p AS MATERIALIZED (
  SELECT c.src, c.dst,
         floor(CAST(c.c AS DOUBLE) / o.o * 1e6 + 0.5) / 1e6 AS pv
  FROM cnt c JOIN outd o ON o.src = c.src
),
v0 AS (SELECT var, s, CASE WHEN s = 'CONV' THEN 1.0 ELSE 0.0 END AS val
       FROM grid),
{','.join(its)},
base AS (SELECT val AS bv FROM v{steps}
         WHERE var = 'BASE' AND s = 'START'),
rem AS (SELECT var AS state, val AS rv FROM v{steps}
        WHERE s = 'START' AND var <> 'BASE'),
re AS (
  SELECT r.state, b.bv, r.rv,
         CASE WHEN b.bv > 0 THEN
           CAST(greatest(floor((1 - r.rv / b.bv) * 1e6 + 0.5), 0)
                AS BIGINT)
         END AS re_q
  FROM rem r CROSS JOIN base b
),
tot AS (SELECT CAST(sum(re_q) AS BIGINT) AS t FROM re),
touches AS (
  SELECT dst AS state, CAST(sum(c) AS BIGINT) AS n_touches
  FROM cnt GROUP BY dst
)
SELECT r.state,
       COALESCE(t2.n_touches, 0) AS n_touches,
       floor(r.bv * 1e6 + 0.5) / 1e6 AS pconv_base_s,
       floor(r.rv * 1e6 + 0.5) / 1e6 AS pconv_removed_s,
       CAST(r.re_q AS DOUBLE) / 1e6 AS re_s,
       CASE WHEN tot.t > 0 THEN
         floor(CAST(r.re_q AS DOUBLE) / tot.t * 1e6 + 0.5) / 1e6
       END AS share_s
FROM re r CROSS JOIN tot
LEFT JOIN touches t2 ON t2.state = r.state
ORDER BY r.state
"""


@register("events_markov_attribution", oracle=_attribution_oracle())
def events_markov_attribution(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Removal-effect attribution shares per journey state from the
    12-step quantized absorption probability."""
    ev = load(spark, sf_dir, "events")
    wl = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "event_type",
        F.row_number().over(wl).alias("rn"),
    )
    firstp = seq.where(F.col("event_type") == "purchase") \
        .groupBy("user_id").agg(F.min("rn").alias("prn"))
    # feeds 3 transition legs
    j = checkpoint(
        seq.join(firstp, "user_id", "left")
        .where(F.col("prn").isNull() | (F.col("rn") < F.col("prn")))
    )
    wj = W.partitionBy("user_id").orderBy("rn")
    mid = j.select(
        F.lag("event_type").over(wj).alias("src"),
        F.col("event_type").alias("dst"),
    ).where(F.col("src").isNotNull())
    start = j.where(F.col("rn") == 1).select(
        F.lit("START").alias("src"), F.col("event_type").alias("dst"))
    start_conv = firstp.where(F.col("prn") == 1).select(
        F.lit("START").alias("src"), F.lit("CONV").alias("dst"))
    last = (
        j.select(
            "event_type", "prn",
            F.row_number().over(
                W.partitionBy("user_id").orderBy(F.desc("rn")))
            .alias("rrn"))
        .where(F.col("rrn") == 1)
        .select(
            F.col("event_type").alias("src"),
            F.when(F.col("prn").isNull(), "NULL").otherwise("CONV")
            .alias("dst"))
    )
    cnt = checkpoint(
        mid.unionByName(start).unionByName(start_conv).unionByName(last)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))  # bounded model table
    )
    outd = cnt.groupBy("src").agg(F.sum("c").cast("long").alias("o"))
    p_rows = (
        cnt.join(F.broadcast(outd), "src")
        .select("src", "dst",
                _snap6(F.col("c").cast("double") / F.col("o"))
                .alias("pv"))
        .collect()
    )
    # bounded driver model: |event types|^2-ish rows
    p = {(r["src"], r["dst"]): r["pv"] for r in p_rows}
    jstates = sorted({d for _, d in p if d not in ("CONV", "NULL")})
    allstates = jstates + ["START", "CONV", "NULL"]
    srcs = sorted({s for s, _ in p})

    def iterate(removed: str) -> dict[str, float]:
        v = {s: 1.0 if s == "CONV" else 0.0 for s in allstates}
        for _ in range(_ATTR_STEPS):
            nxt = {}
            for s in allstates:
                if s == "CONV":
                    nxt[s] = 1.0
                elif s == "NULL" or s == removed:
                    nxt[s] = 0.0
                elif s in srcs:
                    nxt[s] = sum(
                        _q6f(p[(s, t)] * v[t])
                        for t in allstates if (s, t) in p) / 1e6
                else:
                    nxt[s] = 0.0
            v = nxt
        return v

    bv = iterate("BASE")["START"]
    rows = []
    for s in jstates:
        rv = iterate(s)["START"]
        # removal effect as an INTEGER of 1e-6 units: a sum of snapped
        # doubles would be addition-order-dependent between the Python
        # mirror and the oracle's scan order -- the quantize-then-sum
        # idiom applies to the driver mirror too
        re_q = None
        if bv > 0:
            re_q = max(round_half_up((1 - rv / bv) * 1e6), 0)
        rows.append((s, rv, re_q))
    tot = (sum(r[2] for r in rows if r[2] is not None)
           if any(r[2] is not None for r in rows) else None)
    out_rows = []
    for s, rv, re_q in rows:
        share = (round_half_up(re_q / tot * 1e6) / 1e6
                 if re_q is not None and tot and tot > 0 else None)
        out_rows.append(
            (s, round_half_up(bv * 1e6) / 1e6,
             round_half_up(rv * 1e6) / 1e6,
             None if re_q is None else re_q / 1e6, share))
    model = local_frame(
        spark, out_rows,
        "state string, pconv_base_s double, pconv_removed_s double, "
        "re_s double, share_s double",
    )
    touches = cnt.groupBy(F.col("dst").alias("state")).agg(
        F.sum("c").cast("long").alias("n_touches"))
    return (
        model.join(touches, "state", "left")
        .select(
            "state",
            F.coalesce("n_touches", F.lit(0)).cast("long")
            .alias("n_touches"),
            "pconv_base_s", "pconv_removed_s", "re_s", "share_s",
        )
        .orderBy("state")
    )


def round_half_up(x: float) -> int:
    """floor(x + 0.5) -- the same rounding the SQL floor(...*1e6+0.5)
    idiom applies (Python round() half-evens and would diverge)."""
    import math

    return math.floor(x + 0.5)


_MIGRATION_ORACLE = f"""
WITH p AS (
  SELECT user_id,
         CASE WHEN date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                   < {_RFM_SPLIT_DAY} THEN 1 ELSE 2 END AS period,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
u AS (
  SELECT user_id, period, CAST(sum(cents) AS BIGINT) AS spend
  FROM p GROUP BY user_id, period
),
seg AS (
  SELECT user_id, period, spend,
         'T' || CAST(ntile(3) OVER (PARTITION BY period
                ORDER BY spend DESC, user_id) AS VARCHAR) AS seg
  FROM u
),
users AS (SELECT DISTINCT user_id FROM u),
mat AS (
  SELECT us.user_id,
         COALESCE(s1.seg, 'NONE') AS seg_from,
         COALESCE(s2.seg, 'NONE') AS seg_to,
         COALESCE(s2.spend, 0) AS spend_to
  FROM users us
  LEFT JOIN seg s1 ON s1.user_id = us.user_id AND s1.period = 1
  LEFT JOIN seg s2 ON s2.user_id = us.user_id AND s2.period = 2
)
SELECT seg_from, seg_to,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(spend_to) AS BIGINT) AS spend_to_cents
FROM mat GROUP BY seg_from, seg_to
ORDER BY seg_from, seg_to
"""


@register("events_rfm_migration", oracle=_MIGRATION_ORACLE)
def events_rfm_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spend-tercile segment transition matrix between the two
    half-month periods, NONE rows included."""
    ev = load(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.when(_epoch_day("ts") < _RFM_SPLIT_DAY, 1).otherwise(2)
        .alias("period"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    u = checkpoint(p.groupBy("user_id", "period").agg(
        F.sum("cents").cast("long").alias("spend")
    ))  # user x period rollup
    # Terciles WITHOUT the per-period ntile window (two periods, so
    # the window form funnels half the user universe through one
    # task): ntile(k) is pure integer arithmetic over the per-period
    # rank and count -- the first (n mod k) buckets take ceil(n/k)
    # rows, the rest floor(n/k). Descending spend via negation
    # (grouped_rank orders ascending).
    from ..operators.ranking import grouped_rank, ntile_expr

    ranked = grouped_rank(
        u.withColumn("__neg", -F.col("spend")),
        ["period"], ["__neg", "user_id"], "__rn",
        # period is {1, 2} BY CONSTRUCTION (the when/otherwise above)
        # -- skip the probe job.
        count_col="__n", known_group_count=2).drop("__neg")
    seg = ranked.select(
        "user_id", "period", "spend",
        F.concat(F.lit("T"),
                 ntile_expr("__rn", "__n", 3).cast("string"))
        .alias("seg"),
    )
    users = u.select("user_id").distinct()
    s1 = seg.where(F.col("period") == 1).select(
        "user_id", F.col("seg").alias("seg_from"))
    s2 = seg.where(F.col("period") == 2).select(
        "user_id", F.col("seg").alias("seg_to"),
        F.col("spend").alias("spend_to"))
    mat = (
        users.join(s1, "user_id", "left").join(s2, "user_id", "left")
        .select(
            F.coalesce("seg_from", F.lit("NONE")).alias("seg_from"),
            F.coalesce("seg_to", F.lit("NONE")).alias("seg_to"),
            F.coalesce("spend_to", F.lit(0)).alias("spend_to"),
        )
    )
    return (
        mat.groupBy("seg_from", "seg_to")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"),
             F.sum("spend_to").cast("long").alias("spend_to_cents"))
        .orderBy("seg_from", "seg_to")
    )


_SNAIVE_ORACLE = f"""
WITH counts AS (
  SELECT event_type,
         CAST(CAST(epoch_us(ts) AS BIGINT) // {_US_PER_DAY} AS BIGINT)
           AS day,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
lagged AS (
  SELECT c.event_type, c.day, c.y, p.y AS f
  FROM counts c
  LEFT JOIN counts p ON p.event_type = c.event_type
                    AND p.day = c.day - 7
),
span AS (SELECT CAST(max(day) AS BIGINT) AS dmax FROM counts),
scored AS (
  SELECT l.event_type, l.day, l.y, l.f,
         abs(l.y - l.f) AS ae,
         CASE WHEN l.y > 0 THEN
           CAST(floor(CAST(abs(l.y - l.f) AS DOUBLE) / l.y * 1e6 + 0.5)
                AS BIGINT)
         END AS ape_q
  FROM lagged l CROSS JOIN span s
  WHERE l.f IS NOT NULL AND l.day > s.dmax - 7
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(ae) AS BIGINT) AS total_abs_err,
       floor(CAST(sum(ae) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6
         AS mae_s,
       floor(CAST(sum(ape_q) AS DOUBLE) / 1e6
             / nullif(count(ape_q), 0) * 1e6 + 0.5) / 1e6 AS mape_s
FROM scored
GROUP BY event_type
ORDER BY event_type
"""


@register("events_snaive_backtest", oracle=_SNAIVE_ORACLE)
def events_snaive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive (lag-7) forecast backtest over the final week:
    exact MAE and quantized-term MAPE per event type."""
    ev = load(spark, sf_dir, "events")
    # bounded type x day, two legs
    counts = checkpoint(ev.groupBy(
        "event_type",
        F.expr(f"unix_micros(ts) div {_US_PER_DAY}").cast("long")
        .alias("day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y")))
    # lag by 7 CALENDAR days (a self-join on day - 7), not 7 rows:
    # a type with zero-event days would otherwise pair day d with an
    # older observation and silently score the wrong seasonal twin
    prev = counts.select(
        F.col("event_type").alias("et2"),
        (F.col("day") + 7).alias("day2"), F.col("y").alias("f"))
    lagged = counts.join(
        prev, (counts.event_type == prev.et2)
        & (counts.day == prev.day2), "left"
    ).select("event_type", "day", "y", "f")
    span = counts.agg(F.max("day").cast("long").alias("dmax"))
    ae = F.abs(F.col("y") - F.col("f"))
    ape_q = F.when(
        F.col("y") > 0,
        F.floor(ae.cast("double") / F.col("y") * 1e6 + 0.5).cast("long"))
    scored = (
        lagged.crossJoin(F.broadcast(span))
        .where(F.col("f").isNotNull()
               & (F.col("day") > F.col("dmax") - 7))
        .select("event_type", ae.alias("ae"), ape_q.alias("ape_q"))
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum("ae").cast("long").alias("total_abs_err"),
            _snap6(F.sum("ae").cast("double") / F.count(F.lit(1)))
            .alias("mae_s"),
            _snap6(F.sum("ape_q").cast("double") / 1e6
                   / F.nullif(F.count("ape_q"), F.lit(0)))
            .alias("mape_s"),
        )
        .orderBy("event_type")
    )


_ADSTOCK_LAMBDA = 0.7


_ADSTOCK_SPAN = 31  # fixture days; decay beyond this contributes 0


def _decay_table() -> list[float]:
    """lambda^d for d = 0..span-1 by repeated multiplication --
    deterministic doubles, identical literals in both engines."""
    out, v = [], 1.0
    for _ in range(_ADSTOCK_SPAN):
        out.append(v)
        v *= _ADSTOCK_LAMBDA
    return out


_DECAY = _decay_table()


_DECAY_SQL = "[" + ", ".join(repr(v) for v in _DECAY) + "]"


_ADSTOCK_ORACLE = f"""
WITH counts AS (
  SELECT event_type,
         CAST(CAST(epoch_us(ts) AS BIGINT) // {_US_PER_DAY} AS BIGINT)
           AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
d0 AS (SELECT CAST(min(day) AS BIGINT) AS dmin FROM counts),
rel AS (
  SELECT c.event_type, c.day - d.dmin AS t, c.x
  FROM counts c CROSS JOIN d0 d
),
decay AS (
  SELECT CAST(generate_subscripts(l, 1) - 1 AS BIGINT) AS d,
         unnest(l) AS w
  FROM (SELECT {_DECAY_SQL} AS l)
),
conv AS (
  SELECT a.event_type, a.t,
         CAST(sum(CAST(floor(b.x * dc.w * 1e6 + 0.5) AS BIGINT))
              AS BIGINT) AS ad_q
  FROM rel a
  JOIN rel b ON b.event_type = a.event_type AND b.t <= a.t
  JOIN decay dc ON dc.d = a.t - b.t
  GROUP BY a.event_type, a.t
)
SELECT event_type, CAST(t AS BIGINT) AS t,
       floor(ad_q / 1e6 * 1e6 + 0.5) / 1e6 AS adstock_s
FROM conv
ORDER BY event_type, t
"""


@register("events_adstock_decay", oracle=_ADSTOCK_ORACLE)
def events_adstock_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric adstock of daily event counts per type via a bounded
    triangular self-join with a shared literal decay table."""
    ev = load(spark, sf_dir, "events")
    # bounded type x day, three legs
    counts = checkpoint(ev.groupBy(
        "event_type",
        F.expr(f"unix_micros(ts) div {_US_PER_DAY}").cast("long")
        .alias("day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("x")))
    d0 = counts.agg(F.min("day").cast("long").alias("dmin"))
    rel = counts.crossJoin(F.broadcast(d0)).select(
        "event_type", (F.col("day") - F.col("dmin")).alias("t"), "x")
    decay = local_frame(
        spark, list(enumerate(_DECAY)), "d long, w double")
    a = rel.select("event_type", "t")
    b = rel.select(F.col("event_type").alias("et2"),
                   F.col("t").alias("t2"), "x")
    conv = (
        a.join(b, (a.event_type == b.et2) & (b.t2 <= a.t))
        .join(F.broadcast(decay), F.col("d") == a.t - b.t2)
        .groupBy("event_type", "t")
        .agg(F.sum(F.floor(F.col("x") * F.col("w") * 1e6 + 0.5)
                   .cast("long")).cast("long").alias("ad_q"))
    )
    return (
        conv.select("event_type", F.col("t").cast("long").alias("t"),
                    _snap6(F.col("ad_q") / 1e6).alias("adstock_s"))
        .orderBy("event_type", "t")
    )


_NA_ORACLE = f"""
WITH u AS (
  SELECT user_id,
         min(date_diff('day', DATE '{_EPOCH}', CAST(ts AS DATE))) AS fd,
         max(date_diff('day', DATE '{_EPOCH}', CAST(ts AS DATE))) AS ld
  FROM events GROUP BY user_id
),
mx AS (SELECT max(ld) AS max_day FROM u),
durs AS (
  SELECT CAST(ld - fd AS BIGINT) AS dur,
         CAST(sum(CASE WHEN ld < max_day THEN 1 ELSE 0 END) AS BIGINT) AS d,
         CAST(sum(CASE WHEN ld = max_day THEN 1 ELSE 0 END) AS BIGINT) AS c
  FROM u, mx GROUP BY 1
),
risk AS (
  SELECT dur, d, c,
         CAST(sum(d + c) OVER (ORDER BY dur DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS n_risk
  FROM durs
),
steps AS (
  SELECT dur, n_risk, d, c,
         CAST(floor(CAST(d AS DOUBLE) / n_risk * 1e6 + 0.5) AS BIGINT)
           AS hz_q
  FROM risk
)
SELECT dur, n_risk, d, c,
       CAST(sum(hz_q) OVER (ORDER BY dur
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         / 1e6 AS cum_hazard_s
FROM steps ORDER BY dur
"""


@register("events_nelson_aalen", oracle=_NA_ORACLE)
def events_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard of engagement lifetimes with
    final-day right-censoring; int64 hazard-step running sum."""
    ev = load(spark, sf_dir, "events")
    day = F.datediff(F.to_date("ts"), F.to_date(F.lit(_EPOCH)))
    u = checkpoint(ev.groupBy("user_id")
                   .agg(F.min(day).alias("fd"), F.max(day).alias("ld")))
    mx = u.agg(F.max("ld").alias("max_day"))
    durs = (
        u.crossJoin(F.broadcast(mx))
        .groupBy((F.col("ld") - F.col("fd")).cast("long").alias("dur"))
        .agg(F.sum(F.when(F.col("ld") < F.col("max_day"), 1).otherwise(0))
             .cast("long").alias("d"),
             F.sum(F.when(F.col("ld") == F.col("max_day"), 1).otherwise(0))
             .cast("long").alias("c"))
    )
    # bounded (<= window days) model table: single-partition windows
    # here run over model state, not the corpus (the KM precedent)
    w_desc = Window.orderBy(F.col("dur").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    w_asc = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    risk = durs.withColumn(
        "n_risk", F.sum(F.col("d") + F.col("c")).over(w_desc).cast("long"))
    steps = risk.withColumn(
        "hz_q",
        F.floor(F.col("d").cast("double") / F.col("n_risk") * 1e6
                + F.lit(0.5)).cast("long"))
    return steps.select(
        "dur", "n_risk", "d", "c",
        (F.sum("hz_q").over(w_asc).cast("double") / 1e6)
        .alias("cum_hazard_s"),
    ).orderBy("dur")


_HOLT_A = 0.5


_HOLT_G = 0.3


_HOLT_DAYS_ORACLE = f"""
raw AS (
  SELECT CAST(date_diff('day', DATE '{_EPOCH}', CAST(ts AS DATE))
              AS BIGINT) AS idx,
         CAST(count(*) AS DOUBLE) AS y
  FROM {{src}}
  WHERE CAST(ts AS DATE) >= DATE '{_EPOCH}'
  GROUP BY 1
),
series AS (
  SELECT unnest(generate_series(CAST(0 AS BIGINT),
                                (SELECT max(idx) FROM raw))) AS idx
),
days AS (
  SELECT s.idx, COALESCE(r.y, 0.0) AS y
  FROM series s LEFT JOIN raw r ON r.idx = s.idx
),
"""


_HOLT_RECURSION = f"""
holt AS (
  SELECT m0.idx, m0.y, m0.y AS l, m1.y - m0.y AS b
  FROM days m0 JOIN days m1 ON m0.idx = 0 AND m1.idx = 1
  UNION ALL
  SELECT m.idx, m.y,
         {_HOLT_A} * m.y + {1 - _HOLT_A} * (h.l + h.b) AS l,
         {_HOLT_G} * (({_HOLT_A} * m.y + {1 - _HOLT_A} * (h.l + h.b))
                      - h.l) + {1 - _HOLT_G} * h.b AS b
  FROM holt h JOIN days m ON m.idx = h.idx + 1
)
SELECT idx AS day_idx, CAST(y AS BIGINT) AS n_events,
       floor(l * 1e6 + 0.5) / 1e6 AS level_s,
       floor(b * 1e6 + 0.5) / 1e6 AS trend_s,
       floor((l + b) * 1e6 + 0.5) / 1e6 AS forecast_next_s
FROM holt ORDER BY idx
"""


_HOLT_ORACLE = ("WITH RECURSIVE " + _HOLT_DAYS_ORACLE.strip()
                + _HOLT_RECURSION).format(src="events")


_HOLT_SPARK_BODY = ("WITH RECURSIVE days AS "
                    "(SELECT idx, y FROM __holt_days),"
                    + _HOLT_RECURSION)


@register("events_holt_linear", oracle=_HOLT_ORACLE)
def events_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt level+trend smoothing of daily event counts via a
    recursive CTE over the densified (gap-zero-filled) day series;
    the recursion SQL is shared verbatim with the oracle."""
    ev = load(spark, sf_dir, "events")
    raw = (
        ev.where(F.to_date("ts") >= F.lit(_EPOCH))
        .groupBy(F.datediff(F.to_date("ts"), F.to_date(F.lit(_EPOCH)))
                 .cast("long").alias("idx"))
        .agg(F.count(F.lit(1)).cast("double").alias("y"))
    )
    mx = raw.agg(F.max("idx")).collect()[0][0]  # bounded: one scalar
    if mx is None:
        days = raw  # no qualifying days: empty on both engines
    else:
        series = spark.range(0, int(mx) + 1).select(
            F.col("id").cast("long").alias("idx"))
        days = (
            series.join(raw, "idx", "left")
            .select("idx", F.coalesce("y", F.lit(0.0)).alias("y"))
        )
    # ONE partition for the day table: every recursion step re-scans
    # it (joined against the single-row previous step), so its
    # partition count multiplies into ~N_steps x N_partitions
    # near-empty tasks -- measured 164 jobs x 16 tasks of pure
    # scheduling at sf0.1. The series is a bounded model table
    # (one row per day) at any scale, so width 1 is the right size
    # everywhere, same rationale as FIXTURE_STATE_PARTITIONS. The
    # scoped pin keeps the per-step aggregate exchanges equally
    # narrow, and the eager checkpoint executes the recursion inside
    # the scope (shuffle width is read at execution time).
    checkpoint(days.coalesce(1)) \
        .createOrReplaceTempView("__holt_days")
    with scoped_conf(spark, "spark.sql.shuffle.partitions", "1"):
        return checkpoint(spark.sql(_HOLT_SPARK_BODY))
