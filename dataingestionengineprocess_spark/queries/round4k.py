"""Round-4 (continued) additions: the spatial grid join, the rolling
median window, and the Markov stationary distribution.

- `join_spatial_grid` -- radius join between two point sets via the
  grid-cell rewrite: bucket each point into R-sized cells, equi-join
  on the 3x3 neighborhood, exact distance filter on candidates. The
  ORACLE computes the naive quadratic cross-join-and-filter, so the
  hash gate proves the grid rewrite LOSSLESS, not just plausible.
- `window_rolling_median` -- trailing 7-day exact median of daily
  event counts per type: the window Spark lacks natively, composed
  JVM-side from array_sort(collect_list) over the frame and pinned
  against DuckDB's native median() OVER.
- `events_markov_stationary` -- user-journey Markov chain: row-
  normalized transition matrix from lag pairs, stationary
  distribution by six snapped power-iteration steps (the PageRank-
  style read of "where do sessions end up"), every step replayed by
  the oracle.

Reference parity: diagram-only reference (SURVEY.md §0); extends the
[S] join/window and [C] analytics families (BASELINE.json:6).

Registered LAST (queries/__init__._load_all) so the pre-flighted
driver window is never displaced mid-round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.exact import q6f as _q6f, snap6 as _snap6
from ..functions.text import md5_bucket
from . import register
from ..session import local_frame

# ---------------------------------------------------------------------------
# Spatial grid join. Coordinates are md5-derived points in the unit
# square (k/10000 -- exactly representable the same way in both
# engines); the engine buckets points into cells of side R and probes
# the 9-cell neighborhood with an equi-join, then filters candidates
# on the exact squared distance. Any pair within R is at most one
# cell apart on each axis, so the rewrite loses nothing -- and the
# oracle PROVES that by computing the naive all-pairs filter.
#
# Scale: the equi-join shuffles on cell ids (uniform by construction
# here; salting applies to hot cells in clustered data); each point
# meets only its 9-cell candidates, never the full other side.
# ---------------------------------------------------------------------------

_R = 0.02
_GRID_TOPK = 50


def _coord_sql(key: str, axis: str) -> str:
    return (f"CAST(CAST('0x' || substr(md5(CAST({key} AS VARCHAR) "
            f"|| ':{axis}'), 1, 6) AS BIGINT) % 10000 AS DOUBLE) / 10000.0")


_SPATIAL_ORACLE = f"""
WITH cust_pts AS (
  SELECT c_custkey, {_coord_sql('c_custkey', 'cx')} AS x,
         {_coord_sql('c_custkey', 'cy')} AS y
  FROM customer
),
supp_pts AS (
  SELECT s_suppkey, {_coord_sql('s_suppkey', 'sx')} AS x,
         {_coord_sql('s_suppkey', 'sy')} AS y
  FROM supplier
),
pairs AS (
  SELECT a.c_custkey, b.s_suppkey,
         (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
  FROM cust_pts a, supp_pts b
  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        <= {_R} * {_R}
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM pairs)
SELECT c_custkey, s_suppkey,
       floor(sqrt(d2) * 1e6 + 0.5) / 1e6 AS dist_s,
       tot.n_pairs
FROM pairs, tot
ORDER BY dist_s, c_custkey, s_suppkey
LIMIT {_GRID_TOPK}
"""


def md5_points(df: DataFrame, key: str, ax: str, ay: str) -> DataFrame:
    """Deterministic unit-square points from a key column (k/10000 --
    exactly representable the same way in both engines)."""
    k = F.col(key).cast("string")
    return df.select(
        key,
        (md5_bucket(F.concat(k, F.lit(f":{ax}")), 10000)
         .cast("double") / 10000.0).alias("x"),
        (md5_bucket(F.concat(k, F.lit(f":{ay}")), 10000)
         .cast("double") / 10000.0).alias("y"),
    )


@register("join_spatial_grid", oracle=_SPATIAL_ORACLE)
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius join customers x suppliers via grid-cell bucketing +
    3x3 neighbor probe; oracle = the naive quadratic join."""
    from ..operators.spatial import grid_radius_pairs

    cust = md5_points(load(spark, sf_dir, "customer"),
                      "c_custkey", "cx", "cy")
    supp = md5_points(load(spark, sf_dir, "supplier"),
                      "s_suppkey", "sx", "sy")
    pairs = (
        grid_radius_pairs(cust, supp, _R, "c_custkey", "s_suppkey")
        .localCheckpoint(eager=True)  # count + top-k reuse
    )
    tot = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    return (
        pairs.crossJoin(F.broadcast(tot))
        .select("c_custkey", "s_suppkey",
                _snap6(F.sqrt("d2")).alias("dist_s"), "n_pairs")
        .orderBy("dist_s", "c_custkey", "s_suppkey")
        .limit(_GRID_TOPK)
    )


# ---------------------------------------------------------------------------
# Rolling exact median -- the frame aggregate Spark has no native
# window function for. Composed as array_sort(collect_list(n)) over
# the trailing 7-row frame and element_at(..., 4) (the middle of an
# odd window), emitted only where the frame is full; DuckDB's native
# median() OVER the same frame is the oracle. JVM-side end to end --
# collect_list over a 7-row frame is bounded state per row, not a
# corpus materialization.
#
# Scale: one corpus groupBy to (type, day); the window shuffles on
# event_type and carries a <= 7-element array per row.
# ---------------------------------------------------------------------------

_ROLLMED_ORACLE = """
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day_num,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type, day_num, n,
       CASE WHEN count(*) OVER w = 7 THEN
         CAST(median(n) OVER w AS DOUBLE)
       END AS med7_s
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day_num
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
ORDER BY event_type, day_num
"""


@register("window_rolling_median", oracle=_ROLLMED_ORACLE)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day exact median of daily counts per event type,
    composed from a sorted frame array."""
    ev = load(spark, sf_dir, "events")
    day = F.datediff(F.to_date("ts"), F.to_date(F.lit("2024-01-01")))
    daily = (
        ev.groupBy("event_type", day.alias("day_num"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = W.partitionBy("event_type").orderBy("day_num").rowsBetween(-6, 0)
    return (
        daily.select(
            "event_type", "day_num", "n",
            F.when(
                F.count(F.lit(1)).over(w) == 7,
                F.element_at(F.array_sort(F.collect_list("n").over(w)), 4)
                .cast("double"),
            ).alias("med7_s"),
        )
        .orderBy("event_type", "day_num")
    )


# ---------------------------------------------------------------------------
# Markov stationary distribution of the user-journey chain. States =
# every event type; transition counts from per-user lag pairs (the
# same derivation as events_funnel_transitions); the matrix is
# densified over the full state grid with absorbing states given a
# self-loop (out-degree 0 rows must still be stochastic); pi starts
# uniform and takes six pi' = pi P steps with the per-term
# floor(pi_i * p_ij * 1e6 + 0.5) int64 reduce, each step replayed by
# an unrolled oracle CTE.
#
# Scale: one lag window over the corpus (keyed by user) collapses to
# the <= |types|^2 count table; the iteration is driver math on
# bounded model state, like the PCA matvecs.
# ---------------------------------------------------------------------------

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
    cnt = (
        ev.withColumn("prev_type", F.lag("event_type").over(wl))
        .filter(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type").alias("s_from"),
                 F.col("event_type").alias("s_to"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    states = (
        ev.select("event_type").distinct()
        .select(F.col("event_type").alias("s"))
        .withColumn("idx", F.row_number().over(W.orderBy("s")).cast("long"))
        .localCheckpoint(eager=True)
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
