"""Round-4 (continued) additions: the adstock decay transform and
candidate-key discovery.

- `events_adstock_decay` -- the marketing-mix-modeling staple:
  geometrically decayed cumulative pressure adstock_t = sum_{k<=t}
  lambda^(t-k) x_k over daily event counts per type. The linear
  recurrence is hostile to both engines' windows at exactness level,
  so the decay powers lambda^0..lambda^29 are PRECOMPUTED ONCE in
  Python by repeated multiplication and embedded as the same literal
  array in the Spark plan and the oracle SQL -- no dependence on
  either engine's pow(), whose rounding is not IEEE-pinned. The
  convolution itself is a bounded triangular join of the ~30-row
  type x day table against itself, per-term quantized to int64.
- `quality_key_discovery` -- the ingest-audit primitive behind every
  MERGE key choice: for each candidate key combination of `orders`,
  the distinct-combination count, duplicate rows, and an is_key
  verdict. One scan per candidate (a fixed six-entry battery), each
  a count-distinct aggregate -- the report a feed owner reads before
  trusting an upsert key.

Reference parity: diagram-only reference (SURVEY.md §0); adstock
extends [C] behavioral analytics, key discovery the [R] validation /
MERGE-key stage (BASELINE.json:6).

Registered LAST (queries/__init__._load_all) so the pre-flighted
driver window is never displaced mid-round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.exact import US_PER_DAY as _US_PER_DAY, snap6 as _snap6
from . import register
from ..session import local_frame

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
    counts = ev.groupBy(
        "event_type",
        F.expr(f"unix_micros(ts) div {_US_PER_DAY}").cast("long")
        .alias("day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("x")) \
     .localCheckpoint(eager=True)  # bounded type x day, three legs
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


# ---------------------------------------------------------------------------
# Key discovery. Six candidates over orders: true key, near keys,
# and clear non-keys; each row = one count-distinct scan. is_key is
# inside the hash, so the verdict itself is checked.
# ---------------------------------------------------------------------------

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
