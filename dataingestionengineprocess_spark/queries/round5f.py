"""Round-4 (continued) addition: Markov removal-effect attribution.

`events_markov_attribution` -- the data-driven alternative to
last-touch attribution: user journeys (events up to each user's FIRST
purchase) become a Markov chain START -> {journey states} ->
CONV/NULL; each state's credit is its REMOVAL EFFECT, 1 - P(conv
without the state) / P(conv), normalized into shares. P(conv) is the
12-step absorption probability computed with the quantized power
iteration both engines replay exactly (`events_markov_stationary`'s
idiom); every removal variant rides ONE (variant x state) value
table, so the oracle's unrolled CTE chain needs no hardcoded state
names -- pinning v(variant, variant) = 0 each step IS the removal.

Chain construction is fully distributed (per-user windows, one
transition groupBy); only the bounded transition matrix (at most
|event types|^2 + edge rows) reaches the driver, where the mirrored
Python arithmetic (q6f-quantized term sums) produces the same
1e-6-grid numbers as the oracle's SQL. Touch counts, the output's
distributed leg, join back to the literal model rows.

Reference parity: diagram-only reference (SURVEY.md §0); extends the
[C] behavioral-analytics mandate next to last-touch attribution
(BASELINE.json:6).

Registered LAST (queries/__init__._load_all) so the pre-flighted
driver window is never displaced mid-round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.exact import q6f as _q6f, snap6 as _snap6
from . import register
from ..session import local_frame

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
    j = (
        seq.join(firstp, "user_id", "left")
        .where(F.col("prn").isNull() | (F.col("rn") < F.col("prn")))
        .localCheckpoint(eager=True)  # feeds 3 transition legs
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
    cnt = (
        mid.unionByName(start).unionByName(start_conv).unionByName(last)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)  # bounded model table
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
