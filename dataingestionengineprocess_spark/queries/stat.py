"""Statistical-test surface (``stat_``): hypothesis tests and robust estimators.

ANOVA, Welch and Mann-Whitney tests, Kolmogorov-Smirnov, chi-square
independence, rank correlations, Theil-Sen slopes, permutation tests,
Poisson bootstrap and multiple-testing control. Ranks and medians are
computed over integer-quantized values so both engines agree exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, SparkSession

from ..catalog import load
from ..functions.exact import q6, q6 as _q6, snap6, snap6 as _snap6
from ..functions.text import md5_bucket
from . import register


_BOOT_B = 32


#: floor(P(Poisson(1) <= k) * 1e6) for k = 0..5; >= the last -> 6.
_POIS_CDF_1E6 = (367879, 735758, 919698, 981011, 996340, 999405)


_BOOT_WEIGHT_SQL = """
CASE WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1
     WHEN u < 919698 THEN 2 WHEN u < 981011 THEN 3
     WHEN u < 996340 THEN 4 WHEN u < 999405 THEN 5 ELSE 6 END
"""


_BOOT_ORACLE = f"""
WITH draws AS (
  SELECT r.rep, d.n_chars,
         CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':'
                                 || CAST(r.rep AS VARCHAR)), 1, 6)
              AS BIGINT) % 1000000 AS u
  FROM documents d,
       (SELECT unnest(range(0, {_BOOT_B})) AS rep) r
),
reps AS (
  SELECT rep,
         CAST(sum(w) AS BIGINT) AS n_eff,
         CAST(sum(w * n_chars) AS BIGINT) AS wsum
  FROM (SELECT rep, n_chars, {_BOOT_WEIGHT_SQL} AS w FROM draws)
  GROUP BY rep
),
m AS (
  SELECT rep, n_eff,
         floor(CAST(wsum AS DOUBLE) / CAST(n_eff AS DOUBLE) * 1e6 + 0.5)
           / 1e6 AS mean_s,
         CAST(floor(CAST(wsum AS DOUBLE) / CAST(n_eff AS DOUBLE)
                    * 1e3 + 0.5) AS BIGINT) AS m_q3
  FROM reps
),
se AS (
  SELECT floor(
    sqrt(CAST(sum(({_BOOT_B} * m_q3 - s) * ({_BOOT_B} * m_q3 - s))
              AS DOUBLE) / {_BOOT_B - 1}.0)
    / ({_BOOT_B} * 1e3) * 1e6 + 0.5) / 1e6 AS se_s
  FROM m, (SELECT CAST(sum(m_q3) AS BIGINT) AS s FROM m) t
)
SELECT m.rep, m.n_eff, m.mean_s, se.se_s
FROM m, se
ORDER BY m.rep
"""


@register("stat_poisson_bootstrap", oracle=_BOOT_ORACLE)
def stat_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B=32 deterministic Poisson-bootstrap replicates of mean
    document length, with the cross-replicate SE as a constant
    column. Integer-exact throughout."""
    docs = load(spark, sf_dir, "documents")
    u = md5_bucket(
        F.concat_ws(":", F.col("doc_id").cast("string"),
                    F.col("rep").cast("string")), 1000000)
    wcol = F.lit(6)
    for k in range(len(_POIS_CDF_1E6) - 1, -1, -1):
        wcol = F.when(F.col("u") < _POIS_CDF_1E6[k], F.lit(k)).otherwise(wcol)
    reps = (
        docs.select(
            "doc_id", "n_chars",
            F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("rep"))
        .withColumn("u", u)
        .withColumn("w", wcol)
        .groupBy("rep")
        .agg(
            F.sum("w").cast("long").alias("n_eff"),
            F.sum(F.col("w") * F.col("n_chars")).cast("long").alias("wsum"),
        )
    )
    mean_raw = F.col("wsum").cast("double") / F.col("n_eff").cast("double")
    m = reps.select(
        "rep", "n_eff",
        _snap6(mean_raw).alias("mean_s"),
        F.floor(mean_raw * 1e3 + F.lit(0.5)).cast("long").alias("m_q3"),
    )
    tot = m.agg(F.sum("m_q3").cast("long").alias("s"))
    dev = F.lit(_BOOT_B) * F.col("m_q3") - F.col("s")
    se = (
        m.crossJoin(F.broadcast(tot))
        .agg(F.sum(dev * dev).cast("double").alias("ss"))
        .select(
            _snap6(F.sqrt(F.col("ss") / float(_BOOT_B - 1))
                   / (_BOOT_B * 1e3)).alias("se_s"))
    )
    return (
        m.crossJoin(F.broadcast(se))
        .select("rep", "n_eff", "mean_s", "se_s")
        .orderBy("rep")
    )


_CHI2_ORACLE = """
WITH cm AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS o
  FROM documents GROUP BY lang, source
),
rows_m AS (SELECT lang, CAST(sum(o) AS BIGINT) AS r_tot FROM cm
           GROUP BY lang),
cols_m AS (SELECT source, CAST(sum(o) AS BIGINT) AS c_tot FROM cm
           GROUP BY source),
tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
               CAST(count(DISTINCT lang) AS BIGINT) AS r,
               CAST(count(DISTINCT source) AS BIGINT) AS c
        FROM cm),
grid AS (
  SELECT rm.lang, cm_c.source, rm.r_tot, cm_c.c_tot,
         COALESCE(cm.o, 0) AS o
  FROM rows_m rm CROSS JOIN cols_m cm_c
  LEFT JOIN cm ON cm.lang = rm.lang AND cm.source = cm_c.source
),
cells AS (
  SELECT CAST(floor(
           (CAST(g.o AS DOUBLE)
              - CAST(g.r_tot AS DOUBLE) * g.c_tot / tot.n)
           * (CAST(g.o AS DOUBLE)
              - CAST(g.r_tot AS DOUBLE) * g.c_tot / tot.n)
           / (CAST(g.r_tot AS DOUBLE) * g.c_tot / tot.n)
           * 1e6 + 0.5) AS BIGINT) AS cell_q
  FROM grid g, tot
)
SELECT tot.n,
       (tot.r - 1) * (tot.c - 1) AS dof,
       CAST(sum(cell_q) AS DOUBLE) / 1e6 AS chi2_s,
       floor(sqrt((CAST(sum(cell_q) AS DOUBLE) / 1e6)
                  / (tot.n * least(tot.r - 1, tot.c - 1)))
             * 1e6 + 0.5) / 1e6 AS cramers_v_s
FROM cells, tot
GROUP BY tot.n, tot.r, tot.c
"""


@register("stat_chi2_independence", oracle=_CHI2_ORACLE)
def stat_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared statistic + Cramer's V for lang x source, from the
    checkpointed exact contingency table."""
    docs = load(spark, sf_dir, "documents")
    cm = (
        docs.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
        .localCheckpoint(eager=True)
    )
    rows_m = cm.groupBy("lang").agg(F.sum("o").cast("long").alias("r_tot"))
    cols_m = cm.groupBy("source").agg(F.sum("o").cast("long").alias("c_tot"))
    tot = cm.agg(
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("lang").cast("long").alias("r"),
        F.countDistinct("source").cast("long").alias("c"),
    )
    e = F.col("r_tot").cast("double") * F.col("c_tot") / F.col("n")
    grid = (
        rows_m.crossJoin(cols_m)
        .join(F.broadcast(cm), ["lang", "source"], "left")
        .withColumn("o", F.coalesce(F.col("o"), F.lit(0)))
    )
    cells = (
        grid.crossJoin(F.broadcast(tot))
        .select(
            "n", "r", "c",
            _q6((F.col("o").cast("double") - e)
                * (F.col("o").cast("double") - e) / e).alias("cell_q"),
        )
    )
    chi2 = F.sum("cell_q").cast("double") / 1e6
    return (
        cells.groupBy("n", "r", "c")
        .agg(chi2.alias("chi2_raw"))
        .select(
            "n",
            ((F.col("r") - 1) * (F.col("c") - 1)).alias("dof"),
            F.col("chi2_raw").alias("chi2_s"),
            _snap6(F.sqrt(F.col("chi2_raw")
                          / (F.col("n")
                             * F.least(F.col("r") - 1, F.col("c") - 1))))
            .alias("cramers_v_s"),
        )
    )


_KS_ORACLE = """
WITH seq AS (
  SELECT event_type,
         CAST(epoch_us(ts) - epoch_us(lag(ts) OVER (
              PARTITION BY event_type ORDER BY ts, event_id))
              AS BIGINT) AS gap_us
  FROM events
),
gaps AS (
  SELECT event_type, gap_us FROM seq WHERE gap_us IS NOT NULL
),
g AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(gap_us) AS BIGINT) AS sum_us
  FROM gaps GROUP BY event_type
),
ranked AS (
  SELECT gp.event_type, gp.gap_us, g.n, g.sum_us,
         row_number() OVER (PARTITION BY gp.event_type
                            ORDER BY gp.gap_us) AS rn
  FROM gaps gp JOIN g ON g.event_type = gp.event_type
),
fit AS (
  SELECT event_type, n, rn,
         floor((1.0 - exp(-(floor(CAST(n AS DOUBLE) * gap_us / sum_us
               * 1e6 + 0.5) / 1e6))) * 1e6 + 0.5) / 1e6 AS f_fit
  FROM ranked
),
dist AS (
  SELECT event_type, n,
         greatest(abs(CAST(rn AS DOUBLE) / n - f_fit),
                  abs(CAST(rn - 1 AS DOUBLE) / n - f_fit)) AS dd
  FROM fit
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n_gaps,
       floor(max(dd) * 1e6 + 0.5) / 1e6 AS ks_stat_s
FROM dist
GROUP BY event_type
ORDER BY event_type
"""


@register("stat_ks_exponential", oracle=_KS_ORACLE)
def stat_ks_exponential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS distance between the per-type inter-event gap distribution
    and its MLE exponential fit, snapped libm grid both engines."""
    # event_type has a handful of values: every per-type window here
    # (the lag, the rank, the unordered count/sum) would funnel
    # 1/|types| of the events table through one task. Distributed
    # form: (1) lag = grouped_rank over arrival order + an equi-join
    # of rank r against r+1 per type (the inner join drops each
    # type's first event, exactly the lag-NULL filter); (2) the gap
    # rank is a second grouped_rank (event_id tiebreak pins the total
    # order; max(dd) is tie-invariant, so the oracle's untied
    # row_number hashes identically); (3) n/sum become one bounded
    # per-type aggregate, broadcast back.
    from ..operators.ranking import grouped_rank

    ev = load(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    # event_type: fixed generator enum (5 values) -- skip the probe
    # job at both grouped_rank calls (VERDICT r10 #5).
    seq = grouped_rank(
        ev.select("event_type", "event_id", us.alias("us")),
        ["event_type"], ["us", "event_id"], "seq",
        known_group_count=8)
    prv = seq.select("event_type", F.col("us").alias("prev_us"),
                     (F.col("seq") + 1).alias("seq"))
    gaps = (
        seq.join(prv, ["event_type", "seq"])
        .select("event_type", "event_id",
                (F.col("us") - F.col("prev_us")).cast("long")
                .alias("gap_us"))
    )
    stats = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("gap_us").cast("long").alias("sum_us"))
    ranked = (
        grouped_rank(gaps, ["event_type"], ["gap_us", "event_id"], "rn",
                     known_group_count=8)
        .join(F.broadcast(stats), "event_type")
        .select(
            "event_type", "n", "rn",
            # lambda*g = n*gap/sum -- snapped before exp
            _snap6(F.col("n").cast("double") * F.col("gap_us")
                   / F.col("sum_us")).alias("x"),
        )
    )
    f_fit = _snap6(F.lit(1.0) - F.exp(-F.col("x")))
    dist = ranked.select(
        "event_type", "n",
        F.greatest(
            F.abs(F.col("rn").cast("double") / F.col("n") - f_fit),
            F.abs((F.col("rn") - 1).cast("double") / F.col("n") - f_fit),
        ).alias("dd"),
    )
    return (
        dist.groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n_gaps"),
            _snap6(F.max("dd")).alias("ks_stat_s"),
        )
        .orderBy("event_type")
    )


_MWU_ORACLE = """
WITH scored AS (
  SELECT floor(CAST(embedding[1] AS DOUBLE) * 1e6 + 0.5) / 1e6 AS s,
         CASE WHEN label = 0 THEN 1 ELSE 0 END AS x
  FROM embeddings
),
grp AS (
  SELECT s, CAST(count(*) AS BIGINT) AS c,
         CAST(sum(x) AS BIGINT) AS c1
  FROM scored GROUP BY s
),
cum AS (
  SELECT s, c, c1,
         CAST(sum(c) OVER (ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_incl
  FROM grp
),
agg AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1,
         CAST(sum(c - c1) AS BIGINT) AS n2,
         CAST(sum(c1 * (2 * (cum_incl - c) + c + 1)) AS BIGINT) AS r1_x2,
         sum(CAST(c AS HUGEINT) * c * c - c) AS ties
  FROM cum
)
SELECT n1, n2,
       r1_x2,
       CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
       floor(
         (CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE) / 2
          - CAST(n1 AS DOUBLE) * n2 / 2)
         / nullif(sqrt(
             CAST(n1 AS DOUBLE) * n2 / 12
             * ((n1 + n2 + 1)
                - CAST(ties AS DOUBLE)
                  / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1)))), 0)
         * 1e6 + 0.5) / 1e6 AS z_s
FROM agg
"""


@register("stat_mann_whitney", oracle=_MWU_ORACLE)
def stat_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Mann-Whitney U (label 0 vs rest) over the first
    embedding component, exact integer rank algebra."""
    from ..operators.ranking import distributed_prefix_sum

    scored = load(spark, sf_dir, "embeddings").select(
        _snap6(F.element_at("embedding", 1).cast("double")).alias("s"),
        F.when(F.col("label") == 0, 1).otherwise(0).alias("x"),
    )
    grp = scored.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("x").cast("long").alias("c1"),
    )
    cum = distributed_prefix_sum(grp, ["s"], "c", cum_col="cum_incl")
    ar2 = 2 * (F.col("cum_incl") - F.col("c")) + F.col("c") + 1
    agg = cum.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum(F.col("c") - F.col("c1")).cast("long").alias("n2"),
        F.sum(F.col("c1") * ar2).cast("long").alias("r1_x2"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c") * F.col("c")
              - F.col("c")).alias("ties"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    u1 = (F.col("r1_x2") - n1 * (n1 + 1)).cast("double") / 2
    var = (
        n1.cast("double") * n2 / 12
        * ((n1 + n2 + 1)
           - F.col("ties").cast("double")
           / ((n1 + n2).cast("double") * (n1 + n2 - 1)))
    )
    return agg.select(
        "n1", "n2", "r1_x2",
        (F.col("r1_x2") - n1 * (n1 + 1)).cast("long").alias("u1_x2"),
        _snap6((u1 - n1.cast("double") * n2 / 2)
               / F.nullif(F.sqrt(var), F.lit(0.0))).alias("z_s"),
    )


_SPEARMAN_ORACLE = """
WITH scored AS (
  SELECT floor(CAST(embedding[1] AS DOUBLE) * 1e6 + 0.5) / 1e6 AS s1,
         floor(CAST(embedding[2] AS DOUBLE) * 1e6 + 0.5) / 1e6 AS s2
  FROM embeddings
),
g1 AS (
  SELECT s1, CAST(count(*) AS BIGINT) AS c,
         CAST(2 * (sum(count(*)) OVER (ORDER BY s1
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - count(*)) + count(*) + 1 AS BIGINT) AS ar2
  FROM scored GROUP BY s1
),
g2 AS (
  SELECT s2, CAST(count(*) AS BIGINT) AS c,
         CAST(2 * (sum(count(*)) OVER (ORDER BY s2
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - count(*)) + count(*) + 1 AS BIGINT) AS ar2
  FROM scored GROUP BY s2
),
ranked AS (
  SELECT g1.ar2 AS a, g2.ar2 AS b
  FROM scored s JOIN g1 ON g1.s1 = s.s1 JOIN g2 ON g2.s2 = s.s2
),
sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(CAST(a AS HUGEINT)) AS sa,
         sum(CAST(b AS HUGEINT)) AS sb,
         sum(CAST(a AS HUGEINT) * b) AS sab,
         sum(CAST(a AS HUGEINT) * a) AS saa,
         sum(CAST(b AS HUGEINT) * b) AS sbb
  FROM ranked
)
SELECT n,
       floor(
         (CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
          - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
         / nullif(sqrt(
             (CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
              - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
             * (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))), 0)
         * 1e6 + 0.5) / 1e6 AS rho_s
FROM sums
"""


@register("stat_spearman_corr", oracle=_SPEARMAN_ORACLE)
def stat_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Spearman rank correlation of the first two
    embedding components, exact 2x-scaled integer rank algebra."""
    from ..operators.ranking import distributed_prefix_sum

    scored = load(spark, sf_dir, "embeddings").select(
        _snap6(F.element_at("embedding", 1).cast("double")).alias("s1"),
        _snap6(F.element_at("embedding", 2).cast("double")).alias("s2"),
    ).localCheckpoint(eager=True)  # feeds both rank legs + the join

    def rank_leg(col: str) -> DataFrame:
        grp = scored.groupBy(col).agg(
            F.count(F.lit(1)).cast("long").alias("c"))
        cum = distributed_prefix_sum(grp, [col], "c", cum_col="cum_incl")
        return cum.select(
            col,
            (2 * (F.col("cum_incl") - F.col("c")) + F.col("c") + 1)
            .cast("long").alias(f"ar2_{col}"),
        )

    ranked = (
        scored.join(rank_leg("s1"), "s1").join(rank_leg("s2"), "s2")
        .select(F.col("ar2_s1").alias("a"), F.col("ar2_s2").alias("b"))
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    sums = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec(F.col("a"))).alias("sa"),
        F.sum(dec(F.col("b"))).alias("sb"),
        F.sum(dec(F.col("a")) * F.col("b")).alias("sab"),
        F.sum(dec(F.col("a")) * F.col("a")).alias("saa"),
        F.sum(dec(F.col("b")) * F.col("b")).alias("sbb"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("sab").cast("double") \
        - F.col("sa").cast("double") * F.col("sb").cast("double")
    den = F.sqrt(
        (n * F.col("saa").cast("double")
         - F.col("sa").cast("double") * F.col("sa").cast("double"))
        * (n * F.col("sbb").cast("double")
           - F.col("sb").cast("double") * F.col("sb").cast("double")))
    return sums.select(
        "n", _snap6(num / F.nullif(den, F.lit(0.0))).alias("rho_s"))


_WELCH_ORACLE = """
WITH scored AS (
  SELECT CAST(floor(CAST(embedding[1] AS DOUBLE) * 1e6 + 0.5)
              AS BIGINT) AS xq,
         CASE WHEN label = 0 THEN 1 ELSE 0 END AS g
  FROM embeddings
),
st AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(xq AS HUGEINT)) AS sx,
         sum(CAST(xq AS HUGEINT) * xq) AS sxx
  FROM scored GROUP BY g
),
w AS (
  SELECT max(CASE WHEN g = 1 THEN n END) AS n1,
         max(CASE WHEN g = 0 THEN n END) AS n2,
         max(CASE WHEN g = 1 THEN CAST(sx AS DOUBLE) / n END) AS m1,
         max(CASE WHEN g = 0 THEN CAST(sx AS DOUBLE) / n END) AS m2,
         max(CASE WHEN g = 1 AND n > 1 THEN
             CAST(n * sxx - sx * sx AS DOUBLE)
             / (CAST(n AS DOUBLE) * (n - 1)) END) AS v1,
         max(CASE WHEN g = 0 AND n > 1 THEN
             CAST(n * sxx - sx * sx AS DOUBLE)
             / (CAST(n AS DOUBLE) * (n - 1)) END) AS v2
  FROM st
)
SELECT n1, n2,
       floor((m1 - m2) / nullif(sqrt(v1 / n1 + v2 / n2), 0) * 1e6 + 0.5)
         / 1e6 AS t_s,
       floor((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
             / nullif((v1 / n1) * (v1 / n1) / (n1 - 1)
                      + (v2 / n2) * (v2 / n2) / (n2 - 1), 0)
             * 1e6 + 0.5) / 1e6 AS df_s
FROM w
"""


@register("stat_welch_ttest", oracle=_WELCH_ORACLE)
def stat_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t (label 0 vs rest) from exact
    quantized power sums; Welch-Satterthwaite df."""
    scored = load(spark, sf_dir, "embeddings").select(
        F.floor(F.element_at("embedding", 1).cast("double") * 1e6 + 0.5)
        .cast("long").alias("xq"),
        F.when(F.col("label") == 0, 1).otherwise(0).alias("g"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    st = scored.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec(F.col("xq"))).alias("sx"),
        F.sum(dec(F.col("xq")) * F.col("xq")).alias("sxx"),
    )
    def pick(g, expr):  # noqa: E306
        return F.max(F.when(F.col("g") == g, expr))
    var = (
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("double")
        / (F.col("n").cast("double") * (F.col("n") - 1))
    )
    w = st.agg(
        pick(1, F.col("n")).cast("long").alias("n1"),
        pick(0, F.col("n")).cast("long").alias("n2"),
        pick(1, F.col("sx").cast("double") / F.col("n")).alias("m1"),
        pick(0, F.col("sx").cast("double") / F.col("n")).alias("m2"),
        pick(1, F.when(F.col("n") > 1, var)).alias("v1"),
        pick(0, F.when(F.col("n") > 1, var)).alias("v2"),
    )
    se2 = F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")
    df_den = (
        (F.col("v1") / F.col("n1")) * (F.col("v1") / F.col("n1"))
        / (F.col("n1") - 1)
        + (F.col("v2") / F.col("n2")) * (F.col("v2") / F.col("n2"))
        / (F.col("n2") - 1)
    )
    return w.select(
        "n1", "n2",
        _snap6((F.col("m1") - F.col("m2"))
               / F.nullif(F.sqrt(se2), F.lit(0.0))).alias("t_s"),
        _snap6(se2 * se2 / F.nullif(df_den, F.lit(0.0))).alias("df_s"),
    )


_ANOVA_ORACLE = """
WITH scored AS (
  SELECT label,
         CAST(floor(CAST(embedding[1] AS DOUBLE) * 1e6 + 0.5)
              AS BIGINT) AS xq
  FROM embeddings
),
st AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(xq AS HUGEINT)) AS sx,
         sum(CAST(xq AS HUGEINT) * xq) AS sxx
  FROM scored GROUP BY label
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(count(*) AS BIGINT) AS k,
         sum(sx) AS s,
         CAST(sum(CAST(floor(CAST(sxx AS DOUBLE) / 1e12 * 1e6 + 0.5)
                       AS BIGINT)) AS BIGINT) AS sxxo_q,
         CAST(sum(CAST(floor((CAST(sx AS DOUBLE) / 1e6)
                             * (CAST(sx AS DOUBLE) / 1e6) / n
                             * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS ssg_q
  FROM st
),
f AS (
  SELECT nn, k,
         (ssg_q / 1e6
          - floor((CAST(s AS DOUBLE) / 1e6) * (CAST(s AS DOUBLE) / 1e6)
                  / nn * 1e6 + 0.5) / 1e6) / (k - 1) AS msb,
         (sxxo_q - ssg_q) / 1e6 / (nn - k) AS msw
  FROM tot
),
groups AS (
  SELECT CAST(label AS BIGINT) AS label, n,
         floor(CAST(sx AS DOUBLE) / n + 0.5) / 1e6 AS mean_s
  FROM st
)
SELECT g.label, g.n,
       floor(g.mean_s * 1e6 + 0.5) / 1e6 AS mean_s,
       floor(f.msb / nullif(f.msw, 0) * 1e6 + 0.5) / 1e6 AS f_s
FROM groups g CROSS JOIN f
ORDER BY g.label
"""


@register("stat_anova_oneway", oracle=_ANOVA_ORACLE)
def stat_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F across labels on the first embedding component
    from exact quantized power sums; per-label means alongside."""
    scored = load(spark, sf_dir, "embeddings").select(
        "label",
        F.floor(F.element_at("embedding", 1).cast("double") * 1e6 + 0.5)
        .cast("long").alias("xq"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    st = scored.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec(F.col("xq"))).alias("sx"),
        F.sum(dec(F.col("xq")) * F.col("xq")).alias("sxx"),
    ).localCheckpoint(eager=True)  # bounded label table, two legs
    # per-label terms descale to ORIGINAL units^2, quantize to the
    # 1e-6 grid as integers, THEN sum: sums of raw doubles would be
    # addition-order-dependent across partitions/engines
    sxo = F.col("sx").cast("double") / 1e6
    tot = st.agg(
        F.sum("n").cast("long").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("sx").alias("s"),
        F.sum(F.floor(F.col("sxx").cast("double") / 1e12 * 1e6 + 0.5)
              .cast("long")).cast("long").alias("sxxo_q"),
        F.sum(F.floor(sxo * sxo / F.col("n") * 1e6 + 0.5).cast("long"))
        .cast("long").alias("ssg_q"),
    )
    so = F.col("s").cast("double") / 1e6
    f = tot.select(
        "nn", "k",
        ((F.col("ssg_q") / 1e6
          - F.floor(so * so / F.col("nn") * 1e6 + 0.5) / 1e6)
         / (F.col("k") - 1)).alias("msb"),
        ((F.col("sxxo_q") - F.col("ssg_q")) / 1e6
         / (F.col("nn") - F.col("k"))).alias("msw"),
    )
    groups = st.select(
        F.col("label").cast("long").alias("label"), "n",
        (F.floor(F.col("sx").cast("double") / F.col("n") + 0.5) / 1e6)
        .alias("mean_s"),
    )
    return (
        groups.crossJoin(F.broadcast(f))
        .select(
            "label", "n",
            _snap6(F.col("mean_s")).alias("mean_s"),
            _snap6(F.col("msb") / F.nullif(F.col("msw"), F.lit(0.0)))
            .alias("f_s"),
        )
        .orderBy("label")
    )


_PERM_B = 20


_PERM_ORACLE = f"""
WITH scored AS (
  SELECT vec_id,
         CAST(floor(CAST(embedding[1] AS DOUBLE) * 1e6 + 0.5)
              AS BIGINT) AS xq,
         CASE WHEN label = 0 THEN 1 ELSE 0 END AS g
  FROM embeddings
),
fan AS (
  SELECT s.vec_id, s.xq,
         CAST(b.b AS BIGINT) AS b,
         CASE WHEN b.b = 0 THEN s.g
              WHEN CAST(('0x' || substr(md5(CAST(s.vec_id AS VARCHAR)
                   || ':' || CAST(b.b AS VARCHAR)), 1, 6)) AS BIGINT)
                   % 10 = 0 THEN 1 ELSE 0 END AS g
  FROM scored s
  CROSS JOIN (SELECT unnest(range(0, {_PERM_B + 1})) AS b) b
),
sums AS (
  SELECT b,
         CAST(sum(CASE WHEN g = 1 THEN xq ELSE 0 END) AS BIGINT) AS s1,
         CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN g = 0 THEN xq ELSE 0 END) AS BIGINT) AS s2,
         CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2
  FROM fan GROUP BY b
),
d AS (
  SELECT b,
         CASE WHEN n1 > 0 AND n2 > 0 THEN
           abs(CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
         END AS ad
  FROM sums
),
obs AS (SELECT ad AS obs_ad FROM d WHERE b = 0)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM d
        WHERE b > 0 AND ad IS NOT NULL) AS n_perms,
       floor(o.obs_ad + 0.5) / 1e6 AS obs_diff_s,
       floor(CAST((SELECT count(*) FROM d, obs
                   WHERE d.b > 0 AND d.ad IS NOT NULL
                     AND d.ad >= obs.obs_ad) AS DOUBLE)
             / nullif((SELECT count(*) FROM d
                       WHERE b > 0 AND ad IS NOT NULL), 0)
             * 1e6 + 0.5) / 1e6 AS p_value_s
FROM obs o
"""


@register("stat_permutation_test", oracle=_PERM_ORACLE)
def stat_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-coin permutation test of the class-0-vs-rest
    mean score difference (B = 20 label reassignments)."""
    scored = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.floor(F.element_at("embedding", 1).cast("double") * 1e6 + 0.5)
        .cast("long").alias("xq"),
        F.when(F.col("label") == 0, 1).otherwise(0).alias("g"),
    )
    from ..functions.text import md5_bucket

    # THE shared 6-hex bucket coin (functions/text.py) -- identical
    # arithmetic, one source, like every other sampler surface
    coin = md5_bucket(
        F.concat(F.col("vec_id").cast("string"), F.lit(":"),
                 F.col("b").cast("string")).cast("binary"), 10)

    fan = (
        scored.crossJoin(F.broadcast(
            spark.range(_PERM_B + 1).select(
                F.col("id").cast("long").alias("b"))))
        .select(
            "vec_id", "xq", "b",
            F.when(F.col("b") == 0, F.col("g"))
            .otherwise(F.when(coin == 0, 1).otherwise(0)).alias("g"),
        )
    )
    sums = fan.groupBy("b").agg(
        F.sum(F.when(F.col("g") == 1, F.col("xq")).otherwise(0))
        .cast("long").alias("s1"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("g") == 0, F.col("xq")).otherwise(0))
        .cast("long").alias("s2"),
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).cast("long")
        .alias("n2"),
    )
    ad = F.when(
        (F.col("n1") > 0) & (F.col("n2") > 0),
        F.abs(F.col("s1").cast("double") / F.col("n1")
              - F.col("s2").cast("double") / F.col("n2")))
    d = sums.select("b", ad.alias("ad")).localCheckpoint(eager=True)
    obs = d.where(F.col("b") == 0).select(
        F.col("ad").alias("obs_ad"))
    perms = d.where(F.col("b") > 0).where(F.col("ad").isNotNull())
    hits = (
        perms.crossJoin(F.broadcast(obs))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_perms"),
            F.sum(F.when(F.col("ad") >= F.col("obs_ad"), 1).otherwise(0))
            .cast("long").alias("n_hits"),
        )
    )
    return (
        hits.crossJoin(F.broadcast(obs))
        .select(
            "n_perms",
            (F.floor(F.col("obs_ad") + 0.5) / 1e6).alias("obs_diff_s"),
            _snap6(F.col("n_hits").cast("double")
                   / F.nullif(F.col("n_perms"), F.lit(0)))
            .alias("p_value_s"),
        )
    )


_KENDALL_ORACLE = """
WITH cust AS (
  SELECT c.c_custkey AS ck, n.n_name, c.c_acctbal AS x,
         CAST(COALESCE(o.cnt, 0) AS BIGINT) AS y
  FROM customer c
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  LEFT JOIN (SELECT o_custkey, count(*) AS cnt FROM orders
             GROUP BY o_custkey) o ON o.o_custkey = c.c_custkey
),
pairs AS (
  SELECT a.n_name,
         CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1 ELSE 0 END AS con,
         CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1 ELSE 0 END AS dis,
         CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx,
         CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS ty
  FROM cust a JOIN cust b ON b.n_name = a.n_name AND a.ck < b.ck
),
agg AS (
  SELECT n_name,
         CAST(count(*) AS BIGINT) AS n0,
         CAST(sum(con) AS BIGINT) AS concordant,
         CAST(sum(dis) AS BIGINT) AS discordant,
         CAST(sum(tx) AS BIGINT) AS ties_x,
         CAST(sum(ty) AS BIGINT) AS ties_y
  FROM pairs GROUP BY n_name
)
SELECT n_name, n0, concordant, discordant,
       floor((concordant - discordant)
             / sqrt(CAST(n0 - ties_x AS DOUBLE)
                    * CAST(n0 - ties_y AS DOUBLE)) * 1e6 + 0.5) / 1e6
         AS tau_b_s
FROM agg ORDER BY n_name
"""


@register("stat_kendall_tau", oracle=_KENDALL_ORACLE)
def stat_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b (balance vs order count) per nation via exact
    within-group pair counting."""
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders")
    cnt = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("cnt"))
    base = (
        cust.join(F.broadcast(nat),
                  cust["c_nationkey"] == nat["n_nationkey"])
        .join(cnt, cust["c_custkey"] == cnt["o_custkey"], "left")
        .select(F.col("c_custkey").alias("ck"), "n_name",
                F.col("c_acctbal").alias("x"),
                F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("y"))
    )
    a = base.select("n_name", F.col("ck").alias("cka"),
                    F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = base.select(F.col("n_name").alias("nb"), F.col("ck").alias("ckb"),
                    F.col("x").alias("xb"), F.col("y").alias("yb"))
    prod = (F.col("xa") - F.col("xb")) * (F.col("ya") - F.col("yb"))
    pairs = (
        a.join(b, (F.col("nb") == F.col("n_name"))
               & (F.col("cka") < F.col("ckb")))
        .select("n_name",
                F.when(prod > 0, 1).otherwise(0).alias("con"),
                F.when(prod < 0, 1).otherwise(0).alias("dis"),
                F.when(F.col("xa") == F.col("xb"), 1).otherwise(0)
                .alias("tx"),
                F.when(F.col("ya") == F.col("yb"), 1).otherwise(0)
                .alias("ty"))
    )
    agg = pairs.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum("con").cast("long").alias("concordant"),
        F.sum("dis").cast("long").alias("discordant"),
        F.sum("tx").cast("long").alias("ties_x"),
        F.sum("ty").cast("long").alias("ties_y"),
    )
    tau = ((F.col("concordant") - F.col("discordant"))
           / F.sqrt((F.col("n0") - F.col("ties_x")).cast("double")
                    * (F.col("n0") - F.col("ties_y")).cast("double")))
    return agg.select("n_name", "n0", "concordant", "discordant",
                      snap6(tau).alias("tau_b_s")).orderBy("n_name")


_BH_ALPHA = 0.05


# A&S 26.2.17 coefficients
_BH_P = 0.2316419


_BH_B = (0.319381530, -0.356563782, 1.781477937,
         -1.821255978, 1.330274429)


# ONE source for the polynomial: the SQL interpolates the same _BH_B
# tuple the Spark side folds over, so the copies cannot desync.
_BH_PHI_SQL = f"""
  floor((2.0 * ((exp(-za * za / 2.0) / sqrt(2.0 * pi()))
    * ((((({_BH_B[4]} * k + {_BH_B[3]}) * k + {_BH_B[2]}) * k
         + {_BH_B[1]}) * k + {_BH_B[0]}) * k))) * 1e6 + 0.5) / 1e6
"""


_BH_ORACLE = f"""
WITH v AS (
  SELECT event_type, value FROM events WHERE value IS NOT NULL
),
g AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_g,
         CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
           AS s_g
  FROM v GROUP BY event_type
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
           AS s,
         CAST(sum(CAST(floor(value * value * 1e4 + 0.5) AS BIGINT))
              AS BIGINT) AS ss
  FROM v
),
z AS (
  SELECT g.event_type, g.n_g,
         floor(((g.s_g / CAST(g.n_g AS DOUBLE) / 1e6
                 - t.s / CAST(t.n AS DOUBLE) / 1e6)
                / (sqrt(t.ss / CAST(t.n AS DOUBLE) / 1e4
                        - (t.s / CAST(t.n AS DOUBLE) / 1e6)
                          * (t.s / CAST(t.n AS DOUBLE) / 1e6))
                   / sqrt(CAST(g.n_g AS DOUBLE)))) * 1e6 + 0.5) / 1e6
           AS z_s
  FROM g CROSS JOIN tot t
),
p AS (
  SELECT event_type, n_g, z_s,
         {_BH_PHI_SQL} AS p_s
  FROM (SELECT *, abs(z_s) AS za, 1.0 / (1.0 + {_BH_P} * abs(z_s)) AS k
        FROM z)
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY p_s, event_type) AS bh_rank,
         count(*) OVER () AS m
  FROM p
),
kmax AS (
  SELECT max(CASE WHEN p_s <= bh_rank * {_BH_ALPHA} / m
                  THEN bh_rank END) AS kk
  FROM ranked
)
SELECT r.event_type, r.n_g, r.z_s, r.p_s,
       CAST(r.bh_rank AS BIGINT) AS bh_rank,
       floor(r.bh_rank * {_BH_ALPHA} / r.m * 1e6 + 0.5) / 1e6
         AS bh_threshold_s,
       COALESCE(r.bh_rank <= k.kk, FALSE) AS rejected
FROM ranked r CROSS JOIN kmax k
ORDER BY r.bh_rank
"""


@register("stat_benjamini_hochberg", oracle=_BH_ORACLE)
def stat_benjamini_hochberg(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """BH step-up FDR over per-event-type mean z-tests; the ranked
    pass runs over the bounded per-type aggregate (<= |event_type|
    rows -- bounded model state, single-partition window OK)."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    vq = q6(F.col("value"))
    vq2 = F.floor(F.col("value") * F.col("value") * 1e4 + F.lit(0.5)) \
        .cast("long")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum(vq).cast("long").alias("s_g"))
    tot = ev.agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum(vq).cast("long").alias("s"),
                 F.sum(vq2).cast("long").alias("ss"))
    mean_all = F.col("s") / F.col("n").cast("double") / 1e6
    sd_all = F.sqrt(F.col("ss") / F.col("n").cast("double") / 1e4
                    - mean_all * mean_all)
    z = snap6(((F.col("s_g") / F.col("n_g").cast("double") / 1e6)
               - mean_all)
              / (sd_all / F.sqrt(F.col("n_g").cast("double"))))
    zt = g.crossJoin(F.broadcast(tot)).select(
        "event_type", "n_g", z.alias("z_s"))
    za = F.abs(F.col("z_s"))
    k = 1.0 / (1.0 + _BH_P * za)
    poly = ((((_BH_B[4] * k + _BH_B[3]) * k + _BH_B[2]) * k
             + _BH_B[1]) * k + _BH_B[0]) * k
    phi = F.exp(-za * za / 2.0) / F.sqrt(F.lit(2.0 * 3.141592653589793))
    p = zt.select("event_type", "n_g", "z_s",
                  snap6(2.0 * phi * poly).alias("p_s"))
    # The window below runs over the per-type aggregate: bounded by
    # the event_type universe, never by the data (ml_isotonic's
    # accepted single-partition-window-on-model-state pattern).
    w = Window.orderBy("p_s", "event_type")
    ranked = p.withColumn("bh_rank", F.row_number().over(w)) \
        .withColumn("m", F.count(F.lit(1)).over(
            Window.partitionBy(F.lit(1))))
    kmax = ranked.agg(F.max(
        F.when(F.col("p_s") <= F.col("bh_rank") * _BH_ALPHA / F.col("m"),
               F.col("bh_rank"))).alias("kk"))
    return (
        ranked.crossJoin(F.broadcast(kmax))
        .select("event_type", "n_g", "z_s", "p_s",
                F.col("bh_rank").cast("long").alias("bh_rank"),
                snap6(F.col("bh_rank") * _BH_ALPHA / F.col("m"))
                .alias("bh_threshold_s"),
                F.coalesce(F.col("bh_rank") <= F.col("kk"), F.lit(False))
                .alias("rejected"))
        .orderBy("bh_rank")
    )


_THEILSEN_ORACLE = """
WITH cust AS (
  SELECT c.c_custkey AS ck, n.n_name, c.c_acctbal AS x,
         CAST(COALESCE(o.cnt, 0) AS BIGINT) AS y
  FROM customer c
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  LEFT JOIN (SELECT o_custkey, count(*) AS cnt FROM orders
             GROUP BY o_custkey) o ON o.o_custkey = c.c_custkey
  WHERE c.c_custkey % 3 = 0
),
slopes AS (
  SELECT a.n_name, a.ck AS cka, b.ck AS ckb,
         CAST(floor((b.y - a.y) / (b.x - a.x) * 1e6 + 0.5) AS BIGINT)
           AS slope_q
  FROM cust a JOIN cust b
    ON b.n_name = a.n_name AND a.ck < b.ck AND b.x <> a.x
),
ranked AS (
  SELECT n_name, slope_q,
         row_number() OVER (PARTITION BY n_name
                            ORDER BY slope_q, cka, ckb) AS rn,
         count(*) OVER (PARTITION BY n_name) AS n
  FROM slopes
)
SELECT n_name, CAST(max(n) AS BIGINT) AS n_pairs,
       (min(CASE WHEN rn = (n + 1) // 2 THEN slope_q END)
        + min(CASE WHEN rn = (n + 2) // 2 THEN slope_q END)) / 2e6
         AS theil_slope_s
FROM ranked GROUP BY n_name ORDER BY n_name
"""


@register("stat_theil_sen_slope", oracle=_THEILSEN_ORACLE)
def stat_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen slope (order count ~ balance) per nation: exact
    median of pairwise slopes via distributed rank crossing."""
    from ..operators.ranking import grouped_rank

    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders")
    cnt = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("cnt"))
    base = (
        cust.where(F.col("c_custkey") % 3 == 0)
        .join(F.broadcast(nat),
              F.col("c_nationkey") == nat["n_nationkey"])
        .join(cnt, F.col("c_custkey") == cnt["o_custkey"], "left")
        .select(F.col("c_custkey").alias("ck"), "n_name",
                F.col("c_acctbal").alias("x"),
                F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("y"))
    )
    a = base.select("n_name", F.col("ck").alias("cka"),
                    F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = base.select(F.col("n_name").alias("nb"), F.col("ck").alias("ckb"),
                    F.col("x").alias("xb"), F.col("y").alias("yb"))
    slopes = (
        a.join(b, (F.col("nb") == F.col("n_name"))
               & (F.col("cka") < F.col("ckb"))
               & (F.col("xb") != F.col("xa")))
        .select("n_name", "cka", "ckb",
                F.floor((F.col("yb") - F.col("ya"))
                        / (F.col("xb") - F.col("xa")) * 1e6
                        + F.lit(0.5)).cast("long").alias("slope_q"))
    )
    # n_name: constant-size TPC-H dim (25 nations) -- skip the probe.
    ranked = grouped_rank(slopes, ["n_name"],
                          ["slope_q", "cka", "ckb"], "rn", count_col="n",
                          known_group_count=32)
    # Integer `div` keeps the median ranks exact at any n (the
    # double-divide-then-floor path drifts past ~2^53; ADVICE r6).
    lo = F.min(F.when(
        F.col("rn") == F.expr("(n + 1) div 2"), F.col("slope_q")))
    hi = F.min(F.when(
        F.col("rn") == F.expr("(n + 2) div 2"), F.col("slope_q")))
    return (
        ranked.groupBy("n_name")
        .agg(F.max("n").cast("long").alias("n_pairs"),
             ((lo + hi) / 2e6).alias("theil_slope_s"))
        .orderBy("n_name")
    )


_BF_ORACLE = """
WITH v AS (
  SELECT event_type, event_id, value FROM events
  WHERE value IS NOT NULL
),
ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM v
),
med AS (
  SELECT event_type,
         (min(CASE WHEN rn = (n + 1) // 2 THEN value END)
          + min(CASE WHEN rn = (n + 2) // 2 THEN value END)) / 2.0
           AS m
  FROM ranked GROUP BY event_type
),
z AS (
  SELECT v.event_type,
         CAST(floor(abs(v.value - med.m) * 1e6 + 0.5) AS BIGINT) AS zq
  FROM v JOIN med ON med.event_type = v.event_type
),
g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_g,
         CAST(sum(zq) AS BIGINT) AS s_g,
         CAST(sum(CAST(floor((zq / 1e6) * (zq / 1e6) * 1e4 + 0.5)
           AS BIGINT)) AS BIGINT) AS ss_g
  FROM z GROUP BY event_type
),
t AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(n_g) AS BIGINT) AS n,
         CAST(sum(s_g) AS BIGINT) AS s,
         sum(CAST(s_g AS DOUBLE) * s_g / n_g) AS sq_between,
         CAST(sum(ss_g) AS BIGINT) AS ss,
         sum(CAST(ss_g AS DOUBLE) / 1e4
             - CAST(s_g AS DOUBLE) * s_g / n_g / 1e12) AS sse
  FROM g
)
SELECT k AS k_groups, n AS n_rows,
       floor(((sq_between / 1e12 - CAST(s AS DOUBLE) * s / n / 1e12)
              / (k - 1)) / (sse / (n - k)) * 1e6 + 0.5) / 1e6
         AS f_stat_s
FROM t
"""


@register("stat_brown_forsythe", oracle=_BF_ORACLE)
def stat_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe spread-homogeneity F over per-type median
    deviations; exact medians via grouped_rank, quantized ANOVA."""
    from ..operators.ranking import grouped_rank

    v = load(spark, sf_dir, "events").where(F.col("value").isNotNull()) \
        .select("event_type", "event_id", "value")
    # event_type: fixed generator enum (5 values) -- skip the probe.
    ranked = grouped_rank(v, ["event_type"], ["value", "event_id"],
                          "rn", count_col="n", known_group_count=8)
    # Integer `div` keeps the median ranks exact at any n (the
    # double-divide-then-floor path drifts past ~2^53; ADVICE r6).
    lo = F.min(F.when(F.col("rn") == F.expr("(n + 1) div 2"),
                      F.col("value")))
    hi = F.min(F.when(F.col("rn") == F.expr("(n + 2) div 2"),
                      F.col("value")))
    med = ranked.groupBy("event_type").agg(((lo + hi) / 2.0).alias("m"))
    z = (
        v.join(F.broadcast(med), "event_type")
        .select("event_type",
                q6(F.abs(F.col("value") - F.col("m"))).alias("zq"))
    )
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("zq").cast("long").alias("s_g"),
        F.sum(F.floor((F.col("zq") / 1e6) * (F.col("zq") / 1e6) * 1e4
                      + F.lit(0.5)).cast("long")).cast("long")
        .alias("ss_g"),
    )
    t = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum(F.col("s_g").cast("double") * F.col("s_g") / F.col("n_g"))
        .alias("sq_between"),
        F.sum(F.col("ss_g").cast("double") / 1e4
              - F.col("s_g").cast("double") * F.col("s_g")
              / F.col("n_g") / 1e12).alias("sse"),
    )
    f = (((F.col("sq_between") / 1e12
           - F.col("s").cast("double") * F.col("s") / F.col("n") / 1e12)
          / (F.col("k") - 1))
         / (F.col("sse") / (F.col("n") - F.col("k"))))
    return t.select(F.col("k").alias("k_groups"),
                    F.col("n").alias("n_rows"),
                    snap6(f).alias("f_stat_s"))
