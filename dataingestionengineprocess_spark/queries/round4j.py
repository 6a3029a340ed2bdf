"""Round-4 (continued) additions: distributed PCA under the hash
gate, plus the encoding-corruption screen.

- `ml_pca_power_portable` -- the top principal component of the
  embedding table: exact int64-quantized covariance matrix computed
  distributed (the corpus-scale term), then four power-iteration
  matvecs over the 64x64 bounded model state with every intermediate
  snapped to the 1e-6 grid, so the DuckDB oracle replays the ENTIRE
  fit -- centering, covariance, all four matvecs, both
  normalizations, the Rayleigh eigenvalue, and the explained-variance
  ratio -- bit for bit. The strongest statement in the embedding
  family after `ml_kmeans_portable`: not "the component looks right"
  but "every intermediate of the distributed fit is exactly the
  specified function of the input".
- `text_mojibake_screen` -- per-source encoding-corruption rates:
  U+FFFD replacement characters, UTF-8-read-as-Latin-1 artifacts
  ("Ã", "â" sequences), C0 control characters, and
  the non-ASCII ratio. The pre-training ingest screen that catches a
  mis-decoded source before it poisons the mix.

Reference parity: diagram-only reference (SURVEY.md §0); extends the
[C] embedding/quality families (BASELINE.json:6).

Registered LAST (queries/__init__._load_all) so the pre-flighted
driver window is never displaced mid-round.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from . import register
from ..functions.exact import snap6 as _snap6, q6f as _q6f
from ..session import local_frame


# ---------------------------------------------------------------------------
# PCA. Distributed part: quantize each embedding element once to the
# 1e-6 int64 grid, per-dim means from exact integer sums, centered
# values as the identical double expression in both engines, and the
# 64x64 covariance as a vec_id self-equi-join with per-term
# floor(c_i * c_j * 1e6 + 0.5) int64 reduces (order-independent).
# Driver part: FOUR matvecs + normalizations over the collected
# 4096-cell matrix -- bounded model state, same license as the BPE
# merge loop and the k-means centroid rows -- with every float op
# (product-sum quantization, sqrt, division) mirroring the SQL
# replica exactly. v0 = 1/8 on every dim (dyadic, exact in binary).
# lambda = v3 . (C v3) via the fourth matvec; explained = lambda /
# trace(C).
#
# Scale: the self-join fans out d^2 = 4096 terms per vector -- the
# standard X^T X accumulation; everything after runs on <= 4096 rows.
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# Encoding-corruption screen. Each rate is "characters matched /
# total characters" with the match count computed as
# len(s) - len(regexp_replace(s, pat, '')) -- the same arithmetic in
# both engines, no regexp_count dialect dependence. Patterns are
# single-character classes written with \x{..} escapes, the one
# hex-escape syntax BOTH Java regex (Spark) and RE2 (DuckDB) accept:
# U+FFFD, the Latin-1 mojibake lead bytes U+00C3/U+00C2/U+00E2, C0
# controls, and the non-ASCII class.
#
# Scale: map-only per-document counts, one map-side-combinable
# groupBy; no joins, no windows.
# ---------------------------------------------------------------------------

_MOJIBAKE_PATS = {
    "repl": "\\x{FFFD}",
    "latin1": "[\\x{C3}\\x{C2}\\x{E2}]",
    "ctrl": "[\\x{01}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}]",
    "nonascii": "[^\\x{00}-\\x{7F}]",
}


def _moji_count(col, pat: str):
    return (F.length(col)
            - F.length(F.regexp_replace(col, pat, ""))).cast("long")


_MOJIBAKE_ORACLE = """
WITH per_doc AS (
  SELECT source,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(length(text) - length(regexp_replace(text, '\\x{FFFD}', '',
                                                   'g')) AS BIGINT)
           AS n_repl,
         CAST(length(text) - length(regexp_replace(text,
              '[\\x{C3}\\x{C2}\\x{E2}]', '', 'g')) AS BIGINT) AS n_latin1,
         CAST(length(text) - length(regexp_replace(text,
              '[\\x{01}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}]', '', 'g'))
           AS BIGINT) AS n_ctrl,
         CAST(length(text) - length(regexp_replace(text,
              '[^\\x{00}-\\x{7F}]', '', 'g')) AS BIGINT) AS n_nonascii
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_repl) AS BIGINT) AS repl_chars,
       CAST(sum(n_latin1) AS BIGINT) AS latin1_chars,
       CAST(sum(n_ctrl) AS BIGINT) AS ctrl_chars,
       floor(CAST(sum(n_nonascii) AS DOUBLE) / nullif(sum(n_chars), 0)
             * 1e6 + 0.5) / 1e6 AS nonascii_ratio_s,
       CAST(sum(CASE WHEN n_repl + n_latin1 + n_ctrl > 0 THEN 1 ELSE 0
                END) AS BIGINT) AS suspect_docs
FROM per_doc
GROUP BY source
ORDER BY source
"""


@register("text_mojibake_screen", oracle=_MOJIBAKE_ORACLE)
def text_mojibake_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source encoding-corruption rates: replacement chars,
    Latin-1 mojibake leads, C0 controls, non-ASCII ratio."""
    docs = load(spark, sf_dir, "documents")
    t = F.col("text")
    per_doc = docs.select(
        "source",
        F.length(t).cast("long").alias("n_chars"),
        _moji_count(t, _MOJIBAKE_PATS["repl"]).alias("n_repl"),
        _moji_count(t, _MOJIBAKE_PATS["latin1"]).alias("n_latin1"),
        _moji_count(t, _MOJIBAKE_PATS["ctrl"]).alias("n_ctrl"),
        _moji_count(t, _MOJIBAKE_PATS["nonascii"]).alias("n_nonascii"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_repl").cast("long").alias("repl_chars"),
            F.sum("n_latin1").cast("long").alias("latin1_chars"),
            F.sum("n_ctrl").cast("long").alias("ctrl_chars"),
            _snap6(F.sum("n_nonascii").cast("double")
                   / F.nullif(F.sum("n_chars"), F.lit(0)))
            .alias("nonascii_ratio_s"),
            F.sum(F.when(F.col("n_repl") + F.col("n_latin1")
                         + F.col("n_ctrl") > 0, 1).otherwise(0))
            .cast("long").alias("suspect_docs"),
        )
        .orderBy("source")
    )
