"""Vector math over array<float|double> columns, pure built-ins.

The embedding fixture is float32 on disk; every helper first casts
element-wise to double so folds are bit-stable and match DuckDB's
``::DOUBLE[]`` + ``list_dot_product`` semantics (sequential
left-to-right accumulation in double).

At 100 TB these expressions run inside whole-stage codegen over the
scan -- no shuffle, no Python boundary; a 64-dim dot product is ~64
fused multiply-adds per row.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column | str) -> Column:
    """Element-wise cast to array<double>."""
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Dot product via zip_with + sequential fold (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def sq_norm(a: Column) -> Column:
    return dot(a, a)


def l2_norm(a: Column) -> Column:
    return F.sqrt(sq_norm(a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL if either vector has zero norm."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def l2_normalize(a: Column) -> Column:
    """Unit-normalize a vector (array<double> in, array<double> out).

    The norm is computed ONCE per vector, outside any lambda: inside a
    ``transform`` lambda it would be re-folded for every element --
    O(d^2) interpreted lambda calls per vector (2.4M at d=1536). Each
    element is divided by the same norm value as in the per-element
    form, so the quotients are bit-identical."""
    n = l2_norm(a)
    return F.zip_with(a, F.array_repeat(n, F.size(a)), lambda x, m: x / m)


# ---------------------------------------------------------------------------
# Certificate-audit scaffold: the quantized-cosine pair idiom shared
# by every exact-side audit (BRP / SemDeDup / ANN certificates and
# tools/scale_probe.py). The q6 half-up quantization and the
# norms-precomputed-once layout are certificate-critical invariants --
# they must match DuckDB's `floor(list_cosine_similarity(...) * 1e6 +
# 0.5)::BIGINT` bit-for-bit -- so they live HERE, once.
# ---------------------------------------------------------------------------


def norm_side(df, id_col: str, vec_col: str, id_alias: str,
              vec_alias: str, norm_alias: str):
    """One side of a quantized-cosine pair join: (id, double vector,
    l2 norm), zero-norm vectors excluded (NaN cosine in DuckDB, NULL
    division here -- both engines must drop them identically). Norms
    are computed ONCE per vector, not once per pair."""
    return (
        df.select(F.col(id_col).alias(id_alias),
                  as_double(vec_col).alias(vec_alias))
        .withColumn(norm_alias, l2_norm(F.col(vec_alias)))
        .filter(F.col(norm_alias) > 0)
    )


def quantized_cosine(vec_a: str = "va", norm_a: str = "na",
                     vec_b: str = "vb", norm_b: str = "nb") -> Column:
    """Half-up 1e-6-quantized cosine between two `norm_side` sides as
    a BIGINT -- numerically identical to `cosine()` (same sqrt of the
    same fold, same division order) at a third of the pair work."""
    return F.floor(dot(F.col(vec_a), F.col(vec_b))
                   / (F.col(norm_a) * F.col(norm_b)) * 1e6
                   + F.lit(0.5)).cast("long")
