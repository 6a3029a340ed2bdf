"""Round-7 certificate queries: driver-hash evidence for the
engine-native LSH defaults (VERDICT r6 #3).

``dedup_minhash_lsh`` and ``similarity_join_brp_lsh`` are rows-only by
design: their pair sets depend on engine-native hash functions
(xxhash64 / MLlib p-stable projections) that no independent SQL engine
can reproduce value-for-value. But both are DETERMINISTIC on a fixed
fixture (pure hash functions, pinned seed), so strong facts about
their output ARE oracle-checkable. Each certificate recomputes the
EXACT pair universe on both engines (integer-exact Jaccard /
half-up-quantized cosine -- no float threshold boundary) and emits
structural + recall invariants the engine output must satisfy; the
oracle asserts them TRUE and reproduces the exact-count column
verbatim. Pattern follows `text_bpe_train_certificate` (round4.py).

Scale note: the exact side of each certificate is an all-pairs /
shingle-join AUDIT over the corpus -- intentionally exhaustive, the
way the other certificate oracles replay their operator (SCALE.md
section 3). At 100 TB the same query runs over a bounded audit sample
(both operators accept any input frame); the LSH operators under
audit remain bucketed and shuffle-narrow at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from . import register
from .dedup import (
    _DOC_TOKENS_SQL,
    certificate_oracle_rows,
    exact_jaccard_stratum,
    pair_certificate_facts,
    shingle_certificate_oracle,
)

# ---------------------------------------------------------------------------
# MinHash-LSH (xxhash64 default) certificate. The exact side uses the
# same 3-token shingle universe as `dedup_ngram_jaccard`'s verified
# oracle, but tests J >= 0.7 in INTEGER arithmetic
# (10*|inter| >= 7*|union|) -- no rounding, no float boundary, and is
# restricted to the deterministic ``id % 3 == 0`` audit stratum with
# the filter pushed BELOW the shingle self-join (the BRP certificate's
# pattern): the exact side costs a third of the full universe here and
# a bounded sample at 100 TB, while both engines restrict identically
# so n_exact stays a hash-checked fact. The recall floor is 0.9 of the
# stratum's exact J>=0.7 pairs (measured 1.0 at sf0.001/0.01/0.1;
# xxhash64 is a pure function, so the engine pair set is a fixed
# property of the fixture).
# ---------------------------------------------------------------------------

_MINHASH_CERT_ORACLE = shingle_certificate_oracle(
    _DOC_TOKENS_SQL, 7, "exact_pairs_j070_present", 9, "estimates_k_over_32")


@register("dedup_minhash_lsh_certificate", oracle=_MINHASH_CERT_ORACLE)
def dedup_minhash_lsh_certificate(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Audit the xxhash64 MinHash-LSH default against the exact
    integer-Jaccard pair universe: canonical/unique output, every
    estimate an exact k/32 at or above the 0.5 threshold, and >=90%
    recall of the exact J>=0.7 pairs on the ``id_a % 3 == 0`` audit
    stratum (the filter pushes below the shingle self-join, so the
    exact side is a bounded audit at any scale)."""
    from ..operators.dedup import minhash_neardup_pairs

    docs = load(spark, sf_dir, "documents")

    # exact stratum universe J >= 0.7 via the shared scaffold (ONE
    # source with the SimHash/pHash kernel). The discarded _sh/_sizes
    # do NOT orphan the scaffold's shingle checkpoint: sh feeds three
    # consumers inside the helper itself (self-join left/right +
    # sizes), so the materialization pays for itself here too (ADVICE
    # r9).
    _sh, _sizes, exact = exact_jaccard_stratum(docs, "text", tenths=7)
    # est_round=None: unrounded estimates are exact multiples of 1/32
    # (the portable twin's convention), so the k/32 invariant is an
    # equality, not a tolerance.
    lsh = minhash_neardup_pairs(
        docs, num_hashes=32, bands=16, est_threshold=0.5,
        repartition_to=spark.sparkContext.defaultParallelism,
        est_round=None,
    )
    k32 = F.col("est_jaccard") * 32
    est_ok = ((F.abs(k32 - F.round(k32, 0)) == 0)
              & (F.col("est_jaccard") >= 0.5))
    # an empty pair set passes vacuously (non-emptiness is gated by
    # exact_pairs_j070_present -- an audit sample where LSH
    # legitimately finds nothing must not flag the k/32 invariant)
    return pair_certificate_facts(
        spark, exact, lsh, "exact_pairs_j070_present", 9,
        "estimates_k_over_32",
        lambda found: found.agg(F.sum(F.when(est_ok, 0).otherwise(1))))


# ---------------------------------------------------------------------------
# BRP-LSH (MLlib p-stable projections, seed 42) certificate. The
# exact side quantizes cosine half-up to 6 decimals on BOTH engines
# before thresholding (the repo-wide q6 idiom), so the pair universe
# has no raw-float boundary. The audit is shaped to stay CHEAP while
# losing no strength:
#   soundness -- exact cosine recomputed only for the FOUND pairs
#     (|found| rows, a lookup join, never all-pairs): zero pairs may
#     fall below the 0.3999 float-noise guard (measured exactly zero;
#     approxSimilarityJoin distance-verifies candidates, so precision
#     is structural, not statistical);
#   recall -- audited on the deterministic id_a % 5 == 0 stratum
#     (the filter pushes below the pair join, cutting the exact side
#     5x; both engines restrict identically, so n_exact stays a
#     hash-checked fact): >=80% of the stratum's exact cos>=0.4
#     pairs must be found (measured 0.94-0.95 at all three SFs).
#     The exact-pair universe starts at cq >= 400100, NOT at the
#     engine's 400000 cut: pairs inside the [400000, 400100) band are
#     excluded from the recall denominator on BOTH engines, so a
#     future fixture whose cosine lands within an ulp of the 400000
#     threshold (where the engines' FP association could disagree)
#     cannot flip n_exact -- the same guard-band treatment the
#     soundness item already gets at 399900.
# ---------------------------------------------------------------------------

#: the BRP recall audit stratum, ``id_a % _BRP_AUDIT_MOD == 0`` on both
#: engines (the oracle below interpolates it)
_BRP_AUDIT_MOD = 5
_BRP_CERT_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(floor(list_cosine_similarity(a.embedding::DOUBLE[],
                                           b.embedding::DOUBLE[])
                    * 1e6 + 0.5) AS BIGINT) AS cq
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE a.vec_id % {_BRP_AUDIT_MOD} = 0
),
ex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM p
       WHERE cq >= 400100)
{certificate_oracle_rows("exact_pairs_present", 8,
                         "sound_no_false_positives")}"""


@register("similarity_brp_lsh_certificate", oracle=_BRP_CERT_ORACLE)
def similarity_brp_lsh_certificate(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Audit the MLlib BucketedRandomProjectionLSH self-join:
    canonical/unique output, zero found pairs below the 0.3999 noise
    guard (exact cosine recomputed per found pair), >=80% recall of
    the exact cq>=400100 core pairs on the id_a % 5 == 0 audit
    stratum (the [400000, 400100) band is excluded from the recall
    denominator on both engines -- threshold-tie guard)."""
    from ..operators.similarity import brp_similarity_join

    from ..functions.vectors import norm_side, quantized_cosine

    from ..operators.skew import spread_input

    emb = load(spark, sf_dir, "embeddings")
    # shared certificate scaffold (functions/vectors.py): norms
    # precomputed once per vector, zero-norm vectors excluded on BOTH
    # engines (the dot-product prefilter in the oracle --
    # brp_similarity_join itself drops them too), q6 half-up cosine.
    # BOTH sides spread first: a single-file parquet source arrives as
    # ONE partition and would serialize the (n/5) x n stratum cosine
    # scan onto one core (VERDICT r8 #6, the round-9 kernel layout).
    spread = spread_input(emb)
    va = norm_side(spread, "vec_id", "embedding", "id_a", "va", "na")
    vb = norm_side(spread, "vec_id", "embedding", "id_b", "vb", "nb")
    cq = quantized_cosine().alias("cq")
    # exact side: only the audit stratum ever joins (filter pushed
    # below the pair join -- 1/5 of the all-pairs work)
    exact = (
        va.filter(F.col("id_a") % _BRP_AUDIT_MOD == 0)
        .join(vb, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cq)
        .filter(F.col("cq") >= 400100)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    approx = brp_similarity_join(emb, threshold_cos=0.4).select(
        "id_a", "id_b")

    def n_stray(found: DataFrame) -> DataFrame:
        # exact cosine for the FOUND pairs only (lookup join). LEFT
        # joins so a pair naming an id absent from the corpus or a
        # zero-norm vector counts as a STRAY (NULL cq) instead of
        # vanishing from the audit (brp_similarity_join drops
        # zero-norm vectors itself, so on well-formed output nothing
        # is NULL -- the left join guards a regressed operator, the
        # ADVICE-r8 class).
        return (
            found.join(va, "id_a", "left").join(vb, "id_b", "left")
            .select(cq)
            .agg(F.sum(F.when(F.col("cq").isNull()
                              | (F.col("cq") < 399900), 1).otherwise(0)))
        )

    return pair_certificate_facts(
        spark, exact, approx, "exact_pairs_present", 8,
        "sound_no_false_positives", n_stray)
