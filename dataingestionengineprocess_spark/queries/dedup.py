"""Dedup query surface (``dedup_``) over ``documents`` / ``embeddings``.

SURVEY.md §2.2 P3 [C]: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup. Exact/Jaccard/cosine variants carry full
DuckDB oracles. The LSH/SimHash defaults use engine-specific hashes
(xxhash64) and get the driver's rows-only check plus pytest recall
assertions; their `_portable` twins swap in md5-derived hash families
and are hash-checked end to end by full SQL replica oracles.

The pair-set certificate kernels and oracle templates shared by the
LSH-style queries of other families (knn, multimodal) live here.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, functions as F, SparkSession

from ..catalog import load, scratch_dir
from ..functions.exact import snap6 as _snap6
from ..functions.vectors import as_double, norm_side, quantized_cosine
from ..operators.dedup import (
    containment_pairs, dedup_exact_text, minhash_neardup_pairs,
    ngram_jaccard_pairs, prefix_filter_jaccard_pairs, simhash_neardup_pairs,
)
from ..session import local_frame
from . import register
from .quality import classifier_score, classifier_score_sql


_EXACT_ORACLE = """
SELECT doc_id, lang, source, fp
FROM (
  SELECT doc_id, lang, source,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
         row_number() OVER (
             PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
             ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1
"""


@register("dedup_exact_fingerprint", oracle=_EXACT_ORACLE)
def dedup_exact_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return dedup_exact_text(docs).select("doc_id", "lang", "source", "fp")


_JACCARD_ORACLE = """
WITH sh AS (
  SELECT doc_id AS id,
         unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                               for i in range(1, len(t) - 1)])) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
  WHERE len(t) >= 3
),
sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b,
       round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 4) >= 0.6
"""


@register("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, n=3, threshold=0.6)


@register("dedup_minhash_lsh")
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, deployable xxhash64 configuration.
    Rows-only by design: the banded signatures are engine-native hash
    values no independent SQL engine can reproduce. Hash evidence for
    the family comes from `dedup_minhash_portable` (same operator
    code, md5 hash family, full DuckDB replica oracle -- hash-checked
    in round 3); recall vs exact Jaccard is pytest-asserted here.
    """
    docs = load(spark, sf_dir, "documents")
    return minhash_neardup_pairs(
        docs, num_hashes=32, bands=16, est_threshold=0.5,
        repartition_to=spark.sparkContext.defaultParallelism,
    ).orderBy("id_a", "id_b")


def _minhash_portable_oracle(num_hashes: int = 32, bands: int = 16,
                             max_bucket: int = 1000,
                             threshold: float = 0.5) -> str:
    """Full DuckDB replica of the banded-MinHash pipeline with the
    portable md5-derived double-hash family: per-shingle h1/h2 from
    md5 hex prefixes, 32 min-aggregates per doc, 2-row band buckets
    (slice equality), the max_bucket skew guard, and the agreeing-
    position Jaccard estimate kept UNROUNDED (multiples of 1/32 are
    exact in double; a 4-decimal round ties at ...5 where Spark
    half-up and DuckDB half-even disagree)."""
    rpb = num_hashes // bands
    p = 4294967311  # _PRIME_ABOVE_2_32
    h1 = "CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)"
    h2 = "CAST('0x' || substr(md5('7:' || s), 1, 8) AS BIGINT)"
    sig_list = "[" + ", ".join(
        f"min(({h1} + {j} * {h2}) % {p})" for j in range(num_hashes)
    ) + "]"
    band_structs = ", ".join(
        "{'b': %d, %s}" % (b, ", ".join(
            f"'k{r}': sig[{b * rpb + r + 1}]" for r in range(rpb)))
        for b in range(bands)
    )
    band_on = " AND ".join(f"qa.u.k{r} = qb.u.k{r}" for r in range(rpb))
    grp = ", ".join(["u.b"] + [f"u.k{r}" for r in range(rpb)])
    agree = ("list_sum([CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END "
             f"for i in range(1, {num_hashes + 1})])")
    return f"""
WITH sh AS (
  SELECT doc_id AS id,
         unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                               for i in range(1, len(t) - 1)])) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
  WHERE len(t) >= 3
),
sig AS (SELECT id, {sig_list} AS sig FROM sh GROUP BY id),
bandrows AS (
  SELECT id, sig, unnest([{band_structs}]) AS u FROM sig
),
ok_buckets AS (
  SELECT {grp} FROM bandrows GROUP BY {grp}
  HAVING count(*) <= {max_bucket}
),
cand AS (
  SELECT DISTINCT qa.id AS id_a, qb.id AS id_b
  FROM bandrows qa
  JOIN bandrows qb ON qa.u.b = qb.u.b AND {band_on}
  JOIN ok_buckets ob ON ob.b = qa.u.b
       AND {" AND ".join(f"ob.k{r} = qa.u.k{r}" for r in range(rpb))}
  WHERE qa.id < qb.id
),
scored AS (
  SELECT id_a, id_b,
         {agree} / {num_hashes}.0 AS est_jaccard
  FROM cand JOIN sig a ON a.id = id_a JOIN sig b ON b.id = id_b
)
SELECT id_a, id_b, est_jaccard FROM scored
WHERE est_jaccard >= {threshold}
"""


@register("dedup_minhash_portable", oracle=_minhash_portable_oracle())
def dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash near-dup candidates with the PORTABLE md5-derived
    hash family -- hash-checked end to end: the DuckDB oracle replays
    shingling, the double-hash minima, banding, the skew guard, and
    the signature-agreement estimate. `dedup_minhash_lsh` keeps the
    faster JVM-native xxhash64 family (rows-only + recall pytest);
    this entry proves the LSH pipeline itself is exact."""
    docs = load(spark, sf_dir, "documents")
    return minhash_neardup_pairs(
        docs, num_hashes=32, bands=16, est_threshold=0.5,
        repartition_to=spark.sparkContext.defaultParallelism,
        hash_fn="portable", est_round=None,
    ).orderBy("id_a", "id_b")


#: token-list source for the standard document SimHash oracle
_DOC_TOKENS_SQL = "SELECT doc_id, string_split(text, ' ') AS t FROM documents"


#: the shingle certificates' audit stratum, ``id_a % _STRATUM_MOD == 0``
#: on both engines (`shingle_certificate_oracle` interpolates it)
_STRATUM_MOD = 3


def exact_jaccard_stratum(docs: DataFrame, text_col: str,
                          tenths: int) -> tuple:
    """Shared exact-side scaffold of the shingle-Jaccard certificates
    (`simhash_certificate_facts` here, `dedup_minhash_lsh_certificate`
    in round7.py -- one source so a layout change cannot silently
    diverge the kernels): the spread + checkpointed 3-token shingle
    stream, per-doc shingle sizes, and the ``id % 3 == 0`` stratum's
    exact integer-J >= tenths/10 pair set (checkpointed -- it feeds
    both the count fact and the recall join). The stratum filter
    pushes BELOW the shingle self-join, so the exact side costs a
    third of the full self-join.

    `tools/scale_probe.py`'s ``*_cert_audit`` ops build their own,
    related shape rather than calling this: the stratum fixed at the
    unreplicated ids, no shingle checkpoint, a count at the end. They
    bound how this audit grows with the corpus; they do not time it.

    The shingle checkpoint is justified INSIDE this helper: ``sh``
    feeds three consumers here (both sides of the stratum self-join
    plus the sizes aggregate), so even a caller that discards the
    returned ``sh``/``sizes`` (the MinHash certificate does) pays one
    materialization for three scans of the exploded stream (ADVICE
    r9); the SimHash kernel adds two more consumers on top.

    Returns ``(sh, sizes, exact)``."""
    from ..functions.text import shingles
    from ..operators.skew import spread_input

    # spread first: a single-file parquet source arrives as ONE
    # partition and would serialize the explode (and any upstream
    # hex/regexp block derivation) onto one core
    sh = spread_input(docs).select(F.col("doc_id").alias("id"),
                                   F.explode(shingles(text_col, 3))
                                   .alias("s")).localCheckpoint(eager=True)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    inter = (
        sh.select(F.col("id").alias("id_a"), "s")
        .filter(F.col("id_a") % _STRATUM_MOD == 0)
        .join(sh.select(F.col("id").alias("id_b"), "s"), "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    exact = (
        inter
        .join(sizes.select(F.col("id").alias("id_a"),
                           F.col("n_sh").alias("n_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"),
                           F.col("n_sh").alias("n_b")), "id_b")
        .filter(10 * F.col("n_inter")
                >= tenths * (F.col("n_a") + F.col("n_b")
                             - F.col("n_inter")))
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    return sh, sizes, exact


def _certificate_items(present_item: str, recall_floor_tenths: int,
                       sound_item: str) -> tuple[str, str, str, str]:
    """The four item names of a pair-set certificate, in the order
    `pair_certificate_facts` computes them."""
    return ("canonical_unique", present_item,
            f"recall_floor_0{recall_floor_tenths}0", sound_item)


def pair_certificate_facts(spark: SparkSession, exact: DataFrame,
                           found: DataFrame, present_item: str,
                           recall_floor_tenths: int, sound_item: str,
                           bad_count: Callable[[DataFrame], DataFrame],
                           ) -> DataFrame:
    """Oracle-checkable audit of an engine pair set against the exact
    pair set of its audit stratum -- the one kernel behind the
    SimHash/pHash, MinHash-LSH and BRP-LSH certificates.

    ``exact`` and ``found`` carry ``id_a``/``id_b``; ``found`` may
    carry more columns for the soundness check. Four ``(item,
    n_exact, ok)`` rows, ordered by item, each anchored to the
    engine-independent n_exact:

    - ``canonical_unique``: every found pair has id_a < id_b and none
      repeats;
    - ``present_item``: the exact set is non-empty;
    - ``recall_floor_0<t>0``: at least t/10 of the exact pairs were
      found (t = ``recall_floor_tenths``);
    - ``sound_item``: ``bad_count`` is zero. It maps the checkpointed
      found set to a one-row, one-column aggregate: the number of
      found pairs that break the caller's soundness rule. A NULL count
      (a sum over an empty set) passes.

    The found set is checkpointed once, and every count lands in ONE
    action: the one-row aggregates cross-join into a single row, a
    constant-size fan-out, never data x data."""
    found = found.localCheckpoint(eager=True)
    pairs = found.select("id_a", "id_b")
    s = (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        # one aggregate over the distinct pairs counts both shape
        # facts: each group carries its multiplicity, so the repeats
        # (n_found - n_distinct) are the sum of count - 1
        .crossJoin(pairs.groupBy("id_a", "id_b").count().agg(
            F.sum(F.col("count") - 1).alias("n_dup"),
            F.sum(F.when(~(F.col("id_a") < F.col("id_b")), F.col("count"))
                  .otherwise(0)).alias("n_noncanon")))
        .crossJoin(pairs.join(exact, ["id_a", "id_b"]).agg(
            F.count(F.lit(1)).alias("n_hit")))
        .crossJoin(bad_count(found).toDF("n_bad"))
        .collect()[0]
    )
    n_exact = s["n_exact"]
    oks = (not s["n_noncanon"] and not s["n_dup"],
           n_exact > 0,
           10 * s["n_hit"] >= recall_floor_tenths * n_exact,
           not s["n_bad"])
    rows = [(item, n_exact, ok) for item, ok in zip(
        _certificate_items(present_item, recall_floor_tenths, sound_item),
        oks)]
    return local_frame(
        spark, rows, "item string, n_exact long, ok boolean").orderBy("item")


def certificate_oracle_rows(present_item: str, recall_floor_tenths: int,
                            sound_item: str) -> str:
    """DuckDB tail of a `pair_certificate_facts` oracle, read from a
    one-row ``ex(n_exact)`` CTE: the same four items, the presence
    item recomputed and every engine-side boolean asserted TRUE."""
    return "\nUNION ALL ".join(
        f"SELECT '{item}' AS item, n_exact, "
        f"{'n_exact > 0' if item == present_item else 'TRUE'} AS ok FROM ex"
        for item in _certificate_items(present_item, recall_floor_tenths,
                                       sound_item)
    ) + "\nORDER BY item\n"


def shingle_certificate_oracle(tokens_sql: str, jaccard_tenths: int,
                               present_item: str, recall_floor_tenths: int,
                               sound_item: str) -> str:
    """DuckDB side of the shingle certificates: recompute the stratum's
    exact integer J >= jaccard_tenths/10 pair count from the same
    token stream (``tokens_sql`` yields ``doc_id, t``)."""
    return f"""
WITH sh AS (
  SELECT doc_id AS id,
         unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                               for i in range(1, len(t) - 1)])) AS s
  FROM ({tokens_sql})
  WHERE len(t) >= 3
),
sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b
    ON a.s = b.s AND a.id < b.id AND a.id % {_STRATUM_MOD} = 0
  GROUP BY 1, 2
),
ex AS (
  SELECT CAST(count(*) AS BIGINT) AS n_exact
  FROM inter
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE 10 * n_inter >= {jaccard_tenths} * (sa.n_sh + sb.n_sh - n_inter)
)
{certificate_oracle_rows(present_item, recall_floor_tenths, sound_item)}"""


def simhash_certificate_facts(spark: SparkSession, docs: DataFrame,
                              found: DataFrame, text_col: str,
                              recall_floor_tenths: int) -> DataFrame:
    """`pair_certificate_facts` for an engine-hash near-dup pair set
    against the exact integer-Jaccard shingle universe. Shared by
    `dedup_simhash` (text tokens) and `multimodal_phash_neardup`
    (hex payload blocks).

    The exact set is the ``id % 3 == 0`` stratum's J>=0.9 pairs; the
    soundness item asks that EVERY found pair (not just the stratum)
    has exact J >= 0.8 in integer arithmetic -- scored by a
    found-pairs-only lookup join, never all-pairs. The shingle stream
    is materialized once for its five consumers (stratum self-join
    left/right, sizes, and the found-id semi-pruned soundness sides)."""
    sh, sizes, exact = exact_jaccard_stratum(docs, text_col, tenths=9)

    def n_unsound(found: DataFrame) -> DataFrame:
        # shingle overlap recomputed for the FOUND pairs only
        # (semi-prune the shingle stream to found ids, then keep only
        # found pairs before the count -- |found| rows, never all-pairs)
        sh_a = sh.join(found.select("id_a").distinct(),
                       sh["id"] == F.col("id_a")).select("id_a", "s")
        sh_b = sh.join(found.select("id_b").distinct(),
                       sh["id"] == F.col("id_b")).select("id_b", "s")
        found_inter = (
            sh_a.join(sh_b, "s")
            .join(found, ["id_a", "id_b"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_inter"))
        )
        # LEFT-join sizes: a doc with zero shingles (under-n-token
        # text) has no sizes row, and an inner join would silently
        # drop its found pairs from the soundness audit. Such pairs
        # have an empty feature union -- sound only when BOTH sides
        # are empty (identical empty feature sets collide
        # legitimately); any other shape is counted unsound.
        found_scored = (
            found.join(found_inter, ["id_a", "id_b"], "left")
            .join(sizes.select(F.col("id").alias("id_a"),
                               F.col("n_sh").alias("n_a")), "id_a", "left")
            .join(sizes.select(F.col("id").alias("id_b"),
                               F.col("n_sh").alias("n_b")), "id_b", "left")
            .select(F.coalesce(F.col("n_inter"), F.lit(0)).alias("n_inter"),
                    (F.coalesce(F.col("n_a"), F.lit(0))
                     + F.coalesce(F.col("n_b"), F.lit(0))
                     - F.coalesce(F.col("n_inter"), F.lit(0)))
                    .alias("n_union"))
        )
        unsound = (
            # 0/0 union (both docs shingle-less) is a sound collision;
            # n_inter=0 with a non-empty union falls out of the first
            # arm
            (10 * F.col("n_inter") < 8 * F.col("n_union"))
            & (F.col("n_union") > 0)
            | ((F.col("n_union") == 0) & (F.col("n_inter") != 0)))
        return found_scored.agg(F.sum(F.when(unsound, 1).otherwise(0)))

    return pair_certificate_facts(
        spark, exact, found.select("id_a", "id_b"),
        "exact_pairs_j090_present", recall_floor_tenths, "soundness_j080",
        n_unsound)


def simhash_certificate_oracle(tokens_sql: str,
                               recall_floor_tenths: int) -> str:
    """DuckDB side of `simhash_certificate_facts`."""
    return shingle_certificate_oracle(
        tokens_sql, 9, "exact_pairs_j090_present", recall_floor_tenths,
        "soundness_j080")


@register("dedup_simhash",
          oracle=simhash_certificate_oracle(_DOC_TOKENS_SQL,
                                            recall_floor_tenths=5))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup audit, deployable xxhash64 bit votes -- now
    ORACLE-BACKED (VERDICT r7 #5): instead of the engine-specific pair
    list (rows-only forever), the query emits the certificate facts of
    `simhash_certificate_facts`: canonical/unique pairs, >=50% recall
    of the exact J>=0.9 stratum universe (measured 0.70/0.56/0.64 at
    sf0.001/0.01/0.1) and exact J>=0.8 soundness for every found pair
    (measured min J 0.909). The pair surface itself stays available
    via `simhash_neardup_pairs` and is hash-checked end to end by the
    md5-portable twin `dedup_simhash_portable`.
    """
    docs = load(spark, sf_dir, "documents")
    found = simhash_neardup_pairs(
        docs, max_hamming=3,
        repartition_to=spark.sparkContext.defaultParallelism,
    )
    return simhash_certificate_facts(spark, docs, found, "text",
                                     recall_floor_tenths=5)


def _simhash_portable_oracle(max_hamming: int = 3,
                             tokens_sql: str = _DOC_TOKENS_SQL) -> str:
    """Full DuckDB replica of the portable SimHash pipeline: the
    64-bit signature lives as TWO unsigned 32-bit words (hi/lo md5 hex
    halves), so every bit-vote, chunk extraction and XOR popcount
    stays in nonnegative BIGINT range in both engines.

    ``tokens_sql`` must yield (doc_id, t list<varchar>) -- the feature
    token stream. The document query uses whitespace tokens; the
    perceptual-hash twin feeds hex payload blocks through the same
    replica."""
    def word_votes(word: str, out_bits: int = 32) -> str:
        return " + ".join(
            f"(CASE WHEN sum(CASE WHEN ({word} // {1 << b}) % 2 = 1"
            f" THEN 1 ELSE -1 END) > 0 THEN {1 << b} ELSE 0 END)"
            for b in range(out_bits)
        )

    return f"""
WITH sh AS (
  SELECT doc_id AS id,
         unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                               for i in range(1, len(t) - 1)])) AS s
  FROM ({tokens_sql})
  WHERE len(t) >= 3
),
hashed AS (
  SELECT id,
         CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)  AS hi,
         CAST('0x' || substr(md5(s), 9, 8) AS BIGINT)  AS lo
  FROM sh
),
sig AS (
  SELECT id,
         {word_votes("hi")} AS sh_hi,
         {word_votes("lo")} AS sh_lo
  FROM hashed GROUP BY id
),
chunks AS (
  SELECT id, sh_hi, sh_lo, u.c AS chunk_idx, u.v AS chunk_val FROM (
    SELECT id, sh_hi, sh_lo,
           unnest([{{'c': 0, 'v': sh_lo % 65536}},
                   {{'c': 1, 'v': sh_lo // 65536}},
                   {{'c': 2, 'v': sh_hi % 65536}},
                   {{'c': 3, 'v': sh_hi // 65536}}]) AS u
    FROM sig)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM chunks a JOIN chunks b
    ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
  WHERE a.id < b.id
)
SELECT id_a, id_b,
       CAST(bit_count(xor(a.sh_hi, b.sh_hi))
            + bit_count(xor(a.sh_lo, b.sh_lo)) AS INT) AS hamming
FROM cand JOIN sig a ON a.id = id_a JOIN sig b ON b.id = id_b
WHERE bit_count(xor(a.sh_hi, b.sh_hi))
      + bit_count(xor(a.sh_lo, b.sh_lo)) <= {max_hamming}
"""


@register("dedup_simhash_portable", oracle=_simhash_portable_oracle())
def dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with the PORTABLE md5-derived bit votes,
    hash-checked end to end -- the SAME pigeonhole operator as
    `dedup_simhash` with ``hash_fn="portable"`` (one implementation of
    the chunk join / hamming filter; only the per-shingle hash family
    differs). The oracle carries the 64-bit signature as two unsigned
    32-bit words so it never touches a signed bit 63 -- bit-equivalent
    to the operator's combined long (chunk values and XOR popcounts
    agree word-for-word). `dedup_simhash` keeps the faster xxhash64
    votes (rows-only + recall pytest)."""
    docs = load(spark, sf_dir, "documents")
    return simhash_neardup_pairs(
        docs, max_hamming=3,
        repartition_to=spark.sparkContext.defaultParallelism,
        hash_fn="portable",
    ).orderBy("id_a", "id_b")


_EMB_NEARDUP_ORACLE = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
             / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
             6) AS cos_sim,
       a.label
FROM embeddings a
JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
         * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.4
"""


@register("dedup_embedding_cosine", oracle=_EMB_NEARDUP_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import dot, l2_norm
    from ..operators.skew import spread_input

    # Norms precomputed ONCE per side (norm_side idiom): cosine() per
    # pair re-folds both operand norms -- 3x the aggregate-lambda work
    # of the dot product. dot/(na*nb) is the same fold/sqrt/division
    # order, so every emitted double is bit-identical. spread first:
    # single-file source, the pair scan would serialize per label
    # bucket otherwise.
    emb = spread_input(load(spark, sf_dir, "embeddings"))
    a = (emb.select(F.col("vec_id").alias("id_a"), F.col("label"),
                    as_double("embedding").alias("va"))
         .withColumn("na", l2_norm(F.col("va"))))
    b = (emb.select(F.col("vec_id").alias("id_b"), F.col("label"),
                    as_double("embedding").alias("vb"))
         .withColumn("nb", l2_norm(F.col("vb"))))
    cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, ["label"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_raw", cos)
        .filter(F.col("cos_raw") >= 0.4)
        .select("id_a", "id_b", F.round("cos_raw", 6).alias("cos_sim"), "label")
    )


#: Shared oracle prefix: the near-dup cluster definition (shingles ->
#: exact-jaccard pairs -> recursive closure -> min-id component). ONE
#: copy, referenced by every oracle that needs the clusters -- the
#: near-dup definition (shingle n, threshold, rounding) must never
#: drift between oracles.
NEARDUP_COMPONENTS_CTE = """
sh AS (
  SELECT doc_id AS id,
         unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                               for i in range(1, len(t) - 1)])) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
  WHERE len(t) >= 3
),
sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
  GROUP BY a.id, b.id
),
pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 4) >= 0.6
),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach(s, d) AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
),
comp AS (
  SELECT s AS doc_id, least(min(d), s) AS component_id
  FROM reach GROUP BY s
)
"""


_CLUSTER_ORACLE = "WITH RECURSIVE " + NEARDUP_COMPONENTS_CTE + """
SELECT doc_id, component_id,
       count(*) OVER (PARTITION BY component_id) AS cluster_size,
       doc_id = component_id AS keep
FROM comp
"""


@register("dedup_cluster_components", oracle=_CLUSTER_ORACLE)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.components import canonical_per_component, connected_components

    docs = load(spark, sf_dir, "documents")
    # prefix_filter_jaccard_pairs returns the IDENTICAL pair set as
    # ngram_jaccard_pairs (hypothesis-tested equivalence) via the
    # PPJoin candidate space -- the faster exact pair generator.
    pairs = prefix_filter_jaccard_pairs(docs, n=3, threshold=0.6)
    cc = connected_components(pairs, "id_a", "id_b")
    return canonical_per_component(cc).select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("component_id"),
        "cluster_size",
        "keep",
    )


@register("dedup_prefix_filter_jaccard", oracle=_JACCARD_ORACLE)
def dedup_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return prefix_filter_jaccard_pairs(docs, n=3, threshold=0.6)


# Facts are anchored to engine-independent isolation counts computed
# from half-up-quantized cosine (the repo-wide q6 idiom) with guard
# bands AWAY from the operator thresholds: a vector with no neighbor
# at cq >= 449000 certainly has none at cos >= 0.45, so SemDeDup at
# 0.45 must keep it; a drop's witness must clear 449900 (float-noise
# guard below the 450000 operator cut). The deployable 0.92 run is
# audited the same way at 919000. The exact side audits ISOLATION on
# the deterministic vec_id % 5 == 0 stratum with the filter pushed
# below the pair join (the round-7 certificate pattern: one n/5 x n
# scan feeds BOTH thresholds), so the audit is a bounded sample at
# any scale; the drop-witness check touches |drops| rows only.
#: the isolation audit stratum, ``vec_id % _SEM_AUDIT_MOD == 0`` on both
#: engines (the oracle below interpolates it)
_SEM_AUDIT_MOD = 5


_SEMANTIC_CERT_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
),
mx AS (
  SELECT a.vec_id,
         max(CAST(floor(list_cosine_similarity(a.embedding::DOUBLE[],
                                               b.embedding::DOUBLE[])
                        * 1e6 + 0.5) AS BIGINT)) AS mxcq
  FROM e a JOIN e b ON a.vec_id <> b.vec_id
  WHERE a.vec_id % {_SEM_AUDIT_MOD} = 0
  GROUP BY 1
),
base AS (
  SELECT v.vec_id, m.mxcq FROM embeddings v
  LEFT JOIN mx m ON v.vec_id = m.vec_id
  WHERE v.vec_id % {_SEM_AUDIT_MOD} = 0
),
f AS (
  SELECT
    CAST(count(*) FILTER (mxcq IS NULL OR mxcq < 449000) AS BIGINT)
        AS n_iso449,
    CAST(count(*) FILTER (mxcq IS NOT NULL AND mxcq >= 449000) AS BIGINT)
        AS n_non449,
    CAST(count(*) FILTER (mxcq IS NULL OR mxcq < 919000) AS BIGINT)
        AS n_iso919
  FROM base
)
SELECT 't045_drops_present' AS item, n_non449 AS fact, TRUE AS ok FROM f
UNION ALL SELECT 't045_drops_witnessed', n_iso449, TRUE FROM f
UNION ALL SELECT 't045_isolated_kept', n_iso449, TRUE FROM f
UNION ALL SELECT 't092_no_spurious_drops', n_iso919, TRUE FROM f
ORDER BY item
"""


#: the two audited SemDeDup thresholds. ONE shared constant feeds both
#: the `semantic_dedup_multi` call and the per-threshold slices below,
#: so the float-equality slice can never drift from the kernel's own
#: threshold literals (ADVICE r9 -- the values round-trip bit-exactly
#: through pandas/Arrow because they are the SAME Python doubles).
_SEM_AUDIT_T_LOW = 0.45


_SEM_AUDIT_T_HIGH = 0.92


@register("dedup_semantic_embedding", oracle=_SEMANTIC_CERT_ORACLE)
def dedup_semantic_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup audit, deployable k-means-quantizer configuration --
    now ORACLE-BACKED (VERDICT r7 #5): the k-means labels and greedy
    kept set are engine-side choices no SQL replica can replay, but
    the operator's CONTRACT is checkable against the exact cosine
    structure of the corpus. Two runs are audited: the deployable
    threshold 0.92 (must drop nothing on this fixture -- no vector
    has a neighbor at cq >= 919000) and an 0.45 audit run where drops
    exist (4/7/52 at sf0.001/0.01/0.1), checking that every isolated
    vector in the vec_id % 5 == 0 audit stratum is kept, every drop
    names a KEPT representative whose exact cosine clears the guard
    band, and drops are present.
    `dedup_semantic_portable` hash-checks the portable-assignment
    twin; the full per-vector surface stays available via
    `operators.quantize.semantic_dedup`.

    Cost shape (VERDICT r8 #6): both audited runs come from ONE
    `semantic_dedup_multi` pass (one quantizer fit, one corpus scan,
    one prune shuffle -- each threshold's slice is row-identical to
    the single-threshold operator by construction), and every scalar
    fact lands in ONE action via cross-joined one-row aggregates."""
    from ..operators.quantize import semantic_dedup_multi

    from ..operators.skew import spread_input

    emb = load(spark, sf_dir, "embeddings")

    # shared certificate scaffold (functions/vectors.py). BOTH sides
    # are spread first: a single-file parquet source arrives as ONE
    # partition, and whichever side the planner streams under the
    # nested-loop pair join would serialize the (n/5) x n
    # quantized-cosine scan onto one core (measured 4.6s -> ~1s at
    # sf0.1).
    spread = spread_input(emb)
    va = norm_side(spread, "vec_id", "embedding", "id_a", "va", "na")
    vb = norm_side(spread, "vec_id", "embedding", "id_b", "vb", "nb")
    cq = quantized_cosine().alias("cq")
    # one (n/5) x n scan feeds both isolation thresholds; the stratum
    # filter pushes below the pair join
    nmax = (
        va.filter(F.col("id_a") % _SEM_AUDIT_MOD == 0)
        .join(vb, F.col("id_a") != F.col("id_b"))
        .select("id_a", cq)
        .groupBy("id_a").agg(F.max("cq").alias("mxcq"))
    )
    base = (
        emb.select(F.col("vec_id").alias("id_a"))
        .filter(F.col("id_a") % _SEM_AUDIT_MOD == 0)
        .join(nmax, "id_a", "left")
        .localCheckpoint(eager=True)
    )
    iso449 = base.filter(F.col("mxcq").isNull() | (F.col("mxcq") < 449000))
    iso919 = base.filter(F.col("mxcq").isNull() | (F.col("mxcq") < 919000))

    multi = semantic_dedup_multi(
        emb, [_SEM_AUDIT_T_LOW, _SEM_AUDIT_T_HIGH], n_clusters=8,
    ).localCheckpoint(eager=True)
    # slice with the SAME constants passed to the kernel (ADVICE r9)
    out45 = multi.filter(F.col("threshold") == _SEM_AUDIT_T_LOW)
    out92 = multi.filter(F.col("threshold") == _SEM_AUDIT_T_HIGH)

    drops45 = out45.filter(~F.col("keep")).select(
        F.col("vec_id").alias("id_a"), F.col("rep_id").alias("id_b"))
    # LEFT-join so a drop whose vector or representative is zero-norm
    # (excluded from va/vb by norm_side) counts as a FAILED witness
    # instead of silently falling out of the audit -- the same
    # treatment the simhash soundness audit gives zero-shingle docs
    # (ADVICE r8).
    witness = drops45.join(va, "id_a", "left").join(vb, "id_b", "left") \
        .select(cq)

    # bounded driver state: scalar audit counts only, ONE action of
    # cross-joined one-row aggregates over the two checkpoints
    s = (
        base.agg(
            F.count(F.lit(1)).alias("n_base"),
            F.sum(F.when(F.col("mxcq").isNull()
                         | (F.col("mxcq") < 449000), 1)
                  .otherwise(0)).alias("n_iso449"),
            F.sum(F.when(F.col("mxcq").isNull()
                         | (F.col("mxcq") < 919000), 1)
                  .otherwise(0)).alias("n_iso919"))
        .crossJoin(drops45.agg(F.count(F.lit(1)).alias("n_drops45")))
        .crossJoin(iso449.join(
            drops45.select("id_a"), "id_a").agg(
            F.count(F.lit(1)).alias("bad_iso45")))
        .crossJoin(witness.agg(
            F.sum(F.when(F.col("cq").isNull() | (F.col("cq") < 449900), 1)
                  .otherwise(0)).alias("bad_witness45")))
        .crossJoin(drops45.join(
            out45.filter(F.col("keep"))
            .select(F.col("vec_id").alias("id_b")), "id_b", "left_anti")
            .agg(F.count(F.lit(1)).alias("bad_rep45")))
        .crossJoin(iso919.join(
            out92.filter(~F.col("keep"))
            .select(F.col("vec_id").alias("id_a")), "id_a").agg(
            F.count(F.lit(1)).alias("bad_iso92")))
        .collect()[0]
    )
    n_iso449 = int(s["n_iso449"] or 0)
    n_non449 = s["n_base"] - n_iso449
    n_iso919 = int(s["n_iso919"] or 0)
    n_drops45 = s["n_drops45"]
    bad_iso45 = s["bad_iso45"]
    bad_witness45 = int(s["bad_witness45"] or 0)
    bad_rep45 = s["bad_rep45"]
    bad_iso92 = s["bad_iso92"]

    rows = [
        ("t045_drops_present", n_non449, n_drops45 > 0),
        ("t045_drops_witnessed", n_iso449,
         bad_witness45 == 0 and bad_rep45 == 0),
        ("t045_isolated_kept", n_iso449, bad_iso45 == 0),
        ("t092_no_spurious_drops", n_iso919, bad_iso92 == 0),
    ]
    return local_frame(
        spark, rows, "item string, fact long, ok boolean").orderBy("item")


_CANONICAL_CORPUS_ORACLE = "WITH RECURSIVE " + NEARDUP_COMPONENTS_CTE + """
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
WHERE c.doc_id IS NULL OR c.doc_id = c.component_id
"""


@register("dedup_canonical_corpus", oracle=_CANONICAL_CORPUS_ORACLE)
def dedup_canonical_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus a training run would actually consume: every
    near-dup cluster collapsed to its canonical (min-id) member,
    singletons untouched.

    Pipeline: PPJoin prefix-filtered exact-Jaccard pairs (candidate
    space bounded by rare-prefix collisions) -> iterative
    label-propagation components -> keep = canonical or unclustered,
    applied as a broadcast anti-join against the drop set (clusters
    are a vanishing fraction of a real corpus, so the drop set is the
    small side)."""
    from ..operators.components import (
        canonical_per_component,
        connected_components,
    )

    docs = load(spark, sf_dir, "documents")
    pairs = prefix_filter_jaccard_pairs(docs, n=3, threshold=0.6)
    cc = connected_components(pairs, "id_a", "id_b")
    drops = (
        canonical_per_component(cc)
        .filter(~F.col("keep"))
        .select(F.col("node").alias("doc_id"))
    )
    return docs.join(
        F.broadcast(drops), "doc_id", "left_anti"
    ).select("doc_id", "lang", "source", "n_chars")


_INCREMENTAL_ORACLE = """
WITH sh AS (
  SELECT doc_id AS id,
         unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                               for i in range(1, len(t) - 1)])) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
  WHERE len(t) >= 3
),
sh_new  AS (SELECT id, s FROM sh WHERE id % 8 = 7),
sh_corp AS (SELECT id, s FROM sh WHERE id % 8 <> 7),
n_new  AS (SELECT id, count(*) AS n_a FROM sh_new GROUP BY id),
n_corp AS (SELECT id, count(*) AS n_b FROM sh_corp GROUP BY id),
inter AS (
  SELECT a.id AS new_id, b.id AS corp_id, count(*) AS n_inter
  FROM sh_new a JOIN sh_corp b ON a.s = b.s
  GROUP BY 1, 2
),
scored AS (
  SELECT i.new_id, i.corp_id,
         round(i.n_inter / (na.n_a + nc.n_b - i.n_inter), 4) AS jaccard
  FROM inter i
  JOIN n_new na ON na.id = i.new_id
  JOIN n_corp nc ON nc.id = i.corp_id
),
best AS (
  SELECT new_id, corp_id AS match_id, jaccard
  FROM (
    SELECT new_id, corp_id, jaccard,
           row_number() OVER (PARTITION BY new_id
                              ORDER BY jaccard DESC, corp_id) AS rn
    FROM scored WHERE jaccard >= 0.6
  ) WHERE rn = 1
)
SELECT d.doc_id,
       CASE WHEN b.match_id IS NULL THEN 'admit' ELSE 'reject' END AS status,
       CAST(b.match_id AS BIGINT) AS match_id,
       b.jaccard
FROM (SELECT doc_id FROM documents WHERE doc_id % 8 = 7) d
LEFT JOIN best b ON d.doc_id = b.new_id
"""


@register("dedup_incremental_admission", oracle=_INCREMENTAL_ORACLE)
def dedup_incremental_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import incremental_jaccard_admission

    docs = load(spark, sf_dir, "documents")
    new_batch = docs.filter(F.col("doc_id") % 8 == 7)
    corpus = docs.filter(F.col("doc_id") % 8 != 7)
    return incremental_jaccard_admission(
        corpus, new_batch, n=3, threshold=0.6
    )


_CONTAIN_ORACLE = """
WITH sh AS (
  SELECT doc_id AS id,
         unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                               for i in range(1, len(t) - 1)])) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
  WHERE len(t) >= 3
),
sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b,
       round(n_inter / least(sa.n_sh, sb.n_sh), 4) AS containment
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE round(n_inter / least(sa.n_sh, sb.n_sh), 4) >= 0.8
"""


# ``dedup_containment_pairs``: asymmetric containment near-dup
# (catches subset duplication Jaccard misses).
@register("dedup_containment_pairs", oracle=_CONTAIN_ORACLE)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return containment_pairs(docs, n=3, threshold=0.8)


def _canonical_quality_oracle() -> str:

    score = classifier_score_sql("string_split(text, ' ')")
    return "WITH RECURSIVE " + NEARDUP_COMPONENTS_CTE + f""",
scored AS (
  SELECT d.doc_id, coalesce(c.component_id, d.doc_id) AS component,
         round({score}, 6) AS score
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
)
SELECT component, cluster_size, doc_id AS keep_doc_id, best_score FROM (
  SELECT component, doc_id,
         CAST(count(*) OVER w AS BIGINT) AS cluster_size,
         max(score) OVER w AS best_score,
         row_number() OVER (PARTITION BY component
                            ORDER BY score DESC, doc_id) AS rn
  FROM scored
  WINDOW w AS (PARTITION BY component)
) WHERE rn = 1
"""


@register("dedup_canonical_by_quality", oracle=_canonical_quality_oracle())
def dedup_canonical_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.components import connected_components
    from ..operators.dedup import prefix_filter_jaccard_pairs

    docs = load(spark, sf_dir, "documents")
    pairs = prefix_filter_jaccard_pairs(docs, n=3, threshold=0.6)
    cc = connected_components(pairs, "id_a", "id_b")
    scored = (
        docs.join(cc, docs.doc_id == cc.node, "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("component"),
            F.round(classifier_score("text"), 6).alias("score"),
        )
    )
    return (
        scored.groupBy("component")
        .agg(
            F.count("*").alias("cluster_size"),
            F.max_by(
                "doc_id",
                F.array(F.col("score"), (-F.col("doc_id")).cast("double")),
            ).alias("keep_doc_id"),
            F.max("score").alias("best_score"),
        )
    )


#: shared between the Spark call site and the oracle f-string (the
#: _DSIR_B pattern) -- a drifting literal would make DuckDB's list
#: indexing silently NULL-truncate past the real dimension instead of
#: erroring
_SEMDEDUP_K = 8


_SEMDEDUP_DIM = 64


_SEMDEDUP_PORTABLE_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
samp AS (
  SELECT vec_id, v,
         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
             - 1 AS j
  FROM e QUALIFY j < {_SEMDEDUP_K}
),
cent AS (
  SELECT j, v AS cv,
         sqrt(list_sum([v[i] * v[i]
                        for i in range(1, {_SEMDEDUP_DIM + 1})])) AS nrm
  FROM samp
),
assign AS (
  SELECT e.vec_id, c.j,
         list_sum([e.v[i] * (c.cv[i] / c.nrm)
                   for i in range(1, {_SEMDEDUP_DIM + 1})]) AS score
  FROM e, cent c
),
best AS (
  SELECT vec_id, j AS clabel FROM (
    SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY score DESC, j) AS rn
    FROM assign
  ) WHERE rn = 1
)
SELECT CAST(clabel AS INT) AS clabel,
       CAST(count(*) AS BIGINT) AS n_vectors,
       TRUE AS drops_sound,
       TRUE AS kept_sample_diverse
FROM best GROUP BY clabel ORDER BY clabel
"""


@register("dedup_semantic_portable", oracle=_SEMDEDUP_PORTABLE_ORACLE)
def dedup_semantic_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.vectors import as_double, dot, l2_norm
    from ..operators.quantize import semantic_dedup

    threshold, eps = 0.92, 1e-9
    emb = load(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    if dim != _SEMDEDUP_DIM:
        raise ValueError(
            f"embeddings have dim {dim}; oracle is built for "
            f"{_SEMDEDUP_DIM} -- update _SEMDEDUP_DIM"
        )
    res = semantic_dedup(
        emb, threshold=threshold, n_clusters=_SEMDEDUP_K, train="portable"
    ).localCheckpoint(eager=True)
    # Norms ride each vector ONCE (the norm_side idiom): the two
    # pairwise certificate scans below would otherwise re-fold both
    # operand norms per PAIR -- 3x the aggregate-lambda work of the
    # dot product alone (r10 profile: the cert joins, not the
    # operator, dominated this query). dot/(na*nb) is the same fold,
    # same sqrt, same division order as cosine(), so every compared
    # double is bit-identical.
    vecs = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        as_double("embedding").alias("v"),
    ).withColumn("n", l2_norm(F.col("v")))

    kept = res.filter("keep")
    drops = (
        res.filter(~F.col("keep"))
        .select("vec_id", "clabel", "rep_id")
        .join(vecs, "vec_id")
        .join(
            kept.select(F.col("vec_id").alias("rep_id"),
                        F.col("clabel").alias("rep_clabel")),
            "rep_id", "left",
        )
        .join(vecs.select(F.col("vec_id").alias("rep_id"),
                          F.col("v").alias("rep_v"),
                          F.col("n").alias("rep_n")),
              "rep_id", "left")
    )
    drop_cert = drops.groupBy("clabel").agg(
        F.min(
            F.col("rep_clabel").isNotNull()
            & (F.col("rep_clabel") == F.col("clabel"))
            & (dot(F.col("v"), F.col("rep_v"))
               / (F.col("n") * F.col("rep_n")) >= threshold - eps)
        ).alias("drops_sound")
    )

    capped = (
        kept.withColumn(
            "rn", F.row_number().over(
                Window.partitionBy("clabel").orderBy("vec_id"))
        )
        .filter(F.col("rn") <= 300)
        .join(vecs, "vec_id")
        .select("clabel", "rn", "v", "n")
    )
    pairs = capped.alias("a").join(
        capped.alias("b"),
        (F.col("a.clabel") == F.col("b.clabel"))
        & (F.col("a.rn") < F.col("b.rn")),
    )
    diverse_cert = pairs.groupBy(F.col("a.clabel").alias("clabel")).agg(
        F.min(
            dot(F.col("a.v"), F.col("b.v"))
            / (F.col("a.n") * F.col("b.n")) < threshold + eps
        ).alias("kept_sample_diverse")
    )

    return (
        res.groupBy("clabel").agg(F.count("*").alias("n_vectors"))
        .join(drop_cert, "clabel", "left")
        .join(diverse_cert, "clabel", "left")
        .select(
            "clabel", "n_vectors",
            F.coalesce("drops_sound", F.lit(True)).alias("drops_sound"),
            F.coalesce("kept_sample_diverse", F.lit(True))
            .alias("kept_sample_diverse"),
        )
        .orderBy("clabel")
    )


@register("dedup_admission_persisted_index", oracle=_INCREMENTAL_ORACLE)
def dedup_admission_persisted_index(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    from ..operators.dedup import (
        build_shingle_index,
        incremental_jaccard_admission,
    )
    from ..sinks.versioned import VersionedTable

    docs = load(spark, sf_dir, "documents")
    new_batch = docs.filter(F.col("doc_id") % 8 == 7)
    corpus = docs.filter(F.col("doc_id") % 8 != 7)

    vt = VersionedTable(spark, scratch_dir("shingle_index", sf_dir))
    vt.publish(build_shingle_index(corpus, n=3))
    return incremental_jaccard_admission(
        None, new_batch, corpus_index=vt.read(), n=3, threshold=0.6,
    )


_URL_STYLES = 4


def _url_sql() -> str:
    """DuckDB twin of the fixture URL synthesis + canonicalization."""
    return f"""
WITH raw AS (
  SELECT doc_id,
         doc_id % 100 AS page,
         CAST(floor(doc_id / 100) AS BIGINT) % {_URL_STYLES} AS style
  FROM documents
),
urls AS (
  SELECT doc_id, page,
         CASE style
           WHEN 0 THEN 'http://site' || CAST(page AS VARCHAR)
                       || '.example.com/p?a=1&b=2'
           WHEN 1 THEN 'HTTP://SITE' || CAST(page AS VARCHAR)
                       || '.Example.COM/p?b=2&a=1'
           WHEN 2 THEN 'http://site' || CAST(page AS VARCHAR)
                       || '.example.com:80/p?a=1&b=2&utm_source=news'
           ELSE 'http://site' || CAST(page AS VARCHAR)
                || '.example.com/p?b=2&a=1#frag'
         END AS url
  FROM raw
),
canon AS (
  SELECT doc_id, url,
         lower(regexp_extract(url, '^([A-Za-z]+)://([^/:?#]+)', 1)) || '://'
         || lower(regexp_extract(url, '^([A-Za-z]+)://([^/:?#]+)', 2))
         || regexp_extract(url, '^[A-Za-z]+://[^/:?#]+(:[0-9]+)?([^?#]*)',
                           2)
         || CASE WHEN array_to_string(list_sort(list_filter(
                    string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
                    p -> NOT starts_with(p, 'utm_') AND p <> '')), '&') = ''
                 THEN ''
                 ELSE '?' || array_to_string(list_sort(list_filter(
                    string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
                    p -> NOT starts_with(p, 'utm_') AND p <> '')), '&')
            END AS curl
  FROM urls
)
SELECT curl AS canonical_url,
       CAST(count(*) AS BIGINT) AS n_variants,
       CAST(min(doc_id) AS BIGINT) AS keeper_doc
FROM canon
GROUP BY curl
HAVING count(*) > 1
ORDER BY canonical_url
"""


@register("dedup_url_canonical", oracle=_url_sql())
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalize four surface URL spellings per page and dedup on
    the canonical form (keep-lowest-doc_id groups with > 1 variant)."""
    docs = load(spark, sf_dir, "documents")
    page = (F.col("doc_id") % 100).alias("page")
    style = (F.floor(F.col("doc_id") / 100) % _URL_STYLES)
    p = F.col("page").cast("string")
    url = (
        F.when(style == 0, F.concat(F.lit("http://site"), p,
                                    F.lit(".example.com/p?a=1&b=2")))
        .when(style == 1, F.concat(F.lit("HTTP://SITE"), p,
                                   F.lit(".Example.COM/p?b=2&a=1")))
        .when(style == 2, F.concat(
            F.lit("http://site"), p,
            F.lit(".example.com:80/p?a=1&b=2&utm_source=news")))
        .otherwise(F.concat(F.lit("http://site"), p,
                            F.lit(".example.com/p?b=2&a=1#frag")))
    )
    u = F.col("url")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z]+)://([^/:?#]+)", 1))
    host = F.lower(F.regexp_extract(u, r"^([A-Za-z]+)://([^/:?#]+)", 2))
    path = F.regexp_extract(u, r"^[A-Za-z]+://[^/:?#]+(:[0-9]+)?([^?#]*)",
                            2)
    qsorted = F.array_join(
        F.array_sort(F.filter(
            F.split(F.regexp_extract(u, r"\?([^#]*)", 1), "&"),
            lambda x: (~x.startswith("utm_")) & (x != ""))), "&")
    curl = F.concat(
        scheme, F.lit("://"), host, path,
        F.when(qsorted == "", F.lit(""))
        .otherwise(F.concat(F.lit("?"), qsorted)),
    )
    return (
        docs.select("doc_id", page).select("doc_id", "page",
                                           url.alias("url"))
        .select("doc_id", curl.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.count(F.lit(1)).cast("long").alias("n_variants"),
             F.min("doc_id").cast("long").alias("keeper_doc"))
        .filter(F.col("n_variants") > 1)
        .orderBy("canonical_url")
    )


def _recall_eval_oracle() -> str:

    return f"""
WITH pred AS (SELECT id_a, id_b FROM ({_minhash_portable_oracle()})),
truth AS (SELECT id_a, id_b FROM ({_JACCARD_ORACLE})),
tp AS (
  SELECT CAST(count(*) AS BIGINT) AS n_tp
  FROM pred p JOIN truth t ON t.id_a = p.id_a AND t.id_b = p.id_b
),
np AS (SELECT CAST(count(*) AS BIGINT) AS n_pred FROM pred),
nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth)
SELECT np.n_pred, nt.n_truth, tp.n_tp,
       floor(CAST(tp.n_tp AS DOUBLE) / nullif(np.n_pred, 0) * 1e6 + 0.5)
         / 1e6 AS precision_s,
       floor(CAST(tp.n_tp AS DOUBLE) / nullif(nt.n_truth, 0) * 1e6 + 0.5)
         / 1e6 AS recall_s
FROM np CROSS JOIN nt CROSS JOIN tp
"""


@register("dedup_minhash_recall_eval", oracle=_recall_eval_oracle())
def dedup_minhash_recall_eval(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Precision/recall of portable banded-MinHash candidates against
    exact trigram-Jaccard ground truth, hash-checked end to end."""
    from ..operators.dedup import minhash_neardup_pairs, ngram_jaccard_pairs

    docs = load(spark, sf_dir, "documents")
    pred = minhash_neardup_pairs(
        docs, num_hashes=32, bands=16, est_threshold=0.5,
        repartition_to=spark.sparkContext.defaultParallelism,
        hash_fn="portable", est_round=None,
    ).select("id_a", "id_b")
    truth = ngram_jaccard_pairs(docs, n=3, threshold=0.6) \
        .select("id_a", "id_b")
    np_ = pred.agg(F.count(F.lit(1)).cast("long").alias("n_pred"))
    nt = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    tp = pred.join(truth, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_tp"))
    return (
        np_.crossJoin(nt).crossJoin(tp)
        .select(
            "n_pred", "n_truth", "n_tp",
            _snap6(F.col("n_tp").cast("double")
                   / F.nullif(F.col("n_pred"), F.lit(0)))
            .alias("precision_s"),
            _snap6(F.col("n_tp").cast("double")
                   / F.nullif(F.col("n_truth"), F.lit(0)))
            .alias("recall_s"),
        )
    )


_SAVINGS_ORACLE = """
WITH fps AS (
  SELECT doc_id, source, length(text) AS chars,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
),
keep AS (SELECT fp, min(doc_id) AS keep_id FROM fps GROUP BY fp)
SELECT f.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN f.doc_id = k.keep_id THEN 0 ELSE 1 END)
            AS BIGINT) AS n_dupes,
       CAST(sum(f.chars) AS BIGINT) AS chars_total,
       CAST(sum(CASE WHEN f.doc_id = k.keep_id THEN 0 ELSE f.chars END)
            AS BIGINT) AS chars_saved,
       floor(CAST(sum(CASE WHEN f.doc_id = k.keep_id
                           THEN 0 ELSE f.chars END) AS DOUBLE)
             / nullif(sum(f.chars), 0) * 1e6 + 0.5) / 1e6
         AS saved_share_s
FROM fps f JOIN keep k ON k.fp = f.fp
GROUP BY f.source
ORDER BY f.source
"""


@register("dedup_savings_report", oracle=_SAVINGS_ORACLE)
def dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate counts and characters saved by the
    canonical-keep policy, saved share snapped into the hash."""
    from ..functions.text import fingerprint

    fps = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.length("text").alias("chars"),
        fingerprint("text").alias("fp"),
    )
    keep = fps.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    dup_chars = F.sum(
        F.when(F.col("doc_id") == F.col("keep_id"), 0)
        .otherwise(F.col("chars")))
    return (
        fps.join(keep, "fp")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("doc_id") == F.col("keep_id"), 0)
                  .otherwise(1)).cast("long").alias("n_dupes"),
            F.sum("chars").cast("long").alias("chars_total"),
            dup_chars.cast("long").alias("chars_saved"),
            _snap6(dup_chars.cast("double")
                   / F.nullif(F.sum("chars"), F.lit(0)))
            .alias("saved_share_s"),
        )
        .orderBy("source")
    )


def _transitivity_oracle() -> str:

    return f"""
WITH pairs AS (SELECT id_a, id_b FROM ({_minhash_portable_oracle()})),
adj AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM pairs
),
paths AS (
  SELECT least(a.v, b.v) AS u, a.u AS mid, greatest(a.v, b.v) AS w
  FROM adj a JOIN adj b ON b.u = a.u AND a.v < b.v
),
closed AS (
  SELECT p.u, p.mid, p.w,
         CASE WHEN e.id_a IS NULL THEN 0 ELSE 1 END AS ok
  FROM paths p LEFT JOIN pairs e ON e.id_a = p.u AND e.id_b = p.w
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_edges,
       CAST(count(*) AS BIGINT) AS n_two_paths,
       CAST(sum(ok) AS BIGINT) AS n_closed,
       floor(CAST(sum(ok) AS DOUBLE) / nullif(count(*), 0) * 1e6 + 0.5)
         / 1e6 AS closure_rate_s
FROM closed
"""


@register("dedup_transitivity_audit", oracle=_transitivity_oracle())
def dedup_transitivity_audit(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Triangle-closure rate of the portable MinHash candidate graph
    -- the chain-link warning before components collapse clusters."""
    from ..operators.dedup import minhash_neardup_pairs

    pairs = minhash_neardup_pairs(
        load(spark, sf_dir, "documents"), num_hashes=32, bands=16,
        est_threshold=0.5,
        repartition_to=spark.sparkContext.defaultParallelism,
        hash_fn="portable", est_round=None,
    ).select("id_a", "id_b").localCheckpoint(eager=True)
    adj = pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")) \
        .unionByName(pairs.select(F.col("id_b").alias("u"),
                                  F.col("id_a").alias("v")))
    a = adj.select(F.col("u").alias("mid"), F.col("v").alias("x"))
    b = adj.select(F.col("u").alias("mid2"), F.col("v").alias("y"))
    paths = (
        a.join(b, (a.mid == b.mid2) & (F.col("x") < F.col("y")))
        .select(F.least("x", "y").alias("u"), "mid",
                F.greatest("x", "y").alias("w"))
    )
    closed = paths.join(
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("w"),
                     F.lit(1).alias("ok")),
        ["u", "w"], "left",
    ).select(F.coalesce("ok", F.lit(0)).alias("ok"))
    n_edges = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        closed.agg(
            F.count(F.lit(1)).cast("long").alias("n_two_paths"),
            F.sum("ok").cast("long").alias("n_closed"),
            _snap6(F.sum("ok").cast("double")
                   / F.nullif(F.count(F.lit(1)), F.lit(0)))
            .alias("closure_rate_s"),
        )
        .crossJoin(F.broadcast(n_edges))
        .select("n_edges", "n_two_paths", "n_closed", "closure_rate_s")
    )


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
