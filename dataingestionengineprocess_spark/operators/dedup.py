"""Deduplication operators: exact, keep-latest, MinHash-LSH, SimHash,
n-gram Jaccard.

SURVEY.md §2.2 P3 [C] ("dedup" mandate). Scale design notes:

- *Exact* dedup is a hash shuffle on the fingerprint -- the only way
  to dedup 100 TB, and the shuffle key (md5) is uniform by
  construction, so no skew.
- *MinHash LSH* turns the quadratic all-pairs problem into
  shuffle-on-band-key: each doc emits `bands` rows, docs sharing a
  band bucket meet in one shuffle partition. Candidate verification
  (exact signature agreement / exact Jaccard) happens only within
  buckets. Bucket-size blowup (a degenerate bucket holding 1M docs)
  is the skew hazard; cap with a bucket-size filter.
- *SimHash* pairs use the pigeonhole band trick: hamming(a,b) <= 3
  over 64 bits implies at least one of 4 16-bit chunks is equal, so
  an equi-join on chunks finds all candidates without a cross join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.text import fingerprint, shingles

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(df: DataFrame, key_cols: list[str],
                tiebreak_cols: list[str]) -> DataFrame:
    """Keep exactly one row per key, deterministically (smallest
    tiebreak wins). `dropDuplicates` keeps an arbitrary row; a window
    keeps a *defined* one, which re-runs and oracles both need."""
    w = W.partitionBy(*key_cols).orderBy(*tiebreak_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_exact_text(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Content-exact dedup on the normalized-text fingerprint."""
    return dedup_exact(
        df.withColumn("fp", fingerprint(text_col)), ["fp"], [id_col]
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------


#: Low 32 bits of xxhash64 -- double-hashing operates on 32-bit values
#: so h1 + j*h2 never overflows a long (ANSI mode would raise).
_H32 = (1 << 32) - 1

#: Prime modulus for the double-hash family h_j = (h1 + j*h2) mod p.
#: The mod-by-prime is what makes the 32 derived functions behave as
#: (approximately) independent min-wise permutations; without it the
#: per-j minima all correlate through the element with the smallest h2
#: and the Jaccard estimate collapses to ~1. first prime above 2^32.
_PRIME_ABOVE_2_32 = 4294967311


def _shingle_hashes(df: DataFrame, id_col: str, text_col: str,
                    shingle_n: int, repartition_to: int | None,
                    hash_fn: str = "xxhash") -> DataFrame:
    """One row per (doc, distinct shingle) with two independent 32-bit
    hashes. Each shingle is hashed exactly TWICE no matter how many
    minhash functions derive from it (h_j = h1 + j*h2, the standard
    double-hashing family) -- the naive per-seed rehash costs
    num_hashes full string hashes per shingle.

    ``hash_fn``: "xxhash" (default, JVM-native, fastest) or "portable"
    (first 8 hex digits of md5 -- reproducible in any engine with md5,
    which is what lets `dedup_minhash_portable` carry a full SQL
    replica oracle).

    `repartition_to` spreads small single-split local inputs across
    cores before the (CPU-heavy) shingling projection; leave None on a
    real cluster where the scan is already parallel -- an extra full
    shuffle of raw text at 100 TB would dominate everything else.
    """
    slim = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
    if repartition_to:
        slim = slim.repartition(repartition_to, "id")
    if hash_fn == "portable":
        def h(prefix: str):
            s = F.concat(F.lit(prefix), F.col("__s")) if prefix \
                else F.col("__s")
            return F.conv(
                F.substring(F.md5(s.cast("binary")), 1, 8), 16, 10
            ).cast("long")
        h1, h2 = h(""), h("7:")
    else:
        h1 = F.xxhash64("__s").bitwiseAND(F.lit(_H32))
        h2 = F.xxhash64(F.lit(7), "__s").bitwiseAND(F.lit(_H32))
    return (
        slim.select("id", F.explode(shingles("__t", shingle_n)).alias("__s"))
        .select("id", h1.alias("h1"), h2.alias("h2"))
    )


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", num_hashes: int = 32,
                       shingle_n: int = 3,
                       repartition_to: int | None = None,
                       hash_fn: str = "xxhash") -> DataFrame:
    """id + minhash signature array (length num_hashes).

    Relational plan: explode shingles -> hash once -> groupBy(id) with
    num_hashes `min` aggregates (map-side partial agg, one shuffle on
    the uniform doc id -- no skew). Documents with fewer than
    `shingle_n` tokens produce no shingles and therefore no signature
    (they cannot be near-dup candidates at this shingle size)."""
    hashes = _shingle_hashes(df, id_col, text_col, shingle_n, repartition_to,
                             hash_fn=hash_fn)
    mins = [
        F.min(
            F.pmod(F.col("h1") + j * F.col("h2"), F.lit(_PRIME_ABOVE_2_32))
        ).alias(f"__m{j}")
        for j in range(num_hashes)
    ]
    return (
        hashes.groupBy("id").agg(*mins)
        .select(
            F.col("id").alias(id_col),
            F.array(*[f"__m{j}" for j in range(num_hashes)]).alias("sig"),
        )
    )


def minhash_neardup_pairs(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", num_hashes: int = 32,
                          bands: int = 16, shingle_n: int = 3,
                          est_threshold: float = 0.5,
                          max_bucket: int = 1000,
                          repartition_to: int | None = None,
                          materialize: bool = True,
                          guard_obs=None,
                          hash_fn: str = "xxhash",
                          est_round: int | None = 4) -> DataFrame:
    """Candidate near-dup pairs via banded LSH, scored by estimated
    Jaccard (fraction of agreeing minhashes).

    Returns (id_a, id_b, est_jaccard) with id_a < id_b, est >= threshold.

    ``materialize`` (default on) eagerly localCheckpoints the banded
    signature table before the self-join. The signature pipeline
    (shingle explode + hash + 32-way min agg) is the expensive subtree
    and the downstream plan references it three times (bucket-size
    guard + both join sides); materializing computes it once -- the
    same move a production pipeline makes by persisting its signature
    table before pair generation. Storage is executor-local
    MEMORY_AND_DISK (16 small rows per doc), freed by LRU eviction or
    session end; pass False to keep the operator purely lazy.

    ``guard_obs`` (a ``pyspark.sql.Observation``) surfaces what the
    ``max_bucket`` skew guard removes -- metrics ``dropped_buckets``
    and ``dropped_rows`` accumulate during whatever action executes
    the returned plan (no extra pass). "No silent caps": at 100 TB a
    hot boilerplate template can route millions of docs into one
    degenerate bucket, and an operator that quietly exempts them from
    dedup hides a correctness hole; monitor these metrics and treat
    nonzero drops as a signal to dedup the degenerate content
    upstream (or raise max_bucket).
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_n, repartition_to,
        hash_fn=hash_fn,
    )

    # One transform over the signature array instead of `bands` unrolled
    # hash expressions: identical collision semantics (docs collide iff
    # their band slice is identical) with a fraction of the generated
    # code -- cold plan compile is a visible cost in one-shot runs.
    if hash_fn == "portable":
        # band collision semantics = slice equality; the portable key
        # is the slice itself rendered as a string (engine-neutral),
        # where the default uses a narrower xxhash64 of the slice --
        # the hot path keeps its 8-byte long key (no string cast in
        # the shuffle/join key; the branches never mix)
        band_of = lambda b: F.concat_ws(
            ",", F.slice("sig", b * rows_per_band + 1, rows_per_band)
        )
    else:
        band_of = lambda b: F.xxhash64(
            F.slice("sig", b * rows_per_band + 1, rows_per_band)
        )
    banded = sigs.select(
        id_col, "sig",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)), band_of
            )
        ).alias("band_idx", "band_key"),
    )
    if materialize:
        banded = banded.localCheckpoint(eager=True)
    # Skew guard: drop degenerate buckets (e.g. every empty doc hashes
    # identically) before the self-join blows up quadratically. The
    # per-bucket count uses agg + join-back rather than count-over-
    # window: the agg gets map-side partials and its tiny result
    # broadcasts, where a window would sort every banded row. (Measured
    # on this harness: window variant is ~15% slower end-to-end.)
    bucket_sizes = banded.groupBy("band_idx", "band_key").agg(
        F.count("*").alias("__bn")
    )
    if guard_obs is not None:
        bucket_sizes = bucket_sizes.observe(
            guard_obs,
            F.sum(F.when(F.col("__bn") > max_bucket, 1).otherwise(0))
            .alias("dropped_buckets"),
            F.sum(F.when(F.col("__bn") > max_bucket, F.col("__bn")).otherwise(0))
            .alias("dropped_rows"),
        )
    banded = banded.join(
        bucket_sizes.filter(F.col("__bn") <= max_bucket).drop("__bn"),
        ["band_idx", "band_key"],
    )

    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"),
        "band_idx", "band_key",
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"),
        "band_idx", "band_key",
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        ).cast("double") / F.lit(num_hashes)
    )
    # Score each banded collision immediately, then dedup on the bare
    # (id_a, id_b, est) triple: the per-pair estimate is band-invariant,
    # and dropping the two signature arrays BEFORE dropDuplicates makes
    # its shuffle rows ~50x narrower (a double vs 2 x num_hashes longs).
    return (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        # est is a multiple of 1/num_hashes; with power-of-two
        # num_hashes it is EXACT in double, and est_round=None keeps it
        # that way (rounding a ...5 tie at the 4th decimal is the one
        # place Spark half-up and DuckDB half-even disagree -- the
        # portable oracle query must not round)
        .withColumn(
            "est_jaccard",
            F.round(est, est_round) if est_round is not None else est,
        )
        .filter(F.col("est_jaccard") >= est_threshold)
        .select("id_a", "id_b", "est_jaccard")
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard pairs (the oracle-checkable near-dup operator)
# ---------------------------------------------------------------------------


from .skew import spread_input as _spread_input  # noqa: E402


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.6) -> DataFrame:
    """Exact Jaccard over distinct n-gram shingles, computed
    relationally: explode shingles, equi-join on the shingle, count
    intersections, derive |union| = |A| + |B| - |A∩B|.

    The equi-join on shingle IS the scale trick: only docs sharing at
    least one shingle ever meet, so cost is sum of per-shingle bucket
    sizes squared, not |docs|^2. Hot shingles (boilerplate) are the
    skew risk -- AQE skew-join splits them.
    """
    df = _spread_input(df)
    sh = df.select(
        F.col(id_col).alias("id"), F.explode(shingles(text_col, n)).alias("s")
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))

    a = sh.select(F.col("id").alias("id_a"), "s")
    b = sh.select(F.col("id").alias("id_b"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sz_a = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sz_b = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.join(sz_a, "id_a").join(sz_b, "id_b")
        .withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      threshold: float = 0.8) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs: |A∩B| / min(|A|, |B|).

    The asymmetric companion to :func:`ngram_jaccard_pairs`. Jaccard
    punishes length mismatch -- a paragraph quoted verbatim inside a
    10x longer article scores |A|/(|B|) ~= 0.1 and slips through any
    usable threshold. Containment normalizes by the SMALLER shingle
    set, so subset duplication (quotes, boilerplate wrappers, chunk
    overlap from context-window splitting) scores ~1.0 regardless of
    the length ratio. Standard pairing in web-corpus dedup: Jaccard
    for near-identical pages, containment for embedded copies.

    Same relational scale shape as Jaccard: shingle equi-join (only
    docs sharing a shingle ever meet), AQE skew-split on hot shingles.
    """
    df = _spread_input(df)
    sh = df.select(
        F.col(id_col).alias("id"), F.explode(shingles(text_col, n)).alias("s")
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))

    a = sh.select(F.col("id").alias("id_a"), "s")
    b = sh.select(F.col("id").alias("id_b"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sz_a = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sz_b = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    cont = F.col("n_inter") / F.least("n_a", "n_b")
    return (
        inter.join(sz_a, "id_a").join(sz_b, "id_b")
        .withColumn("containment", F.round(cont, 4))
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash64(text_col: Column | str, shingle_n: int = 3) -> Column:
    """64-bit SimHash over distinct n-gram shingles: bit b is 1 when
    the sum of (+1/-1) votes from each shingle's hash bit b is
    positive. Shingles (not unigrams) carry the signal when the
    vocabulary is small relative to document length."""
    feats = shingles(text_col, shingle_n)
    hashes = F.transform(feats, lambda t: F.xxhash64(t))

    def bit_vote(b: int) -> Column:
        vote = F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        return F.when(vote > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
            F.lit(0).cast("long")
        )

    out = F.lit(0).cast("long")
    for b in range(64):
        out = out.bitwiseOR(bit_vote(b))
    return out


def simhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", shingle_n: int = 3,
                       repartition_to: int | None = None,
                       hash_fn: str = "xxhash") -> DataFrame:
    """(id, sh) via the relational plan: explode shingles, hash each
    ONCE, then 64 conditional-sum bit votes in a single groupBy (one
    shuffle, map-side partial agg). Semantically identical to the
    `simhash64` column expression, but each shingle is hashed once
    instead of once per bit-vote evaluation.

    ``hash_fn="portable"`` derives the 64 hash bits from two md5 hex
    words (bits 32-63 = first 8 hex digits, bits 0-31 = next 8) --
    reproducible in any engine; the DuckDB replica oracle keeps the
    two words separate so it never touches a signed bit 63, which is
    bit-equivalent to this combined form."""
    slim = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
    if repartition_to:
        slim = slim.repartition(repartition_to, "id")
    ex = slim.select(
        "id", F.explode(shingles("__t", shingle_n)).alias("__s")
    )
    if hash_fn == "portable":
        md5h = F.md5(F.col("__s").cast("binary"))
        hi = F.conv(F.substring(md5h, 1, 8), 16, 10).cast("long")
        lo = F.conv(F.substring(md5h, 9, 8), 16, 10).cast("long")
        hashes = ex.select(
            "id", F.shiftleft(hi, 32).bitwiseOR(lo).alias("h")
        )
    else:
        hashes = ex.select("id", F.xxhash64("__s").alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"__v{b}")
        for b in range(64)
    ]
    sh = F.lit(0).cast("long")
    for b in range(64):
        sh = sh.bitwiseOR(
            F.when(
                F.col(f"__v{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
            ).otherwise(F.lit(0).cast("long"))
        )
    return hashes.groupBy("id").agg(*votes).select("id", sh.alias("sh"))


def simhash_neardup_pairs(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text",
                          max_hamming: int = 3,
                          repartition_to: int | None = None,
                          hash_fn: str = "xxhash") -> DataFrame:
    """Pairs with hamming(simhash_a, simhash_b) <= max_hamming via the
    pigeonhole chunk join.

    The chunk count is DERIVED from max_hamming: with
    ``max_hamming + 1`` chunks, at most max_hamming differing bits
    cannot touch every chunk, so >=1 chunk is bit-identical and the
    equi-join on (chunk_idx, chunk_val) finds every qualifying pair --
    complete recall for ANY max_hamming in [0, 63], not just the
    classic 4x16/<=3 configuration. More chunks = more candidate rows
    but smaller per-chunk keys; the default stays the classic 4-chunk
    shape."""
    if not 0 <= max_hamming <= 63:
        raise ValueError(
            f"max_hamming must be in [0, 63], got {max_hamming}"
        )
    n_chunks = max_hamming + 1
    base, rem = divmod(64, n_chunks)
    sizes = [base + 1] * rem + [base] * (n_chunks - rem)
    offsets = [sum(sizes[:c]) for c in range(n_chunks)]
    # Materialize the signatures ONCE before the self-join: the
    # signature subtree (shingle explode + hash + 64 bit-vote
    # aggregate) is the dominant cost and both join sides consume it
    # -- without the checkpoint it executes twice per action (r10
    # phase profile: ~2x the found-pairs cost). The table is one
    # 16-byte (id, sh) row per doc, the cheapest possible proxy to
    # store at any scale.
    sh = simhash_signatures(df, id_col, text_col,
                            repartition_to=repartition_to,
                            hash_fn=hash_fn).localCheckpoint(eager=True)
    def chunk_val(c: int) -> Column:
        v = F.shiftright("sh", offsets[c])
        if sizes[c] < 64:  # 64-bit mask literal would overflow LongType
            v = v.bitwiseAND(F.lit((1 << sizes[c]) - 1))
        return v

    chunks = sh.select(
        "id", "sh",
        F.posexplode(
            F.array(*[chunk_val(c) for c in range(n_chunks)])
        ).alias("chunk_idx", "chunk_val"),
    )
    a = chunks.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"),
                      "chunk_idx", "chunk_val")
    b = chunks.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"),
                      "chunk_idx", "chunk_val")
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, ["chunk_idx", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def prefix_filter_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                                text_col: str = "text", n: int = 3,
                                threshold: float = 0.6) -> DataFrame:
    """Exact shingle-set Jaccard pairs via PREFIX FILTERING (PPJoin
    family): identical output to ``ngram_jaccard_pairs`` with a far
    smaller candidate space.

    Sort each doc's shingles by global rarity (corpus frequency asc,
    shingle asc -- one canonical order everywhere). For Jaccard >= t a
    matching pair MUST share a shingle within each doc's first
    ``|S| - ceil(t|S|) + 1`` shingles (else even perfect agreement on
    the remaining suffix stays below t), so the candidate join only
    explodes the prefix. Rare-first ordering makes those prefix
    shingles the most selective ones: hot boilerplate shingles sort to
    the suffix and never generate candidates -- the skew that plagues
    the all-shingles join is filtered out BY CONSTRUCTION, not capped
    after the fact. Verification computes exact Jaccard on the full
    shingle arrays, so there are no false positives either.

    NOTE: this operator executes EAGERLY at construction (the shared
    shingle-set table is cached for its three references and released
    only after the small pair result is checkpointed); callers that
    only want a plan should use `ngram_jaccard_pairs` (same output,
    lazy).
    """
    df = _spread_input(df)
    # The (id, shingle) explode feeds BOTH the corpus-frequency
    # aggregate and the rarity join below; uncached, the
    # tokenize+shingle+explode subtree executes twice per doc.
    # Cache it so the build pays the derivation once (same lifecycle
    # as toksets: released after the pair result is checkpointed).
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(shingles(text_col, n)).alias("s"),
    ).persist()
    toksets = None
    try:
        freq = sh.groupBy("s").agg(F.count("*").alias("f"))
        by_rarity = sh.join(freq, "s").groupBy("id").agg(
            F.sort_array(F.collect_list(F.struct("f", "s"))).alias("fs")
        )
        # Referenced three times below (prefix explode + both verification
        # sides) -- cache the rarity-sorted sets so the freq-join/
        # collect_list subtree doesn't execute per reference. persist (not
        # localCheckpoint: measured 2.3x faster here -- no eager RDD
        # materialization of the wide arrays); the cache is released below
        # once the (small) pair result is checkpointed.
        toksets = by_rarity.select(
            "id",
            F.transform("fs", lambda x: x.getField("s")).alias("toks"),
            F.size("fs").alias("n"),
        ).persist()
        # The prefix must be PPJoin-safe for every pair the REFERENCE
        # admits. Two corrections to the textbook |S| - ceil(t|S|) + 1:
        # (a) the reference thresholds on round(jac, 4), so pairs with
        #     true jac down to t - 5e-5 qualify -- size the prefix for
        #     that effective threshold;
        # (b) ceil in DOUBLE arithmetic can overshoot when t*n has an
        #     inflated double repr (ceil(0.55*100) == 56), which would
        #     shrink the prefix and drop pairs -- the 1e-9 guard keeps
        #     the ceil exact for thresholds with sane decimal precision.
        t_eff = threshold - 5e-5
        plen = (
            F.col("n")
            - F.ceil(F.lit(t_eff) * F.col("n") - F.lit(1e-9))
            + 1
        ).cast("int")
        # Candidate generation stays NARROW: only (id, prefix-shingle,
        # position, set-size) rows enter the self-join and only
        # (id_a, id_b) pairs get deduplicated -- the full shingle arrays
        # would otherwise ride through two shuffles. Verification re-joins
        # the arrays once per side afterwards (the same narrow-pair-dedup
        # move minhash_neardup_pairs makes).
        pref = toksets.select(
            "id", F.col("n"),
            F.posexplode(F.slice("toks", F.lit(1), plen)).alias("pos0", "p"),
        ).select("id", "n", (F.col("pos0") + 1).alias("pos"), "p")
        a = pref.select(F.col("id").alias("id_a"), F.col("n").alias("pna"),
                        F.col("pos").alias("pia"), "p")
        b = pref.select(F.col("id").alias("id_b"), F.col("n").alias("pnb"),
                        F.col("pos").alias("pib"), "p")
        # Two more PPJoin prunes, both exactness-safe (a qualifying pair's
        # FIRST common token always survives them, see below), applied
        # BEFORE the dedup shuffle so pruned candidates never move:
        # - LENGTH filter: jac <= min(|A|,|B|)/max(|A|,|B|), so a
        #   qualifying pair's sizes are within a factor 1/t_eff.
        # - POSITIONAL filter: toks are in one canonical order, so a match
        #   at positions (i, j) bounds the intersection by
        #   1 + min(|A|-i, |B|-j); a qualifying pair needs
        #   I >= ceil(t_eff*(|A|+|B|)/(1+t_eff))
        #   (jac>=t <=> I>=t*(|A|+|B|)/(1+t)).
        #   For the pair's first common token every common token sits at
        #   or after (i, j), so that row's bound holds and the pair is kept.
        #   The 1e-9 slack keeps both float comparisons conservative.
        alpha = F.ceil(
            F.lit(t_eff) * (F.col("pna") + F.col("pnb")) / F.lit(1.0 + t_eff)
            - F.lit(1e-9)
        )
        ubound = F.lit(1) + F.least(
            F.col("pna") - F.col("pia"), F.col("pnb") - F.col("pib")
        )
        pair_ids = (
            a.join(b, "p")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(
                (F.col("pna") >= F.lit(t_eff) * F.col("pnb") - F.lit(1e-9))
                & (F.col("pnb") >= F.lit(t_eff) * F.col("pna") - F.lit(1e-9))
                & (ubound >= alpha)
            )
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
        cand = (
            pair_ids
            .join(
                toksets.select(F.col("id").alias("id_a"),
                               F.col("toks").alias("toks_a"),
                               F.col("n").alias("na")),
                "id_a",
            )
            .join(
                toksets.select(F.col("id").alias("id_b"),
                               F.col("toks").alias("toks_b"),
                               F.col("n").alias("nb")),
                "id_b",
            )
        )
        inter = F.size(F.array_intersect("toks_a", "toks_b"))
        # Round BEFORE thresholding, exactly like ngram_jaccard_pairs --
        # a pair at jac = t - 0.00004 rounds up into the reference output,
        # so the optimized plan must admit it too.
        jac = F.round(inter / (F.col("na") + F.col("nb") - inter), 4)
        return (
            cand.filter(jac >= threshold)
            .select("id_a", "id_b", jac.alias("jaccard"))
            # Qualifying pairs are tiny relative to the corpus:
            # checkpoint them eagerly so the caches can be dropped
            # below instead of leaking past the operator.
            .localCheckpoint(eager=True)
        )
    finally:
        # released on every exit, a failed build included
        if toksets is not None:
            toksets.unpersist()
        sh.unpersist()


# ---------------------------------------------------------------------------
# Incremental (new-batch vs corpus) near-dup admission
# ---------------------------------------------------------------------------


def build_shingle_index(corpus: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3) -> DataFrame:
    """The corpus side of incremental admission, materialized: one row
    per (shingle, doc) with the doc's total distinct-shingle count
    DENORMALIZED onto every row -- (s, corp_id, n_b).

    At 100 TB this table is built once (or maintained incrementally by
    appending each admitted batch's rows) and partitioned/bucketed by
    ``s``; per-batch admission then never re-shingles or re-scans the
    corpus text at all.
    """
    # Spread before the shingle explode: the corpus side arrives as a
    # single-file scan at fixture scale and the whole explode would
    # otherwise run on ONE task (no-op at real scale, where the corpus
    # already carries >= defaultParallelism partitions).
    sized = _spread_input(corpus).select(
        F.col(id_col).alias("corp_id"),
        shingles(text_col, n).alias("__sh"),
    ).withColumn("n_b", F.size("__sh")).filter(F.col("n_b") > 0)
    return sized.select(
        F.explode("__sh").alias("s"), "corp_id", "n_b"
    )


def incremental_jaccard_admission(corpus: DataFrame | None,
                                  new_docs: DataFrame,
                                  id_col: str = "doc_id",
                                  text_col: str = "text", n: int = 3,
                                  threshold: float = 0.6,
                                  corpus_index: DataFrame | None = None,
                                  ) -> DataFrame:
    """Admit or reject each NEW document against an EXISTING corpus by
    exact n-gram Jaccard -- the daily-crawl shape: dedup cost scales
    with the new batch, never with corpus^2.

    The corpus side is consumed ONLY through its shingle inverted
    index (s, corp_id, n_b): pass ``corpus_index`` (a table built once
    by `build_shingle_index` and reused across batches -- the 100 TB
    deployment) or pass ``corpus`` and the index subtree is built
    inline for this call.

    Returns one row per new doc: (id, status 'admit'|'reject',
    match_id, jaccard) where match_id/jaccard describe the best
    corpus match at or above ``threshold`` (ties -> smallest
    match_id), NULL for admitted docs.

    Scale design -- why incremental is cheap when the corpus is 100 TB
    and the batch is 0.1%:

    - Shingles of the NEW side are small; their distinct set is
      broadcast as a semi-join filter over the index scan, so index
      rows whose shingles appear nowhere in the batch are dropped at
      scan speed and never shuffle (with the index bucketed by ``s``
      this is a partition-pruned point read).
    - The equi-join on the shingle then only moves corpus docs that
      share >= 1 shingle with some new doc; per-pair verification is
      count + size arithmetic over the index's denormalized n_b --
      the corpus text is never touched.
    - Best-match selection is a per-new-doc max_by aggregation, not a
      window over the full pair set.
    """
    if corpus_index is None:
        if corpus is None:
            raise ValueError("pass corpus or corpus_index")
        corpus_index = build_shingle_index(corpus, id_col, text_col, n)

    # The new side is consumed FOUR times (prefix-shingle broadcast,
    # intersection explode, set sizes, final id list) and each
    # consumer used to re-scan new_docs and re-compute shingles().
    # Derive the narrow (new_id, shingle-array, n_a) base ONCE --
    # spread first so the derivation never runs on the one partition a
    # single-file batch scan delivers -- and checkpoint it LAZILY: the
    # first consumer's job materializes it (checkpoint-fusion idiom),
    # the other three read the persisted blocks. 16 B/doc + the
    # shingle array: the cheapest proxy of the batch at any scale.
    base = (
        _spread_input(new_docs.select(F.col(id_col).alias("new_id"),
                                      shingles(text_col, n).alias("__sh")))
        .withColumn("n_a", F.size("__sh"))
        .localCheckpoint(eager=False)
    )
    sh_new = base.select(
        "new_id", F.explode("__sh").alias("s"),
    )
    # Prune the (large) index stream to shingles the batch mentions
    # before any wide join.
    sh_corp = corpus_index.join(
        F.broadcast(sh_new.select("s").distinct()), "s", "left_semi"
    )

    # The NEW side's set sizes are computed MAP-ONLY per doc (size of
    # the shingle array); the corpus side's n_b rides on the index
    # rows, where it was computed at build time from the UNPRUNED
    # shingle sets (counting the pruned stream would inflate jaccard).
    n_new = base.select("new_id", "n_a").filter(F.col("n_a") > 0)

    inter = (
        sh_new.join(sh_corp, "s")
        .groupBy("new_id", "corp_id")
        # n_b is constant per corp_id (denormalized); max() just
        # carries it through the aggregate.
        .agg(F.count("*").alias("n_inter"), F.max("n_b").alias("n_b"))
    )
    jac = F.round(
        F.col("n_inter")
        / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4
    )
    best = (
        inter.join(n_new, "new_id")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .groupBy("new_id")
        .agg(
            # min over struct(-jaccard, corp_id): smallest -jaccard is
            # the HIGHEST jaccard, ties -> smallest corpus id. The
            # negation sits on the numeric score, never on the id, so
            # string doc ids (valid for every other dedup operator)
            # work here too instead of failing under ANSI arithmetic.
            F.min(F.struct((-F.col("jaccard")).alias("nj"),
                           F.col("corp_id")))
            .alias("m"),
        )
        .select(
            "new_id",
            F.col("m.corp_id").alias("match_id"),
            (-F.col("m.nj")).alias("jaccard"),
        )
    )
    return (
        base.select("new_id")
        .join(F.broadcast(best), "new_id", "left")
        .select(
            F.col("new_id").alias(id_col),
            F.when(F.col("match_id").isNull(), F.lit("admit"))
            .otherwise(F.lit("reject")).alias("status"),
            "match_id",
            "jaccard",
        )
    )
