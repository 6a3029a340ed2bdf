"""Training-data curation surface (``curation_``) over ``documents``.

The operators a pre-training data pipeline runs AFTER dedup/quality
scoring and BEFORE the tokenizer: packing documents into fixed token
budgets, decontaminating against held-out benchmarks, Gopher-style
repetition filtering, PII redaction, and domain-mix resampling.
SURVEY.md §2.7 [C] ("LLM-data-pipeline operators"), reference scope:
the diagram's opaque "Python program" validation step
(`Untitled Diagram.drawio:153-154`) generalized to corpus curation.

Every query here carries an exact DuckDB oracle; scale notes per
operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, SparkSession, Window as W

from ..catalog import load
from ..functions.exact import q6, q6 as _q6, snap6 as _snap6
from ..functions.text import md5_bucket, shingles, token_count, tokens
from ..functions.vectors import as_double, dot, l2_norm
from ..operators.skew import spread_input
from ..session import checkpoint
from . import register
from .dedup import NEARDUP_COMPONENTS_CTE


#: Leakage-safe split rule constants: md5(component) into 10 buckets,
#: buckets 0-7 train, 8 validation, 9 test (80/10/10).
SPLIT_N_BUCKETS = 10


SPLIT_TRAIN_LT = 8


SPLIT_VAL_EQ = 8


def split_label(component_col) -> "F.Column":
    """train/validation/test from a near-dup component id -- THE split
    rule, in exactly one place: the split query, the training-mix
    report, the corpus export and the contamination audit all call
    this, so a future re-balance (e.g. 90/5/5) can never change the
    shipped split while the audit silently keeps certifying the old
    one."""
    b = md5_bucket(component_col.cast("string"), SPLIT_N_BUCKETS)
    return (
        F.when(b < SPLIT_TRAIN_LT, "train")
        .when(b == SPLIT_VAL_EQ, "validation")
        .otherwise("test")
    )


#: Tokens per training sequence pack. Small enough that sf0.001's
#: ~1.5k tokens/source still yields multiple packs per source.
PACK_BUDGET = 512


#: doc_id block size for the packing windows' sub-shards. Small here
#: so every fixture SF exercises multiple shards per source;
#: production sizes it so a shard holds ~10^5-10^6 rows (keeping each
#: local sort bounded AND the per-source offset table thousands of
#: rows, not millions).
PACK_SHARD_BLOCK = 128


def _sharded_prev_cum(df: DataFrame, value_col: str,
                      order_cols: list[str]) -> DataFrame:
    """Exclusive running sum of ``value_col`` over (source) in
    ``order_cols`` order, WITHOUT a one-task-per-source window.

    Same two-pass distributed-rank shape as
    ``quality_score_calibration``: rows sub-shard on
    floor(doc_id / PACK_SHARD_BLOCK) (deterministic and monotone in
    the doc_id-major sort order, so shard-local order is global
    order); pass 1 is a per-(source, shard) local cumsum -- parallel,
    each sort bounded by a shard's rows; pass 2 broadcasts the
    per-shard totals' exclusive prefix (a #shards-row table) and adds
    the shard's starting offset back. A giant source therefore packs
    across many tasks instead of serializing through one.

    ``order_cols`` must be doc_id-major (doc_id itself or
    (doc_id, ...)): the shard id derives from doc_id alone.
    """
    local_w = (
        W.partitionBy("source", "__shard").orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    sharded = df.withColumn(
        "__shard", F.floor(F.col("doc_id") / PACK_SHARD_BLOCK)
    )
    local = sharded.withColumn("__lcum", F.sum(value_col).over(local_w))
    # Totals branch reads the PRE-window frame: a map-side partial agg
    # whose shuffle carries one row per (source, shard) -- the second
    # pass of the classic two-pass prefix sum (scan twice, never sort
    # globally). The shard-offset prefix itself runs DISTRIBUTED
    # (round 5): at 128 docs/shard a 1e11-doc source has ~1e9 shard
    # rows, so a per-source offsets window would just recreate the
    # funnel one level up. distributed_prefix_sums gives the global
    # inclusive cumsum over (source, shard); the per-source exclusive
    # offset is that minus the shard's own total minus the source's
    # base -- and the base is min(cum - stot) per source (the value at
    # each source's first shard), one bounded broadcast aggregate.
    from ..operators.ranking import distributed_prefix_sums

    totals = sharded.groupBy("source", "__shard").agg(
        F.sum(value_col).cast("long").alias("__stot")
    )
    cum = distributed_prefix_sums(
        totals, ["source", "__shard"], {"__gcum": "__stot"})
    prev = (F.col("__gcum") - F.col("__stot")).cast("long")
    base = cum.groupBy("source").agg(
        F.min(prev).cast("long").alias("__base"))
    offsets = (
        cum.join(F.broadcast(base), "source")
        .select("source", "__shard",
                (prev - F.col("__base")).cast("long").alias("__off"))
    )
    return (
        local.join(F.broadcast(offsets), ["source", "__shard"])
        .withColumn(
            "prev_cum",
            F.col("__off") + F.col("__lcum") - F.col(value_col),
        )
        .drop("__shard", "__lcum", "__off")
    )


_PACKING_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) - n_tokens AS prev_cum
  FROM t
)
SELECT source,
       CAST(floor(prev_cum / {PACK_BUDGET}.0) AS BIGINT) AS pack_id,
       count(*)                                          AS n_docs,
       CAST(sum(n_tokens) AS BIGINT)                     AS pack_tokens
FROM c
GROUP BY source, pack_id
"""


@register("curation_sequence_packing", oracle=_PACKING_ORACLE)
def curation_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous token-budget packing: within each source (ordered by
    doc_id), a doc joins the pack its starting token offset falls in
    -- pack_id = floor(preceding-token-count / budget). Deterministic,
    order-stable, and expressible as one window + one agg in any
    engine (the oracle is the identical cumsum).

    Scale: the running sum is computed by `_sharded_prev_cum` -- a
    per-(source, doc_id-block) local window plus a broadcast
    shard-offset table -- so a single giant source packs across many
    tasks instead of serializing through one window task. Identical
    output to the naive per-source window (the oracle is exactly
    that), proven by the oracle and the plan-shape test.
    """
    sized = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "source", token_count("text").alias("n_tokens"))
    )
    return (
        _sharded_prev_cum(sized, "n_tokens", ["doc_id"])
        .withColumn(
            "pack_id",
            F.floor(F.col("prev_cum") / F.lit(float(PACK_BUDGET)))
            .cast("long"),
        )
        .groupBy("source", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("pack_tokens"),
        )
    )


_DECON_ORACLE = """
WITH sh AS (
  SELECT doc_id,
         unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                               for i in range(1, len(t) - 1)])) AS gram
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
  WHERE len(t) >= 3
),
bench AS (SELECT DISTINCT gram FROM sh WHERE doc_id % 11 = 0)
SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_hits
FROM sh JOIN bench USING (gram)
WHERE sh.doc_id % 11 <> 0
GROUP BY sh.doc_id
"""


@register("curation_decontaminate", oracle=_DECON_ORACLE)
def curation_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag training docs sharing word n-grams with a benchmark set
    (here: every 11th doc stands in for the held-out benchmark; real
    pipelines pass the eval-set table). Returns (doc_id, n_hits) for
    contaminated docs only -- the removal list.

    Scale: the benchmark's distinct-gram set is small (eval sets are
    MBs even when the corpus is 100 TB), so the overlap test is a
    BROADCAST semi-style join against the corpus gram stream -- the
    corpus is never shuffled; the only wide stage is the per-doc hit
    count, keyed by doc_id (uniform). The real-world n is 8-13-gram;
    the fixture vocabulary is ~30 words, so n=3 keeps the oracle's
    collision rate meaningful at every SF.
    """
    sh = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.explode(shingles("text", 3)).alias("gram"))
    )
    bench = (
        sh.filter(F.col("doc_id") % 11 == 0).select("gram").distinct()
    )
    return (
        sh.filter(F.col("doc_id") % 11 != 0)
        .join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )


_REPETITION_ORACLE = """
WITH g AS (
  SELECT doc_id,
         unnest([array_to_string(t[i:i+1], ' ')
                 for i in range(1, len(t))]) AS gram
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
  WHERE len(t) >= 2
),
c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram)
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_bigrams,
       round(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) / sum(cnt), 6)
           AS dup_fraction,
       sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) / sum(cnt) > 0.3
           AS flagged
FROM c
GROUP BY doc_id
"""


@register("curation_repetition_stats", oracle=_REPETITION_ORACLE)
def curation_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-bigram fraction per doc (the Gopher repetition
    family's "fraction of tokens in repeated n-grams" signal): share
    of bigram OCCURRENCES whose bigram appears more than once in the
    doc, with a >0.3 removal flag.

    Scale: explode -> two-level agg keyed by (doc_id, gram) then
    doc_id -- both uniform keys, map-side partial aggs apply. The
    per-doc alternative (count duplicates inside one higher-order
    lambda) would be shuffle-free but O(len^2) per doc; the relational
    shape stays linear for book-length docs.
    """
    toks = tokens("text")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
    )
    per_gram = (
        load(spark, sf_dir, "documents")
        .filter(F.size(toks) >= 2)
        .select("doc_id", F.explode(grams).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    dup = F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0))
    total = F.sum("cnt")
    return per_gram.groupBy("doc_id").agg(
        total.cast("long").alias("n_bigrams"),
        F.round(dup / total, 6).alias("dup_fraction"),
        (dup / total > 0.3).alias("flagged"),
    )


_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.-]+"


_IP_RE = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"


_PII_ORACLE = f"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || doc_id ||
         '@example.com from 10.0.' || (doc_id % 256) || '.7' AS t
  FROM documents
),
red AS (
  SELECT doc_id, t,
         regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                        '{_IP_RE}', '<IP>', 'g') AS clean
  FROM aug
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(regexp_replace(t, '{_EMAIL_RE}',
                                                  '<EMAIL>', 'g'),
                                   '{_IP_RE}')) AS BIGINT)       AS n_ips,
       CAST(length(clean) AS BIGINT)                             AS clean_len,
       md5(clean)                                                AS clean_fp
FROM red
"""


@register("curation_pii_redaction", oracle=_PII_ORACLE)
def curation_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII scrub (emails, then IPv4s in the email-free text)
    with per-doc audit counts and an md5 fingerprint of the clean
    text. The fixture corpus carries no PII, so each doc gets a
    deterministic synthetic email + IP appended first -- the counts
    then discriminate (>= 1 each) and the redaction is observable.

    Scale: pure map-only narrow plan -- regexes run inside codegen at
    scan speed, no shuffle anywhere. The regex set is the operator's
    config surface; both patterns stay in the RE2-compatible subset so
    the same strings drive Spark (Java regex) and DuckDB (RE2).
    """
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0."),
        (F.col("doc_id") % 256).cast("string"), F.lit(".7"),
    )
    no_email = F.regexp_replace(aug, _EMAIL_RE, "<EMAIL>")
    clean = F.regexp_replace(no_email, _IP_RE, "<IP>")
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.regexp_extract_all(aug, F.lit(_EMAIL_RE), 0))
        .cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(no_email, F.lit(_IP_RE), 0))
        .cast("long").alias("n_ips"),
        F.length(clean).cast("long").alias("clean_len"),
        F.md5(clean).alias("clean_fp"),
    )


_MIX_ORACLE = """
WITH t AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
s AS (
  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens,
         count(*) AS n_docs
  FROM t GROUP BY source
),
r AS (
  SELECT source, src_tokens,
         least(1.0, (sum(src_tokens) OVER () /
                     (count(*) OVER ())) / src_tokens) AS rate
  FROM s
),
kept AS (
  SELECT t.source, t.n_tokens
  FROM t JOIN r USING (source)
  WHERE (((t.doc_id % 1000003) * 2654435761) % 4096) / 4096.0 < r.rate
)
SELECT r.source, r.src_tokens, round(r.rate, 6) AS rate,
       CAST(count(kept.n_tokens) AS BIGINT) AS kept_docs,
       CAST(coalesce(sum(kept.n_tokens), 0) AS BIGINT) AS kept_tokens
FROM r LEFT JOIN kept ON r.source = kept.source
GROUP BY r.source, r.src_tokens, r.rate
"""


@register("curation_domain_mix", oracle=_MIX_ORACLE)
def curation_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Down-sample over-represented domains toward a uniform per-source
    token budget: rate_s = min(1, mean_source_tokens / source_tokens),
    membership decided by a deterministic multiplicative hash of
    doc_id (portable to any engine -- the oracle runs the identical
    arithmetic, unlike xxhash64). Returns the per-source audit:
    (source, src_tokens, rate, kept_docs, kept_tokens).

    Scale: pass 1 is a tiny per-source token agg (rows = #domains);
    the global mean comes from a broadcast cross-join with the 1-row
    total of THAT aggregate -- never an unpartitioned window, never
    the corpus. Pass 2 broadcasts the rate table back and filters at
    scan speed -- the corpus itself is shuffled only for the final
    per-source audit agg (in production the filter feeds the writer
    directly and even that shuffle disappears).
    """
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "source", token_count("text").alias("n_tokens"))
    )
    per_src = docs.groupBy("source").agg(
        F.sum("n_tokens").cast("long").alias("src_tokens")
    )
    totals = per_src.agg(
        F.sum("src_tokens").alias("__tot"),
        F.count(F.lit(1)).alias("__n"),
    )
    rates = per_src.crossJoin(F.broadcast(totals)).select(
        "source", "src_tokens",
        F.least(
            F.lit(1.0),
            (F.col("__tot") / F.col("__n")) / F.col("src_tokens"),
        ).alias("rate"),
    )
    kept = (
        docs.join(F.broadcast(rates.select("source", "rate")), "source")
        .filter(
            # pre-reduce mod a prime so the multiply stays inside
            # int64 at ANY doc_id (DuckDB errors and Spark wraps past
            # 2^63; either way the "identical arithmetic" guarantee
            # would break exactly when the corpus gets large)
            (((F.col("doc_id") % 1000003) * 2654435761) % 4096) / 4096.0
            < F.col("rate")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("kept_docs"),
            F.sum("n_tokens").cast("long").alias("kept_tokens"),
        )
    )
    return (
        rates.join(kept, "source", "left")
        .select(
            "source", "src_tokens", F.round("rate", 6).alias("rate"),
            F.coalesce("kept_docs", F.lit(0)).cast("long")
            .alias("kept_docs"),
            F.coalesce("kept_tokens", F.lit(0)).cast("long")
            .alias("kept_tokens"),
        )
    )


#: Tokens per span window (stride 1).
SPAN_LEN = 10


_SPAN_ORACLE = f"""
WITH w AS (
  SELECT doc_id,
         unnest([array_to_string(t[i:i+{SPAN_LEN - 1}], ' ')
                 for i in range(1, len(t) - {SPAN_LEN - 2})]) AS span
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
  WHERE len(t) >= {SPAN_LEN}
),
flagged AS (
  SELECT doc_id,
         CASE WHEN min(doc_id) OVER (PARTITION BY span)
                <> max(doc_id) OVER (PARTITION BY span)
              THEN 1 ELSE 0 END AS is_shared
  FROM w
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
       CAST(sum(is_shared) AS BIGINT) AS n_shared,
       round(sum(is_shared) / count(*), 6) AS shared_fraction
FROM flagged
GROUP BY doc_id
"""


@register("curation_span_dedup", oracle=_SPAN_ORACLE)
def curation_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc fraction of {SPAN_LEN}-token windows (stride 1) that
    appear verbatim in at least one OTHER document. High fractions
    mark boilerplate/templated docs for span-level scrubbing.

    Scale: one explode + TWO shuffles total -- "shared" is decided
    inside a window over the span partition (min(doc_id) != max(doc_id)
    across the span's rows means another doc has it), so there is no
    span-count aggregate and no join back. Skewed hot spans land in
    one window partition each; at real corpus scale the span string
    would be replaced by its 128-bit hash to narrow the shuffle --
    spelled here so the DuckDB oracle matches bytes.
    """
    from pyspark.sql import Window

    toks = tokens("text")
    spans = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (SPAN_LEN - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, SPAN_LEN)),
    )
    w = (
        load(spark, sf_dir, "documents")
        .filter(F.size(toks) >= SPAN_LEN)
        .select("doc_id", F.explode(spans).alias("span"))
    )
    sw = Window.partitionBy("span")
    flagged = w.withColumn(
        "is_shared",
        (F.min("doc_id").over(sw) != F.max("doc_id").over(sw)).cast("int"),
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_windows"),
            F.sum("is_shared").cast("long").alias("n_shared"),
        )
        .withColumn(
            "shared_fraction",
            F.round(F.col("n_shared") / F.col("n_windows"), 6),
        )
    )


#: Window/stride in whitespace tokens. 64/48 = 25% overlap, small
#: enough that every fixture doc still yields a few chunks.
CHUNK_TOKENS = 64


CHUNK_STRIDE = 48


_CHUNK_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents
),
c AS (
  SELECT doc_id, toks, n,
         unnest(generate_series(
             0, CAST(ceil(greatest(0, n - {CHUNK_TOKENS})
                          / {CHUNK_STRIDE}.0) AS BIGINT))) AS chunk_id
  FROM t
)
SELECT doc_id, chunk_id,
       CAST(least({CHUNK_TOKENS}, n - chunk_id * {CHUNK_STRIDE}) AS BIGINT)
           AS chunk_tokens,
       md5(array_to_string(
           toks[chunk_id * {CHUNK_STRIDE} + 1 :
                least(n, chunk_id * {CHUNK_STRIDE} + {CHUNK_TOKENS})], ' '))
           AS chunk_hash
FROM c
"""


def _chunk_table(spark: SparkSession, sf_dir: str,
                 extra_cols: list[str]) -> DataFrame:
    """THE chunk fan-out both chunk queries share: one row per
    (doc, sliding window), with chunk_id/chunk_tokens plus the doc's
    token array (`toks`, for hashing) and any ``extra_cols`` carried
    through. Chunk i covers tokens [i*stride, i*stride + window); the
    last window starts at the final stride boundary that still has
    unseen tokens, so every token lands in >= 1 chunk and short docs
    yield exactly one. Keeping the boundary arithmetic in one place
    guarantees `curation_chunk_windows` and `curation_chunk_packing`
    can never disagree about what a chunk is."""
    toks = tokens("text")
    n = F.size(toks)
    i_max = F.ceil(
        F.greatest(F.lit(0), n - F.lit(CHUNK_TOKENS))
        / F.lit(float(CHUNK_STRIDE))
    ).cast("int")
    start = F.col("chunk_id").cast("long") * CHUNK_STRIDE
    return (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id", *extra_cols,
            toks.alias("toks"), n.alias("n"),
            F.explode(F.sequence(F.lit(0), i_max)).alias("chunk_id"),
        )
        .select(
            "doc_id", *extra_cols, "toks",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            start.alias("__start"),
            F.least(F.lit(CHUNK_TOKENS), F.col("n") - start).cast("long")
            .alias("chunk_tokens"),
        )
    )


@register("curation_chunk_windows", oracle=_CHUNK_ORACLE)
def curation_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding-window chunks per document (shared fan-out:
    `_chunk_table`).

    The output carries (chunk_tokens, md5(chunk_text)) rather than the
    chunk text itself -- the hash pins the exact chunk content for the
    oracle without hauling long strings through the comparison.

    Scale: map-only (tokenize + sequence + posexplode inside codegen);
    fan-out is ~n_tokens/stride rows per doc with no shuffle at all --
    the one plan shape that is trivially 100 TB-safe. Downstream
    packing/shuffling operates on the chunk rows, which are narrow.
    """
    return _chunk_table(spark, sf_dir, []).select(
        "doc_id", "chunk_id", "chunk_tokens",
        F.md5(
            F.concat_ws(
                " ",
                F.slice(F.col("toks"), F.col("__start").cast("int") + 1,
                        F.lit(CHUNK_TOKENS)),
            )
        ).alias("chunk_hash"),
    )


_CHUNK_PACKING_ORACLE = f"""
WITH t AS (
  SELECT d.doc_id, d.source, string_split(d.text, ' ') AS toks,
         len(string_split(d.text, ' ')) AS n
  FROM documents d
),
chunks AS (
  SELECT doc_id, source,
         unnest(generate_series(
             0, CAST(ceil(greatest(0, n - {CHUNK_TOKENS})
                          / {CHUNK_STRIDE}.0) AS BIGINT))) AS chunk_id,
         n
  FROM t
),
sized AS (
  SELECT doc_id, source, chunk_id,
         least({CHUNK_TOKENS}, n - chunk_id * {CHUNK_STRIDE}) AS chunk_tokens
  FROM chunks
),
cum AS (
  SELECT source, doc_id, chunk_id, chunk_tokens,
         sum(chunk_tokens) OVER (PARTITION BY source
                                 ORDER BY doc_id, chunk_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW)
             - chunk_tokens AS prev_cum
  FROM sized
)
SELECT source,
       CAST(floor(prev_cum / {PACK_BUDGET}.0) AS BIGINT) AS pack_id,
       count(*)                                          AS n_chunks,
       CAST(sum(chunk_tokens) AS BIGINT)                 AS pack_tokens
FROM cum
GROUP BY source, pack_id
"""


@register("curation_chunk_packing", oracle=_CHUNK_PACKING_ORACLE)
def curation_chunk_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack overlapping context-window chunks into fixed token
    budgets: chunk fan-out (map-only, `curation_chunk_windows`'
    shape) feeds the per-source cumulative-sum pack assignment
    (`curation_sequence_packing`'s shape). Composing the two is the
    actual trainer data path; like the sequence packer, the cumsum
    runs through `_sharded_prev_cum`'s sub-sharded windows, so one
    giant source never serializes into a single task."""
    chunks = _chunk_table(spark, sf_dir, ["source"]).select(
        "doc_id", "source", "chunk_id", "chunk_tokens"
    )
    return (
        _sharded_prev_cum(chunks, "chunk_tokens", ["doc_id", "chunk_id"])
        .withColumn(
            "pack_id",
            F.floor(F.col("prev_cum") / F.lit(float(PACK_BUDGET)))
            .cast("long"),
        )
        .groupBy("source", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("chunk_tokens").cast("long").alias("pack_tokens"),
        )
    )


_SPLIT_ORACLE = "WITH RECURSIVE " + NEARDUP_COMPONENTS_CTE + """,
assigned AS (
  SELECT d.doc_id,
         coalesce(c.component_id, d.doc_id) AS component,
         CAST('0x' || substr(md5(CAST(coalesce(c.component_id, d.doc_id)
                                      AS VARCHAR)), 1, 6) AS BIGINT) % 10
             AS bucket
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
)
SELECT doc_id, component,
       CASE WHEN bucket < 8 THEN 'train'
            WHEN bucket = 8 THEN 'validation'
            ELSE 'test' END AS split
FROM assigned
"""


@register("curation_leakage_safe_split", oracle=_SPLIT_ORACLE)
def curation_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.components import connected_components
    from ..operators.dedup import prefix_filter_jaccard_pairs

    docs = load(spark, sf_dir, "documents")
    pairs = prefix_filter_jaccard_pairs(docs, n=3, threshold=0.6)
    cc = connected_components(pairs, "id_a", "id_b")
    comp = (
        docs.select("doc_id")
        .join(cc, docs.doc_id == cc.node, "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("component"),
        )
    )
    return comp.select(
        "doc_id", "component",
        split_label(F.col("component")).alias("split"),
    )


_TRAINING_MIX_ORACLE = "WITH RECURSIVE " + NEARDUP_COMPONENTS_CTE + """,
assigned AS (
  SELECT d.doc_id, d.lang, d.text, d.n_chars,
         coalesce(c.component_id, d.doc_id) AS component,
         CAST('0x' || substr(md5(CAST(coalesce(c.component_id, d.doc_id)
                                      AS VARCHAR)), 1, 6) AS BIGINT) % 10
             AS bucket
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
)
SELECT lang,
       CASE WHEN bucket < 8 THEN 'train'
            WHEN bucket = 8 THEN 'validation'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM assigned
WHERE doc_id = component
GROUP BY 1, 2
"""


@register("curation_training_mix", oracle=_TRAINING_MIX_ORACLE)
def curation_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens
    from ..operators.components import connected_components
    from ..operators.dedup import prefix_filter_jaccard_pairs

    docs = load(spark, sf_dir, "documents")
    pairs = prefix_filter_jaccard_pairs(docs, n=3, threshold=0.6)
    cc = connected_components(pairs, "id_a", "id_b")
    assigned = (
        docs.join(cc, docs.doc_id == cc.node, "left")
        .select(
            "doc_id", "lang", "text", "n_chars",
            F.coalesce("component", "doc_id").alias("component"),
        )
    )
    return (
        assigned.filter(F.col("doc_id") == F.col("component"))
        .select(
            "lang", "n_chars",
            F.size(tokens("text")).alias("__nt"),
            split_label(F.col("component")).alias("split"),
        )
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("__nt").cast("long").alias("n_tokens"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


_CDC_DIVISOR = 16


#: Shared CTE chain producing the CDC chunk table (doc_id, chunk_id,
#: n_tokens, chunk_fp) -- the single SQL source for every oracle that
#: consumes CDC chunks, so the boundary rule cannot fork between them.
_CDC_CTES = f"""
tok AS (
  SELECT doc_id, u.tok AS tok, u.pos AS pos, u.win AS win FROM (
    SELECT doc_id,
           unnest([{{'tok': t[i], 'pos': i,
                     'win': CASE WHEN i >= 2
                                 THEN t[i-1] || ' ' || t[i] END}}
                   for i in range(1, len(t) + 1)]) AS u
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
  )
),
flagged AS (
  SELECT doc_id, tok, pos,
         CASE WHEN win IS NOT NULL
                   AND CAST('0x' || substr(md5(win), 1, 6) AS BIGINT)
                       % {_CDC_DIVISOR} = 0
              THEN 1 ELSE 0 END AS boundary
  FROM tok
),
chunked AS (
  SELECT doc_id, tok, pos,
         sum(boundary) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS chunk_id
  FROM flagged
),
chunks AS (
  SELECT doc_id,
         CAST(coalesce(chunk_id, 0) AS BIGINT) AS chunk_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_fp
  FROM chunked
  GROUP BY doc_id, coalesce(chunk_id, 0)
)"""


_CDC_ORACLE = f"""
WITH {_CDC_CTES}
SELECT doc_id, chunk_id, n_tokens, chunk_fp FROM chunks
"""


@register("curation_cdc_chunks", oracle=_CDC_ORACLE)
def curation_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    boundary = (
        F.col("win").isNotNull()
        & (md5_bucket(F.col("win"), _CDC_DIVISOR) == 0)
    ).cast("int")
    w = (
        W.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    toks = (
        docs.select("doc_id", tokens("text").alias("t"))
        .select("doc_id", "t", F.posexplode("t").alias("pos", "tok"))
        # rolling 2-token window: previous token || current (pos is
        # 0-based, element_at is 1-based, so element_at(t, pos) IS the
        # previous token); null on the first token of a doc.
        .withColumn(
            "win",
            F.when(
                F.col("pos") > 0,
                F.concat_ws(" ", F.element_at("t", F.col("pos")), F.col("tok")),
            ),
        )
        .drop("t")
    )
    chunked = toks.withColumn(
        "chunk_id",
        F.coalesce(F.sum(boundary).over(w), F.lit(0)).cast("long"),
    )
    return (
        chunked.groupBy("doc_id", "chunk_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.md5(F.concat_ws(
                " ", F.array_sort(F.collect_list(F.struct("pos", "tok")))
                .getField("tok")
            )).alias("chunk_fp"),
        )
    )


def _qresample_oracle() -> str:
    from .quality import classifier_score_sql

    score = classifier_score_sql("string_split(text, ' ')")
    return f"""
WITH s AS (
  SELECT doc_id, lang, source, {score} AS score,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT)
             % 1000000 AS coin
  FROM documents
)
SELECT doc_id, lang, source, round(score, 6) AS score
FROM s WHERE coin < score * 1000000
"""


@register("curation_quality_resample", oracle=_qresample_oracle())
def curation_quality_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .quality import classifier_score

    score = classifier_score("text")
    coin = md5_bucket(F.col("doc_id").cast("string"), 1000000)
    return (
        load(spark, sf_dir, "documents")
        .withColumn("__score", score)
        .filter(coin < F.col("__score") * 1000000)
        .select("doc_id", "lang", "source",
                F.round("__score", 6).alias("score"))
    )


_CHUNK_DEDUP_ORACLE = f"""
WITH {_CDC_CTES}
SELECT chunk_fp,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(max(n_tokens) AS BIGINT) AS n_tokens
FROM chunks
GROUP BY chunk_fp
HAVING count(DISTINCT doc_id) >= 2
"""


@register("curation_chunk_dedup_stats", oracle=_CHUNK_DEDUP_ORACLE)
def curation_chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = curation_cdc_chunks(spark, sf_dir)
    return (
        chunks.groupBy("chunk_fp")
        .agg(
            F.count("*").alias("n_copies"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.max("n_tokens").alias("n_tokens"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register("curation_export_corpus", oracle=_TRAINING_MIX_ORACLE)
def curation_export_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import scratch_dir
    from ..operators.components import connected_components
    from ..operators.dedup import prefix_filter_jaccard_pairs
    from ..sinks.versioned import VersionedTable

    docs = load(spark, sf_dir, "documents")
    pairs = prefix_filter_jaccard_pairs(docs, n=3, threshold=0.6)
    cc = connected_components(pairs, "id_a", "id_b")
    assigned = (
        docs.join(cc, docs.doc_id == cc.node, "left")
        .select(
            "doc_id", "lang", "text", "n_chars",
            F.coalesce("component", "doc_id").alias("component"),
        )
    )
    corpus = (
        assigned.filter(F.col("doc_id") == F.col("component"))
        .select(
            "doc_id", "lang", "text", "n_chars",
            split_label(F.col("component")).alias("split"),
        )
        # cluster output files by split so a train-only consumer
        # reads a contiguous file subset
        .repartition("split")
    )
    vt = VersionedTable(spark, scratch_dir("corpus_export", sf_dir))
    vt.publish(corpus)
    return (
        vt.read()
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(tokens("text"))).cast("long").alias("n_tokens"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


_BPE_PACK_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source,
         len(regexp_extract_all(text, '[aeiou]+|[^aeiou ]+')) AS n_pieces
  FROM documents
),
c AS (
  SELECT doc_id, source, n_pieces,
         sum(n_pieces) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) - n_pieces AS prev_cum
  FROM t
)
SELECT source,
       CAST(floor(prev_cum / {PACK_BUDGET}.0) AS BIGINT) AS pack_id,
       count(*)                                          AS n_docs,
       CAST(sum(n_pieces) AS BIGINT)                     AS pack_pieces
FROM c
GROUP BY source, pack_id
"""


@register("curation_packing_bpe_budget", oracle=_BPE_PACK_ORACLE)
def curation_packing_bpe_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import _PIECE_RE

    pieces = F.size(
        F.regexp_extract_all("text", F.lit(_PIECE_RE), 0)
    )
    sized = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "source", pieces.alias("n_pieces"))
    )
    return (
        _sharded_prev_cum(sized, "n_pieces", ["doc_id"])
        .withColumn(
            "pack_id",
            F.floor(F.col("prev_cum") / F.lit(float(PACK_BUDGET))).cast("long"),
        )
        .groupBy("source", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_pieces").cast("long").alias("pack_pieces"),
        )
    )


def _split_audit_oracle() -> str:
    from .dedup import NEARDUP_COMPONENTS_CTE

    return "WITH RECURSIVE " + NEARDUP_COMPONENTS_CTE + """,
assigned AS (
  SELECT d.doc_id,
         CAST('0x' || substr(md5(CAST(coalesce(c.component_id, d.doc_id)
                                      AS VARCHAR)), 1, 6) AS BIGINT) % 10
             AS bucket
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
),
split AS (
  SELECT doc_id,
         CASE WHEN bucket < 8 THEN 'train'
              WHEN bucket = 8 THEN 'validation'
              ELSE 'test' END AS split
  FROM assigned
)
SELECT sa.split AS split_a, sb.split AS split_b,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs p
JOIN split sa ON sa.doc_id = p.id_a
JOIN split sb ON sb.doc_id = p.id_b
GROUP BY sa.split, sb.split
"""


@register("curation_split_contamination_audit",
          oracle=_split_audit_oracle())
def curation_split_contamination_audit(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    from ..operators.components import connected_components
    from ..operators.dedup import prefix_filter_jaccard_pairs

    docs = load(spark, sf_dir, "documents")
    # prefix_filter_jaccard_pairs already returns an eagerly
    # checkpointed pair table, so both consumers below (component
    # build + audit join) read the one materialization
    pairs = prefix_filter_jaccard_pairs(docs, n=3, threshold=0.6)
    cc = connected_components(pairs, "id_a", "id_b")
    split = (
        docs.select("doc_id")
        .join(cc, docs.doc_id == cc.node, "left")
        .select(
            "doc_id",
            split_label(
                F.coalesce(F.col("component"), F.col("doc_id"))
            ).alias("split"),
        )
    )
    sa = split.select(F.col("doc_id").alias("id_a"),
                      F.col("split").alias("split_a"))
    sb = split.select(F.col("doc_id").alias("id_b"),
                      F.col("split").alias("split_b"))
    return (
        pairs.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Per-document repetition statistics (doc_id, top2, tot2, dup3,
    tot3) — shared by `text_repetition_filters` and the capstone gate
    chain (`curation_pretrain_pipeline`) so the gram build and
    the x12/x10 keep-rule inputs live in exactly one Spark site.

    Both n-gram families come from ONE scan/Generate: each doc
    projects a single array of (n, gram) structs (2-grams ++ 3-grams)
    and explodes once — a union of per-n branches would scan the text
    column twice, doubling the dominant IO at corpus scale."""
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))

    def gram_structs(n: int) -> str:
        g = " || ' ' || ".join(f"element_at(t, i + {j})" for j in range(n))
        return (
            f"if(size(t) >= {n}, "
            f"transform(sequence(1, size(t) - {n - 1}), "
            f"i -> named_struct('n', {n}, 'g', {g})), "
            f"cast(array() as array<struct<n:int,g:string>>))"
        )

    cnt = (
        toks.select(
            "doc_id",
            F.explode(
                F.expr(f"{gram_structs(2)} || {gram_structs(3)}")
            ).alias("s"),
        )
        .select("doc_id", F.col("s.n").alias("n"), F.col("s.g").alias("g"))
        .groupBy("doc_id", "n", "g")
        .agg(F.count("*").alias("c"))
    )
    return cnt.groupBy("doc_id").agg(
        F.max(F.when(F.col("n") == 2, F.col("c"))).alias("top2"),
        F.sum(F.when(F.col("n") == 2, F.col("c"))).alias("tot2"),
        F.sum(F.when((F.col("n") == 3) & (F.col("c") > 1), F.col("c"))
              .otherwise(0)).alias("dup3"),
        F.sum(F.when(F.col("n") == 3, F.col("c"))).alias("tot3"),
    )


_DSIR_B = 128


#: unigrams ++ bigrams from the token array `t` -- the ONE gram rule
#: shared by the batch selector and the streaming gate (and replayed
#: verbatim by both oracles). The size guard matters: sequence(1, 0)
#: is the DESCENDING [1, 0] in Spark, not empty like DuckDB's range.
_DSIR_GRAMS_EXPR = (
    "t || if(size(t) >= 2, transform(sequence(1, size(t) - 1), "
    "i -> element_at(t, i) || ' ' || element_at(t, i + 1)), "
    "cast(array() as array<string>))"
)


def _dsir_bucket(col):
    """md5-hex feature bucket in [0, _DSIR_B) -- portable across
    engines (CAST('0x'||substr(md5(g),1,6) AS BIGINT) % B in DuckDB)."""
    return F.pmod(
        F.conv(F.substring(F.md5(col.cast("binary")), 1, 6), 16, 10)
        .cast("long"),
        F.lit(_DSIR_B),
    )


def _dsir_with_grams(df: DataFrame) -> DataFrame:
    return df.withColumn("t", F.split("text", " ")).withColumn(
        "grams", F.expr(_DSIR_GRAMS_EXPR)
    )


_DSIR_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT doc_id, lang, unnest(
    t || coalesce(list_transform(range(1, len(t)),
                                 i -> t[i] || ' ' || t[i + 1]), [])
  ) AS g
  FROM toks
),
feat AS (
  SELECT doc_id, lang,
         CAST('0x' || substr(md5(g), 1, 6) AS BIGINT) % {_DSIR_B} AS b,
         count(*) AS c
  FROM grams GROUP BY 1, 2, 3
),
model AS (
  SELECT b,
         sum(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS ct,
         sum(c) AS cs
  FROM feat GROUP BY b
),
tot AS (SELECT sum(ct) AS t_n, sum(cs) AS s_n FROM model),
ratio AS (
  SELECT b, ln(((ct + 1.0) / (t_n + {_DSIR_B}))
               / ((cs + 1.0) / (s_n + {_DSIR_B}))) AS lr
  FROM model, tot
),
dw AS (
  SELECT f.doc_id,
         list_sum(list(f.c * r.lr ORDER BY f.b)) AS logw
  FROM feat f JOIN ratio r USING (b) GROUP BY f.doc_id
),
sc AS (
  SELECT doc_id, logw,
         logw - ln(-ln(
           (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)
                 AS BIGINT) + 1) / 16777217.0)) AS score
  FROM dw
),
ranked AS (
  SELECT doc_id, logw,
         row_number() OVER (ORDER BY score DESC, doc_id) AS rnk,
         count(*) OVER () AS n
  FROM sc
)
SELECT doc_id,
       floor(logw * 1e4 + 0.5) / 1e4 AS logw,
       (rnk <= CAST(floor(n * 0.25) AS BIGINT)) AS selected
FROM ranked ORDER BY doc_id
"""


@register("curation_dsir_weights", oracle=_DSIR_ORACLE)
def curation_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    B = _DSIR_B
    from ..operators.skew import spread_input

    # spread: single-file source; the gram explode + md5 bucket hash
    # feeding the checkpoint below would serialize onto one core
    docs = spread_input(load(spark, sf_dir, "documents")) \
        .select("doc_id", "lang", "text")
    grams = _dsir_with_grams(docs).select(
        "doc_id", "lang", F.explode("grams").alias("g")
    )
    # feat feeds the model aggregate AND the per-doc fold;
    # materialize so the explode+hash scan runs once
    feat = checkpoint(
        grams.withColumn("b", _dsir_bucket(F.col("g")))
        .groupBy("doc_id", "lang", "b")
        .agg(F.count("*").alias("c"))
    )
    model = feat.groupBy("b").agg(
        F.sum(F.when(F.col("lang") == "en", F.col("c")).otherwise(0))
        .alias("ct"),
        F.sum("c").alias("cs"),
    )
    tot = model.agg(F.sum("ct").alias("t_n"), F.sum("cs").alias("s_n"))
    ratio = model.crossJoin(F.broadcast(tot)).select(
        "b",
        F.log(
            ((F.col("ct") + F.lit(1.0)) / (F.col("t_n") + F.lit(float(B))))
            / ((F.col("cs") + F.lit(1.0)) / (F.col("s_n") + F.lit(float(B))))
        ).alias("lr"),
    )
    ordered_sum = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("b", "term"))),
            lambda s: s.getField("term"),
        ),
        F.lit(0.0), lambda a, x: a + x,
    )
    dw = (
        feat.join(F.broadcast(ratio), "b")
        .select("doc_id", "b", (F.col("c") * F.col("lr")).alias("term"))
        .groupBy("doc_id")
        .agg(ordered_sum.alias("logw"))
    )
    u = (
        (F.conv(F.substring(
            F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 6),
            16, 10).cast("long") + F.lit(1))
        / F.lit(16777217.0)
    )
    sc = checkpoint(dw.select(
        "doc_id", "logw",
        (F.col("logw") - F.log(-F.log(u))).alias("score"),
    ))

    n_docs = sc.count()
    k = int(n_docs * 0.25)
    # threshold = the k-th (score DESC, doc_id ASC) entry, found with
    # TakeOrdered(k) -- no global single-partition window
    kth = (
        sc.select(F.struct(
            (-F.col("score")).alias("neg"), F.col("doc_id").alias("d")
        ).alias("key"))
        .orderBy("key")
        .limit(k)
        .agg(F.max("key").alias("key"))
    )
    return (
        sc.crossJoin(F.broadcast(kth))
        .select(
            "doc_id",
            (F.floor(F.col("logw") * 1e4 + 0.5) / 1e4).alias("logw"),
            (
                (F.lit(k) > 0)
                & (F.struct(
                    (-F.col("score")).alias("neg"),
                    F.col("doc_id").alias("d"),
                ) <= F.col("key"))
            ).alias("selected"),
        )
        .orderBy("doc_id")
    )


_TRAINING_ORDER_ORACLE = """
WITH s AS (
  SELECT doc_id, md5('shuf42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
  FROM documents
),
r AS (
  SELECT doc_id, shuffle_key,
         row_number() OVER (ORDER BY shuffle_key, doc_id) - 1 AS pos
  FROM s
)
SELECT doc_id, shuffle_key, pos, pos % 8 AS shard FROM r
"""


@register("curation_training_order", oracle=_TRAINING_ORDER_ORACLE)
def curation_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    keyed = checkpoint(
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.md5(F.concat(F.lit("shuf42:"), F.col("doc_id").cast("string"))
                  .cast("binary")).alias("shuffle_key"),
        )
        # pin the sampled range boundaries: every consumer below must
        # see ONE partition layout (the calibration precedent)
        .repartitionByRange(8, "shuffle_key", "doc_id")
        .withColumn("__pid", F.spark_partition_id())
        .withColumn(
            "__rn",
            F.row_number().over(
                W.partitionBy("__pid").orderBy("shuffle_key", "doc_id")
            ),
        )
    )
    counts = keyed.groupBy("__pid").agg(F.count(F.lit(1)).alias("__c"))
    wo = W.orderBy("__pid").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.select(
        "__pid", F.coalesce(F.sum("__c").over(wo), F.lit(0)).alias("__off")
    )
    pos = (F.col("__off") + F.col("__rn") - 1).cast("long")
    return (
        keyed.join(F.broadcast(offsets), "__pid")
        .select("doc_id", "shuffle_key", pos.alias("pos"),
                F.pmod(pos, F.lit(8)).alias("shard"))
    )


def _pipeline_oracle() -> str:
    from .quality import classifier_score_sql

    score = classifier_score_sql("string_split(text, ' ')")
    return f"""
WITH toks AS (
  SELECT doc_id, text, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT doc_id, 2 AS n,
         unnest(list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i + 1])) AS g
  FROM toks WHERE len(t) >= 2
  UNION ALL
  SELECT doc_id, 3 AS n,
         unnest(list_transform(range(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))
  FROM toks WHERE len(t) >= 3
),
cnt AS (SELECT doc_id, n, g, count(*) AS c FROM grams GROUP BY 1, 2, 3),
rep AS (
  SELECT doc_id,
         max(CASE WHEN n = 2 THEN c END) AS top2,
         sum(CASE WHEN n = 2 THEN c END) AS tot2,
         sum(CASE WHEN n = 3 AND c > 1 THEN c ELSE 0 END) AS dup3,
         sum(CASE WHEN n = 3 THEN c END) AS tot3
  FROM cnt GROUP BY doc_id
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct([array_to_string(t[i:i+7], ' ')
                               for i in range(1, len(t) - 6)])) AS gram
  FROM toks WHERE len(t) >= 8
),
bench AS (SELECT DISTINCT gram FROM sh WHERE doc_id % 11 = 0),
contam AS (
  SELECT DISTINCT sh.doc_id FROM sh JOIN bench USING (gram)
  WHERE sh.doc_id % 11 <> 0
),
flagged AS (
  SELECT d.doc_id, d.text,
         len(string_split(d.text, ' ')) AS n_tokens,
         COALESCE(r.tot2 IS NOT NULL AND r.tot3 IS NOT NULL
                  AND r.top2 * 12 <= r.tot2 AND r.dup3 * 10 <= r.tot3,
                  FALSE) AS pass_rep,
         d.doc_id % 11 = 0 AS is_bench,
         {score} >= 0.5 AS quality
  FROM documents d LEFT JOIN rep r ON r.doc_id = d.doc_id
),
per_doc AS (
  SELECT doc_id, n_tokens, pass_rep, is_bench, quality,
         doc_id = min(CASE WHEN pass_rep THEN doc_id END) OVER (
           PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ',
                                                'g')))) AS is_primary,
         doc_id IN (SELECT doc_id FROM contam) AS contaminated
  FROM flagged
)
SELECT count(*) AS n_input,
       CAST(sum(n_tokens) AS BIGINT) AS tok_input,
       CAST(sum(CASE WHEN pass_rep THEN 1 ELSE 0 END) AS BIGINT)
         AS n_repetition,
       CAST(sum(CASE WHEN pass_rep THEN n_tokens ELSE 0 END) AS BIGINT)
         AS tok_repetition,
       CAST(sum(CASE WHEN pass_rep AND is_primary THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dedup,
       CAST(sum(CASE WHEN pass_rep AND is_primary AND NOT is_bench
                      AND NOT contaminated THEN 1 ELSE 0 END) AS BIGINT)
         AS n_decontaminated,
       CAST(sum(CASE WHEN pass_rep AND is_primary AND NOT is_bench
                      AND NOT contaminated AND quality
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
       CAST(sum(CASE WHEN pass_rep AND is_primary AND NOT is_bench
                      AND NOT contaminated AND quality
                     THEN n_tokens ELSE 0 END) AS BIGINT) AS tok_final
FROM per_doc
"""


@register("curation_pretrain_pipeline", oracle=_pipeline_oracle())
def curation_pretrain_pipeline(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from ..functions.text import shingles
    from .quality import classifier_score

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    t = tokens("text")

    # repetition stats from the SHARED single-scan builder — the gram
    # build and keep-rule inputs live in one Spark site (above)

    rep = repetition_stats(docs)

    # decontamination flags: the benchmark GRAM set broadcasts
    # (eval-set-bounded at any corpus size), but the contaminated-doc
    # list is corpus-proportional in the worst case, so it joins back
    # by doc_id WITHOUT a forced broadcast — Catalyst/AQE picks the
    # strategy from actual size. n=8 grams: gate semantics need
    # copy-only collisions, see the oracle note.
    sh = docs.select("doc_id", F.explode(shingles("text", 8)).alias("gram"))
    bench = sh.filter(F.col("doc_id") % 11 == 0).select("gram").distinct()
    contam = (
        sh.filter(F.col("doc_id") % 11 != 0)
        .join(F.broadcast(bench), "gram")
        .select("doc_id").distinct()
        .withColumn("contaminated", F.lit(True))
    )

    # stage flags in ONE pass; pass_rep first so the dedup primary can
    # be scoped to repetition SURVIVORS (stage-ordered semantics: the
    # dedup gate sees only what the previous gate kept). Docs too
    # short to measure (no 2- or 3-gram) fail the repetition gate BY
    # POLICY (conservative: unmeasurable -> drop) — the standalone
    # text_repetition_filters emits no row at all for them, so this is
    # an explicit extension, not "the same rule".
    flagged = (
        docs
        .withColumn("n_tokens", F.size(t))
        .withColumn("is_bench", F.col("doc_id") % 11 == 0)
        .withColumn("quality", classifier_score("text") >= 0.5)
        .join(rep, "doc_id", "left")
        .withColumn(
            "pass_rep",
            F.coalesce(
                F.col("tot2").isNotNull() & F.col("tot3").isNotNull()
                & (F.col("top2") * 12 <= F.col("tot2"))
                & (F.col("dup3") * 10 <= F.col("tot3")),
                F.lit(False),
            ),
        )
    )
    # canonical-content dedup: the SAME normalized fingerprint as
    # dedup_exact_fingerprint (functions.text.fingerprint), primary =
    # min doc_id among repetition survivors sharing the fingerprint
    from ..functions.text import fingerprint

    wfp = W.partitionBy(fingerprint(F.col("text")))
    per_doc = (
        flagged
        .withColumn(
            "is_primary",
            F.col("doc_id")
            == F.min(F.when(F.col("pass_rep"), F.col("doc_id"))).over(wfp),
        )
        .join(contam, "doc_id", "left")
        .select(
            "doc_id", "n_tokens", "is_primary", "is_bench", "quality",
            "pass_rep",
            F.coalesce("contaminated", F.lit(False)).alias("contaminated"),
        )
    )
    surv = (F.col("pass_rep") & F.col("is_primary") & ~F.col("is_bench")
            & ~F.col("contaminated"))
    final = surv & F.col("quality")

    def cnt_if(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    def tok_if(cond):
        return F.sum(F.when(cond, F.col("n_tokens")).otherwise(0)).cast("long")

    return per_doc.agg(
        F.count(F.lit(1)).alias("n_input"),
        F.sum("n_tokens").cast("long").alias("tok_input"),
        cnt_if(F.col("pass_rep")).alias("n_repetition"),
        tok_if(F.col("pass_rep")).alias("tok_repetition"),
        cnt_if(F.col("pass_rep") & F.col("is_primary")).alias("n_dedup"),
        cnt_if(surv).alias("n_decontaminated"),
        cnt_if(final).alias("n_final"),
        tok_if(final).alias("tok_final"),
    )


_BUCKETS = (16, 32, 64, 128, 256, 512, 1024)


_LEN_BUCKET_ORACLE = f"""
WITH t AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
),
b AS (
  SELECT doc_id, n_tok,
         CASE {' '.join(f'WHEN n_tok <= {b} THEN {b}' for b in _BUCKETS)}
              ELSE {_BUCKETS[-1]} END AS bucket
  FROM t
)
SELECT CAST(bucket AS INTEGER) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
       CAST(bucket * count(*) AS BIGINT) AS capacity,
       floor((1.0 - sum(n_tok) / CAST(bucket * count(*) AS DOUBLE))
             * 1e6 + 0.5) / 1e6 AS padding_waste
FROM b GROUP BY bucket ORDER BY bucket
"""


@register("curation_length_buckets", oracle=_LEN_BUCKET_ORACLE)
def curation_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign each document to the smallest power-of-two context
    bucket that holds its token count (docs past the largest bucket
    would be chunked upstream -- `curation_chunk_windows` -- so they
    clamp here) and report per-bucket packing economics: docs, real
    tokens, bucket capacity, padding-waste fraction. The batch-shaping
    companion to `curation_sequence_packing`: where packing
    concatenates to fill one context, bucketing groups LIKE-SIZED docs
    so per-batch padding stays bounded without cross-doc attention.

    Scale: map-only bucket assignment fused into the scan + one
    7-group aggregate with map-side combine -- runs at scan speed on
    any corpus size."""
    docs = load(spark, sf_dir, "documents")
    n_tok = F.size(tokens("text"))
    bucket = F.lit(_BUCKETS[-1])
    for b in reversed(_BUCKETS):
        bucket = F.when(n_tok <= b, F.lit(b)).otherwise(bucket)
    g = (
        docs.select(bucket.alias("bucket"), n_tok.alias("n_tok"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("sum_tokens"),
        )
    )
    capacity = F.col("bucket").cast("long") * F.col("n_docs")
    return g.select(
        "bucket", "n_docs", "sum_tokens",
        capacity.alias("capacity"),
        _snap6(F.lit(1.0) - F.col("sum_tokens")
               / capacity.cast("double")).alias("padding_waste"),
    ).orderBy("bucket")


_TB_BUCKETS = 64


_TB_FRACTION = 0.3  # budget = floor(0.3 * corpus tokens)


_TOKEN_BUDGET_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source,
         len(string_split(text, ' ')) AS n_tok,
         len(list_distinct(string_split(text, ' '))) AS n_dist
  FROM documents
),
d AS (
  SELECT *, CAST(n_dist AS DOUBLE) / CAST(n_tok AS DOUBLE) AS density
  FROM t WHERE n_tok > 0
),
c AS (
  SELECT *,
         sum(n_tok) OVER (ORDER BY density DESC, doc_id) AS cum
  FROM d
)
SELECT source,
       CAST(count(*) AS BIGINT)   AS n_selected,
       CAST(sum(n_tok) AS BIGINT) AS sel_tokens,
       floor(min(density) * 1e6 + 0.5) / 1e6 AS min_density
FROM c
WHERE cum <= (SELECT CAST(floor({_TB_FRACTION} * sum(n_tok)) AS BIGINT)
              FROM t WHERE n_tok > 0)
GROUP BY source
ORDER BY source
"""


@register("curation_token_budget_select", oracle=_TOKEN_BUDGET_ORACLE)
def curation_token_budget_select(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Best-density prefix under a 30%-of-corpus token budget,
    reported per source. Admission rule: a doc is selected iff the
    running token total through it (over the density-desc, doc_id-asc
    global order, counting every doc) stays <= budget."""
    docs = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    # Checkpoint the tokenized projection: three consumers follow
    # (budget agg, the per-bucket window, the bucket-total offsets),
    # and without it each one re-tokenizes the full corpus -- the
    # dominant cost at scale. The rows are four narrow columns per doc.
    t = checkpoint(docs.select(
        "doc_id", "source",
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_dist"),
    ).filter(F.col("n_tok") > 0))

    # corpus total -> budget: ONE long of driver state (exact int sum)
    total = t.agg(F.sum("n_tok")).collect()[0][0]
    budget = int(_TB_FRACTION * total)

    d = t.withColumn(
        "density",
        F.col("n_dist").cast("double") / F.col("n_tok").cast("double"),
    ).withColumn(
        # monotone NON-INCREASING density => non-decreasing bucket id;
        # density is in (0, 1], so bucket 0 holds the densest docs
        "__bucket",
        F.least(
            F.lit(_TB_BUCKETS - 1),
            F.floor((F.lit(1.0) - F.col("density")) * _TB_BUCKETS),
        ).cast("int"),
    )

    local_w = (
        W.partitionBy("__bucket")
        .orderBy(F.col("density").desc(), F.col("doc_id").asc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    local = d.withColumn("__lcum", F.sum("n_tok").over(local_w))
    # 64-row exclusive prefix of bucket totals, broadcast back
    off_w = W.orderBy("__bucket").rowsBetween(W.unboundedPreceding, -1)
    offsets = (
        d.groupBy("__bucket").agg(F.sum("n_tok").alias("__btot"))
        .select("__bucket",
                F.coalesce(F.sum("__btot").over(off_w), F.lit(0))
                .alias("__off"))
    )
    cum = local.join(F.broadcast(offsets), "__bucket").withColumn(
        "cum", F.col("__off") + F.col("__lcum")
    )
    return (
        cum.filter(F.col("cum") <= F.lit(budget))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_selected"),
            F.sum("n_tok").alias("sel_tokens"),
            _snap6(F.min("density")).alias("min_density"),
        )
        .orderBy("source")
    )


_DECON_THRESHOLD = 0.35


_SEMANTIC_DECON_ORACLE = f"""
SELECT eval_id, best_train_id, max_cos_s,
       max_cos_s >= {_DECON_THRESHOLD} AS contaminated
FROM (
  SELECT a.vec_id AS eval_id, b.vec_id AS best_train_id,
         round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
               / (sqrt(list_dot_product(a.embedding::DOUBLE[],
                                        a.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(b.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[]))), 6)
           AS max_cos_s,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY round(list_dot_product(a.embedding::DOUBLE[],
                                           b.embedding::DOUBLE[])
                    / (sqrt(list_dot_product(a.embedding::DOUBLE[],
                                             a.embedding::DOUBLE[]))
                       * sqrt(list_dot_product(b.embedding::DOUBLE[],
                                               b.embedding::DOUBLE[]))), 6)
                    DESC, b.vec_id) AS rnk
  FROM embeddings a JOIN embeddings b
    ON a.vec_id % 10 = 0 AND b.vec_id % 10 <> 0
) WHERE rnk = 1
ORDER BY eval_id
"""


@register("curation_semantic_decontaminate",
          oracle=_SEMANTIC_DECON_ORACLE)
def curation_semantic_decontaminate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nearest-train-neighbor cosine per eval vector + contamination
    flag; broadcast-eval x train-scan plan, exact scores."""
    emb = load(spark, sf_dir, "embeddings")
    # norms once per side, not re-folded per (train, eval) pair by
    # cosine() -- same fold/sqrt/division, bit-identical rounded values
    ev = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("eval_id"), as_double("embedding").alias("qv"),
        l2_norm(as_double("embedding")).alias("qn")
    )
    # the scan side carries the |train| x |eval| cosine work: spread a
    # single-file input across the cluster before the broadcast join
    tr = spread_input(emb.filter(F.col("vec_id") % 10 != 0)).select(
        F.col("vec_id").alias("best_train_id"),
        as_double("embedding").alias("cv"),
        l2_norm(as_double("embedding")).alias("cn"),
    )
    scored = tr.crossJoin(F.broadcast(ev)).withColumn(
        "cos_s", F.round(dot(F.col("qv"), F.col("cv"))
                         / (F.col("qn") * F.col("cn")), 6)
    )
    # argmax as an order-independent reduce: struct max takes the
    # highest cosine, then (via the negated id) the SMALLEST train id
    # on ties -- identical to the oracle's (cos DESC, vec_id ASC) rank.
    best = F.max(
        F.struct(F.col("cos_s"), (-F.col("best_train_id")).alias("neg_id"))
    ).alias("best")
    return (
        scored.groupBy("eval_id")
        .agg(best)
        .select(
            "eval_id",
            (-F.col("best.neg_id")).cast("long").alias("best_train_id"),
            F.col("best.cos_s").alias("max_cos_s"),
            (F.col("best.cos_s") >= _DECON_THRESHOLD).alias("contaminated"),
        )
        .orderBy("eval_id")
    )


_CARD_ORACLE = """
WITH base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(sum(length(text)) AS BIGINT) AS total_chars,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
         CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
         CAST(sum(CASE WHEN length(text) < 50 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_short
  FROM documents
),
lm AS (SELECT lang, CAST(count(*) AS BIGINT) AS c FROM documents
       GROUP BY lang),
sm AS (SELECT source, CAST(count(*) AS BIGINT) AS c FROM documents
       GROUP BY source),
hl AS (
  SELECT CAST(sum(CAST(floor(-(CAST(c AS DOUBLE) / base.n_docs)
                             * ln(CAST(c AS DOUBLE) / base.n_docs)
                             * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS hq
  FROM lm, base
),
hs AS (
  SELECT CAST(sum(CAST(floor(-(CAST(c AS DOUBLE) / base.n_docs)
                             * ln(CAST(c AS DOUBLE) / base.n_docs)
                             * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS hq
  FROM sm, base
)
SELECT metric, value_s FROM (
  SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value_s FROM base
  UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM base
  UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM base
  UNION ALL SELECT 'total_chars', CAST(total_chars AS DOUBLE) FROM base
  UNION ALL SELECT 'total_tokens', CAST(total_tokens AS DOUBLE) FROM base
  UNION ALL SELECT 'mean_doc_tokens',
    floor(CAST(total_tokens AS DOUBLE) / n_docs * 1e6 + 0.5) / 1e6
    FROM base
  UNION ALL SELECT 'exact_dup_rate',
    floor((1.0 - CAST(n_unique AS DOUBLE) / n_docs) * 1e6 + 0.5) / 1e6
    FROM base
  UNION ALL SELECT 'short_doc_rate',
    floor(CAST(n_short AS DOUBLE) / n_docs * 1e6 + 0.5) / 1e6 FROM base
  UNION ALL SELECT 'lang_entropy', CAST(hq AS DOUBLE) / 1e6 FROM hl
  UNION ALL SELECT 'source_entropy', CAST(hq AS DOUBLE) / 1e6 FROM hs
)
ORDER BY metric
"""


@register("curation_dataset_card", oracle=_CARD_ORACLE)
def curation_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ten release-card metrics for the documents corpus as a
    (metric, value) table."""
    from ..functions.text import tokens

    docs = load(spark, sf_dir, "documents")
    base = checkpoint(docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
        F.sum(F.size(tokens("text"))).cast("long").alias("total_tokens"),
        F.countDistinct(F.md5("text")).cast("long").alias("n_unique"),
        F.sum(F.when(F.length("text") < 50, 1).otherwise(0)).cast("long")
        .alias("n_short"),
    ))  # feeds every metric + both entropies

    def entropy(col: str):
        cm = docs.groupBy(col).agg(F.count(F.lit(1)).cast("long")
                                   .alias("c"))
        p = F.col("c").cast("double") / F.col("n_docs")
        return (cm.crossJoin(F.broadcast(base.select("n_docs")))
                .agg(F.sum(_q6(-p * F.log(p))).cast("long").alias("hq"))
                .select((F.col("hq").cast("double") / 1e6).alias("h")))

    hl = entropy("lang")
    hs = entropy("source")

    def m(name: str, col):
        return base.select(F.lit(name).alias("metric"),
                           col.cast("double").alias("value_s"))

    rows = (
        m("n_docs", F.col("n_docs"))
        .unionByName(m("n_sources", F.col("n_sources")))
        .unionByName(m("n_langs", F.col("n_langs")))
        .unionByName(m("total_chars", F.col("total_chars")))
        .unionByName(m("total_tokens", F.col("total_tokens")))
        .unionByName(m("mean_doc_tokens",
                       _snap6(F.col("total_tokens").cast("double")
                              / F.col("n_docs"))))
        .unionByName(m("exact_dup_rate",
                       _snap6(1.0 - F.col("n_unique").cast("double")
                              / F.col("n_docs"))))
        .unionByName(m("short_doc_rate",
                       _snap6(F.col("n_short").cast("double")
                              / F.col("n_docs"))))
        .unionByName(hl.select(F.lit("lang_entropy").alias("metric"),
                               F.col("h").alias("value_s")))
        .unionByName(hs.select(F.lit("source_entropy").alias("metric"),
                               F.col("h").alias("value_s")))
    )
    return rows.orderBy("metric")


_FIM_ORACLE = """
WITH base AS (
  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n,
         CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':fim1'),
                                  1, 6) AS BIGINT) % 1000000 AS BIGINT)
           AS c1,
         CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':fim2'),
                                  1, 6) AS BIGINT) % 1000000 AS BIGINT)
           AS c2
  FROM documents
),
cuts AS (
  SELECT doc_id, text, n,
         CASE WHEN n >= 6
              THEN 1 + c1 % CAST(floor(n / 3.0) AS BIGINT) END AS a,
         CASE WHEN n >= 6
              THEN (1 + c1 % CAST(floor(n / 3.0) AS BIGINT)) + 1
                   + c2 % CAST(floor(n / 3.0) AS BIGINT) END AS b
  FROM base
)
SELECT doc_id,
       CASE WHEN a IS NULL THEN 0 ELSE 1 END AS fim_applied,
       CASE WHEN a IS NULL THEN n ELSE a END AS len_prefix,
       CASE WHEN a IS NULL THEN 0 ELSE b - a END AS len_middle,
       CASE WHEN a IS NULL THEN 0 ELSE n - b END AS len_suffix,
       CASE WHEN a IS NULL THEN text
            ELSE '<PRE>' || substr(text, 1, CAST(a AS INTEGER))
                 || '<SUF>' || substr(text, CAST(b + 1 AS INTEGER))
                 || '<MID>'
                 || substr(text, CAST(a + 1 AS INTEGER),
                           CAST(b - a AS INTEGER))
       END AS fim_text,
       CASE WHEN a IS NULL THEN length(text) = n
            ELSE CAST(length('<PRE>' || substr(text, 1, CAST(a AS INTEGER))
                 || '<SUF>' || substr(text, CAST(b + 1 AS INTEGER))
                 || '<MID>'
                 || substr(text, CAST(a + 1 AS INTEGER),
                           CAST(b - a AS INTEGER))) AS BIGINT) = n + 15
       END AS length_conserved
FROM cuts
ORDER BY doc_id
"""


@register("curation_fim_transform", oracle=_FIM_ORACLE)
def curation_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSM fill-in-the-middle re-ordering with md5-deterministic cut
    points, span metadata, and a length-conservation check."""
    docs = load(spark, sf_dir, "documents")
    n = F.length("text").cast("long")
    third = F.floor(n / 3.0).cast("long")
    did = F.col("doc_id").cast("string")
    c1 = md5_bucket(F.concat(did, F.lit(":fim1")), 1000000)
    c2 = md5_bucket(F.concat(did, F.lit(":fim2")), 1000000)
    a = F.when(n >= 6, 1 + c1 % third)
    b = F.when(n >= 6, (1 + c1 % third) + 1 + c2 % third)
    base = docs.select("doc_id", "text", n.alias("n"),
                       a.alias("a"), b.alias("b"))
    aa, bb, nn = F.col("a"), F.col("b"), F.col("n")
    fim = F.concat(
        F.lit("<PRE>"), F.substring(F.col("text"), 1, aa.cast("int")),
        F.lit("<SUF>"),
        F.col("text").substr(bb.cast("int") + 1, nn.cast("int")),
        F.lit("<MID>"),
        F.col("text").substr(aa.cast("int") + 1, (bb - aa).cast("int")),
    )
    return (
        base.select(
            "doc_id",
            F.when(aa.isNull(), 0).otherwise(1).alias("fim_applied"),
            F.when(aa.isNull(), nn).otherwise(aa).cast("long")
            .alias("len_prefix"),
            F.when(aa.isNull(), 0).otherwise(bb - aa).cast("long")
            .alias("len_middle"),
            F.when(aa.isNull(), 0).otherwise(nn - bb).cast("long")
            .alias("len_suffix"),
            F.when(aa.isNull(), F.col("text")).otherwise(fim)
            .alias("fim_text"),
            F.when(aa.isNull(), F.length("text").cast("long") == nn)
            .otherwise(F.length(fim).cast("long") == nn + 15)
            .alias("length_conserved"),
        )
        .orderBy("doc_id")
    )


_OVERSAMPLE_ORACLE = """
WITH cls AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_before
  FROM documents GROUP BY lang
),
tgt AS (SELECT CAST(max(n_before) AS BIGINT) AS t FROM cls),
base AS (
  SELECT c.lang, c.n_before,
         CAST(t.t // c.n_before AS BIGINT) AS k_full,
         CAST(t.t % c.n_before AS BIGINT) AS rem
  FROM cls c CROSS JOIN tgt t
),
ranked AS (
  SELECT d.lang, d.doc_id,
         row_number() OVER (PARTITION BY d.lang
                            ORDER BY md5(CAST(d.doc_id AS VARCHAR)),
                                     d.doc_id) AS rn
  FROM documents d
),
copies AS (
  SELECT r.lang, r.doc_id,
         b.n_before, b.k_full, b.rem,
         CAST(b.k_full + CASE WHEN r.rn <= b.rem THEN 1 ELSE 0 END
              AS BIGINT) AS n_copies
  FROM ranked r JOIN base b ON b.lang = r.lang
)
SELECT lang,
       CAST(max(n_before) AS BIGINT) AS n_before,
       CAST(max(k_full) AS BIGINT) AS k_full,
       CAST(max(rem) AS BIGINT) AS rem,
       CAST(sum(n_copies) AS BIGINT) AS n_after,
       md5(string_agg(lpad(CAST(doc_id AS VARCHAR), 20, '0') || ':'
                      || CAST(n_copies AS VARCHAR), ','
                      ORDER BY doc_id)) AS expansion_md5
FROM copies
GROUP BY lang
ORDER BY lang
"""


@register("curation_oversample_minority", oracle=_OVERSAMPLE_ORACLE)
def curation_oversample_minority(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Replicate every minority class up to the majority count
    (whole copies + md5-ranked remainder); balance sheet and digest
    re-derived from the ACTUAL exploded expansion."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    cls = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_before"))
    tgt = cls.agg(F.max("n_before").cast("long").alias("t"))
    base = cls.crossJoin(F.broadcast(tgt)).select(
        "lang", "n_before",
        F.expr("t div n_before").cast("long").alias("k_full"),
        (F.col("t") % F.col("n_before")).cast("long").alias("rem"),
    )
    # per-lang md5 rank WITHOUT a per-lang window (langs are a small
    # bounded universe; the window form funnels each language's whole
    # corpus through one task's sort)
    from ..operators.ranking import grouped_rank

    ranked = grouped_rank(
        docs.select(
            "lang", "doc_id",
            F.md5(F.col("doc_id").cast("string").cast("binary"))
            .alias("__coin")),
        ["lang"], ["__coin", "doc_id"], "rn",
        # lang: fixed generator enum (5 values) -- skip the probe.
        known_group_count=8).drop("__coin")
    copies = (
        ranked.join(F.broadcast(base), "lang")
        .select(
            "lang", "doc_id", "n_before", "k_full", "rem",
            (F.col("k_full")
             + F.when(F.col("rn") <= F.col("rem"), 1).otherwise(0))
            .cast("long").alias("n_copies"),
        )
    )
    # the REAL generative fan-out: one output row per copy
    expanded = copies.select(
        "lang", "doc_id", "n_before", "k_full", "rem",
        F.explode(F.sequence(F.lit(1), F.col("n_copies")))
        .alias("copy_idx"),
    )
    per_doc = expanded.groupBy(
        "lang", "doc_id", "n_before", "k_full", "rem"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_copies"))
    tag = F.concat(
        F.lpad(F.col("doc_id").cast("string"), 20, "0"),
        F.lit(":"), F.col("n_copies").cast("string"))
    return (
        per_doc.groupBy("lang")
        .agg(
            F.max("n_before").cast("long").alias("n_before"),
            F.max("k_full").cast("long").alias("k_full"),
            F.max("rem").cast("long").alias("rem"),
            F.sum("n_copies").cast("long").alias("n_after"),
            F.md5(F.array_join(
                F.array_sort(F.collect_list(tag)), ",").cast("binary"))
            .alias("expansion_md5"),
        )
        .orderBy("lang")
    )


_SIM_HIST_ORACLE = """
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
),
pairs AS (
  SELECT round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 4) AS j
  FROM inter
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 4) >= 0.5
)
SELECT least(CAST(floor(j * 40) AS BIGINT), 39) AS bucket,
       CAST(count(*) AS BIGINT) AS n_pairs,
       min(j) AS j_min, max(j) AS j_max
FROM pairs
GROUP BY 1 ORDER BY 1
"""


@register("curation_similarity_histogram", oracle=_SIM_HIST_ORACLE)
def curation_similarity_histogram(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Distribution of exact trigram-Jaccard pair similarities >= 0.5
    in 0.025-wide buckets (near-dup threshold tuning data)."""
    from ..operators.dedup import prefix_filter_jaccard_pairs

    pairs = prefix_filter_jaccard_pairs(
        load(spark, sf_dir, "documents"), n=3, threshold=0.5)
    return (
        pairs.groupBy(
            F.least(F.floor(F.col("jaccard") * 40).cast("long"),
                    F.lit(39)).alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
             F.min("jaccard").alias("j_min"),
             F.max("jaccard").alias("j_max"))
        .orderBy("bucket")
    )


_MIX_ALPHA = 0.3


_MIX_K = 10_000


_TEMP_MIX_ORACLE = f"""
WITH cls AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY lang
),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM cls),
w AS (
  SELECT c.lang, c.n_docs,
         floor(CAST(c.n_docs AS DOUBLE) / t.n * 1e6 + 0.5) / 1e6 AS p_s,
         CAST(floor(exp({_MIX_ALPHA}
                        * (floor(ln(CAST(c.n_docs AS DOUBLE) / t.n)
                                 * 1e6 + 0.5) / 1e6))
                    * 1e6 + 0.5) AS BIGINT) AS wq
  FROM cls c CROSS JOIN tot t
),
wtot AS (SELECT CAST(sum(wq) AS BIGINT) AS wt FROM w),
base AS (
  SELECT w.lang, w.n_docs, w.p_s, w.wq,
         CAST(({_MIX_K} * w.wq) // t.wt AS BIGINT) AS floor_q,
         CAST(({_MIX_K} * w.wq) % t.wt AS BIGINT) AS rem
  FROM w CROSS JOIN wtot t
),
quota AS (
  SELECT lang, n_docs, p_s, wq, floor_q,
         CAST(floor_q + CASE WHEN
              row_number() OVER (ORDER BY rem DESC, lang)
              <= {_MIX_K} - (SELECT sum(floor_q) FROM base)
              THEN 1 ELSE 0 END AS BIGINT) AS quota
  FROM base
)
SELECT lang, n_docs, p_s,
       floor(CAST(wq AS DOUBLE) / (SELECT wt FROM wtot) * 1e6 + 0.5)
         / 1e6 AS weight_s,
       quota
FROM quota
ORDER BY lang
"""


@register("curation_temperature_mix", oracle=_TEMP_MIX_ORACLE)
def curation_temperature_mix(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Temperature-scaled (alpha = 0.3) language mixture weights and
    the exact 10,000-slot Hamilton quota per language."""
    from ..operators.sampling import hamilton_quota

    cls = load(spark, sf_dir, "documents").groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"))
    tot = cls.agg(F.sum("n_docs").cast("long").alias("n"))
    w = cls.crossJoin(F.broadcast(tot)).select(
        "lang", "n_docs",
        _snap6(F.col("n_docs").cast("double") / F.col("n")).alias("p_s"),
        F.floor(
            F.exp(_MIX_ALPHA
                  * _snap6(F.log(F.col("n_docs").cast("double")
                                 / F.col("n"))))
            * 1e6 + 0.5).cast("long").alias("wq"),
    )
    # Hamilton on the integer tempered weights: proportional to wq
    quotas = hamilton_quota(
        w.select("lang", F.col("wq").alias("n_docs")),
        _MIX_K, n_col="n_docs", key_cols=("lang",),
    ).select("lang", F.col("quota"))
    wtot = w.agg(F.sum("wq").cast("long").alias("wt"))
    return (
        w.join(quotas, "lang")
        .crossJoin(F.broadcast(wtot))
        .select(
            "lang", "n_docs", "p_s",
            _snap6(F.col("wq").cast("double") / F.col("wt"))
            .alias("weight_s"),
            "quota",
        )
        .orderBy("lang")
    )


_KC_ORACLE = """
WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c0 AS (SELECT v AS v0 FROM c WHERE vec_id = 0),
d1 AS (
  SELECT vec_id,
         CAST(floor(list_dot_product(v, v0)
              / (sqrt(list_dot_product(v, v))
                 * sqrt(list_dot_product(v0, v0))) * 1e6 + 0.5)
           AS BIGINT) AS cos1
  FROM c CROSS JOIN c0 WHERE vec_id <> 0
),
s2 AS (
  SELECT min(d.vec_id) AS vid, min(d.cos1) AS cosv
  FROM d1 d
  JOIN (SELECT min(cos1) AS mn FROM d1) m ON d.cos1 = m.mn
),
v2 AS (SELECT c.v AS v2 FROM c JOIN s2 ON c.vec_id = s2.vid),
d2 AS (
  SELECT d1.vec_id,
         greatest(d1.cos1,
           CAST(floor(list_dot_product(c.v, v2.v2)
                / (sqrt(list_dot_product(c.v, c.v))
                   * sqrt(list_dot_product(v2.v2, v2.v2))) * 1e6 + 0.5)
             AS BIGINT)) AS mx
  FROM d1 JOIN c ON c.vec_id = d1.vec_id
  CROSS JOIN v2 CROSS JOIN s2
  WHERE d1.vec_id <> s2.vid
),
s3 AS (
  SELECT min(d.vec_id) AS vid, min(d.mx) AS cosv
  FROM d2 d
  JOIN (SELECT min(mx) AS mn FROM d2) m ON d.mx = m.mn
)
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS step, CAST(0 AS BIGINT) AS vec_id,
         0.0 AS dist_s
  UNION ALL
  SELECT 2, vid, floor((1.0 - cosv / 1e6) * 1e6 + 0.5) / 1e6 FROM s2
  UNION ALL
  SELECT 3, vid, floor((1.0 - cosv / 1e6) * 1e6 + 0.5) / 1e6 FROM s3
) ORDER BY step
"""


@register("curation_kcenter_coreset", oracle=_KC_ORACLE)
def curation_kcenter_coreset(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Greedy k-center coreset (k = 3, cosine distance) from the
    pinned seed: two exact integer argmin scans."""
    from ..functions.vectors import as_double, cosine

    emb = load(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", as_double("embedding").alias("v"))
    v0 = vecs.where(F.col("vec_id") == 0).select(F.col("v").alias("v0"))
    # feeds s2 argmin AND step 3
    d1 = checkpoint(
        vecs.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(v0))
        .select("vec_id", "v", q6(cosine("v", "v0")).alias("cos1"))
    )

    def argmin(df: DataFrame, val: str) -> DataFrame:
        mn = df.agg(F.min(val).alias("mn"))
        return (
            df.join(F.broadcast(mn), F.col(val) == F.col("mn"))
            .agg(F.min("vec_id").alias("vid"), F.min(val).alias("cosv"))
        )
    s2 = argmin(d1, "cos1")
    v2 = d1.join(F.broadcast(s2), d1["vec_id"] == s2["vid"]) \
        .select(F.col("v").alias("v2"))
    d2 = (
        d1.crossJoin(F.broadcast(v2))
        .crossJoin(F.broadcast(s2.select(F.col("vid").alias("sel2"))))
        .where(F.col("vec_id") != F.col("sel2"))
        .select("vec_id",
                F.greatest("cos1", q6(cosine("v", "v2"))).alias("mx"))
    )
    s3 = argmin(d2, "mx")
    dist = F.floor((1.0 - F.col("cosv") / 1e6) * 1e6 + F.lit(0.5)) / 1e6
    one = spark.range(1).select(
        F.lit(1).cast("long").alias("step"),
        F.lit(0).cast("long").alias("vec_id"),
        F.lit(0.0).alias("dist_s"))
    return (
        one.unionByName(s2.select(F.lit(2).cast("long").alias("step"),
                                  F.col("vid").alias("vec_id"),
                                  dist.alias("dist_s")))
        .unionByName(s3.select(F.lit(3).cast("long").alias("step"),
                               F.col("vid").alias("vec_id"),
                               dist.alias("dist_s")))
        .orderBy("step")
    )


_FL_POOL = 64


_FL_ORACLE = f"""
WITH cand AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id < {_FL_POOL}
),
corpus AS (SELECT vec_id AS xid, embedding::DOUBLE[] AS xv
           FROM embeddings),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM corpus),
sims AS (
  SELECT cid, xid,
         greatest(CAST(floor(list_dot_product(cv, xv)
           / (sqrt(list_dot_product(cv, cv))
              * sqrt(list_dot_product(xv, xv))) * 1e6 + 0.5) AS BIGINT),
           0) AS sq
  FROM cand JOIN corpus ON TRUE
),
t1 AS (SELECT cid, sum(sq) AS tot FROM sims GROUP BY cid),
s1 AS (
  SELECT min(t.cid) AS cid, max(t.tot) AS obj
  FROM t1 t JOIN (SELECT max(tot) AS mx FROM t1) m ON t.tot = m.mx
),
cur1 AS (
  SELECT s.xid, s.sq AS cur FROM sims s JOIN s1 ON s1.cid = s.cid
),
t2 AS (
  SELECT s.cid, sum(greatest(s.sq, c.cur)) AS tot
  FROM sims s JOIN cur1 c ON c.xid = s.xid
  CROSS JOIN s1 WHERE s.cid <> s1.cid
  GROUP BY s.cid
),
s2 AS (
  SELECT min(t.cid) AS cid, max(t.tot) AS obj
  FROM t2 t JOIN (SELECT max(tot) AS mx FROM t2) m ON t.tot = m.mx
),
cur2 AS (
  SELECT c.xid, greatest(c.cur, s.sq) AS cur
  FROM cur1 c JOIN sims s ON s.xid = c.xid
  JOIN s2 ON s2.cid = s.cid
),
t3 AS (
  SELECT s.cid, sum(greatest(s.sq, c.cur)) AS tot
  FROM sims s JOIN cur2 c ON c.xid = s.xid
  CROSS JOIN s1 CROSS JOIN s2
  WHERE s.cid <> s1.cid AND s.cid <> s2.cid
  GROUP BY s.cid
),
s3 AS (
  SELECT min(t.cid) AS cid, max(t.tot) AS obj
  FROM t3 t JOIN (SELECT max(tot) AS mx FROM t3) m ON t.tot = m.mx
)
SELECT step, cid AS vec_id,
       floor(obj / CAST(n.n AS DOUBLE) / 1e6 * 1e6 + 0.5) / 1e6
         AS coverage_s
FROM (SELECT 1 AS step, cid, obj FROM s1
      UNION ALL SELECT 2, cid, obj FROM s2
      UNION ALL SELECT 3, cid, obj FROM s3) u
CROSS JOIN n ORDER BY step
"""


@register("curation_facility_location", oracle=_FL_ORACLE)
def curation_facility_location(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Greedy facility-location selection (k = 3, 64-candidate pool):
    exact integer coverage argmax per step."""
    from ..functions.exact import q6
    from ..functions.vectors import as_double, dot, l2_norm

    emb = load(spark, sf_dir, "embeddings")
    # norms once per vector, not re-folded per (candidate, corpus)
    # pair by cosine() -- same fold/sqrt/division, bit-identical q6
    vecs = emb.select("vec_id", as_double("embedding").alias("v")) \
        .withColumn("vn", l2_norm(F.col("v")))
    cand = vecs.where(F.col("vec_id") < _FL_POOL).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv"),
        F.col("vn").alias("cn"))
    corpus = vecs.select(F.col("vec_id").alias("xid"),
                         F.col("v").alias("xv"),
                         F.col("vn").alias("xn"))
    n_df = corpus.agg(F.count(F.lit(1)).cast("long").alias("n"))
    sims = checkpoint(
        corpus.crossJoin(F.broadcast(cand))
        .select("cid", "xid",
                F.greatest(q6(dot("cv", "xv")
                              / (F.col("cn") * F.col("xn"))), F.lit(0))
                .cast("long").alias("sq"))  # reused by all three steps
    )

    def argmax(tot: DataFrame) -> DataFrame:
        mx = tot.agg(F.max("tot").alias("mx"))
        return (
            tot.join(F.broadcast(mx), F.col("tot") == F.col("mx"))
            .agg(F.min("cid").alias("cid"), F.max("tot").alias("obj"))
        )

    s1 = argmax(sims.groupBy("cid").agg(F.sum("sq").alias("tot")))
    s1k = s1.select(F.col("cid").alias("sel1"))
    cur1 = sims.join(F.broadcast(s1k), sims["cid"] == F.col("sel1")) \
        .select("xid", F.col("sq").alias("cur"))
    t2 = (
        sims.join(F.broadcast(s1k), sims["cid"] == F.col("sel1"),
                  "left_anti")
        .join(cur1, "xid")
        .groupBy("cid").agg(F.sum(F.greatest("sq", "cur")).alias("tot"))
    )
    s2 = argmax(t2)
    s2k = s2.select(F.col("cid").alias("sel2"))
    cur2 = (
        cur1.join(sims.join(F.broadcast(s2k),
                            sims["cid"] == F.col("sel2"))
                  .select("xid", F.col("sq").alias("sq2")), "xid")
        .select("xid", F.greatest("cur", "sq2").alias("cur"))
    )
    t3 = (
        sims.join(F.broadcast(s1k), sims["cid"] == F.col("sel1"),
                  "left_anti")
        .join(F.broadcast(s2k), sims["cid"] == F.col("sel2"),
              "left_anti")
        .join(cur2, "xid")
        .groupBy("cid").agg(F.sum(F.greatest("sq", "cur")).alias("tot"))
    )
    s3 = argmax(t3)
    cov = F.floor(F.col("obj") / F.col("n").cast("double") / 1e6 * 1e6
                  + F.lit(0.5)) / 1e6
    out = (
        s1.select(F.lit(1).cast("long").alias("step"),
                  F.col("cid").alias("vec_id"), "obj")
        .unionByName(s2.select(F.lit(2).cast("long").alias("step"),
                               F.col("cid").alias("vec_id"), "obj"))
        .unionByName(s3.select(F.lit(3).cast("long").alias("step"),
                               F.col("cid").alias("vec_id"), "obj"))
    )
    return out.crossJoin(F.broadcast(n_df)) \
        .select("step", "vec_id", cov.alias("coverage_s")) \
        .orderBy("step")
