"""Text-analysis query surface (``text_``) over ``documents``.

SURVEY.md §2.7 [C]: token counting, quality scoring, language ID,
document fingerprinting, TF-IDF and BM25 retrieval, BPE training and
encoding, n-gram language models and vocabulary statistics. All
JVM-side built-ins; TF-IDF-style statistics are fully relational
(explode -> agg -> join) rather than MLlib, so they have exact SQL
oracles and scale as ordinary shuffles.
"""

from __future__ import annotations

from pyspark.sql import (
    DataFrame, functions as F, SparkSession, Window, Window as W,
)

from ..catalog import load
from ..functions.exact import q6, q6 as _q6, snap6, snap6 as _snap6
from ..functions.text import (
    avg_token_len, fingerprint, lang_id, quality_score, shingles, STOPWORDS,
    token_count, tokens,
)
from ..operators.skew import spread_input
from ..session import checkpoint, local_frame
from . import register
from .curation import repetition_stats
from .quality import _LEXICON_VALUES, classifier_score, classifier_score_sql


_LANGID_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS dt
  FROM documents
),
scores AS (
  SELECT t.doc_id, t.lang, l.code,
         len(list_filter(t.dt, x -> list_contains(l.words, x))) AS hits
  FROM t, (VALUES {_LEXICON_VALUES}) AS l(code, words)
),
ranked AS (
  SELECT doc_id, lang, code, hits,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY hits DESC, code) AS rn
  FROM scores
)
SELECT doc_id, lang,
       CASE WHEN hits > 0 THEN code ELSE 'und' END AS lang_pred
FROM ranked WHERE rn = 1
"""


@register("text_langid", oracle=_LANGID_ORACLE)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", "lang", lang_id("text").alias("lang_pred"))
    )


_FP_ORACLE = """
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
       substring(md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))), 1, 8) AS fp_prefix
FROM documents
"""


@register("text_fingerprint", oracle=_FP_ORACLE)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    fp = fingerprint("text")
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", fp.alias("fp"), F.substring(fp, 1, 8).alias("fp_prefix"))
    )


_ROLLING_HASH_CERT_ORACLE = """
WITH f AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT text) AS BIGINT) AS n_distinct
  FROM documents
)
SELECT 'corpus_size' AS item, n_docs AS fact, TRUE AS ok FROM f
UNION ALL SELECT 'fingerprint_bijective', n_distinct, TRUE FROM f
ORDER BY item
"""


@register("text_rolling_hash", oracle=_ROLLING_HASH_CERT_ORACLE)
def text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc rolling polynomial fingerprint over xxhash64 token
    hashes -- the deployable content-defined-chunking hash, audited
    as a certificate: distinct(fp) == distinct(text) ==
    distinct(text, fp) proves equal text <=> equal fingerprint
    (collision-free AND deterministic) on the corpus.
    `text_rolling_hash_portable` hash-checks the identical fold with
    md5-derived token hashes value-for-value; the fingerprint surface
    stays available through it and the operator expression here.
    """
    # Per-step modulus keeps acc*31 inside int64 (Spark 4 runs ANSI
    # mode by default: silent wraparound is an overflow error).
    rolling = F.aggregate(
        tokens("text"),
        F.lit(0).cast("long"),
        lambda acc, t: F.pmod(
            acc * 31 + F.pmod(F.xxhash64(t), F.lit(1 << 20)), F.lit(1 << 43)
        ),
    )
    fps = load(spark, sf_dir, "documents").select("text",
                                                  rolling.alias("fp"))
    agg = fps.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("text").alias("d_text"),
        F.countDistinct("fp").alias("d_fp"),
        F.countDistinct("text", "fp").alias("d_both"),
    ).collect()[0]
    rows = [
        ("corpus_size", agg["n_docs"], True),
        ("fingerprint_bijective", agg["d_text"],
         agg["d_fp"] == agg["d_text"] == agg["d_both"]),
    ]
    return local_frame(
        spark, rows, "item string, fact long, ok boolean").orderBy("item")


_TFIDF_ORACLE = """
WITH term AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM term GROUP BY 1, 2),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM term GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * (ln((n.n_docs + 1) / (df.df + 1)) + 1) AS tfidf
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term) AS rnk
  FROM scored
)
SELECT doc_id, term, round(tfidf, 6) AS tfidf, rnk
FROM ranked WHERE rnk <= 3
"""


@register("text_tfidf_top_terms", oracle=_TFIDF_ORACLE)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    n_docs = docs.count()  # scalar; one job, cached by the planner
    term = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = term.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = term.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .withColumn(
            "tfidf",
            F.col("tf") * (F.log((F.lit(n_docs) + 1) / (F.col("df") + 1)) + 1),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", F.round("tfidf", 6).alias("tfidf"), "rnk")
    )


_LENGTH_HIST_ORACLE = """
SELECT CAST(floor(len(string_split(text, ' ')) / 25) * 25 AS BIGINT) AS bucket_lo,
       count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
FROM documents
GROUP BY 1
ORDER BY bucket_lo
"""


@register("text_length_histogram", oracle=_LENGTH_HIST_ORACLE)
def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = token_count("text")
    return (
        load(spark, sf_dir, "documents")
        .select((F.floor(n / 25) * 25).alias("bucket_lo"), n.alias("n"))
        .groupBy("bucket_lo")
        .agg(F.count("*").alias("n_docs"), F.sum("n").alias("total_tokens"))
        .orderBy("bucket_lo")
    )


_BIGRAM_FLUENCY_ORACLE = """
WITH bg AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] AS b
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       LATERAL (SELECT unnest(range(1, len(t))) AS i)
  WHERE len(t) >= 2
),
counts AS (SELECT b, CAST(count(*) AS BIGINT) AS f FROM bg GROUP BY b)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(f) AS BIGINT) AS freq_sum,
       CAST(sum(f) AS DOUBLE) / count(*) AS fluency
FROM bg JOIN counts USING (b)
GROUP BY doc_id
"""


@register("text_bigram_fluency", oracle=_BIGRAM_FLUENCY_ORACLE)
def text_bigram_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import spread_input

    # The bigram explode is consumed TWICE (corpus counts + the
    # per-doc join side) and a single-file source arrives as one
    # partition -- without spreading, both explode passes serialize
    # onto one core (r10 profile: 7 tasks total, ~6 s).
    docs = spread_input(load(spark, sf_dir, "documents"))
    toks = F.split("text", " ")
    bigram = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1)
        ),
    )
    bg = (
        docs.filter(F.size(toks) >= 2)
        .select("doc_id", F.explode(bigram).alias("b"))
    )
    counts = bg.groupBy("b").agg(F.count("*").alias("f"))
    return (
        bg.join(counts, "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("f").alias("freq_sum"),
            (F.sum("f").cast("double") / F.count("*")).alias("fluency"),
        )
    )


_PIECE_RE = "[aeiou]+|[^aeiou ]+"


_BPE_ORACLE = f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT)        AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{_PIECE_RE}')) AS BIGINT)
                                                           AS n_pieces,
       round(CAST(length(text) AS DOUBLE)
             / len(regexp_extract_all(text, '{_PIECE_RE}')), 4)
                                                           AS chars_per_piece
FROM documents
"""


@register("text_bpe_token_estimate", oracle=_BPE_ORACLE)
def text_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + regex subword-piece count per doc --
    the pre-tokenizer half of BPE, which is what a curation pipeline
    needs for token budgeting (the merges half only shifts the count
    by a corpus-constant factor).

    Scale: pure map-only narrow plan; both counts run inside codegen
    at scan speed."""
    pieces = F.regexp_extract_all("text", F.lit(_PIECE_RE), 0)
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        token_count("text").alias("n_ws_tokens"),
        F.size(pieces).cast("long").alias("n_pieces"),
        F.round(F.length("text") / F.size(pieces), 4)
        .alias("chars_per_piece"),
    )


def _bpe_fold_cte(src_seq: str, src_merge: str, out: str) -> str:
    """The recursive left-to-right merge-application fold over a
    (w, freq, s) symbol-sequence CTE: replace each non-overlapping
    adjacent ({src_merge}.l, {src_merge}.r) occurrence with l||r,
    exactly like the trainer's rewrite."""
    return f"""
{out}_f AS (
  SELECT w, freq, s, 1 AS i, CAST([] AS VARCHAR[]) AS acc
  FROM {src_seq}, {src_merge}
  UNION ALL
  SELECT f.w, f.freq, f.s,
    CASE WHEN f.i < len(f.s) AND f.s[f.i] = m.l AND f.s[f.i+1] = m.r
         THEN f.i + 2 ELSE f.i + 1 END,
    list_append(f.acc,
      CASE WHEN f.i < len(f.s) AND f.s[f.i] = m.l AND f.s[f.i+1] = m.r
           THEN m.l || m.r ELSE f.s[f.i] END)
  FROM {out}_f f, {src_merge} m WHERE f.i <= len(f.s)
),
{out} AS (SELECT w, freq, acc AS s FROM {out}_f WHERE i = len(s) + 1)"""


#: shared front half of both BPE oracles: word frequencies, round-0
#: symbol sequences, round-0 pair counts, merge 1, the fold applying
#: merge 1, round-1 pair counts, merge 2.
_BPE_TWO_MERGE_CTES = """
words AS (
  SELECT w, count(*) AS freq FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE w <> '' GROUP BY w
),
seq0 AS (
  SELECT w, freq,
         list_transform(range(1, length(w) + 1),
                        i -> substring(w, CAST(i AS INT), 1)) AS s
  FROM words
),
p1 AS (
  SELECT s[i] AS l, s[i+1] AS r, sum(freq) AS c
  FROM (SELECT freq, s, unnest(range(1, len(s))) AS i FROM seq0)
  GROUP BY 1, 2
),
m1 AS (SELECT l, r, c FROM p1 WHERE c >= 2 ORDER BY c DESC, l, r LIMIT 1),
""" + _bpe_fold_cte("seq0", "m1", "seq1") + """,
p2 AS (
  SELECT s[i] AS l, s[i+1] AS r, sum(freq) AS c
  FROM (SELECT freq, s, unnest(range(1, len(s))) AS i FROM seq1)
  GROUP BY 1, 2
),
m2 AS (SELECT l, r, c FROM p2 WHERE c >= 2 ORDER BY c DESC, l, r LIMIT 1)
"""


_BPE_TRAIN_CERT_ORACLE = "WITH RECURSIVE " + _BPE_TWO_MERGE_CTES + """,
np0 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p1 WHERE c >= 2)
SELECT 'chain_wellformed' AS item, CAST(NULL AS VARCHAR) AS left_sym,
       CAST(NULL AS VARCHAR) AS right_sym, np0.n AS fact, TRUE AS ok
FROM np0
UNION ALL
SELECT 'first_merge', m.l, m.r, CAST(m.c AS BIGINT), m.l IS NOT NULL
FROM (SELECT 1) LEFT JOIN m1 m ON TRUE
UNION ALL
SELECT 'second_merge', m.l, m.r, CAST(m.c AS BIGINT), m.l IS NOT NULL
FROM (SELECT 1) LEFT JOIN m2 m ON TRUE
ORDER BY item
"""


@register("text_bpe_train_merges", oracle=_BPE_TRAIN_CERT_ORACLE)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN a BPE merge table from the corpus (Sennrich 2016: word
    frequencies in one scan, then per-merge rounds over the small
    vocab table only -- operators/bpe.py), audited as a certificate
    (VERDICT r9 #4, formerly rows-only): the oracle independently
    replays the first TWO merges -- round-0 argmax, the left-to-right
    non-overlapping rewrite via a recursive fold, round-1 argmax --
    and the chain_wellformed row carries Spark-side structural checks
    of the whole 24-merge chain (contiguous ranks, operands each a
    corpus character or an earlier merge's output, merged = left ||
    right, pair_freq >= min_freq and NON-INCREASING -- the classic
    BPE invariant: a merge only ever removes pair occurrences or
    creates pairs bounded by the chosen pair's count) anchored to the
    engine-independent round-0 qualifying-pair count. The merge table
    itself stays available via `bpe_train_merges`; full-chain
    equality to the pure-Python reference trainer is pytest-pinned."""
    from ..functions.text import tokens
    from ..operators.bpe import bpe_train_merges

    docs = load(spark, sf_dir, "documents")
    merges = bpe_train_merges(docs, num_merges=24).orderBy("rank").collect()

    # base symbol universe: every character of every non-empty token
    # (same derivation as text_bpe_train_certificate)
    words = checkpoint(
        docs.select(F.explode(tokens("text")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w").agg(F.count("*").alias("freq"))
        .select("freq",
                F.expr("filter(split(w, ''), x -> x != '')").alias("syms"))
    )
    known = {
        r["ch"]
        for r in words.select(F.explode("syms").alias("ch"))
        .distinct().collect()
    }
    from ..operators.bpe import _adjacent_pairs

    n_pairs0 = (
        words.select("freq", F.explode(_adjacent_pairs()).alias("p"))
        .groupBy("p.l", "p.r").agg(F.sum("freq").alias("c"))
        .filter(F.col("c") >= 2)
        .count()
    )

    well_formed = len(merges) == 24
    prev_freq = None
    for i, m in enumerate(merges):
        well_formed &= (
            m["rank"] == i
            and m["left"] in known
            and m["right"] in known
            and m["merged"] == m["left"] + m["right"]
            and m["pair_freq"] >= 2
            and (prev_freq is None or m["pair_freq"] <= prev_freq)
        )
        known.add(m["merged"])
        prev_freq = m["pair_freq"]

    f1 = merges[0] if merges else None
    f2 = merges[1] if len(merges) > 1 else None
    rows = [
        ("chain_wellformed", None, None, n_pairs0, bool(well_formed)),
        ("first_merge",
         f1["left"] if f1 else None, f1["right"] if f1 else None,
         int(f1["pair_freq"]) if f1 else None, f1 is not None),
        ("second_merge",
         f2["left"] if f2 else None, f2["right"] if f2 else None,
         int(f2["pair_freq"]) if f2 else None, f2 is not None),
    ]
    return local_frame(
        spark, rows,
        "item string, left_sym string, right_sym string, "
        "fact long, ok boolean",
    ).orderBy("item")


#: deterministic sample stratum for the encode certificate's replayed
#: digest -- the bounded-audit knob: at 100x corpus scale the modulus
#: rises so the replayed slice stays a fixed budget (the oracle below
#: hardcodes the default, like every other certificate stratum).
_BPE_SAMPLE_MOD = 10


_BPE_ENCODE_CERT_ORACLE = ("WITH RECURSIVE " + _BPE_TWO_MERGE_CTES + ","
                           + _bpe_fold_cte("seq1", "m2", "seq2")) + f""",
tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
enc2 AS (SELECT w, len(s) AS np FROM seq2),
f AS (
  SELECT
    (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
    (SELECT CAST(coalesce(sum(length(w)), 0) AS BIGINT)
     FROM tok WHERE w <> '') AS n_chars,
    (SELECT CAST(count(*) AS BIGINT) FROM tok) AS n_toks,
    (SELECT CAST(coalesce(sum(coalesce(e.np, 0)), 0) AS BIGINT)
     FROM (SELECT w FROM tok WHERE doc_id % {_BPE_SAMPLE_MOD} = 0) t
     LEFT JOIN enc2 e USING (w)) AS n_p2
)
SELECT 'corpus_base_chars' AS item, n_chars AS fact, TRUE AS ok FROM f
UNION ALL SELECT 'encode16_wellformed', n_docs, TRUE FROM f
UNION ALL SELECT 'sample_pieces_2merge', n_p2, TRUE FROM f
UNION ALL SELECT 'tokens_total', n_toks, TRUE FROM f
ORDER BY item
"""


@register("text_bpe_encode", oracle=_BPE_ENCODE_CERT_ORACLE)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-apply BPE (learn 16 merges, encode every document
    via the vocabulary-level kernel + broadcast join-back;
    operators/bpe.py), audited as a certificate (VERDICT r9 #4,
    formerly rows-only):

    - ``sample_pieces_2merge`` is a REPLAYED digest: Spark re-encodes
      the deterministic ``doc_id % 10 == 0`` stratum with the first
      two learned merges and reports total pieces; the oracle derives
      those two merges itself (argmax + recursive-fold rewrite +
      argmax, the train certificate's machinery), applies them with a
      second fold and recomputes the same total -- a full independent
      replay of the encode path for a bounded slice.
    - ``tokens_total`` reports the ENCODE OUTPUT's summed n_tokens
      against the oracle's independent whitespace-token count.
    - ``encode16_wellformed`` pins per-doc conservation bounds of the
      full 16-merge encode (one output row per document; pieces never
      exceed the doc's base characters, never undershoot its
      non-empty token count) to the engine-independent doc count.
    - ``corpus_base_chars`` anchors the weighted base-symbol universe
      both engines derive from the corpus.

    Full train+encode equality to the pure-Python reference stays
    pytest-pinned; the per-doc piece-count surface is available via
    `bpe_encode_counts`."""
    from ..functions.text import tokens
    from ..operators.bpe import bpe_encode_counts, bpe_train_merges

    docs = load(spark, sf_dir, "documents")
    merges = [
        (r.left, r.right)
        for r in bpe_train_merges(docs, num_merges=16).orderBy("rank").collect()
    ]
    enc16 = checkpoint(bpe_encode_counts(docs, merges))
    enc2s = bpe_encode_counts(
        docs.filter(F.col("doc_id") % _BPE_SAMPLE_MOD == 0), merges[:2]
    )

    tokf = docs.select("doc_id", F.explode(tokens("text")).alias("w"))
    aux = tokf.groupBy("doc_id").agg(
        F.coalesce(F.sum(F.when(F.col("w") != "", F.length("w"))), F.lit(0))
        .alias("n_chars_doc"),
        F.sum(F.when(F.col("w") != "", 1).otherwise(0)).alias("n_ne"),
    )
    viol = (
        F.col("n_chars_doc").isNull()
        | (F.col("n_pieces") > F.col("n_chars_doc"))
        | (F.col("n_pieces") < F.col("n_ne"))
    )

    # bounded driver state: scalar facts only, ONE action of
    # cross-joined one-row aggregates (the round-9 kernel layout)
    s = (
        docs.agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(tokf.agg(
            F.count(F.lit(1)).alias("n_toks_ind"),
            F.coalesce(F.sum(F.when(F.col("w") != "", F.length("w"))),
                       F.lit(0)).alias("n_chars")))
        .crossJoin(enc16.agg(
            F.count(F.lit(1)).alias("n_out"),
            F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("n_toks_op")))
        .crossJoin(enc16.join(aux, "doc_id", "left").agg(
            F.sum(F.when(viol, 1).otherwise(0)).alias("n_viol")))
        .crossJoin(enc2s.agg(
            F.coalesce(F.sum("n_pieces"), F.lit(0)).alias("n_p2")))
        .collect()[0]
    )

    ok16 = (s["n_out"] == s["n_docs"] and int(s["n_viol"] or 0) == 0
            and len(merges) == 16)
    rows = [
        ("corpus_base_chars", int(s["n_chars"]), True),
        ("encode16_wellformed", s["n_docs"], bool(ok16)),
        ("sample_pieces_2merge", int(s["n_p2"]), True),
        ("tokens_total", int(s["n_toks_op"]), True),
    ]
    return local_frame(
        spark, rows, "item string, fact long, ok boolean").orderBy("item")


_HH_ORACLE = """
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS item FROM documents
),
tot AS (SELECT count(*) AS n_total FROM toks)
SELECT item AS token, CAST(count(*) AS BIGINT) AS cnt,
       CAST(n_total AS BIGINT) AS n_total
FROM toks, tot
GROUP BY item, n_total
HAVING count(*) >= ceil(0.005 * n_total)
"""


@register("text_heavy_hitter_tokens", oracle=_HH_ORACLE)
def text_heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.heavyhitters import heavy_hitters

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens("text")).alias("token"))
    return heavy_hitters(toks, "token", phi=0.005)


_FERTILITY_ORACLE = f"""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_words,
       CAST(sum(len(regexp_extract_all(text, '{_PIECE_RE}'))) AS BIGINT)
           AS n_pieces,
       floor(CAST(sum(len(regexp_extract_all(text, '{_PIECE_RE}')))
                  AS DOUBLE)
             / sum(len(string_split(text, ' '))) * 1e4 + 0.5) / 1e4
           AS fertility
FROM documents GROUP BY lang
"""


@register("text_fertility_by_lang", oracle=_FERTILITY_ORACLE)
def text_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    pieces = F.size(F.regexp_extract_all("text", F.lit(_PIECE_RE), 0))
    n_words = F.sum(token_count("text")).cast("long")
    n_pieces = F.sum(pieces).cast("long")
    return (
        load(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            n_words.alias("n_words"),
            n_pieces.alias("n_pieces"),
            (F.floor(
                n_pieces.cast("double") / n_words * 1e4 + 0.5
            ) / 1e4).alias("fertility"),
        )
    )


_UNIGRAM_LOGPROB_ORACLE = """
WITH tok AS (
  SELECT doc_id, u.tok AS tok, u.pos AS pos FROM (
    SELECT doc_id,
           unnest([{'tok': t[i], 'pos': i} for i in range(1, len(t) + 1)]) AS u
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
),
vocab AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tok),
scored AS (
  SELECT t.doc_id, t.pos, ln(v.c / tot.n) AS logp
  FROM tok t JOIN vocab v USING (tok), tot
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       floor(list_sum(list(logp ORDER BY pos)) / count(*) * 1e4 + 0.5) / 1e4
           AS avg_logp
FROM scored GROUP BY doc_id
"""


@register("text_unigram_logprob", oracle=_UNIGRAM_LOGPROB_ORACLE)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    vocab = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = tok.agg(F.count(F.lit(1)).cast("double").alias("n"))
    scored = (
        tok.join(F.broadcast(vocab), "tok")
        .crossJoin(F.broadcast(total))
        .select("doc_id", "pos", F.log(F.col("c") / F.col("n")).alias("logp"))
    )
    ordered_sum = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "logp"))),
            lambda s: s.getField("logp"),
        ),
        F.lit(0.0), lambda a, x: a + x,
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.floor(ordered_sum / F.count(F.lit(1)) * 1e4 + 0.5) / 1e4)
            .alias("avg_logp"),
        )
    )


_ROLLING_PORTABLE_ORACLE = f"""
SELECT doc_id,
       list_reduce(
         list_prepend(0, list_transform(string_split(text, ' '),
             t -> CAST('0x' || substr(md5(t), 1, 5) AS BIGINT))),
         (a, x) -> (a * 31 + x) % {1 << 43}
       ) AS rolling_fp
FROM documents
"""


@register("text_rolling_hash_portable", oracle=_ROLLING_PORTABLE_ORACLE)
def text_rolling_hash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    rolling = F.aggregate(
        tokens("text"),
        F.lit(0).cast("long"),
        lambda acc, t: F.pmod(
            acc * 31
            + F.conv(
                F.substring(F.md5(t.cast("binary")), 1, 5), 16, 10
            ).cast("long"),
            F.lit(1 << 43),
        ),
    )
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", rolling.alias("rolling_fp"))
        .orderBy("doc_id")
    )


_SW_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


_TOKEN_ORACLE = f"""
SELECT doc_id, lang,
       len(string_split(text, ' '))                        AS n_tokens,
       len(list_distinct(string_split(text, ' ')))         AS n_distinct,
       round(list_sum(list_transform(string_split(text, ' '),
                                     t -> CAST(len(t) AS DOUBLE)))
             / len(string_split(text, ' ')), 6)            AS avg_tok_len,
       CAST(len(list_filter(string_split(text, ' '),
                            t -> t IN ({_SW_SQL}))) AS BIGINT) AS n_stopwords,
       CAST(length(text) AS BIGINT)                        AS n_chars_actual
FROM documents
"""


@register("text_token_stats", oracle=_TOKEN_ORACLE)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = tokens("text")
    return (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id", "lang",
            token_count("text").alias("n_tokens"),
            F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
            F.round(avg_token_len("text"), 6).alias("avg_tok_len"),
            F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
            .cast("long").alias("n_stopwords"),
            F.length("text").cast("long").alias("n_chars_actual"),
        )
    )


_QUALITY_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, source,
         len(string_split(text, ' ')) AS n,
         len(list_filter(string_split(text, ' '), t -> t IN ({_SW_SQL})))
             / len(string_split(text, ' ')) AS sw,
         list_sum(list_transform(string_split(text, ' '),
                                 t -> CAST(len(t) AS DOUBLE)))
             / len(string_split(text, ' ')) AS alen
  FROM documents
)
SELECT doc_id, lang, source,
       round(0.4 * least(n / 50.0, 1.0)
             + 0.3 * (1.0 - abs(sw - 0.10) / 0.9)
             + 0.3 * (1.0 - least(abs(alen - 5.0) / 5.0, 1.0)), 6) AS quality
FROM t
"""


@register("text_quality_score", oracle=_QUALITY_ORACLE)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id", "lang", "source",
            F.round(quality_score("text"), 6).alias("quality"),
        )
    )


_CURATION_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, source, text,
         len(string_split(text, ' ')) AS n,
         len(list_filter(string_split(text, ' '), t -> t IN ({_SW_SQL})))
             / len(string_split(text, ' ')) AS sw,
         list_sum(list_transform(string_split(text, ' '),
                                 t -> CAST(len(t) AS DOUBLE)))
             / len(string_split(text, ' ')) AS alen
  FROM documents
),
scored AS (
  SELECT doc_id, lang, source, text, CAST(n AS BIGINT) AS n_tokens,
         round(0.4 * least(n / 50.0, 1.0)
               + 0.3 * (1.0 - abs(sw - 0.10) / 0.9)
               + 0.3 * (1.0 - least(abs(alen - 5.0) / 5.0, 1.0)), 6) AS quality
  FROM t
),
deduped AS (
  SELECT *, row_number() OVER (
    PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
    ORDER BY doc_id) AS rn
  FROM scored
  WHERE quality >= 0.5 AND n_tokens >= 10
)
SELECT lang, source,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(avg(quality), 4) AS avg_quality
FROM deduped
WHERE rn = 1
GROUP BY lang, source
ORDER BY lang, source
"""


@register("text_corpus_curation", oracle=_CURATION_ORACLE)
def text_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    scored = (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id", "lang", "source", "text",
            token_count("text").alias("n_tokens"),
            F.round(quality_score("text"), 6).alias("quality"),
        )
        .filter((F.col("quality") >= 0.5) & (F.col("n_tokens") >= 10))
    )
    w = Window.partitionBy(fingerprint("text")).orderBy("doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("quality"), 4).alias("avg_quality"),
        )
        .orderBy("lang", "source")
    )


_CLS_SCORE = classifier_score_sql("toks")


_CLS_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
)
SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tokens,
       round({_CLS_SCORE}, 6) AS score,
       ({_CLS_SCORE} >= 0.5) AS keep
FROM t WHERE len(toks) >= 1
"""


# ``text_classifier_score``: fastText-shaped linear classifier
# INFERENCE over hashed token buckets -- the quality/domain gate every
# web-scale corpus pass runs. Map-only: zero shuffles.
@register("text_classifier_score", oracle=_CLS_ORACLE)
def text_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = tokens("text")
    score = classifier_score("text")
    return (
        load(spark, sf_dir, "documents")
        .filter(F.size(toks) >= 1)
        .select(
            "doc_id", "lang",
            F.size(toks).cast("long").alias("n_tokens"),
            F.round(score, 6).alias("score"),
            (score >= 0.5).alias("keep"),
        )
    )


_PMI_ORACLE = """
WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
uni AS (SELECT unnest(t) AS w FROM toks),
ucnt AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
utot AS (SELECT count(*) AS n_uni FROM uni),
big AS (
  SELECT unnest([t[i] || ' ' || t[i + 1] for i in range(1, len(t))]) AS bg
  FROM toks WHERE len(t) >= 2
),
bcnt AS (SELECT bg, count(*) AS c_xy FROM big GROUP BY bg),
btot AS (SELECT count(*) AS n_big FROM big)
SELECT w1, w2, c_xy, pmi FROM (
  SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
         CAST(c_xy AS BIGINT) AS c_xy,
         round(ln(c_xy) + 2 * ln(n_uni) - ln(n_big) - ln(u1.c) - ln(u2.c), 6)
             AS pmi
  FROM bcnt CROSS JOIN utot CROSS JOIN btot
  JOIN ucnt u1 ON u1.w = split_part(bg, ' ', 1)
  JOIN ucnt u2 ON u2.w = split_part(bg, ' ', 2)
  WHERE c_xy >= 5
)
ORDER BY pmi DESC, w1, w2 LIMIT 50
"""


# ``text_pmi_bigrams``: pointwise mutual information collocations --
# the classic association-mining pass over a tokenized corpus.
@register("text_pmi_bigrams", oracle=_PMI_ORACLE)
def text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(tokens("text").alias("t"))
    uni = docs.select(F.explode("t").alias("w"))
    ucnt = uni.groupBy("w").agg(F.count("*").alias("c"))
    utot = uni.agg(F.count("*").alias("n_uni"))
    bigrams = (
        docs.filter(F.size("t") >= 2)
        .select(
            F.explode(F.expr(
                "transform(slice(t, 1, size(t) - 1),"
                " (x, i) -> struct(x AS w1, t[i + 1] AS w2))"
            )).alias("bg")
        )
        .select("bg.w1", "bg.w2")
    )
    bcnt = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c_xy"))
    btot = bigrams.agg(F.count("*").alias("n_big"))
    pmi = F.round(
        F.log("c_xy") + 2 * F.log("n_uni") - F.log("n_big")
        - F.log("c1") - F.log("c2"),
        6,
    )
    return (
        bcnt.filter(F.col("c_xy") >= 5)
        .join(ucnt.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(ucnt.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(utot))
        .crossJoin(F.broadcast(btot))
        .select("w1", "w2", "c_xy", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(50)
    )


_ENTROPY_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
counts AS (
  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS c
  FROM tok GROUP BY doc_id, t
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_distinct,
       round(ln(CAST(sum(c) AS DOUBLE))
             - sum(c * ln(CAST(c AS DOUBLE))) / sum(c), 4) AS token_entropy
FROM counts
GROUP BY doc_id
"""


@register("text_token_entropy", oracle=_ENTROPY_ORACLE)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    counts = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("c"))
    )
    n = F.sum("c")
    return counts.groupBy("doc_id").agg(
        n.alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.round(
            F.log(n.cast("double"))
            - F.sum(F.col("c") * F.log(F.col("c").cast("double"))) / n,
            4,
        ).alias("token_entropy"),
    )


_REPETITION_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
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
cnt AS (
  SELECT doc_id, n, g, count(*) AS c FROM grams GROUP BY 1, 2, 3
),
per_doc AS (
  SELECT doc_id,
         max(CASE WHEN n = 2 THEN c END) AS top2,
         sum(CASE WHEN n = 2 THEN c END) AS tot2,
         sum(CASE WHEN n = 3 AND c > 1 THEN c ELSE 0 END) AS dup3,
         sum(CASE WHEN n = 3 THEN c END) AS tot3
  FROM cnt GROUP BY doc_id
)
SELECT doc_id,
       floor(top2 * 1e6 / tot2 + 0.5) / 1e6 AS top2_frac,
       floor(dup3 * 1e6 / tot3 + 0.5) / 1e6 AS dup3_frac,
       (top2 * 12 <= tot2 AND dup3 * 10 <= tot3) AS keep
FROM per_doc
WHERE tot2 IS NOT NULL AND tot3 IS NOT NULL
ORDER BY doc_id
"""


@register("text_repetition_filters", oracle=_REPETITION_ORACLE)
def text_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition gates. The keep rule (top 2-gram <= 1/12
    of 2-gram mass AND duplicated-3-gram mass <= 1/10) uses exact
    integer comparisons (c * k <= total) so the boolean never rides a
    float; the reported fractions round via the floor(x*1e6+0.5)
    portable rule (FIXTURES.md)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    per_doc = repetition_stats(docs)
    return (
        per_doc
        .filter(F.col("tot2").isNotNull() & F.col("tot3").isNotNull())
        .select(
            "doc_id",
            (F.floor(F.col("top2") * 1e6 / F.col("tot2") + 0.5) / 1e6)
            .alias("top2_frac"),
            (F.floor(F.col("dup3") * 1e6 / F.col("tot3") + 0.5) / 1e6)
            .alias("dup3_frac"),
            ((F.col("top2") * 12 <= F.col("tot2"))
             & (F.col("dup3") * 10 <= F.col("tot3"))).alias("keep"),
        )
        .orderBy("doc_id")
    )


_BPE_CERT_ORACLE = """
WITH words AS (
  SELECT w, count(*) AS freq FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE w <> '' GROUP BY w
),
chars AS (
  SELECT freq,
         list_transform(range(1, length(w) + 1),
                        i -> substring(w, CAST(i AS INT), 1)) AS s
  FROM words
),
pairs AS (
  SELECT s[i] AS l, s[i + 1] AS r, sum(freq) AS c
  FROM (SELECT freq, s, unnest(range(1, len(s))) AS i FROM chars)
  GROUP BY 1, 2
),
first AS (
  SELECT l, r, c FROM pairs WHERE c >= 2 ORDER BY c DESC, l, r LIMIT 1
)
SELECT 'first_merge' AS item, f.l AS left_sym, f.r AS right_sym,
       CAST(f.c AS BIGINT) AS pair_freq, f.l IS NOT NULL AS ok
FROM (SELECT 1) LEFT JOIN first f ON TRUE
UNION ALL
SELECT 'well_formed_chain', NULL, NULL, NULL,
       EXISTS (SELECT 1 FROM first)
ORDER BY item
"""


@register("text_bpe_train_certificate", oracle=_BPE_CERT_ORACLE)
def text_bpe_train_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens
    from ..operators.bpe import bpe_train_merges

    docs = load(spark, sf_dir, "documents")
    merges = (
        bpe_train_merges(docs, num_merges=16).orderBy("rank").collect()
    )
    # the trainer's base symbol set: every character of every
    # non-empty whitespace token (same tokenization as the trainer)
    known = {
        r["ch"]
        for r in (
            docs.select(F.explode(tokens("text")).alias("w"))
            .filter(F.col("w") != "")
            .select(F.explode(F.split("w", "")).alias("ch"))
            .filter(F.col("ch") != "")
            .distinct()
            .collect()
        )
    }
    well_formed = bool(merges)
    for i, m in enumerate(merges):
        well_formed &= (
            m["rank"] == i
            and m["left"] in known
            and m["right"] in known
            and m["merged"] == m["left"] + m["right"]
            and m["pair_freq"] >= 2
        )
        known.add(m["merged"])

    f = merges[0] if merges else None
    rows = [
        ("first_merge",
         f["left"] if f else None,
         f["right"] if f else None,
         int(f["pair_freq"]) if f else None,
         f is not None),
        ("well_formed_chain", None, None, None, well_formed),
    ]
    return local_frame(
        spark, rows,
        "item string, left_sym string, right_sym string, "
        "pair_freq long, ok boolean",
    ).orderBy("item")


_BIGRAM_LM_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
tok1 AS (SELECT doc_id, unnest(t) AS tok FROM toks),
c1 AS (SELECT tok, count(*) AS c FROM tok1 GROUP BY 1),
n AS (SELECT count(*) AS n FROM tok1),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)),
                i -> struct_pack(pos := i, prev := t[i], cur := t[i + 1])))
           AS s
  FROM toks WHERE len(t) >= 2
),
c2 AS (
  SELECT s.prev AS prev, s.cur AS cur, count(*) AS c FROM bg GROUP BY 1, 2
),
scored AS (
  SELECT b.doc_id, b.s.pos AS pos,
         floor(ln(0.7 * c2.c / c1p.c + 0.3 * c1c.c / n.n) * 1e6 + 0.5) / 1e6
           AS logp
  FROM bg b
  JOIN c2 ON c2.prev = b.s.prev AND c2.cur = b.s.cur
  JOIN c1 c1p ON c1p.tok = b.s.prev
  JOIN c1 c1c ON c1c.tok = b.s.cur
  CROSS JOIN n
)
SELECT doc_id, count(*) AS n_bigrams,
       floor(list_reduce(list_prepend(0.0, list(logp ORDER BY pos)),
                         (a, x) -> a + x)
             / count(*) * 1e4 + 0.5) / 1e4 AS avg_logp
FROM scored GROUP BY doc_id
"""


@register("text_bigram_lm_logprob", oracle=_BIGRAM_LM_ORACLE)
def text_bigram_lm_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    ts = tokens("text")
    all_toks = docs.select("doc_id", ts.alias("t"))
    # Unigram counts and the total come from the FULL corpus (the
    # oracle's tok1 CTE is unfiltered); only the bigram build excludes
    # sub-2-token documents — the split matters on edge corpora.
    tok1 = all_toks.select("doc_id", F.explode("t").alias("tok"))
    toks = all_toks.filter(F.size("t") >= 2)
    c1 = tok1.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n = tok1.agg(F.count(F.lit(1)).cast("double").alias("n"))
    bg = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.element_at("t", i).alias("prev"),
                    F.element_at("t", i + 1).alias("cur"),
                ),
            )
        ).alias("s"),
    ).select("doc_id", "s.pos", "s.prev", "s.cur")
    c2 = bg.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c2"))
    c1p = c1.select(F.col("tok").alias("prev"), F.col("c").alias("c1p"))
    c1c = c1.select(F.col("tok").alias("cur"), F.col("c").alias("c1c"))
    scored = (
        bg.join(F.broadcast(c2), ["prev", "cur"])
        .join(F.broadcast(c1p), "prev")
        .join(F.broadcast(c1c), "cur")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id", "pos",
            (F.floor(
                F.log(F.lit(0.7) * F.col("c2") / F.col("c1p")
                      + F.lit(0.3) * F.col("c1c") / F.col("n")) * 1e6
                + F.lit(0.5)) / 1e6).alias("logp"),
        )
    )
    ordered_sum = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "logp"))),
            lambda s: s.getField("logp"),
        ),
        F.lit(0.0), lambda a, x: a + x,
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (F.floor(ordered_sum / F.count(F.lit(1)) * 1e4 + F.lit(0.5)) / 1e4)
        .alias("avg_logp"),
    )


_ZIPF_K = 200


_ZIPF_ORACLE = f"""
WITH vocab AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY tok
),
ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rank
  FROM vocab
),
pts AS (
  SELECT floor(ln(CAST(rank AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS x,
         floor(ln(CAST(c AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS y
  FROM ranked WHERE rank <= {_ZIPF_K}
),
sums AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS sx,
         CAST(sum(CAST(floor(y * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS sy,
         CAST(sum(CAST(floor(x * y * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS sxy,
         CAST(sum(CAST(floor(x * x * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS sxx
  FROM pts
),
fit AS (
  SELECT k, sx, sy,
         floor((CAST(k * sxy AS DOUBLE) / 1e6
                - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6))
               / (CAST(k * sxx AS DOUBLE) / 1e6
                  - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sx AS DOUBLE) / 1e6))
               * 1e6 + 0.5) / 1e6 AS slope_s
  FROM sums
)
SELECT k, slope_s,
       floor((CAST(sy AS DOUBLE) / 1e6 / k
              - slope_s * (CAST(sx AS DOUBLE) / 1e6 / k))
             * 1e6 + 0.5) / 1e6 AS intercept_s
FROM fit
"""


@register("text_zipf_slope", oracle=_ZIPF_ORACLE)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS Zipf slope + intercept over the top-200 vocabulary,
    integer-quantized OLS sums, snapped closed forms."""
    docs = load(spark, sf_dir, "documents")
    vocab = (
        spread_input(docs)
        .select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    ranked = vocab.withColumn(
        "rank", F.row_number().over(W.orderBy(F.desc("c"), "tok"))
    ).filter(F.col("rank") <= _ZIPF_K)
    pts = ranked.select(
        _snap6(F.log(F.col("rank").cast("double"))).alias("x"),
        _snap6(F.log(F.col("c").cast("double"))).alias("y"),
    )
    sums = pts.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(_q6(F.col("x"))).cast("long").alias("sx"),
        F.sum(_q6(F.col("y"))).cast("long").alias("sy"),
        F.sum(_q6(F.col("x") * F.col("y"))).cast("long").alias("sxy"),
        F.sum(_q6(F.col("x") * F.col("x"))).cast("long").alias("sxx"),
    )
    k = F.col("k")
    sx = F.col("sx").cast("double") / 1e6
    sy = F.col("sy").cast("double") / 1e6
    sxy = (k * F.col("sxy")).cast("double") / 1e6
    sxx = (k * F.col("sxx")).cast("double") / 1e6
    slope_s = _snap6((sxy - sx * sy) / (sxx - sx * sx))
    return sums.select(
        "k",
        slope_s.alias("slope_s"),
        _snap6(sy / k - slope_s * (sx / k)).alias("intercept_s"),
    )


_KL_ORACLE = """
WITH st AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS c_st
  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents)
  GROUP BY source, tok
),
vocab AS (SELECT tok, CAST(sum(c_st) AS BIGINT) AS c_t FROM st GROUP BY tok),
per_src AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS t_s FROM st
            GROUP BY source),
tot AS (SELECT CAST(sum(c_st) AS BIGINT) AS t FROM st),
terms AS (
  SELECT st.source,
         CAST(floor(
           (CAST(st.c_st AS DOUBLE) / ps.t_s)
           * ln((CAST(st.c_st AS DOUBLE) / ps.t_s)
                / (CAST(v.c_t AS DOUBLE) / tot.t))
           * 1e6 + 0.5) AS BIGINT) AS term_q
  FROM st
  JOIN vocab v USING (tok)
  JOIN per_src ps USING (source), tot
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_terms,
       floor(CAST(sum(term_q) AS DOUBLE) + 0.5) / 1e6 AS kl_s
FROM terms
GROUP BY source
ORDER BY source
"""


@register("text_kl_source_divergence", oracle=_KL_ORACLE)
def text_kl_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(source unigram || corpus unigram) per source, from exact
    counts and quantized per-term contributions."""
    docs = load(spark, sf_dir, "documents")
    # the (source, token) count table is consumed FOUR times (terms,
    # vocab, per-source totals, corpus total): checkpoint it so the
    # corpus is exploded exactly once. Size is |sources| x |vocab| --
    # Zipf-bounded, and distributed (localCheckpoint stores partitions
    # on executors, nothing driver-side).
    st = checkpoint(
        spread_input(docs)
        .select("source", F.explode(tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c_st"))
    )
    vocab = st.groupBy("tok").agg(F.sum("c_st").cast("long").alias("c_t"))
    per_src = st.groupBy("source").agg(
        F.sum("c_st").cast("long").alias("t_s"))
    tot = st.agg(F.sum("c_st").cast("long").alias("t"))
    p = F.col("c_st").cast("double") / F.col("t_s")
    q = F.col("c_t").cast("double") / F.col("t")
    terms = (
        st.join(vocab, "tok")
        .join(F.broadcast(per_src), "source")
        .crossJoin(F.broadcast(tot))
        .select("source", _q6(p * F.log(p / q)).alias("term_q"))
    )
    return (
        terms.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            (F.floor(F.sum("term_q").cast("double") + F.lit(0.5)) / 1e6)
            .alias("kl_s"),
        )
        .orderBy("source")
    )


_OVERLAP_ORACLE = """
WITH sg AS (
  SELECT DISTINCT source,
         unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                               for i in range(1, len(t) - 1)])) AS g
  FROM (SELECT source, string_split(text, ' ') AS t FROM documents)
  WHERE len(t) >= 3
),
sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n_g FROM sg
          GROUP BY source),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(count(*) AS BIGINT) AS n_common
  FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.src_a, i.src_b, i.n_common,
       floor(CAST(i.n_common AS DOUBLE)
             / (sa.n_g + sb.n_g - i.n_common) * 1e6 + 0.5) / 1e6
         AS jaccard_s,
       floor(CAST(i.n_common AS DOUBLE) / least(sa.n_g, sb.n_g)
             * 1e6 + 0.5) / 1e6 AS containment_s
FROM inter i
JOIN sizes sa ON sa.source = i.src_a
JOIN sizes sb ON sb.source = i.src_b
ORDER BY src_a, src_b
"""


@register("text_source_ngram_overlap", oracle=_OVERLAP_ORACLE)
def text_source_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source 3-gram Jaccard + smaller-side containment --
    the cross-source contamination matrix."""
    docs = load(spark, sf_dir, "documents")
    # Checkpoint the distinct gram set: a/b self-join sides and both
    # size lookups would otherwise each re-run the shingle explode +
    # distinct (4 corpus scans; one suffices).
    sg = checkpoint(
        spread_input(docs)
        .select("source", F.explode(shingles("text", 3)).alias("g"))
        .distinct()
    )
    sizes = sg.groupBy("source").agg(F.count(F.lit(1)).cast("long")
                                     .alias("n_g"))
    a = sg.alias("a")
    b = sg.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g"))
               & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("src_a"),
                 F.col("b.source").alias("src_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("src_a"),
                      F.col("n_g").alias("n_a"))
    sb = sizes.select(F.col("source").alias("src_b"),
                      F.col("n_g").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a", "src_b", "n_common",
            _snap6(F.col("n_common").cast("double")
                   / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
            .alias("jaccard_s"),
            _snap6(F.col("n_common").cast("double")
                   / F.least("n_a", "n_b")).alias("containment_s"),
        )
        .orderBy("src_a", "src_b")
    )


_ALPHA = 0.01


_DISTINCT_ORACLE = f"""
WITH st AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
),
cnt AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS y_st FROM st
  WHERE tok <> '' GROUP BY 1, 2
),
vocab AS (
  SELECT tok, CAST(sum(y_st) AS BIGINT) AS y_t,
         row_number() OVER (ORDER BY sum(y_st) DESC, tok) AS rnk
  FROM cnt GROUP BY tok
),
top_v AS (SELECT tok, y_t FROM vocab WHERE rnk <= 200),
src_n AS (SELECT source, CAST(sum(y_st) AS BIGINT) AS n_s FROM cnt
          GROUP BY source),
tot AS (SELECT CAST(sum(y_t) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS v FROM vocab),
z AS (
  SELECT c.source, c.tok, c.y_st, tv.y_t,
         floor((ln((c.y_st + {_ALPHA})
                   / (sn.n_s + {_ALPHA} * tot.v - c.y_st - {_ALPHA}))
                - ln((tv.y_t - c.y_st + {_ALPHA})
                     / (tot.n - sn.n_s + {_ALPHA} * tot.v
                        - (tv.y_t - c.y_st) - {_ALPHA})))
               / sqrt(1.0 / (c.y_st + {_ALPHA})
                      + 1.0 / (tv.y_t - c.y_st + {_ALPHA}))
               * 1e6 + 0.5) / 1e6 AS z_s
  FROM cnt c JOIN top_v tv ON c.tok = tv.tok
  JOIN src_n sn ON sn.source = c.source, tot
)
SELECT source, tok, y_st, y_t, z_s FROM (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY z_s DESC, tok) AS r
  FROM z
) WHERE r <= 3
ORDER BY source, z_s DESC, tok
"""


@register("text_distinctive_terms", oracle=_DISTINCT_ORACLE)
def text_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 source-distinctive tokens by Dirichlet-smoothed log-odds
    z-score over the global top-200 vocabulary."""
    docs = load(spark, sf_dir, "documents")
    # vocab cut + marginals + z reuse
    cnt = checkpoint(
        spread_input(docs)
        .select("source", F.explode(tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("y_st"))
    )
    vocab = cnt.groupBy("tok").agg(F.sum("y_st").cast("long").alias("y_t"))
    wv = W.orderBy(F.col("y_t").desc(), "tok")
    top_v = (vocab.withColumn("rnk", F.row_number().over(wv))
             .filter(F.col("rnk") <= 200).drop("rnk"))
    src_n = cnt.groupBy("source").agg(
        F.sum("y_st").cast("long").alias("n_s"))
    tot = vocab.agg(F.sum("y_t").cast("long").alias("n"),
                    F.count(F.lit(1)).cast("long").alias("v"))
    a = F.lit(_ALPHA)
    y_st = F.col("y_st").cast("double")
    y_rest = F.col("y_t") - F.col("y_st")
    delta = (
        F.log((y_st + a) / (F.col("n_s") + a * F.col("v") - y_st - a))
        - F.log((y_rest + a)
                / (F.col("n") - F.col("n_s") + a * F.col("v")
                   - y_rest - a))
    )
    var = 1.0 / (y_st + a) + 1.0 / (y_rest + a)
    z = (
        cnt.join(F.broadcast(top_v), "tok")
        .join(F.broadcast(src_n), "source")
        .crossJoin(F.broadcast(tot))
        .select("source", "tok", "y_st", "y_t",
                _snap6(delta / F.sqrt(var)).alias("z_s"))
    )
    wr = W.partitionBy("source").orderBy(F.col("z_s").desc(), "tok")
    return (
        z.withColumn("r", F.row_number().over(wr))
        .filter(F.col("r") <= 3)
        .drop("r")
        .orderBy("source", F.col("z_s").desc(), "tok")
    )


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


_K = 8


_W = 8


_WINNOW_ORACLE = f"""
WITH grams AS (
  SELECT doc_id,
         CAST(i AS BIGINT) AS pos,
         CAST('0x' || substr(md5(substring(text, CAST(i AS INTEGER),
                                           {_K})), 1, 8) AS BIGINT) AS h
  FROM documents,
       unnest(range(1, greatest(length(text) - {_K} + 2, 1))) AS t(i)
  WHERE length(text) >= {_K}
),
bounds AS (
  SELECT doc_id, max(pos) AS max_pos FROM grams GROUP BY doc_id
),
starts AS (
  SELECT g.doc_id, g.pos AS s_pos,
         min(g.h) OVER (PARTITION BY g.doc_id ORDER BY g.pos
                        ROWS BETWEEN CURRENT ROW
                        AND {_W - 1} FOLLOWING) AS wmin
  FROM grams g
),
full_starts AS (
  SELECT s.doc_id, s.s_pos, s.wmin
  FROM starts s JOIN bounds b ON s.doc_id = b.doc_id
  WHERE s.s_pos <= greatest(b.max_pos - {_W} + 1, 1)
),
picked AS (
  SELECT s.doc_id, s.s_pos, max(g.pos) AS pos, s.wmin AS fp
  FROM full_starts s
  JOIN grams g
    ON g.doc_id = s.doc_id AND g.h = s.wmin
   AND g.pos BETWEEN s.s_pos AND s.s_pos + {_W} - 1
  GROUP BY s.doc_id, s.s_pos, s.wmin
)
SELECT DISTINCT doc_id, pos, fp
FROM picked
ORDER BY doc_id, pos
"""


@register("text_winnowing_fingerprints", oracle=_WINNOW_ORACLE)
def text_winnowing_fingerprints(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """MOSS winnowing: rightmost-min of each w-window of character
    k-gram hashes, deduplicated -- positional near-dup fingerprints
    with the shared-substring detection guarantee. Core shared with
    operators/winnow.py (scale-probed at 1x/2x/4x)."""
    from ..operators.winnow import winnow_fingerprints

    docs = load(spark, sf_dir, "documents")
    return (winnow_fingerprints(docs, k=_K, w=_W)
            .orderBy("doc_id", "pos"))


_FLESCH_ORACLE = """
WITH sig AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
              AS BIGINT) AS n_sentences,
         CAST(greatest(
             len(regexp_extract_all(lower(text), '[aeiouy]+')),
             len(string_split(text, ' '))) AS BIGINT) AS n_syllables
  FROM documents
),
scored AS (
  SELECT doc_id, n_words, n_sentences, n_syllables,
         floor((206.835
                - 1.015 * (floor(CAST(n_words AS DOUBLE) / n_sentences
                                 * 1e6 + 0.5) / 1e6)
                - 84.6 * (floor(CAST(n_syllables AS DOUBLE) / n_words
                                * 1e6 + 0.5) / 1e6)) * 1e6 + 0.5) / 1e6
           AS flesch_s
  FROM sig WHERE n_words > 0
)
SELECT doc_id, n_words, n_sentences, n_syllables, flesch_s,
       CASE WHEN flesch_s >= 70 THEN 'easy'
            WHEN flesch_s >= 50 THEN 'standard'
            WHEN flesch_s >= 30 THEN 'difficult'
            ELSE 'very_difficult' END AS band
FROM scored
ORDER BY doc_id
"""


@register("text_readability_flesch", oracle=_FLESCH_ORACLE)
def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease + difficulty band from regexp-countable
    word/sentence/syllable signals, snapped arithmetic."""
    docs = load(spark, sf_dir, "documents")
    n_words = F.size(tokens("text")).cast("long")
    n_sent = F.greatest(
        F.regexp_count("text", F.lit(r"[.!?]+")), F.lit(1)).cast("long")
    n_syll = F.greatest(
        F.regexp_count(F.lower("text"), F.lit(r"[aeiouy]+")),
        F.size(tokens("text"))).cast("long")
    sig = docs.select(
        "doc_id", n_words.alias("n_words"), n_sent.alias("n_sentences"),
        n_syll.alias("n_syllables"),
    ).where(F.col("n_words") > 0)
    flesch = _snap6(
        F.lit(206.835)
        - 1.015 * _snap6(F.col("n_words").cast("double")
                         / F.col("n_sentences"))
        - 84.6 * _snap6(F.col("n_syllables").cast("double")
                        / F.col("n_words")))
    scored = sig.withColumn("flesch_s", flesch)
    band = (
        F.when(F.col("flesch_s") >= 70, "easy")
        .when(F.col("flesch_s") >= 50, "standard")
        .when(F.col("flesch_s") >= 30, "difficult")
        .otherwise("very_difficult")
    )
    return scored.withColumn("band", band).orderBy("doc_id")


_POSTINGS_ORACLE = """
WITH posting AS (
  SELECT d.doc_id,
         list_extract(string_split(d.text, ' '), CAST(i AS INTEGER))
           AS term,
         CAST(i AS BIGINT) AS pos
  FROM documents d,
       unnest(range(1, len(string_split(d.text, ' ')) + 1)) AS t(i)
),
term_stats AS (
  SELECT term,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
         CAST(count(*) AS BIGINT) AS tf_total,
         md5(string_agg(doc_id || ':' || pos, ','
                        ORDER BY doc_id, pos)) AS postings_md5
  FROM posting GROUP BY term
)
SELECT term, df, tf_total, postings_md5
FROM term_stats
ORDER BY df DESC, term
LIMIT 100
"""


@register("text_inverted_postings", oracle=_POSTINGS_ORACLE)
def text_inverted_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term -> (df, tf, md5 of the position-ordered postings list),
    top-100 terms by document frequency."""
    from ..operators.skew import spread_input

    # spread: single-file source, one partition would serialize the
    # token posexplode + md5 postings digest onto one core
    docs = spread_input(load(spark, sf_dir, "documents"))
    posting = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos0", "term")
    ).select("doc_id", "term",
             (F.col("pos0") + 1).cast("long").alias("pos"))
    digest = F.md5(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("doc_id", "pos"))),
                lambda s: F.concat_ws(
                    ":", s.getField("doc_id").cast("string"),
                    s.getField("pos").cast("string")),
            ),
            ",",
        ).cast("binary")
    )
    stats = posting.groupBy("term").agg(
        F.countDistinct("doc_id").cast("long").alias("df"),
        F.count(F.lit(1)).cast("long").alias("tf_total"),
        digest.alias("postings_md5"),
    )
    return (
        stats.orderBy(F.col("df").desc(), "term").limit(100)
    )


_HEAPS_CKPTS = 10


_HEAPS_ORACLE = f"""
WITH ranked AS (
  SELECT doc_id, text,
         CAST(row_number() OVER (
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS BIGINT) AS r
  FROM documents
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ranked),
tok AS (
  SELECT unnest(string_split(text, ' ')) AS w, r FROM ranked
),
firstr AS (SELECT w, CAST(min(r) AS BIGINT) AS fr FROM tok GROUP BY w),
toks_cum AS (
  SELECT r, CAST(sum(cnt) OVER (ORDER BY r
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       AS tok_cum
  FROM (SELECT r, CAST(len(string_split(text, ' ')) AS BIGINT) AS cnt
        FROM ranked)
),
axis AS (
  SELECT CAST(i.i AS BIGINT) AS ck,
         CAST(greatest((i.i * nn.n) // {_HEAPS_CKPTS}, 1) AS BIGINT)
           AS n_docs
  FROM (SELECT unnest(range(1, {_HEAPS_CKPTS + 1})) AS i) i
  CROSS JOIN nn
),
pts AS (
  SELECT a.ck, a.n_docs,
         (SELECT tok_cum FROM toks_cum t WHERE t.r = a.n_docs)
           AS n_tokens,
         (SELECT CAST(count(*) AS BIGINT) FROM firstr f
          WHERE f.fr <= a.n_docs) AS vocab
  FROM axis a
),
lg AS (
  SELECT ck, n_docs, n_tokens, vocab,
         CAST(floor(ln(n_tokens) * 1e6 + 0.5) AS BIGINT) AS lxq,
         CAST(floor(ln(vocab) * 1e6 + 0.5) AS BIGINT) AS lyq
  FROM pts
),
fit AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(lxq) AS BIGINT) AS sx, CAST(sum(lyq) AS BIGINT) AS sy,
         CAST(sum(lxq * lyq) AS BIGINT) AS sxy,
         CAST(sum(lxq * lxq) AS BIGINT) AS sxx
  FROM lg
)
SELECT g.ck, g.n_docs, g.n_tokens, g.vocab,
       floor(CAST(f.m * f.sxy - f.sx * f.sy AS DOUBLE)
             / nullif(CAST(f.m * f.sxx - f.sx * f.sx AS DOUBLE), 0)
             * 1e6 + 0.5) / 1e6 AS beta_s
FROM lg g CROSS JOIN fit f
ORDER BY g.ck
"""


@register("text_vocab_growth_heaps", oracle=_HEAPS_ORACLE)
def text_vocab_growth_heaps(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth over ten md5-ordered corpus
    prefixes, beta from snapped ln/ln OLS."""
    from ..functions.text import tokens
    from ..operators.ranking import global_rank

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    coin = F.md5(F.col("doc_id").cast("string").cast("binary"))
    ranked = checkpoint(global_rank(
        docs.select("doc_id", "text", coin.alias("coin")),
        ["coin", "doc_id"], rank_col="r",
    ).select("doc_id", "text", "r"))
    nn = ranked.agg(F.count(F.lit(1)).cast("long").alias("n"))
    tok = ranked.select(F.explode(tokens("text")).alias("w"), "r")
    firstr = tok.groupBy("w").agg(F.min("r").cast("long").alias("fr"))
    tok_counts = ranked.select(
        "r", F.size(tokens("text")).cast("long").alias("cnt"))
    axis = (
        spark.range(1, _HEAPS_CKPTS + 1)
        .select(F.col("id").cast("long").alias("ck"))
        .crossJoin(F.broadcast(nn))
        .select("ck", F.greatest(
            F.expr(f"(ck * n) div {_HEAPS_CKPTS}"), F.lit(1))
            .cast("long").alias("n_docs"))
    )
    # broadcast 10-row axis against the bounded-side tables: one
    # range join each for cumulative tokens and vocabulary
    n_tokens = (
        tok_counts.crossJoin(F.broadcast(axis))
        .where(F.col("r") <= F.col("n_docs"))
        .groupBy("ck", "n_docs")
        .agg(F.sum("cnt").cast("long").alias("n_tokens"))
    )
    vocab = (
        firstr.crossJoin(F.broadcast(axis))
        .where(F.col("fr") <= F.col("n_docs"))
        .groupBy("ck")
        .agg(F.count(F.lit(1)).cast("long").alias("vocab"))
    )
    # ln pairs quantized to INTEGERS before any sum: sums of snapped
    # doubles are addition-order-dependent across engines/partitions
    lg = checkpoint(
        n_tokens.join(vocab, "ck")
        .select(
            "ck", "n_docs", "n_tokens", "vocab",
            F.floor(F.log("n_tokens") * 1e6 + 0.5).cast("long")
            .alias("lxq"),
            F.floor(F.log("vocab") * 1e6 + 0.5).cast("long")
            .alias("lyq"),
        )  # 10 rows, feeds fit + output
    )
    fit = lg.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("lxq").cast("long").alias("sx"),
        F.sum("lyq").cast("long").alias("sy"),
        F.sum(F.col("lxq") * F.col("lyq")).cast("long").alias("sxy"),
        F.sum(F.col("lxq") * F.col("lxq")).cast("long").alias("sxx"),
    )
    beta = _snap6(
        (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("double")
        / F.nullif(
            (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx"))
            .cast("double"), F.lit(0.0)))
    return (
        lg.crossJoin(F.broadcast(fit))
        .select("ck", "n_docs", "n_tokens", "vocab",
                beta.alias("beta_s"))
        .orderBy("ck")
    )


# code-signal characters; the class stays inside ASCII so both
# engines' regex engines agree byte-for-byte
_SYM_RE = r"[{}\[\]();=_<>]"


_BRACE_RE = r"[{}\[\]]"


def _code_oracle() -> str:
    # counts via length-difference (portable across engines; DuckDB's
    # regexp_extract_all lengths would work too, this is simpler)
    sym = ("length(text) - length(regexp_replace(text,"
           " '[{}\\[\\]();=_<>]', '', 'g'))")
    brace = ("length(text) - length(regexp_replace(text,"
             " '[{}\\[\\]]', '', 'g'))")
    lines = "len(string_split(text, chr(10)))"
    indented = ("len(list_filter(string_split(text, chr(10)),"
                " l -> l LIKE ' %' OR l LIKE chr(9) || '%'))")
    return f"""
WITH d AS (
  SELECT doc_id, lang, source,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST({sym} AS BIGINT) AS n_sym,
         CAST({brace} AS BIGINT) AS n_brace,
         CAST({lines} AS BIGINT) AS n_lines,
         CAST({indented} AS BIGINT) AS n_indented
  FROM documents
),
flagged AS (
  SELECT *,
         CAST(CASE WHEN (n_sym * 50 >= n_chars AND n_brace >= 2)
                     OR (n_indented * 5 >= n_lines AND n_lines >= 3)
              THEN 1 ELSE 0 END AS BIGINT) AS is_code
  FROM d
)
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(is_code) AS BIGINT) AS n_code,
       CAST(sum(n_sym) AS BIGINT) AS n_sym,
       floor(CAST(sum(n_sym) AS DOUBLE) / nullif(sum(n_chars), 0)
             * 1e6 + 0.5) / 1e6 AS sym_share_s,
       floor(CAST(sum(n_indented) AS DOUBLE) / nullif(sum(n_lines), 0)
             * 1e6 + 0.5) / 1e6 AS indent_share_s
FROM flagged
GROUP BY lang, source
ORDER BY lang, source
"""


@register("text_code_screen", oracle=_code_oracle())
def text_code_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose routing stats per (lang, source): exact symbol /
    brace / indent counts and the in-hash is_code verdict tally."""
    docs = load(spark, sf_dir, "documents")
    text = F.col("text")
    sym = (F.length(text)
           - F.length(F.regexp_replace(text, _SYM_RE, ""))).cast("long")
    brace = (F.length(text)
             - F.length(F.regexp_replace(text, _BRACE_RE, ""))
             ).cast("long")
    lines = F.split(text, "\n")
    n_lines = F.size(lines).cast("long")
    n_indented = F.size(F.filter(
        lines, lambda l: l.startswith(" ") | l.startswith("\t"))
    ).cast("long")
    d = docs.select(
        "lang", "source",
        F.length(text).cast("long").alias("n_chars"),
        sym.alias("n_sym"), brace.alias("n_brace"),
        n_lines.alias("n_lines"), n_indented.alias("n_indented"),
    )
    is_code = F.when(
        ((F.col("n_sym") * 50 >= F.col("n_chars"))
         & (F.col("n_brace") >= 2))
        | ((F.col("n_indented") * 5 >= F.col("n_lines"))
           & (F.col("n_lines") >= 3)),
        1).otherwise(0).cast("long")
    return (
        d.withColumn("is_code", is_code)
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("is_code").cast("long").alias("n_code"),
            F.sum("n_sym").cast("long").alias("n_sym"),
            _snap6(F.sum("n_sym").cast("double")
                   / F.nullif(F.sum("n_chars"), F.lit(0)))
            .alias("sym_share_s"),
            _snap6(F.sum("n_indented").cast("double")
                   / F.nullif(F.sum("n_lines"), F.lit(0)))
            .alias("indent_share_s"),
        )
        .orderBy("lang", "source")
    )


_TERMS = ("vector", "hash", "merge")


_TERMS_SQL = ", ".join(f"'{t}'" for t in _TERMS)


_BM25_ORACLE = f"""
WITH dlens AS (
  SELECT doc_id, CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS dl
  FROM documents
),
toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents
),
tf AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
  FROM toks WHERE tok IN ({_TERMS_SQL}) GROUP BY doc_id, tok
),
dfreq AS (
  SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS dfq
  FROM toks WHERE tok IN ({_TERMS_SQL}) GROUP BY tok
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS sumdl
  FROM dlens
),
idf AS (
  SELECT tok, dfq,
         floor(ln((t.n - dfq + 0.5) / (dfq + 0.5) + 1.0) * 1e6 + 0.5)
           / 1e6 AS idf_s
  FROM dfreq CROSS JOIN tot t
),
term AS (
  SELECT tf.doc_id,
         CAST(floor(i.idf_s * (tf.tf * 2.2
                / (tf.tf + 1.2 * (1.0 - 0.75
                     + 0.75 * d.dl / (CAST(t.sumdl AS DOUBLE) / t.n))))
                * 1e6 + 0.5) AS BIGINT) AS term_q
  FROM tf
  JOIN idf i ON i.tok = tf.tok
  JOIN dlens d ON d.doc_id = tf.doc_id
  CROSS JOIN tot t
),
scored AS (
  SELECT doc_id, CAST(sum(term_q) AS BIGINT) AS score_q
  FROM term GROUP BY doc_id
)
SELECT s.doc_id, d.dl AS n_tokens, s.score_q / 1e6 AS bm25_s
FROM scored s JOIN dlens d ON d.doc_id = s.doc_id
ORDER BY s.score_q DESC, s.doc_id
LIMIT 20
"""


@register("text_bm25_retrieval", oracle=_BM25_ORACLE)
def text_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 for a fixed 3-term query, int64-quantized
    term scores for an order-independent per-doc reduce."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    dlens = docs.select("doc_id", F.size(toks).cast("long").alias("dl"))
    exploded = docs.select("doc_id", F.explode(toks).alias("tok")) \
        .where(F.col("tok").isin(*_TERMS))
    tf = exploded.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("tf"))
    dfreq = exploded.groupBy("tok").agg(
        F.countDistinct("doc_id").cast("long").alias("dfq"))
    tot = dlens.agg(F.count(F.lit(1)).cast("long").alias("n"),
                    F.sum("dl").cast("long").alias("sumdl"))
    idf = dfreq.crossJoin(F.broadcast(tot)).select(
        "tok",
        _snap6(F.log((F.col("n") - F.col("dfq") + 0.5)
                     / (F.col("dfq") + 0.5) + 1.0)).alias("idf_s"))
    avgdl = F.col("sumdl").cast("double") / F.col("n")
    w = (F.col("tf") * 2.2
         / (F.col("tf") + 1.2 * (1.0 - 0.75 + 0.75 * F.col("dl") / avgdl)))
    term = (
        tf.join(F.broadcast(idf), "tok")
        .join(dlens, "doc_id")
        .crossJoin(F.broadcast(tot))
        .select("doc_id",
                F.floor(F.col("idf_s") * w * 1e6 + 0.5).cast("long")
                .alias("term_q"))
    )
    scored = term.groupBy("doc_id").agg(
        F.sum("term_q").cast("long").alias("score_q"))
    return (
        scored.join(dlens, "doc_id")
        .orderBy(F.desc("score_q"), "doc_id")
        .limit(20)
        .select("doc_id", F.col("dl").alias("n_tokens"),
                (F.col("score_q") / 1e6).alias("bm25_s"))
    )


_RRF_TERMS = ("vector", "hash", "merge")


_RRF_K = 60


_RRF_ORACLE = f"""
WITH lex AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS sc
  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents)
  WHERE tok IN ({", ".join(f"'{t}'" for t in _RRF_TERMS)})
  GROUP BY doc_id
),
lex_r AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY sc DESC, doc_id) AS r_lex
  FROM lex
),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
dense AS (
  SELECT vec_id AS doc_id,
         CAST(floor(list_dot_product(embedding::DOUBLE[], qv)
              / (sqrt(list_dot_product(embedding::DOUBLE[],
                                       embedding::DOUBLE[]))
                 * sqrt(list_dot_product(qv, qv))) * 1e6 + 0.5)
           AS BIGINT) AS cosq
  FROM embeddings CROSS JOIN q WHERE vec_id <> 0
),
dense_r AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY cosq DESC, doc_id) AS r_dense
  FROM dense
),
fused AS (
  SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
         CAST(l.r_lex AS BIGINT) AS r_lex,
         CAST(d.r_dense AS BIGINT) AS r_dense,
         floor((COALESCE(1.0 / ({_RRF_K} + l.r_lex), 0.0)
                + COALESCE(1.0 / ({_RRF_K} + d.r_dense), 0.0))
               * 1e6 + 0.5) / 1e6 AS rrf_s
  FROM lex_r l FULL OUTER JOIN dense_r d ON d.doc_id = l.doc_id
)
SELECT doc_id, r_lex, r_dense, rrf_s
FROM fused ORDER BY rrf_s DESC, doc_id LIMIT 20
"""


@register("text_rrf_hybrid_retrieval", oracle=_RRF_ORACLE)
def text_rrf_hybrid_retrieval(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """RRF hybrid retrieval: 1/(60+r) fused lexical + dense ranks,
    top-20. Both rank lists distributed via global_rank."""
    from ..functions.vectors import as_double, cosine
    from ..operators.ranking import global_rank

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    lex = (
        docs.select("doc_id",
                    F.explode(F.split(F.lower(F.col("text")), " "))
                    .alias("tok"))
        .where(F.col("tok").isin(*_RRF_TERMS))
        .groupBy("doc_id").agg(F.count(F.lit(1)).alias("sc"))
    )
    lex_r = global_rank(
        lex.withColumn("nsc", -F.col("sc")), ["nsc", "doc_id"], "r_lex"
    ).select("doc_id", "r_lex")
    qv = emb.where(F.col("vec_id") == 0) \
        .select(as_double("embedding").alias("qv"))
    dense = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(F.col("vec_id").alias("doc_id"),
                q6(cosine(as_double("embedding"), F.col("qv")))
                .alias("cosq"))
    )
    dense_r = global_rank(
        dense.withColumn("ncosq", -F.col("cosq")), ["ncosq", "doc_id"],
        "r_dense",
    ).select("doc_id", "r_dense")
    fused = (
        lex_r.join(dense_r, "doc_id", "full_outer")
        .select(
            "doc_id", "r_lex", "r_dense",
            snap6(
                F.coalesce(1.0 / (_RRF_K + F.col("r_lex")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("r_dense")),
                             F.lit(0.0))
            ).alias("rrf_s"))
    )
    return fused.orderBy(F.desc("rrf_s"), "doc_id").limit(20)


_RAKE_TOPK = 20


_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


_RAKE_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, t.tok, t.pos,
         CASE WHEN t.tok IN ({_STOP_SQL}) THEN 1 ELSE 0 END AS stop
  FROM documents,
       LATERAL (SELECT unnest(string_split(lower(text), ' ')) AS tok,
                       generate_subscripts(string_split(lower(text), ' '), 1)
                         AS pos) t
),
marked AS (
  SELECT doc_id, tok, pos,
         sum(stop) OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id
  FROM tok
),
words AS (
  SELECT doc_id, tok, pos, phrase_id FROM marked
  WHERE tok NOT IN ({_STOP_SQL}) AND tok <> ''
),
plen AS (
  SELECT doc_id, phrase_id, CAST(count(*) AS BIGINT) AS n_words
  FROM words GROUP BY doc_id, phrase_id
),
wstat AS (
  SELECT w.tok,
         CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(p.n_words) AS BIGINT) AS deg
  FROM words w JOIN plen p
    ON p.doc_id = w.doc_id AND p.phrase_id = w.phrase_id
  GROUP BY w.tok
),
wscore AS (SELECT tok, (deg * 1000000) // freq AS wq FROM wstat),
phrase AS (
  SELECT w.doc_id, w.phrase_id,
         string_agg(w.tok, ' ' ORDER BY w.pos) AS phrase,
         CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(s.wq) AS BIGINT) AS score_q
  FROM words w JOIN wscore s ON s.tok = w.tok
  GROUP BY w.doc_id, w.phrase_id
)
SELECT phrase, CAST(max(n_words) AS BIGINT) AS n_words,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       max(score_q) / 1e6 AS score_s
FROM phrase
GROUP BY phrase
ORDER BY score_s DESC, phrase LIMIT {_RAKE_TOPK}
"""


@register("text_rake_keywords", oracle=_RAKE_ORACLE)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE top-20 keyword phrases: stopword-split candidate runs,
    degree/frequency word scores in integer division."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), " "))
        .alias("pos", "tok"))
    tok = tok.withColumn(
        "stop", F.when(F.col("tok").isin(*STOPWORDS), 1).otherwise(0))
    w = Window.partitionBy("doc_id").orderBy("pos")
    marked = tok.withColumn("phrase_id", F.sum("stop").over(w))
    # feeds plen, wstat, phrase agg
    words = checkpoint(
        marked.where((F.col("stop") == 0) & (F.col("tok") != ""))
        .select("doc_id", "tok", "pos", "phrase_id"))
    plen = words.groupBy("doc_id", "phrase_id") \
        .agg(F.count(F.lit(1)).cast("long").alias("n_words"))
    wstat = (
        words.join(plen, ["doc_id", "phrase_id"])
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"),
             F.sum("n_words").cast("long").alias("deg"))
    )
    wscore = wstat.select(
        "tok", F.expr("(deg * 1000000) div freq").alias("wq"))
    phrase = (
        words.join(wscore, "tok")
        .groupBy("doc_id", "phrase_id")
        .agg(F.concat_ws(
                " ",
                F.expr("transform(array_sort(collect_list("
                       "struct(pos, tok))), x -> x.tok)")).alias("phrase"),
             F.count(F.lit(1)).cast("long").alias("n_words"),
             F.sum("wq").cast("long").alias("score_q"))
    )
    return (
        phrase.groupBy("phrase")
        .agg(F.max("n_words").cast("long").alias("n_words"),
             F.count(F.lit(1)).cast("long").alias("n_occurrences"),
             (F.max("score_q") / 1e6).alias("score_s"))
        .orderBy(F.desc("score_s"), "phrase")
        .limit(_RAKE_TOPK)
    )
