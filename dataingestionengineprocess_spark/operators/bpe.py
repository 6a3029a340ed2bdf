"""Distributed BPE (byte-pair-encoding) merge training.

The tokenizer-training operator of an LLM data pipeline: learn the
merge table from the corpus itself (Sennrich et al. 2016,
arXiv:1508.07909 -- the algorithm every BPE tokenizer trainer
implements over word frequencies).

Scale design -- why this trains on 100 TB:

- The corpus is scanned ONCE, into a (word, freq) vocabulary table.
  Zipf's law makes that table millions of rows regardless of corpus
  bytes -- the iterative part never touches the corpus again. This is
  the same corpus→word-counts split SentencePiece and the HF trainer
  make.
- Each merge round is one narrow shuffle (explode adjacent symbol
  pairs from the vocab, sum freq by pair) + a driver fetch of exactly
  ONE row (the argmax pair) + a MAP-ONLY merge rewrite of the symbol
  arrays, expressed entirely with higher-order functions (aggregate /
  element_at) inside codegen -- no Python in the loop.
- The vocab table is localCheckpoint'ed each round, so the plan stays
  flat across any number of merges (the iterative-Spark lineage trap).
- Determinism: ties on pair frequency break to the lexicographically
  smallest (left, right), so the merge table is reproducible across
  runs and cluster shapes.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..session import local_frame


def _adjacent_pairs(syms: str = "syms") -> Column:
    """array<struct<l,r>> of adjacent symbol pairs. Guarded so arrays
    shorter than 2 symbols yield an empty pair array instead of a
    negative slice length (a runtime error)."""
    pairs = F.zip_with(
        F.slice(syms, 1, F.size(syms) - 1),
        F.slice(syms, 2, F.size(syms) - 1),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
    )
    return F.when(F.size(syms) >= 2, pairs).otherwise(
        F.array().cast("array<struct<l:string,r:string>>")
    )


def _merge_expr(syms_col: Column, left: str, right: str) -> Column:
    """Rewrite a symbol array replacing each non-overlapping adjacent
    (left, right) occurrence with the merged symbol -- left-to-right,
    exactly like the reference BPE algorithm. Pure higher-order
    aggregate (runs inside codegen): the accumulator carries the
    rebuilt array plus a skip flag for the element consumed by a
    merge."""
    n = F.size(syms_col)
    init = F.struct(
        F.array().cast("array<string>").alias("res"),
        F.lit(False).alias("skip"),
    )

    def step(acc: Column, i: Column) -> Column:
        cur = F.element_at(syms_col, i + 1)
        nxt = F.element_at(syms_col, i + 2)
        take_merge = (
            (i < n - 1) & (cur == F.lit(left)) & (nxt == F.lit(right))
        )
        return (
            F.when(acc.getField("skip"), F.struct(
                acc.getField("res").alias("res"), F.lit(False).alias("skip")))
            .when(take_merge, F.struct(
                F.concat(acc.getField("res"),
                         F.array(F.lit(left + right))).alias("res"),
                F.lit(True).alias("skip")))
            .otherwise(F.struct(
                F.concat(acc.getField("res"), F.array(cur)).alias("res"),
                F.lit(False).alias("skip")))
        )

    rewritten = F.aggregate(
        F.sequence(F.lit(0), n - 1), init, step,
        lambda acc: acc.getField("res"),
    )
    # sequence(0, -1) would DESCEND; empty arrays pass through as-is.
    return F.when(n >= 1, rewritten).otherwise(syms_col)


def _local_merge_loop(rows: list, num_merges: int,
                      min_freq: int) -> list[tuple[int, str, str, str, int]]:
    """The driver-side merge loop over a collected (freq, syms) vocab:
    EXACTLY the distributed rounds' semantics -- weighted adjacent-pair
    counts (overlaps included, like _adjacent_pairs), argmax with ties
    to the lexicographically smallest (l, r), then a non-overlapping
    left-to-right rewrite (like _merge_expr). Equivalence against the
    distributed path is pytest-pinned."""
    from collections import Counter

    vocab = [(int(freq), list(syms)) for freq, syms in rows]
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(num_merges):
        cnt: Counter = Counter()
        for freq, syms in vocab:
            for a, b in zip(syms, syms[1:]):
                cnt[(a, b)] += freq
        if not cnt:
            break
        (l, r), c = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < min_freq:
            break
        merges.append((rank, l, r, l + r, int(c)))
        for i, (freq, syms) in enumerate(vocab):
            j, res = 0, []
            while j < len(syms):
                if (j + 1 < len(syms) and syms[j] == l
                        and syms[j + 1] == r):
                    res.append(l + r)
                    j += 2
                else:
                    res.append(syms[j])
                    j += 1
            vocab[i] = (freq, res)
    return merges


#: Collect-and-train locally when the distinct-word vocabulary is at
#: or below this bound. The vocab is Zipf-bounded (it grows with
#: corpus VARIETY, not corpus size), so even a 100 TB crawl's cleaned
#: word list is usually collectable -- and the merge loop is then
#: corpus-size-independent driver work instead of 2 Spark jobs per
#: round. Above the bound (noisy vocabularies: URLs, typos, binary
#: spill) the distributed rounds keep memory bounded.
_LOCAL_VOCAB_LIMIT = 500_000


def bpe_train_merges(docs: DataFrame, text_col: str = "text",
                     num_merges: int = 24, min_freq: int = 2,
                     local_vocab_limit: int | None = _LOCAL_VOCAB_LIMIT,
                     ) -> DataFrame:
    """Learn ``num_merges`` BPE merges from the corpus.

    Returns (rank, left, right, merged, pair_freq): merge ``rank`` is
    applied order (0-based); ``pair_freq`` is the corpus frequency the
    pair had when chosen. Stops early when no pair reaches
    ``min_freq``.

    Strategy (the FAISS split -- training is a small-data problem):
    ONE distributed scan builds the (word, freq) vocabulary; when the
    distinct-word count is within ``local_vocab_limit`` the whole
    merge loop runs driver-side on the collected vocab (identical
    semantics, pytest-pinned equivalence), cutting 2 Spark jobs per
    merge round to zero. Corpora whose vocab exceeds the bound fall
    back to the distributed per-round argmax+rewrite, which never
    materializes the vocab on the driver. Pass ``local_vocab_limit=0``
    to force the distributed path.

    NOTE: like an MLlib ``fit``, CONSTRUCTING this result runs the
    training eagerly.
    """
    if num_merges <= 0:
        raise ValueError(f"num_merges must be positive, got {num_merges}")
    spark = docs.sparkSession
    vocab = (
        docs.select(F.explode(tokens(text_col)).alias("w"))
        # consecutive/leading/trailing spaces split into empty tokens;
        # they carry no symbols and must not enter the vocab
        .filter(F.col("w") != "")
        .groupBy("w").agg(F.count("*").alias("freq"))
        .select(
            "freq",
            F.expr("filter(split(w, ''), x -> x != '')").alias("syms"),
        )
        .localCheckpoint(eager=True)
    )

    if local_vocab_limit and vocab.count() <= local_vocab_limit:
        rows = vocab.collect()
        merges = _local_merge_loop(
            [(r["freq"], r["syms"]) for r in rows], num_merges, min_freq
        )
        return local_frame(
            spark, merges,
            "rank int, left string, right string, merged string, "
            "pair_freq long",
        )

    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(num_merges):
        # Argmax pair in ONE aggregation tree (map-side partials ->
        # single reduce), no global sort: min over struct(-count, l, r)
        # realizes "highest count, ties to the lexicographically
        # smallest pair".
        top = (
            vocab.select("freq", F.explode(_adjacent_pairs()).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("c"))
            .agg(F.min(F.struct(
                (-F.col("c")).alias("nc"), "l", "r")).alias("m"))
            .collect()
        )
        if not top or top[0]["m"] is None or -top[0]["m"]["nc"] < min_freq:
            break
        l, r, c = top[0]["m"]["l"], top[0]["m"]["r"], int(-top[0]["m"]["nc"])
        merges.append((rank, l, r, l + r, c))
        vocab = vocab.select(
            "freq", _merge_expr(F.col("syms"), l, r).alias("syms")
        ).localCheckpoint(eager=True)

    return local_frame(
        spark, merges,
        "rank int, left string, right string, merged string, pair_freq long",
    )


def bpe_encode_counts(docs: DataFrame, merges: list[tuple[str, str]],
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Apply a learned merge table; return per-doc piece counts
    (id, n_tokens, n_pieces).

    Scale design -- encode the VOCABULARY, not the corpus: the corpus
    explodes to (doc, word) pairs, but the Python kernel runs once per
    DISTINCT word (Zipf-bounded), and per-doc piece counts come from a
    broadcast join of the tiny word->pieces map back onto the word
    stream plus one sum. The merge list itself is driver-small (one
    row per learned merge) and ships inside the UDF closure.

    Merges apply in rank order, each exhaustively left-to-right --
    identical semantics to the training-time rewrite, so
    ``bpe_encode_counts(docs, merges_from_bpe_train_merges)`` is the
    exact apply-side of the trainer.
    """
    from pyspark.sql.functions import pandas_udf

    merge_list = list(merges)

    @pandas_udf("int")
    def n_pieces(words: pd.Series) -> pd.Series:
        def enc(w: str) -> int:
            syms = list(w)
            for left, right in merge_list:
                i, res = 0, []
                while i < len(syms):
                    if (i + 1 < len(syms) and syms[i] == left
                            and syms[i + 1] == right):
                        res.append(left + right)
                        i += 2
                    else:
                        res.append(syms[i])
                        i += 1
                syms = res
            return len(syms)
        return words.map(enc)

    pairs = docs.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("w")
    )
    vocab = pairs.select("w").distinct().withColumn("np", n_pieces("w"))
    return (
        pairs.join(F.broadcast(vocab), "w")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("np").cast("long").alias("n_pieces"),
        )
        .select(F.col("id").alias(id_col), "n_tokens", "n_pieces")
    )
