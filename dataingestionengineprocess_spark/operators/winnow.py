"""MOSS winnowing fingerprints (Schleimer/Wilkerson/Aiken,
SIGMOD'03) as a reusable operator.

Selection contract (shared with the `text_winnowing_fingerprints`
oracle, queries/text.py): character k-gram md5 hashes; every FULL
window of w consecutive hashes picks its minimum, rightmost
occurrence on ties; picks dedupe to (doc, pos, fp). Docs with fewer
than w grams (but >= 1) degrade to one window over all their grams,
preserving the at-least-one-fingerprint guarantee for any doc of
>= k chars — and the paper's theorem that any shared substring of
length >= w + k - 1 yields a shared fingerprint.

Scale shape: the O(n) part is one forward-frame min window per doc;
pick resolution is an equi-join on (doc_id, h = window-min)
restricted to the w-row band — selective (only minima survive the
hash equality), per-doc local, nothing corpus-wide.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def winnow_fingerprints(docs: DataFrame, k: int = 8, w: int = 8,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """(id, pos, fp) winnowing fingerprints of ``text_col``."""
    from .skew import spread_input

    # spread: a single-file source arrives as one partition and the
    # per-character gram explode + md5 below would run on one core
    base = spread_input(docs.where(F.length(text_col) >= k))
    grams = base.select(
        id_col,
        F.explode(
            F.sequence(F.lit(1),
                       F.greatest(F.length(text_col) - k + 1, F.lit(1)))
        ).alias("pos"),
        text_col,
    ).select(
        id_col,
        F.col("pos").cast("long").alias("pos"),
        F.conv(
            F.substring(
                F.md5(F.expr(f"substring({text_col}, pos, {k})")
                      .cast("binary")), 1, 8),
            16, 10).cast("long").alias("h"),
    )
    # Materialize the gram/hash stream ONCE: three consumers (bounds,
    # the window pass, the pick-resolution join side) would otherwise
    # each re-run the explode + per-gram md5 -- the dominant cost of
    # the operator. Same compute-for-storage trade a shuffle makes;
    # the stream is (id, pos, h), far narrower than the text.
    grams = grams.localCheckpoint(eager=True)
    bounds = grams.groupBy(id_col).agg(F.max("pos").alias("max_pos"))
    wmin_w = (W.partitionBy(id_col).orderBy("pos")
              .rowsBetween(W.currentRow, w - 1))
    starts = grams.select(
        id_col, F.col("pos").alias("s_pos"),
        F.min("h").over(wmin_w).alias("wmin"),
    )
    full_starts = (
        starts.join(bounds, id_col)
        .where(F.col("s_pos")
               <= F.greatest(F.col("max_pos") - w + 1, F.lit(1)))
        .select(id_col, "s_pos", "wmin")
    )
    s = full_starts.alias("s")
    g = grams.select(id_col, "pos", "h").alias("g")
    picked = (
        s.join(
            g,
            (F.col(f"s.{id_col}") == F.col(f"g.{id_col}"))
            & (F.col("g.h") == F.col("s.wmin"))
            & (F.col("g.pos") >= F.col("s.s_pos"))
            & (F.col("g.pos") <= F.col("s.s_pos") + w - 1),
        )
        .groupBy(F.col(f"s.{id_col}").alias(id_col), F.col("s.s_pos"),
                 F.col("s.wmin"))
        .agg(F.max(F.col("g.pos")).alias("pos"))
        .select(id_col, "pos", F.col("wmin").alias("fp"))
    )
    return picked.distinct()
