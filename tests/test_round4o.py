"""Unit/edge coverage for the round-4o queries (weighted quantiles +
FIM). The oracle gate lives in test_oracle_parity.py; this file
drives hand-computed weighted crossings and byte-level FIM
reassembly against a Python replay of the md5 cuts.
"""

from __future__ import annotations

import hashlib

from fixture_tables import write_documents


def _li(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "l_orderkey long, l_linenumber long, l_returnflag string, "
              "l_quantity double, l_extendedprice double",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    return str(tmp_path)


# --- weighted median ---------------------------------------------------------


def test_weighted_median_weight_dominates(spark, tmp_path):
    # Values 1.00 (weight 9) and 100.00 (weight 1): the weighted
    # median is 1.00 even though the unweighted midpoint is higher.
    from dataingestionengineprocess_spark.queries.agg import (
        agg_weighted_median,
    )

    sf = _li(spark, tmp_path, [
        (1, 1, "A", 9.0, 1.0), (1, 2, "A", 1.0, 100.0)])
    r = agg_weighted_median(spark, sf).collect()[0]
    assert r["total_weight"] == 10
    assert r["wmedian_cents"] == 100      # 1.00 in cents
    # inclusive crossing: cw = 9 >= 0.9 * 10 already at the first
    # value, so even p90 stays at 1.00; p90 only moves with weight 8
    assert r["wp90_cents"] == 100


def test_weighted_median_exact_boundary_crossing(spark, tmp_path):
    # Weights 1, 1: cumulative 1 of 2 meets cw*2 >= tw exactly at the
    # FIRST value (inclusive definition).
    from dataingestionengineprocess_spark.queries.agg import (
        agg_weighted_median,
    )

    sf = _li(spark, tmp_path, [
        (1, 1, "A", 1.0, 5.0), (1, 2, "A", 1.0, 7.0)])
    r = agg_weighted_median(spark, sf).collect()[0]
    assert r["wmedian_cents"] == 500


def test_weighted_median_per_group_isolation(spark, tmp_path):
    from dataingestionengineprocess_spark.queries.agg import (
        agg_weighted_median,
    )

    sf = _li(spark, tmp_path, [
        (1, 1, "A", 1.0, 5.0), (1, 2, "B", 1.0, 50.0)])
    out = {r["flag"]: r for r in agg_weighted_median(spark, sf).collect()}
    assert out["A"]["wmedian_cents"] == 500
    assert out["B"]["wmedian_cents"] == 5000


# --- FIM ---------------------------------------------------------------------


def _cuts(doc_id: int, n: int):
    if n < 6:
        return None, None
    third = n // 3
    c1 = int(hashlib.md5(f"{doc_id}:fim1".encode()).hexdigest()[:6],
             16) % 1000000
    c2 = int(hashlib.md5(f"{doc_id}:fim2".encode()).hexdigest()[:6],
             16) % 1000000
    a = 1 + c1 % third
    b = a + 1 + c2 % third
    return a, b


def test_fim_reassembles_to_original_bytes(spark, tmp_path):
    # Replay the md5 cuts in Python, split fim_text on the sentinels,
    # and reassemble prefix + middle + suffix == original.
    from dataingestionengineprocess_spark.queries.curation import (
        curation_fim_transform,
    )

    texts = ["the quick brown fox jumps over the lazy dog",
             "abcdefghijklmnop", "short", "exactly six!"]
    sf = write_documents(spark, tmp_path,
               [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)])
    out = {r["doc_id"]: r for r in
           curation_fim_transform(spark, sf).collect()}
    for i, t in enumerate(texts):
        r = out[i]
        a, b = _cuts(i, len(t))
        if a is None:
            assert r["fim_applied"] == 0 and r["fim_text"] == t
            assert r["len_prefix"] == len(t)
            continue
        assert r["fim_applied"] == 1
        assert (r["len_prefix"], r["len_middle"], r["len_suffix"]) == (
            a, b - a, len(t) - b)
        body = r["fim_text"]
        assert body.startswith("<PRE>")
        pre, rest = body[5:].split("<SUF>", 1)
        suf, mid = rest.split("<MID>", 1)
        assert pre + mid + suf == t
        assert pre == t[:a] and mid == t[a:b] and suf == t[b:]
        assert r["length_conserved"] is True


def test_fim_spans_always_nonempty(spark, tmp_path):
    # Every applied split must keep all three spans non-empty for any
    # length >= 6 (the 1 + coin % third construction).
    from dataingestionengineprocess_spark.queries.curation import (
        curation_fim_transform,
    )

    rows = [(i, "x" * (6 + i), "en", "s", 6 + i) for i in range(40)]
    sf = write_documents(spark, tmp_path, rows)
    for r in curation_fim_transform(spark, sf).collect():
        assert r["fim_applied"] == 1
        assert r["len_prefix"] >= 1
        assert r["len_middle"] >= 1
        assert r["len_suffix"] >= 1
        assert r["length_conserved"] is True


def test_weighted_p90_moves_with_weight_split(spark, tmp_path):
    # Weights 8 + 2: cw = 8 < 9 at the first value, so p90 crosses
    # into the second value while the median stays at the first.
    from dataingestionengineprocess_spark.queries.agg import (
        agg_weighted_median,
    )

    sf = _li(spark, tmp_path, [
        (1, 1, "A", 8.0, 1.0), (1, 2, "A", 2.0, 100.0)])
    r = agg_weighted_median(spark, sf).collect()[0]
    assert r["wmedian_cents"] == 100
    assert r["wp90_cents"] == 10000
