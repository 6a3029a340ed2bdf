"""Unit/edge coverage for the round-4m queries (CSV round-trip,
erasure impact, dataset card). The oracle gate lives in
test_oracle_parity.py; this file drives the row-level fidelity of
each hostile CSV style, hand-replays the erasure coin, and pins the
card metrics on a tiny corpus.
"""

from __future__ import annotations

import hashlib
import math

from fixture_tables import write_documents


def _star(spark, tmp_path, custkeys, orders, lineitems):
    spark.createDataFrame(
        [(k, 0, 0.0, "A") for k in custkeys],
        "c_custkey long, c_nationkey long, c_acctbal double, "
        "c_mktsegment string",
    ).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        lineitems, "l_orderkey long, l_partkey long",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    return str(tmp_path)


# --- CSV round-trip ----------------------------------------------------------


def test_csv_every_style_survives_byte_exact(spark, tmp_path):
    # 16 customers = two of each style; replay the synthesis in
    # Python and check counts/lengths/checksums per style.
    from dataingestionengineprocess_spark.queries.source import (
        source_csv_roundtrip_edgecases,
    )

    keys = list(range(16))
    spark.createDataFrame(
        [(k, 0, 0.0, "A") for k in keys],
        "c_custkey long, c_nationkey long, c_acctbal double, "
        "c_mktsegment string",
    ).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))

    def payload(k: int) -> str:
        s = k % 8
        return {
            0: f"plain_{k}", 1: f"a,comma,{k}", 2: f'a"quote"{k}',
            3: f"line1\nline2_{k}", 4: f"tab\tsep_{k}",
            5: f"  spaced_{k}  ", 6: f"café_ü_{k}", 7: "NULL",
        }[s]

    out = {r["style"]: r for r in
           source_csv_roundtrip_edgecases(spark, str(tmp_path)).collect()}
    assert set(out) == set(range(8))
    for s in range(8):
        ks = [k for k in keys if k % 8 == s]
        want_len = sum(len(payload(k)) for k in ks)
        want_ck = sum(
            int(hashlib.md5((payload(k) + ":ck").encode()).hexdigest()[:6],
                16) % 1000000 for k in ks)
        assert out[s]["n_rows"] == len(ks)
        assert out[s]["sum_len"] == want_len, (s, out[s])
        assert out[s]["checksum"] == want_ck, s


# --- erasure impact ----------------------------------------------------------


def _doomed(k: int) -> bool:
    h = hashlib.md5(f"{k}:erase".encode()).hexdigest()[:6]
    return int(h, 16) % 100 < 5


def test_erasure_cascade_hand_replayed(spark, tmp_path):
    # Find one doomed and two safe keys by replaying the coin; give
    # the doomed customer 2 orders x 2 lines, the safe ones 1 x 1.
    from dataingestionengineprocess_spark.queries.gov import gov_erasure_impact

    doomed = [k for k in range(200) if _doomed(k)][:1]
    safe = [k for k in range(200) if not _doomed(k)][:2]
    assert doomed and len(safe) == 2
    d = doomed[0]
    orders = [(1, d), (2, d), (3, safe[0]), (4, safe[1])]
    lines = [(1, 10), (1, 11), (2, 12), (2, 13), (3, 14), (4, 15)]
    sf = _star(spark, tmp_path, doomed + safe, orders, lines)
    out = {r["tbl"]: r for r in gov_erasure_impact(spark, sf).collect()}
    assert (out["customer"]["n_total"], out["customer"]["n_purged"]) == (3, 1)
    assert (out["orders"]["n_total"], out["orders"]["n_purged"]) == (4, 2)
    assert (out["lineitem"]["n_total"], out["lineitem"]["n_purged"]) == (6, 4)
    assert out["lineitem"]["n_after"] == 2
    assert abs(out["orders"]["purge_rate_s"] - 0.5) < 1e-9


def test_erasure_no_doomed_rows_all_zero(spark, tmp_path):
    from dataingestionengineprocess_spark.queries.gov import gov_erasure_impact

    safe = [k for k in range(200) if not _doomed(k)][:3]
    sf = _star(spark, tmp_path, safe,
               [(1, safe[0])], [(1, 10)])
    out = {r["tbl"]: r for r in gov_erasure_impact(spark, sf).collect()}
    assert all(r["n_purged"] == 0 and r["purge_rate_s"] == 0.0
               for r in out.values())
    assert out["customer"]["n_after"] == 3


# --- dataset card ------------------------------------------------------------


def test_dataset_card_hand_corpus(spark, tmp_path):
    # 4 docs: one exact dup pair, one short doc, two langs 3:1, one
    # source -> every metric hand-checkable.
    from dataingestionengineprocess_spark.queries.curation import (
        curation_dataset_card,
    )

    long_text = "w " * 30 + "end"   # 63 chars, 31 tokens
    sf = write_documents(spark, tmp_path, [
        (0, long_text, "en", "s", 63),
        (1, long_text, "en", "s", 63),      # exact dup
        (2, "short doc", "en", "s", 9),     # < 50 chars
        (3, long_text + " x", "de", "s", 65),
    ])
    out = {r["metric"]: r["value_s"] for r in
           curation_dataset_card(spark, sf).collect()}
    assert out["n_docs"] == 4.0
    assert out["n_sources"] == 1.0 and out["n_langs"] == 2.0
    assert out["exact_dup_rate"] == 0.25   # 3 unique of 4
    assert out["short_doc_rate"] == 0.25
    assert out["source_entropy"] == 0.0    # single source
    # lang mix 3:1 -> H = -(3/4 ln 3/4 + 1/4 ln 1/4), quantized
    h = (math.floor(-(0.75) * math.log(0.75) * 1e6 + 0.5)
         + math.floor(-(0.25) * math.log(0.25) * 1e6 + 0.5)) / 1e6
    assert abs(out["lang_entropy"] - h) < 1e-9
    assert out["total_tokens"] == 31 + 31 + 2 + 32
    assert abs(out["mean_doc_tokens"] - (96 / 4)) < 1e-6
