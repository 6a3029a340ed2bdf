"""Unit/edge coverage for the round-4w queries (Markov entropy,
quota-applied sampling, column profiler). The oracle gate lives in
test_oracle_parity.py; this file hand-tracks a deterministic chain,
a uniform branch, quota caps, and planted nulls.
"""

from __future__ import annotations

import math

from fixture_tables import write_documents, write_events


# --- Markov entropy ----------------------------------------------------------


def test_entropy_deterministic_vs_uniform(spark, tmp_path):
    # From 'a' the chain always goes to 'b' (H = 0); from 'b' it
    # splits evenly between 'a' and 'c' (H = ln 2).
    from dataingestionengineprocess_spark.queries.events import (
        events_markov_entropy_rate,
    )

    chain = ["a", "b", "a", "b", "c", "a", "b", "a", "b", "c"]
    rows = [(i, f"2024-01-01 00:00:{i:02d}", 1, t, 0.0, "")
            for i, t in enumerate(chain)]
    out = {r["prev_type"]: r for r in events_markov_entropy_rate(
        spark, write_events(spark, tmp_path, rows)).collect()}
    assert out["a"]["h_cond_s"] == 0.0
    assert abs(out["b"]["h_cond_s"] - math.log(2)) < 1e-5
    # mixture weights sum to 1 over prev states
    assert abs(sum(r["p_prev_s"] for r in out.values()) - 1.0) < 1e-5


def test_entropy_single_user_single_transition(spark, tmp_path):
    # One transition: H = 0, weight 1.
    from dataingestionengineprocess_spark.queries.events import (
        events_markov_entropy_rate,
    )

    rows = [(0, "2024-01-01 00:00:00", 1, "x", 0.0, ""),
            (1, "2024-01-01 00:00:01", 1, "y", 0.0, "")]
    out = events_markov_entropy_rate(
        spark, write_events(spark, tmp_path, rows)).collect()
    assert len(out) == 1
    assert out[0]["prev_type"] == "x"
    assert out[0]["h_cond_s"] == 0.0 and out[0]["p_prev_s"] == 1.0


# --- quota-applied sampling --------------------------------------------------


def test_quota_apply_caps_at_population(spark, tmp_path):
    # Tiny corpus (10 docs): K = 200 >> population, so every stratum
    # caps at n_docs and the digest covers ALL its ids.
    from dataingestionengineprocess_spark.queries.sample import (
        sample_quota_apply,
    )
    import hashlib

    rows = ([(i, "t", "en", "web", 1) for i in range(7)]
            + [(10 + i, "t", "fr", "web", 1) for i in range(3)])
    out = {(r["lang"], r["source"]): r for r in sample_quota_apply(
        spark, write_documents(spark, tmp_path, rows)).collect()}
    en = out[("en", "web")]
    assert en["n_sampled"] == en["n_docs"] == 7
    expect = hashlib.md5(",".join(str(i) for i in range(7))
                         .encode()).hexdigest()
    assert en["sample_md5"] == expect
    fr = out[("fr", "web")]
    assert fr["n_sampled"] == 3


def test_quota_apply_subsamples_large_stratum(spark, tmp_path):
    # 400 docs in one stratum, K = 200: exactly 200 sampled, and the
    # sampled set is the md5-rank prefix (re-derived here).
    from dataingestionengineprocess_spark.queries.sample import (
        sample_quota_apply,
    )
    import hashlib

    rows = [(i, "t", "en", "web", 1) for i in range(400)]
    r = sample_quota_apply(
        spark, write_documents(spark, tmp_path, rows)).collect()[0]
    assert (r["n_docs"], r["quota"], r["n_sampled"]) == (400, 200, 200)
    ranked = sorted(range(400),
                    key=lambda i: (hashlib.md5(str(i).encode())
                                   .hexdigest(), i))
    chosen = sorted(ranked[:200])
    expect = hashlib.md5(",".join(str(i) for i in chosen)
                         .encode()).hexdigest()
    assert r["sample_md5"] == expect


# --- column profiler ---------------------------------------------------------


def test_profile_counts_nulls_and_distincts(spark, tmp_path):
    from dataingestionengineprocess_spark.queries.quality import (
        quality_column_profile,
    )
    from pyspark.sql import functions as F

    rows = [(1, 10, "O", 5.00, "2024-01-02", "HIGH"),
            (2, 10, None, 7.50, "2024-01-05", "LOW"),
            (3, 20, "F", 5.00, None, "LOW")]
    spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderstatus string, "
              "o_totalprice double, o_orderdate string, "
              "o_orderpriority string",
    ).withColumn("o_orderdate", F.to_timestamp("o_orderdate")) \
     .write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    out = {r["col_name"]: r for r in quality_column_profile(
        spark, str(tmp_path)).collect()}
    assert out["o_orderstatus"]["n_null"] == 1
    assert out["o_orderstatus"]["n_distinct"] == 2
    assert out["o_custkey"]["n_distinct"] == 2
    assert out["price_cents"]["n_distinct"] == 2
    assert out["price_cents"]["min_s"] == "500"
    assert out["price_cents"]["max_s"] == "750"
    assert out["orderdate_day"]["n_null"] == 1
    assert out["orderdate_day"]["min_s"] == "1"
    assert out["orderdate_day"]["max_s"] == "4"
