"""Unit/edge coverage for the round-4y queries (exact allocation,
sweep-line concurrency, compaction planner). The oracle gate lives in
test_oracle_parity.py; these pin the arithmetic on hand-built rows.
"""

from __future__ import annotations

from fixture_tables import write_documents


def _orders_lineitem(spark, tmp_path, orders, lines):
    from pyspark.sql import functions as F

    spark.createDataFrame(
        [(ok, 1, "O", tot, od, pri) for ok, tot, od, pri in orders],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.to_timestamp("o_orderdate")) \
     .write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        [(ok, pk, sk, ln, 1.0, price, 0.0, 0.0, "N", "O", sd)
         for ok, pk, sk, ln, price, sd in lines],
        "l_orderkey long, l_partkey long, l_suppkey long, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate string",
    ).withColumn("l_shipdate", F.to_timestamp("l_shipdate")) \
     .write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    return str(tmp_path)


# --- allocation --------------------------------------------------------------


def test_allocation_exact_with_remainder_topup(spark, tmp_path):
    # Order 1: total 1.00 over three equal 1.00 lines -> floor gives
    # 33/33/33 cents, the 1-cent leftover goes to the lowest line
    # number (all remainders tie). Order 2: single line gets ALL of
    # the header total regardless of the line price.
    from dataingestionengineprocess_spark.queries.orders import (
        orders_discount_allocation,
    )

    sf = _orders_lineitem(
        spark, tmp_path,
        orders=[(1, 1.00, "2024-01-01", "1-URGENT"),
                (2, 9.99, "2024-01-02", "2-HIGH")],
        lines=[(1, 1, 1, 1, 1.00, "2024-01-03"),
               (1, 1, 1, 2, 1.00, "2024-01-03"),
               (1, 1, 1, 3, 1.00, "2024-01-03"),
               (2, 1, 1, 1, 123.45, "2024-01-03")],
    )
    out = {r["o_orderpriority"]: r
           for r in orders_discount_allocation(spark, sf).collect()}
    assert out["1-URGENT"]["alloc_cents"] == 100
    assert out["1-URGENT"]["order_cents"] == 100
    assert out["1-URGENT"]["n_lines"] == 3
    assert out["2-HIGH"]["alloc_cents"] == 999
    assert out["2-HIGH"]["order_cents"] == 999


def test_allocation_invariant_on_fixture(spark, sf_dir):
    # Every priority's allocated total equals its header total at
    # fixture scale -- the exactness invariant the query hashes.
    from dataingestionengineprocess_spark.queries.orders import (
        orders_discount_allocation,
    )

    for r in orders_discount_allocation(spark, sf_dir).collect():
        assert r["alloc_cents"] == r["order_cents"], r


# --- sweep-line concurrency --------------------------------------------------


def test_concurrency_peak_and_coverage(spark, tmp_path):
    # Supplier 1: intervals [d1,d3], [d2,d5], [d7,d8] (order date ->
    # ship date): peak 2 (days 2-3), covered 5 + 2 = 7 days, span 8.
    from dataingestionengineprocess_spark.queries.orders import (
        supplier_shipment_concurrency,
    )

    d = "2024-01-0{}"
    sf = _orders_lineitem(
        spark, tmp_path,
        orders=[(1, 1.0, d.format(1), "P"), (2, 1.0, d.format(2), "P"),
                (3, 1.0, d.format(7), "P")],
        lines=[(1, 1, 1, 1, 1.0, d.format(3)),
               (2, 1, 1, 1, 1.0, d.format(5)),
               (3, 1, 1, 1, 1.0, d.format(8))],
    )
    out = supplier_shipment_concurrency(spark, sf).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["peak_inflight"], r["covered_days"], r["span_days"]) == \
        (2, 7, 8)
    assert r["n_lines"] == 3


def test_concurrency_inverted_interval_normalized(spark, tmp_path):
    # Ship date BEFORE order date (the fixture's independent synthetic
    # dates): least/greatest keeps the row as a valid 2-day interval.
    from dataingestionengineprocess_spark.queries.orders import (
        supplier_shipment_concurrency,
    )

    sf = _orders_lineitem(
        spark, tmp_path,
        orders=[(1, 1.0, "2024-01-05", "P")],
        lines=[(1, 1, 7, 1, 1.0, "2024-01-04")],
    )
    r = supplier_shipment_concurrency(spark, sf).collect()[0]
    assert (r["s_suppkey"], r["peak_inflight"], r["covered_days"],
            r["span_days"]) == (7, 1, 2, 2)


# --- compaction plan ---------------------------------------------------------


def test_compaction_bins_by_start_offset(spark, tmp_path):
    # Strata sizes 30k/25k/20k/5k chars at cap 16k: start offsets
    # 0/30k/55k/75k -> bins 0/1/3/4. Oversized strata stay visible as
    # fill > 1 instead of being silently split.
    from dataingestionengineprocess_spark.queries.warehouse import (
        warehouse_compaction_plan,
    )

    rows, did = [], 0
    for src, lang, sz in [("a", "en", 30000), ("b", "en", 25000),
                          ("c", "en", 20000), ("d", "en", 5000)]:
        rows.append((did, "x" * sz, lang, src, sz))
        did += 1
    out = warehouse_compaction_plan(
        spark, write_documents(spark, tmp_path, rows)).collect()
    got = {r["bin"]: (r["n_parts"], r["bin_chars"]) for r in out}
    assert got == {0: (1, 30000), 1: (1, 25000), 3: (1, 20000),
                   4: (1, 5000)}
    fills = {r["bin"]: r["fill_s"] for r in out}
    assert fills[0] == 1.875  # 30000/16000 -- oversized, visible
    assert fills[4] == 0.3125


def test_compaction_packs_small_parts_together(spark, tmp_path):
    # Four 4k strata pack into ONE 16k bin by virtual concatenation.
    from dataingestionengineprocess_spark.queries.warehouse import (
        warehouse_compaction_plan,
    )

    rows = [(i, "x" * 4000, "en", f"s{i}", 4000) for i in range(4)]
    out = warehouse_compaction_plan(
        spark, write_documents(spark, tmp_path, rows)).collect()
    assert len(out) == 1
    assert (out[0]["bin"], out[0]["n_parts"], out[0]["bin_chars"]) == \
        (0, 4, 16000)