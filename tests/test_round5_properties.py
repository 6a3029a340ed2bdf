"""Property tests: the round-4y..5c distributed algebra agrees with
per-row reference implementations on arbitrary generated inputs --
hamilton_quota (sums/pigeonhole), sequence_islands (vs a sequential
scan), the sweep-line concurrency (vs brute-force day counting), and
global_rank / distributed_prefix_sum (vs a sorted fold)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_SETTINGS = dict(max_examples=12, deadline=None,
                 suppress_health_check=[HealthCheck.too_slow])


# --- hamilton_quota ----------------------------------------------------------


@given(
    st.lists(st.integers(min_value=1, max_value=500),
             min_size=1, max_size=10),
    st.integers(min_value=1, max_value=300),
)
@settings(**_SETTINGS)
def test_hamilton_quota_sums_and_bounds(spark, sizes, k):
    from dataingestionengineprocess_spark.operators.sampling import (
        hamilton_quota,
    )

    strata = spark.createDataFrame(
        [(f"l{i}", "s", n) for i, n in enumerate(sizes)],
        "lang string, source string, n_docs long",
    )
    out = hamilton_quota(strata, k).collect()
    quotas = {r["lang"]: r["quota"] for r in out}
    floors = {r["lang"]: r["floor_q"] for r in out}
    total = sum(sizes)
    # exact-sum invariant and the floor <= quota <= floor+1 pigeonhole
    assert sum(quotas.values()) == k
    for i, n in enumerate(sizes):
        f = (k * n) // total
        assert floors[f"l{i}"] == f
        assert quotas[f"l{i}"] in (f, f + 1)


# --- sequence_islands --------------------------------------------------------


def _islands_reference(keys):
    islands, run = [], []
    for x in sorted(set(keys)):
        if run and x == run[-1] + 1:
            run.append(x)
        else:
            if run:
                islands.append((run[0], run[-1]))
            run = [x]
    if run:
        islands.append((run[0], run[-1]))
    return sorted(islands)


@given(st.lists(st.integers(min_value=0, max_value=20000),
                min_size=1, max_size=60))
@settings(**_SETTINGS)
def test_sequence_islands_matches_sequential_scan(spark, keys):
    from dataingestionengineprocess_spark.queries.quality import (
        sequence_islands,
    )

    # keys chosen to straddle several 4096-buckets regularly
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = sorted((r["lo"], r["hi"])
                 for r in sequence_islands(df.distinct()).collect())
    assert got == _islands_reference(keys)


# --- sweep-line concurrency --------------------------------------------------


def _concurrency_reference(intervals):
    """Brute force: per-day membership over normalized intervals."""
    norm = [(min(a, b), max(a, b)) for a, b in intervals]
    days = {}
    for lo, hi in norm:
        for d in range(lo, hi + 1):
            days[d] = days.get(d, 0) + 1
    lo = min(a for a, _ in norm)
    hi = max(b for _, b in norm)
    return max(days.values()), len(days), hi - lo + 1


@given(st.lists(
    st.tuples(st.integers(min_value=0, max_value=25),
              st.integers(min_value=0, max_value=25)),
    min_size=1, max_size=12))
@settings(**_SETTINGS)
def test_concurrency_matches_bruteforce(spark, tmp_path_factory,
                                        intervals):
    from pyspark.sql import functions as F
    from dataingestionengineprocess_spark.queries.orders import (
        supplier_shipment_concurrency,
    )

    tmp = tmp_path_factory.mktemp("conc")
    base = "2024-01-01"
    orders, lines = [], []
    for i, (a, b) in enumerate(intervals):
        orders.append((i, 1, "O", 1.0,
                       f"2024-01-{a + 1:02d}" if a < 31 else base, "P"))
        lines.append((i, 1, 7, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
                      f"2024-01-{b + 1:02d}" if b < 31 else base))
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_orderstatus string, "
                "o_totalprice double, o_orderdate string, "
                "o_orderpriority string",
    ).withColumn("o_orderdate", F.to_timestamp("o_orderdate")) \
     .write.mode("overwrite").parquet(str(tmp / "orders.parquet"))
    spark.createDataFrame(
        lines, "l_orderkey long, l_partkey long, l_suppkey long, "
               "l_linenumber int, l_quantity double, "
               "l_extendedprice double, l_discount double, l_tax double, "
               "l_returnflag string, l_linestatus string, "
               "l_shipdate string",
    ).withColumn("l_shipdate", F.to_timestamp("l_shipdate")) \
     .write.mode("overwrite").parquet(str(tmp / "lineitem.parquet"))

    r = supplier_shipment_concurrency(spark, str(tmp)).collect()[0]
    peak, covered, span = _concurrency_reference(intervals)
    assert (r["peak_inflight"], r["covered_days"], r["span_days"]) == \
        (peak, covered, span)


# --- global_rank / distributed_prefix_sum ------------------------------------


@given(st.lists(st.integers(min_value=-1000, max_value=1000),
                min_size=1, max_size=80, unique=True))
@settings(**_SETTINGS)
def test_global_rank_is_sorted_position(spark, keys):
    from dataingestionengineprocess_spark.operators.ranking import (
        global_rank,
    )

    df = spark.createDataFrame([(k,) for k in keys], "k long") \
        .repartition(7)
    got = {r["k"]: r["gr"] for r in global_rank(df, ["k"]).collect()}
    for pos, k in enumerate(sorted(keys), start=1):
        assert got[k] == pos


@given(st.lists(st.tuples(st.integers(min_value=0, max_value=10000),
                          st.integers(min_value=0, max_value=50)),
                min_size=1, max_size=60, unique_by=lambda t: t[0]))
@settings(**_SETTINGS)
def test_prefix_sum_matches_fold(spark, rows):
    from dataingestionengineprocess_spark.operators.ranking import (
        distributed_prefix_sum,
    )

    df = spark.createDataFrame(rows, "k long, w long").repartition(5)
    got = {r["k"]: r["cum"]
           for r in distributed_prefix_sum(df, ["k"], "w").collect()}
    acc = 0
    for k, w in sorted(rows):
        acc += w
        assert got[k] == acc


def test_hamilton_quota_exact_past_double_precision(spark):
    # ADVICE r4: floor_q via double division desyncs from the exact
    # integer remainder once k*n exceeds ~2^53. 4e15-doc strata with
    # k=1000 put k*n at 4e18; integer `div` must keep floor_q and rem
    # consistent so quotas still sum to exactly k.
    from dataingestionengineprocess_spark.operators.sampling import (
        hamilton_quota,
    )

    sizes = [4_000_000_000_000_003, 3_999_999_999_999_991,
             4_000_000_000_000_017]
    k = 1000
    strata = spark.createDataFrame(
        [(f"l{i}", "s", n) for i, n in enumerate(sizes)],
        "lang string, source string, n_docs long",
    )
    out = hamilton_quota(strata, k).collect()
    total = sum(sizes)
    assert sum(r["quota"] for r in out) == k
    for r in out:
        n = sizes[int(r["lang"][1:])]
        assert r["floor_q"] == (k * n) // total
        assert r["rem"] == (k * n) % total
        assert r["quota"] in (r["floor_q"], r["floor_q"] + 1)


@given(st.lists(
    st.tuples(st.sampled_from(["a", "b", "c"]),
              st.integers(min_value=-50, max_value=50)),
    min_size=1, max_size=60))
@settings(**_SETTINGS)
def test_grouped_rank_matches_pergroup_window(spark, rows):
    # grouped_rank == row_number() OVER (PARTITION BY g ORDER BY v, id)
    # for arbitrary generated groups/values (id tiebreak pins ties).
    from dataingestionengineprocess_spark.operators.ranking import (
        grouped_rank,
    )

    data = [(g, v, i) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "g string, v long, id long")
    got = {(r["g"], r["id"]): (r["rn"], r["n"])
           for r in grouped_rank(df, ["g"], ["v", "id"], "rn",
                                 count_col="n").collect()}
    # reference: per-group sequential rank
    ref = {}
    for g in {g for g, _, _ in data}:
        grp = sorted(((v, i) for gg, v, i in data if gg == g))
        for rn, (v, i) in enumerate(grp, 1):
            ref[(g, i)] = (rn, len(grp))
    assert got == ref


@given(st.lists(
    st.tuples(st.sampled_from(["x", "y"]),
              st.integers(min_value=0, max_value=9)),
    min_size=1, max_size=40))
@settings(**_SETTINGS)
def test_grouped_percent_cume_matches_definitions(spark, rows):
    from dataingestionengineprocess_spark.operators.ranking import (
        grouped_percent_cume,
    )

    data = [(g, v, i) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "g string, v long, id long")
    got = {(r["g"], r["id"]): (r["pct_rank"], r["cume"])
           for r in grouped_percent_cume(
               df, ["g"], "v", "id").collect()}
    for g in {g for g, _, _ in data}:
        grp = sorted(((v, i) for gg, v, i in data if gg == g))
        n = len(grp)
        for rn, (v, i) in enumerate(grp, 1):
            pct, cume = got[(g, i)]
            assert abs(pct - (rn - 1) / max(n - 1, 1)) < 1e-12
            assert abs(cume - rn / n) < 1e-12


def test_value_distribution_null_values_rank_first_cross_engine(spark):
    # ADVICE r5: the module pins ASC NULLS FIRST for the value column.
    # Against DuckDB, the oracle must SAY "NULLS FIRST" (its ASC
    # default is NULLS LAST) -- this pins both engines on a fixture
    # that actually contains NULL values.
    import duckdb
    import pandas as pd

    from dataingestionengineprocess_spark.operators.ranking import (
        grouped_value_distribution,
    )

    pdf = pd.DataFrame({
        "g": ["a", "a", "a", "a", "b", "b"],
        "v": [2.0, None, 1.0, None, None, 7.0],
        "id": [1, 2, 3, 4, 5, 6],
    })
    out = grouped_value_distribution(
        spark.createDataFrame(pdf), ["g"], "v", "id").collect()
    got = {r["id"]: (round(r["pct_rank"], 9), round(r["cume"], 9))
           for r in out}
    con = duckdb.connect()
    con.register("t", pdf)
    want = {int(r[0]): (round(r[1], 9), round(r[2], 9))
            for r in con.execute("""
        SELECT id,
               percent_rank() OVER (PARTITION BY g
                                    ORDER BY v NULLS FIRST),
               cume_dist() OVER (PARTITION BY g ORDER BY v NULLS FIRST)
        FROM t
    """).fetchall()}
    assert got == want
    assert got[2] == (0.0, 0.5)  # NULL tie pair leads group 'a'


def test_grouped_rank_null_group_forms_its_own_partition(spark):
    # A window's NULL partition ranks normally; a name-based equi-join
    # on the group key would silently drop those rows. The null-safe
    # offsets join must keep them.
    from dataingestionengineprocess_spark.operators.ranking import (
        grouped_rank,
    )

    df = spark.createDataFrame(
        [("a", 3, 1), ("a", 1, 2), (None, 5, 3), (None, 2, 4)],
        "g string, v long, id long")
    got = {r["id"]: (r["g"], r["rn"], r["n"])
           for r in grouped_rank(df, ["g"], ["v", "id"], "rn",
                                 count_col="n").collect()}
    assert got[2] == ("a", 1, 2) and got[1] == ("a", 2, 2)
    assert got[4] == (None, 1, 2) and got[3] == (None, 2, 2)


@given(st.lists(
    st.tuples(st.sampled_from(["x", "y"]),
              st.integers(min_value=0, max_value=4)),
    min_size=1, max_size=40))
@settings(**_SETTINGS)
def test_grouped_value_distribution_tie_semantics(spark, rows):
    # VALUE-TIES form: every row of a tie group shares RANK (tie-min
    # row_number) for percent_rank and tie-max for cume_dist --
    # checked against the sequential definition on heavy-tie inputs.
    from dataingestionengineprocess_spark.operators.ranking import (
        grouped_value_distribution,
    )

    data = [(g, v, i) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "g string, v long, id long")
    got = {(r["g"], r["id"]): (r["pct_rank"], r["cume"])
           for r in grouped_value_distribution(
               df, ["g"], "v", "id").collect()}
    for g in {g for g, _, _ in data}:
        vals = sorted(v for gg, v, _ in data if gg == g)
        n = len(vals)
        for gg, v, i in data:
            if gg != g:
                continue
            rank = 1 + sum(1 for x in vals if x < v)      # SQL RANK
            below_or_eq = sum(1 for x in vals if x <= v)  # cume numer
            pct, cume = got[(g, i)]
            assert abs(pct - (rank - 1) / max(n - 1, 1)) < 1e-12
            assert abs(cume - below_or_eq / n) < 1e-12


def test_grouped_value_distribution_null_group_and_value(spark):
    # NULL group keys and NULL values form their own peer groups
    # (window semantics); the null-safe ties join must keep them.
    from dataingestionengineprocess_spark.operators.ranking import (
        grouped_value_distribution,
    )

    df = spark.createDataFrame(
        [("a", 1, 1), ("a", None, 2), (None, 1, 3), (None, 1, 4)],
        "g string, v long, id long")
    out = grouped_value_distribution(df, ["g"], "v", "id")
    got = {r["id"]: (r["g"], r["pct_rank"], r["cume"])
           for r in out.collect()}
    assert len(got) == 4  # nothing dropped
    # NULL group of two tied rows: both share rank 1 and cume 1.0
    assert got[3] == (None, 0.0, 1.0) and got[4] == (None, 0.0, 1.0)
    # group 'a': NULL value sorts FIRST (asc nulls-first), peer alone
    assert got[2][1] == 0.0 and abs(got[2][2] - 0.5) < 1e-12
    assert got[1][1] == 1.0 and got[1][2] == 1.0
