"""Quality-rule unit coverage beyond the pipeline tests: referential
(broadcast semi-mark join), regex, and null-condition semantics."""

from __future__ import annotations

from dataingestionengineprocess_spark.operators.quality import (
    matches,
    not_null,
    referential,
    validate,
)


def test_referential_rule_quarantines_orphans(spark):
    facts = spark.createDataFrame(
        [(1, "US"), (2, "EU"), (3, "XX"), (4, None)],
        "id long, region string",
    )
    dim = spark.createDataFrame([("US",), ("EU",)], "r string")
    res = validate(facts, [referential("region", dim.select("r"))])
    assert {r.id for r in res.passed.collect()} == {1, 2}
    quar = {r.id: list(r._violations) for r in res.quarantined.collect()}
    assert quar == {3: ["referential_region"], 4: ["referential_region"]}


def test_matches_rule_and_null_counts_as_violation(spark):
    df = spark.createDataFrame(
        [(1, "AB-12"), (2, "bad"), (3, None)], "id long, code string"
    )
    res = validate(df, [matches("code", r"^[A-Z]{2}-\d{2}$")])
    assert {r.id for r in res.passed.collect()} == {1}
    assert {r.id for r in res.quarantined.collect()} == {2, 3}


def test_multiple_violations_accumulate(spark):
    df = spark.createDataFrame([(None, "nope")], "id long, code string")
    res = validate(
        df, [not_null("id"), matches("code", r"^\d+$")]
    )
    viols = res.quarantined.collect()[0]._violations
    assert set(viols) == {"not_null_id", "matches_code"}


def test_approx_count_distinct_within_rsd(spark, sf_dir):
    """A3: the HLL sketch must land within its configured relative
    standard deviation of the exact distinct count (5x rsd tolerance
    covers the tail)."""
    from pyspark.sql import functions as F

    from dataingestionengineprocess_spark.catalog import load

    ev = load(spark, sf_dir, "events")
    exact = ev.select(F.countDistinct("user_id")).collect()[0][0]
    approx = ev.select(
        F.approx_count_distinct("user_id", rsd=0.05)
    ).collect()[0][0]
    assert abs(approx - exact) <= max(1, 0.25 * exact), (approx, exact)


def test_percentile_approx_close_to_exact(spark, sf_dir):
    """The query now carries its accuracy contract in-band: every
    group's rank-window booleans must hold, and the exact quantiles it
    emits must agree with the standalone exact-percentile query."""
    from dataingestionengineprocess_spark.queries import all_queries

    qs = all_queries()
    exact = {r["o_orderpriority"]: (r["median_price"], r["p90_price"])
             for r in qs["agg_percentiles"](spark, sf_dir).collect()}
    rows = qs["agg_approx_percentiles"](spark, sf_dir).collect()
    got = {r["o_orderpriority"]: r for r in rows}
    assert exact.keys() == got.keys()
    for k, r in got.items():
        assert r["median_within_bound"] and r["p90_within_bound"], (k, r)
        assert exact[k] == (r["median_exact"], r["p90_exact"]), (k, r)


def test_schema_drift_detection(spark):
    from pyspark.sql import types as T

    from dataingestionengineprocess_spark.operators.quality import schema_drift

    old = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("legacy", T.StringType()),
    ])
    new = spark.createDataFrame(
        [], "id long, amount string, added_col date")
    drift = schema_drift(old, new)
    assert drift == [
        {"column": "added_col", "change": "added",
         "old_type": None, "new_type": "date"},
        {"column": "amount", "change": "type_changed",
         "old_type": "double", "new_type": "string"},
        {"column": "legacy", "change": "removed",
         "old_type": "string", "new_type": None},
    ]
    assert schema_drift(old, old) == []


def test_schema_drift_duplicate_column_names(spark):
    from pyspark.sql import types as T

    from dataingestionengineprocess_spark.operators.quality import schema_drift

    two_amounts = T.StructType([
        T.StructField("amount", T.DoubleType()),
        T.StructField("amount", T.DoubleType()),
    ])
    one_amount = T.StructType([T.StructField("amount", T.DoubleType())])
    drift = schema_drift(two_amounts, one_amount)
    assert drift == [{"column": "amount", "change": "type_changed",
                      "old_type": "double,double", "new_type": "double"}]


def test_triangle_count_zero_on_triangle_free_graph(spark, tmp_path):
    """sum over an empty wedge set must coalesce to 0, not NULL (the
    oracle counts 0)."""
    from dataingestionengineprocess_spark.queries.graph import (
        graph_triangle_count,
    )

    # a path graph: orders share pairs but never close a triangle;
    # with the >=2-basket threshold nothing survives at all
    rows = [(1, 10), (1, 11), (2, 11), (2, 12), (3, 12), (3, 13)]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    df.write.parquet(str(tmp_path / "lineitem.parquet"))
    out = graph_triangle_count(spark, str(tmp_path)).collect()[0]
    assert out.n_triangles == 0 and out.n_edges == 0
