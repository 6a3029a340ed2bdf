"""Round-4 continuation: behavioural invariants the oracle hash can't
see — the watermark query's drop counter matches the oracle's
prediction (the late drop is real, not vacuously zero), and the bloom
prefilter is load-bearing (passes strictly fewer rows than the scan
while never dropping a member).
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from dataingestionengineprocess_spark.catalog import table_path
from dataingestionengineprocess_spark.queries import all_queries
from dataingestionengineprocess_spark.queries.stream import (
    _WM_DELAY,
    _stage_late_epochs,
)

SF = "/root/testdata/sf0.001"


def test_watermark_drop_count_matches_oracle_prediction(spark):
    """Drain the same staged epochs the query uses and assert the
    state operator's numRowsDroppedByWatermark equals the oracle-side
    count of two-epoch stragglers whose window closed before the
    epoch-0 watermark — and that it is > 0 (the scenario genuinely
    exercises the drop path)."""
    import pyspark.sql.types as T

    src = _stage_late_epochs(spark, SF)
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    agg = (
        stream.withWatermark("ts", _WM_DELAY)
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append").format("memory")
        .queryName("wm_drop_probe").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    spark.catalog.dropTempView("wm_drop_probe")
    dropped = sum(
        p["stateOperators"][0]["numRowsDroppedByWatermark"]
        for p in q.recentProgress if p["stateOperators"]
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{table_path(SF, 'events')}')"
    )
    expected = con.execute("""
        WITH ranked AS (
          SELECT event_id, ts,
                 row_number() OVER (ORDER BY ts, event_id) - 1 AS rk,
                 count(*) OVER () AS n
          FROM events
        ),
        ep AS (
          SELECT event_id, ts,
                 least((3 * rk) // n
                       + CASE WHEN event_id % 20 = 0 THEN 2 ELSE 0 END,
                       2) AS epoch
          FROM ranked
        ),
        emax AS (SELECT epoch, max(ts) AS mx FROM ep GROUP BY 1)
        SELECT count(*) FROM ep, emax e0
        WHERE e0.epoch = 0 AND ep.epoch = 2
          AND date_trunc('hour', ep.ts) + INTERVAL 1 HOUR
                <= e0.mx - INTERVAL 10 MINUTE
    """).fetchone()[0]
    con.close()
    assert expected > 0, "fixture produced no late rows — scenario vacuous"
    assert dropped == expected


def test_bloom_prefilter_is_load_bearing(spark):
    row = all_queries()["join_bloom_prefilter"](spark, SF).collect()[0]
    assert row["n_false_neg"] == 0
    assert row["n_match"] <= row["n_bloom_pass"] < row["n_lineitem"]
    assert row["n_bloom_pass"] == row["n_match"] + row["n_false_pos"]


def _oracle_con(sf_dir, tables=("documents", "events")):
    """One DuckDB connection with views over the given fixture tables
    (ONE view-creation rule for every edge-corpus test in this file;
    missing files are skipped so partial fixtures work)."""
    import os

    con = duckdb.connect()
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def test_bigram_lm_edge_corpus_matches_oracle(spark, tmp_path):
    """A corpus containing sub-2-token documents: those docs produce no
    bigrams (excluded from the OUTPUT on both sides), but their tokens
    still count toward the unigram tables and the corpus total — the
    oracle builds c1/n over the unfiltered corpus, and the Spark side
    must match."""
    import os

    from dataingestionengineprocess_spark.oracle_compare import digest_frame
    from dataingestionengineprocess_spark.queries import (
        all_oracles,
        all_queries,
    )

    d = str(tmp_path / "sfedge")
    os.makedirs(d, exist_ok=True)
    rows = [
        (1, "en", "s", "solo"),
        (2, "en", "s", "alpha beta alpha"),
        (3, "en", "s", "beta beta"),
        (4, "en", "s", "alpha beta gamma solo"),
    ]
    spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    ).withColumn("n_chars", F.length("text")) \
     .coalesce(1).write.mode("overwrite") \
     .parquet(os.path.join(d, "documents.parquet"))

    sdf = all_queries()["text_bigram_lm_logprob"](spark, d).toPandas()
    odf = _oracle_con(d).execute(
        all_oracles()["text_bigram_lm_logprob"]).df()
    assert sorted(sdf["doc_id"]) == [2, 3, 4]  # doc 1 has no bigram
    assert digest_frame(sdf, float_digits=9) == digest_frame(
        odf, float_digits=9)


def test_stream_oltp_jdbc_sink_repeat_invocation_stable(spark):
    """Embedded Derby keeps a database booted for the JVM's life, so a
    naive per-epoch append doubles the table on a second invocation in
    the same session; the first-batch overwrite must make repeat runs
    return identical results."""
    from dataingestionengineprocess_spark.queries import all_queries

    fn = all_queries()["stream_oltp_jdbc_sink"]
    first = fn(spark, SF).orderBy("win_start").toPandas()
    second = fn(spark, SF).orderBy("win_start").toPandas()
    assert first["n"].sum() == second["n"].sum()
    assert first.equals(second)


def test_stream_outer_join_cutoff_is_strict(spark, tmp_path):
    """An unmatched purchase whose ts EQUALS the final global watermark
    to the microsecond stays in state (strict cutoff); one strictly
    below it is emitted null-extended; a matched pair always emits.
    Both engines must agree on all three."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq_
    from dataingestionengineprocess_spark.oracle_compare import digest_frame
    from dataingestionengineprocess_spark.queries import (
        all_oracles,
        all_queries,
    )

    d = str(tmp_path / "sfouter")
    os.makedirs(d, exist_ok=True)
    t0 = dt.datetime(2024, 1, 1)

    def ts(h, m=0):
        return t0 + dt.timedelta(hours=h, minutes=m)

    # wm = least(max purchase 05:00, max click 06:00) - 1h = 04:00
    rows = {
        "event_id": [1, 2, 3, 4, 5],
        "ts": [ts(3), ts(4), ts(5), ts(4, 45), ts(6)],
        "user_id": [3, 1, 2, 2, 9],
        "event_type": ["purchase", "purchase", "purchase", "click",
                       "click"],
        "value": [1.0] * 5,
        "props": ["{}"] * 5,
    }
    table = pa.table(rows, schema=pa.schema([
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]))
    pq_.write_table(table, os.path.join(d, "events.parquet"))

    sdf = all_queries()["stream_stream_outer_join"](spark, d).toPandas()
    odf = _oracle_con(d).execute(
        all_oracles()["stream_stream_outer_join"]).df()
    got = sorted(sdf["purchase_id"])
    assert got == [1, 3], got       # 2 (ts == wm) held in state
    assert digest_frame(sdf, float_digits=9) == digest_frame(
        odf, float_digits=9)


def test_naive_bayes_edge_corpus_matches_oracle(spark, tmp_path):
    """Degenerate corpora: a single-token doc, a doc whose every token
    is unseen in another class, and a class with one document. The
    smoothed grid and the token-sorted fold must agree with the oracle
    exactly (argmax included)."""
    import os

    from dataingestionengineprocess_spark.oracle_compare import digest_frame
    from dataingestionengineprocess_spark.queries import (
        all_oracles,
        all_queries,
    )

    d = str(tmp_path / "sfnb")
    os.makedirs(d, exist_ok=True)
    rows = [
        (1, "en", "s", "alpha"),
        (2, "en", "s", "alpha beta beta"),
        (3, "fr", "s", "gamma gamma delta"),
        (4, "de", "s", "epsilon"),
    ]
    spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    ).withColumn("n_chars", F.length("text")) \
     .coalesce(1).write.mode("overwrite") \
     .parquet(os.path.join(d, "documents.parquet"))

    expect_rows = {
        # 3 langs x 5 distinct tokens = the full smoothed grid
        "ml_naive_bayes_train": 15,
        "ml_naive_bayes_score": 4,
    }
    for name in ("ml_naive_bayes_train", "ml_naive_bayes_score"):
        sdf = all_queries()[name](spark, d).toPandas()
        odf = _oracle_con(d, tables=("documents",)).execute(
            all_oracles()[name]).df()
        assert len(sdf) == expect_rows[name], (name, len(sdf))
        assert digest_frame(sdf, float_digits=9) == digest_frame(
            odf, float_digits=9), name


def test_centroid_similarity_single_label_is_empty(spark, tmp_path):
    """One label -> no label pairs: both engines must emit ZERO rows
    (the a.label < b.label join has nothing to pair), not crash."""
    import os

    from dataingestionengineprocess_spark.queries import (
        all_oracles,
        all_queries,
    )

    d = str(tmp_path / "sfemb")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        [(1, [1.0, 0.0], 7), (2, [0.0, 1.0], 7)],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.mode("overwrite") \
     .parquet(os.path.join(d, "embeddings.parquet"))

    sdf = all_queries()["embedding_centroid_similarity"](spark, d).toPandas()
    odf = _oracle_con(d, tables=("embeddings",)).execute(
        all_oracles()["embedding_centroid_similarity"]).df()
    assert len(sdf) == 0 and len(odf) == 0
