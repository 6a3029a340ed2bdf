"""Round-6h invariants: the stream-stream LEFT SEMI join."""

from __future__ import annotations

from pyspark.sql import functions as F

from dataingestionengineprocess_spark.catalog import load
from dataingestionengineprocess_spark.queries.stream import (
    stream_stream_semi_join,
)
from tests.conftest import SF_SMOKE


def test_semi_join_equals_batch_exists(spark):
    got = {r["purchase_id"]
           for r in stream_stream_semi_join(spark, SF_SMOKE).collect()}
    ev = load(spark, SF_SMOKE, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id",
        F.col("ts").alias("pts"))
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts"))
    want = {
        r["pid"]
        for r in p.join(
            c, (F.col("user_id") == F.col("cu"))
            & (F.col("cts") <= F.col("pts"))
            & (F.col("cts") >= F.col("pts")
               - F.expr("INTERVAL 30 MINUTES")),
            "left_semi").collect()
    }
    assert got == want
    assert len(got) > 0


def test_semi_join_emits_each_purchase_once(spark):
    rows = stream_stream_semi_join(spark, SF_SMOKE).collect()
    ids = [r["purchase_id"] for r in rows]
    assert len(ids) == len(set(ids))  # semi: no fan-out on matches
