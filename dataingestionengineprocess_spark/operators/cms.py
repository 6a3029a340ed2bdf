"""Count-min sketch frequency estimates (the sketch family's point-
frequency member, next to HLL distinct counts and Misra-Gries heavy
hitters).

`count_min_sketch(col, eps, confidence, seed)` is a Spark SQL
AGGREGATE: partial sketches build map-side per partition and merge in
the reduce -- the whole 100 TB scan contributes to ONE w x d counter
array whose size depends only on (eps, confidence), never on the data.
The finished sketch is a few KB of binary that ships to the driver,
where `org.apache.spark.util.sketch.CountMinSketch` (public Spark API)
answers point queries in O(d). Guarantees: estimate >= true count
(never under), and overshoot <= eps * N with probability `confidence`.

This is the sketch to persist alongside a table when later batches
need "roughly how often does key K appear?" without a groupBy -- e.g.
routing skew decisions (operators/skew.py) sized from last run's
sketch instead of a counting pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame


def build_cms(df: DataFrame, col: str, eps: float = 0.0001,
              confidence: float = 0.99, seed: int = 42) -> bytes:
    """One count-min sketch over the whole column (map-side partials,
    single reduce). Returns the serialized sketch."""
    row = df.agg(
        F.expr(
            f"count_min_sketch({col}, {eps}d, {confidence}d, {seed})"
        ).alias("sk")
    ).collect()[0]
    return bytes(row["sk"])


def cms_estimate(spark, sketch: bytes, items: list) -> list[int]:
    """Point-frequency estimates from a serialized sketch (driver-side
    O(d) per item, no Spark job)."""
    jcms = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        sketch
    )
    return [int(jcms.estimateCount(it)) for it in items]


def cms_point_estimates(df: DataFrame, col: str, probes: list,
                        eps: float = 0.0001, confidence: float = 0.99,
                        seed: int = 42) -> DataFrame:
    """(probe, est_count) for each probe value -- sketch built in one
    aggregate pass, probed driver-side. Deterministic for a fixed
    seed. NOTE: like an MLlib fit, constructing this result runs the
    sketch-building job eagerly."""
    spark = df.sparkSession
    sk = build_cms(df, col, eps, confidence, seed)
    ests = cms_estimate(spark, sk, probes)
    # probe column keeps the source column's type (count_min_sketch
    # supports integral AND string columns)
    probe_type = df.schema[col].dataType.simpleString()
    return local_frame(
        spark, [(p, e) for p, e in zip(probes, ests)],
        f"{col} {probe_type}, est_count long",
    )
