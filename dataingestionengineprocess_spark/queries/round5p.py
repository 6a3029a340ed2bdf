"""Round-4 (continued) addition: the streaming token-bucket rate
limiter.

`stream_rate_limit_gate` -- per-user admission control with carried
state, the ops primitive in front of every downstream consumer: each
user owns a token bucket (capacity 4, refill 2 per micro-batch);
within a batch their events are ranked by (ts, event_id) and the
first `available` are admitted, the rest rejected; leftover tokens
carry to the next batch through a parquet state table (the same
foreachBatch state idiom as `stream_incremental_dedup`). The events
table drains as three epoch files (event_id % 3, staged by the shared
`stage_epoch_files` scaffolding outside the measured path).

Output: one row per epoch with admitted/rejected counts AND an
md5 digest of the admitted event-id set (lpad-20, sorted), so the
oracle -- which unrolls the three-epoch bucket recursion as chained
CTEs over per-user counts -- must agree on every single admission
decision, not just totals.

State semantics (mirrored exactly by the oracle): the token table is
each batch's users only, so a user ABSENT from a batch re-enters the
next one with a full bucket -- "idle epoch resets the bucket", the
forgiving flavor of rate limiting that also keeps the state table
bounded by active users instead of the all-time user universe.

Reference parity: diagram-only reference (SURVEY.md §0); extends the
[R] ingest-control stage and the ST stateful family
(BASELINE.json:6).

Registered LAST (queries/__init__._load_all) so the pre-flighted
driver window is never displaced mid-round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load
from ..objectstore import hadoop_fs
from . import register

_RL_CAP = 4
_RL_REFILL = 2
_RL_EPOCHS = 3


def _rl_epoch_sql(k: int) -> str:
    """CTE pair for epoch k: availability from the previous token
    table, per-event admission by rank, and the next token table."""
    prev = f"t{k - 1}" if k else None
    avail = (f"least({_RL_CAP}, coalesce(t.tokens, {_RL_CAP}) "
             f"+ {_RL_REFILL})" if k else str(_RL_CAP))
    join = (f"LEFT JOIN {prev} t ON t.user_id = e.user_id" if k else "")
    return f"""
a{k} AS (
  SELECT e.user_id, e.event_id, e.rk,
         {avail} AS avail
  FROM (
    SELECT user_id, event_id,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rk
    FROM ev WHERE epoch = {k}
  ) e {join}
),
adm{k} AS (
  SELECT user_id, event_id, avail,
         CASE WHEN rk <= avail THEN 1 ELSE 0 END AS admitted
  FROM a{k}
),
t{k} AS (
  SELECT user_id,
         CAST(max(avail) - sum(admitted) AS BIGINT) AS tokens
  FROM adm{k} GROUP BY user_id
)"""


def _rate_limit_oracle() -> str:
    epochs = ",".join(_rl_epoch_sql(k) for k in range(_RL_EPOCHS))
    unions = " UNION ALL ".join(
        f"SELECT {k} AS epoch, user_id, event_id, admitted FROM adm{k}"
        for k in range(_RL_EPOCHS))
    return f"""
WITH ev AS MATERIALIZED (
  SELECT event_id, ts, user_id,
         CAST(event_id % {_RL_EPOCHS} AS BIGINT) AS epoch
  FROM events
),
{epochs},
alld AS ({unions})
SELECT CAST(epoch AS BIGINT) AS epoch,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(admitted) AS BIGINT) AS n_admitted,
       CAST(count(*) - sum(admitted) AS BIGINT) AS n_rejected,
       md5(coalesce(string_agg(CASE WHEN admitted = 1 THEN
               lpad(CAST(event_id AS VARCHAR), 20, '0') END, ','
               ORDER BY event_id), '')) AS admitted_md5
FROM alld
GROUP BY epoch
ORDER BY epoch
"""


@register("stream_rate_limit_gate", oracle=_rate_limit_oracle())
def stream_rate_limit_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain a 3-epoch event stream through a per-user token bucket
    (cap 4, refill 2); per-epoch admission counts + the md5 digest of
    every admitted event id."""
    import os

    from ..catalog import scratch_dir
    from .streaming import stage_epoch_files

    def frame():
        return load(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id",
            (F.col("event_id") % _RL_EPOCHS).alias("epoch"))

    src = stage_epoch_files(spark, sf_dir, source_table="events",
                            tag="rlsrc", frame_fn=frame,
                            n_epochs=_RL_EPOCHS)
    scratch = scratch_dir("ratelimit", sf_dir)
    state_path = os.path.join(scratch, "tokens")
    out_path = os.path.join(scratch, "decisions")

    schema = spark.read.parquet(src).schema

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.localCheckpoint(eager=True)
        if batch.isEmpty():
            return
        sess = batch.sparkSession
        fs, sp = hadoop_fs(sess, state_path)
        ranked = batch.select(
            "user_id", "event_id",
            F.row_number().over(
                W.partitionBy("user_id").orderBy("ts", "event_id"))
            .alias("rk"),
        )
        if fs.exists(sp):
            tokens = sess.read.parquet(state_path).select(
                "user_id", "tokens")
            avail = F.least(
                F.lit(_RL_CAP),
                F.coalesce(F.col("tokens"), F.lit(_RL_CAP))
                + F.lit(_RL_REFILL))
            ranked = ranked.join(tokens, "user_id", "left")
        else:
            avail = F.lit(_RL_CAP)
        decided = ranked.select(
            "user_id", "event_id", avail.alias("avail"),
            F.when(F.col("rk") <= avail, 1).otherwise(0)
            .alias("admitted"),
        ).localCheckpoint(eager=True)
        decided.select(
            F.lit(int(epoch_id)).alias("epoch"), "user_id", "event_id",
            "admitted",
        ).write.mode("append").parquet(out_path)
        (
            decided.groupBy("user_id")
            .agg((F.max("avail") - F.sum("admitted")).cast("long")
                 .alias("tokens"))
            .write.mode("overwrite").parquet(state_path + ".next")
        )
        # swap: read-back-and-overwrite races with the ongoing read in
        # the same batch, so publish via the staged .next directory
        nxt = sp.suffix(".next")
        if fs.exists(sp):
            fs.delete(sp, True)
        fs.rename(nxt, sp)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dec = spark.read.parquet(out_path)
    digest = F.md5(
        F.array_join(
            F.array_sort(F.collect_list(
                F.when(F.col("admitted") == 1,
                       F.lpad(F.col("event_id").cast("string"), 20,
                              "0")))),
            ",").cast("binary"))
    return (
        dec.groupBy("epoch")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("admitted").cast("long").alias("n_admitted"),
            (F.count(F.lit(1)) - F.sum("admitted")).cast("long")
            .alias("n_rejected"),
            digest.alias("admitted_md5"),
        )
        .orderBy("epoch")
    )
