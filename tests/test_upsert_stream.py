"""Streaming incremental MERGE: files delivered across micro-batches
land keep-latest-by-key, and reprocessing already-seen data is a no-op
(checkpoint ledger + idempotent merge)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from dataingestionengineprocess_spark.pipeline import (
    upsert_stream,
    upsert_stream_versioned,
)
from dataingestionengineprocess_spark.sinks.versioned import VersionedTable

SCHEMA = T.StructType([
    T.StructField("k", T.LongType()),
    T.StructField("v", T.StringType()),
    T.StructField("ver", T.LongType()),
])


def _table(spark, wh):
    return {
        (r["k"], r["v"], r["ver"])
        for r in spark.read.parquet(os.path.join(wh, "t")).collect()
    }


def test_multi_batch_upsert_keeps_latest(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    wh, ckpt = str(tmp_path / "wh"), str(tmp_path / "ckpt")
    (src / "a.csv").write_text("k,v,ver\n1,old,1\n2,b,1\n1,dup_newer,2\n")
    (src / "b.csv").write_text("k,v,ver\n1,new,3\n3,c,1\n")

    q = upsert_stream(
        spark, SCHEMA, str(src), wh, "t", keys=["k"], order_col="ver",
        checkpoint_dir=ckpt, max_files_per_trigger=1,
    )
    q.awaitTermination()

    # Whatever order the two files were batched in, keep-latest wins.
    assert _table(spark, wh) == {(1, "new", 3), (2, "b", 1), (3, "c", 1)}


def test_rerun_without_new_files_changes_nothing(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    wh, ckpt = str(tmp_path / "wh"), str(tmp_path / "ckpt")
    (src / "a.csv").write_text("k,v,ver\n1,a,1\n")

    upsert_stream(spark, SCHEMA, str(src), wh, "t", keys=["k"],
                  order_col="ver", checkpoint_dir=ckpt).awaitTermination()
    first = _table(spark, wh)
    # Same checkpoint, no new files: the file ledger skips everything.
    upsert_stream(spark, SCHEMA, str(src), wh, "t", keys=["k"],
                  order_col="ver", checkpoint_dir=ckpt).awaitTermination()
    assert _table(spark, wh) == first == {(1, "a", 1)}


def test_late_correction_file_updates_row(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    wh, ckpt = str(tmp_path / "wh"), str(tmp_path / "ckpt")
    (src / "a.csv").write_text("k,v,ver\n1,a,1\n2,b,1\n")
    upsert_stream(spark, SCHEMA, str(src), wh, "t", keys=["k"],
                  order_col="ver", checkpoint_dir=ckpt).awaitTermination()

    (src / "b.csv").write_text("k,v,ver\n2,b_fixed,2\n")
    upsert_stream(spark, SCHEMA, str(src), wh, "t", keys=["k"],
                  order_col="ver", checkpoint_dir=ckpt).awaitTermination()

    assert _table(spark, wh) == {(1, "a", 1), (2, "b_fixed", 2)}


@pytest.mark.parametrize("versioned", [False, True])
def test_malformed_rows_go_to_rejects_not_the_table(spark, tmp_path,
                                                    versioned):
    """A bad double and a bad key are rejected with their raw lines;
    only the well-formed row is merged (no partial-null or key-NULL
    rows), through both CSV upsert entry points."""
    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("ver", T.LongType()),
    ])
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.csv").write_text("k,x,ver\n1,1.5,1\n2,zz,1\nxx,3.0,1\n")
    ckpt = str(tmp_path / "ckpt")
    if versioned:
        tbl = str(tmp_path / "vtbl")
        upsert_stream_versioned(
            spark, schema, str(src), tbl, keys=["k"], order_col="ver",
            checkpoint_dir=ckpt,
        ).awaitTermination()
        table = VersionedTable(spark, tbl).read()
    else:
        wh = str(tmp_path / "wh")
        upsert_stream(spark, schema, str(src), wh, "t", keys=["k"],
                      order_col="ver",
                      checkpoint_dir=ckpt).awaitTermination()
        tbl = os.path.join(wh, "t")
        table = spark.read.parquet(tbl)

    assert {tuple(r) for r in table.collect()} == {(1, 1.5, 1)}
    rejects = spark.read.parquet(tbl + "_rejects").collect()
    assert sorted(r.raw_record for r in rejects) == ["2,zz,1", "xx,3.0,1"]
    assert {r._run_id for r in rejects} == {"stream-000000000000"}
