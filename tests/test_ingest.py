"""End-to-end ingestion pipeline tests: CSV landing zone -> validate
-> dedup -> enrich -> dual sink -> status (the reference's [R] core).

Covers the edge cases the DuckDB oracle comparison can't express
(SURVEY.md §5.4): malformed-CSV routing, quarantine rules, keep-latest
dedup of re-delivered rows, idempotent re-runs, streaming exactly-once
per file.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataingestionengineprocess_spark.operators.quality import (
    in_range,
    not_null,
    one_of,
)
from dataingestionengineprocess_spark.pipeline import (
    Enrichment,
    FeedConfig,
    SinkConfig,
    ingest_batch,
    ingest_stream,
)
from dataingestionengineprocess_spark.sinks.warehouse import read_status

SCHEMA = T.StructType([
    T.StructField("order_id", T.LongType()),
    T.StructField("cust", T.StringType()),
    T.StructField("amount", T.DoubleType()),
    T.StructField("status", T.StringType()),
    T.StructField("updated_at", T.TimestampType()),
])

GOOD_CSV = """order_id,cust,amount,status,updated_at
1,alice,10.5,OPEN,2024-01-01 10:00:00
2,bob,20.0,CLOSED,2024-01-01 11:00:00
3,carol,-5.0,OPEN,2024-01-01 12:00:00
4,dave,99.0,BOGUS,2024-01-01 13:00:00
2,bob,25.0,CLOSED,2024-01-02 09:00:00
"""

BAD_ROWS_CSV = """order_id,cust,amount,status,updated_at
5,erin,1.0,OPEN,2024-01-03 08:00:00
not_a_number,frank,2.0,OPEN,2024-01-03 09:00:00
6,grace,xyz,CLOSED,2024-01-03 10:00:00
"""


DIM_ROWS = [("alice", "US"), ("bob", "EU"), ("carol", "US"),
            ("dave", "APAC"), ("erin", "EU"), ("grace", "US")]
DIM_DDL = "cust_name string, region string"


def _feed(spark, dim=None) -> FeedConfig:
    if dim is None:
        dim = spark.createDataFrame(DIM_ROWS, DIM_DDL)
    return FeedConfig(
        name="orders_feed",
        schema=SCHEMA,
        key_cols=["order_id"],
        order_col="updated_at",
        rules=[
            not_null("order_id"),
            in_range("amount", 0.0, 1_000_000.0),
            one_of("status", ["OPEN", "CLOSED"]),
        ],
        enrichments=[Enrichment(dim=dim, fact_col="cust", dim_col="cust_name")],
    )


@pytest.fixture()
def landing(tmp_path):
    d = tmp_path / "landing"
    d.mkdir()
    return d


@pytest.fixture()
def sinks(tmp_path) -> SinkConfig:
    return SinkConfig(
        warehouse_dir=str(tmp_path / "warehouse"),
        oltp_dir=str(tmp_path / "oltp"),
    )


def test_batch_ingest_end_to_end(spark, landing, sinks):
    (landing / "drop1.csv").write_text(GOOD_CSV)
    status = ingest_batch(spark, _feed(spark), str(landing / "drop1.csv"), sinks)

    # 5 data rows; order 2 re-delivered (keep latest); -5 amount and
    # BOGUS status quarantined -> loaded = orders 1 and 2(newest)
    assert status.rows_read == 5
    assert status.rows_quarantined == 2
    assert status.rows_loaded == 2
    assert status.rows_rejected == 0

    wh = spark.read.parquet(os.path.join(sinks.warehouse_dir, "orders_feed"))
    rows = {r.order_id: r for r in wh.collect()}
    assert set(rows) == {1, 2}
    assert rows[2].amount == 25.0, "keep-latest must pick the re-delivery"
    assert rows[1].region == "US", "enrichment join must attach region"

    oltp = spark.read.parquet(os.path.join(sinks.oltp_dir, "orders_feed_oltp"))
    assert oltp.count() == 2

    quar = spark.read.parquet(
        os.path.join(sinks.warehouse_dir, "orders_feed_quarantine")
    )
    viol = {r.order_id: r._violations for r in quar.collect()}
    assert viol == {3: "range_amount", 4: "one_of_status"}

    st = read_status(spark, sinks.warehouse_dir)
    assert st.filter(F.col("feed") == "orders_feed").count() == 1


def test_batch_metrics_come_from_observe_not_count(spark, landing, sinks,
                                                   monkeypatch):
    """A8 policy: RunStatus counts must ride along on the write actions
    via observe(), never via standalone .count() passes. Poisoning
    DataFrame.count proves the batch path triggers no counting action;
    the status row must still carry correct numbers."""
    # the concrete class: pyspark.sql.DataFrame is its abstract base,
    # and patching the base leaves the real count() untouched
    from pyspark.sql.classic.dataframe import DataFrame

    def _no_count(self):
        raise AssertionError(
            "ingest_batch must not run standalone .count() actions; "
            "metrics ride along via observe()"
        )

    monkeypatch.setattr(DataFrame, "count", _no_count)
    (landing / "drop1.csv").write_text(GOOD_CSV)
    status = ingest_batch(spark, _feed(spark), str(landing / "drop1.csv"), sinks)
    assert status.rows_read == 5
    assert status.rows_loaded == 2
    assert status.rows_quarantined == 2
    assert status.rows_rejected == 0


def test_malformed_rows_routed_to_rejects(spark, landing, sinks):
    (landing / "drop2.csv").write_text(BAD_ROWS_CSV)
    status = ingest_batch(spark, _feed(spark), str(landing / "drop2.csv"), sinks)
    # 'not_a_number' (bad long) and 'xyz' (bad double) both corrupt the
    # row in PERMISSIVE mode -> rejects; only row 5 loads clean.
    assert status.rows_rejected == 2
    assert status.rows_loaded == 1
    rej = spark.read.parquet(
        os.path.join(sinks.warehouse_dir, "orders_feed_rejects")
    )
    raw = [r.raw_record for r in rej.collect()]
    assert any("not_a_number" in r for r in raw)
    assert any("xyz" in r for r in raw)


def test_rerun_same_file_is_idempotent(spark, landing, sinks):
    (landing / "drop1.csv").write_text(GOOD_CSV)
    path = str(landing / "drop1.csv")
    feed = _feed(spark)
    ingest_batch(spark, feed, path, sinks, run_id="run-A")
    ingest_batch(spark, feed, path, sinks, run_id="run-A")  # re-drop

    wh = spark.read.parquet(os.path.join(sinks.warehouse_dir, "orders_feed"))
    assert wh.count() == 2, "re-run of the same run_id must not duplicate"

    st = read_status(spark, sinks.warehouse_dir).filter(
        F.col("run_id") == "run-A"
    )
    # a rerun REPLACES its own status row -- one record per run_id,
    # so _runs stays truthful under retries (idempotent, not append)
    assert st.count() == 1, "rerun must replace, not duplicate, its status row"

    # the OLTP stand-in and quarantine are run-partitioned the same
    # way: the rerun replaced its partitions instead of appending
    oltp = spark.read.parquet(os.path.join(sinks.oltp_dir, "orders_feed_oltp"))
    assert oltp.count() == 2, "OLTP rerun must not duplicate"
    quar = spark.read.parquet(
        os.path.join(sinks.warehouse_dir, "orders_feed_quarantine"))
    assert quar.filter(F.col("_run_id") == "run-A").count() == 2


def test_streaming_ingest_exactly_once_per_file(spark, landing, sinks, tmp_path):
    feed = _feed(spark)
    ckpt = str(tmp_path / "ckpt")

    (landing / "f1.csv").write_text(GOOD_CSV)
    q = ingest_stream(spark, feed, str(landing), sinks, ckpt)
    q.awaitTermination(120)

    wh_dir = os.path.join(sinks.warehouse_dir, "orders_feed")
    assert spark.read.parquet(wh_dir).count() == 2

    # second file arrives; restart drains ONLY the new file
    (landing / "f2.csv").write_text(BAD_ROWS_CSV)
    q2 = ingest_stream(spark, feed, str(landing), sinks, ckpt)
    q2.awaitTermination(120)

    wh = spark.read.parquet(wh_dir)
    # f1 contributes 2; from f2 only row 5 survives -- the malformed
    # rows are ROUTED to the rejects table with the raw line preserved
    # (same corrupt-record contract as the batch path), not silently
    # parsed into all-null rows
    assert wh.count() == 3
    rejects = spark.read.parquet(
        os.path.join(sinks.warehouse_dir, "orders_feed_rejects"))
    assert rejects.count() == 2
    assert all(r.raw_record for r in rejects.collect())
    # file lineage must survive the foreachBatch cache: input_file_name
    # evaluated after the curated write materializes the cache returns
    # '', so _source_file is stamped during the scan (pre-cache)
    assert all(
        r["_source_file"] and r["_source_file"].endswith("f2.csv")
        for r in rejects.select("_source_file").collect()
    )
    st = read_status(spark, sinks.warehouse_dir)
    assert st.filter(F.col("feed") == "orders_feed").count() == 2
    assert st.agg(F.sum("rows_rejected")).collect()[0][0] == 2


def test_csv_dropmalformed_mode(spark, landing):
    from dataingestionengineprocess_spark.sources.csv_source import (
        read_csv_feed,
    )

    (landing / "drop3.csv").write_text(BAD_ROWS_CSV)
    batch = read_csv_feed(
        spark, str(landing / "drop3.csv"), SCHEMA, mode="DROPMALFORMED"
    )
    assert batch.rejects.count() == 0
    ids = {r.order_id for r in batch.clean.select("order_id").collect()}
    assert 5 in ids and None not in ids


def test_csv_failfast_mode(spark, landing):
    import pytest as _pytest
    from dataingestionengineprocess_spark.sources.csv_source import (
        read_csv_feed,
    )

    (landing / "drop4.csv").write_text(BAD_ROWS_CSV)
    batch = read_csv_feed(
        spark, str(landing / "drop4.csv"), SCHEMA, mode="FAILFAST"
    )
    # count() prunes all columns and may never hit the bad field --
    # collect() forces the full parse
    with _pytest.raises(Exception, match="[Mm]alformed"):
        batch.clean.collect()


def test_json_feed_routes_malformed_lines(spark, landing):
    from dataingestionengineprocess_spark.sources.json_source import (
        read_json_feed,
    )

    (landing / "drop.jsonl").write_text(
        '{"order_id": 1, "cust": "alice", "amount": 10.5}\n'
        'this is not json\n'
        '{"order_id": 2, "cust": "bob", "amount": "NaNope"}\n'
    )
    schema = T.StructType([
        T.StructField("order_id", T.LongType()),
        T.StructField("cust", T.StringType()),
        T.StructField("amount", T.DoubleType()),
    ])
    batch = read_json_feed(spark, str(landing / "drop.jsonl"), schema)
    assert batch.clean.count() == 1
    assert batch.clean.collect()[0].order_id == 1
    raw = [r.raw_record for r in batch.rejects.collect()]
    assert len(raw) == 2
    assert any("not json" in r for r in raw)


def test_csv_by_name_survives_reordered_and_extra_columns(spark, tmp_path):
    """Schema drift: the partner reorders columns and appends a new
    one; the by-name reader still parses declared columns correctly."""
    from dataingestionengineprocess_spark.sources.csv_source import (
        read_csv_feed_by_name,
    )
    from pyspark.sql import types as T

    p = tmp_path / "drop.csv"
    p.write_text("name,extra,id\n" "alice,zzz,1\n" "bob,yyy,2\n")
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
    ])
    batch = read_csv_feed_by_name(spark, str(p), schema)
    rows = {r.id: r.name for r in batch.clean.collect()}
    assert rows == {1: "alice", 2: "bob"}
    assert batch.rejects.count() == 0


def test_csv_by_name_rejects_uncastable_cells_and_missing_columns(spark, tmp_path):
    from dataingestionengineprocess_spark.sources.csv_source import (
        read_csv_feed_by_name,
    )
    from pyspark.sql import types as T
    import pytest

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
    ])

    p = tmp_path / "bad_cell.csv"
    p.write_text("id,name\n" "1,alice\n" "not_a_number,bob\n")
    batch = read_csv_feed_by_name(spark, str(p), schema)
    assert [r.id for r in batch.clean.collect()] == [1]
    rej = batch.rejects.collect()
    assert len(rej) == 1 and "not_a_number" in rej[0].raw_record

    p2 = tmp_path / "missing_col.csv"
    p2.write_text("id,other\n" "1,x\n")
    with pytest.raises(ValueError, match="contract violation"):
        read_csv_feed_by_name(spark, str(p2), schema)


def test_replay_quarantine_after_rule_fix(spark, landing, sinks):
    """Rows quarantined under strict rules flow to the sinks once the
    rules are relaxed; the quarantine table only ever shrinks."""
    from dataingestionengineprocess_spark.pipeline import replay_quarantine

    (landing / "drop1.csv").write_text(GOOD_CSV)
    feed = _feed(spark)
    first = ingest_batch(spark, feed, str(landing / "drop1.csv"), sinks)
    assert first.rows_quarantined == 2

    # the rule fix: negative amounts allowed, BOGUS recognized
    feed.rules = [
        not_null("order_id"),
        in_range("amount", -100.0, 1_000_000.0),
        one_of("status", ["OPEN", "CLOSED", "BOGUS"]),
    ]
    status = replay_quarantine(spark, feed, sinks)
    assert status.rows_read == 2
    assert status.rows_loaded == 2
    assert status.rows_quarantined == 0

    wh = spark.read.parquet(os.path.join(sinks.warehouse_dir, "orders_feed"))
    assert {r.order_id for r in wh.collect()} == {1, 2, 3, 4}
    assert {r.order_id for r in wh.filter(
        F.col("_run_id") == status.run_id).collect()} == {3, 4}
    quar = spark.read.parquet(
        os.path.join(sinks.warehouse_dir, "orders_feed_quarantine"))
    assert quar.count() == 0

    # replay status lands in the _runs table like any run
    runs = read_status(spark, sinks.warehouse_dir)
    assert runs.filter(F.col("run_id") == status.run_id).count() == 1


def test_replay_quarantine_partial(spark, landing, sinks):
    """A partial rule fix loads only the now-passing rows and keeps
    the rest quarantined with fresh violation labels."""
    from dataingestionengineprocess_spark.pipeline import replay_quarantine

    (landing / "drop1.csv").write_text(GOOD_CSV)
    feed = _feed(spark)
    ingest_batch(spark, feed, str(landing / "drop1.csv"), sinks)

    feed.rules = [
        not_null("order_id"),
        in_range("amount", -100.0, 1_000_000.0),   # -5 now fine
        one_of("status", ["OPEN", "CLOSED"]),      # BOGUS still out
    ]
    status = replay_quarantine(spark, feed, sinks)
    assert status.rows_loaded == 1
    assert status.rows_quarantined == 1
    quar = spark.read.parquet(
        os.path.join(sinks.warehouse_dir, "orders_feed_quarantine"))
    rows = quar.collect()
    assert len(rows) == 1 and rows[0].order_id == 4
    assert rows[0]._violations == "one_of_status"


def test_ingest_new_files_ledger(spark, landing, sinks):
    """The landing sweep ingests each file identity exactly once and
    re-ingests a re-dropped (changed) file."""
    import time as _t

    from dataingestionengineprocess_spark.pipeline import ingest_new_files

    feed = _feed(spark)
    (landing / "a.csv").write_text(GOOD_CSV)
    s1 = ingest_new_files(spark, feed, str(landing), sinks)
    assert s1 is not None and s1.rows_read == 5

    # nothing new -> no run at all
    assert ingest_new_files(spark, feed, str(landing), sinks) is None

    # a second file: only IT is ingested
    (landing / "b.csv").write_text(BAD_ROWS_CSV)
    s2 = ingest_new_files(spark, feed, str(landing), sinks)
    assert s2 is not None
    assert s2.rows_read == 3 and s2.rows_rejected == 2

    # re-dropped file with new content = new identity -> re-ingested
    _t.sleep(0.05)  # ensure a distinct mtime
    (landing / "a.csv").write_text(GOOD_CSV + "9,erin,1.0,OPEN,2024-01-05 08:00:00\n")
    s3 = ingest_new_files(spark, feed, str(landing), sinks)
    assert s3 is not None and s3.rows_read == 6

    ledger = spark.read.parquet(
        os.path.join(sinks.warehouse_dir, "orders_feed_ledger"))
    assert ledger.count() == 3
    assert ledger.select("run_id").distinct().count() == 3


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_control_plane_frames_start_no_python_worker(spark, landing, sinks,
                                                     tmp_path, monkeypatch,
                                                     arrow):
    """A8 companion for the control plane: the ledger listing and
    append, the `_runs` row, the DROPMALFORMED empty rejects and the
    `_stream_progress` rows are driver-known and built JVM-side via
    `local_frame`. Poisoning SparkContext.parallelize -- the entry of
    every list-built frame, whose actions start Python workers --
    proves no per-run path takes that route, with the Arrow conf
    either way; counts, ledger rows and `_runs` rows must still be
    right."""
    from types import SimpleNamespace

    from pyspark import SparkContext
    from pyspark.sql import Observation

    from dataingestionengineprocess_spark.pipeline import ingest_new_files
    from dataingestionengineprocess_spark.session import local_frame
    from dataingestionengineprocess_spark.sinks.warehouse import (
        write_run_partition,
    )
    from dataingestionengineprocess_spark.sources.csv_source import (
        read_csv_feed,
    )
    from dataingestionengineprocess_spark.streaming.telemetry import (
        RunTelemetryListener,
        read_progress,
    )

    def _no_parallelize(self, *a, **k):
        raise AssertionError(
            "control-plane frames must be built JVM-side (local_frame), "
            "not parallelized from a Python list"
        )

    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, arrow)
    try:
        feed = _feed(spark, dim=local_frame(spark, DIM_ROWS, DIM_DDL))
        monkeypatch.setattr(SparkContext, "parallelize", _no_parallelize)

        (landing / "a.csv").write_text(GOOD_CSV)
        s1 = ingest_new_files(spark, feed, str(landing), sinks)
        assert (s1.rows_read, s1.rows_loaded, s1.rows_quarantined,
                s1.rows_rejected) == (5, 2, 2, 0)
        (landing / "b.csv").write_text(BAD_ROWS_CSV)
        s2 = ingest_new_files(spark, feed, str(landing), sinks)
        assert (s2.rows_read, s2.rows_loaded, s2.rows_quarantined,
                s2.rows_rejected) == (3, 1, 0, 2)
        assert ingest_new_files(spark, feed, str(landing), sinks) is None

        ledger = spark.read.parquet(
            os.path.join(sinks.warehouse_dir, "orders_feed_ledger"))
        assert sorted(
            (os.path.basename(r.path), r.run_id) for r in ledger.collect()
        ) == [("a.csv", s1.run_id), ("b.csv", s2.run_id)]
        runs = {r.run_id: (r.rows_read, r.rows_loaded, r.rows_quarantined,
                           r.rows_rejected, r.status)
                for r in read_status(spark, sinks.warehouse_dir).collect()}
        assert runs == {s1.run_id: (5, 2, 2, 0, "SUCCEEDED"),
                        s2.run_id: (3, 1, 0, 2, "SUCCEEDED")}

        batch = read_csv_feed(spark, str(landing / "b.csv"), SCHEMA,
                              mode="DROPMALFORMED")
        rej_obs = Observation("guard_rejects")
        part = write_run_partition(
            batch.rejects.observe(rej_obs, F.count(F.lit(1)).alias("rows")),
            str(tmp_path / "rejects"), "run-dm",
        )
        assert rej_obs.get["rows"] == 0
        assert spark.read.parquet(part).columns == [
            "raw_record", "_source_file"]
        assert [r.order_id for r in batch.clean.collect()] == [5]

        listener = RunTelemetryListener()
        listener.onQueryStarted(SimpleNamespace(
            id="q1", runId="r1", name="probe", timestamp="t0"))
        listener.onQueryProgress(SimpleNamespace(progress=SimpleNamespace(
            id="q1", runId="r1", batchId=0, name="probe", numInputRows=7,
            inputRowsPerSecond=3.5, processedRowsPerSecond=None,
            durationMs={"triggerExecution": 12}, timestamp="t1")))
        listener.onQueryTerminated(SimpleNamespace(
            id="q1", runId="r1", exception=None))
        listener.flush(spark, sinks.warehouse_dir)
        prog = read_progress(spark, sinks.warehouse_dir).collect()
        assert [(r.event, r.num_input_rows) for r in prog] == [
            ("started", 0), ("progress", 7), ("terminated", 0)]
    finally:
        spark.conf.set(key, prev)


def test_control_plane_tables_read_across_old_and_new_writers(spark, landing,
                                                              sinks):
    """`_runs` partitions, ledger files and `_stream_progress` files
    written by the earlier list-built writer (spark.createDataFrame
    over a Python list) and by `local_frame` read back as ONE table
    with ONE schema -- no mergeSchema -- and the ledger semi-join still
    skips files the old writer recorded."""
    import glob

    import pyarrow.parquet as pq

    from dataingestionengineprocess_spark.pipeline import (
        _list_landing_files,
        ingest_new_files,
    )
    from dataingestionengineprocess_spark.sinks.warehouse import (
        RunStatus,
        write_status,
    )
    from dataingestionengineprocess_spark.streaming import telemetry

    wh = sinks.warehouse_dir
    runs_ddl = ("run_id string, feed string, rows_read long, "
                "rows_loaded long, rows_rejected long, "
                "rows_quarantined long, started_at double, "
                "finished_at double, duration_s double, status string")
    (spark.createDataFrame(
        [("run-old", "orders_feed", 5, 2, 0, 2, 1.0, 2.5, 1.5, "SUCCEEDED")],
        runs_ddl,
    ).drop("run_id").coalesce(1).write.mode("overwrite")
     .parquet(os.path.join(wh, "_runs", "run_id=run-old")))
    write_status(spark, wh, RunStatus(
        run_id="run-new", feed="orders_feed", rows_read=3, rows_loaded=1,
        rows_rejected=2, rows_quarantined=0, started_at=3.0,
        finished_at=4.25,
    ))

    (landing / "a.csv").write_text(GOOD_CSV)
    ledger_path = os.path.join(wh, "orders_feed_ledger")
    spark.createDataFrame(
        [(p, s, m, "run-old") for p, s, m in
         _list_landing_files(spark, str(landing))],
        "path string, size long, mtime_ms long, run_id string",
    ).coalesce(1).write.mode("append").parquet(ledger_path)
    (landing / "b.csv").write_text(BAD_ROWS_CSV)
    status = ingest_new_files(spark, _feed(spark), str(landing), sinks)
    assert status.rows_read == 3, "a.csv is in the old ledger: skip it"
    assert ingest_new_files(spark, _feed(spark), str(landing), sinks) is None

    progress = [("q1", "r1", -1, "probe", 0, 0.0, 0.0, 0, "started", "t0"),
                ("q1", "r1", 0, None, 7, 3.5, 1.25, 12, "progress", "t1")]
    (spark.createDataFrame(progress[:1], telemetry._SCHEMA).coalesce(1)
     .write.mode("append").parquet(os.path.join(wh, telemetry.PROGRESS_TABLE)))
    telemetry.ParquetMetricsExporter(wh).export_progress(spark, progress[1:])
    assert sorted(tuple(r) for r in telemetry.read_progress(spark, wh)
                  .collect()) == sorted(progress)

    # one old-writer file + the new writer's files per table
    for table, n_files in (("_runs", 3), ("orders_feed_ledger", 2),
                           (telemetry.PROGRESS_TABLE, 2)):
        files = glob.glob(os.path.join(wh, table, "**", "*.parquet"),
                          recursive=True)
        assert len(files) == n_files, files
        first, *rest = (pq.read_schema(f) for f in files)
        for other in rest:
            assert other.equals(first, check_metadata=True), (table, other)

    runs = {r.run_id: r for r in read_status(spark, wh).collect()}
    assert set(runs) == {"run-old", "run-new", status.run_id}
    assert runs["run-old"].duration_s == 1.5
    assert runs["run-new"].duration_s == 1.25
    ledger = spark.read.parquet(ledger_path)
    assert ledger.columns == ["path", "size", "mtime_ms", "run_id"]
    assert sorted((os.path.basename(r.path), r.run_id)
                  for r in ledger.collect()) == [
        ("a.csv", "run-old"), ("b.csv", status.run_id)]


HEADER = GOOD_CSV.splitlines(keepends=True)[0]
TS_FORMAT_CSV = HEADER + (
    "1,alice,10.5,OPEN,01/02/2024 10:00\n"
    "2,bob,20.0,CLOSED,02/02/2024 11:30\n"
)


def _ingest(spark, entry, feed, landing, sinks, checkpoint_dir):
    """Ingest every file under ``landing`` as ONE run through ``entry``
    ("batch" or "stream"); return the run's (read, loaded, rejected,
    quarantined) counts."""
    if entry == "batch":
        s = ingest_batch(spark, feed, sorted(map(str, landing.iterdir())),
                         sinks)
        return (s.rows_read, s.rows_loaded, s.rows_rejected,
                s.rows_quarantined)
    ingest_stream(spark, feed, str(landing), sinks,
                  checkpoint_dir).awaitTermination(120)
    [r] = read_status(spark, sinks.warehouse_dir).collect()
    return (r.rows_read, r.rows_loaded, r.rows_rejected, r.rows_quarantined)


@pytest.mark.parametrize("drops, ts_format, counts", [
    ({"a.csv": GOOD_CSV, "b.csv": BAD_ROWS_CSV}, None, (8, 3, 2, 2)),
    # a timestamp the reader cannot parse would reject its row
    ({"a.csv": TS_FORMAT_CSV}, "dd/MM/yyyy HH:mm", (2, 2, 0, 0)),
], ids=["defects", "timestamp-format"])
def test_batch_and_stream_runs_agree(spark, landing, tmp_path, drops,
                                     ts_format, counts):
    """The same drops give the same counts and curated rows through
    `ingest_batch` and `ingest_stream`, the feed's timestamp format
    included: both paths parse with one reader chain and finish with
    one run tail."""
    feed = _feed(spark)
    feed.timestamp_format = ts_format
    for name, text in drops.items():
        (landing / name).write_text(text)
    out = {}
    for entry in ("batch", "stream"):
        sinks = SinkConfig(warehouse_dir=str(tmp_path / entry / "wh"),
                           oltp_dir=str(tmp_path / entry / "oltp"))
        got = _ingest(spark, entry, feed, landing, sinks,
                      str(tmp_path / entry / "ckpt"))
        curated = spark.read.parquet(
            os.path.join(sinks.warehouse_dir, feed.name)
        ).drop("_run_id", "_source_file")
        out[entry] = got, sorted(
            tuple(r) for r in curated.select(sorted(curated.columns)).collect()
        )
    assert out["batch"] == out["stream"]
    assert out["batch"][0] == counts


@pytest.mark.parametrize("entry", ["batch", "stream"])
@pytest.mark.parametrize("text, counts", [
    (HEADER, (0, 0, 0, 0)),
    (HEADER + "x,alice,1.0,OPEN,2024-01-01 10:00:00\n"
     "7,bob,zz,OPEN,2024-01-01 10:00:00\n", (2, 0, 2, 0)),
    (HEADER + "7,alice,-1.0,OPEN,2024-01-01 10:00:00\n"
     "8,bob,5.0,BOGUS,2024-01-01 10:00:00\n", (2, 0, 0, 2)),
    (HEADER + "x,alice,1.0,OPEN,2024-01-01 10:00:00\n"
     "8,bob,5.0,BOGUS,2024-01-01 10:00:00\n", (2, 0, 1, 1)),
], ids=["header-only", "all-malformed", "all-quarantined",
        "malformed-and-quarantined"])
def test_runs_with_an_empty_curated_result_report_their_counts(
        spark, landing, sinks, tmp_path, entry, text, counts):
    """A drop with no surviving row completes with true counts under
    the engine's default confs: AQE prunes a provably empty lineage,
    observations included, so the run tail observes over caches. The
    run releases every cache it made."""
    spark.catalog.clearCache()
    jcm = spark._jsparkSession.sharedState().cacheManager()
    (landing / "drop.csv").write_text(text)
    assert _ingest(spark, entry, _feed(spark), landing, sinks,
                   str(tmp_path / "ckpt")) == counts
    assert jcm.isEmpty()


def test_header_only_first_run_leaves_a_readable_warehouse_table(
        spark, landing, sinks):
    """A first run with no rows still materializes the warehouse table
    as a readable 0-row run partition carrying the curated schema."""
    (landing / "drop.csv").write_text(HEADER)
    ingest_batch(spark, _feed(spark), str(landing / "drop.csv"), sinks,
                 run_id="r1")
    wh = spark.read.parquet(os.path.join(sinks.warehouse_dir, "orders_feed"))
    assert wh.count() == 0
    assert {"order_id", "region", "_run_id"} <= set(wh.columns)


def test_empty_rerun_replaces_the_run_in_both_sinks(spark, landing, sinks):
    """Rerunning a run on an empty drop replaces that run's rows in the
    warehouse exactly as in the OLTP table, so the two sinks agree."""
    feed = _feed(spark)
    (landing / "one.csv").write_text(
        HEADER + "1,alice,10.5,OPEN,2024-01-01 10:00:00\n")
    (landing / "empty.csv").write_text(HEADER)
    ingest_batch(spark, feed, str(landing / "one.csv"), sinks, run_id="r2")
    ingest_batch(spark, feed, str(landing / "empty.csv"), sinks, run_id="r2")
    for table in (os.path.join(sinks.warehouse_dir, "orders_feed"),
                  os.path.join(sinks.oltp_dir, "orders_feed_oltp")):
        rows = spark.read.parquet(table).filter(F.col("_run_id") == "r2")
        assert rows.count() == 0, table


@pytest.mark.parametrize("entry", ["batch", "stream"])
def test_failed_run_releases_its_caches(spark, landing, tmp_path, entry):
    """A run that fails after the warehouse write landed (no OLTP
    target configured: `write_oltp` raises) leaves the session cache
    manager as it found it."""
    spark.catalog.clearCache()
    jcm = spark._jsparkSession.sharedState().cacheManager()
    (landing / "drop1.csv").write_text(GOOD_CSV)
    sinks = SinkConfig(warehouse_dir=str(tmp_path / "wh"))
    with pytest.raises(Exception, match="jdbc_url or oltp_dir"):
        _ingest(spark, entry, _feed(spark), landing, sinks,
                str(tmp_path / "ckpt"))
    assert os.path.exists(os.path.join(sinks.warehouse_dir, "orders_feed"))
    assert jcm.isEmpty()
