"""The benchmark's workloads: closed loops with one client.

Every workload receives a ``Context`` (session, fixture paths, seed,
number of timed passes, optional tracer) and returns a ``Result``: wall
times of its timed units, correctness tallies and, on traced runs,
per-layer metrics. A unit is one drop (``ingest_drops``) or one query
execution (the query mixes); a pass is one cycle of drops or one run
of every member. Untimed warm-up precedes the timed passes; drop
generation and output checks are not timed. Queries are never
constructed concurrently: the registry forbids it on one session.
"""

from __future__ import annotations

import functools
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

import drops
import oracle
from spans import (Tracer, collect_tree, covered, instrument, job_intervals,
                   tree_total)

#: TPC-H-shaped mix whose time is in the action (scan, join, shuffle).
SQL_MEMBERS = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "q6_forecast_revenue", "q8_market_share", "q10_returned_items",
    "q13_order_distribution", "q18_large_volume_customers",
    "q19_disjunctive_revenue", "q21_waiting_suppliers",
    "q22_inactive_customers", "join_left_outer", "window_keep_latest",
    "agg_rollup",
]
#: Operator-heavy tail whose time is in construction (eager jobs and
#: local checkpoints inside ``operators``); none writes to the sinks.
#: ``multimodal_phash_neardup`` and ``dedup_simhash`` are left out: on
#: this fixture set their output fails its oracle (the simhash recall
#: certificate ``recall_floor_030`` comes out false), and a workload
#: must run without failures.
CURATION_MEMBERS = ["graph_pagerank_parts", "similarity_brp_lsh_certificate"]
#: Query fixture scale. Construction dominates the curation members at
#: any scale, and a larger one does not fit the measurement budget.
QUERY_SF = 0.01
#: The enrichment dim (``part``) comes from this scale's fixture set.
DIM_SF = 0.1
FEED_NAME = "partner_lineitem"


@dataclass
class Context:
    spark: object
    sf_dir: str
    dim_dir: str
    run_dir: str
    seed: int
    passes: int
    cores: int
    tracer: Tracer | None = None


@dataclass
class Result:
    #: wall seconds per timed pass, and per timed unit with its class
    #: (drop size or member name)
    pass_s: list[float] = field(default_factory=list)
    units: list[tuple[str, float]] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    #: workload-specific end-to-end figures for the summary line
    summary: dict = field(default_factory=dict)
    per_layer: dict = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)
        print(f"perfbench: {what}", file=sys.stderr)
        if sys.exc_info()[0] is not None:
            traceback.print_exc()


def _release(spark) -> None:
    from dataingestionengineprocess_spark.session import release_persistent_rdds

    release_persistent_rdds(spark)


# ---------------------------------------------------------------------------
# ingest_drops: the landing-zone pipeline
# ---------------------------------------------------------------------------

def _feed(spark, dim_dir: str):
    from pyspark.sql import types as T

    from dataingestionengineprocess_spark import catalog
    from dataingestionengineprocess_spark.operators.quality import in_range, not_null
    from dataingestionengineprocess_spark.pipeline import Enrichment, FeedConfig

    schema = T.StructType([
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_tax", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_shipdate", T.TimestampNTZType()),
    ])
    part = catalog.load(spark, dim_dir, "part").select("p_partkey", "p_name", "p_brand")
    return FeedConfig(
        name=FEED_NAME, schema=schema,
        key_cols=["l_orderkey", "l_linenumber"], order_col="l_shipdate",
        rules=[not_null("l_orderkey"), in_range("l_quantity", 1.0, 50.0)],
        enrichments=[Enrichment(dim=part, fact_col="l_partkey", dim_col="p_partkey")],
    )


def _ingest_targets():
    from dataingestionengineprocess_spark import pipeline

    return [
        (pipeline, "ingest_new_files", "pipeline.ingest_new_files"),
        (pipeline, "ingest_batch", "pipeline.ingest_batch"),
        (pipeline, "read_csv_feed", "sources.read_csv_feed"),
        (pipeline, "run_stages", "pipeline.run_stages"),
        (pipeline, "write_warehouse", "sinks.write_warehouse"),
        (pipeline, "write_oltp", "sinks.write_oltp"),
        (pipeline, "write_run_partition", "sinks.write_run_partition"),
        (pipeline, "emit_run_status", "streaming.emit_run_status"),
    ]


def curated_digests(spark, warehouse_dir: str) -> dict[str, tuple[int, int]]:
    """Read the curated warehouse table back: per run id, (rows,
    md5-sum digest) over the same canonical row form as
    ``drops.row_digest``."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(os.path.join(warehouse_dir, FEED_NAME))

    def cents(c):
        return F.round(F.col(c) * 100).cast("long")

    canon = F.concat_ws(
        "|", "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        cents("l_quantity"), cents("l_extendedprice"), cents("l_discount"),
        cents("l_tax"), "l_returnflag", "l_linestatus",
        F.date_format("l_shipdate", "yyyy-MM-dd"), "p_name", "p_brand")
    h = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("decimal(38,0)")
    rows = (df.groupBy("_run_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("d"))
            .collect())
    return {r["_run_id"]: (int(r["n"]), int(r["d"])) for r in rows}


def run_ingest(ctx: Context) -> Result:
    import pyarrow.parquet as pq

    from dataingestionengineprocess_spark import pipeline
    from dataingestionengineprocess_spark.sinks.warehouse import SinkConfig

    spark, tracer, res = ctx.spark, ctx.tracer, Result()
    part = pq.read_table(os.path.join(ctx.dim_dir, "part.parquet"),
                         columns=["p_name", "p_brand"])
    names = np.asarray(part.column("p_name").to_pylist(), dtype=object)
    brands = np.asarray(part.column("p_brand").to_pylist(), dtype=object)
    feed = _feed(spark, ctx.dim_dir)
    landing = os.path.join(ctx.run_dir, "landing")
    staging = os.path.join(ctx.run_dir, "staging")
    os.makedirs(landing)
    sinks = SinkConfig(warehouse_dir=os.path.join(ctx.run_dir, "warehouse"),
                       oltp_dir=os.path.join(ctx.run_dir, "oltp"))
    expected: dict[str, drops.DropSpec] = {}
    drop_spans = []  # (span, spec) of timed drops, traced runs only

    def one_drop(path: str, spec: drops.DropSpec) -> float | None:
        res.attempted += 1
        dest = os.path.join(landing, os.path.basename(path))
        t0 = time.perf_counter()
        try:
            os.replace(path, dest)
            status = pipeline.ingest_new_files(spark, feed, landing, sinks)
            wall = time.perf_counter() - t0
        except Exception as e:  # a failed drop is counted, the loop goes on
            res.fail(f"drop {spec.index}: {type(e).__name__}: {e}")
            if os.path.exists(dest):
                os.remove(dest)
            return None
        finally:
            _release(spark)
        got = (status.rows_read, status.rows_rejected,
               status.rows_quarantined, status.rows_loaded) if status else None
        want = (spec.rows_read, spec.rows_rejected, spec.rows_quarantined,
                spec.rows_loaded)
        if got != want:
            res.fail(f"drop {spec.index}: counts {got} != {want}")
        else:
            expected[status.run_id] = spec
        return wall

    def traced_drop(path, spec):
        if tracer is None:
            return one_drop(path, spec), None
        with tracer.span("drop") as span:
            wall = one_drop(path, spec)
        collect_tree(tracer, span)
        return wall, span

    rows = 0

    def run_all():
        nonlocal rows
        warm = drops.write_drops(staging, ctx.seed, 0, drops.WARM_SIZES, names, brands)
        walls = [traced_drop(path, spec)[0] for path, spec in warm]
        res.per_layer["ingest.first_drop_s"] = walls[0] or 0.0
        for cycle in range(ctx.passes):
            first = len(drops.WARM_SIZES) + cycle * len(drops.CYCLE_SIZES)
            cycle_wall = 0.0
            for path, spec in drops.write_drops(staging, ctx.seed, first,
                                                drops.CYCLE_SIZES, names, brands):
                wall, span = traced_drop(path, spec)
                if wall is None:
                    continue
                cycle_wall += wall
                rows += spec.rows_read
                res.units.append((f"rows{spec.size}", wall))
                if span is not None:
                    drop_spans.append((span, spec))
            res.pass_s.append(cycle_wall)

    if tracer is None:
        run_all()
    else:
        with instrument(tracer, _ingest_targets()):
            run_all()

    # untimed read-back of the curated warehouse table
    try:
        back = curated_digests(spark, sinks.warehouse_dir)
    except Exception as e:
        res.fail(f"warehouse read-back: {type(e).__name__}: {e}")
        back = {}
    for run_id, spec in expected.items():
        if back.get(run_id) != (spec.rows_loaded, spec.digest):
            res.fail(f"drop {spec.index}: warehouse digest {back.get(run_id)} != "
                     f"{(spec.rows_loaded, spec.digest)}")

    timed = sum(w for _, w in res.units)
    res.summary["ingest_rows_per_s"] = rows / timed if timed else 0.0
    res.summary.update(_fixed_and_per_row(res.units))
    if tracer is not None and drop_spans:
        res.per_layer.update(_ingest_layers(tracer, drop_spans, sinks, ctx.cores))
    return res


def _fixed_and_per_row(units: list[tuple[str, float]]) -> dict:
    """Split a drop's wall into a fixed cost per drop and a cost per
    row: the line through the median walls of the smallest and the
    largest drop size. ``ingest_fixed_share`` is the part of a cycle's
    wall that is fixed cost."""
    small, large = min(drops.CYCLE_SIZES), max(drops.CYCLE_SIZES)
    walls = {n: [w for cls, w in units if cls == f"rows{n}"] for n in (small, large)}
    if not walls[small] or not walls[large]:
        return {}
    per_row = (statistics.median(walls[large]) - statistics.median(walls[small])) / (large - small)
    fixed = statistics.median(walls[small]) - small * per_row
    cycle = sum(fixed + n * per_row for n in drops.CYCLE_SIZES)
    return {"ingest_fixed_s_per_drop": fixed, "ingest_per_row_us": per_row * 1e6,
            "ingest_fixed_share": fixed * len(drops.CYCLE_SIZES) / cycle}


def _ingest_layers(tracer: Tracer, drop_spans, sinks, cores: int) -> dict:
    """Per-drop means over the timed drops, plus whole-run ratios."""
    n = len(drop_spans)
    by_name: dict[str, list] = {}
    for root, _ in drop_spans:
        for s in tracer.subtree(root):
            by_name.setdefault(s.name, []).append(s)

    def dur(name):
        return sum(s.duration for s in by_name.get(name, [])) / n

    def total(name, key):
        return sum(tree_total(tracer, s, key) for s in by_name.get(name, [])) / n

    out = {
        "sources.read_csv_feed.s": dur("sources.read_csv_feed"),
        "pipeline.run_stages.s": dur("pipeline.run_stages"),
        "sinks.write_warehouse.s": dur("sinks.write_warehouse"),
        "sinks.write_oltp.s": dur("sinks.write_oltp"),
        "sinks.write_oltp.input_bytes": total("sinks.write_oltp", "input_bytes"),
        "sinks.write_run_partition.s": dur("sinks.write_run_partition"),
        "streaming.emit_run_status.s": dur("streaming.emit_run_status"),
        "streaming.emit_run_status.jobs": total("streaming.emit_run_status", "jobs"),
        "pipeline.ingest_batch.self_s": sum(
            tracer.self_time(s) for s in by_name.get("pipeline.ingest_batch", [])) / n,
        "pipeline.ingest_new_files.self_s": sum(
            tracer.self_time(s) for s in by_name.get("pipeline.ingest_new_files", [])) / n,
    }
    for key in ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                "input_bytes", "shuffle_write_bytes", "output_bytes", "spill_bytes"):
        out[f"sinks.write_warehouse.{key}"] = total("sinks.write_warehouse", key)
    table = os.path.join(sinks.warehouse_dir, FEED_NAME)
    parts = [os.path.join(table, d) for d in os.listdir(table) if d.startswith("_run_id=")]
    out["sinks.write_warehouse.files_written"] = sum(
        1 for p in parts for f in os.listdir(p) if f.startswith("part-")) / len(parts)
    landed = sum(spec.nbytes for _, spec in drop_spans)
    written = sum(tree_total(tracer, root, "output_bytes") for root, _ in drop_spans)
    out["sinks.bytes_written_per_input_byte"] = written / landed
    out["pipeline.rows_loaded_per_row_read"] = (
        sum(spec.rows_loaded for _, spec in drop_spans)
        / sum(spec.rows_read for _, spec in drop_spans))
    wall = sum(root.duration for root, _ in drop_spans)
    run_s = sum(tree_total(tracer, root, "executor_run_s") for root, _ in drop_spans)
    out["ingest.core_busy_frac"] = run_s / (wall * cores)
    return out


# ---------------------------------------------------------------------------
# query mixes: sql_analytics and llm_curation
# ---------------------------------------------------------------------------

def run_queries(ctx: Context, members: list[str]) -> Result:
    from dataingestionengineprocess_spark.oracle_compare import digest_frame
    from dataingestionengineprocess_spark.queries import all_queries

    spark, tracer, res = ctx.spark, ctx.tracer, Result()
    registry = all_queries()
    want = oracle.load_expected(QUERY_SF)
    missing = [m for m in members if m not in want]
    if missing:
        raise RuntimeError(f"no stored oracle digest for {missing}; "
                           "run perfbench/run.py --self-check --write-digests")
    rng = np.random.default_rng(ctx.seed)
    #: per timed pass: {member: (construct_s, action_s, root span)}
    passes: list[dict] = []

    def execute(name: str, check: bool):
        """Construct, act (noop sink), then check the output untimed."""
        res.attempted += 1
        root = cspan = aspan = None
        try:
            if tracer is None:
                t0 = time.perf_counter()
                df = registry[name](spark, ctx.sf_dir)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            else:
                with tracer.span(f"query.{name}") as root:
                    t0 = time.perf_counter()
                    with tracer.span("queries.construct") as cspan:
                        df = registry[name](spark, ctx.sf_dir)
                    t1 = time.perf_counter()
                    with tracer.span("queries.action") as aspan:
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                collect_tree(tracer, root)
            got = digest_frame(df.toPandas(), oracle.FLOAT_DIGITS) if check else None
        except Exception as e:  # a failed member is counted, the pass goes on
            res.fail(f"{name}: {type(e).__name__}: {e}")
            return None
        finally:
            _release(spark)
        if check and got != want[name]:
            res.fail(f"{name}: digest {got} != {want[name]}")
        return t1 - t0, t2 - t1, (root, cspan, aspan)

    def one_pass(check: bool) -> tuple[float, dict]:
        out, wall = {}, 0.0
        for name in rng.permutation(members):
            r = execute(str(name), check)
            if r is not None:
                out[str(name)] = r
                wall += r[0] + r[1]
        return wall, out

    # One warm pass: the first run of a member is 2-4x slower than the
    # next. Warm passes are not digest-checked: their outputs come from
    # the same plans as the timed ones, which are.
    first, _ = one_pass(check=False)
    res.per_layer["queries.first_pass_s"] = first
    for _ in range(ctx.passes):
        wall, out = one_pass(check=True)
        passes.append(out)
        res.pass_s.append(wall)
        for name, (c, a, _) in out.items():
            res.units.append((name, c + a))
    if tracer is not None:
        res.per_layer.update(_query_layers(tracer, passes, res.pass_s, members, ctx.cores))
    return res


def _query_layers(tracer: Tracer, passes, pass_walls, members, cores) -> dict:
    """Per-pass sums, reported as the median over timed passes."""
    per_pass: list[dict] = []
    for out, wall in zip(passes, pass_walls):
        m = dict.fromkeys(("construct_s", "action_s", "construct_jobs",
                           "action_jobs", "tasks", "executor_run_s",
                           "executor_cpu_s", "gc_s", "shuffle_read_bytes",
                           "shuffle_write_bytes", "spill_bytes",
                           "driver_gap_s"), 0.0)
        for c, a, (root, cspan, aspan) in out.values():
            m["construct_s"] += c
            m["action_s"] += a
            m["construct_jobs"] += tree_total(tracer, cspan, "jobs")
            m["action_jobs"] += tree_total(tracer, aspan, "jobs")
            for key in ("tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
                m[key] += tree_total(tracer, root, key)
            busy = covered(job_intervals(tracer, root), root.start, root.end)
            m["driver_gap_s"] += root.duration - busy
        m["core_busy_frac"] = m["executor_run_s"] / (wall * cores)
        per_pass.append(m)
    out = {f"queries.{k}": statistics.median([p[k] for p in per_pass]) for k in per_pass[0]}
    for name in members:
        runs = [p[name] for p in passes if name in p]
        if not runs:
            continue
        out[f"queries.{name}.construct_s"] = statistics.median([c for c, _, _ in runs])
        out[f"queries.{name}.action_s"] = statistics.median([a for _, a, _ in runs])
        out[f"queries.{name}.jobs"] = statistics.median(
            [tree_total(tracer, sp[0], "jobs") for _, _, sp in runs])
    return out


WORKLOADS = {
    "ingest_drops": run_ingest,
    "llm_curation": functools.partial(run_queries, members=CURATION_MEMBERS),
    "sql_analytics": functools.partial(run_queries, members=SQL_MEMBERS),
}
