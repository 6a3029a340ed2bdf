"""The repository's benchmark: one command, named workloads.

    python3 perfbench/run.py --workload ingest_drops --seed 1 --seconds 15 --trace 0

Run it from the repository root. It builds one ``local[<cores>]``
session with ``bench.py``'s settings, sets it up several times, each
time in a fresh JVM (JVM launch, session build and ``bench.py``'s fixed
warm-up), and reports the median as ``setup_s``, runs the workload as a closed loop for about ``--seconds``,
checks every output against a known-correct answer, and prints as its
last stdout line one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it names
every figure of the workload, workload-specific names included.

Everything it writes stays under ``.perfbench/`` in the working
directory: cached fixtures, the per-run scratch directory (wiped at
the start of each run), trace side files and a log of results, from
which a traced run reports its overhead against the last untraced run
of the same workload.

``--self-check`` recomputes the query members' expected digests from
their DuckDB oracles and compares them with the stored ones
(``--write-digests`` stores them). See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

#: Set-ups per run, each in a fresh JVM; ``setup_s`` is their median.
#: A cold set-up costs 5-22 s, so a third would not fit the run budget.
SETUPS = 2
#: Nominal wall of one timed pass (a cycle of drops, or one run of every
#: member) on a 4-core host in its slower periods. ``--seconds`` buys
#: ``seconds / PASS_SECONDS`` timed passes (at least one): the pass
#: count is fixed rather than timed, because passes keep speeding up
#: while the JIT settles, and a faster host that fitted more passes
#: into a fixed window would also be measured further along that curve.
PASS_SECONDS = {"ingest_drops": 15.0, "llm_curation": 7.5, "sql_analytics": 13.0}


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics, as
    ``BENCHMARK.json`` at the repository root lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def parse_args(argv: list[str]) -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=15.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--self-check", action="store_true",
                   help="recompute the query digests from DuckDB and compare")
    p.add_argument("--write-digests", action="store_true",
                   help="with --self-check: store the recomputed digests")
    args = p.parse_args(argv)
    if not args.self_check and args.workload is None:
        p.error("--workload is required")
    return args


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def prepare_dirs(work: str) -> str:
    """Wipe and recreate the per-run scratch directory, and point every
    temporary-file location of this process and its JVM into it."""
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    return run_dir


def build_session(run_dir: str):
    """``bench.py``'s session: engine defaults, UI off, 8g driver."""
    from dataingestionengineprocess_spark.session import get_spark

    return get_spark("perfbench", extra_confs={
        "spark.ui.enabled": "false",
        "spark.driver.memory": "8g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        # keep the JVM's temp files (and its perf-data file, which
        # ignores java.io.tmpdir) out of the system temp directory
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
    })


def warm_up(spark, sf_dir: str) -> None:
    """``bench.py``'s fixed warm-up: file listing, parquet footers and
    one tiny aggregate over the fact table."""
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    (spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
     .groupBy("l_returnflag").count()
     .write.format("noop").mode("overwrite").save())


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this driver process plus its JVM."""
    mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    proc = spark.sparkContext._gateway.proc
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                mb += int(line.split()[1]) / 1024.0
    return mb


def shutdown(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has ended.
    The next session build then launches a new JVM."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # PySpark keeps the gateway of the first launch for the life of the
    # process; clearing it makes the next SparkContext launch its own
    SparkContext._gateway = None
    SparkContext._jvm = None


def end_to_end(res, setup_times: list[float], rss_mb: float) -> dict[str, float]:
    import stats

    by_class: dict[str, list[float]] = {}
    for cls, wall in res.units:
        by_class.setdefault(cls, []).append(wall)
    return {
        "setup_s": statistics.median(setup_times),
        "peak_rss_mb": rss_mb,
        "pass_s": statistics.median(res.pass_s),
        "geomean_s": stats.geomean([statistics.median(v) for v in by_class.values()]),
        "unit_p50_s": statistics.median([w for _, w in res.units]),
    }


def summary_line(workload: str, e2e: dict, res, seed: int, trace: int) -> dict:
    """Every figure of the run under the workload's own metric names."""
    import stats

    walls = [w for _, w in res.units]
    tail, pct, n = stats.tail(walls)
    prefix = {"ingest_drops": "ingest", "llm_curation": "curation",
              "sql_analytics": "sql"}[workload]
    out = {"workload": workload, "seed": seed, "trace": trace,
           "setup_s": e2e["setup_s"], "peak_rss_mb": e2e["peak_rss_mb"],
           f"{prefix}_failed_frac": res.failed / max(res.attempted, 1)}
    if workload == "ingest_drops":
        out.update(res.summary)
        out.update(ingest_drop_p50_s=e2e["unit_p50_s"],
                   ingest_drop_tail_s=tail, ingest_drop_tail_pct=pct,
                   ingest_drop_tail_n=n, ingest_cycle_s=e2e["pass_s"])
    else:
        out.update({f"{prefix}_pass_s": e2e["pass_s"],
                    f"{prefix}_geomean_s": e2e["geomean_s"],
                    f"{prefix}_unit_p50_s": e2e["unit_p50_s"],
                    f"{prefix}_passes": len(res.pass_s)})
    out["warm_s"] = res.per_layer.get("ingest.first_drop_s",
                                      res.per_layer.get("queries.first_pass_s"))
    out["units"] = [[cls, wall] for cls, wall in res.units]
    if res.errors:
        out["errors"] = res.errors[:20]
    return out


def overhead(log_path: str, workload: str, traced: dict) -> dict | None:
    """Relative change of each end-to-end figure of this traced run
    against the latest untraced run of the same workload in the log."""
    try:
        with open(log_path) as f:
            runs = [json.loads(line) for line in f if line.strip()]
    except FileNotFoundError:
        return None
    base = [r for r in runs if r["workload"] == workload and r["trace"] == 0]
    if not base:
        return None
    last = base[-1]["e2e"]
    return {k: (traced[k] - last[k]) / last[k] for k in traced if last.get(k)}


def self_check(write: bool) -> int:
    import fixtures
    import oracle
    from workloads import CURATION_MEMBERS, QUERY_SF, SQL_MEMBERS

    from dataingestionengineprocess_spark.queries import all_oracles

    sf_dir = fixtures.ensure_fixtures(os.path.join(ROOT, ".perfbench", "fixtures"), QUERY_SF)
    got = oracle.oracle_digests(sf_dir, all_oracles(), SQL_MEMBERS + CURATION_MEMBERS)
    stored = oracle.load_expected(QUERY_SF)
    drift = {n: (stored.get(n), d) for n, d in got.items() if stored.get(n) != d}
    print(json.dumps({"digests": got, "drift": drift}, indent=1))
    if write:
        oracle.store_expected(QUERY_SF, got)
        return 0
    return 1 if drift else 0


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    try:
        # imported before any set-up is timed, as bench.py does
        import dataingestionengineprocess_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable here: {e}",
              file=sys.stderr)
        return 2
    if args.self_check:
        return self_check(args.write_digests)

    work = os.path.join(ROOT, ".perfbench")
    run_dir = prepare_dirs(work)

    import fixtures
    import workloads
    from spans import Tracer

    sf_dir = fixtures.ensure_fixtures(os.path.join(work, "fixtures"), workloads.QUERY_SF)
    dim_dir = fixtures.ensure_fixtures(os.path.join(work, "fixtures"), workloads.DIM_SF)

    setup_times: list[float] = []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            shutdown(spark)
        t0 = time.perf_counter()
        spark = build_session(run_dir)
        warm_up(spark, sf_dir)
        setup_times.append(time.perf_counter() - t0)

    cores = cpu_count()
    tracer = Tracer(spark.sparkContext) if args.trace else None
    ctx = workloads.Context(spark=spark, sf_dir=sf_dir, dim_dir=dim_dir,
                            run_dir=run_dir, seed=args.seed,
                            passes=max(1, round(args.seconds / PASS_SECONDS[args.workload])),
                            cores=cores, tracer=tracer)
    try:
        res = workloads.WORKLOADS[args.workload](ctx)
        rss = peak_rss_mb(spark)
    finally:
        shutdown(spark)

    e2e = end_to_end(res, setup_times, rss)
    summary = summary_line(args.workload, e2e, res, args.seed, args.trace)
    summary["setup_each_s"] = setup_times
    log_path = os.path.join(work, "results.jsonl")
    if args.trace:
        summary["trace_overhead"] = overhead(log_path, args.workload, e2e)
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        tracer.write(os.path.join(work, "traces", f"{args.workload}-seed{args.seed}.json"),
                     extra={"summary": summary, "per_layer": res.per_layer})
    with open(log_path, "a") as f:
        f.write(json.dumps({"workload": args.workload, "seed": args.seed,
                            "trace": args.trace, "e2e": e2e}) + "\n")

    if args.trace:
        # every listed per-layer metric; 0 for a layer the workload
        # does not call
        units = metric_units("per_layer")
        values = {k: res.per_layer.get(k, 0.0) for k in units}
        values.update({k: v for k, v in res.per_layer.items() if k not in units})
        metrics = {k: {"value": v, "unit": units.get(k, "s" if k.endswith("_s") else "count")}
                   for k, v in values.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in metric_units("end_to_end").items()}
    print(json.dumps(summary))
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except Exception:
        traceback.print_exc()
        sys.exit(1)
