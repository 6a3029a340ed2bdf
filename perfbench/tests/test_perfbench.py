"""Self-tests of the benchmark's own machinery (no Spark session).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import csv
import io
import json
import os
import sys
import types

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import drops  # noqa: E402
import fixtures  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
from spans import Span, Tracer, covered, instrument  # noqa: E402

NAMES = np.array([f"name{i}" for i in range(50)], dtype=object)
BRANDS = np.array([f"Brand#{i % 25}" for i in range(50)], dtype=object)


def _cycle_bytes(tmp_path, sub: str, seed: int):
    out = drops.write_drops(str(tmp_path / sub), seed, 2, drops.CYCLE_SIZES, NAMES, BRANDS)
    return [(open(p, "rb").read(), spec) for p, spec in out]


def test_seed_gives_identical_drops_and_counts(tmp_path):
    a = _cycle_bytes(tmp_path, "a", 7)
    b = _cycle_bytes(tmp_path, "b", 7)
    assert a == b
    c = _cycle_bytes(tmp_path, "c", 8)
    assert [x for x, _ in a] != [x for x, _ in c]
    assert tuple(s.size for _, s in a) == drops.CYCLE_SIZES


def test_expected_counts_match_the_file():
    rng = np.random.default_rng(3)
    text, spec = drops.make_drop(rng, 5, 500, NAMES, BRANDS)
    rows = list(csv.reader(io.StringIO(text)))[1:]
    malformed = [r for r in rows if not r[0].isdigit()]
    valid = [r for r in rows if r[0].isdigit()]
    violating = [r for r in valid if float(r[4]) < 0]
    kept = {(r[0], r[3]) for r in valid if float(r[4]) >= 0}
    assert spec.rows_read == len(rows)
    assert spec.rows_rejected == len(malformed)
    assert spec.rows_quarantined == len(violating)
    assert spec.rows_loaded == len(kept)
    assert spec.nbytes == len(text.encode())


def test_fixtures_are_deterministic():
    a, b = fixtures.make_tables(0.001), fixtures.make_tables(0.001)
    assert a.keys() == b.keys()
    assert all(a[k].equals(b[k]) for k in a)


def test_covered_merges_overlaps():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4)
    assert covered([(0, 2), (1, 3)], 1.5, 2.5) == pytest.approx(1)
    assert covered([], 0, 1) == 0


def test_self_time_is_duration_minus_child_cover():
    t = Tracer()
    t.spans = [Span(0, None, "root", 0.0, 10.0), Span(1, 0, "a", 1.0, 4.0),
               Span(2, 0, "b", 3.0, 5.0), Span(3, 1, "grandchild", 1.0, 2.0)]
    assert t.self_time(t.spans[0]) == pytest.approx(10.0 - 4.0)
    assert t.self_time(t.spans[1]) == pytest.approx(3.0 - 1.0)


def test_tail_is_highest_percentile_with_ten_beyond():
    vals = list(range(1, 101))
    assert stats.tail(vals) == (90, 90.0, 100)
    v, pct, n = stats.tail(list(range(25)))
    assert (v, n) == (14, 25) and sum(x > v for x in range(25)) == 10
    assert pct == pytest.approx(60.0)
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_fixed_and_per_row_cost_recovers_a_line():
    import workloads

    small, large = min(drops.CYCLE_SIZES), max(drops.CYCLE_SIZES)
    units = [(f"rows{n}", 2.0 + n * 1e-5) for n in (small, small, large)]
    got = workloads._fixed_and_per_row(units)
    assert got["ingest_fixed_s_per_drop"] == pytest.approx(2.0)
    assert got["ingest_per_row_us"] == pytest.approx(10.0)
    cycle = sum(2.0 + n * 1e-5 for n in drops.CYCLE_SIZES)
    assert got["ingest_fixed_share"] == pytest.approx(2.0 * len(drops.CYCLE_SIZES) / cycle)


class FakeContext:
    """The local-property surface of a SparkContext."""

    def __init__(self) -> None:
        self.props = {"spark.jobGroup.id": "caller", "spark.job.description": "mine"}

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value

    def setJobGroup(self, group, description, interruptOnCancel=False):
        self.props.update({"spark.jobGroup.id": group,
                           "spark.job.description": description,
                           "spark.job.interruptOnCancel": str(interruptOnCancel).lower()})


def test_wrappers_restore_attributes_and_job_group_after_exception():
    sc = FakeContext()
    before = dict(sc.props)
    tracer = Tracer(sc)
    module = types.SimpleNamespace()
    seen = {}

    def inner():
        seen["group"] = sc.getLocalProperty("spark.jobGroup.id")
        raise ValueError("boom")

    module.inner = inner
    with pytest.raises(ValueError):
        with instrument(tracer, [(module, "inner", "layer.inner")]):
            assert module.inner is not inner
            module.inner()
    assert module.inner is inner
    assert sc.props == before
    assert seen["group"] == tracer.group(tracer.spans[0])
    assert tracer.spans[0].end >= tracer.spans[0].start


def test_benchmark_json_workloads_are_runnable():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        assert run.parse_args(["--workload", w["name"]]).workload == w["name"]
