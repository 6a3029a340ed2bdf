"""`tools/ab.py`'s statistics and run screening on canned numbers: no
Spark session, no subprocess."""

from __future__ import annotations

import importlib.util
import os

import pytest

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "ab", os.path.join(_ROOT, "tools", "ab.py"))
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

#: a quiet parent: median 10.0, IQR 0.15 (quartiles 9.925 and 10.075)
QUIET = [9.8, 9.9, 9.9, 10.0, 10.0, 10.0, 10.0, 10.1, 10.1, 10.2]


def _run(value: float, correct: bool = True, failed: int = 0) -> dict:
    return {"correct": correct, "failed": failed,
            "metrics": {"pass_s": {"value": value, "unit": "s"}}}


def test_median_and_interquartile_range():
    s = ab.compare([(v, 1.0) for v in [1.0, 2.0, 3.0, 4.0, 5.0]],
                   0.25, "lower")
    assert s["parent_median"] == 3.0
    assert s["parent_iqr"] == pytest.approx(2.0)  # quartiles 2 and 4
    assert ab.iqr([1.0, 2.0, 3.0, 4.0]) == pytest.approx(1.5)


def test_wins_count_strict_improvements_only():
    pairs = [(1.0, 1.0), (2.0, 1.5), (1.0, 1.2), (3.0, 3.0)]
    assert ab.wins(pairs, "lower") == 1
    assert ab.wins(pairs, "higher") == 1
    assert ab.compare(pairs, 0.25, "lower")["wins"] == 1


def test_within_bound():
    change = [v * 1.2 for v in QUIET]  # 20% slower, bound 25%
    assert ab.verdict(QUIET, change, 0.25, "lower") == "within bound"
    # higher-is-better: 20% lower is the worse direction
    assert ab.verdict(QUIET, [v * 0.8 for v in QUIET], 0.25,
                      "higher") == "within bound"


def test_over_bound():
    change = [v * 1.3 for v in QUIET]
    assert ab.verdict(QUIET, change, 0.25, "lower") == "over bound"
    assert ab.verdict(QUIET, [v * 0.7 for v in QUIET], 0.25,
                      "higher") == "over bound"


def test_unresolved_when_the_parent_spreads_wider_than_the_bound():
    noisy = [5.0, 6.0, 8.0, 9.0, 10.0, 10.0, 11.0, 12.0, 14.0, 15.0]
    # IQR 3.5 > allowed gap 2.5; the change's runs interleave
    assert ab.verdict(noisy, [v + 1 for v in noisy], 0.25,
                      "lower") == "unresolved"
    # ... unless every change run beats every parent run
    assert ab.verdict(noisy, [4.0] * 10, 0.25, "lower") == "within bound"


def test_a_failed_or_incorrect_run_is_flagged_and_left_out():
    assert ab.problem(_run(1.0)) is None
    assert ab.problem(_run(1.0, correct=False)) == "correct: false"
    assert ab.problem(_run(1.0, failed=2)) == "failed: 2"
    assert ab.problem({"error": "exit 1: boom"}) == "exit 1: boom"
    runs = [(seed, "parent", {"parent": _run(10.0), "change": _run(10.0)})
            for seed in range(1, 4)]
    runs.append((4, "change", {"parent": _run(10.0),
                               "change": _run(99.0, correct=False)}))
    lines = ab.report("w", runs, [{"name": "pass_s", "bound": 0.25,
                                   "better": "lower"}])
    assert lines[0] == "w seed 4 change: left out (correct: false)"
    assert "4c 10.00->-" in lines[1]
    assert "median 10.00 -> 10.00" in lines[2]
    assert lines[2].endswith("change wins 0/3: within bound")
