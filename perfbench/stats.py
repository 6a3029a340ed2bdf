"""Summary statistics used by the benchmark's reports."""

from __future__ import annotations

import math


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile that still has at least ``beyond``
    samples above it, as (value, percentile, n).

    By nearest rank, the k-th smallest of n samples has n - k samples
    above it, so the answer is the (n - beyond)-th smallest at
    percentile 100 (n - beyond) / n. With n <= ``beyond`` no
    percentile qualifies; the maximum is returned at percentile 100,
    and the caller reports n so the reader sees the tail is unresolved.
    """
    ordered = sorted(values)
    n = len(ordered)
    if n <= beyond:
        return ordered[-1], 100.0, n
    k = n - beyond
    return ordered[k - 1], 100.0 * k / n, n
