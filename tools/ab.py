"""Interleaved A/B of the repository's benchmark: a parent revision
against the working tree.

    python3 tools/ab.py <parent-rev> [workload ...]

Extracts ``git archive <parent-rev>`` under ``.perfbench/ab/`` and
runs ``python3 perfbench/run.py --workload W --seed S --seconds T``
(T = ``run_seconds`` of BENCHMARK.json) PAIRS times in the parent's
tree and PAIRS times in the working tree, for each workload named
(default: every BENCHMARK.json workload). Pair i uses seed i for both
sides; the parent runs first in odd pairs, the change in even ones,
so a drift of the host over the session lands on both sides alike.

Each run's last stdout line is its JSON result. A run that crashed,
printed no result, or reports ``correct: false`` or ``failed > 0`` is
listed and left out of every figure. For each end-to-end metric of
BENCHMARK.json the report gives the per-pair values (``3p`` = seed 3,
parent first), both medians, the parent's interquartile range, the
change's win count (ties count for neither side) and one verdict
against the allowed gap ``bound x parent median``:

- ``unresolved``: the parent's IQR is wider than the allowed gap and
  not every change run beats every parent run, so the noise hides a
  gap of that size;
- ``within bound``: the change median is worse than the parent median
  by at most the allowed gap;
- ``over bound``: it is worse by more.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: interleaved pairs per workload
PAIRS = 10
SIDES = ("parent", "change")


def iqr(values: list[float]) -> float:
    """Interquartile range, quartiles interpolated linearly between
    order statistics (``statistics.quantiles``' inclusive method)."""
    q1, _, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q3 - q1


def beats(a: float, b: float, better: str) -> bool:
    """Whether value ``a`` is strictly better than ``b``."""
    return a < b if better == "lower" else a > b


def wins(pairs: list[tuple[float, float]], better: str) -> int:
    """Pairs (parent, change) in which the change is strictly better."""
    return sum(beats(change, parent, better) for parent, change in pairs)


def verdict(parent: list[float], change: list[float], bound: float,
            better: str) -> str:
    """One metric's verdict; see the module docstring."""
    if len(parent) < 2 or len(change) < 2:
        return "unresolved"
    allowed = bound * statistics.median(parent)
    if iqr(parent) > allowed and not all(
            beats(c, p, better) for c in change for p in parent):
        return "unresolved"
    worse = statistics.median(change) - statistics.median(parent)
    if better == "higher":
        worse = -worse
    return "within bound" if worse <= allowed else "over bound"


def compare(pairs: list[tuple], bound: float, better: str) -> dict:
    """Figures of one metric over (parent, change) value pairs, where
    None marks a run that was left out."""
    parent = [p for p, _ in pairs if p is not None]
    change = [c for _, c in pairs if c is not None]
    both = [(p, c) for p, c in pairs if p is not None and c is not None]
    out = {"verdict": verdict(parent, change, bound, better),
           "wins": wins(both, better), "pairs": len(both)}
    if len(parent) >= 2 and change:
        out.update(parent_median=statistics.median(parent),
                   change_median=statistics.median(change),
                   parent_iqr=iqr(parent),
                   allowed=bound * statistics.median(parent))
    return out


def problem(run: dict) -> str | None:
    """Why a run's figures must be left out, or None when they count."""
    if "error" in run:
        return run["error"]
    if run.get("correct") is not True:
        return "correct: false"
    if run.get("failed") != 0:
        return f"failed: {run.get('failed')}"
    return None


def last_json(stdout: str) -> dict | None:
    lines = stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1])
    except (IndexError, ValueError):
        return None
    return out if isinstance(out, dict) else None


def run_once(tree: str, workload: str, seed: int, seconds: float) -> dict:
    proc = subprocess.run(
        ["python3", "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds)],
        cwd=tree, capture_output=True, text=True)
    result = last_json(proc.stdout)
    if proc.returncode != 0 or result is None:
        tail = proc.stderr.strip().splitlines() or ["no output"]
        return {"error": f"exit {proc.returncode}: {tail[-1]}"}
    return result


def extract(rev: str) -> str:
    """The tree of ``rev``, extracted once under .perfbench/ab/."""
    sha = subprocess.run(
        ["git", "rev-parse", "--verify", f"{rev}^{{commit}}"], cwd=ROOT,
        check=True, capture_output=True, text=True).stdout.strip()
    dest = os.path.join(ROOT, ".perfbench", "ab", sha[:12])
    if not os.path.isdir(dest):
        part = dest + ".part"
        shutil.rmtree(part, ignore_errors=True)
        os.makedirs(part)
        archive = subprocess.run(["git", "archive", sha], cwd=ROOT,
                                 check=True, capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", part], input=archive, check=True)
        os.rename(part, dest)
    return dest


def _fmt(x) -> str:
    return "-" if x is None else f"{x:.2f}"


def report(workload: str, runs: list[tuple], metrics: list[dict]) -> list[str]:
    """Report lines for ``runs``, a list of (seed, side run first,
    {side: result})."""
    lines = [f"{workload} seed {seed} {side}: left out ({why})"
             for seed, _, res in runs for side in SIDES
             if (why := problem(res[side]))]
    for m in metrics:
        pairs = [tuple(None if problem(res[side])
                       else res[side]["metrics"][m["name"]]["value"]
                       for side in SIDES)
                 for _, _, res in runs]
        values = ", ".join(f"{seed}{first[0]} {_fmt(p)}->{_fmt(c)}"
                           for (seed, first, _), (p, c) in zip(runs, pairs))
        s = compare(pairs, m["bound"], m["better"])
        lines.append(f"{workload} {m['name']}: {values}")
        if "parent_median" in s:
            change = 100 * (s["change_median"] / s["parent_median"] - 1)
            lines.append(
                f"  median {_fmt(s['parent_median'])} -> "
                f"{_fmt(s['change_median'])} ({change:+.1f}%), parent IQR "
                f"{_fmt(s['parent_iqr'])}, allowed gap {_fmt(s['allowed'])}, "
                f"change wins {s['wins']}/{s['pairs']}: {s['verdict']}")
        else:
            lines.append(f"  too few usable runs: {s['verdict']}")
    return lines


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    trees = {"parent": extract(argv[0]), "change": ROOT}
    for workload in argv[1:] or [w["name"] for w in bench["workloads"]]:
        runs = []
        for seed in range(1, PAIRS + 1):
            order = SIDES if seed % 2 else SIDES[::-1]
            res = {}
            for side in order:
                res[side] = run_once(trees[side], workload, seed,
                                     bench["run_seconds"])
                print(f"# {workload} seed {seed} {side}: "
                      f"{problem(res[side]) or 'ok'}", file=sys.stderr)
            runs.append((seed, order[0], res))
        print("\n".join(report(workload, runs, bench["end_to_end"])),
              flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
