"""Spans and Spark stage accounting for the traced benchmark run.

A span records one call into a layer: name, start, end and the span
that caused it. Spans stay in memory and are written as one side file
when the run ends. While a span is the innermost one, every Spark job
the driver submits carries the span's own job group, so after the
call the jobs, stages and task metrics of that span can be read back
from ``statusTracker()`` and the status store -- both available with
``spark.ui.enabled=false``.

Layers are traced from outside the package: ``instrument`` swaps a
module attribute (a layer's public function, as the calling module
looks it up) for a wrapper that opens a span, and restores every
attribute when the block ends, exceptions included.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import asdict, dataclass, field

_JOB_PROPS = ("spark.jobGroup.id", "spark.job.description",
              "spark.job.interruptOnCancel")


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    #: counters measured at this boundary (stage metrics, rows, files)
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """In-memory span recorder. With a SparkContext, each span also
    tags the jobs it submits with its own job group."""

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def group(self, span: Span) -> str:
        return f"perfbench-{span.id}"

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1].id if self._stack else None
        s = Span(id=len(self.spans), parent=parent, name=name, start=time.time())
        self.spans.append(s)
        self._stack.append(s)
        saved = None
        if self.sc is not None:
            saved = [self.sc.getLocalProperty(k) for k in _JOB_PROPS]
            self.sc.setJobGroup(self.group(s), name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if saved is not None:
                for k, v in zip(_JOB_PROPS, saved):
                    self.sc.setLocalProperty(k, v)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = [(c.start, c.end) for c in self.children(span)]
        return span.duration - covered(kids, span.start, span.end)

    def write(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], **(extra or {})}, f)


@contextlib.contextmanager
def instrument(tracer: Tracer, targets: list[tuple[object, str, str]]):
    """Wrap ``getattr(module, attr)`` in a span named ``name`` for each
    (module, attr, name) target; restore all attributes on exit."""
    originals = []
    try:
        for module, attr, name in targets:
            fn = getattr(module, attr)
            originals.append((module, attr, fn))
            setattr(module, attr, _wrap(tracer, fn, name))
        yield
    finally:
        for module, attr, fn in reversed(originals):
            setattr(module, attr, fn)


def _wrap(tracer: Tracer, fn, name: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)
    return wrapper


#: Stage-level counters summed over a span's stages.
STAGE_FIELDS = ("tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                "input_bytes", "output_bytes", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes")


def collect_jobs(tracer: Tracer, span: Span) -> None:
    """Read back the jobs of ``span``'s own job group and store their
    count, stage metrics and run intervals in ``span.counts``. Call it
    soon after the span ends: the status store keeps a bounded number
    of jobs and stages."""
    sc = tracer.sc
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    counts = dict.fromkeys(STAGE_FIELDS, 0.0)
    intervals, stages = [], set()
    job_ids = tracker.getJobIdsForGroup(tracer.group(span))
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stages.update(int(s) for s in info.stageIds)
        job = store.job(jid)
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined() and done.isDefined():
            intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
    for sid in stages:
        st = store.lastStageAttempt(sid)
        if st.status().toString() == "SKIPPED":
            continue
        counts["tasks"] += st.numCompleteTasks()
        counts["executor_run_s"] += st.executorRunTime() / 1e3
        counts["executor_cpu_s"] += st.executorCpuTime() / 1e9
        counts["gc_s"] += st.jvmGcTime() / 1e3
        counts["input_bytes"] += st.inputBytes()
        counts["output_bytes"] += st.outputBytes()
        counts["shuffle_read_bytes"] += st.shuffleReadBytes()
        counts["shuffle_write_bytes"] += st.shuffleWriteBytes()
        counts["spill_bytes"] += st.diskBytesSpilled()
    counts["jobs"] = len(job_ids)
    counts["job_intervals"] = intervals
    span.counts.update(counts)


def collect_tree(tracer: Tracer, root: Span) -> None:
    for s in tracer.subtree(root):
        collect_jobs(tracer, s)


def tree_total(tracer: Tracer, root: Span, key: str) -> float:
    """Sum of counter ``key`` over ``root`` and all its descendants."""
    return sum(s.counts.get(key, 0.0) for s in tracer.subtree(root))


def job_intervals(tracer: Tracer, root: Span) -> list[tuple[float, float]]:
    return [iv for s in tracer.subtree(root) for iv in s.counts.get("job_intervals", [])]
