"""Spans, percentiles and Spark job accounting for the benchmark.

The tracer records spans in the benchmark's own code around each call into
a layer of the program: name, start, end, parent span and operation id.
Spans stay in memory; :meth:`Tracer.dump` writes them out when the run
ends. A span's self time is its duration minus the part of it covered by
its child spans, so the self times of one operation's spans sum exactly to
the operation's wall time and the root span's self time is the time no
layer claimed.

A disabled tracer hands out one shared no-op context manager, so the
untraced runs that give the end-to-end metrics pay one attribute lookup per
span and nothing else.
"""

from __future__ import annotations

import contextlib
import json
import math
import statistics
import threading
import time


#: Root spans whose wall time the layer spans under them must account for.
ROOT_SPANS = ("op", "setup")


class _Span:
    __slots__ = ("sid", "name", "op", "parent", "start", "end")

    def __init__(self, sid, name, op, parent, start):
        self.sid, self.name, self.op, self.parent = sid, name, op, parent
        self.start, self.end = start, None


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[_Span] = []
        self._local = threading.local()
        self._null = contextlib.nullcontext()

    def span(self, name: str, op: str | None = None):
        """Context manager timing ``name``; nested spans inherit ``op``."""
        if not self.enabled:
            return self._null
        return self._record(name, op)

    @contextlib.contextmanager
    def _record(self, name: str, op: str | None):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        s = _Span(len(self.spans), name,
                  op if op is not None else (parent.op if parent else None),
                  parent.sid if parent else None, time.perf_counter())
        self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()

    def self_times(self) -> dict[int, float]:
        """Self time (seconds) of every finished span, by span id."""
        covered: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None and s.end is not None:
                covered[s.parent] = covered.get(s.parent, 0.0) + (s.end - s.start)
        return {s.sid: (s.end - s.start) - covered.get(s.sid, 0.0)
                for s in self.spans if s.end is not None}

    def self_by_name(self) -> dict[str, list[float]]:
        """Self times grouped by span name (one entry per span)."""
        st = self.self_times()
        out: dict[str, list[float]] = {}
        for s in self.spans:
            if s.sid in st:
                out.setdefault(s.name, []).append(st[s.sid])
        return out

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans
                if s.name == name and s.end is not None]

    def check(self, tolerance: float) -> list[str]:
        """Nesting and accounting problems: every child lies inside its
        parent, no self time is negative, and each operation's or set-up's
        own (unattributed) self time is at most ``tolerance`` of its wall."""
        problems = []
        by_id = {s.sid: s for s in self.spans}
        st = self.self_times()
        eps = 1e-6
        for s in self.spans:
            if s.end is None:
                problems.append(f"span {s.name} never ended")
                continue
            if st[s.sid] < -eps:
                problems.append(f"span {s.name} has negative self time")
            if s.parent is not None:
                p = by_id[s.parent]
                if s.start < p.start - eps or (p.end is not None and s.end > p.end + eps):
                    problems.append(f"span {s.name} escapes parent {p.name}")
            elif (s.name in ROOT_SPANS and s.end - s.start > 0.05
                  and st[s.sid] > tolerance * (s.end - s.start)):
                problems.append(
                    f"root span {s.name}: {st[s.sid]:.4f}s of "
                    f"{s.end - s.start:.4f}s not attributed to a layer")
        return problems

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps({"id": s.sid, "name": s.name, "op": s.op,
                                    "parent": s.parent, "start": s.start,
                                    "end": s.end}) + "\n")


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile ``q`` (0-100) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    v = sorted(values)
    return v[max(0, math.ceil(q / 100.0 * len(v)) - 1)]


def hd_percentile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of percentile ``q`` (0-100): a mean of all
    order statistics weighted by a Beta((n+1)p, (n+1)(1-p)) mass around
    rank pn. A single order statistic jumps when its rank falls between
    two clusters of samples (the analytics shapes form such clusters);
    this estimate moves by a fraction of the gap. Meant for n of 20 or
    more."""
    import numpy as np

    if not values:
        raise ValueError("percentile of no samples")
    n, p = len(values), q / 100.0
    a, b = p * (n + 1), (1 - p) * (n + 1)
    grid = np.linspace(0.0, 1.0, 20_001)
    pdf = np.zeros_like(grid)
    x = grid[1:-1]
    pdf[1:-1] = np.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                       + (a - 1) * np.log(x) + (b - 1) * np.log1p(-x))
    cdf = np.concatenate(([0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)))
    weights = np.diff(np.interp(np.arange(n + 1) / n, grid, cdf / cdf[-1]))
    return float(np.dot(weights, sorted(values)))


def tail_percentile(n_min: int) -> float:
    """The highest of p99/p90/p75/p50 that leaves at least ten samples
    beyond it when a run has at least ``n_min`` samples."""
    for q in (99.0, 90.0, 75.0):
        if n_min * (1 - q / 100.0) >= 10:
            return q
    return 50.0


def beyond(values: list[float], q: float) -> int:
    """How many samples lie strictly beyond percentile ``q``."""
    p = percentile(values, q)
    return sum(1 for v in values if v > p)


class JobCounter:
    """Spark jobs, stages and tasks of one operation, read from the public
    status tracker under a per-operation job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._n = 0

    def start(self, label: str) -> str:
        self._n += 1
        group = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(group, label)
        return group

    def finish(self, group: str) -> dict:
        jobs = stages = tasks = failed = 0
        for jid in self.tracker.getJobIdsForGroup(group):
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is None:
                    continue
                stages += 1
                tasks += st.numTasks
                failed += st.numFailedTasks
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}


def layer_metrics(b, names: list[tuple[str, str]]) -> None:
    """Per-layer self-time medians (ms) from the trace, for each
    ``(metric, span name)``; a layer this workload never entered reads 0
    with 0 samples."""
    by_name = b.tracer.self_by_name()
    for metric, span in names:
        vals = by_name.get(span, [])
        b.metric(metric, statistics.median(vals) * 1000 if vals else 0.0, "ms", len(vals))


def trace_overhead(b, traced: list[float], untraced: list[float]) -> None:
    """``bench.trace_overhead_pct``: median traced over median untraced
    duration of the same work, interleaved within one traced run."""
    pct = (statistics.median(traced) / statistics.median(untraced) - 1) * 100
    b.metric("bench.trace_overhead_pct", pct, "%", len(traced) + len(untraced))


def job_metrics(b) -> None:
    c = b.job_counts
    n = len(c)

    def med(k):
        return statistics.median([x[k] for x in c]) if c else 0.0

    b.metric("spark.jobs_per_op", med("jobs"), "count", n)
    b.metric("spark.stages_per_op", med("stages"), "count", n)
    b.metric("spark.tasks_per_op", med("tasks"), "count", n)
    b.metric("spark.failed_tasks", sum(x["failed_tasks"] for x in c), "count", n)
