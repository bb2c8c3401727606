"""In-memory spans for the traced run, and Spark's own counters.

A span has a name, a start, an end, a parent span and a request id; the
spans of one request (or one registry entry) share that id. Spans are
kept in a list and written out once, when the run ends. A layer's self
time is its span's duration minus the part of that interval its child
spans cover.

``Tracer(enabled=False)`` records nothing and adds no Spark calls, so the
untraced run measures the program alone.
"""

from __future__ import annotations

import functools
import itertools
import re
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    span_id: int = 0
    parent: int | None = None
    request: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "name": self.name,
            "start": self.start,
            "end": self.end,
            "id": self.span_id,
            "parent": self.parent,
            "request": self.request,
            **({"attrs": self.attrs} if self.attrs else {}),
        }


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``
    (each clipped to ``[lo, hi]``; overlapping children count once)."""
    total, reach = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= reach:
            continue
        total += b - max(a, reach)
        reach = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> self time (seconds): duration minus child coverage."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: s.duration - covered(children.get(s.span_id, []), s.start, s.end)
        for s in spans
    }


class Tracer:
    """Span recorder shared by the threads of one process.

    ``overhead_s`` accumulates the time the tracer itself spends inside
    timed regions (span bookkeeping and the Spark calls it adds there),
    so a traced run can state its own cost.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._requests = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def reset(self) -> None:
        """Drop what was recorded so far (e.g. during a warm-up)."""
        with self._lock:
            self.spans.clear()
            self.overhead_s = 0.0

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def _add_overhead(self, seconds: float) -> None:
        with self._lock:
            self.overhead_s += seconds

    @contextmanager
    def job_group(self, sc, group: str):
        """Tag the Spark jobs this thread starts inside the block with
        ``group``, then restore the previous group (groups nest: a source
        read inside a query build gets its own). No-op when disabled."""
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, group)
        self._add_overhead(time.perf_counter() - t0)
        try:
            yield
        finally:
            t1 = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", prev)
            sc.setLocalProperty("spark.job.description", prev)
            self._add_overhead(time.perf_counter() - t1)

    @contextmanager
    def span(self, name: str, new_request: bool = False, **attrs):
        """Record ``name`` around the block. ``new_request`` starts a new
        request id; otherwise the span joins its parent's request."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        request = next(self._requests) if new_request or parent is None else parent.request
        s = Span(name, 0.0, span_id=next(self._ids), request=request, attrs=dict(attrs),
                 parent=parent.span_id if parent else None)
        stack.append(s)
        t1 = time.perf_counter()
        s.start = t1
        try:
            yield s
        finally:
            t2 = time.perf_counter()
            s.end = t2
            stack.pop()
            with self._lock:
                self.spans.append(s)
            self._add_overhead((t1 - t0) + (time.perf_counter() - t2))

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span per call."""
        if not self.enabled:
            return
        inner = getattr(owner, attr)

        @functools.wraps(inner)
        def traced(*args, **kwargs):
            with self.span(name):
                return inner(*args, **kwargs)

        setattr(owner, attr, traced)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self) -> list[dict]:
        return [s.as_dict() for s in sorted(self.spans, key=lambda s: s.start)]


def p50(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100); 0.0 when empty."""
    values = sorted(values)
    if not values:
        return 0.0
    k = max(0, min(len(values) - 1, int(-(-q * len(values) // 100)) - 1))
    return float(values[k])


# -- Spark's own counters -----------------------------------------------------

_EXCHANGE = re.compile(r"^[\s:|+\-*]*(\w*Exchange)\b")


def count_exchanges(plan_string: str) -> int:
    """``Exchange`` operators (shuffle and broadcast) in a plan's tree string."""
    return sum(1 for line in plan_string.splitlines() if _EXCHANGE.match(line))


def plan_shape(df) -> dict:
    """Leaf relations of the optimized plan and exchanges of the executed
    plan of an already-executed DataFrame."""
    qe = df._jdf.queryExecution()
    return {
        "scan_leaves": int(qe.optimizedPlan().collectLeaves().size()),
        "exchanges": count_exchanges(qe.executedPlan().toString()),
    }


class SparkCounters:
    """Jobs, stages, tasks, shuffle bytes, spill and task skew of a job
    group, read from ``statusTracker`` and the application status store
    once the run has ended."""

    def __init__(self, sc):
        self.sc = sc
        self._store = sc._jsc.sc().statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def group(self, group: str, detail: bool = False) -> dict:
        tracker = self.sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(group))
        stages: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0}
        if detail:
            out.update(shuffle_bytes=0, spill_bytes=0, task_skew=0.0)
        for sid in stages:
            info = tracker.getStageInfo(sid)
            if info is None or info.numCompletedTasks == 0:
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += info.numCompletedTasks
            if detail:
                self._stage_detail(sid, out)
        return out

    def _stage_detail(self, sid: int, out: dict) -> None:
        st = self._store.lastStageAttempt(sid)
        out["shuffle_bytes"] += int(st.shuffleWriteBytes())
        out["spill_bytes"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
        if st.numCompleteTasks() < 2:
            return
        gw = self.sc._gateway
        qs = gw.new_array(gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        summary = self._store.taskSummary(sid, st.attemptId(), qs)
        if summary.isDefined():
            runtime = summary.get().executorRunTime()
            med, top = float(runtime.apply(0)), float(runtime.apply(1))
            if med > 0:
                out["task_skew"] = max(out["task_skew"], top / med)
