"""Spans around the benchmark's calls into each layer, with Spark counters.

A span records name, start, end, parent and run id. With tracing on,
each span puts the Spark work it triggers in its own job group and reads
that group's job and stage counters from Spark's status store as soon
as the call returns, before ``spark.ui.retainedStages`` can drop them.
Spans stay in memory; the runner writes them out once, at the end.

The arithmetic (self time, idle share, percentiles, per-layer sums) is
plain Python so that it can be tested without Spark.
"""

from __future__ import annotations

import math
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYERS = (
    "schema",
    "sources.bundles",
    "sources.xml",
    "sources.warehouse",
    "functions.valuesets",
    "operators.hierarchies",
    "operators.dedup",
    "operators.setjoin",
    "operators.similarity",
)

COUNTERS = ("jobs", "tasks", "task_s", "shuffle_bytes", "spill_bytes", "failed_tasks")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run: str = ""
    counters: dict = field(default_factory=dict)
    #: seconds this span spent reading its counters
    overhead_s: float = 0.0


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: (s.end - s.start) - covered(kids.get(s.id, [])) for s in spans}


def idle_share(task_s: float, self_s: float, cores: int) -> float:
    """Share of the cores' time during a layer's self time that no task
    ran: 1 - task_s / (self_s * cores)."""
    if self_s <= 0:
        return 0.0
    return 1.0 - task_s / (self_s * cores)


def tail_percentile(n: int) -> int | None:
    """The highest of p50/p90/p95/p99/p99.9 with at least ten samples
    beyond it, or None when even the median has fewer."""
    best = None
    for tenths in (500, 900, 950, 990, 999):  # integer arithmetic: no float edge at 99.9
        if n * (1000 - tenths) >= 10 * 1000:
            best = tenths // 10 if tenths % 10 == 0 else tenths / 10
    return best


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(values)
    return xs[max(0, math.ceil(p / 100 * len(xs)) - 1)]


def median(values: list[float]) -> float:
    xs = sorted(values)
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def layer_table(spans: list[Span], cores: int) -> dict[str, dict[str, float]]:
    """Per-layer sums over every span named after a layer."""
    selfs = self_times(spans)
    table = {layer: {c: 0 for c in COUNTERS} | {"self_s": 0.0} for layer in LAYERS}
    for s in spans:
        if s.name in table:
            row = table[s.name]
            row["self_s"] += selfs[s.id]
            for c in COUNTERS:
                row[c] += s.counters.get(c, 0)
    for row in table.values():
        row["idle_share"] = idle_share(row["task_s"], row["self_s"], cores)
    return table


class SparkCounters:
    """Reads one job group's counters from the driver's status stores."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()

    def read(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        out = dict.fromkeys(COUNTERS, 0)
        out["jobs"] = len(jobs)
        for sid in stages:
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # a stage that never ran has no attempt to read
                continue
            out["tasks"] += st.numCompleteTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["task_s"] += st.executorRunTime() / 1000.0
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
        return out

    def count_actions(self, group: str, recent: int = 500) -> int:
        """SQL executions of this group, among the ``recent`` latest, that
        answer a global ``count()``; a fixpoint loop issues one per round."""
        total = self.sql_store.executionsCount()
        it = self.sql_store.executionsList(max(0, total - recent), recent).iterator()
        n = 0
        while it.hasNext():
            e = it.next()
            plan = e.physicalPlanDescription()
            if e.description() == group and "Keys: []" in plan and "count(1)]" in plan:
                n += 1
        return n


class Tracer:
    """Records spans; with ``counters`` set, also Spark counters per span.

    ``Tracer(None)`` keeps only the span times, which cost two clock
    reads, so the untraced run times the same code path."""

    def __init__(self, counters: SparkCounters | None, run: str):
        self.counters = counters
        self.run = run
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, count_actions: bool = False):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, 0.0, parent=parent.id if parent else None, run=self.run)
        self.spans.append(s)
        self._stack.append(s)
        group = f"{self.run}/{s.id}"
        if self.counters:
            self.counters.sc.setJobGroup(group, group, False)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.counters:
                t0 = time.perf_counter()
                s.counters = self.counters.read(group)
                if count_actions:
                    s.counters["count_actions"] = self.counters.count_actions(group)
                if parent is not None:
                    pgroup = f"{self.run}/{parent.id}"
                    self.counters.sc.setJobGroup(pgroup, pgroup, False)
                else:
                    self.counters.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.counters.sc.setLocalProperty("spark.job.description", None)
                s.overhead_s = time.perf_counter() - t0
                self.overhead_s += s.overhead_s
