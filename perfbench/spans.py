"""In-memory spans for the traced run, plus Spark job accounting.

A span records one call into an engine layer from the benchmark's side:
name, start, end, the span that caused it and the run it belongs to.
Spans stay in memory and are written once, when the run ends. A span's
self time is its duration minus the part of its interval that its child
spans cover.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op.

    Each thread keeps its own stack of open spans, so a span opened on a
    callback thread (a streaming sink) does not adopt the main thread's
    open span as parent unless one is passed explicitly."""

    def __init__(self, run_id: str, enabled: bool = True) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        """Time the body as one span; yields the span id (None when off)."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            sid = next(self._ids)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, self.run_id))

    def self_by_name(self) -> dict[str, float]:
        """Summed self time of the spans of each name."""
        selfs = self_times(self.spans)
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + selfs[s.id]
        return out

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as fh:
            json.dump(
                [{**asdict(s), "self_s": selfs[s.id]} for s in self.spans], fh
            )


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the union of its children's intervals,
    each child clipped to the parent's interval."""
    by_id = {s.id: s for s in spans}
    children: dict[int, list[tuple[float, float]]] = {s.id: [] for s in spans}
    for s in spans:
        p = by_id.get(s.parent) if s.parent is not None else None
        if p is None:
            continue
        start, end = max(s.start, p.start), min(s.end, p.end)
        if end > start:
            children[p.id].append((start, end))
    return {
        s.id: (s.end - s.start) - _covered(children[s.id]) for s in spans
    }


@contextmanager
def job_group(spark, group: str):
    """Tag every Spark job the current thread launches with ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield group
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def job_counts(spark, group: str) -> dict[str, int]:
    """Jobs, stages that ran and tasks completed for one job group, read
    from Spark's status tracker."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = 0
    for sid in stage_ids:
        info = tracker.getStageInfo(sid)
        if info is not None and info.numCompletedTasks > 0:
            stages += 1
            tasks += info.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def map_stage_tasks(spark, group: str) -> list[int]:
    """Task counts of the shuffle-map stages of a job group, in stage
    order. A job's last stage is its result stage; every other stage it
    lists is a map stage (shared by the later jobs that reuse its
    shuffle)."""
    tracker = spark.sparkContext.statusTracker()
    result_ids: set[int] = set()
    all_ids: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None or not info.stageIds:
            continue
        all_ids.update(info.stageIds)
        result_ids.add(max(info.stageIds))
    out = []
    for sid in sorted(all_ids - result_ids):
        info = tracker.getStageInfo(sid)
        if info is not None and info.numCompletedTasks > 0:
            out.append(info.numTasks)
    return out
