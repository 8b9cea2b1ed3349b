"""In-memory spans for the traced run.

A span records a name, its start and end, and the span that was open when
it started. Spans are kept in a list and summarised when the run ends; a
layer's self time is its span's duration minus the time its child spans
cover. With tracing off, ``span`` is a no-op context manager.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager, nullcontext


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []  # [name, parent index or None, start, end, child seconds, attrs]
        self._open: list = []

    def span(self, name: str, **attrs):
        return self._span(name, attrs) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str, attrs: dict):
        parent = self._open[-1] if self._open else None
        rec = [name, parent, time.perf_counter(), None, 0.0, attrs]
        self.spans.append(rec)
        self._open.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec[3] = time.perf_counter()
            self._open.pop()
            if parent is not None:
                self.spans[parent][4] += rec[3] - rec[2]

    def self_times(self, name: str, **match) -> list:
        """Self seconds of every closed span called ``name`` whose attributes
        include ``match``."""
        return [
            (end - start) - child
            for n, _, start, end, child, attrs in self.spans
            if n == name and end is not None and all(attrs.get(k) == v for k, v in match.items())
        ]

    def summary(self) -> dict:
        """name -> {count, self_s total, self_s median}."""
        names = sorted({s[0] for s in self.spans})
        out = {}
        for name in names:
            st = self.self_times(name)
            if st:
                out[name] = {"count": len(st), "self_s": sum(st), "median_self_s": statistics.median(st)}
        return out


class JobCounter:
    """Spark jobs, stages and tasks run under one job group, read from the
    status tracker after the group's work is done."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.per_op: list = []  # (jobs, stages, tasks)
        self._n = 0

    def group(self):
        if not self.enabled:
            return nullcontext()
        return self._group()

    @contextmanager
    def _group(self):
        self._n += 1
        gid = f"perfbench-op-{self._n}"
        self.sc.setJobGroup(gid, gid)
        try:
            yield
        finally:
            self.sc.setJobGroup("perfbench-idle", "perfbench-idle")
            tracker = self.sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(gid)
            stage_ids = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            tasks = 0
            for s in stage_ids:
                info = tracker.getStageInfo(s)
                if info is not None:
                    tasks += info.numTasks
            self.per_op.append((len(jobs), len(stage_ids), tasks))
