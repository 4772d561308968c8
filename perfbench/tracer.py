"""In-memory spans around the benchmark's calls into each layer.

A span records its name, layer, start, end, parent span and the id of the
op (or query) it belongs to. When tracing is on, every span that is given
``spark=`` also runs its calls under its own ``SparkContext.setJobGroup``
and reads the group's job, stage and task counts back from
``statusTracker()`` when it closes. With tracing off, ``span()`` does
nothing but run the call, so the untraced runs measure the program alone.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from collections import defaultdict


class Span:
    __slots__ = ("sid", "name", "layer", "op", "parent", "start", "end", "jobs", "stages", "tasks")

    def __init__(self, sid, name, layer, op, parent):
        self.sid, self.name, self.layer, self.op, self.parent = sid, name, layer, op, parent
        self.start = self.end = 0.0
        self.jobs = self.stages = self.tasks = 0

    @property
    def dur(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._groups: list[tuple[str, str]] = []  # open (job group, name)
        self._ids = itertools.count(1)
        # time the tracer adds around the calls it wraps (span records,
        # job-group set-up, status-tracker reads): the tracing overhead
        self.bookkeeping_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, layer: str, op: str | None = None, spark=None):
        if not self.enabled:
            yield None
            return
        b0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, layer, op or (parent.op if parent else None),
                 parent.sid if parent else None)
        group = None
        if spark is not None:
            group = f"perfbench-{s.sid}"
            self._groups.append((group, name))
            spark.sparkContext.setJobGroup(group, name)
        self._stack.append(s)
        s.start = time.perf_counter()
        self.bookkeeping_s += s.start - b0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self._count_jobs(spark, group, s)
                self._groups.pop()
                sc = spark.sparkContext
                if self._groups:
                    sc.setJobGroup(*self._groups[-1])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(s)
            self.bookkeeping_s += time.perf_counter() - s.end

    @staticmethod
    def _count_jobs(spark, group: str, s: Span) -> None:
        tracker = spark.sparkContext.statusTracker()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            s.jobs += 1
            for sid in info.stageIds:
                stage = tracker.getStageInfo(sid)
                if stage is not None:
                    s.stages += 1
                    s.tasks += stage.numTasks

    # -- analysis -----------------------------------------------------------

    def self_times(self, spans: list[Span]) -> dict[str, float]:
        """Seconds per layer that no child span covers (children of one
        span run one after another, so their durations simply add)."""
        child = defaultdict(float)
        for s in spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        out = defaultdict(float)
        for s in spans:
            out[s.layer] += max(0.0, s.dur - child[s.sid])
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.as_dict() for s in self.spans], f)
