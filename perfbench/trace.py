"""Spans and Spark job counts recorded by the benchmark around the engine's
public calls (traced runs only).

A span is (name, start, end, parent, thread) and lives in memory until the
run writes them all out at exit. Each span that may run Spark actions gets
its own job group, so `statusTracker()` can attribute jobs and tasks to
it afterwards. Self time is a span's duration minus the part of it its
child spans cover. The tracer times its own bookkeeping so the run can
report what tracing cost.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    thread: str = ""
    group: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a no-op context otherwise."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()

    # -- spans ---------------------------------------------------------------
    @contextmanager
    def span(self, name: str, *, jobs: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = self._stack()
        sp = Span(next(self._ids), name, 0.0, parent=stack[-1].sid if stack else None,
                  thread=threading.current_thread().name, attrs=dict(attrs))
        if jobs and self.spark is not None:
            sp.group = f"perfbench-{sp.sid}"
            self.spark.sparkContext.setJobGroup(sp.group, name)
        stack.append(sp)
        self.overhead_s += time.perf_counter() - t0
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            t1 = time.perf_counter()
            stack.pop()
            if sp.group is not None:
                outer = next((s.group for s in reversed(stack) if s.group), None)
                sc = self.spark.sparkContext
                if outer is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(outer, "")
            with self._lock:
                self.spans.append(sp)
            self.overhead_s += time.perf_counter() - t1

    def record(self, name: str, start: float, end: float, **attrs) -> Span | None:
        """A span whose interval was measured elsewhere (e.g. a streaming
        batch reported by the query listener). Span times are wall-clock
        seconds, the clock Spark's progress reports use."""
        if not self.enabled:
            return None
        sp = Span(next(self._ids), name, start, end, thread="listener", attrs=attrs)
        with self._lock:
            self.spans.append(sp)
        return sp

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    # -- aggregation -----------------------------------------------------------
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the union of its children's intervals."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_end = 0.0, s.start
            for c in sorted(kids.get(s.sid, ()), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s.sid] = s.dur - covered
        return out

    def jobs_tasks(self, group: str) -> tuple[int, int]:
        """(jobs, completed tasks) Spark ran under `group`."""
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                stage = st.getStageInfo(sid)
                tasks += stage.numCompletedTasks if stage else 0
        return len(jobs), tasks

    def span_jobs(self, name: str) -> tuple[int, int]:
        """Jobs and tasks under every span called `name`, children included."""
        want = {s.sid for s in self.named(name)}
        by_parent: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                by_parent.setdefault(s.parent, []).append(s)
        jobs = tasks = 0
        frontier = [s for s in self.spans if s.sid in want]
        while frontier:
            s = frontier.pop()
            if s.group:
                j, t = self.jobs_tasks(s.group)
                jobs, tasks = jobs + j, tasks + t
            frontier.extend(by_parent.get(s.sid, ()))
        return jobs, tasks

    def write(self, path: str, extra: dict | None = None) -> None:
        selfs = self.self_times()
        doc = {
            "spans": [
                {"id": s.sid, "name": s.name, "start": s.start, "end": s.end,
                 "self_s": selfs[s.sid], "parent": s.parent, "thread": s.thread,
                 "job_group": s.group, **({"attrs": s.attrs} if s.attrs else {})}
                for s in sorted(self.spans, key=lambda s: s.start)
            ],
            **(extra or {}),
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, default=str)
