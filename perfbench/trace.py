"""In-memory spans around the benchmark's calls into each layer.

A span is (name, start, end, parent, op); spans of one op share the
op id. Spark work is attributed to a span by job group: while a span
is open its id is the thread's job group, and the jobs, stages and
tasks of that group are resolved from ``statusTracker()`` once the
run is over. ``threads=True`` spans also claim the group-less jobs
that appeared while they were open: library code that submits jobs
from its own driver threads (``build_segments``) does not inherit the
caller's job group.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    jobs: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


def covered(intervals) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans) -> dict[int, float]:
    """Span id -> its duration minus the part of it that its direct
    children cover, in ms (children are clipped to the parent)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            kids.setdefault(p.id, []).append(
                (max(s.start, p.start), min(s.end, p.end)))
    return {
        s.id: (s.end - s.start - covered(
            [iv for iv in kids.get(s.id, []) if iv[1] > iv[0]])) * 1000.0
        for s in spans
    }


class Tracer:
    """Records spans when enabled; when disabled ``span`` costs one
    generator frame and records nothing."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._threads: dict[int, tuple[set, set]] = {}
        if enabled and sc is not None:
            sc.setJobGroup("bench", "benchmark harness")

    def _untagged(self) -> set:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(self.sc.statusTracker().getJobIdsForGroup(None))

    @contextmanager
    def span(self, name: str, op: int | None = None, threads=False):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, 0.0,
                  parent=parent.id if parent else None,
                  op=op if op is not None else (parent.op if parent
                                                else None))
        before = self._untagged() if threads and self.sc else None
        if self.sc is not None:
            self.sc.setJobGroup(f"span{sp.id}", name)
        self.spans.append(sp)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setJobGroup(
                    f"span{parent.id}" if parent else "bench",
                    parent.name if parent else "benchmark harness")
            if before is not None:
                self._threads[sp.id] = (before, self._untagged())

    def resolve_jobs(self) -> None:
        """Fill each span's jobs/stages/tasks from the status tracker."""
        if not self.enabled or self.sc is None:
            return
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        for sp in self.spans:
            jobs = set(st.getJobIdsForGroup(f"span{sp.id}"))
            if sp.id in self._threads:
                before, after = self._threads[sp.id]
                jobs |= after - before
            sp.jobs = sorted(jobs)
            for j in sp.jobs:
                info = st.getJobInfo(j)
                for sid in (info.stageIds if info else []):
                    si = st.getStageInfo(sid)
                    if si is not None:
                        sp.stages += 1
                        sp.tasks += si.numTasks

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str, extra: dict | None = None) -> None:
        selfs = self_times(self.spans)
        rows = [dict(asdict(s), ms=s.ms, self_ms=selfs[s.id])
                for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": rows, **(extra or {})}, f)
