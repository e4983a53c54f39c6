"""In-memory span recorder for the traced "cut" run.

A span is (name, start, end, parent, run id). Each span also runs its
Spark jobs under its own job group, so the jobs a layer started and the
shuffle bytes they wrote can be read back from Spark's local status
store. Spans stay in memory; the run writes them out when it ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from meter import tree_cpu_s


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    run_id: str = ""
    cpu_s: float = 0.0
    jobs: list[int] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        group = f"{self.run_id}/{name}"
        self.sc.setJobGroup(group, name)
        s = Span(name, time.perf_counter(), parent=parent, run_id=self.run_id)
        cpu0 = tree_cpu_s()
        self._stack.append(name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.cpu_s = tree_cpu_s() - cpu0
            self._stack.pop()
            self.sc.setJobGroup(
                f"{self.run_id}/{parent}" if parent else self.run_id, parent or ""
            )
            s.jobs = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
            self.spans.append(s)

    def current_jobs(self) -> list[int]:
        """Jobs started so far inside the innermost open span."""
        group = f"{self.run_id}/{self._stack[-1]}"
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def get(self, name: str) -> Span:
        return next(s for s in self.spans if s.name == name)

    def self_seconds(self, name: str) -> float:
        """Span duration minus the part of it its child spans cover
        (children of one parent run one after another, never overlap)."""
        s = self.get(name)
        return s.seconds - sum(c.seconds for c in self.spans if c.parent == name)

    def shuffle_write_mb(self, name: str) -> float:
        """Shuffle bytes written by the stages of the span's own jobs.
        Stages shared with an earlier job read as skipped and add 0."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        empty = self.sc._jvm.java.util.ArrayList()
        no_q = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        stages = set()
        for j in self.get(name).jobs:
            info = self.sc.statusTracker().getJobInfo(j)
            stages.update(info.stageIds if info else ())
        total = 0
        for sid in stages:
            attempts = store.stageData(sid, False, empty, False, no_q)
            for i in range(attempts.size()):
                total += attempts.apply(i).shuffleWriteBytes()
        return total / 1e6
