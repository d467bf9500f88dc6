"""Spans around the benchmark's calls into each layer of the package.

A span records name, start, end, parent span and op id.  While a span is
open, Spark jobs run under a job group named after it, so the jobs, tasks
and failed tasks of each span come from ``statusTracker``.  Those are read
once, after the measured rounds: the status store is fed by Spark's
asynchronous listener bus, so a job that just finished may not be listed
yet.  Spans stay in memory and are written once, when the run ends.  A
disabled tracer only keeps the op id current: an untraced round pays no
job-group or status-tracker calls.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

LAYERS = ("session", "sources", "frame", "render", "operators", "pipeline")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    def __init__(self, spark=None):
        self.spark = spark
        self.enabled = False
        self.spans: list[Span] = []
        self.op: int | None = None
        self._stack: list[int] = []
        self._next = 0

    def _group(self, sid: int) -> str:
        return f"perfbench-{sid}"

    def _set_group(self, sid: int | None) -> None:
        sc = self.spark.sparkContext
        if sid is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(self._group(sid), "perfbench span")

    def _job_stats(self, sid: int) -> tuple[int, int, int]:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(self._group(sid))
        tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                if si is not None:
                    tasks += si.numCompletedTasks
                    failed += si.numFailedTasks
        return len(jobs), tasks, failed

    def open(self, name: str, **attrs) -> Span | None:
        """Start a span; returns None when tracing is off."""
        if not self.enabled:
            return None
        self._next += 1
        sp = Span(
            self._next,
            name,
            time.perf_counter(),
            0.0,
            self._stack[-1] if self._stack else None,
            self.op,
            attrs=attrs,
        )
        self._stack.append(sp.id)
        self._set_group(sp.id)
        return sp

    def close(self, sp: Span | None) -> None:
        if sp is None:
            return
        sp.end = time.perf_counter()
        self._stack.pop()
        self._set_group(self._stack[-1] if self._stack else None)
        self.spans.append(sp)

    def resolve_jobs(self) -> None:
        """Fill in each span's jobs, tasks and failed tasks, once the
        listener bus has delivered every event."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        for sp in self.spans:
            if sp.id > 0:
                sp.jobs, sp.tasks, sp.failed_tasks = self._job_stats(sp.id)

    @contextmanager
    def span(self, name: str, **attrs):
        sp = self.open(name, **attrs)
        try:
            yield sp
        finally:
            self.close(sp)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(asdict(sp)) + "\n")


def self_ms(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the time its child spans cover (children
    of one span run one after another, so their durations add)."""
    child = {}
    for sp in spans:
        if sp.parent is not None:
            child[sp.parent] = child.get(sp.parent, 0.0) + sp.ms
    return {sp.id: sp.ms - child.get(sp.id, 0.0) for sp in spans}


def layer_table(spans: list[Span]) -> list[dict]:
    """Per layer: calls, total self time and jobs started in its spans
    (jobs of a nested span count once, in the innermost span)."""
    own = self_ms(spans)
    rows = []
    for layer in LAYERS:
        mine = [sp for sp in spans if sp.layer == layer]
        rows.append(
            {
                "layer": layer,
                "calls": len(mine),
                "self_ms": sum(own[sp.id] for sp in mine),
                "jobs": sum(sp.jobs for sp in mine),
            }
        )
    return rows
