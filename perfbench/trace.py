"""In-memory spans around the benchmark's calls into the engine.

A span records its name, start, end, parent span and operation id.  With
tracing off every call is a no-op, so the untraced run measures the engine
alone; the traced run adds one Spark job group per operation and reads job,
stage and task counts for it from ``sparkContext.statusTracker()``.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    op: str
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered, reach = 0.0, s.start
        for c in sorted(children[s.sid], key=lambda c: c.start):
            lo, hi = max(c.start, reach, s.start), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s.sid] = (s.end - s.start) - covered
    return out


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a no-op."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op_seq = 0

    @contextmanager
    def op(self, name: str):
        """One benchmark operation: a root span and a Spark job group whose
        job, stage and task counts are stored on the span."""
        if not self.enabled:
            yield None
            return
        self._op_seq += 1
        group = f"perfbench-{self._op_seq}"
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(group, name)
        try:
            with self.span(name, op=group) as s:
                yield s
        finally:
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                s.counts.update(job_counts(sc, group))

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            sid=len(self.spans),
            name=name,
            op=op or (parent.op if parent else ""),
            parent=parent.sid if parent else None,
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str, parent: str | None = None) -> list[float]:
        """Durations of spans called ``name`` (under a ``parent``-named span)."""
        return [
            s.end - s.start
            for s in self.spans
            if s.name == name
            and (parent is None or (s.parent is not None and self.spans[s.parent].name == parent))
        ]

    def self_seconds_of(self, name: str) -> list[float]:
        """Self time of each span called ``name``."""
        st = self_times(self.spans)
        return [st[s.sid] for s in self.spans if s.name == name]

    def op_counts(self, prefix: str) -> dict[str, int]:
        """Summed Spark counts over operations whose name starts with prefix."""
        out: dict[str, int] = defaultdict(int)
        for s in self.spans:
            if s.parent is None and s.name.startswith(prefix):
                for k, v in s.counts.items():
                    out[k] += v
        return dict(out)

    def write(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**asdict(s), "self_s": st[s.sid]}) + "\n")


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks of one job group."""
    tracker = sc.statusTracker()
    jobs = stages = tasks = failed = 0
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            # stages a job lists but skips (reused shuffle output) ran no task
            if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                continue
            stages += 1
            tasks += st.numCompletedTasks
            failed += st.numFailedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}
