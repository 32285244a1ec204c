"""In-memory span recorder for the traced run.

Spans are opened only in the benchmark's own files, around each call
into an engine layer; nothing inside the package is instrumented. A
span records its name, start, end, parent and the id of its root span
(one batch pass or one lookup), so every span of a pass shares that
id. Spans opened with ``group=`` also claim a Spark job group for
their duration, so the jobs and tasks Spark ran inside them can be
read back from the status tracker afterwards.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    trace: int
    start: float
    end: float = 0.0
    group: str | None = None
    job_group: str | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


class NullTracer:
    """Untraced runs: same interface, records nothing."""

    enabled = False

    def span(self, name: str, group: str | None = None):
        return contextlib.nullcontext()


class Tracer:
    enabled = True

    def __init__(self, spark_context=None):
        self.spans: list[Span] = []
        self._sc = spark_context
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        s = Span(
            sid,
            name,
            parent.id if parent else None,
            parent.trace if parent else sid,
            time.perf_counter(),
            group=group,
        )
        prev_group = None
        if group is not None and self._sc is not None:
            s.job_group = f"perfbench-{sid}"
            prev_group = self._sc.getLocalProperty("spark.jobGroup.id")
            self._sc.setJobGroup(s.job_group, name)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)
            if s.job_group is not None:
                # None removes the property, as clearJobGroup would.
                self._sc.setLocalProperty("spark.jobGroup.id", prev_group)

    def dump(self, path: str, extra: dict) -> None:
        """Write every span plus ``extra`` (the summary) as JSON."""
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, fh)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus its children's durations. The tracer
    is single-threaded and stack-based, so children run one after
    another inside their parent and never overlap."""
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] += s.duration
    return {s.id: s.duration - child_time[s.id] for s in spans}


def layer_summary(spans: list[Span]) -> dict[str, dict]:
    """Per span name: count, inclusive seconds and self seconds."""
    selfs = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        row = out.setdefault(s.name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
        row["count"] += 1
        row["total_s"] += s.duration
        row["self_s"] += selfs[s.id]
    return out


def spark_work(spark_context, job_group: str) -> tuple[int, int, int]:
    """(jobs, completed tasks, failed tasks) Spark ran in a job group."""
    st = spark_context.statusTracker()
    jobs = st.getJobIdsForGroup(job_group)
    tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for stage_id in info.stageIds:
            stage = st.getStageInfo(stage_id)
            if stage is not None:
                tasks += stage.numCompletedTasks
                failed += stage.numFailedTasks
    return len(jobs), tasks, failed
