"""Spans and Spark job attribution for the traced run.

A span is recorded around every call the benchmark makes into a layer:
name, start, end, parent span and run id, kept in memory and written as
JSON when the run ends.  For each call the Spark jobs it launched are
read from the application status store right after the call returns
(the store keeps only the most recent ~1000 jobs, so reading at pass end
would lose some) and become the call span's children.  A span's self
time is its duration minus the part its children cover; for a call that
is its driver-side time, the wall outside every Spark job.
"""

from __future__ import annotations

import itertools
import json
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)``
    intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    """Intervals cut to the window ``[lo, hi]``; empty ones dropped."""
    out = []
    for start, end in intervals:
        start, end = max(start, lo), min(end, hi)
        if end > start:
            out.append((start, end))
    return out


def gap_seconds(wall_start: float, wall_end: float, jobs: list[tuple[float, float]]) -> float:
    """Driver-side time of a call: its wall minus the union of its job
    intervals inside the call window."""
    covered = union_length(clip(jobs, wall_start, wall_end))
    return (wall_end - wall_start) - covered


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; one per run."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)

    def record(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        span = Span(next(self._ids), name, start, end, parent, self.run_id, attrs)
        self.spans.append(span)
        return span.span_id

    def close(self, span_id: int, end: float) -> None:
        self.spans[span_id - 1].end = end

    def self_times(self) -> dict[int, float]:
        """span_id -> duration minus the union of its children's
        intervals clipped to the span."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        return {
            s.span_id: (s.end - s.start)
            - union_length(clip(children.get(s.span_id, []), s.start, s.end))
            for s in self.spans
        }

    def self_time_by_name(self) -> dict[str, float]:
        own = self.self_times()
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + own[s.span_id]
        return out

    def dump(self, path: str, summary: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "summary": summary,
                       "spans": [asdict(s) for s in self.spans]}, f)


@dataclass
class JobRecord:
    job_id: int
    start: float
    end: float
    task_s: float = 0.0
    cpu_s: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    failed_tasks: int = 0


class StatusStoreReader:
    """Reads the jobs a call launched from Spark's own status store.

    Each call runs under a unique job group.  Job ids are sequential, so
    after a call the reader walks ids from its watermark until the store
    has no such job.  A job is the call's when it carries the call's
    group, or carries no group and was submitted inside the call's
    window; with one client thread nothing else can have launched it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._next_job = 0
        self._seen_stages: set[int] = set()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group, False)

    def collect(self, group: str, t0: float, t1: float) -> list[JobRecord]:
        """Jobs of the call that ran under ``group`` in ``[t0, t1]``
        (epoch seconds)."""
        self._bus.waitUntilEmpty()
        jobs: list[JobRecord] = []
        while True:
            try:
                data = self._store.job(self._next_job)
            except Py4JJavaError:  # NoSuchElementException: no newer job
                break
            self._next_job += 1
            g = data.jobGroup()
            submitted = data.submissionTime()
            if not submitted.isDefined():
                continue
            start = submitted.get().getTime() / 1000.0
            done = data.completionTime()
            end = done.get().getTime() / 1000.0 if done.isDefined() else t1
            mine = g.get() == group if g.isDefined() else t0 <= start <= t1
            if not mine:
                continue
            rec = JobRecord(data.jobId(), start, end)
            it = data.stageIds().iterator()
            while it.hasNext():
                self._add_stage(rec, it.next())
            jobs.append(rec)
        return jobs

    def _add_stage(self, rec: JobRecord, stage_id: int) -> None:
        # a stage skipped by a later job keeps its id; count its work once
        if stage_id in self._seen_stages:
            return
        try:
            st = self._store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # NoSuchElementException: stage never ran
            return
        if st.status().toString() == "SKIPPED":
            return
        self._seen_stages.add(stage_id)
        rec.task_s += st.executorRunTime() / 1000.0
        rec.cpu_s += st.executorCpuTime() / 1e9
        rec.input_bytes += st.inputBytes()
        rec.shuffle_write_bytes += st.shuffleWriteBytes()
        rec.spill_bytes += st.diskBytesSpilled()
        rec.failed_tasks += st.numFailedTasks()
