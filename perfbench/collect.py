"""Collectors for the traced run: spans, the Spark event log, statusTracker.

Everything here is plain data in, plain data out, so it is unit-tested
against canned inputs in ``tests/test_collect.py``:

- ``Tracer`` keeps spans (name, start, end, parent, trace id) in memory;
  ``self_times`` subtracts the union of a span's children from it.
- ``parse_event_log`` reads Spark's JSON event log and keeps, per job
  group, the job intervals and the ``SparkListenerTaskEnd`` metrics.
- ``status_counts`` asks ``statusTracker`` for a job group's jobs and
  tasks while the application is still running.
"""

from __future__ import annotations

import json
import time
from collections.abc import Iterable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

JOB_GROUP_PROPERTY = "spark.jobGroup.id"


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------
@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory. Nesting follows the ``span`` context managers
    of the one driver thread; a span's trace id is inherited from its
    parent unless given."""

    def __init__(self, clock=time.time):
        self._clock = clock
        self._stack: list[Span] = []
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, trace_id: str | None = None, **attrs) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        if trace_id is None:
            trace_id = parent.trace_id if parent else ""
        sp = Span(
            span_id=len(self.spans),
            name=name,
            start=self._clock(),
            end=float("nan"),
            parent=parent.span_id if parent else None,
            trace_id=trace_id,
            attrs=dict(attrs),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = self._clock()
            self._stack.pop()

    def to_records(self) -> list[dict]:
        selfs = self_times(self.spans)
        return [
            {
                "id": s.span_id,
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "trace_id": s.trace_id,
                "self_s": selfs[s.span_id],
                **s.attrs,
            }
            for s in self.spans
        ]


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
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


def clip(intervals: Iterable[tuple[float, float]], lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: s.duration
        - union_length(clip(children.get(s.span_id, ()), s.start, s.end))
        for s in spans
    }


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------
@dataclass
class TaskMetrics:
    launch_ms: int
    finish_ms: int
    run_ms: int
    cpu_ns: int
    deserialize_ms: int
    result_serialize_ms: int
    getting_result_ms: int
    shuffle_write_bytes: int
    disk_spill_bytes: int
    records_written: int

    @property
    def scheduler_delay_ms(self) -> int:
        """Spark UI's formula: time on the task's clock not spent
        deserializing, running, serializing or fetching the result."""
        return max(
            0,
            self.finish_ms
            - self.launch_ms
            - self.run_ms
            - self.deserialize_ms
            - self.result_serialize_ms
            - self.getting_result_ms,
        )


@dataclass
class GroupStats:
    """Jobs and finished tasks of one job group."""

    # job id (or (group, job id) once folded) -> (submit, end) epoch ms
    jobs: dict = field(default_factory=dict)
    tasks: list[TaskMetrics] = field(default_factory=list)

    @property
    def executor_cpu_s(self) -> float:
        return sum(t.cpu_ns for t in self.tasks) / 1e9

    @property
    def shuffle_bytes(self) -> int:
        return sum(t.shuffle_write_bytes for t in self.tasks)

    @property
    def spill_bytes(self) -> int:
        return sum(t.disk_spill_bytes for t in self.tasks)

    @property
    def scheduler_delay_s(self) -> float:
        return sum(t.scheduler_delay_ms for t in self.tasks) / 1e3

    def job_intervals_s(self) -> list[tuple[float, float]]:
        return [(a / 1e3, b / 1e3) for a, b in self.jobs.values() if b >= a]


def _task_metrics(ev: dict) -> TaskMetrics:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    finish = int(info.get("Finish Time", 0))
    got = int(info.get("Getting Result Time", 0))
    return TaskMetrics(
        launch_ms=int(info.get("Launch Time", 0)),
        finish_ms=finish,
        run_ms=int(m.get("Executor Run Time", 0)),
        cpu_ns=int(m.get("Executor CPU Time", 0)),
        deserialize_ms=int(m.get("Executor Deserialize Time", 0)),
        result_serialize_ms=int(m.get("Result Serialization Time", 0)),
        getting_result_ms=finish - got if got > 0 else 0,
        shuffle_write_bytes=int(
            (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        ),
        disk_spill_bytes=int(m.get("Disk Bytes Spilled", 0)),
        records_written=int((m.get("Output Metrics") or {}).get("Records Written", 0)),
    )


def parse_event_log(lines: Iterable[str]) -> dict[str, GroupStats]:
    """Per job group: job intervals and TaskEnd metrics.

    A task belongs to the group of the job that submitted its stage
    (``SparkListenerStageSubmitted`` carries the job's properties). Jobs
    submitted outside any group are kept under ``""``."""
    groups: dict[str, GroupStats] = {}
    job_group: dict[int, str] = {}
    stage_group: dict[tuple[int, int], str] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(JOB_GROUP_PROPERTY, "")
            job_group[ev["Job ID"]] = group
            groups.setdefault(group, GroupStats()).jobs[ev["Job ID"]] = (
                int(ev["Submission Time"]),
                -1,
            )
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_group:
            jobs = groups[job_group[ev["Job ID"]]].jobs
            jobs[ev["Job ID"]] = (jobs[ev["Job ID"]][0], int(ev["Completion Time"]))
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            group = (ev.get("Properties") or {}).get(JOB_GROUP_PROPERTY, "")
            stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]), "")
            groups.setdefault(group, GroupStats()).tasks.append(_task_metrics(ev))
    return groups


def attribute(
    groups: dict[str, GroupStats], windows: dict[str, tuple[float, float]]
) -> dict[str, GroupStats]:
    """Fold jobs and tasks of groups the harness did not set into the
    window (epoch seconds) they ran in.

    A streaming query runs its micro-batches under a job group of its
    own (its run id), on its own thread, while the harness waits inside
    the call that started it; those jobs belong to that call. Jobs and
    tasks that fall in no window are dropped."""
    out = {name: GroupStats() for name in windows}

    def owner(t_s: float) -> str | None:
        for name, (lo, hi) in windows.items():
            if lo <= t_s <= hi:
                return name
        return None

    for name, stats in groups.items():
        if name in out:
            out[name].jobs.update(stats.jobs)
            out[name].tasks.extend(stats.tasks)
            continue
        for job_id, (start, end) in stats.jobs.items():
            tgt = owner(start / 1e3)
            if tgt is not None:
                out[tgt].jobs[(name, job_id)] = (start, end)
        for task in stats.tasks:
            tgt = owner(task.launch_ms / 1e3)
            if tgt is not None:
                out[tgt].tasks.append(task)
    return out


# ---------------------------------------------------------------------------
# statusTracker
# ---------------------------------------------------------------------------
def status_counts(tracker, group: str) -> tuple[int, int]:
    """(jobs, finished tasks) of ``group`` from a ``StatusTracker``.

    Stages a job skipped (their output was reused) report tasks they
    never ran, so only completed and failed tasks are counted."""
    jobs = list(tracker.getJobIdsForGroup(group))
    stages: set[int] = set()
    for job_id in jobs:
        info = tracker.getJobInfo(job_id)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for stage_id in stages:
        st = tracker.getStageInfo(stage_id)
        if st is not None:
            tasks += st.numCompletedTasks + st.numFailedTasks
    return len(jobs), tasks
