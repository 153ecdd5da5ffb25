"""Spans around the engine's public calls, and Spark accounting per span.

Every timed call runs inside a :class:`Tracer` span: name, start, end,
parent span and operation id, kept in memory and written out when the
run ends. In a traced run each span's id is also the Spark job group
while it is the innermost open span, and the Spark event log is on;
:func:`read_event_log` and :func:`span_accounting` then attribute
every job, stage and task to the span that launched it.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: str
    name: str
    op: str
    parent: str | None
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float = 0.0
    dur: float = 0.0  # perf_counter duration
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. With ``spark_context`` set, each span
    becomes the Spark job group of the jobs launched inside it."""

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[Span] = []
        self._open: list[Span] = []

    @contextmanager
    def span(self, name: str, op: str = ""):
        parent = self._open[-1] if self._open else None
        s = Span(
            id=f"s{len(self.spans)}",
            name=name,
            op=op or (parent.op if parent else ""),
            parent=parent.id if parent else None,
            start=time.time(),
        )
        self.spans.append(s)
        self._open.append(s)
        self._set_group(s)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.dur = time.perf_counter() - t0
            s.end = time.time()
            self._open.pop()
            self._set_group(parent)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(s.id, s.name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


# -- event log -------------------------------------------------------------


@dataclass
class Job:
    group: str | None
    start: float
    end: float
    stages: set = field(default_factory=set)


@dataclass
class TaskStats:
    tasks: int = 0
    empty_tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    scheduler_delay_s: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: "TaskStats") -> None:
        for k, v in vars(other).items():
            setattr(self, k, getattr(self, k) + v)


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stage_group: dict[int, str | None]  # completed stages only
    group_tasks: dict[str | None, TaskStats]


def _task_stats(ev: dict) -> TaskStats:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    inp = m.get("Input Metrics") or {}
    out = m.get("Output Metrics") or {}
    srd = m.get("Shuffle Read Metrics") or {}
    swr = m.get("Shuffle Write Metrics") or {}
    run_ms = m.get("Executor Run Time", 0)
    duration_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    overhead_ms = (
        run_ms
        + m.get("Executor Deserialize Time", 0)
        + m.get("Result Serialization Time", 0)
        + info.get("Getting Result Time", 0)
    )
    records = (
        inp.get("Records Read", 0)
        + srd.get("Total Records Read", 0)
        + out.get("Records Written", 0)
        + swr.get("Shuffle Records Written", 0)
    )
    return TaskStats(
        tasks=1,
        empty_tasks=int(records == 0),
        failed_tasks=int(bool(info.get("Failed") or info.get("Killed"))),
        executor_run_s=run_ms / 1000.0,
        executor_cpu_s=m.get("Executor CPU Time", 0) / 1e9,
        gc_s=m.get("JVM GC Time", 0) / 1000.0,
        scheduler_delay_s=max(0, duration_ms - overhead_ms) / 1000.0,
        input_bytes=inp.get("Bytes Read", 0),
        output_bytes=out.get("Bytes Written", 0),
        shuffle_read_bytes=srd.get("Remote Bytes Read", 0) + srd.get("Local Bytes Read", 0),
        shuffle_write_bytes=swr.get("Shuffle Bytes Written", 0),
        spill_bytes=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
    )


def read_event_log(path: str) -> EventLog:
    """Jobs, completed stages and task totals, keyed by job group."""
    jobs: dict[int, Job] = {}
    stage_group: dict[int, str | None] = {}
    submitted_group: dict[int, str | None] = {}
    group_tasks: dict[str | None, TaskStats] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = Job(
                    group=props.get("spark.jobGroup.id"),
                    start=ev["Submission Time"] / 1000.0,
                    end=ev["Submission Time"] / 1000.0,
                )
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job.end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                sid = ev["Stage Info"]["Stage ID"]
                submitted_group[sid] = props.get("spark.jobGroup.id")
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                stage_group[sid] = submitted_group.get(sid)
            elif kind == "SparkListenerTaskEnd":
                group = submitted_group.get(ev["Stage ID"])
                group_tasks.setdefault(group, TaskStats()).add(_task_stats(ev))
    return EventLog(jobs=jobs, stage_group=stage_group, group_tasks=group_tasks)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def span_accounting(spans: list[Span], log: EventLog) -> None:
    """Per span: its Spark work (its own jobs and its descendants'),
    self time, and driver gap (wall time with no job of the span
    running), stored in the span's ``attrs``."""
    children: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    jobs_by_group: dict[str | None, list[Job]] = {}
    for job in log.jobs.values():
        jobs_by_group.setdefault(job.group, []).append(job)
    stages_by_group: dict[str | None, int] = {}
    for group in log.stage_group.values():
        stages_by_group[group] = stages_by_group.get(group, 0) + 1

    out: dict[str, dict] = {}
    for s in reversed(spans):  # children before parents
        jobs = list(jobs_by_group.get(s.id, []))
        stats = TaskStats()
        stats.add(log.group_tasks.get(s.id, TaskStats()))
        stages = stages_by_group.get(s.id, 0)
        for c in children.get(s.id, []):
            jobs += out[c.id]["_jobs"]
            stats.add(out[c.id]["_stats"])
            stages += out[c.id]["stages"]
        child_time = sum(c.dur for c in children.get(s.id, []))
        busy = _covered([(j.start, j.end) for j in jobs], s.start, s.end)
        out[s.id] = {
            "_jobs": jobs,
            "_stats": stats,
            "jobs": len(jobs),
            "stages": stages,
            "self_s": s.dur - child_time,
            "driver_gap_s": max(0.0, (s.end - s.start) - busy),
        }
    for s in spans:
        a = out[s.id]
        s.attrs.update(
            {k: v for k, v in a.items() if not k.startswith("_")}, **vars(a["_stats"])
        )
