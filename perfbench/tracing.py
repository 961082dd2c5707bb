"""Spans around layer calls, and the Spark event log that attributes work
to them.

A :class:`Tracer` records one span per call into a layer: a name, an id,
its parent's id, and start/end stamps.  Spans stay in memory and are
written out once, at the end of the run, with the work attributed to
them (:func:`span_rows`).  When tracing is on, each span
also becomes the Spark job group of the jobs it launches, so that jobs,
stages, tasks, bytes and spill read from the event log attribute to the
span that caused them.  Jobs launched on threads that do not inherit the
group (a streaming query's micro-batch thread sets its own) attribute to
the innermost span whose interval contains their submission time.

The event log is written uncompressed (Spark 4 compresses it with zstd
by default, which the standard library cannot read) to one file, and
parsed after the session stops.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-span-"

# Spark reads spark.* JVM system properties into every SparkConf created
# afterwards, so these turn the event log on for the next session built
# through the unchanged session.get_spark.
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",  # one file per application
}


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; ``sc`` set means job groups are set too."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent.id if parent else None, name, 0.0, 0.0, attrs)
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{s.id}", name)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(f"{GROUP_PREFIX}{parent.id}", parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)



def enable_event_log(jvm, log_dir: str) -> None:
    os.makedirs(log_dir, exist_ok=True)
    props = dict(EVENT_LOG_CONF, **{"spark.eventLog.dir": f"file://{log_dir}"})
    for k, v in props.items():
        jvm.java.lang.System.setProperty(k, v)


def disable_event_log(jvm) -> None:
    for k in (*EVENT_LOG_CONF, "spark.eventLog.dir"):
        jvm.java.lang.System.clearProperty(k)


# ---------------------------------------------------------------- parser


@dataclass
class StageStats:
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0
    input_b: int = 0

    def add(self, o: "StageStats") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(o, k))


@dataclass
class Job:
    id: int
    group: str | None
    submit: float  # epoch seconds
    end: float = 0.0
    stages: list[int] = field(default_factory=list)
    succeeded: bool = True


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, StageStats]  # stages that ran, all attempts merged


def parse_event_log(path: str) -> EventLog:
    """Jobs, stages and per-stage task totals from one uncompressed log."""
    jobs: dict[int, Job] = {}
    stages: dict[int, StageStats] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                j = Job(
                    ev["Job ID"],
                    props.get("spark.jobGroup.id"),
                    ev["Submission Time"] / 1000.0,
                    stages=list(ev.get("Stage IDs", [])),
                )
                jobs[j.id] = j
            elif kind == "SparkListenerJobEnd":
                j = jobs.get(ev["Job ID"])
                if j is not None:
                    j.end = ev["Completion Time"] / 1000.0
                    j.succeeded = ev["Job Result"]["Result"] == "JobSucceeded"
            elif kind == "SparkListenerStageSubmitted":
                stages.setdefault(ev["Stage Info"]["Stage ID"], StageStats())
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], StageStats())
                st.tasks += 1
                info = ev.get("Task Info") or {}
                if info.get("Failed") or info.get("Killed"):
                    st.failed_tasks += 1
                m = ev.get("Task Metrics") or {}
                st.run_s += m.get("Executor Run Time", 0) / 1000.0
                st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                sr = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = m.get("Shuffle Write Metrics") or {}
                st.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
                st.spill_b += m.get("Disk Bytes Spilled", 0)
                st.input_b += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    # stages that were planned but skipped (shuffle reuse) never ran
    return EventLog(jobs, stages)


def find_event_log(log_dir: str) -> str:
    logs = [
        os.path.join(log_dir, n)
        for n in os.listdir(log_dir)
        if not n.endswith(".inprogress")
    ]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {logs}")
    return logs[0]


# ----------------------------------------------------------- attribution


@dataclass
class SpanWork:
    """Spark work attributed to a span and its descendants."""

    jobs: int = 0
    failed_jobs: int = 0
    stages: int = 0
    busy_s: float = 0.0  # wall covered by at least one job
    work: StageStats = field(default_factory=StageStats)

    @property
    def tasks_per_stage(self) -> float:
        return self.work.tasks / self.stages if self.stages else 0.0


def _owner(job: Job, spans: list[Span], by_group: dict[str, Span]) -> Span | None:
    if job.group in by_group:
        return by_group[job.group]
    inside = [s for s in spans if s.start <= job.submit <= s.end]
    # innermost = latest start among the spans containing the job
    return max(inside, key=lambda s: (s.start, s.id)) if inside else None


def attribute(spans: list[Span], log: EventLog) -> dict[int, list[Job]]:
    """span id -> jobs it launched itself (not its children's)."""
    by_group = {f"{GROUP_PREFIX}{s.id}": s for s in spans}
    own: dict[int, list[Job]] = {s.id: [] for s in spans}
    for job in log.jobs.values():
        s = _owner(job, spans, by_group)
        if s is not None:
            own[s.id].append(job)
    return own


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
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


def _work(pairs: list[tuple[Job, Span]], log: EventLog) -> SpanWork:
    """Spark work of jobs, each clipped to the span that owns it."""
    out = SpanWork()
    intervals = []
    for job, span in pairs:
        out.jobs += 1
        out.failed_jobs += not job.succeeded
        end = job.end or span.end
        intervals.append((max(job.submit, span.start), min(end, span.end)))
        for st in job.stages:
            if st in log.stages:  # skipped stages never ran
                out.stages += 1
                out.work.add(log.stages[st])
    out.busy_s = _union_length([iv for iv in intervals if iv[1] > iv[0]])
    return out


def span_work(
    root_ids: list[int], spans: list[Span], own: dict[int, list[Job]], log: EventLog
) -> SpanWork:
    """Inclusive Spark work of the given spans and all their descendants."""
    children: dict[int | None, list[int]] = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s.id)
    by_id = {s.id: s for s in spans}
    pairs = []
    todo = list(root_ids)
    while todo:
        sid = todo.pop()
        todo.extend(children.get(sid, []))
        pairs.extend((job, by_id[sid]) for job in own[sid])
    return _work(pairs, log)


def span_rows(spans: list[Span], own: dict[int, list[Job]], log: EventLog) -> list[dict]:
    """Every span with its self time and the Spark work of its own jobs:
    the per-span table the traced run writes out."""
    rows = []
    for s in spans:
        w = _work([(job, s) for job in own[s.id]], log)
        rows.append({
            **s.__dict__,
            "self_s": self_time(s, spans),
            "jobs": w.jobs,
            "stages": w.stages,
            "tasks": w.work.tasks,
            "busy_s": w.busy_s,
            "executor_run_s": w.work.run_s,
            "shuffle_bytes": w.work.shuffle_read_b + w.work.shuffle_write_b,
            "spill_bytes": w.work.spill_b,
        })
    return rows


def self_time(span: Span, spans: list[Span]) -> float:
    """Duration minus the part of it the span's direct children cover."""
    kids = [(c.start, c.end) for c in spans if c.parent == span.id]
    return span.duration - _union_length(kids)
