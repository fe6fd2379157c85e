"""Spans around the benchmark's calls into the engine, and Spark event-log
attribution of jobs, stages and tasks to those spans.

A span records name, start, end, parent and the run id. Spans live in
memory and are written out once, at the end. The Spark jobs a span starts
carry its id in their job description (``setJobDescription``), so the
event log attributes each stage to the innermost span that started it.
Jobs without a tag (thread pools, streaming micro-batch threads) go to
the innermost span whose interval covers the job's submission time.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
from dataclasses import dataclass, field

TAG = "perfbench-span:"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """No-op when disabled: `span()` then only yields."""

    def __init__(self, enabled: bool, run_id: str, sc=None):
        self.enabled = enabled
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        # spans opened on threads the benchmark does not own (streaming
        # callbacks) hang off this span
        self.default_parent: int | None = None

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        st = self._stack()
        parent = st[-1].id if st else self.default_parent
        with self._lock:
            s = Span(len(self.spans), name, parent, time.time(), attrs=attrs)
            self.spans.append(s)
        st.append(s)
        prev = self.sc.getLocalProperty("spark.job.description") if self.sc else None
        if self.sc is not None:
            self.sc.setJobDescription(f"{TAG}{s.id}")
        try:
            yield s
        finally:
            s.end = time.time()
            st.pop()
            if self.sc is not None:
                self.sc.setJobDescription(prev)

    def record(self, name: str, start: float, end: float, parent: int | None,
               **attrs) -> Span | None:
        """A span for work timed by someone else (Spark's progress reports)."""
        if not self.enabled:
            return None
        with self._lock:
            s = Span(len(self.spans), name, parent, start, end, attrs)
            self.spans.append(s)
        return s


def union_len(intervals) -> float:
    """Length of the union of (lo, hi) intervals."""
    total, hi_seen = 0.0, None
    for lo, hi in sorted(intervals):
        if hi_seen is None or lo > hi_seen:
            total += max(hi - lo, 0.0)
            hi_seen = hi
        elif hi > hi_seen:
            total += hi - hi_seen
            hi_seen = hi
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return {
        s.id: max(s.end - s.start - union_len(
            (max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, [])
        ), 0.0)
        for s in spans
    }


# -- event log ----------------------------------------------------------------


@dataclass
class StageAgg:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    sched_delay_s: float = 0.0
    input_bytes: int = 0
    input_records: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    task_s: list = field(default_factory=list)
    python_s: float = 0.0


@dataclass
class JobRec:
    id: int
    span: int | None
    start: float
    end: float = 0.0
    stages: list = field(default_factory=list)
    execution: int | None = None


class EventLog:
    """Parsed Spark event log: jobs with their stages' task totals."""

    def __init__(self, path: str):
        self.jobs: dict[int, JobRec] = {}
        self.stages: dict[int, StageAgg] = {}
        self.stage_job: dict[int, int] = {}
        self.plans: dict[int, str] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    desc = props.get("spark.job.description") or ""
                    sid = int(desc[len(TAG):]) if desc.startswith(TAG) else None
                    ex = props.get("spark.sql.execution.id")
                    job = JobRec(
                        ev["Job ID"],
                        sid,
                        ev["Submission Time"] / 1000.0,
                        execution=int(ex) if ex is not None else None,
                    )
                    job.stages = list(ev.get("Stage IDs", []))
                    self.jobs[job.id] = job
                    for st in job.stages:
                        self.stage_job.setdefault(st, job.id)
                elif kind == "SparkListenerJobEnd":
                    j = self.jobs.get(ev["Job ID"])
                    if j is not None:
                        j.end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    self._task(ev)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    self.plans[ev["executionId"]] = ev.get(
                        "physicalPlanDescription", ""
                    )

    def _task(self, ev: dict) -> None:
        m = ev.get("Task Metrics") or {}
        info = ev.get("Task Info") or {}
        a = self.stages.setdefault(ev["Stage ID"], StageAgg())
        a.tasks += 1
        run = m.get("Executor Run Time", 0) / 1000.0
        a.run_s += run
        a.task_s.append(run)
        a.cpu_s += m.get("Executor CPU Time", 0) / 1e9
        a.gc_s += m.get("JVM GC Time", 0) / 1000.0
        launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
        deser = m.get("Executor Deserialize Time", 0)
        ser = m.get("Result Serialization Time", 0)
        a.sched_delay_s += max(
            (finish - launch) - m.get("Executor Run Time", 0) - deser - ser, 0
        ) / 1000.0
        inp = m.get("Input Metrics") or {}
        a.input_bytes += inp.get("Bytes Read", 0)
        a.input_records += inp.get("Records Read", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        a.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0
        )
        sw = m.get("Shuffle Write Metrics") or {}
        a.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
        a.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
            "Disk Bytes Spilled", 0
        )
        for acc in info.get("Accumulables", []):
            if acc.get("Name") == "time to run Python workers":
                a.python_s += float(acc.get("Update", 0)) / 1000.0

    def attribute(self, spans: list[Span]) -> dict[int, list[JobRec]]:
        """Jobs per span id: by tag, else the innermost covering span."""
        out: dict[int, list[JobRec]] = {}
        by_id = {s.id: s for s in spans}
        for j in self.jobs.values():
            sid = j.span if j.span in by_id else None
            if sid is None:
                cover = [s for s in spans if s.start <= j.start <= (s.end or j.start)]
                if cover:
                    sid = max(cover, key=lambda s: s.start).id
            if sid is not None:
                out.setdefault(sid, []).append(j)
        return out

    def totals(self, jobs: list[JobRec]) -> StageAgg:
        t = StageAgg()
        for j in jobs:
            for st in j.stages:
                a = self.stages.get(st)
                # a stage reused by a later job ran its tasks in the first one
                if a is None or self.stage_job.get(st) != j.id:
                    continue
                for f in (
                    "tasks", "run_s", "cpu_s", "gc_s", "sched_delay_s",
                    "input_bytes", "input_records", "shuffle_read_bytes",
                    "shuffle_write_bytes", "spill_bytes", "python_s",
                ):
                    setattr(t, f, getattr(t, f) + getattr(a, f))
                t.task_s.extend(a.task_s)
        return t
