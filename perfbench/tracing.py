"""Spans recorded around calls into the engine, and Spark job attribution.

A :class:`Tracer` keeps spans in memory: name, wall-clock start and end,
parent, and the thread that opened it. With tracing off it records only the
op spans the end-to-end metrics need (:meth:`Tracer.op`); layer spans
(:meth:`Tracer.span`) cost one attribute check.

Spark work is attributed from the event log, parsed after the session
stops: every job goes to the innermost span that was open at its submission
time. Ops run one at a time, so this catches the jobs that job groups miss
(pool threads, async broadcasts, the streaming execution thread).
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field

# Slack for comparing the event log's millisecond stamps with span bounds.
_SLACK_S = 0.002
TINY_JOB_TASKS = 4
TINY_JOB_S = 0.1


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``layers=False`` keeps only op spans."""

    def __init__(self, layers: bool):
        self.layers = layers
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def _record(self, name: str, attrs: dict, parent: int | None = None):
        stack = self._stack()
        with self._lock:
            sp = Span(len(self.spans), name, stack[-1] if stack else parent, time.time(), 0.0, attrs)
            self.spans.append(sp)
        stack.append(sp.sid)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()

    def op(self, name: str, **attrs):
        """A span that is always recorded: phases, passes and timed ops."""
        return self._record(name, attrs)

    def span(self, name: str, **attrs):
        """A layer span, recorded only when tracing."""
        if not self.layers:
            return contextlib.nullcontext()
        return self._record(name, attrs)

    def current(self) -> int | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that records a layer span
        around each call (tracing only; calls from inside the engine are
        caught too because they look the attribute up at call time)."""
        if not self.layers:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def thread_span(self, parent: int | None, name: str):
        """A layer span opened on another thread (the streaming execution
        thread), parented to a span of the main thread."""
        if not self.layers:
            return contextlib.nullcontext()
        return self._record(name, {}, parent=parent)

    def children(self) -> dict[int | None, list[Span]]:
        out: dict[int | None, list[Span]] = {}
        for s in self.spans:
            out.setdefault(s.parent, []).append(s)
        return out

    def descendants(self, sid: int) -> list[Span]:
        kids = self.children()
        out, todo = [], [sid]
        while todo:
            for s in kids.get(todo.pop(), []):
                out.append(s)
                todo.append(s.sid)
        return out


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    jid: int
    submit: float
    end: float = 0.0
    stage_ids: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    task_failures: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    jvm_gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    span: int | None = None

    @property
    def wall(self) -> float:
        return max(self.end - self.submit, 0.0)

    @property
    def tiny(self) -> bool:
        return self.tasks <= TINY_JOB_TASKS and self.wall < TINY_JOB_S


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def parse_event_log(log_dir: str) -> list[Job]:
    """Jobs of the (single) application logged under ``log_dir``, with
    their tasks' metrics summed."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(files[0], encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                job = Job(ev["Job ID"], ev["Submission Time"] / 1000.0, stage_ids=list(ev["Stage IDs"]))
                jobs[job.jid] = job
                for sid in job.stage_ids:
                    stage_job[sid] = job.jid
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                if jid is not None:
                    jobs[jid].stages += 1
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                if jid is None:
                    continue
                job = jobs[jid]
                job.tasks += 1
                info = ev.get("Task Info", {})
                if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason", "Success") != "Success":
                    job.task_failures += 1
                m = ev.get("Task Metrics") or {}
                job.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
                job.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                job.jvm_gc_s += m.get("JVM GC Time", 0) / 1000.0
                sr = m.get("Shuffle Read Metrics") or {}
                job.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return sorted(jobs.values(), key=lambda j: j.jid)


def attribute(jobs: list[Job], spans: list[Span]) -> list[Job]:
    """Assign each job to the innermost span open at its submission; returns
    the jobs no span covers."""
    by_start = sorted(spans, key=lambda s: s.start)
    unattributed = []
    for job in jobs:
        best = None
        for sp in by_start:
            if sp.start - _SLACK_S > job.submit:
                break
            if job.submit <= sp.end + _SLACK_S and (best is None or sp.start >= best.start):
                best = sp
        job.span = best.sid if best is not None else None
        if best is None:
            unattributed.append(job)
    return unattributed


@dataclass
class SparkTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    tiny_jobs: int = 0
    job_s: float = 0.0
    driver_gap_s: float = 0.0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    jvm_gc_s: float = 0.0
    task_failures: int = 0

    @property
    def tiny_job_share(self) -> float:
        return self.tiny_jobs / self.jobs if self.jobs else 0.0


def spark_totals(tracer: Tracer, jobs: list[Job], root: Span) -> SparkTotals:
    """Spark work under ``root`` (its own jobs and its descendants'): counts,
    summed task metrics, job-covered seconds and the driver gap (span wall
    minus job-covered time)."""
    ids = {root.sid} | {s.sid for s in tracer.descendants(root.sid)}
    mine = [j for j in jobs if j.span in ids]
    t = SparkTotals()
    for j in mine:
        t.jobs += 1
        t.stages += j.stages
        t.tasks += j.tasks
        t.tiny_jobs += j.tiny
        t.executor_run_s += j.executor_run_s
        t.executor_cpu_s += j.executor_cpu_s
        t.shuffle_read_bytes += j.shuffle_read_bytes
        t.shuffle_write_bytes += j.shuffle_write_bytes
        t.spill_bytes += j.spill_bytes
        t.jvm_gc_s += j.jvm_gc_s
        t.task_failures += j.task_failures
    t.job_s = _union([(j.submit, j.end) for j in mine], root.start, root.end)
    t.driver_gap_s = root.wall - t.job_s
    return t
