"""Spans around calls into the engine's layers, plus Spark event-log
attribution.

A traced run wraps public functions of the engine (from these files,
never inside the package): each call records a span (id, parent, name,
wall start/end, counters) in memory. While a span is open, its id is
appended to the thread's Spark job description (`...|s<id>`), so every
job the call starts names the innermost span that caused it; the
runner's own `model:<name>` prefix is kept. After the session stops,
the uncompressed event log is folded into per-job counts and attributed
to spans through those descriptions.
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

_DESC = "spark.job.description"


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; every method is a no-op otherwise."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.root: int | None = None  # parent for spans opened on pool threads
        self._sc = None
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._tls.__dict__.setdefault("stack", [])
        with self._lock:
            sp = Span(len(self.spans), stack[-1] if stack else self.root, name, time.time())
            self.spans.append(sp)
        prev = self._sc.getLocalProperty(_DESC) if self._sc else None
        if self._sc:
            self._sc.setLocalProperty(_DESC, f"{prev or ''}|s{sp.sid}")
        stack.append(sp.sid)
        try:
            yield sp
        finally:
            stack.pop()
            if self._sc:
                self._sc.setLocalProperty(_DESC, prev)
            sp.end = time.time()

    def wrap(self, owner, attr: str, name, before=None, after=None) -> None:
        """Replace `owner.attr` with a spanned wrapper. `name` is a string
        or a function of the call's arguments; `before(*args)` returns a
        state handed to `after(span, state, result, *args)`, which runs
        even when the call raises (with result None)."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            state = before(*args, **kwargs) if before else None
            with self.span(name if isinstance(name, str) else name(*args, **kwargs)) as sp:
                out = None
                try:
                    out = fn(*args, **kwargs)
                    return out
                finally:
                    if after:
                        after(sp, state, out, *args, **kwargs)

        self._patches.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()

    def descendants(self, sid: int) -> set[int]:
        """`sid` and every span opened under it."""
        kids: dict[int, list[int]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s.sid)
        out, todo = set(), [sid]
        while todo:
            x = todo.pop()
            out.add(x)
            todo.extend(kids.get(x, ()))
        return out


@dataclass
class Job:
    jid: int
    span: int | None
    submit: float  # seconds since the epoch
    end: float
    stages: int = 0
    tasks: int = 0
    executor_run_ms: float = 0.0
    max_task_ms: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0
    gc_ms: float = 0.0


def read_event_log(log_dir: str) -> list[Job]:
    """Fold the uncompressed event log of the one application logged in
    `log_dir` into jobs. Spark 4 writes it as a directory of numbered
    `events_<n>_<app>` files."""
    files = glob.glob(os.path.join(log_dir, "*", "events_*"))
    if not files:
        raise RuntimeError(f"no event log under {log_dir}")
    files.sort(key=lambda f: int(os.path.basename(f).split("_")[1]))
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                _fold(json.loads(line), jobs, stage_job)
    return list(jobs.values())


def _fold(ev: dict, jobs: dict[int, Job], stage_job: dict[int, int]) -> None:
    kind = ev["Event"]
    if kind == "SparkListenerJobStart":
        desc = (ev.get("Properties") or {}).get(_DESC) or ""
        tail = desc.rsplit("|s", 1)
        span = int(tail[1]) if len(tail) == 2 and tail[1].isdigit() else None
        jobs[ev["Job ID"]] = Job(ev["Job ID"], span, ev["Submission Time"] / 1e3, 0.0)
        for st in ev["Stage IDs"]:
            stage_job.setdefault(st, ev["Job ID"])
    elif kind == "SparkListenerJobEnd":
        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
    elif kind == "SparkListenerStageSubmitted":
        jid = stage_job.get(ev["Stage Info"]["Stage ID"])
        if jid is not None:
            jobs[jid].stages += 1
    elif kind == "SparkListenerTaskEnd":
        jid = stage_job.get(ev["Stage ID"])
        if jid is None:
            return
        job, info, m = jobs[jid], ev["Task Info"], ev.get("Task Metrics") or {}
        job.tasks += 1
        job.executor_run_ms += m.get("Executor Run Time", 0)
        job.max_task_ms = max(job.max_task_ms, info["Finish Time"] - info["Launch Time"])
        job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        job.gc_ms += m.get("JVM GC Time", 0)


SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_ms", "max_task_ms",
    "shuffle_write_bytes", "spill_bytes", "gc_ms", "driver_only_s",
)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def spark_counts(tracer: Tracer, jobs: list[Job], sids: list[int]) -> dict[str, float]:
    """Spark counters of the jobs caused by spans `sids` or their
    descendants. `driver_only_s` sums, per span, its wall time that no
    such job covers: time spent planning, in Python or waiting on
    metadata. `max_task_ms` is the longest single task."""
    out = dict.fromkeys(SPARK_COUNTERS, 0.0)
    by_span: dict[int, list[Job]] = {}
    for j in jobs:
        if j.span is not None:
            by_span.setdefault(j.span, []).append(j)
    for sid in sids:
        sp = tracer.spans[sid]
        mine = [j for d in tracer.descendants(sid) for j in by_span.get(d, ())]
        out["driver_only_s"] += sp.wall - _covered([(j.submit, j.end) for j in mine], sp.start, sp.end)
        for j in mine:
            out["jobs"] += 1
            out["stages"] += j.stages
            out["tasks"] += j.tasks
            out["executor_run_ms"] += j.executor_run_ms
            out["shuffle_write_bytes"] += j.shuffle_write_bytes
            out["spill_bytes"] += j.spill_bytes
            out["gc_ms"] += j.gc_ms
            out["max_task_ms"] = max(out["max_task_ms"], j.max_task_ms)
    return out
