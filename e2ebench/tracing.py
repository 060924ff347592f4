"""Spans, counters and Spark-job accounting for the traced run.

Every span is recorded from the benchmark's own files, around calls into
the program's public functions; nothing is added inside ``gloomy_spark``.
Spans stay in memory and are written out once, when the run ends. Spans of
one request share its ``req`` id.

Spark task and shuffle counters come from the session's event log, read
after the session stops. A job belongs to the operation whose job group
(``SparkContext.setJobGroup``, set by the benchmark around each call) it
carries; a job without a group (one started from a helper thread inside
the program) belongs to the operation whose time window holds its
submission.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def set_request(self, req) -> None:
        self._local.req = req

    def request(self):
        """The request id this thread serves, if any."""
        return getattr(self._local, "req", None)

    @contextmanager
    def span(self, name: str, req=None, **attrs):
        """Record [start, end) of the block, parented to the enclosing span
        of the same thread. A no-op when tracing is off."""
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": next(self._ids),
            "parent": stack[-1]["id"] if stack else None,
            "req": req if req is not None else getattr(self._local, "req", None),
            "name": name,
            **attrs,
        }
        stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self.spans.append(rec)  # list.append is atomic

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


class TimedFunction:
    """Callable stand-in for a module-level function that records a span
    per call. When pickled (a Spark closure that names the function is
    shipped to a Python worker) it resolves to the original function of
    ``home``, so workers never see the benchmark."""

    def __init__(self, tracer: Tracer, name: str, fn, home, attr: str, size=None):
        self.tracer, self.name, self.fn = tracer, name, fn
        self.home, self.attr, self.size = home, attr, size

    def __call__(self, *args, **kwargs):
        with self.tracer.span(self.name) as rec:
            out = self.fn(*args, **kwargs)
            if rec is not None and self.size is not None:
                rec["n"] = self.size(out)
        return out

    def __reduce__(self):
        return (getattr, (self.home, self.attr))


@contextmanager
def patched(obj, attr: str, value):
    old = getattr(obj, attr)
    setattr(obj, attr, value)
    try:
        yield
    finally:
        setattr(obj, attr, old)


@contextmanager
def job_group(sc, group: str | None):
    """Tag the Spark jobs this thread starts inside the block."""
    if group is None:
        yield
        return
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


# ------------------------------------------------------------ event log --

@dataclass
class Job:
    job_id: int
    group: str | None
    submitted: float  # epoch seconds
    completed: float = 0.0
    stages: list[int] = field(default_factory=list)
    tasks: int = 0
    task_ms: float = 0.0
    cpu_ms: float = 0.0
    shuffle_write_bytes: int = 0


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs with their task and shuffle totals, from the (stopped)
    session's uncompressed event log."""
    def order(path: str):
        # rolling logs: <dir>/events_<n>_<app id>, in n order
        name = os.path.basename(path)
        return (os.path.dirname(path), int(name.split("_")[1]) if name.startswith("events_") else 0)

    files = sorted(
        (p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
         if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")),
        key=order,
    )
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    j = Job(
                        ev["Job ID"], props.get("spark.jobGroup.id"),
                        ev["Submission Time"] / 1000.0,
                        stages=list(ev.get("Stage IDs", [])),
                    )
                    jobs[j.job_id] = j
                    for s in j.stages:
                        stage_job.setdefault(s, j.job_id)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].completed = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    if j is None:
                        continue
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    j.tasks += 1
                    j.task_ms += info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    j.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
                    sw = m.get("Shuffle Write Metrics") or {}
                    j.shuffle_write_bytes += int(sw.get("Shuffle Bytes Written", 0))
    return sorted(jobs.values(), key=lambda j: j.job_id)


def assign_jobs(jobs: list[Job], windows: list[tuple[str, float, float]]) -> dict[str, list[Job]]:
    """Group jobs by operation: by job group when the job carries one,
    else by the (op, start, end) window holding its submission time."""
    out: dict[str, list[Job]] = {}
    for j in jobs:
        op = j.group
        if op is None:
            for name, lo, hi in windows:
                if lo <= j.submitted <= hi:
                    op = name
                    break
        if op is not None:
            out.setdefault(op, []).append(j)
    return out
