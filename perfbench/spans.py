"""Spans, Spark job accounting and the summary statistics of a run.

A span records a name, start, end, parent span and request id.  Spans
stay in memory and are written out when the run ends.  In a traced run
every span also gets its own Spark job group, so the jobs, stages and
tasks launched inside it can be read back from ``statusTracker``; a job
belongs to the innermost span that was open when it was submitted.

With tracing off, ``Tracer.span`` is a no-op context manager, so the
untraced runs pay nothing for the instrumentation.
"""

from __future__ import annotations

import functools
import hashlib
import itertools
import json
import math
import statistics
import threading
import time
from contextlib import contextmanager

_GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, enabled: bool, sc=None) -> None:
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, request=None, **attrs):
        if not self.enabled:
            yield {}
            return
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": request if request is not None else (parent or {}).get("request"),
            **attrs,
        }
        prev_group = None
        if self.sc is not None:
            rec["group"] = f"perfbench-{rec['id']}"
            prev_group = self.sc.getLocalProperty(_GROUP_KEY)
            self.sc.setJobGroup(rec["group"], name)
        stack.append(rec)
        t1 = time.perf_counter()
        rec["start"] = t1
        try:
            yield rec
        finally:
            t2 = time.perf_counter()
            rec["end"] = t2
            stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(_GROUP_KEY, prev_group)
            with self._lock:
                self.spans.append(rec)
                self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    def wrap(self, fn, name: str, on_result=None):
        """``fn`` with every call recorded as a span named ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if on_result is not None and self.enabled:
                    rec.update(on_result(out))
                return out

        return traced

    def resolve_jobs(self, spans: list[dict]) -> None:
        """Fill ``jobs``/``stages``/``tasks`` of finished spans from Spark.

        The status store is fed by Spark's asynchronous listener bus, so
        the bus is drained first; otherwise the last job's tasks could be
        missing from the counts.
        """
        if not self.enabled or self.sc is None:
            return
        t0 = time.perf_counter()
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        tracker = self.sc.statusTracker()
        for rec in spans:
            if "group" not in rec or "jobs" in rec:
                continue
            jobs = stages = tasks = 0
            for job_id in tracker.getJobIdsForGroup(rec["group"]):
                jobs += 1
                info = tracker.getJobInfo(job_id)
                for stage_id in info.stageIds if info else ():
                    stage = tracker.getStageInfo(stage_id)
                    if stage is not None and stage.numCompletedTasks > 0:
                        stages += 1
                        tasks += stage.numCompletedTasks
            rec.update(jobs=jobs, stages=stages, tasks=tasks)
        with self._lock:
            self.overhead_s += time.perf_counter() - t0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "overhead_s": self.overhead_s}, f)


# --- per-request views over a span list ------------------------------------


def by_request(spans: list[dict]) -> dict:
    out: dict = {}
    for rec in spans:
        if rec.get("request") is not None:
            out.setdefault(rec["request"], []).append(rec)
    return out


def duration(rec: dict) -> float:
    return rec["end"] - rec["start"]


def self_time(rec: dict, spans: list[dict]) -> float:
    """A span's duration minus the part its direct children cover."""
    return duration(rec) - sum(duration(c) for c in spans if c["parent"] == rec["id"])


def inclusive(rec: dict, spans: list[dict], key: str) -> int:
    """``key`` (jobs/stages/tasks) summed over a span and its descendants."""
    children = {}
    for c in spans:
        children.setdefault(c["parent"], []).append(c)
    total, todo = 0, [rec]
    while todo:
        r = todo.pop()
        total += r.get(key, 0)
        todo.extend(children.get(r["id"], ()))
    return total


def outermost(spans: list[dict], names: set[str]) -> list[dict]:
    """Spans named in ``names`` that have no ancestor named in ``names``."""
    index = {r["id"]: r for r in spans}
    out = []
    for rec in spans:
        if rec["name"] not in names:
            continue
        p = index.get(rec["parent"])
        while p is not None and p["name"] not in names:
            p = index.get(p["parent"])
        if p is None:
            out.append(rec)
    return out


# --- statistics --------------------------------------------------------------


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


def percentile(values, pct: float) -> float:
    """Nearest-rank percentile: the smallest value with ``pct`` % at or below it."""
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(ordered)))
    return ordered[rank - 1]


def vm_hwm_mib(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kib / 1024.0


def result_hash(rows) -> str:
    """Order-independent fingerprint of result rows.

    Floats are rounded to 9 significant digits, so a different summation
    order inside Spark does not change the fingerprint of a correct answer.
    """

    def cell(v):
        if hasattr(v, "tolist"):  # numpy scalar or array
            v = v.tolist()
        if isinstance(v, float):
            return "nan" if v != v else f"{v:.9g}"
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        return repr(v)

    lines = sorted("|".join(cell(v) for v in row) for row in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()
