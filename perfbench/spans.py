"""Spans recorded by the benchmark around its calls into each layer,
and Spark's own JSON event log, joined per op.

Spans are kept in memory and written out when the run ends. Each Spark
job is attributed to the op whose top-level span contains its
submission time: ops run one at a time, and job groups cannot be used
because the engine submits some jobs from ThreadPoolExecutor threads,
which do not inherit PySpark local properties.
"""

from __future__ import annotations

import functools
import glob
import json
import math
import os
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. A span is (name, start, end, parent,
    op); ``parent`` is the index of the enclosing span or None."""

    def __init__(self, quiet: bool = False) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None
        # when set, only spans that open an op are recorded: the op's
        # jobs can still be attributed, but its layers run unwrapped
        self.quiet = quiet

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if self.quiet and op is None:
            yield None
            return
        if op is not None:
            self.op = op
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "op": self.op}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if op is not None:
                self.op = None

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span
        around each call. Calls made while no op is open are not
        recorded, so set-up and checks stay out of the layer sums."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self.op is None or self.quiet:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def total(self, name: str, op: str) -> float:
        """Seconds spent in outermost spans called ``name`` within
        ``op`` (a recursive call is not counted twice)."""
        spans = self.spans
        out = 0.0
        for s in spans:
            if s["name"] != name or s["op"] != op:
                continue
            p = s["parent"]
            while p is not None and spans[p]["name"] != name:
                p = spans[p]["parent"]
            if p is None:
                out += s["end"] - s["start"]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# -- Spark event log -------------------------------------------------

EVENT_LOG_CONFS = {
    "spark.eventLog.enabled": "true",
    # Spark 4 writes zstd-compressed rolling logs by default, and no
    # zstd reader is installed here
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def zero() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
            "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0, "fetch_wait_s": 0.0,
            "spill_bytes": 0, "input_bytes": 0}


def read_jobs(log_dir: str) -> list[dict]:
    """Jobs of the single application logged in ``log_dir``, each with
    its submission and completion time (epoch seconds) and the summed
    metrics of the stages and tasks it ran."""
    paths = glob.glob(os.path.join(log_dir, "*"))
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {len(paths)}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "id": ev["Job ID"],
                    "submit": ev["Submission Time"] / 1000,
                    "end": None, "stage_ids": set(ev["Stage IDs"]),
                    **zero(), "jobs": 1,
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                # a shared stage runs under the newest live job that
                # lists it; the others skip it
                listing = [j for j in jobs.values() if sid in j["stage_ids"]]
                live = [j for j in listing if j["end"] is None]
                owner = max(j["id"] for j in live or listing)
                stage_job[sid] = owner
                jobs[owner]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                _add_task(jobs[stage_job[ev["Stage ID"]]],
                          ev.get("Task Metrics") or {})
    return sorted(jobs.values(), key=lambda j: j["id"])


def _add_task(job: dict, m: dict) -> None:
    rd = m.get("Shuffle Read Metrics", {})
    wr = m.get("Shuffle Write Metrics", {})
    job["tasks"] += 1
    job["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
    job["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    job["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
    job["shuffle_read_bytes"] += (rd.get("Remote Bytes Read", 0)
                                  + rd.get("Local Bytes Read", 0))
    job["fetch_wait_s"] += rd.get("Fetch Wait Time", 0) / 1e3
    job["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    job["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= cur_end:
            continue
        total += b - max(a, cur_end)
        cur_end = b
    return total


def windows(spans: list[dict], keep) -> list[tuple]:
    """(key, start, end) of every span for which ``keep(span)`` gives
    a key that is not None, widened to whole milliseconds because
    event-log times are."""
    out = []
    for s in spans:
        key = keep(s)
        if key is not None:
            out.append((key, math.floor(s["start"] * 1000) / 1000,
                        math.ceil(s["end"] * 1000) / 1000))
    return out


def attribute(jobs: list[dict], wins: list[tuple]) -> dict:
    """Assign every job to the one window that contains its submission
    time and sum the jobs' metrics per window key. Also returns the
    ids of jobs that no window, or more than one, contains."""
    per: dict = {}
    unmatched, ambiguous = [], []
    for j in jobs:
        hits = [w for w in wins if w[1] <= j["submit"] <= w[2]]
        if not hits:
            unmatched.append(j["id"])
            continue
        if len(hits) > 1:
            ambiguous.append(j["id"])
        key, a, b = hits[0]
        acc = per.setdefault(key, {**zero(), "_active": []})
        for k in zero():
            acc[k] += j[k]
        acc["_active"].append((max(j["submit"], a), min(j["end"] or b, b)))
    for acc in per.values():
        acc["job_active_s"] = _union_s(acc.pop("_active"))
    return {"per": per, "unmatched": unmatched, "ambiguous": ambiguous}
