"""One way to count the Spark work of a block of code, and the host and
build stamps that go next to a measurement.

``profiled(spark, name)`` runs its block under a job group of its own
and, when the block ends, reads the group's jobs, stages and tasks
from the public ``statusTracker``. The engine submits every job from
its caller's thread, so the group holds all of the block's work.
``machine_index`` fingerprints the host a wall time was taken on
(dgemm rate, direct-write rate, load) and ``git_head`` the checkout.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass

# the local properties ``SparkContext.setJobGroup`` sets
_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


@dataclass
class Profile:
    """What one ``profiled`` block cost; filled in when it ends."""

    name: str
    wall_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0


@contextmanager
def profiled(spark, name: str):
    """Run the block under a fresh job group and yield a ``Profile``
    that holds, once the block ends, its wall time, its jobs, the
    distinct stages of those jobs that ran a task (a stage skipped
    because its shuffle output was reused is not work) and the tasks
    they completed.

    The caller's job group, if any, is restored on exit. Jobs run in
    a nested ``profiled`` block belong to the nested group and count
    there only."""
    sc = spark.sparkContext
    outer = {k: sc.getLocalProperty(k) for k in _GROUP_PROPS}
    group = f"{name}-{uuid.uuid4().hex[:12]}"
    sc.setJobGroup(group, name)
    prof = Profile(name)
    t0 = time.perf_counter()
    try:
        yield prof
    finally:
        prof.wall_s = time.perf_counter() - t0
        for k, v in outer.items():
            sc.setLocalProperty(k, v)
        _count(sc.statusTracker(), group, prof)


def _count(tracker, group: str, prof: Profile) -> None:
    """Fill ``prof`` from the status store. The store is fed by an
    asynchronous listener, so wait (at most 5 s) until the group's
    last job reads as finished: events arrive in order, so every
    earlier job and task event has been applied by then."""
    jobs = sorted(tracker.getJobIdsForGroup(group))
    deadline = time.monotonic() + 5.0
    while jobs and time.monotonic() < deadline:
        last = tracker.getJobInfo(jobs[-1])
        if last is None or last.status != "RUNNING":
            break
        time.sleep(0.01)
    stages = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    prof.jobs = len(jobs)
    for s in stages:
        info = tracker.getStageInfo(s)
        if info is not None and info.numCompletedTasks:
            prof.stages += 1
            prof.tasks += info.numCompletedTasks


def dgemm_gflops() -> float:
    """The host's numpy dgemm rate on one 2048² product, GFLOP/s."""
    import numpy as np

    n = 2048
    x = np.random.default_rng(0).standard_normal((n, n))
    t0 = time.perf_counter()
    x @ x
    return round(2 * n**3 / (time.perf_counter() - t0) / 1e9, 1)


def machine_index() -> dict:
    """Host fingerprint reported with every wall time: wall clock on
    a shared host swings ±25% with co-tenant load and the storage
    stack, so each report carries the numbers that tell "plan moved"
    from "machine moved" — dgemm GFLOP/s (CPU), a direct-I/O write
    probe (storage) and the 1-minute load average (co-tenancy)."""
    idx: dict = {
        "loadavg_1m": round(os.getloadavg()[0], 2),
        "dgemm_2048_gflops": dgemm_gflops(),
        "direct_write_mbps": None,
    }
    d = None
    try:
        # mkdtemp inside the guard: a full/read-only TMPDIR must
        # degrade this optional probe to None, not kill the caller
        d = tempfile.mkdtemp(prefix="bench_io_")
        t0 = time.perf_counter()
        subprocess.run(
            ["dd", "if=/dev/zero", f"of={d}/probe", "oflag=direct",
             "bs=1M", "count=256"],
            check=True, capture_output=True,
        )
        idx["direct_write_mbps"] = round(
            256 / (time.perf_counter() - t0), 0
        )
    except (OSError, subprocess.CalledProcessError):
        pass  # O_DIRECT unsupported (tmpfs), dd missing, disk full
    finally:
        if d is not None:
            shutil.rmtree(d, ignore_errors=True)
    return idx


def git_head(repo_root: str) -> str:
    """Short HEAD sha of the checkout at ``repo_root``, suffixed
    ``+dirty`` when tracked files differ from it; ``unknown`` outside
    a git checkout."""
    def git(*args: str) -> str:
        return subprocess.run(
            ["git", *args], cwd=repo_root, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip()

    try:
        sha = git("rev-parse", "--short", "HEAD")
        dirty = git("status", "--porcelain", "--untracked-files=no")
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return f"{sha}{'+dirty' if dirty else ''}" if sha else "unknown"
