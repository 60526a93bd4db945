"""Self-test of the benchmark: a perturbed result must be counted as
failed, Spark jobs must be attributed to the op that submitted them,
and BENCHMARK.json must name exactly the metrics the run reports.
Needs no Spark session; run from the repository root:

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import numpy as np
import pandas as pd

sys.path[0] = os.getcwd()

from perfbench import layers, run, spans, workloads as wl  # noqa: E402


def expect_failed(fn, *args) -> None:
    try:
        fn(*args)
    except wl.CheckFailed:
        return
    raise AssertionError(f"{fn.__name__} accepted a perturbed result")


def test_inverse_check() -> None:
    a = np.random.default_rng(0).random((64, 64))
    a_inv = np.linalg.inv(a)
    wl.check_inverse(a, a_inv)
    bad = a_inv.copy()
    bad[3, 5] += 1e-3
    expect_failed(wl.check_inverse, a, bad)


def test_solve_check() -> None:
    rng = np.random.default_rng(1)
    a = rng.random((32, 32)) + 32 * np.eye(32)
    b = rng.random((32, 1))
    x = np.linalg.solve(a, b)
    wl.check_solve(a, b, x, 1e-10)
    expect_failed(wl.check_solve, a, b, x * (1 + 1e-6), 1e-10)


def test_oracle_check() -> None:
    got = {"q": pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})}
    assert not wl.oracle_mismatches(got, {"q": got["q"].copy()})
    bad = got["q"].copy()
    bad.loc[1, "v"] = 1.26
    assert wl.oracle_mismatches(got, {"q": bad})


class _Perturbed:
    """A workload whose second op returns a result its check rejects."""

    def __init__(self):
        self.k = 0

    def between_ops(self, spark):
        pass

    def op(self, spark, tracer):
        self.k += 1
        return self.k

    def check(self, result):
        if result == 2:
            raise wl.CheckFailed("perturbed")


def test_failed_check_is_counted() -> None:
    tally = run.Tally()
    done = run.measure(_Perturbed(), None, spans.Tracer(quiet=True), 0.0,
                       tally, lambda: 0.0)
    assert run.MIN_OPS == 2
    # the second op of a run is the perturbed one
    assert tally.attempted == 2 and tally.failed == 1, vars(tally)
    assert len(done) == 1


def test_job_attribution() -> None:
    """Each logged job lands in the one op whose span holds its
    submission, with its stages' task metrics."""
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000, "Stage IDs": [0, 1]},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 500,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 10}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1800},
        # stage 1 was listed by job 0 but runs under job 1
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 2500, "Stage IDs": [1]},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2600},
    ]
    log_dir = os.path.join(".perfbench", "selftest-eventlog")
    os.makedirs(log_dir, exist_ok=True)
    with open(os.path.join(log_dir, "app"), "w") as f:
        f.write("\n".join(json.dumps(e) for e in events))
    ops = [{"name": "op", "start": 0.9, "end": 2.0, "parent": None,
            "op": "op0"},
           {"name": "op", "start": 2.4, "end": 3.0, "parent": None,
            "op": "op1"}]
    try:
        jobs = spans.read_jobs(log_dir)
    finally:
        shutil.rmtree(log_dir)
    got = spans.attribute(jobs, spans.windows(ops, lambda s: s["op"]))
    assert not got["unmatched"] and not got["ambiguous"]
    assert got["per"]["op0"]["tasks"] == 1
    assert got["per"]["op0"]["shuffle_write_bytes"] == 10
    assert abs(got["per"]["op0"]["job_active_s"] - 0.8) < 1e-9
    assert got["per"]["op1"]["stages"] == 1 and got["per"]["op1"]["tasks"] == 2


def test_benchmark_json() -> None:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(wl.WORKLOADS)
    e2e = run.end_to_end({"op_s": [1.0], "setup_s": 1.0, "cpu_s": [1.0]})
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == [
        (k, v["unit"]) for k, v in e2e.items()]
    assert [(m["name"], m["unit"], m["better"])
            for m in spec["per_layer"]] == layers.PER_LAYER


def main() -> int:
    tests = [v for k, v in sorted(globals().items())
             if k.startswith("test_")]
    for t in tests:
        t()
        print(f"ok {t.__name__}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
