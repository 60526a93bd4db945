"""Benchmark of the matrixinversion_spark engine.

    python3 perfbench/run.py --workload dense_inverse --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. One client drives one ``local[nproc]``
Spark session in a closed loop: each op starts when the previous one
and its check have finished. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json;
with ``--trace 1`` the session runs with Spark's event log on, spans
are recorded around every call into a layer, and the metrics are the
per-layer ones (see perfbench/NOTES.md).

Everything the run writes goes under ``.perfbench/`` in the working
directory; the detail of each run (host fingerprint, every op time,
spans) stays there as ``result.json`` and ``spans.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
# fewest timed ops of an untraced run, however short --seconds is;
# op_s and cpu_s are medians over the timed ops
MIN_OPS = 2


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work_dir: str) -> None:
    """Keep every file the run, Spark and the JVM write inside
    ``work_dir``, and let Python workers import the engine."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def host_fingerprint() -> dict:
    """dgemm rate, load and direct-write probe (the repository's own
    ``bench._machine_index``), plus what identifies the build and the
    settings in effect."""
    import bench

    idx = bench._machine_index()
    head = None
    try:
        out = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, cwd=ROOT, timeout=10)
        lines = out.stdout.split()
        # only a repository rooted here identifies this checkout
        if out.returncode == 0 and os.path.samefile(lines[0], ROOT):
            head = lines[1]
    except (OSError, subprocess.SubprocessError):
        pass
    return {
        **idx,
        "head": head,
        "nproc": len(os.sched_getaffinity(0)),
        "env": {k: v for k, v in os.environ.items()
                if k.startswith("SPARK_GRAFT_")},
    }


def start_session(extra_confs: dict | None = None):
    from matrixinversion_spark.session import get_spark

    spark = get_spark("perfbench", extra_confs=extra_confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Shut the Spark JVM down and wait for it to exit, so no process
    of the run outlives it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def set_up(workload, seed: int, work_dir: str, tracer,
           extra_confs: dict | None = None):
    """Make the inputs from the seed (not timed), then time one cold
    set-up: ``get_spark`` launches the JVM and the session, and the
    workload hands its inputs to the engine. Returns (spark, set-up
    seconds, session-start seconds)."""
    workload.make_inputs(seed, work_dir)
    with tracer.span("setup", op="setup"):
        t0 = time.perf_counter()
        spark = start_session(extra_confs)
        start = time.perf_counter() - t0
        workload.setup(spark, tracer)
        total = time.perf_counter() - t0
    return spark, total, start


class Tally:
    """Ops attempted and failed in a run, with each failure's message."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, fn, *args):
        """Run one op or check; count it as failed on any exception."""
        try:
            return True, fn(*args)
        except Exception as e:  # noqa: BLE001 - an op's failure is data
            self.failed += 1
            self.errors.append(f"{type(e).__name__}: {str(e)[:300]}")
            traceback.print_exc(file=sys.stderr)
            return False, None


def warm_up(workload, spark, tracer, tally: Tally) -> None:
    tally.attempted += 1
    with tracer.span("warmup", op="warmup"):
        tally.run(workload.warmup, spark, tracer)


def measure(workload, spark, tracer, seconds: float, tally: Tally,
            cpu_seconds, alternate: bool = False
            ) -> list[tuple[str, float, float, bool]]:
    """Closed loop for ``seconds``, and at least ``MIN_OPS`` ops:
    reset, op (timed), check (not timed). With ``alternate``, ops run
    quiet, traced, traced, quiet (and again), so that a steady drift in
    op time cancels between the two kinds; at least four ops run. A
    quiet tracer stays quiet. Returns (op id, wall s, CPU s, traced) of
    every op that ran and passed its check."""
    done = []
    deadline = time.time() + seconds
    was_quiet = tracer.quiet
    k = 0
    while True:
        with tracer.span("between", op=f"between{k}"):
            workload.between_ops(spark)
        traced = not alternate or k % 4 in (1, 2)
        tally.attempted += 1
        tracer.quiet = was_quiet or not traced
        c0, t0 = cpu_seconds(), time.perf_counter()
        with tracer.span("op", op=f"op{k}"):
            ok, result = tally.run(workload.op, spark, tracer)
        wall, cpu = time.perf_counter() - t0, cpu_seconds() - c0
        tracer.quiet = was_quiet
        if ok:
            with tracer.span("check", op=f"check{k}"):
                ok, _ = tally.run(workload.check, result)
        if ok:
            done.append((f"op{k}", wall, cpu, traced))
        k += 1
        if time.time() >= deadline and k >= (4 if alternate else MIN_OPS):
            return done


def run_untraced(workload, args, work_dir: str, tally: Tally) -> dict:
    from perfbench import proctree
    from perfbench.spans import Tracer

    tracer = Tracer(quiet=True)  # only op-opening spans, never layers
    t0 = time.perf_counter()
    spark, setup_s, start_s = set_up(workload, args.seed, work_dir, tracer)
    t1 = time.perf_counter()
    workload.prepare_checks()
    warm_up(workload, spark, tracer, tally)
    t2 = time.perf_counter()
    ops = measure(workload, spark, tracer, args.seconds, tally,
                  proctree.cpu_seconds)
    return {"spark": spark, "setup_s": setup_s, "session_start_s": start_s,
            "op_s": [o[1] for o in ops], "cpu_s": [o[2] for o in ops],
            "phase_s": {"setup": t1 - t0, "warmup": t2 - t1,
                        "measure": time.perf_counter() - t2}}


def _median(xs):
    return statistics.median(xs) if xs else None


def end_to_end(u: dict) -> dict:
    return {
        "op_s": {"value": _median(u["op_s"]), "unit": "s"},
        "setup_s": {"value": u["setup_s"], "unit": "s"},
        "cpu_s": {"value": _median(u["cpu_s"]), "unit": "s"},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    # import from the checkout root, never from perfbench/ itself
    sys.path[0] = ROOT
    # the program under test must be in the working directory; without
    # it the run fails here, before anything is printed
    import matrixinversion_spark  # noqa: F401

    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose "
                         f"from {sorted(workloads.WORKLOADS)}")
    work_dir = os.path.join(ROOT, ".perfbench",
                            f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work_dir)
    t0 = time.perf_counter()
    fingerprint = host_fingerprint()  # before Spark holds the cores
    fingerprint["probe_s"] = time.perf_counter() - t0
    workload = workloads.WORKLOADS[args.workload]()
    tally = Tally()
    detail = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "machine": fingerprint}
    if args.trace:
        from perfbench import layers

        traced = layers.run_traced(workload, args, work_dir, tally,
                                   fingerprint)
        metrics = traced.pop("metrics")
        detail["traced"] = traced
        ran = bool(traced["ops"])
    else:
        untraced = run_untraced(workload, args, work_dir, tally)
        untraced.pop("spark").stop()
        metrics = end_to_end(untraced)
        detail["untraced"] = untraced
        ran = bool(untraced["op_s"])
    stop_jvm()
    correct = (tally.failed == 0 and ran
               and all(m["value"] is not None for m in metrics.values()))
    detail["errors"] = tally.errors
    with open(os.path.join(work_dir, "result.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    for sub in ("tmp", "local", "tables", "eventlog"):
        shutil.rmtree(os.path.join(work_dir, sub), ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": tally.attempted,
                      "failed": tally.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
