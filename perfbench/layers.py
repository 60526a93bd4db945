"""The traced run: per-layer metrics from the benchmark's own spans
around each call into a layer, and from Spark's event log.

Metrics of a layer the workload does not run are reported as 0.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time

import numpy as np

from perfbench import spans as sp
from perfbench import workloads as wl

_SPARK = (
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.driver_only_s", "s"),
    ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"), ("spark.idle_core_s", "s"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"), ("spark.fetch_wait_s", "s"),
    ("spark.spill_bytes", "bytes"), ("spark.input_bytes", "bytes"),
)

# (name, unit, better) of every per-layer metric, in report order
PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("matrix.core.generate_s", "s", "lower"),
    ("relational.load_s", "s", "lower"),
    ("matrix.inverse.plan_s", "s", "lower"),
    ("matrix.inverse.exec_s", "s", "lower"),
    ("matrix.ops.plan_s", "s", "lower"),
    ("matrix.kernels.leaf_s", "s", "lower"),
    ("matrix.kernels.leaf_share", "ratio", "higher"),
    ("matrix.flops", "flop", "lower"),
    ("matrix.achieved_gflops", "GFLOP/s", "higher"),
    ("baseline.dgemm_gflops", "GFLOP/s", "higher"),
    ("baseline.numpy_inv_s", "s", "lower"),
    ("baseline.numpy_inv_1t_s", "s", "lower"),
    ("matrix.cg.iterations", "count", "lower"),
    ("matrix.cg.s_per_iter", "s", "lower"),
    ("matrix.cg.jobs_per_iter", "count", "lower"),
    ("relational.build_s", "s", "lower"),
    ("pipeline.build_s", "s", "lower"),
    *[(f"{wl.layer_of(q)}.{q}.{k}", u, "lower")
      for q in wl.MIX
      for k, u in (("s", "s"), ("jobs", "count"),
                   ("shuffle_bytes", "bytes"))],
    *[(name, unit, "lower") for name, unit in _SPARK],
    ("spark.jobs_range", "count", "lower"),
    ("spark.stages_range", "count", "lower"),
    ("spark.shuffle_amplification", "ratio", "lower"),
    ("process.peak_rss_mb", "MB", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
    ("trace.unattributed_jobs", "count", "lower"),
]


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _time(fn, reps: int = 3) -> float:
    """Median wall time of ``fn()`` over ``reps`` calls."""
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return statistics.median(out)


def kernel_leaf_s(leaf: int, seed: int) -> float:
    """Seconds of the leaf BLAS one leaf task runs (LU, then the two
    triangular inverses), timed here in the benchmark process."""
    from matrixinversion_spark.matrix import kernels

    a = np.random.default_rng(seed).random((leaf, leaf))

    def leaf_work():
        lu, _ = kernels.ludcmp(a)
        lower, upper = kernels.split_lu(lu)
        kernels.inv_lower_unit(lower)
        kernels.inv_upper(upper)

    return _time(leaf_work)


def numpy_inv_1t_s(a: np.ndarray, tmp: str) -> float:
    """``numpy.linalg.inv`` with one BLAS thread, in a child process
    (the thread count is fixed when numpy loads)."""
    path = os.path.join(tmp, "a.npy")
    np.save(path, a)
    code = ("import sys, time, statistics, numpy as np\n"
            "a = np.load(sys.argv[1]); ts = []\n"
            "for _ in range(3):\n"
            "    t = time.perf_counter(); np.linalg.inv(a)\n"
            "    ts.append(time.perf_counter() - t)\n"
            "print(statistics.median(ts))\n")
    env = {**os.environ, "OPENBLAS_NUM_THREADS": "1",
           "OMP_NUM_THREADS": "1", "MKL_NUM_THREADS": "1"}
    out = subprocess.run([sys.executable, "-c", code, path], env=env,
                         capture_output=True, text=True, check=True,
                         timeout=120)
    os.remove(path)
    return float(out.stdout.strip().splitlines()[-1])


def _wrap_layers(tracer, workload) -> None:
    """Spans around the calls one layer makes into the next."""
    from matrixinversion_spark.matrix import inverse

    if isinstance(workload, wl.DenseInverse):
        # the recursion builds its plan through these two matrix.ops
        # entry points, imported into the inverse module
        tracer.wrap(inverse, "multiply", "matrix.ops")
        tracer.wrap(inverse, "gemm", "matrix.ops")


def _cg_probe(spark, tracer, seed: int, work_dir: str, tally) -> dict:
    """One CG solve on a seeded SPD system: the matrix.cg layer, timed
    on the dense_inverse workload's traced run."""
    solve = wl.IterativeSolve()
    solve.make_inputs(seed, work_dir)
    with tracer.span("setup", op="cgsetup"):
        solve.setup(spark, tracer)
    tally.attempted += 1
    with tracer.span("op", op="cg0"):
        t0 = time.perf_counter()
        ok, result = tally.run(solve.op, spark, tracer)
        wall = time.perf_counter() - t0
    if not ok:
        return {}
    with tracer.span("check", op="cgcheck"):
        ok, _ = tally.run(solve.check, result)
    return {"wall_s": wall, "iterations": result[1]} if ok else {}


def run_traced(workload, args, work_dir: str, tally,
               fingerprint: dict) -> dict:
    """One session with Spark's event log on. Timed ops alternate
    between traced (spans around every layer call) and quiet (one span
    per op, so its jobs are still attributed), in ABBA order; their
    ratio is the spans' overhead."""
    from perfbench import proctree
    from perfbench.run import measure, set_up, warm_up

    tracer = sp.Tracer()
    log_dir = os.path.join(work_dir, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    confs = {**sp.EVENT_LOG_CONFS, "spark.eventLog.dir": log_dir}
    _wrap_layers(tracer, workload)
    spark, _, start_s = set_up(workload, args.seed, work_dir, tracer,
                               confs)
    workload.prepare_checks()
    rss = proctree.PeakRss().start()
    warm_up(workload, spark, tracer, tally)
    ops = measure(workload, spark, tracer, args.seconds, tally,
                  lambda: 0.0, alternate=True)
    peak_rss_mb = rss.stop()
    cg = {}
    if isinstance(workload, wl.DenseInverse):
        cg = _cg_probe(spark, tracer, args.seed, work_dir, tally)
    cores = spark.sparkContext.defaultParallelism
    spark.stop()  # flushes and closes the event log
    tracer.dump(os.path.join(work_dir, "spans.json"))

    jobs = sp.read_jobs(log_dir)
    top = sp.windows(tracer.spans,
                     lambda s: s["op"] if s["parent"] is None else None)
    by_op = sp.attribute(jobs, top)
    # Spark's numbers come from every op; span numbers from traced ones
    per_op = [by_op["per"].get(o[0], {**sp.zero(), "job_active_s": 0.0})
              for o in ops]
    op_ids = [o[0] for o in ops if o[3]]
    traced = [o[1] for o in ops if o[3]]
    quiet = [o[1] for o in ops if not o[3]]
    op_s = _median(quiet)

    m: dict[str, float] = {name: 0.0 for name, _, _ in PER_LAYER}
    for name, _ in _SPARK:
        key = name.split(".", 1)[1]
        if key == "driver_only_s":
            vals = [o[1] - p["job_active_s"] for o, p in zip(ops, per_op)]
        elif key == "idle_core_s":
            vals = [cores * p["job_active_s"] - p["executor_run_s"]
                    for p in per_op]
        else:
            vals = [p[key] for p in per_op]
        m[name] = _median(vals)
    for name in ("jobs", "stages"):
        vals = [p[name] for p in per_op]
        m[f"spark.{name}_range"] = float(max(vals) - min(vals)) if vals else 0.0
    m["session.start_s"] = start_s
    m["process.peak_rss_mb"] = peak_rss_mb
    m["matrix.core.generate_s"] = tracer.total("matrix.core.generate",
                                               "setup")
    m["relational.load_s"] = tracer.total("relational.load", "setup")
    if traced and quiet:  # means: the ABBA order cancels drift in sums
        m["trace.overhead_frac"] = (statistics.fmean(traced)
                                    / statistics.fmean(quiet) - 1)
    m["trace.unattributed_jobs"] = float(len(by_op["unmatched"]))
    m["baseline.dgemm_gflops"] = float(fingerprint.get("dgemm_2048_gflops")
                                       or 0.0)

    if isinstance(workload, wl.DenseInverse):
        n = workload.N
        m["matrix.inverse.plan_s"] = _median(
            [tracer.total("matrix.inverse.plan", o) for o in op_ids])
        m["matrix.inverse.exec_s"] = _median(
            [tracer.total("matrix.inverse.exec", o) for o in op_ids])
        m["matrix.ops.plan_s"] = _median(
            [tracer.total("matrix.ops", o) for o in op_ids])
        leaf_s = workload.leaves() * kernel_leaf_s(workload.LEAF, args.seed)
        m["matrix.kernels.leaf_s"] = leaf_s
        m["matrix.kernels.leaf_share"] = leaf_s / op_s if op_s else 0.0
        m["matrix.flops"] = workload.flops()
        m["matrix.achieved_gflops"] = (
            workload.flops() / op_s / 1e9 if op_s else 0.0)
        m["baseline.numpy_inv_s"] = _time(
            lambda: np.linalg.inv(workload.a_np))
        m["baseline.numpy_inv_1t_s"] = numpy_inv_1t_s(
            workload.a_np, os.path.join(work_dir, "tmp"))
        m["spark.shuffle_amplification"] = (
            m["spark.shuffle_write_bytes"] / (n * n * 8))
        if cg:
            cg_jobs = by_op["per"].get("cg0", sp.zero())["jobs"]
            m["matrix.cg.iterations"] = float(cg["iterations"])
            m["matrix.cg.s_per_iter"] = cg["wall_s"] / cg["iterations"]
            m["matrix.cg.jobs_per_iter"] = cg_jobs / cg["iterations"]

    if isinstance(workload, wl.QueryMix):
        names = {f"{wl.layer_of(q)}.{q}" for q in wl.MIX}
        per_q = sp.attribute(jobs, sp.windows(
            tracer.spans,
            lambda s: (s["op"], s["name"]) if s["name"] in names else None,
        ))["per"]
        for layer in ("relational", "pipeline"):
            m[f"{layer}.build_s"] = _median(
                [tracer.total(f"{layer}.build", o) for o in op_ids])
        for span_name in names:
            m[f"{span_name}.s"] = _median(
                [tracer.total(span_name, o) for o in op_ids])
            for k, src in (("jobs", "jobs"),
                           ("shuffle_bytes", "shuffle_write_bytes")):
                m[f"{span_name}.{k}"] = _median(
                    [per_q.get((o, span_name), sp.zero())[src]
                     for o in op_ids])

    units = {name: unit for name, unit, _ in PER_LAYER}
    return {
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in m.items()},
        "ops": ops,
        "per_op": dict(zip([o[0] for o in ops], per_op)),
        "jobs_logged": len(jobs),
        "unattributed_jobs": by_op["unmatched"],
        "ambiguous_jobs": by_op["ambiguous"],
        "cg_probe": cg,
    }
