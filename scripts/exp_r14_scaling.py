"""Scaling-measurement protocol fix (r14, VERDICT r13 #2).

The r13 8-vs-32-core scaling ratios clustered at ~1 because (a) at
sf0.1 the headline queries sit on a 0.3-2 s fixed-stage-latency floor
where cores cannot show, and (b) the two runs landed on different
host health. Protocol here:

- run the SLOW query set against an sf~1 replica (sf0.1 tables
  replicated 10x with disjoint keys — the established exp_sf1_tpch /
  exp_sf1_ext construction), where the data-bound queries exceed ~5 s;
- interleave the 32-core and 8-core runs within one host window
  (c32, c8, c32, c8 — each config sampled twice per query by each
  child, min taken across children);
- record the numpy dgemm probe NEXT TO each child run and report a
  ratio as trustworthy only when the two configs' probes are within
  20%.

Usage:
    python scripts/exp_r14_scaling.py            # orchestrates
    python scripts/exp_r14_scaling.py --child <cpus> <sf_dir> <n...>
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SLOW_SET = [
    "q3_shipping_priority",
    "q5_region_revenue",
    "p_dedup_minhash_lsh",
    "q_ks_2sample",
    "q_poisson_bootstrap_ci",
    "p_dsir_select",
]


def child(cpus: str, sf_dir: str, names: list[str]) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    import __spark_entry__ as entry_mod
    from matrixinversion_spark.profile import dgemm_gflops
    from matrixinversion_spark.session import get_spark

    g0 = dgemm_gflops()
    spark = get_spark(f"scaling_c{cpus}")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()
    # warm JVM + Python-worker paths
    qs["q1_pricing_summary"](spark, sf_dir).write.format("noop").mode(
        "overwrite").save()
    out: dict[str, float] = {}
    for name in names:
        from matrixinversion_spark.pipeline.dedup import (
            clear_signature_cache,
        )

        runs = []
        for _ in range(2):
            clear_signature_cache()
            spark.catalog.clearCache()
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite").save()
            runs.append(round(time.time() - t0, 3))
        out[name] = min(runs)
    g1 = dgemm_gflops()
    print("CHILD_JSON " + json.dumps(
        {"cpus": cpus, "dgemm": [g0, g1], "queries": out}
    ), flush=True)
    spark.stop()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        child(sys.argv[2], sys.argv[3], sys.argv[4:])
        return

    from matrixinversion_spark.session import get_spark
    from scripts.exp_sf1_ext import build as build_ext
    from scripts.exp_sf1_tpch import build_sf1

    td = tempfile.mkdtemp(prefix="scaling_sf1_")
    spark = get_spark("scaling_build")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    build_sf1(spark, td)     # TPC-H tables, keys shifted per replica
    build_ext(spark, td)     # documents + events (+ lineitem rewrite)
    spark.stop()
    print(f"sf~1 replica built in {time.time() - t0:.0f}s -> {td}",
          flush=True)

    results: dict[str, list[dict]] = {"32": [], "8": []}
    here = os.path.abspath(__file__)
    for rep in range(2):
        for cpus in ("32", "8"):
            p = subprocess.run(
                [sys.executable, here, "--child", cpus, td] + SLOW_SET,
                capture_output=True, text=True, timeout=3600,
            )
            line = [
                ln for ln in p.stdout.splitlines()
                if ln.startswith("CHILD_JSON ")
            ]
            if not line:
                print(f"child c{cpus} rep{rep} FAILED:\n{p.stderr[-2000:]}")
                sys.exit(1)
            rec = json.loads(line[0][len("CHILD_JSON "):])
            results[cpus].append(rec)
            print(f"rep{rep} c{cpus}: dgemm={rec['dgemm']} "
                  f"{rec['queries']}", flush=True)

    print("\nquery                         c32_min  c8_min  ratio8/32  "
          "trustworthy")
    import statistics

    for name in SLOW_SET:
        c32 = min(r["queries"][name] for r in results["32"])
        c8 = min(r["queries"][name] for r in results["8"])
        # median, not max: the probe itself catches one-off host
        # bursts that shouldn't veto the whole window
        g32 = statistics.median(
            g for r in results["32"] for g in r["dgemm"]
        )
        g8 = statistics.median(
            g for r in results["8"] for g in r["dgemm"]
        )
        trust = abs(g32 - g8) <= 0.2 * max(g32, g8)
        print(f"{name:28s} {c32:8.3f} {c8:7.3f} {c8 / c32:10.2f}  "
              f"{'yes' if trust else f'NO (dgemm {g32} vs {g8})'}")


if __name__ == "__main__":
    main()
