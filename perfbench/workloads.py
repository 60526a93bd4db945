"""The benchmark's workloads. Each one makes its inputs from the seed
(``make_inputs``, not timed), hands them to the engine (``setup``,
timed as part of ``setup_s``), runs one op (``op``) and checks that
op's result outside the timed span (``check``, which raises
``CheckFailed``).

Every workload uses the session exactly as ``session.get_spark``
builds it: no conf is changed per workload.
"""

from __future__ import annotations

import os
import random

import numpy as np

from matrixinversion_spark.matrix import cg, inverse
from matrixinversion_spark.matrix.core import BlockMatrixFrame


class CheckFailed(Exception):
    """An op ran but its result is wrong."""


def collect_blocks(frame: BlockMatrixFrame) -> np.ndarray:
    """Assemble a block frame on the driver with plain PySpark and
    numpy, so a defect in the engine's own ``to_numpy`` cannot hide
    one in the result."""
    out = np.zeros((frame.n_rows, frame.n_cols))
    bs = frame.block_size
    pdf = frame.df.select("bi", "bj", "rows", "cols", "data").toPandas()
    for bi, bj, r, c, d in zip(pdf["bi"], pdf["bj"], pdf["rows"],
                               pdf["cols"], pdf["data"]):
        out[bi * bs:bi * bs + r, bj * bs:bj * bs + c] = (
            np.asarray(d, dtype=np.float64).reshape(r, c))
    return out


def check_inverse(a: np.ndarray, a_inv: np.ndarray) -> float:
    """max|A·A⁻¹ − I|, which must be at most 1e-8·N."""
    n = a.shape[0]
    err = float(np.abs(a @ a_inv - np.eye(n)).max())
    if not err <= 1e-8 * n:
        raise CheckFailed(f"max|A·A⁻¹−I| = {err:.3g} > {1e-8 * n:.3g}")
    return err


def check_solve(a: np.ndarray, b: np.ndarray, x: np.ndarray,
                tol: float) -> float:
    """Relative residual ‖A·x − b‖ / ‖b‖, which must be at most ``tol``."""
    rel = float(np.linalg.norm(a @ x - b) / np.linalg.norm(b))
    if not rel <= tol:
        raise CheckFailed(f"relative residual {rel:.3g} > {tol:.3g}")
    return rel


class Workload:
    """Defaults shared by the workloads."""

    def make_inputs(self, seed: int, work_dir: str) -> None:
        """Make the inputs a caller would already have (not timed)."""
        self.seed = seed

    def prepare_checks(self) -> None:
        """Build what the checks compare against (not timed)."""

    def warmup(self, spark, tracer) -> None:
        """One untimed, checked op, so the timed ops find the JVM,
        codegen and Python workers warm."""
        self.check(self.op(spark, tracer))

    def between_ops(self, spark) -> None:
        """Reset state so the next op runs cold (not timed)."""


class DenseInverse(Workload):
    """Cold distributed inverse of a seeded uniform(0,1) matrix: the
    paper's workload. One op is one ``inverse.inverse`` materialised
    to the noop sink."""

    name = "dense_inverse"
    # The same 2×2 block grid and single recursion level as the
    # paper's N=2048 at block and leaf 1024, so the same Spark jobs;
    # N=1024 keeps a run inside the benchmark's time budget.
    N, BLOCK, LEAF = 1024, 512, 512

    def setup(self, spark, tracer) -> None:
        """Generate A in the engine from the seed and persist it."""
        with tracer.span("matrix.core.generate"):
            self.a = BlockMatrixFrame.random_uniform(
                spark, self.N, block_size=self.BLOCK,
                seed=self.seed).persist()
            self.a.df.count()

    def reference(self) -> np.ndarray:
        """A rebuilt in numpy from the seeding rule ``random_uniform``
        documents: block (bi, bj) draws from SeedSequence([seed, bi,
        bj])."""
        n, bs = self.N, self.BLOCK
        a = np.empty((n, n))
        for bi in range(n // bs):
            for bj in range(n // bs):
                rng = np.random.default_rng(
                    np.random.SeedSequence([self.seed, bi, bj]))
                a[bi * bs:(bi + 1) * bs, bj * bs:(bj + 1) * bs] = (
                    rng.random(bs * bs).reshape(bs, bs))
        return a

    def prepare_checks(self) -> None:
        self.a_np = self.reference()

    def op(self, spark, tracer):
        with tracer.span("matrix.inverse.plan"):
            result = inverse.inverse(self.a, leaf_size=self.LEAF)
        with tracer.span("matrix.inverse.exec"):
            result.df.write.format("noop").mode("overwrite").save()
        return result

    def check(self, result) -> None:
        """The collect recomputes only the final product: the
        intermediates stay cached until ``release``."""
        try:
            check_inverse(self.a_np, collect_blocks(result))
        finally:
            result.release()

    def leaves(self) -> int:
        """Leaf factorisations per inverse: one per diagonal block of
        the 2×2 recursion (A1, then the Schur complement)."""
        return 2

    def flops(self) -> float:
        """Operation count of one inverse on the 2×2 block grid with
        half size h: two leaf LU (2/3·h³ each) and leaf triangular
        inverses (1/3·h³ per triangle), seven h×h gemms in the level
        combine, and the final U⁻¹·J product, which has five non-zero
        block pairs."""
        h = self.N / 2
        leaf = 2 * (2 / 3 + 2 / 3) * h**3
        return leaf + 7 * 2 * h**3 + 5 * 2 * h**3


class IterativeSolve(Workload):
    """Jacobi-preconditioned CG on a seeded SPD matrix with badly
    scaled rows and columns. One op is one ``cg.cg_solve`` plus the
    collect of x. Not a workload of its own (a solve is ~24 Spark jobs
    per iteration, too long for a run); the traced dense_inverse run
    times one solve as the matrix.cg probe."""

    N, BLOCK, TOL = 512, 256, 1e-10
    SPREAD = 1e4  # ratio of largest to smallest diagonal entry of A

    def make_inputs(self, seed: int, work_dir: str) -> None:
        rng = np.random.default_rng(np.random.SeedSequence([seed, 11]))
        n = self.N
        q, _ = np.linalg.qr(rng.standard_normal((n, n)))
        s = (q * rng.uniform(1.0, 1.05, n)) @ q.T  # well conditioned SPD
        d = np.sqrt(self.SPREAD) ** rng.uniform(0, 1, n)
        self.a_np = s * d[:, None] * d[None, :]
        self.b_np = rng.standard_normal((n, 1))

    def setup(self, spark, tracer) -> None:
        with tracer.span("matrix.core.generate"):
            a = BlockMatrixFrame.from_numpy(spark, self.a_np,
                                            block_size=self.BLOCK)
            # A is read every iteration: pin it once, as callers do
            self.a = BlockMatrixFrame(a.df.localCheckpoint(eager=True),
                                      self.N, self.N, self.BLOCK)
            self.b = BlockMatrixFrame.from_numpy(spark, self.b_np,
                                                 block_size=self.BLOCK)

    def op(self, spark, tracer):
        with tracer.span("matrix.cg.solve"):
            x, iterations, _ = cg.cg_solve(
                self.a, self.b, tol=self.TOL, precondition="jacobi")
            x_np = collect_blocks(x)
        return x_np, iterations

    def check(self, result) -> None:
        check_solve(self.a_np, self.b_np, result[0], self.TOL)


# Eight of the twenty non-matrix queries of bench.py's headline set,
# copied so that edits to bench.py do not move this benchmark: a
# parquet scan and aggregate, two- and five-way joins, a bloom-filter
# runtime join, a window, and the Arrow and Python UDF plans of exact
# dedup, MinHash-LSH dedup and DSIR selection. All twenty do not fit
# the time budget of a run (NOTES.md).
MIX = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "q_window_rank", "q_bloom_prefilter_join", "p_dedup_exact",
    "p_dedup_minhash_lsh", "p_dsir_select",
)


def oracle_mismatches(got: dict, want: dict) -> list[str]:
    """Queries whose Spark result differs from the oracle's, judged by
    the engine's own correctness-gate comparison."""
    from scripts.check_correctness import compare

    verdicts = {name: compare(name, got[name], want[name]) for name in got}
    return [f"{name}: {v}" for name, v in verdicts.items()
            if not v.startswith("OK")]


def layer_of(query: str) -> str:
    return "pipeline" if query.startswith("p_") else "relational"


class QueryMix(Workload):
    """The relational and pipeline query mix over seeded tables. One
    op is one pass over every query of ``MIX``, each written to the
    noop sink, in an order permuted by the seed."""

    name = "query_mix"
    SF = 0.01

    def make_inputs(self, seed: int, work_dir: str) -> None:
        from perfbench import datagen

        self.data_dir = os.path.join(work_dir, "tables")
        datagen.write(self.data_dir, self.SF, seed)
        self.order = list(MIX)
        random.Random(seed).shuffle(self.order)

    def setup(self, spark, tracer) -> None:
        """Load the tables in the engine (parquet footers read, temp
        views registered) and build the query registry."""
        import __spark_entry__
        from matrixinversion_spark.session import load_tables

        with tracer.span("relational.load"):
            load_tables(spark, self.data_dir)
        self.queries = __spark_entry__.queries()

    def warmup(self, spark, tracer) -> None:
        """Run every query once and compare it with its DuckDB oracle
        at the same scale."""
        import duckdb

        import __spark_entry__
        from perfbench import datagen

        con = duckdb.connect()
        for t in datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.data_dir}/{t}.parquet'")
        oracles = __spark_entry__.oracle_sql()
        got = {name: self.queries[name](spark, self.data_dir).toPandas()
               for name in self.order}
        want = {name: con.execute(oracles[name]).df() for name in got}
        con.close()
        bad = oracle_mismatches(got, want)
        if bad:
            raise CheckFailed("; ".join(bad))

    def op(self, spark, tracer):
        for name in self.order:
            layer = layer_of(name)
            with tracer.span(f"{layer}.{name}"):
                with tracer.span(f"{layer}.build"):
                    df = self.queries[name](spark, self.data_dir)
                with tracer.span(f"{layer}.action"):
                    df.write.format("noop").mode("overwrite").save()
        return None

    def check(self, result) -> None:
        """Timed passes go to the noop sink; the oracle comparison
        runs on the warm-up pass."""

    def between_ops(self, spark) -> None:
        """Drop cross-call caches so every pass runs the same cold
        plans."""
        from matrixinversion_spark.pipeline.dedup import (
            clear_signature_cache,
        )

        clear_signature_cache()
        spark.catalog.clearCache()


WORKLOADS = {w.name: w for w in (DenseInverse, QueryMix)}
