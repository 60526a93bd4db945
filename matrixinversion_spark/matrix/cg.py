"""Iterative solvers on BlockMatrixFrame: conjugate gradients (SPD)
and BiCGSTAB (general nonsingular A).

The iterative counterpart of the reference's direct solve: where
`LUDecomposition.java` factors A once and back-substitutes
(O(N^3) flops, the whole block tree materialized), these touch A
only through matrix-vector products — O(N^2) per product, K
iterations, nothing factored.

Execution shape: A stays a distributed frame; every n-vector lives
on the driver as a numpy array. Each product A·p is one
``ops.matvec`` — one narrow job, p broadcast, no shuffle — and the
dots and axpys are driver numpy. For a dense matrix n is the square
root of its size, so the vectors are small: at 100 TB (n ≈ 3.5e6) an
n-vector is 28 MB. No vector lineage exists, so nothing is
checkpointed between iterations.

Reference provenance: extends the solve surface of
`LUDecomposition.java:410-493` (triangular solves) and
`Inverse.java:28-40` (driver pipeline); the reference has no
iterative path — this is the Spark-native addition a user of the
reference would need for systems too large to factor.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from matrixinversion_spark.matrix import ops
from matrixinversion_spark.matrix.core import BlockMatrixFrame, block_diagonal
from matrixinversion_spark.registry import query


def _rhs(a: BlockMatrixFrame, b: BlockMatrixFrame) -> np.ndarray:
    """b as a driver vector, after checking A is square and b is
    ``a.n_cols``×1 — before any Spark job runs."""
    if a.n_rows != a.n_cols or (b.n_rows, b.n_cols) != (a.n_cols, 1):
        raise ValueError(
            f"shape mismatch: A is {a.n_rows}x{a.n_cols}, b is "
            f"{b.n_rows}x{b.n_cols}; need square A and b {a.n_cols}x1"
        )
    return b.to_numpy()[:, 0]


def _column(a: BlockMatrixFrame, x: np.ndarray) -> BlockMatrixFrame:
    """Driver vector ``x`` as an n×1 frame at ``a``'s block size."""
    return BlockMatrixFrame.from_numpy(
        a.df.sparkSession, x[:, None], block_size=a.block_size
    )


def _residual(a: BlockMatrixFrame, x: BlockMatrixFrame,
              b: np.ndarray) -> float:
    """‖A·x − b‖∞ on the driver: one ``ops.matvec``."""
    return float(np.abs(ops.matvec(a, x.to_numpy()[:, 0]) - b).max())


def cg_solve(
    a: BlockMatrixFrame,
    b: BlockMatrixFrame,
    tol: float = 1e-10,
    max_iter: int = 200,
    precondition: str | None = None,
) -> tuple[BlockMatrixFrame, int, float]:
    """Solve A·x = b for SPD A by (optionally preconditioned)
    conjugate gradients, one ``ops.matvec`` per iteration.

    Returns (x, iterations, final ||r||_2). ``tol`` is RELATIVE to
    ||b||_2 (stop when ||r|| <= tol*||b||) — the standard CG
    criterion; an absolute test would over- or under-iterate with
    the scale of b. ``precondition='jacobi'`` divides residuals by
    diag(A), collected once — the cheap fix for badly row/column-
    scaled systems, where plain CG's iteration count grows with the
    diagonal spread. Caller guarantees A is symmetric positive
    definite — CG silently diverges otherwise.
    """
    if precondition not in (None, "jacobi"):
        raise ValueError(f"unknown preconditioner {precondition!r}")
    r = _rhs(a, b)  # r0 = b - A·0 = b
    dinv = 1.0 / _diagonal(a) if precondition == "jacobi" else 1.0
    x = np.zeros(a.n_rows)
    z = r * dinv
    p = z
    rr = r @ r
    rz = r @ z
    stop = (tol * tol) * max(rr, 1e-300)  # rr0 == ||b||^2 at x0 = 0
    it = 0
    while it < max_iter and rr > stop:
        ap = ops.matvec(a, p)
        alpha = rz / (p @ ap)
        x = x + alpha * p
        r = r - alpha * ap
        z = r * dinv
        rr, rz_new = r @ r, r @ z
        p = z + (rz_new / rz) * p
        rz = rz_new
        it += 1
    return _column(a, x), it, float(np.sqrt(rr))


def _diagonal(a: BlockMatrixFrame) -> np.ndarray:
    """diag(A) on the driver: the diagonal blocks' diagonals, one
    collect. An absent diagonal block reads as zeros."""
    bs = a.block_size
    d = np.zeros(a.n_rows)
    for bi, diag in (a.df.filter(F.col("bi") == F.col("bj"))
                     .select("bi", block_diagonal()).collect()):
        d[bi * bs:bi * bs + len(diag)] = diag
    return d


def bicgstab_solve(
    a: BlockMatrixFrame,
    b: BlockMatrixFrame,
    tol: float = 1e-10,
    max_iter: int = 200,
) -> tuple[BlockMatrixFrame, int, float]:
    """Solve A·x = b for GENERAL (nonsymmetric) A by BiCGSTAB
    (van der Vorst, SISC 1992) — the iterative companion CG cannot
    be: CG's short recurrence requires SPD, while BiCGSTAB's
    stabilized bi-Lanczos needs only that A be nonsingular, at the
    price of TWO ``ops.matvec`` per iteration instead of one.
    Returns (x, iterations, final ||r||₂); ``tol`` is relative to
    ||b||₂.

    Raises on bi-Lanczos breakdown (ρ or ω numerically zero) — the
    textbook restart-or-switch-solver condition, surfaced rather
    than silently looped on.
    """
    r = _rhs(a, b)  # r0 = b - A·0
    rhat = r  # fixed shadow residual
    x = np.zeros(a.n_rows)
    rr = r @ r
    stop = (tol * tol) * max(rr, 1e-300)
    rho = alpha = omega = 1.0
    v = p = None
    it = 0
    while it < max_iter and rr > stop:
        rho_new = rhat @ r
        if abs(rho_new) < 1e-300:
            raise RuntimeError(
                "BiCGSTAB breakdown: <rhat, r> vanished "
                f"(iteration {it}) — restart with a different shadow "
                "residual or use a direct solve"
            )
        if p is None:
            p = r
        else:
            beta = (rho_new / rho) * (alpha / omega)
            p = r + beta * (p - omega * v)
        v = ops.matvec(a, p)
        rv = rhat @ v
        if abs(rv) < 1e-300:
            raise RuntimeError(
                f"BiCGSTAB breakdown: <rhat, A·p> vanished "
                f"(iteration {it}) — restart with a different shadow "
                "residual or use a direct solve"
            )
        alpha = rho_new / rv
        s = r - alpha * v
        ss = s @ s
        if ss <= stop:  # converged at the half-step
            x = x + alpha * p
            rr = ss
            it += 1
            break
        t = ops.matvec(a, s)
        tt = t @ t
        if tt < 1e-300:
            raise RuntimeError(
                f"BiCGSTAB breakdown: ||A·s|| vanished (iteration {it})"
            )
        omega = (t @ s) / tt
        if abs(omega) < 1e-300:
            raise RuntimeError(
                f"BiCGSTAB breakdown: omega vanished (iteration {it})"
            )
        x = x + alpha * p + omega * s
        r = s - omega * t
        rr = r @ r
        rho = rho_new
        it += 1
    return _column(a, x), it, float(np.sqrt(rr))


@query(
    "la_bicgstab_solve",
    oracle="SELECT 256 AS n, 0.0 AS residual_r6, TRUE AS ok",
)
def la_bicgstab_solve(spark: SparkSession, sf_dir: str) -> F.DataFrame:  # type: ignore[name-defined]
    """Self-verifying BiCGSTAB on a NONSYMMETRIC system: A = M + n·I
    from the seeded 256² uniform matrix (diagonally dominant, hence
    nonsingular, but NOT symmetrized — CG would diverge here),
    b = A·1, solve, report ‖A·x − b‖∞ rounded to 6 dp (exact 0.0 —
    the la_cg_solve pattern, hash-checkable by the driver)."""
    n, bs = 256, 64
    m = BlockMatrixFrame.random_uniform(spark, n, block_size=bs, seed=43)
    eye = BlockMatrixFrame.from_numpy(
        spark, float(n) * np.eye(n), block_size=bs
    )
    a = ops.add(m, eye).checkpoint(eager=True)
    b = ops.matvec(a, np.ones(n))
    x, iters, _ = bicgstab_solve(a, _column(a, b), tol=1e-10)
    resid = _residual(a, x, b)
    return spark.createDataFrame(
        [(n, float(round(resid, 6)), bool(resid < 1e-8 * n))],
        "n int, residual_r6 double, ok boolean",
    )


@query(
    "la_cg_solve",
    oracle="SELECT 256 AS n, 0.0 AS residual_r6, TRUE AS ok",
)
def la_cg_solve(spark: SparkSession, sf_dir: str) -> F.DataFrame:  # type: ignore[name-defined]
    """Self-verifying CG: build SPD A = (M + Mᵀ)/2 + n·I from the
    seeded 256² uniform matrix (diagonal dominance ⇒ SPD), set
    b = A·1 so the exact solution is the ones vector, solve, and
    report ‖A·x − b‖∞ — which rounds to exactly 0.0 at 6 decimals,
    making the property hash-checkable by the driver (the
    la_lu_residual pattern). Pytest separately asserts the raw
    tolerance and the iteration count."""
    n, bs = 256, 64
    m = BlockMatrixFrame.random_uniform(spark, n, block_size=bs, seed=42)
    sym = ops.scale(ops.add(m, ops.transpose(m)), 0.5)
    eye = BlockMatrixFrame.from_numpy(
        spark, float(n) * np.eye(n), block_size=bs
    )
    # A is reused every iteration — pin it once
    a = ops.add(sym, eye).checkpoint(eager=True)
    b = ops.matvec(a, np.ones(n))
    x, iters, _ = cg_solve(a, _column(a, b), tol=1e-10)
    resid = _residual(a, x, b)
    return spark.createDataFrame(
        [(n, float(round(resid, 6)), bool(resid < 1e-8 * n))],
        "n int, residual_r6 double, ok boolean",
    )
