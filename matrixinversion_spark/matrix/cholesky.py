"""Distributed blocked Cholesky factorization for SPD matrices.

Capability extension beyond the reference (which factors general
square matrices via pivoted LU, `LUDecomposition.java`): for the
symmetric positive-definite case Cholesky costs half the FLOPs of LU
and needs no pivoting — the factorization covariance / Gram / normal-
equation pipelines actually run.

Same recursive-block scheme as ``lu.lu``, reusing its machinery:

    A = [[A11, A12], [A21, A22]],  A = L·Lᵀ
    L11·L11ᵀ = A11                    (recursion / leaf kernel)
    L21 = A21·L11⁻ᵀ                   (triangular solve, lu.solve_upper_right)
    S   = A22 − L21·L21ᵀ              (fused gemm, ops.gemm alpha=-1)
    L22·L22ᵀ = S                      (recursion)

One shuffle per level (the Schur gemm); the triangular solve inverts
its leaf in an executor task (``ops.leaf_task``) and applies it as
one routed gemm, exactly like the LU path. The Cholesky leaf itself is a
driver collect, so a non-SPD input raises ``np.linalg.LinAlgError``
eagerly, at factorization time. Factors are checkpointed
(``BlockMatrixFrame.checkpoint``) per level for the same
lineage-control reason as ``lu.lu``.
"""

from __future__ import annotations

import numpy as np

from matrixinversion_spark.matrix import ops
from matrixinversion_spark.matrix.core import BlockMatrixFrame, block_diagonal
from matrixinversion_spark.matrix.lu import solve_upper_right


def cholesky_leaf(a: np.ndarray) -> np.ndarray:
    """Leaf kernel: lower-triangular L with A = L·Lᵀ (LAPACK potrf
    via numpy). Raises ``np.linalg.LinAlgError`` if A is not SPD —
    surfaced as-is: silently patching a non-SPD input hides data
    bugs."""
    return np.linalg.cholesky(a)


def cholesky(a: BlockMatrixFrame,
             leaf_size: int | None = None) -> BlockMatrixFrame:
    """Factor A = L·Lᵀ for distributed SPD A; returns lower L.
    ``leaf_size=None`` picks ``auto_leaf``."""
    if a.n_rows != a.n_cols:
        raise ValueError("Cholesky requires a square matrix")
    if leaf_size is None:
        from matrixinversion_spark.matrix.lu import auto_leaf

        leaf_size = auto_leaf(a.n_rows)
    spark = a.df.sparkSession
    bs = a.block_size

    if a.n_rows <= leaf_size or a.nbi == 1:
        lo = cholesky_leaf(a.to_numpy())
        return BlockMatrixFrame.from_numpy(spark, lo, bs)

    nb = a.nbi
    mb = nb // 2
    a11 = a.slice_blocks(0, mb, 0, mb)
    a21 = a.slice_blocks(mb, nb, 0, mb)
    a22 = a.slice_blocks(mb, nb, mb, nb)

    l11 = cholesky(a11, leaf_size).checkpoint().persist()
    l21 = solve_upper_right(
        ops.transpose(l11), a21, leaf_size
    ).checkpoint().persist()
    s = ops.gemm(l21, ops.transpose(l21), c=a22, alpha=-1.0).checkpoint()
    l22 = cholesky(s, leaf_size)

    l_df = (
        l11.df
        .unionAll(l21.shift(mb, 0))
        .unionAll(l22.shift(mb, mb))
    )
    n = a.n_rows
    return BlockMatrixFrame(l_df, n, n, bs)


def chol_logdet(lo: BlockMatrixFrame) -> float:
    """log det A = 2·Σ log diag(L) from an ALREADY-COMPUTED Cholesky
    factor — callers that need both the factor and the determinant
    (la_cholesky_residual) reuse one factorization instead of paying
    it twice (r14 optimization round, guide §1.2). Only the diagonal
    entries of L leave the cluster."""
    diags = lo.df.filter("bi = bj").select(block_diagonal().alias("d"))
    total = 0.0
    for row in diags.collect():
        total += float(np.sum(np.log(np.asarray(row["d"]))))
    return 2.0 * total


def spd_logdet(a: BlockMatrixFrame,
               leaf_size: int | None = None) -> float:
    """log det A = 2·Σ log diag(L) — the numerically-stable
    determinant for SPD matrices (Gaussian likelihoods, GP kernels).
    Factors A, then delegates to :func:`chol_logdet`."""
    return chol_logdet(cholesky(a, leaf_size))
