"""Randomized truncated SVD over BlockMatrixFrames.

Halko/Martinsson/Tropp ("Finding structure with randomness", SIAM
Rev. 53(2), 2011): sketch the range with a Gaussian test matrix,
orthonormalize with TSQR (matrix/qr.py), optionally sharpen the
spectrum with power iterations, then solve the tiny projected
problem on the driver.

    Y = A·Ω            (one distributed gemm, Ω is m×k, k ≪ m)
    Q = tsqr(Y).Q      (n×k orthonormal, communication-optimal)
    [power iters:  Z = Aᵀ·Q → orth → Y = A·Z → orth]
    B = Qᵀ·A           (k×m — small enough for the driver)
    Ub·S·Vᵀ = svd(B)   (driver LAPACK, k×m)
    U = Q·Ub           (narrow distributed map)

Scale, 100 TB honest: A never leaves the cluster and is read twice
per pass (the routed gemm streams its blocks); everything that moves to
the driver is O(k·m) — rank-sized, not data-sized. Ω and the k×m
projected matrix bound the driver at ~k·m·8 bytes, so the method
targets the tall regime (n huge, m up to ~1e6 at k≈100). A fully
distributed Ω (per-block seeded generation, as core.random_uniform
does) is the drop-in upgrade if m itself outgrows driver memory.

Reference provenance: the reference's surface is square LU inversion
(`Inverse.java:28-40`); SVD is the mandated same-layer extension for
low-rank structure (embeddings, LSA) the reference cannot express.
"""

from __future__ import annotations

import numpy as np

from matrixinversion_spark.matrix import ops
from matrixinversion_spark.matrix import qr as qrmod
from matrixinversion_spark.matrix.core import BlockMatrixFrame


def randomized_svd(
    a: BlockMatrixFrame,
    rank: int,
    oversample: int = 8,
    power_iters: int = 1,
    seed: int = 0,
) -> tuple[BlockMatrixFrame, np.ndarray, np.ndarray]:
    """Truncated SVD A ≈ U·diag(s)·Vt with U distributed (n×rank),
    s and Vt driver-side (rank, rank×m). Near-optimal in the Halko
    sense: expected error within a small factor of σ_{rank+1}.

    Precondition: the sketch Y = A·Ω must have full column rank,
    i.e. rank(A) ≥ rank + oversample — the TSQR orthonormalization
    is the indirect Q = Y·R⁻¹ form, which blows up on a singular R.
    Real noisy data always satisfies this; for a matrix of EXACTLY
    known low rank r, call with rank=r, oversample=0 (the sketch
    then captures the whole range and recovery is exact to machine
    precision — pinned by la_randomized_svd).
    """
    k = rank + oversample
    if k > a.block_size:
        raise ValueError(
            f"sketch width {k} exceeds block_size {a.block_size}; "
            "tsqr needs a single block column"
        )
    if k > min(a.n_rows, a.n_cols):
        raise ValueError("rank + oversample exceeds matrix dimensions")
    spark = a.df.sparkSession
    rng = np.random.default_rng(seed)
    omega = BlockMatrixFrame.from_numpy(
        spark, rng.standard_normal((a.n_cols, k)),
        block_size=a.block_size,
    )
    y = ops.multiply(a, omega).checkpoint()
    q, _ = qrmod.tsqr(y)
    for _ in range(power_iters):
        z = ops.multiply(ops.transpose(a), q).checkpoint()
        qz, _ = qrmod.tsqr(z)
        y = ops.multiply(a, qz).checkpoint()
        q, _ = qrmod.tsqr(y)
    q = q.checkpoint()
    q.persist()
    b = ops.multiply(ops.transpose(q), a).to_numpy()  # k×m, driver
    ub, s, vt = np.linalg.svd(b, full_matrices=False)
    u = ops.multiply(
        q,
        BlockMatrixFrame.from_numpy(
            spark, ub[:, :rank], block_size=a.block_size
        ),
    )
    return u, s[:rank], vt[:rank]
