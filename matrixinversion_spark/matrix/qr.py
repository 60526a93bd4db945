"""Distributed tall-skinny QR (TSQR) with a fanout-ary reduction tree.

The reference factors square matrices by recursive LU
(`LUDecomposition.java:680-709`); QR is the same-layer extension for
the other dense shape that matters at scale — TALL matrices (billions
of rows, tens of columns: feature matrices, embedding panels). The
algorithm is the communication-optimal TSQR of Demmel/Grigori/
Hoemmen/Langou ("Communication-optimal parallel and sequential QR and
LU factorizations", SIAM J. Sci. Comput. 34(1), 2012):

1. one LOCAL Householder QR per row block (the O(n·k²) flops happen
   here, embarrassingly parallel, no data movement);
2. a fanout-ary reduction tree over the tiny k×k R factors — each
   level stacks ≤ ``fanout`` R's and re-factors them, so the data
   that ever moves is O(nbi·k²) bytes, independent of n;
3. (optional) the explicit thin Q formed block-locally as
   ``Q_bi = A_bi · R⁻¹`` — one broadcast of the k×k R, no shuffle.

Scale, 100 TB honest: a 1e10×64 float64 matrix at block_size=1e6 is
10 000 row slabs of 512 MB; stage 1 touches each slab exactly once
where it lives, the tree moves 10 000 × 32 KB ≈ 320 MB total, and the
driver only ever sees k×k matrices. Stacking order inside a tree node
is irrelevant mathematically (any valid R satisfies RᵀR = Σ RᵢᵀRᵢ),
so the reduction needs no sort; the final R is made unique by
normalizing its diagonal positive (R is then the upper Cholesky
factor of AᵀA, which is what makes the driver-hash oracle stable).

Precondition: full column rank (same class of requirement as the
reference's no-pivot-failure assumption for LU leaves).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from matrixinversion_spark.matrix.core import (
    BLOCK_SCHEMA, BlockMatrixFrame, data_partitions, decode_blocks,
    encode_blocks,
)

_R_SCHEMA = "g int, data array<double>"


def _qr_r(stacked: np.ndarray) -> np.ndarray:
    """Local R factor (k×k upper triangular, signs unnormalized)."""
    return np.linalg.qr(stacked, mode="r")


def tsqr_r(a: BlockMatrixFrame, fanout: int = 8) -> np.ndarray:
    """R factor of a tall-skinny BlockMatrixFrame via the TSQR tree.

    Returns the unique k×k upper-triangular R with positive diagonal
    (== upper Cholesky factor of AᵀA). Requires a single block column
    (``n_cols ≤ block_size``) — the tall-skinny regime TSQR exists
    for; wider matrices want the LU/Cholesky path instead.
    """
    if a.nbj != 1:
        raise ValueError(
            f"tsqr needs a single block column, got grid {a.nbi}x{a.nbj}"
        )
    if fanout < 2:
        raise ValueError("fanout must be >= 2")
    k = a.n_cols

    def local_r(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [(bi, _qr_r(blk).ravel())
                 for bi, _, blk in decode_blocks(pdf)],
                columns=["g", "data"],
            )

    def reduce_r(pdf: pd.DataFrame) -> pd.DataFrame:
        stacked = np.vstack(
            [np.asarray(d, dtype=np.float64).reshape(-1, k)
             for d in pdf["data"]]
        )
        g = int(pdf["g"].iloc[0]) // fanout
        return pd.DataFrame([(g, _qr_r(stacked).ravel())],
                            columns=["g", "data"])

    # one local QR task per 64 MB of panel, not one per row block
    panel = a.df.coalesce(data_partitions(a.n_rows, a.n_cols, a.block_size))
    lvl = panel.mapInPandas(local_r, schema=_R_SCHEMA)
    width = a.nbi
    while width > 1:
        # one partition per tree node of the level
        width = -(-width // fanout)
        lvl = (
            lvl.withColumn("_gg", (F.col("g") / F.lit(fanout)).cast("int"))
            .repartition(width, "_gg")
            .groupBy("_gg").applyInPandas(reduce_r, _R_SCHEMA)
        )

    flat = lvl.collect()[0]["data"]
    r = np.asarray(flat, dtype=np.float64).reshape(k, k)
    # sign-normalize: positive diagonal makes R (hence Q) unique
    s = np.sign(np.diag(r))
    s[s == 0] = 1.0
    return s[:, None] * r


def tsqr(a: BlockMatrixFrame, fanout: int = 8
         ) -> tuple[BlockMatrixFrame, np.ndarray]:
    """Thin QR: returns (Q as a BlockMatrixFrame, R as a k×k ndarray).

    Q is formed in the indirect style (``Q_bi = A_bi · R⁻¹``): one
    narrow map over A's blocks with the tiny R⁻¹ closed over — no
    shuffle, no second pass over the tree. Numerically this loses a
    little orthogonality versus the Householder-accumulated Q (error
    scales with cond(A)); for the well-conditioned feature panels this
    targets, ‖QᵀQ−I‖ stays at a small multiple of machine epsilon —
    the la_tsqr_residual query pins that bound at every driver run.
    """
    r = tsqr_r(a, fanout=fanout)
    d = np.abs(np.diag(r))
    if d.min() <= np.finfo(np.float64).eps * max(a.n_rows, 1) * d.max():
        raise np.linalg.LinAlgError(
            "tsqr: input is (numerically) rank-deficient — the "
            "indirect Q = A·R⁻¹ form needs full column rank"
        )
    rinv = np.linalg.inv(r)
    k = a.n_cols

    def form_q(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield encode_blocks(
                (bi, 0, blk @ rinv) for bi, _, blk in decode_blocks(pdf)
            )

    qdf = a.df.mapInPandas(form_q, schema=BLOCK_SCHEMA)
    return BlockMatrixFrame(qdf, a.n_rows, k, a.block_size), r
