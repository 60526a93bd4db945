"""Recursive block LU decomposition with partial pivoting.

The reference's core algorithm (Xiang/Meng/Aboulnaga, HPDC'14;
`LUDecomposition.java`): recursively factor the top-left quadrant,
solve the off-diagonal factors, form the Schur complement, recurse.

    P·A = L·U,  A = [[A1,A2],[A3,A4]]
    P1·A1 = L1·U1                      (recursion / leaf ludcmp, O9+O12)
    U2 = L1⁻¹·P1·A2                    (triangular solve, O10 mapper)
    L2 = A3·U1⁻¹                       (triangular solve, O10 mapper)
    P3·S = L3·U3, S = A4 − L2·U2       (Schur O11 reducer + recursion)
    P  = diag(P1,P3); L = [[L1,0],[P3·L2,L3]]; U = [[U1,U2],[0,U3]]

Spark-first re-expression (SURVEY.md §7): the recursion is driver-side
Python over *logical* BlockMatrixFrame slices (block-coordinate
filters — no partition directory trees, no control files); each level
lowers to a handful of Spark jobs (the Schur complement is one
routed-exchange gemm with the subtract fused in as its bias).
Triangular solves are recursive too — halving splits down to a leaf
whose factor is inverted by ``ops.leaf_task`` in one executor task
and applied as one routed gemm (the reference's mappers
likewise apply the ≤limit-sized diagonal factor,
`LUDecomposition.java:470-487`).
Leaf factorizations run through ``ops.leaf_task`` the same way.

Lineage control: every level's Schur complement and factors are
checkpointed (``BlockMatrixFrame.checkpoint``) above the leaf-adjacent
level (``_level_ck``) — the recursive plan would otherwise grow
exponentially (the reference pays the same cost as per-level HDFS
materialization; a checkpoint is the lineage-native equivalent).

Pivoting: textbook abs-max partial pivoting (NOT the reference's
signed-max quirk, `LUDecomposition.java:63`); correctness is asserted
via ‖P·A − L·U‖ and ‖A·A⁻¹ − I‖ residuals, not factor bit-matching.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from matrixinversion_spark.matrix import kernels, ops
from matrixinversion_spark.matrix.core import BlockMatrixFrame
from matrixinversion_spark.matrix.ops import gemm, multiply, permute_rows

DEFAULT_LEAF = 1024  # reference runs limit=1000 (`run.csh:13`)
# 128 MB collect; blocked driver ludcmp ~7 s at 4096 — still far
# cheaper than the serial Spark-action chain another recursion level
# would add (measured: see BENCH_NOTES "N=16384").
MAX_AUTO_LEAF = 4096


def auto_leaf(n: int) -> int:
    """Adaptive leaf size: ≈n/4 bounds the recursion depth at ~2
    levels while the leaf stays driver-cheap (≤2048² = 32 MB collect,
    ~3 s local factorization). Measured at N=8192: leaf=2048 cut the
    full inverse from 361 s to 162 s on local[32] — every recursion
    level costs a serial chain of Spark actions whose scheduling
    overhead dwarfs the BLAS work it replaces. The reference fixes
    limit=1000 for its N=2048 runs (`run.csh:13`); scaling the leaf
    with N is the Spark-side improvement."""
    return int(min(MAX_AUTO_LEAF, max(DEFAULT_LEAF, n // 4)))


def _level_ck(child_is_leaf: bool):
    """Depth-aware lineage control, measured on the fused inverse
    (``inverse._lu_inv_rec``, N=2048/N=4096 A/B): at the lowest
    internal recursion level the children are leaf task outputs —
    already persisted, two-step lineage — and localCheckpoint's
    serialized materialization jobs dominate the wall (7.8 -> 4.0 s
    median at N=2048 without them), so plain persist suffices. One
    level up the opposite holds: without checkpoints the recursive
    plan triples Catalyst analysis time (4.7 -> 12.8 s plan-build at
    N=4096). Returns the identity at leaf-adjacent levels, a lazy
    ``BlockMatrixFrame.checkpoint`` above."""
    return (lambda m: m) if child_is_leaf else BlockMatrixFrame.checkpoint


def _concurrently(f1: Callable, f2: Callable) -> tuple:
    """Run two independent Spark-job-producing thunks on driver
    threads so their jobs overlap in the scheduler.

    The recursion serializes ~log² dependency sweeps; the U2/L2
    solves, the (A,D) triangular-inverse pair, and the U⁻¹/L⁻¹ pair
    are data-independent, so the critical path is max() not sum() of
    each pair (VERDICT r1: the reference has the same sequential
    dependency — this is the place Spark can beat it). Nesting depth
    is log2(n/leaf), so the thread count stays O(n/leaf)."""
    with ThreadPoolExecutor(max_workers=2) as ex:
        fut1, fut2 = ex.submit(f1), ex.submit(f2)
        return fut1.result(), fut2.result()


def _inv_leaf(t: BlockMatrixFrame, mask: str) -> BlockMatrixFrame:
    """Invert a leaf-sized triangular factor (O16) with
    ``ops.leaf_task``: ``mask`` is ``"lower"`` for a unit-lower L,
    ``"upper"`` for U."""
    inv = kernels.inv_lower_unit if mask == "lower" else kernels.inv_upper
    return ops.leaf_task(
        t, lambda x: (inv(x),), [(t.n_rows, t.n_cols, mask)]
    )[0]


def lu(a: BlockMatrixFrame, leaf_size: int | None = None
       ) -> tuple[np.ndarray, BlockMatrixFrame, BlockMatrixFrame]:
    """Factor P·A = L·U. Returns (perm, L unit-lower, U upper) with
    ``A.to_numpy()[perm] == (L·U).to_numpy()`` up to float error.
    ``leaf_size=None`` picks :func:`auto_leaf`."""
    if a.n_rows != a.n_cols:
        raise ValueError("LU requires a square matrix")
    if leaf_size is None:
        leaf_size = auto_leaf(a.n_rows)
    bs = a.block_size

    if a.n_rows <= leaf_size or a.nbi == 1:
        # Leaf factorization, exactly the reference's leaf branch
        # (`LUDecomposition.java:686-699`), in one executor task;
        # only the pivot row crosses to the driver.
        n = a.n_rows
        lower, upper, perm = ops.leaf_task(
            a, kernels.lu_factors,
            [(n, n, "lower"), (n, n, "upper"), (1, n, "full")],
        )
        return perm.to_numpy()[0].astype(np.int64), lower, upper

    nb = a.nbi
    mb = nb // 2
    m = mb * bs
    a1 = a.slice_blocks(0, mb, 0, mb)
    a2 = a.slice_blocks(0, mb, mb, nb)
    a3 = a.slice_blocks(mb, nb, 0, mb)
    a4 = a.slice_blocks(mb, nb, mb, nb)

    ck = _level_ck(mb * bs <= leaf_size or mb == 1)

    p1, l1, u1 = lu(a1, leaf_size)
    l1 = ck(l1).persist()
    u1 = ck(u1).persist()

    u2, l2 = _concurrently(
        lambda: solve_lower(l1, permute_rows(a2, p1), leaf_size),
        lambda: solve_upper_right(u1, a3, leaf_size),
    )
    u2 = ck(u2).persist()
    l2 = ck(l2).persist()

    s = ck(gemm(l2, u2, c=a4, alpha=-1.0))
    p3, l3, u3 = lu(s, leaf_size)

    l2p = permute_rows(l2, p3)

    l_df = (
        l1.df
        .unionAll(l2p.shift(mb, 0))
        .unionAll(l3.shift(mb, mb))
    )
    u_df = (
        u1.df
        .unionAll(u2.shift(0, mb))
        .unionAll(u3.shift(mb, mb))
    )
    perm = np.concatenate([p1, p3 + m])
    n = a.n_rows
    return (
        perm,
        BlockMatrixFrame(l_df, n, n, bs),
        BlockMatrixFrame(u_df, n, n, bs),
    )


# ---------------------------------------------------------------------------
# Distributed triangular solves (reference O10)
# ---------------------------------------------------------------------------

def solve_lower(lo: BlockMatrixFrame, b: BlockMatrixFrame,
                leaf_size: int = DEFAULT_LEAF) -> BlockMatrixFrame:
    """Solve L·X = B for unit-lower-triangular distributed L."""
    if lo.n_rows <= leaf_size or lo.nbi == 1:
        return multiply(_inv_leaf(lo, "lower"), b)
    mb = lo.nbi // 2
    la = lo.slice_blocks(0, mb, 0, mb)
    lc = lo.slice_blocks(mb, lo.nbi, 0, mb)
    ld = lo.slice_blocks(mb, lo.nbi, mb, lo.nbi)
    ba = b.slice_blocks(0, mb, 0, b.nbj)
    bb = b.slice_blocks(mb, b.nbi, 0, b.nbj)
    # xa feeds BOTH the Schur update and the output union — persist
    # it or the recursive DAG re-executes 2^depth times per action
    # (checkpoint only above the leaf-adjacent level, see _level_ck)
    xa = _level_ck(mb * lo.block_size <= leaf_size or mb == 1)(
        solve_lower(la, ba, leaf_size)
    ).persist()
    xb = solve_lower(ld, gemm(lc, xa, c=bb, alpha=-1.0), leaf_size)
    df = xa.df.unionAll(xb.shift(mb, 0))
    return BlockMatrixFrame(df, b.n_rows, b.n_cols, b.block_size)


def solve_upper_right(up: BlockMatrixFrame, b: BlockMatrixFrame,
                      leaf_size: int = DEFAULT_LEAF) -> BlockMatrixFrame:
    """Solve X·U = B for upper-triangular distributed U."""
    if up.n_rows <= leaf_size or up.nbi == 1:
        return multiply(b, _inv_leaf(up, "upper"))
    mb = up.nbi // 2
    ua = up.slice_blocks(0, mb, 0, mb)
    ub = up.slice_blocks(0, mb, mb, up.nbj)
    ud = up.slice_blocks(mb, up.nbi, mb, up.nbj)
    ba = b.slice_blocks(0, b.nbi, 0, mb)
    bb = b.slice_blocks(0, b.nbi, mb, b.nbj)
    # persist: xa is used twice (see solve_lower)
    xa = _level_ck(mb * up.block_size <= leaf_size or mb == 1)(
        solve_upper_right(ua, ba, leaf_size)
    ).persist()
    xb = solve_upper_right(ud, gemm(xa, ub, c=bb, alpha=-1.0), leaf_size)
    df = xa.df.unionAll(xb.shift(0, mb))
    return BlockMatrixFrame(df, b.n_rows, b.n_cols, b.block_size)
