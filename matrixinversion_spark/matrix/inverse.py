"""Triangular inversion and full matrix inverse.

Reference analogues: `LUInverse.java` — mappers invert triangular
column strips (O16, `:88-167`), the reducer multiplies U⁻¹·L⁻¹ and
applies the pivot permutation (O17, `:169-389`).

Spark-first: triangular inversion is the block-recursive identity

    inv([[A,0],[C,D]]) = [[A⁻¹, 0], [−D⁻¹·C·A⁻¹, D⁻¹]]
    inv([[A,B],[0,D]]) = [[A⁻¹, −A⁻¹·B·D⁻¹], [0, D⁻¹]]

with leaves inverted by ``ops.leaf_task`` — each level costs two
distributed matmuls; depth is log2(n/leaf). The full inverse is then

    A⁻¹ = U⁻¹ · L⁻¹ · P

with the permutation applied as a block-routing gather (no physical
row moves until the very end — SURVEY.md §4 P12: the reference also
composes pivots as index vectors and applies them at read time).
"""

from __future__ import annotations

import numpy as np

from matrixinversion_spark.matrix import kernels
from matrixinversion_spark.matrix.core import BlockMatrixFrame, block_diagonal
from matrixinversion_spark.matrix.lu import (
    DEFAULT_LEAF,
    _inv_leaf,
    _level_ck,
    auto_leaf,
    lu,
)
from matrixinversion_spark.matrix.ops import gemm, leaf_task, multiply


def inverse_lower_unit(lo: BlockMatrixFrame,
                       leaf_size: int = DEFAULT_LEAF) -> BlockMatrixFrame:
    """Invert a distributed unit-lower-triangular matrix (O16)."""
    if lo.n_rows <= leaf_size or lo.nbi == 1:
        return _inv_leaf(lo, "lower")
    mb = lo.nbi // 2
    a = lo.slice_blocks(0, mb, 0, mb)
    c = lo.slice_blocks(mb, lo.nbi, 0, mb)
    d = lo.slice_blocks(mb, lo.nbi, mb, lo.nbi)
    ck = _level_ck(mb * lo.block_size <= leaf_size or mb == 1)
    ia = ck(inverse_lower_unit(a, leaf_size)).persist()
    id_ = ck(inverse_lower_unit(d, leaf_size)).persist()
    corner = gemm(multiply(id_, c), ia, alpha=-1.0)
    df = ia.df.unionAll(corner.shift(mb, 0)).unionAll(id_.shift(mb, mb))
    return BlockMatrixFrame(df, lo.n_rows, lo.n_cols, lo.block_size)


def inverse_upper(up: BlockMatrixFrame,
                  leaf_size: int = DEFAULT_LEAF) -> BlockMatrixFrame:
    """Invert a distributed upper-triangular matrix (O16)."""
    if up.n_rows <= leaf_size or up.nbi == 1:
        return _inv_leaf(up, "upper")
    mb = up.nbi // 2
    a = up.slice_blocks(0, mb, 0, mb)
    b = up.slice_blocks(0, mb, mb, up.nbj)
    d = up.slice_blocks(mb, up.nbi, mb, up.nbj)
    ck = _level_ck(mb * up.block_size <= leaf_size or mb == 1)
    ia = ck(inverse_upper(a, leaf_size)).persist()
    id_ = ck(inverse_upper(d, leaf_size)).persist()
    corner = gemm(multiply(ia, b), id_, alpha=-1.0)
    df = ia.df.unionAll(corner.shift(0, mb)).unionAll(id_.shift(mb, mb))
    return BlockMatrixFrame(df, up.n_rows, up.n_cols, up.block_size)


def _lu_inv_rec(a: BlockMatrixFrame, leaf_size: int,
                retained: list | None = None
                ) -> tuple[BlockMatrixFrame, BlockMatrixFrame]:
    """Fused LU + triangular inversion + pivot fold: one bottom-up
    sweep returning (J, U⁻¹) with J ≡ L⁻¹·P and P·A = L·U, so
    A⁻¹ = U⁻¹·J.

    The two-sweep pipeline (factor everything, THEN invert the
    assembled triangles, THEN un-pivot) walks the recursion twice,
    pays separate single-task inversion stages per leaf, three
    permute stages per level, and — critically — blocks the driver on
    a pivot collect per leaf. Here each leaf task inverts its
    triangles AND folds its pivot in the same task that factored them
    (``leaf_task`` running ``kernels.lu_inverse``), and each level
    combines the child results with static block algebra only:

        U2 = J1·A2                L2 = A3·U1⁻¹      (solves become one
                                                    multiply: factors
                                                    arrive inverted
                                                    and pre-pivoted)
        S  = A4 − L2·U2           (Schur, fused-bias gemm, O11)
        U⁻¹ = [[U1⁻¹, −U1⁻¹·U2·U3⁻¹], [0, U3⁻¹]]
        J   = [[J1, 0], [−J3·L2·J1, J3]]

    (from L = [[L1,0],[P3·L2,L3]], P = diag(P1,P3):
    L⁻¹·P = [[L1⁻¹P1, 0],[−L3⁻¹P3·L2·L1⁻¹P1, L3⁻¹P3]] — each block is
    a child's J, so the pivot fold composes recursively and no
    permutation ever reaches the dataflow.) Identical arithmetic to
    lu() + inverse_upper/lower + permute (the corner gemms move into
    the factorization sweep; the pivots move into the leaf tasks), so
    the residual goldens carry over. NOTHING here blocks the driver:
    the recursion builds one lazy plan and the final action executes
    it as a single Spark job whose stages overlap purely by data
    dependency — leaf factorization, sibling solves, corner gemms all
    schedule concurrently wherever the DAG allows.
    """
    bs = a.block_size
    n = a.n_rows
    if n <= leaf_size or a.nbi == 1:
        # the fold only moves columns within the leaf, but a
        # multi-block leaf's J can be nonzero above its diagonal
        jl, iu = leaf_task(a, kernels.lu_inverse,
                           [(n, n, "full"), (n, n, "upper")], retained)
        return jl, iu

    nb = a.nbi
    mb = nb // 2
    a1 = a.slice_blocks(0, mb, 0, mb)
    a2 = a.slice_blocks(0, mb, mb, nb)
    a3 = a.slice_blocks(mb, nb, 0, mb)
    a4 = a.slice_blocks(mb, nb, mb, nb)

    ck = _level_ck(mb * bs <= leaf_size or mb == 1)

    jl1, iu1 = _lu_inv_rec(a1, leaf_size, retained)
    jl1 = ck(jl1).persist()
    iu1 = ck(iu1).persist()

    u2 = ck(multiply(jl1, a2)).persist()
    l2 = ck(multiply(a3, iu1)).persist()

    s = ck(gemm(l2, u2, c=a4, alpha=-1.0))
    jl3, iu3 = _lu_inv_rec(s, leaf_size, retained)
    jl3 = ck(jl3).persist()
    iu3 = ck(iu3).persist()
    if retained is not None:
        retained.extend(
            f.df for f in (jl1, iu1, u2, l2, jl3, iu3)
        )

    cu = gemm(multiply(iu1, u2), iu3, alpha=-1.0)
    cl = gemm(multiply(jl3, l2), jl1, alpha=-1.0)
    iu_df = iu1.df.unionAll(cu.shift(0, mb)).unionAll(iu3.shift(mb, mb))
    jl_df = jl1.df.unionAll(cl.shift(mb, 0)).unionAll(jl3.shift(mb, mb))
    return (
        BlockMatrixFrame(jl_df, n, n, bs),
        BlockMatrixFrame(iu_df, n, n, bs),
    )


def inverse(a: BlockMatrixFrame,
            leaf_size: int | None = None) -> BlockMatrixFrame:
    """A⁻¹ via recursive block LU (the reference's full pipeline:
    partition → LU → triangular inverses → multiply → un-pivot,
    `Inverse.java:28-40`). ``leaf_size=None`` picks ``auto_leaf``.

    Runs the fused single-sweep recursion (``_lu_inv_rec``): leaves
    emit pre-pivoted triangular inverses, levels combine them with
    static block algebra, and A⁻¹ = U⁻¹·J is one final multiply — no
    pivot collect, no permute stage, one Spark job end to end.

    Cache lifecycle: every frame the recursion persists (leaf task
    outputs plus the six per-level combiners) is tracked on the
    result's ``retained`` list — ``to_numpy`` releases them after the
    collect, and callers materializing another way (parquet write)
    should call ``result.release()``; without that, repeated
    inversions in one session would accrete O(leaves + levels)
    cached frames until eviction pressure degrades the executors."""
    if leaf_size is None:
        leaf_size = auto_leaf(a.n_rows)
    tracked: list = []
    jl, iu = _lu_inv_rec(a, leaf_size, tracked)
    out = multiply(iu, jl)
    out.retained.extend(tracked)
    return out


def solve(a: BlockMatrixFrame, b: BlockMatrixFrame,
          leaf_size: int | None = None) -> BlockMatrixFrame:
    """Solve A·X = B for a general square A (LU + two triangular
    solves — never forms A⁻¹ explicitly; cheaper and better
    conditioned than inverse()·B when B has few columns)."""
    from matrixinversion_spark.matrix.lu import solve_lower
    from matrixinversion_spark.matrix.ops import permute_rows

    if a.n_rows != a.n_cols or a.n_cols != b.n_rows:
        raise ValueError(
            f"solve shape mismatch: A is {a.n_rows}x{a.n_cols}, "
            f"B is {b.n_rows}x{b.n_cols}"
        )
    if leaf_size is None:
        leaf_size = auto_leaf(a.n_rows)
    perm, lo, up = lu(a, leaf_size)
    # leaf-sized factorizations return filters over an already-
    # persisted task output — checkpointing those only adds
    # serialized materialization jobs (see lu._level_ck)
    ck = _level_ck(a.n_rows <= leaf_size or a.nbi == 1)
    lo = ck(lo).persist()
    up = ck(up).persist()
    y = solve_lower(lo, permute_rows(b, perm), leaf_size)  # L·Y = P·B
    out = _solve_upper_left(up, y, leaf_size)              # U·X = Y
    # top-level factor caches ride the result's retained list (see
    # inverse(): to_numpy / release() frees them after the action);
    # per-level solve caches inside the recursions stay session-
    # scoped — bounded by one frame per level, not per leaf
    out.retained.extend([lo.df, up.df])
    return out


def _solve_upper_left(up: BlockMatrixFrame, b: BlockMatrixFrame,
                      leaf_size: int) -> BlockMatrixFrame:
    """Solve U·X = B for upper-triangular U (back substitution,
    recursive halving like lu.solve_lower)."""
    if up.n_rows <= leaf_size or up.nbi == 1:
        return multiply(_inv_leaf(up, "upper"), b)
    mb = up.nbi // 2
    ua = up.slice_blocks(0, mb, 0, mb)
    ub = up.slice_blocks(0, mb, mb, up.nbj)
    ud = up.slice_blocks(mb, up.nbi, mb, up.nbj)
    ba = b.slice_blocks(0, mb, 0, b.nbj)
    bb = b.slice_blocks(mb, b.nbi, 0, b.nbj)
    # persist: xb is used twice (Schur update + union), see
    # lu.solve_lower; checkpoint only above the leaf-adjacent level
    xb = _level_ck(mb * up.block_size <= leaf_size or mb == 1)(
        _solve_upper_left(ud, bb, leaf_size)
    ).persist()
    xa = _solve_upper_left(ua, gemm(ub, xb, c=ba, alpha=-1.0), leaf_size)
    df = xa.df.unionAll(xb.shift(mb, 0))
    return BlockMatrixFrame(df, b.n_rows, b.n_cols, b.block_size)


def pinv(a: BlockMatrixFrame,
         leaf_size: int | None = None) -> BlockMatrixFrame:
    """Moore–Penrose pseudo-inverse of a tall full-column-rank A
    (n×m, n ≥ m) via the normal equations: A⁺ = (AᵀA)⁻¹Aᵀ, computed
    as solve(AᵀA, Aᵀ) so the Gram matrix is factored once and never
    explicitly inverted (same reasoning as solve() vs inverse()·B).

    Same-layer extension of the reference pipeline (Inverse.java:28-40
    inverts square matrices only): the Gram multiply is the engine's
    one-exchange routed gemm, the solve reuses the LU machinery,
    and the m×m Gram is the only square work — so the cost scales
    with n only through the two rectangular multiplies. For
    rank-deficient or ill-conditioned A use the SVD route
    (pipeline.similarity randomized SVD); the Gram squares the
    condition number, which is the documented trade for the cheaper
    dataflow."""
    if a.n_rows < a.n_cols:
        raise ValueError(
            f"pinv expects a tall matrix, got {a.n_rows}x{a.n_cols} "
            "(transpose first; pinv(Aᵀ) = pinv(A)ᵀ)"
        )
    from matrixinversion_spark.matrix.ops import transpose

    at = transpose(a).checkpoint().persist()
    gram = multiply(at, a)
    res = solve(gram, at, leaf_size)
    res.retained.append(at.df)
    return res


def determinant(a: BlockMatrixFrame,
                leaf_size: int | None = None) -> float:
    """det(A) = sign(P) · Π diag(U) from the LU factors.

    The diagonal product is computed distributed (diagonal blocks
    only — block-coordinate filter prunes everything else); the
    permutation sign is a driver-side cycle count over the pivot
    vector (N ints)."""
    from pyspark.sql import functions as F

    perm, _lo, up = lu(a, leaf_size)
    diag_prod_log = (
        up.df.filter(F.col("bi") == F.col("bj"))
        .select(
            F.aggregate(
                block_diagonal(),
                F.struct(
                    F.lit(0.0).alias("logabs"), F.lit(1.0).alias("sgn")
                ),
                lambda acc, x: F.struct(
                    (acc.logabs + F.log(F.abs(x))).alias("logabs"),
                    (acc.sgn * F.signum(x)).alias("sgn"),
                ),
            ).alias("s")
        )
        .agg(
            F.sum("s.logabs").alias("logabs"),
            F.product("s.sgn").alias("sgn"),
        )
        .collect()[0]
    )
    # permutation sign: (-1)^(n − number of cycles)
    perm = np.asarray(perm)
    seen = np.zeros(len(perm), dtype=bool)
    cycles = 0
    for i in range(len(perm)):
        if not seen[i]:
            cycles += 1
            j = i
            while not seen[j]:
                seen[j] = True
                j = perm[j]
    psign = -1.0 if (len(perm) - cycles) % 2 else 1.0
    return float(
        psign * diag_prod_log.sgn * np.exp(diag_prod_log.logabs)
    )
