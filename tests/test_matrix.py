"""Distributed linear-algebra tests — SURVEY.md §5 strategy:
property-based numerical goldens + differential vs numpy +
recursion-boundary cases (FIXTURES.md §1)."""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from matrixinversion_spark.matrix import cholesky as cholmod
from matrixinversion_spark.matrix import inverse as invmod
from matrixinversion_spark.matrix import kernels
from matrixinversion_spark.matrix import lu as lumod
from matrixinversion_spark.matrix import ops
from matrixinversion_spark.matrix import qr as qrmod
from matrixinversion_spark.matrix.core import (
    BlockMatrixFrame, assemble, decode_blocks, encode_blocks, tile,
)


@pytest.fixture(scope="module")
def rng():
    return np.random.default_rng(42)


def test_multiply_matches_numpy(spark, rng):
    a = rng.random((96, 80))
    b = rng.random((80, 112))
    got = ops.multiply(
        BlockMatrixFrame.from_numpy(spark, a, 32),
        BlockMatrixFrame.from_numpy(spark, b, 32),
    ).to_numpy()
    assert np.abs(got - a @ b).max() < 1e-11


def test_multiply_uneven_blocks(spark, rng):
    # odd sizes exercise the M−M/2 uneven split (`Partition.java:66-68`)
    a = rng.random((70, 45))
    b = rng.random((45, 33))
    got = ops.multiply(
        BlockMatrixFrame.from_numpy(spark, a, 32),
        BlockMatrixFrame.from_numpy(spark, b, 32),
    ).to_numpy()
    assert np.abs(got - a @ b).max() < 1e-11


def test_add_subtract_transpose_scale(spark, rng):
    a = rng.random((64, 48))
    b = rng.random((64, 48))
    ba = BlockMatrixFrame.from_numpy(spark, a, 32)
    bb = BlockMatrixFrame.from_numpy(spark, b, 32)
    assert np.abs(ops.add(ba, bb).to_numpy() - (a + b)).max() == 0
    assert np.abs(ops.subtract(ba, bb).to_numpy() - (a - b)).max() == 0
    assert np.abs(ops.transpose(ba).to_numpy() - a.T).max() == 0
    assert np.abs(ops.scale(ba, -2.5).to_numpy() - (-2.5 * a)).max() == 0


def test_subtract_handles_absent_blocks(spark, rng):
    # triangular factors store no zero blocks; absent must read as 0
    a = np.triu(rng.random((64, 64)))
    b = np.tril(rng.random((64, 64)))
    ba = BlockMatrixFrame.from_numpy(spark, a, 32)  # drops zero blocks
    bb = BlockMatrixFrame.from_numpy(spark, b, 32)
    assert np.abs(ops.subtract(ba, bb).to_numpy() - (a - b)).max() == 0


def test_permute_rows(spark, rng):
    a = rng.random((96, 40))
    p = rng.permutation(96)
    got = ops.permute_rows(
        BlockMatrixFrame.from_numpy(spark, a, 32), p
    ).to_numpy()
    assert np.abs(got - a[p]).max() == 0


def test_random_uniform_deterministic(spark):
    a = BlockMatrixFrame.random_uniform(spark, 64, block_size=32, seed=7)
    b = BlockMatrixFrame.random_uniform(spark, 64, block_size=32, seed=7)
    assert np.abs(a.to_numpy() - b.to_numpy()).max() == 0
    assert 0.0 < a.to_numpy().mean() < 1.0


def test_random_uniform_seeding_rule(spark):
    """Block (bi, bj) is default_rng(SeedSequence([seed, bi, bj]))
    .random(r*c) in row-major order — the rule the benchmark's
    dense_inverse check rebuilds A from."""
    n, m, bs, seed = 70, 45, 32, 7
    pdf = BlockMatrixFrame.random_uniform(
        spark, n, m, block_size=bs, seed=seed
    ).df.toPandas()
    assert len(pdf) == 3 * 2
    for bi, bj, r, c, d in zip(
        pdf["bi"], pdf["bj"], pdf["rows"], pdf["cols"], pdf["data"]
    ):
        assert (r, c) == (min(bs, n - bi * bs), min(bs, m - bj * bs))
        want = np.random.default_rng(
            np.random.SeedSequence([seed, int(bi), int(bj)])
        ).random(r * c)
        assert np.array_equal(np.asarray(d), want), (bi, bj)


# block codec (core.py), no Spark: ragged shapes — n not a multiple
# of the block size, and a 1×n row
_RAGGED = [((7, 5), 3), ((70, 45), 32), ((1, 9), 4), ((9, 1), 4),
           ((4, 4), 4)]


def test_codec_round_trips_ragged_shapes(rng):
    for (n, m), bs in _RAGGED:
        a = rng.random((n, m))
        blocks = list(tile(a, bs))
        assert len(blocks) == -(-n // bs) * -(-m // bs)
        assert np.array_equal(assemble(blocks, n, m, bs), a)
        pdf = encode_blocks(blocks)
        assert list(pdf.columns) == ["bi", "bj", "rows", "cols", "data"]
        back = list(decode_blocks(pdf))
        assert [k[:2] for k in back] == [k[:2] for k in blocks]
        for (_, _, got), (_, _, want) in zip(back, blocks):
            assert got.shape == want.shape and np.array_equal(got, want)
        assert np.array_equal(assemble(back, n, m, bs), a)


def test_tile_masks(rng):
    a = rng.random((7, 8))  # 3×3 grid at bs=3, ragged last row/col
    keys = {mask: [(bi, bj) for bi, bj, _ in tile(a, 3, mask)]
            for mask in ("full", "lower", "upper")}
    grid = [(bi, bj) for bi in range(3) for bj in range(3)]
    assert keys["full"] == grid
    assert keys["lower"] == [(bi, bj) for bi, bj in grid if bi >= bj]
    assert keys["upper"] == [(bi, bj) for bi, bj in grid if bi <= bj]
    # a masked tiling still assembles the kept triangle of blocks
    lower = assemble(tile(a, 3, "lower"), 7, 8, 3)
    assert np.array_equal(lower[3:, :3], a[3:, :3])
    assert not lower[:3, 3:].any()


def test_tile_zero_blocks():
    a = np.zeros((5, 5))
    a[4, 0] = 1.0  # only block (1, 0) at bs=3 is nonzero
    assert [k[:2] for k in tile(a, 3)] == [(0, 0), (0, 1), (1, 0), (1, 1)]
    assert [k[:2] for k in tile(a, 3, keep_zeros=False)] == [(1, 0)]
    assert np.array_equal(assemble(tile(a, 3, keep_zeros=False), 5, 5, 3),
                          a)


def test_lu_residual_and_structure(spark, rng):
    m = rng.random((96, 96))
    bm = BlockMatrixFrame.from_numpy(spark, m, 16)
    perm, lo, up = lumod.lu(bm, leaf_size=32)
    ln, un = lo.to_numpy(), up.to_numpy()
    assert np.abs(m[perm] - ln @ un).max() < 1e-10 * 96
    assert np.allclose(np.triu(ln, 1), 0)
    assert np.allclose(np.diag(ln), 1)
    assert np.allclose(np.tril(un, -1), 0)


def test_lu_at_leaf_boundary(spark, rng):
    # n == leaf: no recursion (reference `run.csh:13` limit semantics)
    m = rng.random((32, 32))
    bm = BlockMatrixFrame.from_numpy(spark, m, 16)
    perm, lo, up = lumod.lu(bm, leaf_size=32)
    assert np.abs(m[perm] - lo.to_numpy() @ up.to_numpy()).max() < 1e-11


def test_triangular_solves_distributed(spark, rng):
    n = 96
    lower = np.tril(rng.random((n, n)), -1) + np.eye(n)
    upper = np.triu(rng.random((n, n))) + np.eye(n) * 3
    b = rng.random((n, 64))
    bl = BlockMatrixFrame.from_numpy(spark, lower, 32)
    bu = BlockMatrixFrame.from_numpy(spark, upper, 32)
    bb = BlockMatrixFrame.from_numpy(spark, b, 32)
    x1 = lumod.solve_lower(bl, bb, leaf_size=32).to_numpy()
    assert np.abs(lower @ x1 - b).max() < 1e-10
    bbt = BlockMatrixFrame.from_numpy(spark, b.T, 32)
    x2 = lumod.solve_upper_right(bu, bbt, leaf_size=32).to_numpy()
    assert np.abs(x2 @ upper - b.T).max() < 1e-10


def test_triangular_inverses_distributed(spark, rng):
    n = 96
    lower = np.tril(rng.random((n, n)), -1) + np.eye(n)
    upper = np.triu(rng.random((n, n))) + np.eye(n) * 3
    il = invmod.inverse_lower_unit(
        BlockMatrixFrame.from_numpy(spark, lower, 32), leaf_size=32
    ).to_numpy()
    iu = invmod.inverse_upper(
        BlockMatrixFrame.from_numpy(spark, upper, 32), leaf_size=32
    ).to_numpy()
    assert np.abs(lower @ il - np.eye(n)).max() < 1e-10
    assert np.abs(upper @ iu - np.eye(n)).max() < 1e-10


def _inverse_check(spark, m: np.ndarray, bs: int, leaf: int,
                   tol_scale: float = 1.0):
    n = m.shape[0]
    bm = BlockMatrixFrame.from_numpy(spark, m, bs)
    minv = invmod.inverse(bm, leaf_size=leaf).to_numpy()
    id_err = np.abs(m @ minv - np.eye(n)).max()
    assert id_err < 1e-8 * n * tol_scale, f"identity err {id_err}"
    diff_err = np.abs(minv - np.linalg.inv(m)).max()
    assert diff_err < 1e-6 * tol_scale, f"differential err {diff_err}"


def test_inverse_uniform_two_levels(spark, rng):
    _inverse_check(spark, rng.random((128, 128)), bs=16, leaf=32)


def test_inverse_odd_size(spark, rng):
    # odd n: uneven block split at every level (FIXTURES uniform_1001)
    _inverse_check(spark, rng.random((101, 101)), bs=16, leaf=32)


def test_inverse_diag_closed_form(spark):
    d = np.diag(np.arange(1.0, 65.0))
    bm = BlockMatrixFrame.from_numpy(spark, d, 16)
    minv = invmod.inverse(bm, leaf_size=32).to_numpy()
    assert np.abs(minv - np.diag(1.0 / np.arange(1.0, 65.0))).max() < 1e-12


def test_inverse_orthogonal_closed_form(spark, rng):
    q, _ = np.linalg.qr(rng.standard_normal((64, 64)))
    bm = BlockMatrixFrame.from_numpy(spark, q, 16)
    minv = invmod.inverse(bm, leaf_size=32).to_numpy()
    assert np.abs(minv - q.T).max() < 1e-10


def test_inverse_negative_entries(spark, rng):
    # signed-pivot divergence fixture (FIXTURES negative_256, scaled)
    _inverse_check(spark, rng.uniform(-1, 1, (96, 96)), bs=32, leaf=32)


def test_inverse_pivot_stress(spark, rng):
    # rotated rows force nontrivial pivoting at every level
    m = rng.random((96, 96))
    m = np.roll(m, 37, axis=0)
    _inverse_check(spark, m, bs=32, leaf=32)


@pytest.mark.parametrize(
    "check",
    [
        test_lu_residual_and_structure,
        test_triangular_solves_distributed,
        test_triangular_inverses_distributed,
        test_inverse_uniform_two_levels,
        test_inverse_odd_size,
        test_inverse_negative_entries,
        test_inverse_pivot_stress,
    ],
    ids=lambda f: f.__name__.removeprefix("test_"),
)
def test_executor_placement(spark, rng, check, monkeypatch):
    """The same checks on frames held only on executors: every input
    is pinned with an eager checkpoint, so its blocks live in executor
    storage instead of a driver-built local relation. Where a leaf
    runs and what it returns must not depend on how the input was
    built."""
    build = BlockMatrixFrame.from_numpy
    monkeypatch.setattr(
        BlockMatrixFrame, "from_numpy",
        staticmethod(lambda s, m, bs: build(s, m, bs).checkpoint(eager=True)),
    )
    check(spark, rng)


def test_singular_leaf_on_executors_raises(spark, rng):
    # two equal columns make the first 32x32 leaf singular; the
    # LinAlgError raised inside the task must surface with its message
    m = rng.random((64, 64))
    m[:, 1] = m[:, 0]
    bm = BlockMatrixFrame.from_numpy(spark, m, 16)
    with pytest.raises(Exception, match="singular leaf"):
        invmod.inverse(bm, leaf_size=32).to_numpy()


@pytest.mark.slow
def test_inverse_reference_scale(spark):
    # N=2048: the reference's demonstrated problem size (out/A.* headers)
    rng = np.random.default_rng(45)
    m = rng.random((2048, 2048))
    bm = BlockMatrixFrame.from_numpy(spark, m, 512)
    minv = invmod.inverse(bm, leaf_size=1024).to_numpy()
    assert np.abs(m @ minv - np.eye(2048)).max() < 1e-8 * 2048


def test_auto_block_size_bounds_grid():
    from matrixinversion_spark.matrix.core import auto_block_size, _nblocks

    for n in (512, 2048, 8192, 16384, 100_000):
        bs = auto_block_size(n)
        assert _nblocks(n, bs) <= 8
        assert bs >= 1024 and (bs & (bs - 1)) == 0  # pow2
    assert auto_block_size(2048) == 1024   # small stays default
    assert auto_block_size(16384) == 2048  # 8x8 grid


def test_gemm_k_chunked_matches_plain(spark, rng):
    """Memory-bounded gemm (two-stage partial-product path) must be
    numerically identical in structure to the fused path: same fused
    bias, same alpha, bounded k-panels (BENCH_NOTES r5 failure
    catalog, heap-OOM mitigation)."""
    a = rng.random((96, 96))
    b = rng.random((96, 64))
    c = rng.random((96, 64))
    am = BlockMatrixFrame.from_numpy(spark, a, 32)
    bm = BlockMatrixFrame.from_numpy(spark, b, 32)
    cm = BlockMatrixFrame.from_numpy(spark, c, 32)
    want = c - (a @ b)
    # k=3 panels, chunks of 1 and 2 (2 leaves an uneven tail chunk)
    for kc in (1, 2):
        got = ops.gemm(am, bm, c=cm, alpha=-1.0, k_chunk=kc).to_numpy()
        assert np.abs(got - want).max() < 1e-11
    # bias-only coverage: C wider than A·B contributions is not
    # possible here, but no-bias chunked path must also agree
    got = ops.gemm(am, bm, k_chunk=2).to_numpy()
    assert np.abs(got - a @ b).max() < 1e-11



def _optimized_plan(frame: BlockMatrixFrame) -> list[str]:
    """The optimized logical plan of ``frame``, one node per line,
    tree glyphs stripped (the root first)."""
    plan = frame.df._jdf.queryExecution().optimizedPlan().toString()
    return [line.lstrip(" :+-") for line in plan.splitlines()]


def _pandas_group_keys(plan: list[str]) -> list[list[str]]:
    """The grouping columns of each FlatMapGroupsInPandas node, root
    first, expression ids dropped."""
    return [
        [re.sub(r"#\d+L?$", "", key) for key in m.group(1).split(", ")]
        for m in (re.match(r"FlatMapGroupsInPandas \[([^\]]*)\]", line)
                  for line in plan)
        if m
    ]


def test_gemm_is_one_routed_exchange(spark, rng):
    """gemm with a bias plans as one grouped pandas kernel on
    (bi, bj) over routed blocks: no join, no cogroup."""
    a, b, c = (_bm(spark, rng.random(shape))
               for shape in ((96, 64), (64, 96), (96, 96)))
    plan = _optimized_plan(ops.gemm(a, b, c=c, alpha=-1.0))
    assert not [n for n in plan if "Join" in n or "CoGroup" in n], plan
    assert _pandas_group_keys(plan) == [["bi", "bj"]], plan


def test_gemm_k_chunk_groups_by_chunk_then_merges(spark, rng):
    """gemm(k_chunk=...) groups the routed blocks by (bi, bj, kc) and
    merges the partial blocks by (bi, bj) above that."""
    a, b, c = (_bm(spark, rng.random(shape))
               for shape in ((96, 96), (96, 64), (96, 64)))
    for bias in (None, c):
        plan = _optimized_plan(ops.gemm(a, b, c=bias, k_chunk=1))
        assert not [n for n in plan if "Join" in n or "CoGroup" in n], plan
        assert _pandas_group_keys(plan) == [["bi", "bj"],
                                            ["bi", "bj", "kc"]], plan


@pytest.mark.parametrize("k_chunk", [None, 1])
def test_gemm_emits_only_paired_or_biased_blocks(spark, rng, k_chunk):
    """On block-triangular operands (3x3 grid, zero blocks absent),
    gemm's block keys are exactly the (bi, bj) with a k such that
    A(bi, k) and B(k, bj) are both present, plus C's keys."""
    def blocks(mask: str, drop=()) -> np.ndarray:
        m = assemble(tile(rng.random((96, 96)), 32, mask), 96, 96, 32)
        for bi, bj in drop:
            m[bi * 32:(bi + 1) * 32, bj * 32:(bj + 1) * 32] = 0.0
        return m

    def keys(frame: BlockMatrixFrame) -> set:
        rows = [tuple(r) for r in frame.df.select("bi", "bj").collect()]
        assert len(rows) == len(set(rows)), rows
        return set(rows)

    a, b = blocks("upper", drop=[(1, 2)]), blocks("upper", drop=[(1, 2)])
    c = blocks("full", drop=[(i, j) for i in range(3) for j in range(3)
                             if (i, j) != (2, 0)])
    am, bm, cm = _bm(spark, a), _bm(spark, b), _bm(spark, c)
    paired = {(i, j) for i, k in keys(am) for k2, j in keys(bm) if k == k2}
    # row 1 of A and column 2 of B meet at no k: (1, 2) stays absent
    assert paired == {(0, 0), (0, 1), (0, 2), (1, 1), (2, 2)}
    got = ops.gemm(am, bm, k_chunk=k_chunk)
    assert keys(got) == paired
    assert np.abs(got.to_numpy() - a @ b).max() < 1e-12
    got = ops.gemm(am, bm, c=cm, alpha=-1.0, k_chunk=k_chunk)
    assert keys(got) == paired | {(2, 0)}
    assert np.abs(got.to_numpy() - (c - a @ b)).max() < 1e-12


def _bm(spark, m: np.ndarray) -> BlockMatrixFrame:
    return BlockMatrixFrame.from_numpy(spark, m, 32)


# every BlockMatrixFrame producer: (spark, a) -> its output frames,
# over the 96x96 SPD matrix ``a`` at block size 32
_PRODUCERS = {
    "from_numpy": lambda s, a: [_bm(s, a)],
    "random_uniform": lambda s, a: [
        BlockMatrixFrame.random_uniform(s, 96, block_size=32)
    ],
    "identity": lambda s, a: [BlockMatrixFrame.identity(s, 96, 32)],
    "slice_blocks": lambda s, a: [_bm(s, a).slice_blocks(1, 3, 0, 2)],
    "gemm": lambda s, a: [ops.gemm(_bm(s, a), _bm(s, a))],
    "gemm_bias": lambda s, a: [
        ops.gemm(_bm(s, a), _bm(s, a), c=_bm(s, a), alpha=-1.0)
    ],
    "gemm_k_chunk": lambda s, a: [
        ops.gemm(_bm(s, a), _bm(s, a), c=_bm(s, a), alpha=-1.0, k_chunk=2)
    ],
    "add": lambda s, a: [ops.add(_bm(s, a), _bm(s, np.tril(a)))],
    "subtract": lambda s, a: [ops.subtract(_bm(s, np.triu(a)), _bm(s, a))],
    "scale": lambda s, a: [ops.scale(_bm(s, a), 2.0)],
    "transpose": lambda s, a: [ops.transpose(_bm(s, a))],
    "permute_rows": lambda s, a: [
        ops.permute_rows(_bm(s, a), np.roll(np.arange(96), 37))
    ],
    "leaf_task_one": lambda s, a: ops.leaf_task(
        _bm(s, a), lambda x: (np.linalg.inv(x),), [(96, 96, "full")]
    ),
    "leaf_task_many": lambda s, a: ops.leaf_task(
        _bm(s, a), kernels.lu_factors,
        [(96, 96, "lower"), (96, 96, "upper"), (1, 96, "full")],
    ),
    "lu": lambda s, a: list(lumod.lu(_bm(s, a), leaf_size=32)[1:]),
    "inverse": lambda s, a: [invmod.inverse(_bm(s, a), leaf_size=32)],
    "solve": lambda s, a: [
        invmod.solve(_bm(s, a), _bm(s, a[:, :40]), leaf_size=32)
    ],
    "cholesky": lambda s, a: [cholmod.cholesky(_bm(s, a), leaf_size=32)],
    "tsqr_q": lambda s, a: [qrmod.tsqr(_bm(s, a[:, :16]))[0]],
}


@pytest.mark.parametrize("producer", list(_PRODUCERS))
def test_block_keys_unique(spark, rng, producer):
    """Every producer emits at most one row per (bi, bj) — the
    precondition ops._block_sum's one bias block per key relies on."""
    m = rng.random((96, 96))
    a = m @ m.T + 96 * np.eye(96)  # SPD, for cholesky
    for frame in _PRODUCERS[producer](spark, a):
        keys = [tuple(r) for r in frame.df.select("bi", "bj").collect()]
        assert keys and len(keys) == len(set(keys)), (producer, keys)


def test_block_sum_rejects_duplicate_bias_keys():
    """A gemm bias with two blocks at one (bi, bj) raises instead of
    silently dropping the second."""
    eye = np.eye(3)
    with pytest.raises(ValueError, match="unique"):
        ops._block_sum(iter([]), bias=encode_blocks([(0, 0, eye),
                                                     (0, 0, eye)]))


def test_matvec_matches_numpy(spark, rng):
    """ops.matvec == numpy A·x on a ragged grid, on a grid whose
    whole zero blocks from_numpy drops, and on that frame spread over
    more partitions, so one block row's partial sums come from
    several tasks."""
    a = rng.random((70, 70))
    x = rng.random(70)
    got = ops.matvec(BlockMatrixFrame.from_numpy(spark, a, 32), x)
    assert got.shape == (70,)
    assert np.abs(got - a @ x).max() < 1e-12

    a = rng.random((96, 96))
    a[:32, 32:64] = 0.0
    a[64:, :32] = 0.0
    x = rng.random((96, 1))
    m = BlockMatrixFrame.from_numpy(spark, a, 32)
    assert m.df.count() == 7
    want = (a @ x)[:, 0]
    assert np.abs(ops.matvec(m, x) - want).max() < 1e-12
    spread = BlockMatrixFrame(m.df.repartition(5), 96, 96, 32)
    split = spread.df.select("bi", F.spark_partition_id().alias("p"))
    assert split.distinct().count() > split.select("bi").distinct().count()
    assert np.abs(ops.matvec(spread, x) - want).max() < 1e-12


def test_solvers_reject_bad_shapes_before_any_job(spark, rng):
    """A non-square A, a wrong-length b or x raises ValueError naming
    both shapes, and no Spark job runs first."""
    from matrixinversion_spark.matrix.cg import bicgstab_solve, cg_solve

    a = _bm(spark, rng.random((64, 64)) + 64 * np.eye(64))
    short_b = _bm(spark, rng.random((32, 1)))
    wide = _bm(spark, rng.random((64, 32)))
    b = _bm(spark, rng.random((64, 1)))
    sc = spark.sparkContext
    sc.setJobGroup("bad-shapes", "solver shape checks")
    try:
        for solve in (cg_solve, bicgstab_solve):
            with pytest.raises(ValueError, match="64x64.*32x1"):
                solve(a, short_b)
        with pytest.raises(ValueError, match="64x32.*64x1"):
            cg_solve(wide, b)
        with pytest.raises(ValueError, match=r"64x64.*\(63,\)"):
            ops.matvec(a, np.ones(63))
        assert sc.statusTracker().getJobIdsForGroup("bad-shapes") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
