"""Distributed block-matrix operators: multiply, add/subtract,
transpose, matrix-vector product, row permutation, residual norms,
and the leaf task.

Reference analogues (SURVEY.md §2.1): the Schur-complement reducer's
grid matmul + subtract (O11, `LUDecomposition.java:495-651`), the
final U⁻¹·L⁻¹ multiply (O17, `LUInverse.java:169-389`), and the pivot
application at read time (P12, `Read_LU.java:66-92,129-132`).

Physical shapes, 100 TB honest:

- ``multiply``/``gemm`` — one routed exchange of ``nbj·|A| +
  nbi·|B| + |C|`` bytes on the uniform (bi,bj) key, then one grouped
  numpy kernel that pairs blocks by k (dgemm per block pair — the
  dense kernel *is* the payload, at ~8 MB Arrow batches);
  ``k_chunk`` adds a kc group key and one (bi,bj) merge. The
  reference hand-routes the same dataflow through HDFS files + a
  task-number partitioner.
- ``add``/``subtract`` — full-outer join on (bi,bj) + JVM ``zip_with``;
  absent blocks are zeros. No Python.
- ``transpose`` — per-block numpy transpose + (bi,bj) swap; block
  remap only, no shuffle (narrow dependency).
- ``matvec`` — A·x for a driver-held vector x: x is broadcast, each
  task sums its blocks' products per block row, the driver adds the
  partial rows. One narrow job, no shuffle; the iterative solvers'
  only distributed step.
- ``permute_rows`` — the pivot gather: a driver-built (tiny) block
  routing table joined to the blocks, then per-output-block row
  assembly. Replaces the reference's recursive pivot composition and
  read-time row indirection.
- ``leaf_task`` — every recursion leaf's dense numpy work (leaf LU,
  triangular inversion): one executor task for the whole leaf.

Every Python kernel here reads and writes blocks through the codec
in ``core`` (``decode_blocks``/``encode_blocks``, ``tile``/
``assemble``); none knows the payload layout itself.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from matrixinversion_spark.matrix.core import (
    BLOCK_COLUMNS, BLOCK_SCHEMA, BlockMatrixFrame, assemble, decode_blocks,
    encode_blocks, tile,
)


# the ``side`` tag of a routed gemm row: A panel, B panel, or bias
_A, _B, _C = 0, 1, 2


def multiply(a: BlockMatrixFrame, b: BlockMatrixFrame) -> BlockMatrixFrame:
    """C = A·B: ``gemm`` without a bias, one routed exchange."""
    return gemm(a, b)


def gemm(a: BlockMatrixFrame, b: BlockMatrixFrame,
         c: BlockMatrixFrame | None = None,
         alpha: float = 1.0,
         k_chunk: int | None = None) -> BlockMatrixFrame:
    """Fused C + α·(A·B) (C optional, absent blocks = zeros).

    One routed exchange, as the reference routes its Schur reducer
    (O11, `LUDecomposition.java:495-659`): each A(i,k) goes to every
    output (i,j), each B(k,j) to every (i,j), each C(i,j) as is.
    Grouped on (bi, bj), one numpy kernel pairs A and B blocks by k
    (in k order) and adds α·A·B into the bias; a group with no
    k-pair and no bias emits nothing. S = A4 − L2·U2 is
    ``gemm(l2, u2, c=a4, alpha=-1)``, with no separate subtract.

    Shuffle volume: ``nbj(B)·|A| + nbi(A)·|B| + |C|`` bytes, linear in
    the GRID dimension, not the matrix. Pick the block size so the
    grid stays O(√cores) (``core.auto_block_size``); a 16384² float64
    matrix at bs=1024 is a 16×16 grid and 64 GB of shuffle per
    multiply, at bs=2048 half that (measured — the bs=1024 point
    exhausted an 80 GB spill disk; see BENCH_NOTES "N=16384").

    Per-task memory: each output task holds its whole k-panel,
    ``(2k+1)·bs²·8`` bytes (544 MB at k=8, bs=2048) — the bound that
    OOM'd the 64 GB local[32] heap at N=16384 (BENCH_NOTES r5
    failure catalog; the Spark analogue of the reference's ~800 MB
    strip budget, `LUInverse.java:73-75`). ``k_chunk`` caps it: the
    exchange also groups on ``kc = floor(k / k_chunk)``, so a task
    holds ``2·k_chunk`` panel blocks, and a second, (bi, bj) exchange
    sums the partial blocks (``ceil(k/k_chunk) + 1`` per output with
    a bias). Use it when ``(2k+1)·bs²·8`` approaches per-core
    executor memory — the inverse() pipeline leaves it off because
    auto_block_size caps k ≤ 8.
    """
    if a.n_cols != b.n_rows or a.block_size != b.block_size:
        raise ValueError(
            f"shape mismatch: {a.n_rows}x{a.n_cols} @ {b.n_rows}x{b.n_cols} "
            f"(block {a.block_size} vs {b.block_size})"
        )
    if c is not None and (c.n_rows, c.n_cols) != (a.n_rows, b.n_cols):
        raise ValueError("bias shape mismatch in gemm")
    if k_chunk is not None and k_chunk < 1:
        raise ValueError("k_chunk must be >= 1")

    def route(m: BlockMatrixFrame, side: int, bi: str, bj: str,
              k: str) -> DataFrame:
        # SQL strings: one py4j call per column where Column objects
        # take several — driver plan-building time for every gemm
        return m.df.selectExpr(f"{bi} AS bi", f"{bj} AS bj", f"{k} AS k",
                               f"{side} AS side", "rows", "cols", "data")

    def fan(n: int) -> str:
        return f"explode(sequence(0, {n - 1}))"

    routed = route(a, _A, "bi", fan(b.nbj), "bj").union(
        route(b, _B, fan(a.nbi), "bj", "bi"))
    if c is not None:
        routed = routed.union(route(c, _C, "bi", "bj", "CAST(NULL AS INT)"))
    keys = ["bi", "bj"]
    if k_chunk is not None:
        # the bias (k null) is its own kc group, summed in the merge
        routed = routed.withColumn("kc", F.floor(F.col("k") / k_chunk))
        keys.append("kc")

    def pair_sum(pdf: pd.DataFrame) -> pd.DataFrame:
        side = pdf["side"]
        a_k, b_k = (
            {int(k): blk for k, (_, _, blk)
             in zip(pdf["k"][side == s], decode_blocks(pdf[side == s]))}
            for s in (_A, _B)
        )
        bias = pdf[side == _C]
        ks = sorted(a_k.keys() & b_k.keys())
        if not ks and bias.empty:
            return encode_blocks([])
        bi, bj = int(pdf["bi"].iloc[0]), int(pdf["bj"].iloc[0])
        return _block_sum(
            ((bi, bj, alpha * (a_k[k] @ b_k[k])) for k in ks), bias)

    out = routed.groupBy(*keys).applyInPandas(pair_sum, BLOCK_SCHEMA)
    if k_chunk is not None:
        out = out.groupBy("bi", "bj").applyInPandas(
            lambda pdf: _block_sum(decode_blocks(pdf)), BLOCK_SCHEMA)
    return BlockMatrixFrame(out, a.n_rows, b.n_cols, a.block_size)


def _block_sum(terms: Iterator[tuple],
               bias: pd.DataFrame | None = None) -> pd.DataFrame:
    """One output block: the optional bias block plus every
    (bi, bj, ndarray) term — the accumulator of both gemm stages."""
    acc: np.ndarray | None = None
    bi = bj = None
    if bias is not None and len(bias) > 1:
        raise ValueError(
            f"gemm bias has {len(bias)} blocks at one (bi, bj); "
            "block keys must be unique"
        )
    if bias is not None and len(bias):
        bi, bj, acc = next(decode_blocks(bias))
    for bi, bj, p in terms:
        acc = p if acc is None else acc + p
    return encode_blocks([(bi, bj, acc)])


def _axpy(a: BlockMatrixFrame, b: BlockMatrixFrame,
          beta: float) -> BlockMatrixFrame:
    """A + beta·B with absent-block = zeros (full outer join)."""
    if (a.n_rows, a.n_cols) != (b.n_rows, b.n_cols):
        raise ValueError("shape mismatch in add/subtract")
    la = a.df.select(
        "bi", "bj", F.col("rows").alias("a_rows"),
        F.col("cols").alias("a_cols"), F.col("data").alias("a_data"),
    )
    rb = b.df.select(
        "bi", "bj", F.col("rows").alias("b_rows"),
        F.col("cols").alias("b_cols"), F.col("data").alias("b_data"),
    )
    joined = la.join(rb, ["bi", "bj"], "full_outer")
    rows = F.coalesce("a_rows", "b_rows")
    cols = F.coalesce("a_cols", "b_cols")
    zeros = F.array_repeat(F.lit(0.0), rows * cols)
    data = F.zip_with(
        F.coalesce("a_data", zeros),
        F.coalesce("b_data", zeros),
        lambda x, y: x + F.lit(beta) * y,
    )
    out = joined.select(
        "bi", "bj", rows.alias("rows"), cols.alias("cols"),
        data.alias("data"),
    )
    return BlockMatrixFrame(out, a.n_rows, a.n_cols, a.block_size)


def matvec(a: BlockMatrixFrame, x: np.ndarray) -> np.ndarray:
    """A·x as a driver ndarray of length ``a.n_rows``, for a driver
    vector ``x`` of length ``a.n_cols`` (flat or a column). One narrow
    job over ``a.df`` whatever its partitioning; absent blocks are
    zeros."""
    x = np.asarray(x, dtype=np.float64)
    if x.shape not in ((a.n_cols,), (a.n_cols, 1)):
        raise ValueError(
            f"shape mismatch: {a.n_rows}x{a.n_cols} @ vector of shape "
            f"{x.shape}"
        )
    bs = a.block_size
    bx = a.df.sparkSession.sparkContext.broadcast(x.ravel())

    def partial_rows(batches: Iterator[pd.DataFrame]
                     ) -> Iterator[pd.DataFrame]:
        xv = bx.value
        acc: dict[int, np.ndarray] = {}
        for pdf in batches:
            for bi, bj, blk in decode_blocks(pdf):
                y = blk @ xv[bj * bs:bj * bs + blk.shape[1]]
                acc[bi] = acc[bi] + y if bi in acc else y
        if acc:
            yield pd.DataFrame({"bi": list(acc), "y": list(acc.values())})

    try:
        rows = a.df.mapInPandas(
            partial_rows, "bi int, y array<double>"
        ).collect()
    finally:
        bx.destroy()
    out = np.zeros(a.n_rows)
    for bi, y in rows:
        out[bi * bs:bi * bs + len(y)] += y
    return out


def add(a: BlockMatrixFrame, b: BlockMatrixFrame) -> BlockMatrixFrame:
    return _axpy(a, b, 1.0)


def subtract(a: BlockMatrixFrame, b: BlockMatrixFrame) -> BlockMatrixFrame:
    """A − B (the Schur complement's subtract, O11)."""
    return _axpy(a, b, -1.0)


def scale(a: BlockMatrixFrame, alpha: float) -> BlockMatrixFrame:
    out = a.df.withColumn(
        "data", F.transform("data", lambda x: x * F.lit(alpha))
    )
    return BlockMatrixFrame(out, a.n_rows, a.n_cols, a.block_size)


def transpose(a: BlockMatrixFrame) -> BlockMatrixFrame:
    """Aᵀ: swap block coords, transpose payloads (narrow, no shuffle).

    The reference stores U column-major on disk for this reason
    (`LUDecomposition.java:129-139`); here it's a cheap map."""

    def tr(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield encode_blocks(
                (bj, bi, blk.T) for bi, bj, blk in decode_blocks(pdf)
            )

    out = a.df.mapInPandas(tr, BLOCK_SCHEMA)
    return BlockMatrixFrame(out, a.n_cols, a.n_rows, a.block_size)


def permute_rows(a: BlockMatrixFrame, perm: np.ndarray) -> BlockMatrixFrame:
    """Return M with M[i, :] = A[perm[i], :].

    The permutation vector lives on the driver and ships to executors
    in task closures (N int64s — 8 MB at N=1e6; the reference
    likewise keeps pivot vectors as driver-side index files,
    `index.txt`, composed recursively in `Read_LU.java:66-92`).
    Routing: a tiny (out-block → src-block) table built from ``perm``
    drives the join, so each output block touches only the source
    blocks it actually draws rows from.
    """
    perm = np.asarray(perm, dtype=np.int64)
    if perm.shape[0] != a.n_rows:
        raise ValueError("permutation length != n_rows")
    bs = a.block_size
    spark = a.df.sparkSession

    # (bi_out, bi_src) routing pairs — driver-side, O(nbi · sources)
    pairs = sorted(
        {
            (int(i // bs), int(p // bs))
            for i, p in enumerate(perm)
        }
    )
    routing = spark.createDataFrame(pairs, "bi_out int, bi int")

    joined = a.df.join(F.broadcast(routing), "bi")

    def gather(pdf: pd.DataFrame) -> pd.DataFrame:
        bi_out = int(pdf["bi_out"].iloc[0])
        bj = int(pdf["bj"].iloc[0])
        cols = int(pdf["cols"].iloc[0])
        r0 = bi_out * bs
        r1 = min(r0 + bs, perm.shape[0])
        out = np.zeros((r1 - r0, cols))
        for bi_src, _, blk in decode_blocks(pdf):
            src0 = bi_src * bs
            for local_i, global_i in enumerate(range(r0, r1)):
                src = perm[global_i]
                if src0 <= src < src0 + blk.shape[0]:
                    out[local_i] = blk[src - src0]
        return encode_blocks([(bi_out, bj, out)])

    out = joined.groupBy("bi_out", "bj").applyInPandas(
        gather, BLOCK_SCHEMA
    )
    return BlockMatrixFrame(out, a.n_rows, a.n_cols, bs)


def max_abs_diff_from_identity(a: BlockMatrixFrame) -> float:
    """max|A − I|∞ — the correctness functional ‖A·A⁻¹ − I‖ from
    SURVEY.md §5 (property-based goldens)."""

    # NB: capture only scalars — closing over `a` itself would drag the
    # DataFrame/SparkSession into the pickled task closure.
    def err(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals = []
            for bi, bj, blk in decode_blocks(pdf):
                if bi == bj:
                    blk = blk - np.eye(*blk.shape)
                vals.append(float(np.abs(blk).max()))
            yield pd.DataFrame({"e": vals or [0.0]})

    row = (
        a.df.mapInPandas(err, "e double")
        .agg(F.max("e").alias("max_err"))
        .collect()[0]
    )
    return float(row.max_err)


def max_abs_diff(a: BlockMatrixFrame, b: BlockMatrixFrame) -> float:
    """max|A − B|∞ distributed."""
    d = subtract(a, b)
    row = (
        d.df.select(
            F.aggregate(
                F.transform("data", lambda x: F.abs(x)),
                F.lit(0.0),
                lambda acc, x: F.greatest(acc, x),
            ).alias("e")
        )
        .agg(F.max("e").alias("max_err"))
        .collect()[0]
    )
    return float(row.max_err if row.max_err is not None else 0.0)


def leaf_task(a: BlockMatrixFrame,
              kernel: Callable[[np.ndarray], Sequence[np.ndarray]],
              outputs: Sequence[tuple[int, int, str]],
              retained: list | None = None) -> list[BlockMatrixFrame]:
    """Run a numpy ``kernel`` on the whole leaf-sized matrix ``a`` and
    return one BlockMatrixFrame per declared output — the one place
    a recursion leaf's dense work runs (leaf LU O9/O12, triangular
    inversion O16; the triangular-solve leaves of O10 multiply by an
    inverted leaf).

    ``kernel`` maps the assembled ndarray to one array per output.
    Each output is ``(n_rows, n_cols, mask)``; the mask names the
    blocks it may hold: ``"full"``, ``"lower"`` (bi ≥ bj) or
    ``"upper"`` (bi ≤ bj) — the strict triangles' zero blocks are
    never materialized.

    Placement: the blocks shuffle to ONE executor task, as the
    reference factors and inverts its leaves in task JVMs
    (`LUDecomposition.java:686-699`, `LUInverse.java:88-167`),
    however ``a`` was built. The driver round-trip
    (collect → kernel → createDataFrame) measurably loses: the
    collect moves a leaf through Arrow while sibling jobs run, and
    driver-thread BLAS contends with every executor thread for cores
    — driver leaf kernels were 63 s of a 99 s N=4096 inverse
    (BENCH_NOTES round 5). The task costs one leaf-sized shuffle but
    runs the BLAS in a scheduled core slot. With several outputs the
    task tags each block with its output's index and its result is
    persisted once (and appended to ``retained``); each output is a
    tag filter over it. A kernel error — a singular leaf — raises in
    the task and surfaces, message intact, as the Spark job failure.
    """
    bs = a.block_size
    n, m = a.n_rows, a.n_cols
    tagged = len(outputs) > 1

    def task(pdf: pd.DataFrame) -> pd.DataFrame:
        x = assemble(decode_blocks(pdf), n, m, bs)
        pdf = pd.concat(
            [encode_blocks(tile(y, bs, mask)).assign(tag=tag)
             for tag, (y, (_, _, mask)) in enumerate(zip(kernel(x), outputs))],
            ignore_index=True,
        )
        return pdf if tagged else pdf[BLOCK_COLUMNS]

    # a named constant column, not groupBy(lit(1)) — Spark resolves a
    # bare integer literal in groupBy as a GROUP BY ordinal
    df = (
        a.df.withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandas(task, f"tag int, {BLOCK_SCHEMA}" if tagged
                       else BLOCK_SCHEMA)
    )
    if not tagged:
        rows, cols, _ = outputs[0]
        return [BlockMatrixFrame(df, rows, cols, bs)]
    df = df.persist()
    if retained is not None:
        retained.append(df)
    return [
        BlockMatrixFrame(df.filter(F.col("tag") == i).select(*BLOCK_COLUMNS),
                         rows, cols, bs)
        for i, (rows, cols, _) in enumerate(outputs)
    ]
