"""BlockMatrixFrame: a DataFrame-native distributed dense matrix.

The reference stores matrices as a recursive HDFS tree of extent-
headered binary block files (SURVEY.md §1.1, `Partition.java`,
`save_matrix` at `LUDecomposition.java:388-408`). Here the same idea
is one explicit-schema DataFrame:

    (bi INT, bj INT, rows INT, cols INT, data ARRAY<DOUBLE>)

- ``(bi, bj)`` are block-grid coordinates (the reference's extent
  header, normalized); ``data`` is the row-major dense payload.
- Zero blocks are simply absent — triangular factors carry ~half the
  blocks, and every operator treats a missing block as zeros (the
  join/aggregation algebra does this for free).
- Lineage and ``persist()`` replace the reference's HDFS side-channel
  re-reads (`Read_LU.java`); a shuffle on block coordinates, sized
  from the block grid, replaces its hand-rolled partitioner
  (`MyPartitioner`, `LUDecomposition.java:653-659`).
- Every frame lives in the matrix session of its SparkContext
  (``session.matrix_session``: AQE off). The constructors build their
  DataFrame there, every op derives from ``df`` and stays there, and
  a DataFrame built in a caller's session enters through one seam,
  ``BlockMatrixFrame.from_blocks``. The caller's conf never governs a
  matrix plan, and a lazy ``checkpoint`` runs no job.

The layout is known in this module alone. Python code reads and
writes blocks through its codec — ``decode_blocks`` (block-schema
pandas rows → ``(bi, bj, ndarray)``), ``block_array`` (the one
reshape of a ``data`` cell), ``encode_blocks`` (the reverse),
``tile`` (ndarray → blocks) and ``assemble`` (blocks → ndarray) —
and JVM expressions read a diagonal block's diagonal through
``block_diagonal``. Changing the payload type is a change to these
functions only.

Scale: a 1e6×1e6 float64 matrix at block_size=1024 is ~1M blocks of
8 MB — comfortable partition granularity for a 1000-executor cluster,
and the (bi, bj) key is perfectly uniform so block shuffles never skew.
"""

from __future__ import annotations

import uuid
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from matrixinversion_spark.session import matrix_session

BLOCK_SCHEMA = "bi int, bj int, rows int, cols int, data array<double>"
BLOCK_COLUMNS = ["bi", "bj", "rows", "cols", "data"]
DEFAULT_BLOCK_SIZE = 1024
# payload bytes per partition of a data-sized frame (data_partitions)
PARTITION_BYTES = 64 * 1024 * 1024

Block = tuple[int, int, np.ndarray]


def _nblocks(n: int, bs: int) -> int:
    return (n + bs - 1) // bs


def data_partitions(n_rows: int, n_cols: int, bs: int) -> int:
    """Partitions for the blocks of an n_rows×n_cols matrix, sized by
    payload: one per ``PARTITION_BYTES`` of dense payload, at most one
    per block, at least one."""
    nbytes = 8 * n_rows * n_cols
    return max(1, min(_nblocks(n_rows, bs) * _nblocks(n_cols, bs),
                      -(-nbytes // PARTITION_BYTES)))


# -- block codec: the one place the payload layout is known -----------

def block_array(data, rows: int, cols: int) -> np.ndarray:
    """A ``data`` cell as its rows×cols ndarray (row-major)."""
    return np.asarray(data, dtype=np.float64).reshape(int(rows), int(cols))


def decode_blocks(pdf: pd.DataFrame) -> Iterator[Block]:
    """(bi, bj, ndarray) per row of a pandas frame with the block
    columns (other columns are ignored)."""
    for bi, bj, r, c, d in zip(
        pdf["bi"], pdf["bj"], pdf["rows"], pdf["cols"], pdf["data"]
    ):
        yield int(bi), int(bj), block_array(d, r, c)


def encode_blocks(blocks: Iterable[Block]) -> pd.DataFrame:
    """Block-schema pandas frame from (bi, bj, ndarray) blocks. The
    payloads stay ndarrays: Arrow ships them unboxed."""
    return pd.DataFrame(
        [(int(bi), int(bj), blk.shape[0], blk.shape[1], blk.ravel())
         for bi, bj, blk in blocks],
        columns=BLOCK_COLUMNS,
    )


def tile(a: np.ndarray, bs: int, mask: str = "full",
         keep_zeros: bool = True) -> Iterator[Block]:
    """Split ``a`` into bs×bs blocks (ragged at the edges). ``mask``
    names the blocks kept: ``"full"``, ``"lower"`` (bi ≥ bj) or
    ``"upper"`` (bi ≤ bj); ``keep_zeros=False`` drops all-zero
    blocks."""
    for bi in range(_nblocks(a.shape[0], bs)):
        for bj in range(_nblocks(a.shape[1], bs)):
            if mask == "lower" and bj > bi or mask == "upper" and bi > bj:
                continue
            blk = a[bi * bs:(bi + 1) * bs, bj * bs:(bj + 1) * bs]
            if keep_zeros or blk.any():
                yield bi, bj, blk


def assemble(blocks: Iterable[Block], n_rows: int, n_cols: int,
             bs: int) -> np.ndarray:
    """The n_rows×n_cols ndarray of ``blocks``; absent blocks are
    zeros."""
    out = np.zeros((n_rows, n_cols))
    for bi, bj, blk in blocks:
        out[bi * bs:bi * bs + blk.shape[0],
            bj * bs:bj * bs + blk.shape[1]] = blk
    return out


def block_diagonal() -> Column:
    """The diagonal of a square block's payload as an array column:
    entry i sits at row-major offset i·(cols + 1). Select it before
    re-aliasing ``rows`` or ``cols``: inside its lambda, a sibling
    alias in the same ``select`` (lateral column alias) wins over the
    input column."""
    return F.transform(
        F.sequence(F.lit(0), F.col("rows") - 1),
        lambda i: F.element_at("data", i * (F.col("cols") + 1) + 1),
    )


def auto_block_size(n: int, max_grid: int = 8) -> int:
    """Block size that keeps the block grid at most ``max_grid`` per
    dimension (power-of-two, ≥ DEFAULT_BLOCK_SIZE).

    The routed gemm sends each side once per opposite grid
    dimension (see ops.gemm), so shuffle volume grows linearly with
    the grid — a matrix should therefore use the LARGEST block its
    tasks can hold, not a fixed 1024. max_grid=8 bounds gemm shuffle
    at 16× the matrix bytes while still giving 8×8=64-way
    parallelism per multiply; raise it on clusters with more
    executors than that (grid ≈ √cores is the SUMMA-style balance
    point between parallelism and replication).
    """
    bs = DEFAULT_BLOCK_SIZE
    while _nblocks(n, bs) > max_grid:
        bs *= 2
    return bs


@dataclass(frozen=True)
class BlockMatrixFrame:
    """A dense distributed matrix as a DataFrame of blocks: the
    DataFrame, its shape and block size, and the caches it retains.
    The data lives only in the DataFrame, so every consumer (leaf
    tasks included) runs the same plan however the frame was built.
    """

    df: DataFrame
    n_rows: int
    n_cols: int
    block_size: int
    # Intermediate DataFrames persisted while BUILDING this frame
    # (recursion levels, leaf task outputs). The producer appends
    # them; ``release()`` unpersists them once the result has been
    # materialized, so repeated factorizations in one session do not
    # accrete cached blocks until eviction pressure degrades the
    # executors. ``to_numpy`` releases automatically.
    retained: list = field(
        default_factory=list, compare=False, repr=False
    )

    @property
    def nbi(self) -> int:
        return _nblocks(self.n_rows, self.block_size)

    @property
    def nbj(self) -> int:
        return _nblocks(self.n_cols, self.block_size)

    # -- construction -------------------------------------------------

    @staticmethod
    def from_numpy(spark: SparkSession, a: np.ndarray,
                   block_size: int = DEFAULT_BLOCK_SIZE,
                   keep_zeros: bool = False) -> "BlockMatrixFrame":
        """Driver-side ingest (tests/leaves); zero blocks dropped.
        The frame has ``data_partitions`` partitions, not one per
        core: a matvec costs one Python task per partition."""
        a = np.asarray(a, dtype=np.float64)
        n, m = a.shape
        # A pyarrow.Table always goes through Arrow, whatever the
        # session's Arrow conf: the ndarray payloads ship unboxed (a
        # leaf factor is ~8 MB; boxing each cell into a Python float
        # was the driver bottleneck).
        pdf = encode_blocks(tile(a, block_size, keep_zeros=keep_zeros))
        df = matrix_session(spark).createDataFrame(
            pa.Table.from_pandas(pdf, preserve_index=False),
            schema=BLOCK_SCHEMA,
        )
        df = df.coalesce(data_partitions(n, m, block_size))
        return BlockMatrixFrame(df, n, m, block_size)

    @staticmethod
    def from_blocks(df: DataFrame, n_rows: int, n_cols: int,
                    block_size: int) -> "BlockMatrixFrame":
        """A frame over a block-schema DataFrame ``df`` built in any
        session — the one seam between a caller's plan and the matrix
        session. ``df`` runs once, in its own session (one eager local
        checkpoint), so its relational work keeps the caller's conf,
        AQE included; the blocks then enter the matrix session
        through a global temp view, dropped once read. Classic
        PySpark would run a mixed-session plan under one session's
        conf, and Spark Connect forbids one."""
        ms = matrix_session(df.sparkSession)
        if df.sparkSession is not ms:
            view = f"matrix_{uuid.uuid4().hex}"
            df.localCheckpoint(eager=True).createGlobalTempView(view)
            df = ms.table(f"global_temp.{view}")
            ms.catalog.dropGlobalTempView(view)
        return BlockMatrixFrame(df, n_rows, n_cols, block_size)

    @staticmethod
    def random_uniform(spark: SparkSession, n: int, m: int | None = None,
                       block_size: int = DEFAULT_BLOCK_SIZE,
                       seed: int = 42) -> "BlockMatrixFrame":
        """Distributed seeded uniform(0,1) matrix (reference O1,
        `data/MakeData.java:9-33` — but reproducible: block (bi, bj)
        holds ``default_rng(SeedSequence([seed, bi, bj])).random(r*c)``
        in row-major order, independent of partitioning)."""
        m = n if m is None else m
        bs = block_size
        nbi, nbj = _nblocks(n, bs), _nblocks(m, bs)

        grid = matrix_session(spark).range(nbi * nbj).select(
            (F.col("id") / nbj).cast("int").alias("bi"),
            (F.col("id") % nbj).cast("int").alias("bj"),
        )

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                blocks = []
                for bi, bj in zip(pdf["bi"], pdf["bj"]):
                    bi, bj = int(bi), int(bj)
                    rng = np.random.default_rng(
                        np.random.SeedSequence([seed, bi, bj])
                    )
                    shape = (min(bs, n - bi * bs), min(bs, m - bj * bs))
                    blocks.append((bi, bj, rng.random(shape)))
                yield encode_blocks(blocks)

        df = grid.repartition(min(nbi * nbj, 64)).mapInPandas(
            gen, schema=BLOCK_SCHEMA
        )
        return BlockMatrixFrame(df, n, m, bs)

    @staticmethod
    def identity(spark: SparkSession, n: int,
                 block_size: int = DEFAULT_BLOCK_SIZE) -> "BlockMatrixFrame":
        """Identity matrix — diagonal blocks only."""
        bs = block_size

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                yield encode_blocks(
                    (bi, bi, np.eye(min(bs, n - int(bi) * bs)))
                    for bi in pdf["bi"]
                )

        grid = matrix_session(spark).range(_nblocks(n, bs)).select(
            F.col("id").cast("int").alias("bi")
        )
        df = grid.mapInPandas(gen, schema=BLOCK_SCHEMA)
        return BlockMatrixFrame(df, n, n, bs)

    # -- materialization ----------------------------------------------

    def to_numpy(self) -> np.ndarray:
        """Collect to a driver ndarray (leaves/tests only — bounded by
        leaf_size in the recursion, same shape as the reference's
        driver-local leaf solve)."""
        pdf = self.df.toPandas()  # Arrow path: cells arrive as ndarrays
        out = assemble(decode_blocks(pdf), self.n_rows, self.n_cols,
                       self.block_size)
        # the collect above IS the materialization point: the owned
        # intermediate caches have served their purpose (re-collecting
        # simply recomputes through checkpointed lineage)
        self.release()
        return out

    def persist(self) -> "BlockMatrixFrame":
        self.df.persist()
        return self

    def unpersist(self) -> "BlockMatrixFrame":
        self.df.unpersist()
        return self

    def release(self) -> "BlockMatrixFrame":
        """Unpersist every intermediate frame this result owns (see
        ``retained``). Call after the final action when materializing
        through a path other than ``to_numpy`` (e.g. a parquet write)
        — safe to call repeatedly, and safe before the action too
        (the plan recomputes, just without the cache)."""
        for d in self.retained:
            try:
                d.unpersist()
            except Exception:
                pass  # stopped session — nothing left to free
        self.retained.clear()
        return self

    def checkpoint(self, eager: bool = False) -> "BlockMatrixFrame":
        """The same matrix with its lineage truncated
        (``localCheckpoint``); ``retained`` rides along. Recursive
        plans otherwise grow without bound — per recursion level in LU
        and Cholesky (the reference materializes each level on HDFS
        instead) — and a matrix read by every step of an iterative
        loop is pinned once.

        ``eager=True`` materializes now, in its own job — right for a
        frame the next step reads at once. The lazy default defers
        materialization to the frame's first consumer, saving that job
        for a frame nothing reads until later."""
        return BlockMatrixFrame(
            self.df.localCheckpoint(eager=eager), self.n_rows,
            self.n_cols, self.block_size, retained=self.retained,
        )

    # -- block-coordinate slicing (metadata-only, Catalyst prunes) ----

    def slice_blocks(self, bi0: int, bi1: int, bj0: int, bj1: int
                     ) -> "BlockMatrixFrame":
        """Sub-matrix [bi0,bi1)×[bj0,bj1) in *block* coordinates,
        reindexed to origin. The reference materializes these slices
        as directory trees (`Partition.java:61-157`); here it is a
        filter + projection — no data movement at all."""
        bs = self.block_size
        df = (
            self.df.filter(
                (F.col("bi") >= bi0) & (F.col("bi") < bi1)
                & (F.col("bj") >= bj0) & (F.col("bj") < bj1)
            )
            .select(
                (F.col("bi") - bi0).alias("bi"),
                (F.col("bj") - bj0).alias("bj"),
                "rows", "cols", "data",
            )
        )
        n_rows = min(self.n_rows, bi1 * bs) - bi0 * bs
        n_cols = min(self.n_cols, bj1 * bs) - bj0 * bs
        return BlockMatrixFrame(df, n_rows, n_cols, bs)

    def shift(self, dbi: int, dbj: int) -> DataFrame:
        """Block-index translation (for assembling larger matrices)."""
        return self.df.select(
            (F.col("bi") + dbi).alias("bi"),
            (F.col("bj") + dbj).alias("bj"),
            "rows", "cols", "data",
        )
