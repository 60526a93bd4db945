"""Driver-contract entries for the linear-algebra layer.

``la_matmul_coo`` is fully oracle-checked: a deterministic matrix is
derived from the lineitem table, multiplied by its transpose with the
distributed BlockMatrixFrame pipeline, and compared against a DuckDB
COO self-join matmul. The LU / inverse entries are self-verifying
residual checks (no SQL oracle can invert a matrix — the driver
records them as rows-only; pytest asserts the numerical properties).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matrixinversion_spark.matrix import inverse as invmod
from matrixinversion_spark.matrix import lu as lumod
from matrixinversion_spark.matrix import ops
from matrixinversion_spark.matrix.core import (
    BLOCK_SCHEMA, BlockMatrixFrame, decode_blocks, encode_blocks,
)
from matrixinversion_spark.registry import query
from matrixinversion_spark.session import read_table

_DIM = 64  # derived-matrix edge; one 64×64 block


def _lineitem_coo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 64×64 matrix from lineitem as COO rows (i, j, v):
    M[i,j] = round(Σ l_quantity, 6) over (l_partkey%64, l_suppkey%64)."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            (F.col("l_partkey") % _DIM).cast("int").alias("i"),
            (F.col("l_suppkey") % _DIM).cast("int").alias("j"),
        )
        .agg(F.round(F.sum("l_quantity"), 6).alias("v"))
    )


def _lineitem_matrix(spark: SparkSession, sf_dir: str) -> BlockMatrixFrame:
    """:func:`_lineitem_coo` as one 64×64 block."""

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        blk = np.zeros((_DIM, _DIM))
        blk[pdf["i"].to_numpy(), pdf["j"].to_numpy()] = pdf["v"].to_numpy()
        return encode_blocks([(0, 0, blk)])

    df = (
        _lineitem_coo(spark, sf_dir).withColumn("bi", F.lit(0))
        .groupBy("bi").applyInPandas(assemble, BLOCK_SCHEMA)
    )
    return BlockMatrixFrame.from_blocks(df, _DIM, _DIM, _DIM)


def _coo(m: BlockMatrixFrame) -> DataFrame:
    """The cells of ``m`` that are nonzero at 3 decimals, as COO rows
    (i, j, val) rounded to 3 decimals."""
    bs = m.block_size

    def to_coo(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for bi, bj, blk in decode_blocks(pdf):
                ii, jj = np.nonzero(np.round(blk, 3))
                for i, j in zip(ii, jj):
                    out.append(
                        (bi * bs + int(i), bj * bs + int(j),
                         float(np.round(blk[i, j], 3)))
                    )
            yield pd.DataFrame(out, columns=["i", "j", "val"])

    return m.df.mapInPandas(to_coo, "i int, j int, val double")


@query(
    "la_matmul_coo",
    oracle=f"""
    WITH m AS (
        SELECT CAST(l_partkey % {_DIM} AS INTEGER) AS i,
               CAST(l_suppkey % {_DIM} AS INTEGER) AS j,
               round(sum(l_quantity), 6) AS v
        FROM lineitem GROUP BY 1, 2
    )
    SELECT a.i, b.i AS j, round(sum(a.v * b.v), 3) AS val
    FROM m a JOIN m b ON a.j = b.j
    GROUP BY a.i, b.i
    HAVING round(sum(a.v * b.v), 3) != 0.0
    """,
)
def la_matmul_coo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed block matmul G = M·Mᵀ, emitted as COO and checked
    against a relational matmul oracle (the Schur-complement core O11
    — `LUDecomposition.java:495-651` — is exactly this dataflow)."""
    m = _lineitem_matrix(spark, sf_dir)
    return _coo(ops.multiply(m, ops.transpose(m)))


@query(
    "la_lu_residual",
    oracle="SELECT 256 AS n, 0.0 AS residual_r6, TRUE AS ok",
)
def la_lu_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-verifying LU: ‖P·A − L·U‖∞ on a seeded 256² matrix (one
    recursion level at leaf=128 — two 2×2-block leaves factor inside
    single executor tasks and the Schur complement stays a
    distributed gemm; r14 optimization round raised the leaf from 64
    per the r13 la_condition_number precedent: every extra recursion
    level is a serial chain of Spark stages whose latency dwarfs the
    leaf BLAS it replaces). No SQL engine can factor a matrix,
    but the PROPERTY is oracle-checkable: the residual (~1e-12) rounds
    to exactly 0.0 at 6 decimals and ``ok`` asserts the tolerance, so
    the driver hash-checks the literal expectation. Pytest asserts the
    raw tolerance independently."""
    a = BlockMatrixFrame.random_uniform(spark, 256, block_size=64, seed=42)
    a.persist()
    perm, lo, up = lumod.lu(a, leaf_size=128)
    residual = ops.max_abs_diff(
        ops.permute_rows(a, perm), ops.multiply(lo, up)
    )
    return spark.createDataFrame(
        [(256, float(round(residual, 6)), bool(residual < 1e-10 * 256))],
        "n int, residual_r6 double, ok boolean",
    )


@query(
    "la_inverse_residual",
    oracle="SELECT 256 AS n, 0.0 AS identity_err_r6, TRUE AS ok",
)
def la_inverse_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-verifying full inverse: ‖A·A⁻¹ − I‖∞ ≤ 1e-8·N on a seeded
    256² uniform matrix (SURVEY.md §5 property golden). Driver-checked
    via the rounded-residual trick (see la_lu_residual; leaf=128 for
    the same one-recursion-level stage-count reason)."""
    a = BlockMatrixFrame.random_uniform(spark, 256, block_size=64, seed=42)
    a.persist()
    ainv = invmod.inverse(a, leaf_size=128)
    err = ops.max_abs_diff_from_identity(ops.multiply(a, ainv))
    ainv.release()  # the residual action above consumed the caches
    return spark.createDataFrame(
        [(256, float(round(err, 6)), bool(err < 1e-8 * 256))],
        "n int, identity_err_r6 double, ok boolean",
    )


@query(
    "la_add_transpose_coo",
    oracle=f"""
    WITH m AS (
        SELECT CAST(l_partkey % {_DIM} AS INTEGER) AS i,
               CAST(l_suppkey % {_DIM} AS INTEGER) AS j,
               round(sum(l_quantity), 6) AS v
        FROM lineitem GROUP BY 1, 2
    ), t AS (SELECT j AS i, i AS j, v FROM m)
    SELECT coalesce(m.i, t.i) AS i, coalesce(m.j, t.j) AS j,
           round(2.0 * coalesce(m.v, 0) + coalesce(t.v, 0), 3) AS val
    FROM m FULL OUTER JOIN t ON m.i = t.i AND m.j = t.j
    WHERE round(2.0 * coalesce(m.v, 0) + coalesce(t.v, 0), 3) != 0.0
    """,
)
def la_add_transpose_coo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed B = 2·M + Mᵀ emitted as COO — oracle-checks the
    add / scale / transpose block ops (the element-wise layer under
    the Schur update, reference `LUDecomposition.java:624-628`)."""
    m = _lineitem_matrix(spark, sf_dir)
    return _coo(ops.add(ops.scale(m, 2.0), ops.transpose(m)))


@query(
    "la_cholesky_residual",
    oracle="SELECT 256 AS n, 0.0 AS residual_r6, "
           "TRUE AS logdet_matches_numpy, TRUE AS ok",
)
def la_cholesky_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-verifying distributed Cholesky: build SPD
    A = B·Bᵀ + n·I from a seeded uniform B (256², one recursion
    level at leaf=128 — see la_lu_residual), factor, check
    ‖L·Lᵀ − A‖∞ (rounded-residual trick, see la_lu_residual) AND
    compare the stable distributed log-determinant against driver
    numpy ``slogdet`` on the same matrix — a cross-implementation
    differential the driver can hash-check as a boolean. r14
    optimization round: the log-determinant reads the diagonal of
    the factor the residual check already computed
    (``chol_logdet(lo)``) instead of re-factoring A from scratch —
    guide §1.2, don't compute the dominant work twice; the value is
    identical by construction (spd_logdet is defined as exactly this
    diagonal sum over cholesky's output)."""
    from matrixinversion_spark.matrix import cholesky as cholmod

    n = 256
    b = BlockMatrixFrame.random_uniform(spark, n, block_size=64, seed=42)
    b.persist()
    a = ops.add(
        ops.multiply(b, ops.transpose(b)),
        ops.scale(
            BlockMatrixFrame.identity(spark, n, block_size=64),
            float(n),
        ),
    )
    a.persist()
    lo = cholmod.cholesky(a, leaf_size=128)
    residual = ops.max_abs_diff(ops.multiply(lo, ops.transpose(lo)), a)
    logdet = cholmod.chol_logdet(lo)
    sign_np, logdet_np = np.linalg.slogdet(a.to_numpy())
    logdet_ok = bool(
        sign_np > 0 and abs(logdet - logdet_np) <= 1e-6 * abs(logdet_np)
    )
    return spark.createDataFrame(
        [(n, float(round(residual, 6)), logdet_ok,
          bool(residual < 1e-8 * n))],
        "n int, residual_r6 double, logdet_matches_numpy boolean, "
        "ok boolean",
    )


@query(
    "la_reference_ingest",
    oracle="""
    SELECT * FROM (VALUES
        (2, 2, 512, 512, 372.98,   20861552.589),
        (2, 3, 512, 512, -417.557, 20113823.036)
    ) AS t(bi, bj, n_rows, n_cols, val_sum, val_sumsq)
    """,
)
def la_reference_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest of the reference's own on-disk binary block format
    (`data/MakeData.java:19-28` writer, `LUDecomposition.java:204-272`
    reader): the two checked-in sample blocks `out/A.0`/`out/A.1` are
    read through the distributed binaryFile→parse→shuffle path
    (matrix/io.py) and per-block deterministic checksums are compared
    against constants extracted from the files independently — proving
    header decode, big-endian row parse, and grid placement."""
    from matrixinversion_spark.matrix.io import (
        REFERENCE_OUT,
        read_reference_matrix,
    )

    m = read_reference_matrix(spark, REFERENCE_OUT, block_size=512)

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        out = [
            (bi, bj, blk.shape[0], blk.shape[1],
             float(np.round(blk.sum(), 3)),
             float(np.round((blk * blk).sum(), 3)))
            for bi, bj, blk in decode_blocks(pdf)
        ]
        return pd.DataFrame(
            out,
            columns=["bi", "bj", "n_rows", "n_cols", "val_sum",
                     "val_sumsq"],
        )

    return m.df.mapInPandas(
        lambda it: (stats(pdf) for pdf in it),
        "bi int, bj int, n_rows int, n_cols int, "
        "val_sum double, val_sumsq double",
    )


@query(
    "la_reference_datasource",
    oracle="""
    SELECT * FROM (VALUES
        (1024, CAST(512 AS BIGINT), CAST(655104 AS BIGINT), 372.98),
        (1536, CAST(512 AS BIGINT), CAST(655104 AS BIGINT), -417.557)
    ) AS t(j0, n_rows, row_no_sum, val_sum)
    """,
)
def la_reference_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference block format as a first-class Spark source via
    the Spark 4 Python DataSource API (matrix/io.py
    ReferenceBlockDataSource): one input partition per block file,
    schema-on-read rows. Checks per-file row counts, row-number sums
    and value checksums against constants extracted independently
    from out/A.0 / out/A.1."""
    from matrixinversion_spark.matrix.io import (
        REFERENCE_OUT,
        register_reference_datasource,
    )

    register_reference_datasource(spark)
    df = (
        spark.read.format("reference_blocks")
        .option("path", f"{REFERENCE_OUT}/A.*")
        .load()
    )
    row_sum = F.aggregate("values", F.lit(0.0), lambda a, x: a + x)
    return df.groupBy("j0").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("row_no").alias("row_no_sum"),
        F.round(F.sum(row_sum), 3).alias("val_sum"),
    )


@query(
    "la_solve_residual",
    oracle="SELECT 256 AS n, 8 AS n_rhs, 0.0 AS residual_r6, TRUE AS ok",
)
def la_solve_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-verifying linear solve A·X = B (LU + two triangular
    solves, never forming A⁻¹): ‖A·X − B‖∞ on a seeded 256² system
    with 8 right-hand sides, rounded-residual driver check (see
    la_lu_residual; leaf=128 for the same one-recursion-level
    stage-count reason — each triangular solve becomes two leaf
    solves plus one Schur gemm instead of a deeper serial chain)."""
    n, k = 256, 8
    a = BlockMatrixFrame.random_uniform(spark, n, block_size=64, seed=42)
    a.persist()
    b = BlockMatrixFrame.random_uniform(spark, n, m=k, block_size=64, seed=7)
    b.persist()
    x = invmod.solve(a, b, leaf_size=128)
    residual = ops.max_abs_diff(ops.multiply(a, x), b)
    return spark.createDataFrame(
        [(n, k, float(round(residual, 6)), bool(residual < 1e-8 * n))],
        "n int, n_rhs int, residual_r6 double, ok boolean",
    )


@query(
    "la_determinant",
    oracle="SELECT 96 AS n, TRUE AS matches_numpy",
)
def la_determinant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed determinant (LU diagonal log-product + permutation
    sign) differentialed against numpy slogdet on the same seeded 96²
    matrix — the cross-implementation boolean the driver hash-checks
    (det itself spans hundreds of orders of magnitude; comparing in
    log space is the stable check). leaf=64 (r14): the 96² demo
    factors as one 32² leaf + solves + one 64² Schur leaf — one
    recursion level instead of two (see la_lu_residual)."""
    n = 96
    a = BlockMatrixFrame.random_uniform(spark, n, block_size=32, seed=42)
    a.persist()
    det = invmod.determinant(a, leaf_size=64)
    sign_np, log_np = np.linalg.slogdet(a.to_numpy())
    ok = bool(
        det != 0.0
        and np.sign(det) == sign_np
        and abs(np.log(abs(det)) - log_np) <= 1e-8 * max(1.0, abs(log_np))
    )
    return spark.createDataFrame(
        [(n, ok)], "n int, matches_numpy boolean"
    )


@query(
    "la_matmul_chunked",
    oracle=f"""
    WITH m AS (
        SELECT CAST(l_partkey % {_DIM} AS INTEGER) AS i,
               CAST(l_suppkey % {_DIM} AS INTEGER) AS j,
               round(sum(l_quantity), 6) AS v
        FROM lineitem GROUP BY 1, 2
    )
    SELECT a.i, b.i AS j, round(sum(a.v * b.v), 3) AS val
    FROM m a JOIN m b ON a.j = b.j
    GROUP BY a.i, b.i
    HAVING round(sum(a.v * b.v), 3) != 0.0
    """,
)
def la_matmul_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The memory-bounded k-chunked gemm (``ops.gemm(k_chunk=...)``,
    BENCH_NOTES r5 heap-OOM mitigation) against the SAME relational
    matmul oracle as la_matmul_coo — proving the two-stage
    partial-product path is exact on real data, not just on the
    pytest fixtures. The derived matrix is laid out as a 4×4 grid
    (bs=16) so the inner dimension genuinely spans multiple chunks
    (k=4, k_chunk=2 → two partial products per output block plus a
    merge-sum shuffle)."""
    bs = 16

    def assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
        blk = np.zeros((bs, bs))
        blk[pdf["i"].to_numpy() % bs, pdf["j"].to_numpy() % bs] = (
            pdf["v"].to_numpy()
        )
        return encode_blocks([(key[0], key[1], blk)])

    blocks = (
        _lineitem_coo(spark, sf_dir).groupBy(
            (F.col("i") / bs).cast("int").alias("bi"),
            (F.col("j") / bs).cast("int").alias("bj"),
        )
        .applyInPandas(assemble, BLOCK_SCHEMA)
    )
    m = BlockMatrixFrame.from_blocks(blocks, _DIM, _DIM, bs)
    return _coo(ops.gemm(m, ops.transpose(m), k_chunk=2))


@query(
    "la_tsqr_residual",
    oracle=(
        "SELECT 4096 AS n, 32 AS k, 0.0 AS orth_err_r6, "
        "0.0 AS recon_err_r6, TRUE AS ok"
    ),
)
def la_tsqr_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-verifying tall-skinny QR (matrix/qr.py, Demmel et al.
    TSQR): factor a seeded 4096×32 uniform panel (8 row slabs,
    fanout-4 tree → 2 reduction levels), then driver-hash-check the
    defining properties — ‖QᵀQ−I‖∞ (distributed Gram via
    transpose+gemm, single 32×32 output block) and ‖A−QR‖∞ both
    round to 0.0 at 6 decimals, R is upper-triangular with positive
    diagonal. Like la_lu_residual, no SQL engine can QR a matrix but
    the PROPERTY is a literal the driver can hash."""
    from matrixinversion_spark.matrix import qr as qrmod

    n, k, bs = 4096, 32, 512
    # In the matrix session (AQE off) since TSQR's panel map and tree
    # are data-sized: min-of-2 median 3.41 s under AQE -> 3.12 s, 11
    # -> 4 jobs (3 alternating pairs, 4 cores; r13 measured 2.18 ->
    # 2.92 s for AQE off with a core-sized panel, 32 cores).
    a = BlockMatrixFrame.random_uniform(spark, n, m=k, block_size=bs, seed=7)
    a.persist()
    q, r = qrmod.tsqr(a, fanout=4)
    q.persist()
    gram = ops.multiply(ops.transpose(q), q).to_numpy()
    orth_err = float(np.max(np.abs(gram - np.eye(k))))
    rframe = BlockMatrixFrame.from_numpy(spark, r, block_size=bs)
    recon_err = ops.max_abs_diff(a, ops.multiply(q, rframe))
    r_is_upper = bool(
        np.allclose(r, np.triu(r)) and np.all(np.diag(r) > 0)
    )
    ok = bool(
        r_is_upper and orth_err < 1e-12 * n and recon_err < 1e-12 * n
    )
    return spark.createDataFrame(
        [(n, k, float(round(orth_err, 6)), float(round(recon_err, 6)), ok)],
        "n int, k int, orth_err_r6 double, recon_err_r6 double, ok boolean",
    )


def _power_iterate(m: BlockMatrixFrame, v: np.ndarray,
                   iters: int) -> tuple[float, np.ndarray]:
    """Dominant eigenvalue λ of ``m`` by ``iters`` steps of power
    iteration from the unit driver vector ``v``; returns (λ, w) with
    w = m·v for the final unit iterate v. Each step is one
    ``ops.matvec``; the vector and its norm stay on the driver."""
    w = ops.matvec(m, v)
    for _ in range(iters - 1):
        w = ops.matvec(m, w / np.linalg.norm(w))
    return float(np.linalg.norm(w)), w


@query(
    "la_power_iteration",
    oracle="SELECT 256 AS n, 15 AS iters, 0.0 AS rel_residual_r6, TRUE AS ok",
)
def la_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant eigenpair of a seeded symmetric 256² matrix by
    distributed power iteration: v ← A·v / ‖A·v‖, each product one
    ``ops.matvec`` over the distributed A with v held on the driver
    (an n-vector is the square root of the matrix's size — the
    dense-spectral twin of q_pagerank's sparse iteration). The
    symmetrized uniform matrix has a Perron-dominant spectrum (gap
    ≈ √n/n), so 15 iterations converge far past the 1e-9 check:
    rel_residual = ‖A·v − λ·v‖∞ / |λ| rounds to 0.0 at 6 decimals,
    which the driver hash-checks as a literal."""
    n, bs, iters = 256, 64, 15
    b = BlockMatrixFrame.random_uniform(spark, n, block_size=bs, seed=11)
    # A is read by every step — pin it once
    a = ops.add(b, ops.transpose(b)).checkpoint(eager=True)
    v = np.full(n, 1.0 / np.sqrt(n))
    lam, w = _power_iterate(a, v, iters)
    v = w / lam
    rel_res = float(np.abs(ops.matvec(a, v) - lam * v).max()) / lam
    return spark.createDataFrame(
        [(n, iters, float(round(rel_res, 6)), bool(rel_res < 1e-9))],
        "n int, iters int, rel_residual_r6 double, ok boolean",
    )


@query(
    "la_randomized_svd",
    oracle=(
        "SELECT 1024 AS n, 256 AS m, 16 AS rank, 0.0 AS sv_err_r6, "
        "0.0 AS recon_err_r6, TRUE AS ok"
    ),
)
def la_randomized_svd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-verifying randomized truncated SVD (matrix/svd.py, Halko
    et al. 2011): a seeded EXACTLY-rank-16 1024×256 matrix (product
    of two Gaussian factors) is factored at rank=16 with 12
    oversamples — in the exact-rank regime the sketch captures the
    whole range, so the recovered singular values match driver-LAPACK
    svd to machine precision and ‖A − U·S·Vᵀ‖∞ rounds to 0.0 at 6
    decimals; ``ok`` pins both tolerances (la_lu_residual pattern)."""
    from matrixinversion_spark.matrix import svd as svdmod

    n, m, rank = 1024, 256, 16
    rng = np.random.default_rng(123)
    a_np = (rng.standard_normal((n, rank)) / np.sqrt(n)) @ (
        rng.standard_normal((rank, m)) * 10.0
    )
    # Matrix session: 5.53 -> 5.68 s, 18 -> 6 jobs (r13: 3.87 ->
    # 4.99 s) — see la_tsqr_residual's note.
    a = BlockMatrixFrame.from_numpy(spark, a_np, block_size=256)
    a.persist()
    u, s, vt = svdmod.randomized_svd(
        a, rank=rank, oversample=0, power_iters=1, seed=5
    )
    s_true = np.linalg.svd(a_np, compute_uv=False)[:rank]
    sv_err = float(np.max(np.abs(s - s_true)))
    recon = BlockMatrixFrame.from_numpy(
        spark, np.diag(s) @ vt, block_size=256
    )
    recon_err = ops.max_abs_diff(a, ops.multiply(u, recon))
    ok = bool(sv_err < 1e-8 * s_true[0] and recon_err < 1e-8 * s_true[0])
    return spark.createDataFrame(
        [(n, m, rank, float(round(sv_err, 6)),
          float(round(recon_err, 6)), ok)],
        "n int, m int, rank int, sv_err_r6 double, "
        "recon_err_r6 double, ok boolean",
    )


@query(
    "la_pinv_residual",
    oracle=(
        "SELECT 192 AS n, 64 AS m, 0.0 AS mp_residual_r6, "
        "TRUE AS ok, TRUE AS left_inverse_ok"
    ),
)
def la_pinv_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-verifying Moore–Penrose pseudo-inverse of a tall seeded
    192×64 matrix via inverse.pinv (normal equations + LU solve —
    reference extension; the reference inverts square matrices
    only, `Inverse.java:28-40`). Two checks, one distributed and
    one driver-twin: the Moore–Penrose defining residual
    ‖A·A⁺·A − A‖∞ computed entirely with the distributed gemm, and
    A⁺A == I_64 at the leaf scale against numpy (left inverse —
    exact for full column rank)."""
    n, m = 192, 64
    a = BlockMatrixFrame.random_uniform(spark, n, m=m, block_size=64, seed=11)
    a.persist()
    p = invmod.pinv(a, leaf_size=64)
    p.persist()
    mp_res = ops.max_abs_diff(ops.multiply(a, ops.multiply(p, a)), a)
    left = ops.multiply(p, a).to_numpy()
    left_ok = bool(np.abs(left - np.eye(m)).max() < 1e-8 * n)
    return spark.createDataFrame(
        [(
            n,
            m,
            float(round(mp_res, 6)),
            bool(mp_res < 1e-8 * n),
            left_ok,
        )],
        "n int, m int, mp_residual_r6 double, ok boolean, "
        "left_inverse_ok boolean",
    )


@query(
    "la_condition_number",
    oracle=(
        "SELECT 256 AS n, 1000.0 AS kappa_true, 0.0 AS rel_err_r6, "
        "TRUE AS ok"
    ),
)
def la_condition_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral condition number κ₂(A) of an SPD matrix with a KNOWN
    planted spectrum, estimated entirely with the distributed
    operator set: power iteration on A gives λmax; power iteration
    on the pipeline's own A⁻¹ (matrix/inverse.py) gives 1/λmin; the
    product is κ₂. The matrix is Q·diag(d)·Qᵀ with
    d = max(1000·0.5^i, 1) — κ₂ = 1000 exactly, and both dominant
    ratios are ≥ 2, so the norm-ratio estimator converges ~0.25^i:
    at 14 iterations the measured rel_err on this exact seed is
    1.43e-08 (numpy twin of the loop, confirmed by the
    distributed run), a 35x margin under the 5e-7 rounding gate —
    r12's 18 was 5.6e-11, i.e. 8 wasted sequential stages (the wall
    IS the stage count). The other r13 stage-count lever: the
    recursion bottoms out at leaf_size=128 (2x2 block groups), one
    recursion level instead of two on the same 4x4 distributed
    grid — measured 38s -> ~17s end-to-end at identical rel_err
    (inverse build 18 -> 5s warm-JVM). Reusing a session-cached A⁻¹
    was considered and rejected: at ~5s the build no longer
    dominates and a memo would make the query stateful across the
    driver gate's fresh-session runs for no standalone gain.
    Extends the reference's inversion surface
    (LUInverse.java) with the diagnostic users run an inversion FOR:
    how close to singular the system is.

    Scale shape: per step one ``ops.matvec`` of the distributed
    matrix against a driver-held vector (``_power_iterate``, as in
    la_power_iteration), so the cost at any n is 2·iters narrow
    matvec jobs plus one full inverse: 11.85 s under AQE -> 10.37 s
    in the matrix session (r13: 10.75 -> 15.47 s for AQE off).
    """
    n, bs, iters = 256, 64, 14
    rng = np.random.default_rng(77)
    q_np, _ = np.linalg.qr(rng.standard_normal((n, n)))
    d = np.maximum(1000.0 * 0.5 ** np.arange(n), 1.0)
    a_np = (q_np * d) @ q_np.T
    a = BlockMatrixFrame.from_numpy(spark, a_np, block_size=bs)
    a.persist()
    a_inv = invmod.inverse(a, leaf_size=2 * bs).checkpoint()
    a_inv.persist()
    # the checkpoint is LAZY: force one action so A⁻¹
    # materializes THROUGH the build caches before they are released
    # (releasing first would make the checkpoint's first real action
    # recompute the recursion uncached; the query's wall is dominated
    # by the 2·iters sequential iteration stages either way — this
    # pins the lifecycle order, it is not the wall)
    a_inv.df.count()
    a_inv.release()

    def dominant(m: BlockMatrixFrame) -> float:
        v = rng.standard_normal(n) / np.sqrt(n)
        return _power_iterate(m, v, iters)[0]

    kappa = dominant(a) * dominant(a_inv)
    rel_err = abs(kappa - 1000.0) / 1000.0
    return spark.createDataFrame(
        [(n, 1000.0, float(round(rel_err, 6)), bool(rel_err < 1e-6))],
        "n int, kappa_true double, rel_err_r6 double, ok boolean",
    )


@query(
    "la_inverse_text_format",
    oracle="""
    SELECT 6 AS n_files, CAST(400 AS BIGINT) AS n_cells,
           0.0 AS max_abs_err, TRUE AS ok
    """,
)
def la_inverse_text_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's final-inverse TEXT egress
    (`LUInverse.java:356-384`: strided ``Ai.{n0}.{n1}`` files, header
    ``0:N:0:N:nL:n1``, ``row:v v …`` lines) round-tripped exactly: a
    seeded 20×20 block matrix is written on a 2×3 stride grid, read
    back through the distributed text ingress (JVM split/posexplode),
    and every cell compared against the original — repr() doubles
    round-trip bit-exactly, so max_abs_err is identically 0."""
    import os
    import tempfile

    from matrixinversion_spark.matrix.io import (
        read_inverse_text,
        write_inverse_text,
    )

    n = 20
    m = BlockMatrixFrame.random_uniform(spark, n, block_size=8, seed=11)
    out = os.path.join(tempfile.gettempdir(), "mi_spark_inverse_text")
    n_files = write_inverse_text(m, out, n_u=2, n_l=3)

    def cells(batches):
        for pdf in batches:
            rows = []
            for bi, bj, blk in decode_blocks(pdf):
                for (li, lj), v in np.ndenumerate(blk):
                    rows.append((bi * 8 + li, bj * 8 + lj, float(v)))
            yield pd.DataFrame(
                rows, columns=["row_no", "col_no", "orig"]
            )

    orig = m.df.mapInPandas(
        cells, "row_no long, col_no long, orig double"
    )
    back = read_inverse_text(spark, out)
    return (
        back.join(orig, ["row_no", "col_no"], "full")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.max(F.abs(F.col("value") - F.col("orig"))).alias("err"),
        )
        .select(
            F.lit(n_files).cast("int").alias("n_files"),
            "n_cells",
            F.coalesce(F.col("err"), F.lit(-1.0)).alias("max_abs_err"),
            (
                (F.col("n_cells") == n * n) & (F.col("err") == 0.0)
            ).alias("ok"),
        )
    )
