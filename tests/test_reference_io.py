"""Reference binary block-format ingest/egress (matrix/io.py):
header decode against the checked-in sample blocks, full value
round-trip, re-gridding across block sizes, and pivot-permuted rows.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from matrixinversion_spark.matrix.io import (
    REFERENCE_OUT,
    encode_reference_block,
    parse_indirection_file,
    parse_reference_block,
    read_reference_indirection,
    read_reference_matrix,
    save_reference_matrix,
    write_indirection_file,
)
from matrixinversion_spark.matrix.core import BlockMatrixFrame

SAMPLES = {
    f"{REFERENCE_OUT}/A.0": (1024, 1536, 1024, 1536),
    f"{REFERENCE_OUT}/A.1": (1024, 1536, 1536, 2048),
}
SAMPLE_A0 = f"{REFERENCE_OUT}/A.0"

needs_samples = pytest.mark.skipif(
    not all(os.path.exists(p) for p in SAMPLES),
    reason=f"reference sample blocks {sorted(SAMPLES)} not present",
)


@needs_samples
def test_parse_sample_blocks():
    """Both checked-in reference outputs parse with the documented
    extents (SURVEY.md §1.1) and plausible LU-intermediate values."""
    for path, extent in SAMPLES.items():
        data = open(path, "rb").read()
        ext, idx, vals = parse_reference_block(data)
        assert ext == extent
        assert len(data) == 16 + 512 * (4 + 512 * 8) == 2_099_216
        assert idx.tolist() == list(range(1024, 1536))
        assert vals.shape == (512, 512)
        assert np.isfinite(vals).all()


def test_parse_rejects_truncated():
    if os.path.exists(SAMPLE_A0):
        data = open(SAMPLE_A0, "rb").read()
    else:
        # same layout and length as A.0 (`data/MakeData.java:19-28`):
        # extent [1024,1536)x[1024,1536), 2,099,216 bytes
        blk = np.random.default_rng(3).standard_normal((512, 512))
        data = encode_reference_block(1024, 1024, blk)
        assert len(data) == 16 + 512 * (4 + 512 * 8)
    with pytest.raises(ValueError, match="size mismatch"):
        parse_reference_block(data[:-8])
    with pytest.raises(ValueError, match="too short"):
        parse_reference_block(data[:10])


def test_encode_parse_roundtrip_pure():
    rng = np.random.default_rng(7)
    blk = rng.standard_normal((5, 3))
    ext, idx, vals = parse_reference_block(
        encode_reference_block(10, 20, blk)
    )
    assert ext == (10, 15, 20, 23)
    assert idx.tolist() == [10, 11, 12, 13, 14]
    np.testing.assert_array_equal(vals, blk)


def test_spark_roundtrip_same_grid(spark, tmp_path):
    rng = np.random.default_rng(11)
    a = rng.standard_normal((300, 200))
    m = BlockMatrixFrame.from_numpy(spark, a, block_size=128)
    n = save_reference_matrix(m, str(tmp_path / "blocks"))
    assert n == 3 * 2  # ceil(300/128) x ceil(200/128)
    back = read_reference_matrix(
        spark, str(tmp_path / "blocks"), block_size=128
    )
    assert (back.n_rows, back.n_cols) == (300, 200)
    np.testing.assert_allclose(back.to_numpy(), a)


def test_spark_roundtrip_regrid(spark, tmp_path):
    """Reading with a different block size than the files were written
    with exercises the piece split + (bi,bj) shuffle assembly."""
    rng = np.random.default_rng(13)
    a = rng.standard_normal((256, 256))
    m = BlockMatrixFrame.from_numpy(spark, a, block_size=128)
    save_reference_matrix(m, str(tmp_path / "blocks"))
    back = read_reference_matrix(
        spark, str(tmp_path / "blocks"), block_size=100
    )
    assert back.block_size == 100
    np.testing.assert_allclose(back.to_numpy(), a)


def test_permuted_rows_land_by_row_no(spark, tmp_path):
    """Rows carry global indices precisely because the reference
    permutes them by pivoting (`LUDecomposition.java` save_matrix):
    a shuffled file must reassemble into row_no order."""
    rng = np.random.default_rng(17)
    a = rng.standard_normal((40, 8))
    order = rng.permutation(40)
    payload = encode_reference_block(0, 0, a[order], row_nos=order)
    # the extent header still declares [0,40) regardless of row order
    (tmp_path / "P.0").write_bytes(payload)
    back = read_reference_matrix(
        spark, str(tmp_path / "P.0"), block_size=16
    )
    np.testing.assert_allclose(back.to_numpy(), a)


def test_indirection_roundtrip(spark, tmp_path):
    """'File of files' variant: an indirection file's extent header is
    followed by newline-separated physical paths; the reader resolves
    them driver-side and reads the physical blocks distributed."""
    rng = np.random.default_rng(19)
    a = rng.standard_normal((256, 256))
    m = BlockMatrixFrame.from_numpy(spark, a, block_size=128)
    blocks_dir = tmp_path / "blocks"
    save_reference_matrix(m, str(blocks_dir))
    paths = sorted(str(p) for p in blocks_dir.iterdir())
    ind = tmp_path / "a.txt"
    write_indirection_file(str(ind), (0, 256, 0, 256), paths)
    ext, listed = parse_indirection_file(ind.read_bytes())
    assert ext == (0, 256, 0, 256)
    assert listed == paths
    back = read_reference_indirection(spark, str(ind), block_size=128)
    np.testing.assert_allclose(back.to_numpy(), a)


def test_explicit_dims_skip_inference(spark, tmp_path):
    a = np.arange(12.0).reshape(3, 4)
    m = BlockMatrixFrame.from_numpy(spark, a, block_size=4)
    save_reference_matrix(m, str(tmp_path / "blocks"))
    back = read_reference_matrix(
        spark, str(tmp_path / "blocks"), block_size=4, n_rows=3, n_cols=4
    )
    np.testing.assert_allclose(back.to_numpy(), a)


@needs_samples
def test_python_datasource_reads_samples(spark):
    """Spark 4 Python DataSource wrapper: one partition per file,
    rows land with their global row_no and j0 origin."""
    from matrixinversion_spark.matrix.io import (
        register_reference_datasource,
    )

    register_reference_datasource(spark)
    df = (
        spark.read.format("reference_blocks")
        .option("path", f"{REFERENCE_OUT}/A.*")
        .load()
    )
    assert df.rdd.getNumPartitions() == 2
    rows = df.groupBy("j0").count().collect()
    assert {(r["j0"], r["count"]) for r in rows} == {
        (1024, 512), (1536, 512),
    }


def test_python_datasource_write_roundtrip(spark, tmp_path):
    """Writer side of the custom source: repartition rows by block,
    write through format('reference_blocks'), read back via the
    reader — values and row placement survive."""
    from pyspark.sql import functions as F

    from matrixinversion_spark.matrix.io import (
        register_reference_datasource,
    )

    register_reference_datasource(spark)
    rng = np.random.default_rng(23)
    a = rng.standard_normal((20, 6))
    rows = [
        (int(i), 0, [float(v) for v in a[i]]) for i in range(20)
    ]
    df = spark.createDataFrame(
        rows, "row_no bigint, j0 int, values array<double>"
    )
    out = str(tmp_path / "w")
    # one block [0,20)x[0,6): single partition holds the whole extent
    df.repartition(1).write.format("reference_blocks").option(
        "path", out
    ).mode("append").save()
    back = read_reference_matrix(spark, out, block_size=8)
    np.testing.assert_allclose(back.to_numpy(), a)


def test_codec_roundtrip_fuzz():
    """Property fuzz: encode/parse round-trips arbitrary block shapes,
    origins, and row permutations bit-exactly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=50, deadline=None)
    @given(
        r=st.integers(min_value=1, max_value=40),
        c=st.integers(min_value=1, max_value=40),
        i0=st.integers(min_value=0, max_value=10_000),
        j0=st.integers(min_value=0, max_value=10_000),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
        permute=st.booleans(),
    )
    def roundtrip(r, c, i0, j0, seed, permute):
        rng = np.random.default_rng(seed)
        blk = rng.standard_normal((r, c))
        row_nos = np.arange(i0, i0 + r)
        if permute:
            row_nos = rng.permutation(row_nos)
        ext, idx, vals = parse_reference_block(
            encode_reference_block(i0, j0, blk, row_nos=row_nos)
        )
        assert ext == (i0, i0 + r, j0, j0 + c)
        np.testing.assert_array_equal(idx, row_nos)
        np.testing.assert_array_equal(vals, blk)

    roundtrip()


def test_save_refuses_remote_scheme_paths(spark):
    # executors write with task-local open(); a remote URI can never be
    # a shared local mount, so the writer must refuse loudly (the
    # silent failure mode on a real cluster is files scattering across
    # worker-local disks)
    m = BlockMatrixFrame.from_numpy(
        spark, np.arange(16.0).reshape(4, 4), block_size=4
    )
    with pytest.raises(ValueError, match="remote path"):
        save_reference_matrix(m, "s3a://bucket/blocks")
    with pytest.raises(ValueError, match="remote path"):
        save_reference_matrix(m, "hdfs://nn/blocks")


def test_inverse_text_roundtrip(spark, tmp_path):
    """Reference final-inverse text layout (`LUInverse.java:356-384`):
    strided Ai.{n0}.{n1} files round-trip exactly through the text
    egress + distributed ingress, across stride grids and a
    non-divisible block size."""
    import numpy as np
    from matrixinversion_spark.matrix.core import BlockMatrixFrame
    from matrixinversion_spark.matrix.io import (
        read_inverse_text,
        write_inverse_text,
    )

    rng = np.random.default_rng(7)
    a = rng.standard_normal((10, 10))
    a[0, 0] = 1e-7  # exponent-spelled repr
    a[3, 4] = 0.0
    m = BlockMatrixFrame.from_numpy(spark, a, block_size=4)
    for n_u, n_l in [(1, 1), (2, 3)]:
        out = str(tmp_path / f"inv_text_{n_u}_{n_l}")
        n_files = write_inverse_text(m, out, n_u=n_u, n_l=n_l)
        assert n_files == n_u * n_l
        import os
        names = sorted(os.listdir(out))
        assert names == sorted(
            f"Ai.{i}.{j}" for i in range(n_u) for j in range(n_l)
        )
        with open(os.path.join(out, names[0])) as f:
            assert f.readline().startswith("0:10:0:10:")
        cells = read_inverse_text(spark, out).collect()
        assert len(cells) == 100
        back = np.zeros((10, 10))
        for r in cells:
            back[r["row_no"], r["col_no"]] = r["value"]
        np.testing.assert_array_equal(back, a)  # exact: repr round-trips
