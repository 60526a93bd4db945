"""Ingest/egress for the reference's on-disk binary block format.

The reference stores every matrix as extent-headered big-endian block
files (writer `data/MakeData.java:19-28` and `save_matrix` at
`LUDecomposition.java:388-408`; reader `read_matrix` at
`LUDecomposition.java:204-272`; layout decoded in SURVEY.md §1.1):

    int i0, int i1, int j0, int j1      # extent header [i0,i1)x[j0,j1)
    repeat (i1-i0) times:
        int row_no                      # GLOBAL row index (may be permuted)
        double v[j0..j1)                # dense row slice

All integers/doubles are big-endian (Java ``DataOutputStream``).
Verified against the repo's checked-in sample outputs ``out/A.0``
(header (1024,1536,1024,1536)) and ``out/A.1`` ((1024,1536,1536,2048)),
both 16 + 512*(4+512*8) = 2,099,216 bytes.

Spark-first shape: a ``binaryFile`` scan parallelizes over files, a
vectorized numpy parse turns each file into row-segment pieces aligned
to the target block grid, and ONE shuffle on ``(bi, bj)`` assembles
``BlockMatrixFrame`` blocks. Rows land by their row_no prefix, so
pivot-permuted reference files reassemble correctly. At 100 TB the
piece shuffle moves each byte exactly once and keys uniformly on block
coordinates.

The reference's indirection variant ("file of files",
`Partition.java:223-272` writer — "we only store the pos[i]tion of
data in the original files" — and `read_matrix(String,char)` reader at
`LUDecomposition.java:299-335`) lists further paths after the 16-byte
extent header, newline-separated. ``read_reference_indirection``
resolves those paths driver-side (path lists are metadata — tiny) and
hands the physical files to the distributed reader above.
"""

from __future__ import annotations

import os
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from matrixinversion_spark.matrix.core import (
    BLOCK_SCHEMA,
    DEFAULT_BLOCK_SIZE,
    BlockMatrixFrame,
    decode_blocks,
    encode_blocks,
)

# Where the reference's sample outputs ``out/A.0``/``out/A.1`` live
# (FIXTURES.md); ``la_reference_ingest``/``la_reference_datasource``
# and the sample tests read them from here.
REFERENCE_OUT = "/root/reference/out"

_HEADER = struct.Struct(">4i")

_PIECE_SCHEMA = (
    "bi int, bj int, row_in_block int, col_off int, data array<double>"
)


def parse_reference_block(
    data: bytes,
) -> tuple[tuple[int, int, int, int], np.ndarray, np.ndarray]:
    """Parse one reference block file.

    Returns ``((i0, i1, j0, j1), row_nos, values)`` with ``row_nos``
    shaped (nrows,) holding each row's GLOBAL index and ``values``
    shaped (nrows, j1-j0) float64. Raises ``ValueError`` when the
    byte length disagrees with the header (truncated/corrupt file).
    """
    if len(data) < _HEADER.size:
        raise ValueError(f"reference block too short: {len(data)} bytes")
    i0, i1, j0, j1 = _HEADER.unpack_from(data, 0)
    nrows, ncols = i1 - i0, j1 - j0
    if nrows < 0 or ncols <= 0:
        raise ValueError(f"bad extent header ({i0},{i1},{j0},{j1})")
    expect = _HEADER.size + nrows * (4 + 8 * ncols)
    if len(data) != expect:
        raise ValueError(
            f"size mismatch: header ({i0},{i1},{j0},{j1}) implies "
            f"{expect} bytes, file has {len(data)}"
        )
    rec = np.dtype([("row", ">i4"), ("vals", ">f8", (ncols,))])
    body = np.frombuffer(data, dtype=rec, count=nrows, offset=_HEADER.size)
    return (
        (i0, i1, j0, j1),
        body["row"].astype(np.int64),
        body["vals"].astype(np.float64),
    )


def encode_reference_block(
    i0: int, j0: int, block: np.ndarray, row_nos: np.ndarray | None = None
) -> bytes:
    """Encode a dense block into the reference's binary format
    (inverse of :func:`parse_reference_block`; format of
    `data/MakeData.java:19-28`)."""
    block = np.asarray(block, dtype=np.float64)
    r, c = block.shape
    if row_nos is None:
        row_nos = np.arange(i0, i0 + r)
    rec = np.dtype([("row", ">i4"), ("vals", ">f8", (c,))])
    body = np.empty(r, dtype=rec)
    body["row"] = row_nos
    body["vals"] = block
    return _HEADER.pack(i0, i0 + r, j0, j0 + c) + body.tobytes()


def read_reference_matrix(
    spark: SparkSession,
    path: str | list[str],
    block_size: int = DEFAULT_BLOCK_SIZE,
    n_rows: int | None = None,
    n_cols: int | None = None,
) -> BlockMatrixFrame:
    """Read reference-format block files into a ``BlockMatrixFrame``.

    ``path`` is anything ``binaryFile`` accepts (dir, glob, explicit
    path list). When ``n_rows``/``n_cols`` are omitted they are
    inferred with one extra aggregation pass over the parsed pieces
    (i.e. the source is read twice); pass explicit dims to make
    ingest single-pass.
    """
    bs = block_size
    files = spark.read.format("binaryFile").load(path).select("content")

    def to_pieces(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for content in pdf["content"]:
                (_, _, j0, j1), idx, vals = parse_reference_block(
                    bytes(content)
                )
                bi = idx // bs
                rib = idx % bs
                for bj in range(j0 // bs, (j1 - 1) // bs + 1):
                    g0, g1 = max(j0, bj * bs), min(j1, (bj + 1) * bs)
                    seg = vals[:, g0 - j0:g1 - j0]
                    yield pd.DataFrame(
                        {
                            "bi": bi.astype(np.int32),
                            "bj": np.int32(bj),
                            "row_in_block": rib.astype(np.int32),
                            "col_off": np.int32(g0 - bj * bs),
                            # list of per-row ndarrays — Arrow keeps
                            # them unboxed (see core.from_numpy note)
                            "data": list(seg),
                        }
                    )

    pieces = files.mapInPandas(to_pieces, _PIECE_SCHEMA)

    if n_rows is None or n_cols is None:
        dims = pieces.agg(
            (F.max(F.col("bi") * bs + F.col("row_in_block")) + 1).alias("nr"),
            F.max(
                F.col("bj") * bs + F.col("col_off") + F.size("data")
            ).alias("nc"),
        ).collect()[0]
        n_rows = n_rows if n_rows is not None else int(dims["nr"])
        n_cols = n_cols if n_cols is not None else int(dims["nc"])

    def assemble(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = int(key[0]), int(key[1])
        r = min(bs, n_rows - bi * bs)
        c = min(bs, n_cols - bj * bs)
        blk = np.zeros((r, c), dtype=np.float64)
        for rib, co, seg in zip(
            pdf["row_in_block"], pdf["col_off"], pdf["data"]
        ):
            seg = np.asarray(seg, dtype=np.float64)
            blk[int(rib), int(co):int(co) + seg.shape[0]] = seg
        return encode_blocks([(bi, bj, blk)])

    blocks = pieces.groupBy("bi", "bj").applyInPandas(assemble, BLOCK_SCHEMA)
    return BlockMatrixFrame.from_blocks(blocks, n_rows, n_cols, bs)


def parse_indirection_file(
    data: bytes,
) -> tuple[tuple[int, int, int, int], list[str]]:
    """Parse an indirection ("file of files") block: 16-byte extent
    header, then newline-separated paths of the files that physically
    hold the data (`Partition.java:223-272`)."""
    if len(data) < _HEADER.size:
        raise ValueError(f"indirection file too short: {len(data)} bytes")
    i0, i1, j0, j1 = _HEADER.unpack_from(data, 0)
    paths = [
        line.strip()
        for line in data[_HEADER.size:].decode("utf-8").splitlines()
        if line.strip()
    ]
    if not paths:
        raise ValueError("indirection file lists no data paths")
    return (i0, i1, j0, j1), paths


def write_indirection_file(
    path: str, extent: tuple[int, int, int, int], data_paths: list[str]
) -> None:
    """Write an indirection file (inverse of
    :func:`parse_indirection_file`)."""
    with open(path, "wb") as f:
        f.write(_HEADER.pack(*extent))
        f.write("\n".join(data_paths).encode("utf-8") + b"\n")


def read_reference_indirection(
    spark: SparkSession,
    path: str,
    block_size: int = DEFAULT_BLOCK_SIZE,
    n_rows: int | None = None,
    n_cols: int | None = None,
) -> BlockMatrixFrame:
    """Read a matrix through one or more indirection files.

    The indirection layer is metadata (a few KB of paths), so it is
    resolved driver-side; the physical block files then flow through
    the distributed :func:`read_reference_matrix` path. Duplicate
    physical paths across indirection files are read once.
    """
    import glob as globmod

    listed: list[str] = []
    matches = sorted(globmod.glob(path)) or [path]
    for f in matches:
        with open(f, "rb") as fh:
            _, paths = parse_indirection_file(fh.read())
        listed.extend(paths)
    unique = list(dict.fromkeys(listed))
    return read_reference_matrix(
        spark, unique, block_size=block_size, n_rows=n_rows, n_cols=n_cols
    )


def save_reference_matrix(m: BlockMatrixFrame, out_dir: str) -> int:
    """Write ``m`` as reference-format files ``A.<k>`` (one per block,
    k = bi*nbj + bj — the reference's flat numbering, `out/A.0`…).

    Executors write via local ``open()``; returns the number of files
    written. Absent (zero) blocks produce no file — the reader
    zero-fills, so round-trips stay exact.

    SHARED-FILESYSTEM CONSTRAINT: each task writes ``out_dir`` on the
    machine it runs on, so this is only correct where every executor
    sees the same mount (local mode, NFS, FUSE-mounted object store).
    On a multi-node cluster without one, files would silently scatter
    across nodes — so this refuses remote-scheme paths and any
    non-local master outright rather than half-succeed; use
    ``m.df.write.parquet`` (block schema) for cluster-native
    persistence instead.
    """
    if "://" in out_dir and not out_dir.startswith("file://"):
        raise ValueError(
            "save_reference_matrix writes with task-local open(); "
            f"remote path {out_dir!r} is not supported — write the "
            "block DataFrame as parquet instead"
        )
    master = m.df.sparkSession.conf.get("spark.master", "")
    if master and not master.startswith("local"):
        raise RuntimeError(
            "save_reference_matrix requires every executor to share "
            f"the driver's filesystem; master {master!r} cannot "
            "guarantee that — write the block DataFrame as parquet "
            "instead"
        )
    os.makedirs(out_dir, exist_ok=True)
    bs, nbj = m.block_size, m.nbj

    def write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = 0
            for bi, bj, blk in decode_blocks(pdf):
                payload = encode_reference_block(bi * bs, bj * bs, blk)
                fname = os.path.join(out_dir, f"A.{bi * nbj + bj}")
                with open(fname, "wb") as f:
                    f.write(payload)
                n += 1
            yield pd.DataFrame({"n": [n]})

    written = m.df.mapInPandas(write, "n int").agg(
        F.sum("n").alias("n")
    ).collect()[0]["n"]
    return int(written or 0)


# ---------------------------------------------------------------------------
# Custom Python DataSource (Spark 4 pyspark.sql.datasource API)
# ---------------------------------------------------------------------------

try:  # pragma: no cover - import guard for older PySpark
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceWriter,
        InputPartition,
        WriterCommitMessage,
    )

    class _RefBlockPartition(InputPartition):
        def __init__(self, path: str):
            self.path = path

    class _RefBlockReader(DataSourceReader):
        def __init__(self, options):
            self.path = options.get("path")
            if not self.path:
                raise ValueError("reference_blocks: 'path' is required")

        def partitions(self):
            import glob as globmod

            paths = (
                sorted(globmod.glob(self.path))
                or sorted(globmod.glob(os.path.join(self.path, "*")))
            )
            if not paths:
                raise FileNotFoundError(self.path)
            return [_RefBlockPartition(p) for p in paths]

        def read(self, partition):
            with open(partition.path, "rb") as f:
                (_, _, j0, _), idx, vals = parse_reference_block(f.read())
            for rno, row in zip(idx, vals):
                yield int(rno), int(j0), [float(v) for v in row]

    class ReferenceBlockDataSource(DataSource):
        """``spark.read.format("reference_blocks")`` — the reference's
        extent-headered binary block files as a first-class Spark
        source (Spark 4 Python DataSource API).

        One input partition per block file (the format's natural
        parallelism unit — exactly how the reference's mappers split,
        `LUDecomposition.java:204-272`); each emits its rows as
        (row_no, j0, values). The schema-on-read row form feeds
        either the relational layer directly or
        ``read_reference_matrix``'s grid assembly.
        """

        @classmethod
        def name(cls):
            return "reference_blocks"

        def schema(self):
            return "row_no bigint, j0 int, values array<double>"

        def reader(self, schema):
            return _RefBlockReader(self.options)

        def writer(self, schema, overwrite):
            return _RefBlockWriter(self.options, overwrite)

    class _RefBlockCommit(WriterCommitMessage):
        def __init__(self, path: str, n_rows: int):
            self.path = path
            self.n_rows = n_rows

    class _RefBlockWriter(DataSourceWriter):
        """Write path of the custom source: each input partition must
        hold exactly one block's rows (repartition on the block key
        first); the extent header is derived from the rows present.
        Mirrors the reference's one-file-per-reduce-task layout."""

        def __init__(self, options, overwrite: bool):
            self.path = options.get("path")
            if not self.path:
                raise ValueError("reference_blocks: 'path' is required")
            self.overwrite = overwrite

        def write(self, iterator):
            from pyspark import TaskContext

            rows = list(iterator)
            pid = TaskContext.get().partitionId()
            if not rows:
                return _RefBlockCommit("", 0)
            j0s = {r.j0 for r in rows}
            if len(j0s) > 1:
                raise ValueError(
                    f"partition {pid} mixes column origins {sorted(j0s)};"
                    " repartition by block before writing"
                )
            rows.sort(key=lambda r: r.row_no)
            idx = np.asarray([r.row_no for r in rows], dtype=np.int64)
            if idx[-1] - idx[0] + 1 != len(idx) or len(set(idx)) != len(idx):
                raise ValueError(
                    f"partition {pid} rows are not a contiguous extent"
                )
            vals = np.asarray(
                [r.values for r in rows], dtype=np.float64
            )
            payload = encode_reference_block(
                int(idx[0]), int(rows[0].j0), vals, row_nos=idx
            )
            os.makedirs(self.path, exist_ok=True)
            out = os.path.join(self.path, f"A.{pid}")
            with open(out, "wb") as f:
                f.write(payload)
            return _RefBlockCommit(out, len(rows))

        def commit(self, messages):
            return None

        def abort(self, messages):
            return None

    def register_reference_datasource(spark) -> None:
        """Idempotently register the custom source on a session."""
        spark.dataSource.register(ReferenceBlockDataSource)

except ImportError:  # pragma: no cover
    def register_reference_datasource(spark) -> None:
        raise NotImplementedError(
            "pyspark.sql.datasource requires PySpark >= 4.0"
        )


# ---------------------------------------------------------------------------
# Reference final-inverse TEXT format (`LUInverse.java:356-384`)
# ---------------------------------------------------------------------------


def write_inverse_text(
    m: BlockMatrixFrame, out_dir: str, n_u: int = 1, n_l: int = 1
) -> int:
    """Write ``m`` in the reference's final-inverse text layout
    (`LUInverse.java:356-384`): nU*nL files ``Ai.{n0}.{n1}``, each
    holding the strided decimation rows ≡ n0 (mod nU) × columns ≡ n1
    (mod nL); first line is the header ``0:N:0:N:nL:n1``, then one
    ``row:v v … v`` line per row. The reference interleaves this
    write with its final U·L multiply; here the multiply is `ops.gemm`
    and this is a plain egress of any block matrix — same files, one
    (n0, n1) shuffle.

    Number formatting is ``repr(float)`` (shortest round-trip), not
    Java's ``Double.toString`` — byte-identical for typical values,
    divergent for some exponent spellings (``1e-05`` vs ``1.0E-5``);
    both parse back to the same double, and ``read_inverse_text``
    normalizes via cast. Same shared-filesystem constraint as
    ``save_reference_matrix``; the parquet block sink is the scale
    path, this exists for reference-format parity.

    Returns the number of files written (= n_u * n_l).
    """
    if "://" in out_dir and not out_dir.startswith("file://"):
        raise ValueError(
            "write_inverse_text writes with task-local open(); use "
            "the parquet block sink for remote storage"
        )
    master = m.df.sparkSession.conf.get("spark.master", "")
    if master and not master.startswith("local"):
        raise RuntimeError(
            "write_inverse_text requires a shared filesystem; "
            f"master {master!r} cannot guarantee that"
        )
    os.makedirs(out_dir, exist_ok=True)
    bs, n_rows = m.block_size, m.n_rows

    def to_strides(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        """Each block row → one segment per n1 stride: (n0, n1,
        row_no, j0, vals) with vals the block's columns ≡ n1 (mod
        n_l), in ascending global column order."""
        for pdf in batches:
            out: dict[str, list] = {
                "n0": [], "n1": [], "row_no": [], "j0": [], "vals": []
            }
            for bi, bj, blk in decode_blocks(pdf):
                col0 = bj * bs
                gcols = col0 + np.arange(blk.shape[1])
                for n1 in range(n_l):
                    mask = (gcols % n_l) == n1
                    if not mask.any():
                        continue
                    sub = blk[:, mask]
                    for li in range(blk.shape[0]):
                        row_no = bi * bs + li
                        out["n0"].append(row_no % n_u)
                        out["n1"].append(n1)
                        out["row_no"].append(row_no)
                        out["j0"].append(col0)
                        out["vals"].append(sub[li].tolist())
            yield pd.DataFrame(out)

    seg_schema = (
        "n0 int, n1 int, row_no long, j0 int, vals array<double>"
    )

    def write_file(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        n0, n1 = int(key[0]), int(key[1])
        pdf = pdf.sort_values(["row_no", "j0"])
        path = os.path.join(out_dir, f"Ai.{n0}.{n1}")
        with open(path, "w") as f:
            f.write(f"0:{n_rows}:0:{n_rows}:{n_l}:{n1}\n")
            cur_row, parts = None, []
            def emit():
                if cur_row is not None:
                    f.write(
                        f"{cur_row}:"
                        + " ".join(repr(v) for v in parts)
                        + "\n"
                    )
            for row_no, vals in zip(pdf["row_no"], pdf["vals"]):
                if row_no != cur_row:
                    emit()
                    cur_row, parts = int(row_no), []
                parts.extend(float(v) for v in vals)
            emit()
        return pd.DataFrame({"path": [path], "n": [len(pdf)]})

    written = (
        m.df.mapInPandas(to_strides, seg_schema)
        .repartition(n_u * n_l, "n0", "n1")
        .groupBy("n0", "n1")
        .applyInPandas(write_file, "path string, n long")
        .count()
    )
    return int(written)


def read_inverse_text(spark: SparkSession, path: str):
    """Read reference final-inverse text files back as a cell frame
    ``(row_no BIGINT, col_no BIGINT, value DOUBLE)`` — fully
    distributed: ``spark.read.text`` + JVM split/posexplode (no
    Python in the parse path). Headers (``0:N:0:N:nL:n1``) carry the
    per-file column stride; they are joined back to the data lines by
    file name (a tiny broadcast: one row per file)."""
    import glob as globmod

    files = (
        sorted(globmod.glob(os.path.join(path, "Ai.*")))
        or sorted(globmod.glob(path))
    )
    if not files:
        raise FileNotFoundError(path)
    # header scan: one small driver read per FILE (file count = nU*nL,
    # a grid constant, not data-sized)
    meta = []
    for fp in files:
        with open(fp) as f:
            h = f.readline().strip().split(":")
        meta.append((os.path.basename(fp), int(h[4]), int(h[5])))
    meta_df = spark.createDataFrame(
        meta, "fname string, n_l int, n1 int"
    )
    lines = (
        spark.read.text(files)
        .withColumn(
            "fname",
            F.element_at(F.split(F.input_file_name(), "/"), -1),
        )
        # headers have 6 colon fields, data lines exactly 2 ("row:vals")
        .filter(F.size(F.split("value", ":")) == 2)
    )
    parsed = (
        lines.join(F.broadcast(meta_df), "fname")
        .select(
            F.split("value", ":").getItem(0).cast("bigint").alias(
                "row_no"
            ),
            F.posexplode(
                F.split(F.split("value", ":").getItem(1), " ")
            ).alias("j", "v"),
            "n_l",
            "n1",
        )
        .select(
            "row_no",
            (F.col("j").cast("bigint") * F.col("n_l") + F.col("n1"))
            .alias("col_no"),
            F.col("v").cast("double").alias("value"),
        )
    )
    return parsed
