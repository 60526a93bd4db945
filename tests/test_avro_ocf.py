"""Avro OCF source/sink: codec round-trips across the full type
surface, container framing (both codecs), partition-parallelism
round-trip, and the registered query vs the parquet original."""

from __future__ import annotations

import datetime as dt
import io
from decimal import Decimal

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql import types as T

from matrixinversion_spark.relational.avro_ocf import (
    avro_to_spark_schema,
    read_avro,
    read_ocf_header,
    spark_to_avro_schema,
    write_avro,
    write_ocf,
    iter_ocf_rows,
)

from .conftest import SF_DIR


def _roundtrip_local(spark, schema_ddl, rows, codec="deflate", tmp_path=None):
    st = T.StructType.fromDDL(schema_ddl)
    avsc = spark_to_avro_schema(st)
    p = str(tmp_path / "f.avro")
    with open(p, "wb") as f:
        n = write_ocf(f, avsc, rows, codec=codec, block_rows=3)
    assert n == len(rows)
    back = list(iter_ocf_rows(p))
    assert avro_to_spark_schema(avsc) == st
    return back


def test_codec_all_primitives(spark, tmp_path):
    rows = [
        (
            True, 7, -(1 << 60), 1.5, 2.25, "héllo", b"\x00\xff",
            dt.date(1992, 1, 2),
            dt.datetime(2001, 2, 3, 4, 5, 6, 789000),
            Decimal("12345.67"),
        ),
        (
            False, -1, 0, -0.5, 1e300, "", b"",
            dt.date(1969, 12, 31),  # pre-epoch
            dt.datetime(1955, 11, 5, 6, 0, 0),
            Decimal("-0.01"),
        ),
    ]
    ddl = (
        "b boolean, i int, l bigint, f float, d double, s string, "
        "bin binary, dt date, ts timestamp, dec decimal(10,2)"
    )
    back = _roundtrip_local(spark, ddl, rows, tmp_path=tmp_path)
    assert back == [tuple(r) for r in rows]


def test_codec_nulls_arrays_maps_structs(spark, tmp_path):
    ddl = (
        "s string, arr array<int>, m map<string,double>, "
        "st struct<x:int,y:string>"
    )
    rows = [
        ("a", [1, 2, None], {"k": 1.5, "j": None}, (1, "one")),
        (None, None, None, None),
        ("c", [], {}, (None, None)),
    ]
    back = _roundtrip_local(spark, ddl, rows, tmp_path=tmp_path)
    assert back == rows


def test_codec_null_codec_and_varint_edges(spark, tmp_path):
    # zigzag varint edges: int64 extremes and the 7-bit boundaries
    vals = [0, -1, 1, 63, 64, -64, -65, (1 << 63) - 1, -(1 << 63)]
    rows = [(v,) for v in vals]
    back = _roundtrip_local(
        spark, "v bigint", rows, codec="null", tmp_path=tmp_path
    )
    assert [r[0] for r in back] == vals


def test_header_metadata(spark, tmp_path):
    st = T.StructType.fromDDL("x int")
    avsc = spark_to_avro_schema(st)
    p = tmp_path / "h.avro"
    with open(p, "wb") as f:
        write_ocf(f, avsc, [(1,)], codec="deflate")
    with open(p, "rb") as f:
        sch, codec, sync, off = read_ocf_header(f)
    assert codec == "deflate" and len(sync) == 16
    assert sch["fields"][0]["name"] == "x"
    with pytest.raises(ValueError, match="not an Avro"):
        read_ocf_header(io.BytesIO(b"PAR1xxxx"))


def test_spark_roundtrip_parallelism(spark, tmp_path):
    """Writer emits one file per partition; the reader gets one input
    partition per file — write parallelism round-trips."""
    df = (
        spark.range(0, 1000)
        .repartition(5)
        .select(
            F.col("id"),
            (F.col("id") * 0.5).alias("v"),
            F.concat(F.lit("s"), F.col("id")).alias("s"),
        )
    )
    out = str(tmp_path / "avro_dir")
    write_avro(df, out)
    back = read_avro(spark, out)
    assert back.rdd.getNumPartitions() == 5
    assert back.count() == 1000
    assert back.agg(F.sum("id"), F.round(F.sum("v"), 1)).collect()[0] == (
        499500,
        249750.0,
    )
    got = {r["s"] for r in back.filter(F.col("id") < 3).collect()}
    assert got == {"s0", "s1", "s2"}


def test_spark_roundtrip_nullable_timestamp(spark, tmp_path):
    df = spark.createDataFrame(
        [
            (1, dt.datetime(2020, 6, 1, 12, 30, 0, 250000), "a"),
            (2, None, None),
        ],
        "id bigint, ts timestamp, s string",
    )
    out = str(tmp_path / "ts_avro")
    write_avro(df, out)
    back = read_avro(spark, out).orderBy("id").collect()
    assert back[0]["ts"] == dt.datetime(2020, 6, 1, 12, 30, 0, 250000)
    assert back[1]["ts"] is None and back[1]["s"] is None


def test_spark_roundtrip_nested_types(spark, tmp_path):
    # the writer adapts Arrow rows, where a map column arrives as a
    # list of (key, value) pairs, not a dict
    rows = [
        (1, {"k": 1.0, "j": None}, (1, "one"), [1, None, 3]),
        (2, None, None, None),
        (3, {}, (None, None), []),
    ]
    df = spark.createDataFrame(
        rows,
        "id bigint, m map<string,double>, st struct<x:int,y:string>, "
        "arr array<int>",
    )
    out = str(tmp_path / "nested_avro")
    write_avro(df, out)
    back = read_avro(spark, out).orderBy("id").collect()
    assert [
        (r["id"], r["m"], None if r["st"] is None else tuple(r["st"]),
         r["arr"])
        for r in back
    ] == rows


def test_registered_query_matches_parquet(spark):
    from matrixinversion_spark.registry import QUERIES
    from matrixinversion_spark.session import read_table

    got = {
        r["l_returnflag"]: r
        for r in QUERIES["q_avro_roundtrip"](spark, SF_DIR).collect()
    }
    exp = {
        r["l_returnflag"]: r
        for r in read_table(spark, SF_DIR, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("l_quantity").cast("bigint").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .collect()
    }
    assert set(got) == set(exp)
    for k in exp:
        assert got[k]["n_rows"] == exp[k]["n_rows"]
        assert got[k]["sum_qty"] == exp[k]["sum_qty"]
        assert abs(got[k]["sum_price"] - exp[k]["sum_price"]) < 1e-6


def test_overwrite_clears_stale_parts(spark, tmp_path):
    """Rewriting with fewer partitions must not leave orphan part
    files for the reader to pick up."""
    out = str(tmp_path / "ow")
    write_avro(spark.range(0, 100).repartition(5), out)
    write_avro(spark.range(100, 110).repartition(2), out)
    back = read_avro(spark, out)
    assert back.count() == 10
    assert back.agg(F.min("id"), F.max("id")).collect()[0] == (100, 109)


def test_empty_dataframe_roundtrip(spark, tmp_path):
    """Zero-row writes produce valid header-only container files the
    reader handles (0 blocks)."""
    out = str(tmp_path / "empty")
    df = spark.createDataFrame([], "id bigint, s string")
    write_avro(df, out)
    back = read_avro(spark, out)
    assert back.count() == 0
    assert [f.name for f in back.schema.fields] == ["id", "s"]


def test_unicode_and_long_strings(spark, tmp_path):
    big = "λσπ≥" * 5000  # multi-byte utf-8, 60 KB
    df = spark.createDataFrame(
        [(1, big), (2, "日本語テキスト"), (3, "emoji 🎉🚀")],
        "id bigint, s string",
    )
    out = str(tmp_path / "uni")
    write_avro(df, out)
    back = {r["id"]: r["s"] for r in read_avro(spark, out).collect()}
    assert back[1] == big and back[2] == "日本語テキスト"
    assert back[3] == "emoji 🎉🚀"


def test_with_parse_avro_bytes_roundtrip(spark):
    """Kafka-payload shape: row -> single-datum avro binary ->
    struct; exact int64 (past 2^53), null-safe, type-preserving
    (mapInArrow, no pandas NaN coercion)."""
    from matrixinversion_spark.relational.avro_ocf import (
        parse_avro_bytes,
        with_avro_bytes,
    )

    big = (1 << 60) + 7  # would corrupt under float64 coercion
    df = spark.createDataFrame(
        [(1, big, "x", 1.5), (2, None, None, -0.25)],
        "id long, n long, s string, v double",
    )
    enc = with_avro_bytes(df, ["n", "s", "v"], out_col="avro")
    rows = {r["id"]: r["avro"] for r in enc.collect()}
    assert isinstance(rows[1], (bytes, bytearray))
    st = T.StructType(
        [
            T.StructField("n", T.LongType(), True),
            T.StructField("s", T.StringType(), True),
            T.StructField("v", T.DoubleType(), True),
        ]
    )
    back = parse_avro_bytes(
        enc.select("id", "avro"), "avro", st, out_col="p"
    ).collect()
    got = {r["id"]: r["p"] for r in back}
    assert got[1]["n"] == big and got[1]["s"] == "x"
    assert got[2]["n"] is None and got[2]["v"] == -0.25


def test_user_read_schema_projected_by_name(spark, tmp_path):
    """A user-supplied read schema resolves by NAME (Avro schema
    resolution): reordered and subset schemas read correctly, and a
    requested field absent from the file yields nulls."""
    out = str(tmp_path / "proj")
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -2.0)], "id bigint, s string, v double"
    )
    write_avro(df, out)
    from matrixinversion_spark.relational.avro_ocf import (
        register_avro_datasource,
    )

    register_avro_datasource(spark)
    # reordered + subset
    got = (
        spark.read.format("avro_ocf")
        .schema("v double, id bigint")
        .load(out)
        .orderBy("id")
        .collect()
    )
    assert [tuple(r) for r in got] == [(1.5, 1), (-2.0, 2)]
    # extra requested field → nulls
    got2 = (
        spark.read.format("avro_ocf")
        .schema("id bigint, missing string")
        .load(out)
        .orderBy("id")
        .collect()
    )
    assert [tuple(r) for r in got2] == [(1, None), (2, None)]
