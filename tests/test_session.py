"""Session factory: the ``SPARK_GRAFT_CPUS`` core-count override, and
the schema-pinned table reader."""

from __future__ import annotations

import pytest

from matrixinversion_spark import session
from matrixinversion_spark.profile import profiled


def test_malformed_graft_cpus_raises(spark, monkeypatch):
    for bad in ("16.0", "0", "-4", "four"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
        with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
            session.get_spark("malformed")
    # a valid setting gives local[n] and max(8, n) shuffle partitions
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    assert session._graft_cpus() == 4
    assert session._shuffle_partitions(4) == "8"
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert session._graft_cpus() is None
    assert session._shuffle_partitions(None) == "32"


def _write_table(path: str, columns: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(columns), path)


def test_second_read_table_runs_no_job(spark, tmp_path):
    _write_table(str(tmp_path / "t.parquet"), {"a": [1, 2, 3]})
    first = session.read_table(spark, str(tmp_path), "t")
    with profiled(spark, "second-read") as p:
        again = session.read_table(spark, str(tmp_path), "t")
    assert p.jobs == 0
    assert again.schema == first.schema
    assert sorted(r.a for r in again.collect()) == [1, 2, 3]


def test_rewritten_table_is_resolved_afresh(spark, tmp_path):
    """A table rewritten at the same path with another column reads
    with its new schema, and the map keeps one entry for the path."""
    path = tmp_path / "t.parquet"
    _write_table(str(path), {"a": [1, 2, 3]})
    assert session.read_table(spark, str(tmp_path), "t").columns == ["a"]
    _write_table(str(path), {"a": [4, 5], "b": ["x", "y"]})
    rewritten = session.read_table(spark, str(tmp_path), "t")
    assert rewritten.columns == ["a", "b"]
    assert sorted(rewritten.collect()) == [(4, "x"), (5, "y")]
    assert [k for k in session._SCHEMAS if k.startswith(str(tmp_path))] \
        == [str(path)]
