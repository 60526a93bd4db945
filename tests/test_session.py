"""Session factory: the ``SPARK_GRAFT_CPUS`` core-count override."""

from __future__ import annotations

import pytest

from matrixinversion_spark import session


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
