"""``profile.profiled``: the one job/stage/task counter, checked
against the scheduler's own job-id counter, and the job-group
contract it relies on — every job the matrix recursions submit runs
on the caller's thread, inside the caller's group."""

from __future__ import annotations

import numpy as np
import pytest

from matrixinversion_spark.matrix import inverse as invmod
from matrixinversion_spark.matrix import lu as lumod
from matrixinversion_spark.matrix.core import BlockMatrixFrame
from matrixinversion_spark.profile import profiled
from tests.conftest import SF_DIR


def _submitted(spark) -> int:
    """Jobs the DAG scheduler has ever numbered, read synchronously
    and whatever thread or group submitted them — the reference the
    group count is checked against."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_profiled_counts_every_job_of_a_query(spark):
    import __spark_entry__ as entry_mod

    query = entry_mod.queries()["q1_pricing_summary"]
    query(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    j0 = _submitted(spark)
    with profiled(spark, "q1") as p:
        query(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    assert p.jobs >= 2
    assert p.jobs == _submitted(spark) - j0
    assert p.jobs <= p.stages <= p.tasks
    assert p.wall_s > 0


def test_nested_scope_restores_the_outer_group(spark):
    sc = spark.sparkContext
    one_job = sc.parallelize(range(4), 2).count
    with profiled(spark, "outer") as outer:
        group = sc.getLocalProperty("spark.jobGroup.id")
        with profiled(spark, "inner") as inner:
            assert sc.getLocalProperty("spark.jobGroup.id") != group
            one_job()
        assert sc.getLocalProperty("spark.jobGroup.id") == group
        assert sc.getLocalProperty("spark.job.description") == "outer"
        one_job()
        one_job()
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    assert (inner.jobs, outer.jobs) == (1, 2)
    assert (inner.stages, inner.tasks) == (1, 2)


# Diagonally dominant, so LU needs no pivoting to stay well scaled.
_A = np.random.default_rng(3).random((32, 32)) + 32 * np.eye(32)


# The smallest recursions with two independent halves per level,
# built and executed: a triangular inverse two levels deep, and an LU
# three levels deep (8 blocks, one-block leaves), whose leaves also
# collect their pivots while it is built. (A lazy checkpoint runs no
# job in the matrix session, so building alone submits none for the
# triangular inverses.)
@pytest.mark.parametrize("build, a_np", [
    pytest.param(lambda t: invmod.inverse_upper(t, 4),
                 np.triu(_A[:16, :16]), id="inverse_upper"),
    pytest.param(lambda t: invmod.inverse_lower_unit(t, 4),
                 np.tril(_A[:16, :16], -1) + np.eye(16),
                 id="inverse_lower_unit"),
    pytest.param(lambda t: lumod.lu(t, 4)[1], _A, id="lu",
                 marks=pytest.mark.slow),
])
def test_recursion_jobs_land_in_the_callers_group(spark, build, a_np):
    a = BlockMatrixFrame.from_numpy(spark, a_np, 4)
    a.df.count()
    j0 = _submitted(spark)
    with profiled(spark, "recursion") as p:
        build(a).df.write.format("noop").mode("overwrite").save()
    assert p.jobs > 0
    assert p.jobs == _submitted(spark) - j0
