"""The matrix session: every BlockMatrixFrame runs in one AQE-off
child session of the caller's, whatever the caller's conf, and each
matrix exchange takes its partition count from the blocks it
produces."""

from __future__ import annotations

import os
import re

import numpy as np
import pytest

import __spark_entry__ as entry_mod
from matrixinversion_spark.matrix import inverse as invmod
from matrixinversion_spark.matrix import ops
from matrixinversion_spark.matrix.core import (
    BLOCK_SCHEMA, PARTITION_BYTES, BlockMatrixFrame, data_partitions,
)
from matrixinversion_spark.matrix.io import REFERENCE_OUT
from matrixinversion_spark.profile import profiled
from matrixinversion_spark.session import matrix_session
from tests.conftest import SF_DIR

_CALLER_CONFS = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")


def _executed_plan(df) -> str:
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


def _frame(spark, n_rows, n_cols, bs, seed):
    a = np.random.default_rng(seed).random((n_rows, n_cols))
    return a, BlockMatrixFrame.from_numpy(spark, a, block_size=bs)


def test_matrix_session_is_one_aqe_off_child(spark):
    ms = matrix_session(spark)
    assert ms is not spark
    assert matrix_session(spark) is ms
    assert matrix_session(ms) is ms
    assert ms.sparkContext is spark.sparkContext
    assert ms.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_constructors_build_in_the_matrix_session(spark):
    ms = matrix_session(spark)
    for m in (
        BlockMatrixFrame.from_numpy(spark, np.eye(4), block_size=2),
        BlockMatrixFrame.random_uniform(spark, 4, block_size=2),
        BlockMatrixFrame.identity(spark, 4, block_size=2),
    ):
        assert m.df.sparkSession is ms


def test_from_blocks_rehomes_a_caller_plan(spark):
    caller = spark.createDataFrame(
        [(0, 0, 2, 2, [1.0, 2.0, 3.0, 4.0]), (1, 1, 1, 1, [5.0])],
        BLOCK_SCHEMA,
    )
    m = BlockMatrixFrame.from_blocks(caller, 3, 3, 2)
    assert m.df.sparkSession is matrix_session(spark)
    assert not any(t.name.startswith("matrix_")
                   for t in spark.catalog.listTables("global_temp"))
    np.testing.assert_array_equal(
        m.to_numpy(), [[1, 2, 0], [3, 4, 0], [0, 0, 5]])


def test_lazy_checkpoint_runs_no_job(spark):
    # under AQE, localCheckpoint plans the adaptive plan and so runs
    # the frame's shuffle stages when the checkpoint is built
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    a_np, a = _frame(spark, 64, 64, 16, 1)
    b_np, b = _frame(spark, 64, 64, 16, 2)
    with profiled(spark, "lazy-checkpoint") as p:
        c = ops.multiply(a, b).checkpoint()
    assert p.jobs == 0
    np.testing.assert_allclose(c.to_numpy(), a_np @ b_np, atol=1e-12)


def test_from_numpy_partitions_by_data(spark):
    # 16 blocks of 32 KB: one partition, at any core count
    _, m = _frame(spark, 256, 256, 64, 3)
    assert m.df.rdd.getNumPartitions() == 1
    assert data_partitions(256, 256, 64) == 1
    # one partition per PARTITION_BYTES, at most one per block
    side = 8192  # 512 MB of payload
    assert data_partitions(side, side, 1024) == \
        8 * side * side // PARTITION_BYTES == 8
    assert data_partitions(side, side, 4096) == 4
    assert data_partitions(10**6, 10**6, 2**14) == 62**2


@pytest.mark.parametrize("bias", [False, True])
def test_gemm_has_one_hash_exchange_per_output_block(spark, bias):
    a_np, a = _frame(spark, 48, 32, 16, 4)   # 3×2 grid
    b_np, b = _frame(spark, 32, 64, 16, 5)   # 2×4 grid
    c_np, c = _frame(spark, 48, 64, 16, 6) if bias else (0.0, None)
    g = ops.gemm(a, b, c=c, alpha=-1.0)
    plan = _executed_plan(g.df)
    # one partition per output block: the 3×4 grid of C
    assert plan.count("Exchange") == 1, plan
    assert re.search(r"Exchange hashpartitioning\(bi#\d+, bj#\d+, 12\)",
                     plan), plan
    np.testing.assert_allclose(g.to_numpy(), c_np - a_np @ b_np,
                               atol=1e-12)


def test_leaf_task_runs_in_one_partition(spark):
    a_np, a = _frame(spark, 32, 32, 8, 7)
    (out,) = ops.leaf_task(a, lambda x: (2 * x,), [(32, 32, "full")])
    plan = _executed_plan(out.df)
    assert plan.count("Exchange") == 1, plan
    assert "Exchange SinglePartition" in plan, plan
    np.testing.assert_allclose(out.to_numpy(), 2 * a_np)


def test_matrix_plans_have_no_adaptive_plan(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    a = BlockMatrixFrame.random_uniform(spark, 64, block_size=16, seed=8)
    plan = _executed_plan(invmod.inverse(a, leaf_size=32).df)
    assert "AdaptiveSparkPlan" not in plan, plan
    assert "Exchange hashpartitioning" in plan
    # la_matmul_coo builds its matrix from lineitem through the seam:
    # the lineitem plan ran in the caller's session, the gemm runs here
    df = entry_mod.queries()["la_matmul_coo"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert "AdaptiveSparkPlan" not in plan, plan
    assert "Scan ExistingRDD" in plan and "FileScan" not in plan, plan


def test_la_queries_leave_the_caller_conf_unchanged(spark):
    before = {k: spark.conf.get(k) for k in _CALLER_CONFS}
    ran = []
    for name, fn in entry_mod.queries().items():
        if not name.startswith("la_"):
            continue
        if name.startswith("la_reference_") and not os.path.isdir(
                REFERENCE_OUT):
            continue
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        after = {k: spark.conf.get(k) for k in _CALLER_CONFS}
        assert after == before, (name, after)
        ran.append(name)
    assert len(ran) >= 16, ran
