"""Registry-level tests: every query runs at sf0.001; a sample is
hash-compared against its DuckDB oracle in-process (the full gate is
scripts/check_correctness.py at sf0.01)."""

from __future__ import annotations

import os
import warnings

import duckdb
import pytest

import __spark_entry__ as entry_mod
from matrixinversion_spark.matrix.io import REFERENCE_OUT
from pyspark.sql import functions as F
from tests.conftest import SF_DIR, SF_DIR_MID

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)

# queries whose DuckDB twin is compared in-process here (fast subset;
# the driver + check_correctness cover all of them at sf0.01)
SAMPLE = [
    "q1_pricing_summary",
    "q_join_semi",
    "q_window_rank",
    "p_dedup_exact",
    "p_dedup_minhash_lsh",
    "p_knn_bruteforce",
    "p_text_quality",
]


def test_registry_shape():
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert len(qs) >= 60
    assert set(oracles) <= set(qs)
    # every query is oracle-checked — non-SQL-expressible ops use the
    # self-verifying pattern (deterministic values + ok booleans with
    # a literal/exact-side oracle)
    rows_only = set(qs) - set(oracles)
    assert rows_only == set(), rows_only


def test_read_table_events_on_vanilla_session(spark):
    """The driver's gate supplies its own SparkSession WITHOUT
    DEFAULT_CONFS; read_table must set nanosAsLong at runtime or every
    events.parquet (TIMESTAMP NANOS) read dies with PARQUET_TYPE_ILLEGAL
    (the 6-query failure cluster in CORRECTNESS_r01)."""
    from matrixinversion_spark.session import read_table

    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    try:
        df = read_table(spark, SF_DIR, "events")
        assert df.schema["ts"].dataType.typeName() == "timestamp"
        assert df.limit(1).count() == 1
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


@pytest.mark.parametrize("name", SAMPLE)
def test_query_matches_oracle(spark, name):
    from scripts.check_correctness import canon, compare

    fn = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql()[name]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR_MID}/{t}.parquet'"
        )
    verdict = compare(name, fn(spark, SF_DIR_MID).toPandas(),
                      con.execute(sql).df())
    assert verdict.startswith("OK"), verdict


@pytest.fixture(scope="module")
def seeded_tables(tmp_path_factory):
    """sf0.01 tables from the benchmark's seeded generator, one
    directory per seed, written on first use."""
    from perfbench import datagen

    dirs = {}

    def tables(seed: int) -> str:
        if seed not in dirs:
            dirs[seed] = str(tmp_path_factory.mktemp(f"seed{seed}"))
            datagen.write(dirs[seed], 0.01, seed)
        return dirs[seed]

    return tables


@pytest.mark.parametrize("name,seed", [
    ("q3_shipping_priority", 107),
    ("q5_region_revenue", 11),
    ("q5_region_revenue", 31),
])
def test_money_sums_match_oracle_bitwise(spark, seeded_tables, monkeypatch,
                                         name, seed):
    """Revenue sums whose exact value is a half-cent tie: a double sum
    rounds them either way, on either engine; exact sums do not."""
    import scripts.check_correctness as cc

    monkeypatch.setattr(cc, "STRICT", True)
    sf_dir = seeded_tables(seed)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    got = entry_mod.queries()[name](spark, sf_dir).toPandas()
    want = con.execute(entry_mod.oracle_sql()[name]).df()
    verdict = cc.compare(name, got, want)
    assert verdict.startswith("OK"), verdict


# queries that read the reference's sample block files instead of
# SF_DIR; they run wherever that directory exists
NEEDS_DIR = {
    "la_reference_ingest": REFERENCE_OUT,
    "la_reference_datasource": REFERENCE_OUT,
}


def test_all_queries_run_at_smallest_sf(spark):
    failures = {}
    absent = {
        name: path for name, path in NEEDS_DIR.items()
        if not os.path.isdir(path)
    }
    if absent:
        warnings.warn(f"not run, sample directory absent: {absent}")
    for name, fn in entry_mod.queries().items():
        if name in absent:
            continue
        try:
            fn(spark, SF_DIR).limit(5).collect()
        except Exception as e:  # noqa: BLE001
            failures[name] = f"{type(e).__name__}: {e}"
    assert not failures, failures


def test_la_residuals_pass(spark):
    qs = entry_mod.queries()
    row = qs["la_inverse_residual"](spark, SF_DIR).collect()[0]
    assert row.ok and row.identity_err_r6 == 0.0, row
    row = qs["la_lu_residual"](spark, SF_DIR).collect()[0]
    assert row.ok and row.residual_r6 == 0.0, row


def test_curation_observation_metrics(spark):
    """Observation counters must equal the direct counts — accounting
    comes from the same single pass, not a second job."""
    from matrixinversion_spark.pipeline.curation import curate_with_metrics
    from matrixinversion_spark.session import read_table
    from tests.conftest import SF_DIR

    result, obs = curate_with_metrics(spark, SF_DIR)
    rows = result.collect()
    metrics = obs.get

    d = read_table(spark, SF_DIR, "documents")
    n_input = d.count()
    n_gate = d.filter(
        (F.length("text") >= 50) & (F.size(F.split("text", " ")) >= 10)
    ).count()
    assert metrics["n_input"] == n_input
    assert metrics["n_pass_gate"] == n_gate
    assert sum(r["n_docs"] for r in rows) <= n_gate


def test_pca_matches_numpy(spark):
    """Distributed covariance + local eigh must match numpy PCA on
    the collected embeddings (eigenvalues are sign-free)."""
    import numpy as np

    from matrixinversion_spark.pipeline.similarity import (
        covariance_matrix,
        pca_top_components,
    )
    from matrixinversion_spark.session import read_table
    from tests.conftest import SF_DIR

    x = np.stack(
        [
            np.asarray(r["embedding"], dtype=np.float64)
            for r in read_table(spark, SF_DIR, "embeddings")
            .select("embedding")
            .collect()
        ]
    )
    cov_np = np.cov(x, rowvar=False, bias=True)

    rows = covariance_matrix(spark, SF_DIR).collect()
    cov = np.zeros_like(cov_np)
    for r in rows:
        cov[r["i"], r["j"]] = r["cov"]
    assert np.max(np.abs(cov - cov_np)) < 1e-9

    w, v = pca_top_components(spark, SF_DIR, k=5)
    w_np = np.sort(np.linalg.eigvalsh(cov_np))[::-1][:5]
    assert np.max(np.abs(w - w_np)) < 1e-9
    # eigenvectors defined up to sign: compare absolute projections
    for col in range(5):
        ref = np.linalg.eigh(cov_np)[1][:, np.argsort(
            np.linalg.eigvalsh(cov_np))[::-1][col]]
        assert abs(abs(np.dot(v[:, col], ref)) - 1.0) < 1e-8


def test_kmeans_matches_numpy(spark):
    """Distributed Lloyd's must track a numpy replay exactly (same
    init, same iteration count; float tolerance for partial-sum
    order)."""
    import numpy as np

    from matrixinversion_spark.pipeline.similarity import kmeans_lloyd
    from matrixinversion_spark.session import read_table
    from tests.conftest import SF_DIR

    rows = (
        read_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    rows.sort(key=lambda r: r["vec_id"])
    x = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    k, iters = 8, 3
    cents = x[:k].copy()
    for _ in range(iters):
        d2 = ((x**2).sum(1)[:, None] - 2.0 * x @ cents.T
              + (cents**2).sum(1)[None, :])
        assign = d2.argmin(1)
        inertia_np = float(d2[np.arange(len(x)), assign].sum())
        for c in range(k):
            if (assign == c).any():
                cents[c] = x[assign == c].mean(0)

    got_cents, got_inertia = kmeans_lloyd(spark, SF_DIR, k=k, iters=iters)
    assert np.max(np.abs(got_cents - cents)) < 1e-9
    assert abs(got_inertia - inertia_np) < 1e-6 * max(1.0, inertia_np)


def test_approx_percentile_error_bound(spark):
    """percentile_approx must land within 1% of the exact quantile at
    accuracy=10000 — the query self-verifies via its ``ok`` column."""
    rows = entry_mod.queries()["q_approx_percentile"](
        spark, SF_DIR
    ).collect()
    assert rows
    for r in rows:
        assert r["ok"] is True, r
        assert r["p50_exact"] <= r["p95_exact"], r
