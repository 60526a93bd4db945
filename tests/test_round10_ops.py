"""Round-10 hardening tests: the fused-inverse plan-shape pin (job
fingerprint + no driver collect), the LSH mega-bucket guard's
oversized-bucket report surfacing, and the guarded release report."""

from __future__ import annotations

import inspect

import numpy as np
import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_DIR


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestFusedInversePlanPin:
    """VERDICT r9 #1: the −61% fused-inverse win (10 → 5 jobs at
    N=2048) gets a regression tripwire — a silent re-introduction of
    a driver-side pivot collect or a per-level blocking stage cannot
    land without failing here."""

    def test_no_driver_collect_in_fused_path(self):
        # The fused sweep's invariant is structural: NO pivot (or any
        # block data) crosses to the driver during plan construction.
        # Every driver transfer in pyspark goes through collect() /
        # toPandas() / toLocalIterator(); none may appear in the
        # fused recursion's source.
        from matrixinversion_spark.matrix import inverse as invmod
        from matrixinversion_spark.matrix import ops

        for fn in (
            invmod._lu_inv_rec,
            ops.leaf_task,
            invmod.inverse,
        ):
            src = inspect.getsource(fn)
            for marker in (".collect(", ".toPandas(", ".toLocalIterator("):
                assert marker not in src, (
                    f"{fn.__name__} gained a driver transfer "
                    f"({marker}) — the fused one-job-per-sweep plan "
                    "shape is broken"
                )

    def test_job_fingerprint_and_residual_2048(self, spark):
        # Exact bench geometry (bench.py INVERSE_*): N=2048, 1024
        # blocks, leaf 1024, AQE off, shuffle partitions = 2·grid.
        # The whole inverse must execute as ONE Spark job, the noop
        # write: every gemm is a routed exchange, a stage of that job.
        # A gemm built on a join ran 5 (with AQE off each small join
        # side became a broadcast, collected in a job of its own), the
        # r8 two-sweep pipeline 10.
        from matrixinversion_spark.matrix import inverse as invmod
        from matrixinversion_spark.matrix import ops
        from matrixinversion_spark.matrix.core import BlockMatrixFrame

        n, bs, leaf = 2048, 1024, 1024
        tracker = spark.sparkContext.statusTracker()

        def max_job():
            ids = tracker.getJobIdsForGroup(None)
            return max(ids) if ids else -1

        aqe = spark.conf.get("spark.sql.adaptive.enabled")
        parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(2 * (n // bs) ** 2)
        )
        try:
            a = BlockMatrixFrame.random_uniform(
                spark, n, block_size=bs, seed=45
            ).persist()
            a.df.count()
            j0 = max_job()
            ainv = invmod.inverse(a, leaf_size=leaf)
            ainv.df.write.format("noop").mode("overwrite").save()
            jobs = max_job() - j0
            assert jobs == 1, (
                f"fused inverse at N={n} ran {jobs} Spark jobs "
                "(pinned: 1) — plan shape regressed"
            )
            # 3e-11-class residual at N=2048 (BENCH_NOTES r9); the
            # gate is 1e-8·N with margin for rougher conditioning.
            err = ops.max_abs_diff_from_identity(ops.multiply(a, ainv))
            assert err < 1e-8 * n, f"‖A·A⁻¹−I‖∞ = {err}"
            ainv.release()
            a.unpersist()
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
            spark.conf.set("spark.sql.shuffle.partitions", parts)

    def test_inverse_releases_intermediate_caches(self, spark):
        # ADVICE r9: repeated inversions in one session must not
        # accrete persisted frames. to_numpy() is the materialization
        # point and must leave the retained list empty and the
        # intermediates unpersisted.
        from matrixinversion_spark.matrix import inverse as invmod
        from matrixinversion_spark.matrix.core import BlockMatrixFrame

        rng = np.random.default_rng(7)
        m = rng.standard_normal((256, 256)) + 256 * np.eye(256)
        bm = BlockMatrixFrame.from_numpy(spark, m, block_size=64)
        ainv = invmod.inverse(bm, leaf_size=64)
        assert len(ainv.retained) > 0, "inverse() no longer tracks caches"
        tracked = list(ainv.retained)
        got = ainv.to_numpy()
        np.testing.assert_allclose(got, np.linalg.inv(m), atol=1e-8)
        assert ainv.retained == [], "to_numpy did not release"
        assert all(
            d.storageLevel.useMemory is False
            and d.storageLevel.useDisk is False
            for d in tracked
        ), "an intermediate frame is still persisted after release()"


class TestGuardReportSurfacing:
    """ADVICE r9 / VERDICT #2: the mega-bucket guard's refused
    buckets must reach callers and the release report — dropped
    candidate mass is never silent."""

    def test_minhash_pairs_with_report(self, spark):
        from matrixinversion_spark.pipeline.dedup import (
            minhash_lsh_pairs,
            minhash_signatures,
        )

        mega = [(i, "alpha beta gamma delta epsilon zeta") for i in range(20)]
        base = "red orange yellow green blue indigo violet umber"
        pair = [(100, base + " one"), (101, base + " two")]
        sig = minhash_signatures(_docs(spark, mega + pair))
        pairs, refused = minhash_lsh_pairs(
            sig, max_bucket=10, with_report=True
        )
        rep = refused.collect()
        assert rep, "mega-bucket refusals did not reach the caller"
        assert set(refused.columns) == {"band_id", "bkey", "n_members"}
        assert all(r["n_members"] == 20 for r in rep)
        ids = {
            (r["id_a"], r["id_b"]) for r in pairs.collect()
        }
        assert (100, 101) in ids  # legit pair survives the guard

    def test_with_report_empty_when_guard_off(self, spark):
        from matrixinversion_spark.pipeline.dedup import (
            minhash_lsh_pairs,
            minhash_signatures,
        )

        sig = minhash_signatures(
            _docs(spark, [(1, "a b c d e f"), (2, "a b c d e g")])
        )
        _pairs, refused = minhash_lsh_pairs(sig, with_report=True)
        assert refused.count() == 0
        assert set(refused.columns) == {"band_id", "bkey", "n_members"}

    def test_near_dup_leakage_with_report(self, spark):
        from matrixinversion_spark.pipeline.corpus import near_dup_leakage

        mega = [
            (i, "alpha beta gamma delta epsilon zeta",
             "train" if i % 2 == 0 else "test")
            for i in range(20)
        ]
        docs = spark.createDataFrame(
            mega, "doc_id long, text string, split string"
        )
        out, refused = near_dup_leakage(
            docs, max_bucket=10, with_report=True
        )
        assert refused.count() > 0
        # all the identical docs sit in refused buckets, so the audit
        # reports zero leaks — exactly the silent-refusal hazard the
        # surfaced report exists to expose
        rows = {r["split"]: r for r in out.collect()}
        assert rows["test"]["n_leaked"] == 0

    def test_guarded_release_report(self, spark):
        from matrixinversion_spark.pipeline.corpus import (
            guarded_release_report,
            p_release_report,
        )

        report, refused = guarded_release_report(spark, SF_DIR, max_bucket=2)
        rows = report.collect()
        assert "n_neardup_refused_docs" in report.columns
        base_cols = p_release_report(spark, SF_DIR).columns
        assert report.columns == base_cols + ["n_neardup_refused_docs"]
        assert set(refused.columns) == {"band_id", "bkey", "n_members"}
        n_refused_docs = sum(r["n_neardup_refused_docs"] for r in rows)
        if refused.count() > 0:
            assert n_refused_docs > 0, (
                "buckets were refused but no split discloses them"
            )
        # a permissive cap refuses nothing and the report degrades to
        # the registered release report plus an all-zero column
        report2, refused2 = guarded_release_report(
            spark, SF_DIR, max_bucket=10_000_000
        )
        assert refused2.count() == 0
        assert all(
            r["n_neardup_refused_docs"] == 0 for r in report2.collect()
        )


class TestSignatureCacheSessionKey:
    def test_cache_key_is_stable_identity(self, spark):
        from matrixinversion_spark.pipeline import dedup

        dedup.clear_signature_cache()
        s1 = dedup.shared_doc_signatures(spark, SF_DIR)
        s2 = dedup.shared_doc_signatures(spark, SF_DIR)
        assert s1 is s2
        (key, _), = list(dedup._SIG_CACHE.items())[:1] or [((None, None), None)]
        assert spark.sparkContext.applicationId in key[0]
        dedup.clear_signature_cache()


class TestBoilerplateLineDedup:
    """VERDICT r9 #3: RefinedWeb-style line-level dedup — boilerplate
    lines repeated across documents are dropped from EVERY document
    (unlike text.p_dedup_lines' keep-first chunk dedup)."""

    def test_planted_boilerplate_removed_everywhere(self, spark):
        from matrixinversion_spark.pipeline.dedup import line_dedup

        footer = "copyright acme corp all rights reserved"
        rows = []
        for d in range(4):  # footer in 4 docs -> >= LINE_DUP_K=3
            rows.append((d, 0, f"unique body text of document {d}"))
            rows.append((d, 1, footer))
        rows.append((9, 0, "a fully unique document"))
        lines = spark.createDataFrame(
            rows, "doc_id long, pos int, line string"
        )
        out = {r["doc_id"]: r for r in line_dedup(lines).collect()}
        for d in range(4):
            assert out[d]["n_lines"] == 2
            assert out[d]["n_kept"] == 1  # footer dropped, body kept
        assert out[9]["n_kept"] == 1 == out[9]["n_lines"]
        # cleaned text is the md5 of the surviving lines in order
        import hashlib

        exp = hashlib.md5(b"a fully unique document").hexdigest()
        assert out[9]["kept_fp"] == exp

    def test_doc_of_pure_boilerplate_survives_with_zero_lines(self, spark):
        from matrixinversion_spark.pipeline.dedup import line_dedup

        nav = "home about contact privacy"
        rows = [(d, 0, nav) for d in range(5)]
        lines = spark.createDataFrame(
            rows, "doc_id long, pos int, line string"
        )
        out = line_dedup(lines).collect()
        assert len(out) == 5  # every doc still reported
        import hashlib

        empty = hashlib.md5(b"").hexdigest()
        assert all(
            r["n_kept"] == 0 and r["kept_fp"] == empty for r in out
        )

    def test_within_doc_repeats_do_not_trigger_threshold(self, spark):
        # the threshold counts DISTINCT documents: a doc repeating its
        # own line 10 times is repetition (p_text_repetition's job),
        # not cross-corpus boilerplate
        from matrixinversion_spark.pipeline.dedup import line_dedup

        rows = [(1, i, "la la la") for i in range(10)]
        rows += [(2, 0, "other text")]
        lines = spark.createDataFrame(
            rows, "doc_id long, pos int, line string"
        )
        out = {r["doc_id"]: r for r in line_dedup(lines).collect()}
        assert out[1]["n_kept"] == 10


def test_ppjoin_registered_query_lowers_to_takeordered(spark):
    """The bounded registered PPJoin answer must execute as a
    per-partition heap (TakeOrderedAndProject), never a global Sort
    — the whole point of bounding it was killing the pair-egress
    wall without touching the emitter upstream."""
    import matrixinversion_spark.pipeline.dedup  # noqa: F401 — registers
    from matrixinversion_spark.registry import QUERIES

    df = QUERIES["p_set_similarity_ppjoin"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:800]
    assert plan.lstrip().startswith(
        ("TakeOrderedAndProject", "AdaptiveSparkPlan")
    )


class TestDomainQuota:
    """Hard per-domain cap — two-phase salted rank must equal the
    naive single-window rank exactly, and each domain keeps
    min(k, n_docs)."""

    def _docs(self, spark, sizes):
        rows = []
        i = 0
        for dom, n in sizes.items():
            for _ in range(n):
                rows.append((i, dom))
                i += 1
        return spark.createDataFrame(rows, "doc_id long, source string")

    def test_two_phase_equals_single_window(self, spark):
        from pyspark.sql import Window
        from matrixinversion_spark.pipeline.curation import domain_quota

        docs = self._docs(
            spark, {"mega": 3000, "mid": 40, "tiny": 3}
        )
        got = {
            (r["doc_id"], r["source"], r["quota_rank"])
            for r in domain_quota(docs, k=10, salt_buckets=7).collect()
        }
        w = Window.partitionBy("source").orderBy(
            F.md5(F.col("doc_id").cast("string")), "doc_id"
        )
        want = {
            (r["doc_id"], r["source"], r["quota_rank"])
            for r in docs.withColumn(
                "quota_rank", F.row_number().over(w).cast("bigint")
            )
            .filter(F.col("quota_rank") <= 10)
            .collect()
        }
        assert got == want

    def test_keeps_min_k_n_per_domain(self, spark):
        from matrixinversion_spark.pipeline.curation import domain_quota

        docs = self._docs(spark, {"a": 25, "b": 10, "c": 2})
        counts = {
            r["source"]: r["n"]
            for r in domain_quota(docs, k=10)
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert counts == {"a": 10, "b": 10, "c": 2}

    def test_deterministic_across_runs(self, spark):
        from matrixinversion_spark.pipeline.curation import domain_quota

        docs = self._docs(spark, {"a": 100}).repartition(8)
        one = sorted(r["doc_id"] for r in domain_quota(docs, k=5).collect())
        two = sorted(r["doc_id"] for r in domain_quota(docs, k=5).collect())
        assert one == two and len(one) == 5


class TestTokenBudgetSelect:
    """Greedy token-budget selection — distributed prefix_sum path
    must equal a naive single-window cumsum, and the budget is an
    inclusive cut."""

    def test_matches_naive_window_and_cut_is_tight(self, spark):
        import tempfile

        from pyspark.sql import Window
        from matrixinversion_spark.pipeline.corpus import (
            TB_BUDGET, p_token_budget_select,
        )

        rows = [
            # doc i: i+1 repeats of one word + i distinct fillers ->
            # varying ratio and n_tokens
            (i, " ".join(["w"] * (i + 1) + [f"f{j}" for j in range(i)]))
            for i in range(400)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        with tempfile.TemporaryDirectory() as td:
            df.write.parquet(f"{td}/documents.parquet")
            got = {
                (r["doc_id"], r["n_tokens"], r["cum_tokens"])
                for r in p_token_budget_select(spark, td).collect()
            }
        ts = F.split("text", " ")
        t = df.select(
            "doc_id",
            F.size(ts).cast("bigint").alias("n_tokens"),
            (F.size(F.array_distinct(ts)).cast("double") / F.size(ts))
            .alias("ratio"),
        )
        w = (
            Window.orderBy(F.col("ratio").desc(), "doc_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        naive = t.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        want = {
            (r["doc_id"], r["n_tokens"], r["cum_tokens"])
            for r in naive.filter(F.col("cum_tokens") <= TB_BUDGET).collect()
        }
        assert got == want and got
        # inclusive tight cut: the best EXCLUDED doc would overflow
        spent = max(c for _, _, c in got)
        nxt = (
            naive.filter(F.col("cum_tokens") > TB_BUDGET)
            .orderBy("cum_tokens")
            .first()
        )
        assert nxt["cum_tokens"] > TB_BUDGET >= spent
