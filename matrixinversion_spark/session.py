"""SparkSession factory with scale-conscious defaults.

The reference hand-tunes physical execution (par_num=128 fan-out cap,
~1 GB per-task strips, replication-20 hot files — see SURVEY.md §4).
Here the equivalent knobs are Spark confs: AQE for runtime re-planning
(skew joins, dynamic coalesce), a shuffle-partition count sized to the
test harness, and Arrow for the few pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the local[32]/128GiB test harness; on a real
# cluster these are overridden by spark-submit conf (shuffle partitions
# ~2-3x total cores, maxPartitionBytes 128-256MB).


def _graft_cpus() -> int | None:
    """The local core count ``SPARK_GRAFT_CPUS`` names, or None when
    it is unset — the one read of the variable: the master URL and the
    shuffle-partition default both follow it. Anything but a positive
    integer (``16.0``, ``0``, a typo) raises instead of reaching the
    JVM as an unparsable ``local[...]`` master (ADVICE r13)."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return None
    try:
        cpus = int(raw)
    except ValueError:
        cpus = 0
    if cpus < 1:
        raise ValueError(
            f"SPARK_GRAFT_CPUS={raw!r} is not a positive integer"
        )
    return cpus


def _shuffle_partitions(cpus: int | None) -> str:
    """Scale-adaptive shuffle-partition default (r13 optimization
    round, guide §2.2/§2.5): derive from the harness core count
    instead of pinning the local[32] constant — the driver also runs
    the bench at LOWER core counts to measure scaling, where 32
    partitions of a tiny shuffle are pure task overhead. Floor of 8
    keeps AQE coalescing meaningful; at SPARK_GRAFT_CPUS=32 this is
    exactly the historical 32, so the 32-core bench fingerprints are
    unchanged; unset, it is that constant. On a real cluster the
    submit conf overrides this (2-3x total cores), as documented
    above."""
    return "32" if cpus is None else str(max(8, cpus))


DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    # TESTDATA's events.ts is parquet TIMESTAMP(NANOS), which Spark has
    # no native type for; read as int64 nanos and convert in read_table
    # (truncating to micros — exactly what DuckDB's µs TIMESTAMP does).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.sql.session.timeZone": "UTC",
    # local mode: keep the UI off (startup speed, no port contention)
    "spark.ui.enabled": "false",
}

# Escape hatch for JVM-level flags (local mode: driver JVM hosts the
# executors, so driver opts cover both). Motivating case: the N=16384
# run SIGSEGV'd inside OpenJDK 17's AVX-512 arraycopy stub
# (`jint_disjoint_arraycopy_avx3`, hs_err in BENCH_NOTES r5);
# SPARK_GRAFT_JAVA_OPTS="-XX:UseAVX=2" forces the AVX2 stubs, which
# have no such failure mode, at ~0 cost for shuffle-bound work.
_JAVA_OPTS = os.environ.get("SPARK_GRAFT_JAVA_OPTS")
if _JAVA_OPTS:
    DEFAULT_CONFS["spark.driver.extraJavaOptions"] = _JAVA_OPTS


def get_spark(app_name: str = "matrixinversion_spark",
              master: str | None = None,
              extra_confs: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied."""
    cpus = _graft_cpus()
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus or '*'}]")
    builder = builder.config("spark.sql.shuffle.partitions",
                             _shuffle_partitions(cpus))
    for k, v in DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one TESTDATA table, normalizing nano-timestamps to µs.

    Parquet TIMESTAMP(NANOS) columns arrive as int64 (see
    ``nanosAsLong`` conf); integer-DIV by 1000 truncates to micros,
    matching DuckDB's µs TIMESTAMP semantics bit-for-bit.

    SESSION-GLOBAL SIDE EFFECT (deliberate, r4 ADVICE): this pins
    ``nanosAsLong=true`` and ``session.timeZone=UTC`` on the caller's
    session and does NOT restore them. Unlike the one-shot Arrow
    conversion in ``from_numpy``, both confs govern *execution* of the
    lazy frames this function returns and of every later query the
    caller builds over them — restoring them after return would make
    those frames decode wrongly. Callers needing a different timezone
    for unrelated work should use a separate session.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    # nanosAsLong and the session timezone are runtime-settable SQL
    # confs: set them here so events reads work on ANY session,
    # including ones built without DEFAULT_CONFS (e.g. the driver's
    # own correctness-gate session). UTC pins timestamp formatting /
    # truncation to DuckDB's naive-as-UTC semantics.
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # conf locked down (never in practice) — fall through
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
            )
        elif isinstance(ts_type, TimestampNTZType):
            # nanosAsLong was set after the parquet footer was cached,
            # or the session pre-read the schema: Spark 4 then surfaces
            # TIMESTAMP(NANOS) as NTZ micros. Reinterpret the naive
            # wall-clock as UTC (instant-preserving, same as the
            # LongType branch) so unix_micros/window functions work.
            df = df.withColumn("ts", F.to_utc_timestamp("ts", "UTC"))
    return df


def load_tables(spark: SparkSession, sf_dir: str,
                tables: tuple[str, ...] = (
                    "region", "nation", "customer", "supplier", "part",
                    "orders", "lineitem", "events", "documents",
                    "embeddings",
                )) -> dict[str, "object"]:
    """Load the TESTDATA star schema as temp views + return the dict.

    Plain parquet scans — Catalyst handles column pruning / predicate
    pushdown into the FileScan, so callers just express queries.
    """
    out = {}
    for name in tables:
        df = read_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
