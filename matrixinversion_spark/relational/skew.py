"""Skew-aware join: key salting for hot keys.

AQE's skew-join split (enabled in the session defaults) handles most
skew at runtime; salting is the explicit fallback when one key is so
hot a single post-split partition still overwhelms an executor — or
when AQE is unavailable (streaming joins). Pattern:

    big side:   salt = hash(row) % n_salts         (split the hot key)
    small side: replicated n_salts times           (one copy per salt)
    join key:   (key, salt)                        (uniform shuffle,
                                                    >= n_salts partitions)

Result is row-identical to the unsalted join (asserted in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matrixinversion_spark.registry import query
from matrixinversion_spark.session import read_table


def salted_join(big: DataFrame, small: DataFrame, key: str,
                n_salts: int = 8, how: str = "inner") -> DataFrame:
    """Equi-join on ``key`` with the big side salted ``n_salts`` ways.

    ``small`` is exploded n_salts× (only acceptable when it is the
    small side — the explosion is the price of the uniform shuffle).

    The ``(key, salt)`` shuffle of both sides has at least ``n_salts``
    partitions whatever ``spark.sql.shuffle.partitions`` says: below
    ``n_salts`` the salts of the hot key would share buckets (16 salts
    in 8 partitions land 3, 3, 2, 2, 2, 2, 1, 1), so both sides are
    repartitioned ``n_salts`` ways on ``(key, salt)`` and the join
    reuses that partitioning. At or above ``n_salts`` the plan is the
    plain join's exchange, unchanged.

    Only ``inner`` and ``left`` preserve unsalted-join semantics: with
    right/full outer, an unmatched small-side row would surface once
    per salt replica (ADVICE r1), so those modes are rejected.
    """
    if how not in ("inner", "left", "leftouter", "left_outer"):
        raise ValueError(
            f"salted_join preserves semantics only for inner/left joins, "
            f"got how={how!r} (small side is replicated {n_salts}x — "
            f"unmatched small rows would appear {n_salts} times)"
        )
    salted_big = big.withColumn(
        # pmod, not abs(hash) % n: abs(Int.MinValue) overflows under
        # ANSI mode — a 1-in-2^32 per-row bomb that a 20M-row smoke
        # actually hit (scripts/exp_skew_scale.py); pmod is total
        "__salt", F.pmod(F.hash(*big.columns).cast("long"), n_salts).cast("int")
    )
    salted_small = small.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<int>")),
    )
    shuffle_parts = int(
        big.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    if shuffle_parts < n_salts:
        salted_big = salted_big.repartition(n_salts, key, "__salt")
        salted_small = salted_small.repartition(n_salts, key, "__salt")
    out = salted_big.join(salted_small, [key, "__salt"], how)
    return out.drop("__salt")


def _skewed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with a deliberately hot join key: half of all users
    collapse onto skew_key=0 (the 'whale customer' shape that breaks
    plain hash joins at scale)."""
    e = read_table(spark, sf_dir, "events")
    return e.select(
        F.when(F.col("user_id") % 10 < 5, F.lit(0))
        .otherwise(F.col("user_id"))
        .alias("skew_key"),
        "event_type",
        "value",
    )


@query(
    "q_skew_salted_join",
    oracle="""
    WITH e AS (
        SELECT CASE WHEN user_id % 10 < 5 THEN 0 ELSE user_id END
                   AS skew_key,
               event_type, value
        FROM events
    ), d AS (
        SELECT DISTINCT skew_key,
               CAST(skew_key % 4 AS INTEGER) AS bucket
        FROM e
    )
    SELECT d.bucket, e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(e.value), 2) AS total_value
    FROM e JOIN d USING (skew_key)
    GROUP BY d.bucket, e.event_type
    """,
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew handling demonstrated ON DATA: events collapsed onto a hot
    key (≈50% of rows share skew_key=0) joined to a derived dim via
    ``salted_join`` — the hot key shatters across 16 (key, salt)
    shuffle partitions at any core count (``salted_join`` keeps at
    least ``n_salts`` partitions) instead of landing on one executor.
    Result is row-identical to the plain join (the oracle IS the plain join);
    ``test_skew_demo_no_straggler`` pins the partition-balance
    property physically."""
    e = _skewed_events(spark, sf_dir)
    dim = (
        e.select("skew_key")
        .distinct()
        .withColumn("bucket", (F.col("skew_key") % 4).cast("int"))
    )
    joined = salted_join(e, dim, "skew_key", n_salts=16)
    return joined.groupBy("bucket", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
