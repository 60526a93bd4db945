"""Bloom-filter join prefilter — a DataFrame-native runtime filter.

The 100 TB problem this solves: a fact-to-dimension shuffle join
where the dimension is too large to broadcast whole, but only a
small fraction of fact rows survive the join. Shuffling the full
fact table to discover that is the single biggest avoidable cost in
that plan. Engines answer it with runtime bloom filters (Spark's
own ``spark.sql.optimizer.runtime.bloomFilter`` rule, Trino/Presto
dynamic filtering); this module builds the same mechanism out of
plain DataFrame ops so the engine exposes it as a first-class,
inspectable operator:

1. BUILD: every build-side key is hashed k times (``xxhash64`` with
   k salts — JVM, whole-stage codegen), each hash mapped to a bit
   position in an m-bit filter; positions aggregate into m/64
   64-bit words via ``bit_or`` with map-side partials. The words
   frame is m/64 rows TOTAL regardless of build cardinality.
2. PROBE: the fact side LEFT-joins the words frame k times — all
   broadcast hash joins (the words frame is bits/8 bytes), so the
   fact table is NEVER shuffled — and keeps rows whose k bits are
   all set. No false negatives by construction; false positives
   only cost superfluous rows in the real join that follows.

Sizing: m = bits_per_key * n_build. At 1e8 build keys and 16
bits/key the words frame is 200 MB — still broadcastable; beyond
that, partition the build side and apply per-partition filters, or
fall back to the engine-native rule.

Reference provenance: no relational surface in the reference
(SURVEY.md §2.2); engine extension per §2.3 and the runtime-filter
pattern of SNIPPETS.md (Spark InjectRuntimeFilter, public source).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from matrixinversion_spark.registry import query
from matrixinversion_spark.relational.queries import (
    REVENUE_SQL,
    disc_price,
    sum_cents,
)
from matrixinversion_spark.session import read_table

# persist()ed words frames for filters too large to ship as a local
# relation — released via release_bloom_caches() (ADVICE r7: an
# untracked .cache() per invocation leaked storage for the app's
# lifetime).
_ACTIVE_BLOOM_CACHES: list[DataFrame] = []

# m/64 words ≤ this → collect the aggregated filter once and
# re-broadcast it as a LocalTableScan (Spark's own runtime bloom
# filter likewise materializes the filter driver-side). 2^21 words
# = 16 MB = a filter for ~8M build keys at 16 bits/key.
_LOCAL_WORDS_MAX = 1 << 21

_INTEGRAL = {"tinyint", "smallint", "int", "bigint"}


def release_bloom_caches() -> int:
    """Unpersist every words frame parked by the large-filter path;
    returns how many were released."""
    n = len(_ACTIVE_BLOOM_CACHES)
    while _ACTIVE_BLOOM_CACHES:
        _ACTIVE_BLOOM_CACHES.pop().unpersist()
    return n


def _normalize_key_types(
    probe: DataFrame, probe_key: str, build: DataFrame, build_key: str
) -> tuple[Column, Column]:
    """Key expressions hashed on both sides — widened to a COMMON
    type, because xxhash64 is type-sensitive: hashing an INT probe
    against a BIGINT build would silently drop true members (no
    false negatives broken). Integral widths widen to bigint,
    float widens to double; any other mismatch raises."""
    pt = dict(probe.dtypes)[probe_key]
    bt = dict(build.dtypes)[build_key]
    if pt == bt:
        return F.col(probe_key), F.col(build_key)
    if pt in _INTEGRAL and bt in _INTEGRAL:
        wide = "bigint"
    elif pt in ("float", "double") and bt in ("float", "double"):
        wide = "double"
    else:
        raise ValueError(
            f"bloom_semi_filter: probe key {probe_key!r} ({pt}) and "
            f"build key {build_key!r} ({bt}) have incompatible types; "
            "cast them to a common type first (xxhash64 is "
            "type-sensitive, so a mismatch breaks the no-false-"
            "negatives guarantee)."
        )
    return F.col(probe_key).cast(wide), F.col(build_key).cast(wide)


def _bit_pos(key: Column, salt: int, m_bits: int) -> Column:
    """Bit position of hash #salt for ``key`` — xxhash64 is JVM-side
    and codegen'd; pmod keeps the position non-negative."""
    return F.pmod(F.xxhash64(key, F.lit(salt)), F.lit(m_bits))


def bloom_words(
    build: DataFrame, key: str | Column, m_bits: int, k: int
) -> DataFrame:
    """The m-bit filter as a (word_idx BIGINT, mask BIGINT) frame —
    m/64 rows total, built with one explode + one bit_or groupBy
    (map-side combined: each task merges its local bits before the
    m/64-row shuffle)."""
    key_col = F.col(key) if isinstance(key, str) else key
    pos = F.explode(
        F.array(*[_bit_pos(key_col, i, m_bits) for i in range(k)])
    ).alias("_pos")
    return (
        build.select(pos)
        .select(
            (F.col("_pos") / 64).cast("bigint").alias("word_idx"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(_pos % 64 AS INT))"
            ).alias("_bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("_bit").alias("mask"))
    )


def bloom_semi_filter(
    probe: DataFrame,
    probe_key: str,
    build: DataFrame,
    build_key: str,
    bits_per_key: int = 16,
    k: int = 3,
    n_build: int | None = None,
) -> DataFrame:
    """Rows of ``probe`` whose ``probe_key`` MIGHT be in ``build``'s
    ``build_key`` set (no false negatives; ~(1-e^(-k/bits))^k false
    positives — <1% at 16 bits/key, k=3).

    The probe side takes k broadcast LEFT joins against the words
    frame and a conjunction filter — ZERO probe-side shuffles, which
    is the entire point: the expensive real join that follows now
    shuffles only the surviving fraction.

    ``n_build`` sizes the filter; pass it when known to avoid the
    counting job (it is only a sizing hint — correctness never
    depends on it).
    """
    if n_build is None:
        n_build = build.count()  # one sizing scalar
    m_bits = max(1024, 1 << (int(n_build * bits_per_key)).bit_length())
    probe_expr, build_expr = _normalize_key_types(
        probe, probe_key, build, build_key
    )
    words = bloom_words(build, build_expr, m_bits, k)
    if m_bits // 64 <= _LOCAL_WORDS_MAX:
        # The filter is a bounded artifact (m/64 words, NOT data):
        # materialize it once and re-broadcast a LocalTableScan for
        # each of the k probes — one aggregation job, no cache, no
        # per-invocation storage leak. This is how Spark's own
        # InjectRuntimeFilter ships its bloom filter too.
        words = probe.sparkSession.createDataFrame(
            words.collect(), schema="word_idx bigint, mask bigint"
        )
    else:
        # Too large to ship driver-side: persist so the k broadcast
        # probes don't re-run the build aggregation (the three
        # exchanges are not canonically identical, so ReuseExchange
        # does not fire). Tracked for release_bloom_caches().
        words = words.persist()
        _ACTIVE_BLOOM_CACHES.append(words)
    out = probe
    conds = []
    for i in range(k):
        p = _bit_pos(probe_expr, i, m_bits)
        w_i = words.alias(f"_bw{i}")  # alias dodges self-join ambiguity
        out = (
            out.withColumn(f"_w{i}", (p / 64).cast("bigint"))
            .withColumn(f"_b{i}", (p % 64).cast("int"))
            .join(
                F.broadcast(w_i),
                F.col(f"_w{i}") == F.col(f"_bw{i}.word_idx"),
                "left",
            )
            .drop(F.col(f"_bw{i}.word_idx"))
            .withColumnRenamed("mask", f"_m{i}")
        )
        conds.append(
            F.expr(f"(shiftright(_m{i}, _b{i}) & 1) = 1")
            & F.col(f"_m{i}").isNotNull()
        )
    keep = conds[0]
    for c in conds[1:]:
        keep = keep & c
    drop = [f"_{p}{i}" for i in range(k) for p in ("w", "b", "m")]
    return out.filter(keep).drop(*drop)


@query(
    "q_bloom_prefilter_join",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS INT) AS yr,
           CAST(count(*) AS BIGINT) AS n_items,
           {REVENUE_SQL} AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY 1
    """,
)
def q_bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Urgent-order revenue by year, with the fact side pre-filtered
    through the bloom operator before the real join. The filter is
    semantically invisible (no false negatives, and the exact join
    afterwards discards false positives) — which is exactly what the
    oracle checks: plain join SQL, identical result.

    Plan: build words from the filtered orders keys, k broadcast
    left joins + conjunction on lineitem (no fact shuffle), THEN the
    exact join and a partial-aggregated rollup. At sf0.01 Spark
    would happily broadcast the dim itself; the operator's value is
    the regime where it cannot (1e8-row filtered dim) yet 90%+ of
    fact rows still die before the sort-merge shuffle."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_orderdate")
    )
    li_f = bloom_semi_filter(li, "l_orderkey", o, "o_orderkey")
    return (
        li_f.join(o, li_f["l_orderkey"] == o["o_orderkey"])
        .groupBy(F.year("o_orderdate").cast("int").alias("yr"))
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            sum_cents(disc_price(), 4).alias("revenue"),
        )
    )
