"""Relational operator inventory over the TESTDATA star schema.

Each query exists to exercise one operator family from SURVEY.md §2.3
(joins of every type, hash/sort aggregation, rollup/cube/grouping
sets, window functions, set operations, subqueries, scalar function
families) and is paired with a DuckDB oracle. Conventions that keep
the driver's order-insensitive value-hash comparison stable:

- every computed column is aliased identically on both sides;
- every floating aggregate is rounded identically on both sides;
- timestamps returned to the user are formatted to strings
  identically on both sides;
- window orderings always carry a unique tiebreaker column.

Scale notes (100 TB thinking): every query here is a declarative
DataFrame/SQL plan — filters and projections reach the parquet scan
(PushedFilters/ReadSchema), dimension joins are broadcast (nation,
region, supplier are tiny at any SF; customer/part broadcast under
the 64 MB threshold and fall back to shuffle joins above it), and
fact-fact joins (orders⋈lineitem) shuffle on the join key where AQE
handles skew. Nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from matrixinversion_spark.registry import query
from matrixinversion_spark.session import load_tables, read_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


def hundredths(col: str) -> Column:
    """A two-decimal money or rate column (TPC-H declares them
    DECIMAL(15,2)) as an exact integer count of hundredths."""
    return F.rint(F.col(col) * 100).cast("long")


def disc_price() -> Column:
    """``l_extendedprice * (1 - l_discount)`` exactly, in 1e-4 units."""
    return hundredths("l_extendedprice") * (100 - hundredths("l_discount"))


# The oracles' twin of ``sum_cents(disc_price(), 4)``.
REVENUE_SQL = """CAST(round(sum(CAST(l_extendedprice AS DECIMAL(15,2))
                * (1 - CAST(l_discount AS DECIMAL(15,2)))), 2) AS DOUBLE)"""


def sum_cents(units: Column, scale: int) -> Column:
    """The exact sum of integer ``units`` of ``10**-scale``, rounded
    half up to cents, as a double.

    A double sum of money can land a half-cent tie on either side of
    its rounding (q5 at seed 11 sums to 1085279.4150 exactly; Spark
    gave .42, DuckDB's double sum .41), so the oracles sum DECIMAL(15,2)
    casts and this sums the same values as integers, which agree with
    them bit for bit. Integers rather than Spark decimals: a decimal
    sum this wide runs on BigDecimal, which took q1's aggregation from
    0.16 to 0.31 s at sf0.01 on 4 cores. A sum past 2**63 units raises
    (ANSI overflow check) rather than wraps."""
    return F.round(
        F.sum(units).cast("decimal(38,0)") / 10**scale, 2
    ).cast("double")


# ---------------------------------------------------------------------------
# Aggregation family
# ---------------------------------------------------------------------------

@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                    AS sum_qty,
           CAST(round(sum(price), 2) AS DOUBLE)                        AS sum_base_price,
           CAST(round(sum(price * (1 - disc)), 2) AS DOUBLE)           AS sum_disc_price,
           CAST(round(sum(price * (1 - disc) * (1 + tax)), 2) AS DOUBLE) AS sum_charge,
           round(avg(l_quantity), 4)                                    AS avg_qty,
           round(avg(l_extendedprice), 4)                               AS avg_price,
           round(avg(l_discount), 4)                                    AS avg_disc,
           count(*)                                                     AS count_order
    FROM (SELECT *, CAST(l_extendedprice AS DECIMAL(15,2)) AS price,
                    CAST(l_discount AS DECIMAL(15,2))      AS disc,
                    CAST(l_tax AS DECIMAL(15,2))           AS tax
          FROM lineitem)
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 analogue: full-scan partial+final hash aggregation.

    The filter pushes to the parquet scan; the aggregation is a
    map-side partial + 4-group final — the cheapest possible shuffle.
    """
    li = _t(spark, sf_dir, "lineitem")
    price, disc = hundredths("l_extendedprice"), disc_price()
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            sum_cents(price, 2).alias("sum_base_price"),
            sum_cents(disc, 4).alias("sum_disc_price"),
            sum_cents(disc * (100 + hundredths("l_tax")), 6)
            .alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q_distinct_agg",
    oracle="""
    SELECT o_orderpriority,
           count(DISTINCT o_custkey)            AS n_customers,
           count(*)                             AS n_orders,
           round(sum(DISTINCT o_totalprice), 2) AS sum_distinct_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (expand + two-phase agg under the hood)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum_distinct(F.col("o_totalprice")), 2).alias("sum_distinct_price"),
    )


@query(
    "q_having",
    oracle="""
    SELECT l_partkey, count(*) AS n_items, round(sum(l_quantity), 2) AS total_qty
    FROM lineitem
    GROUP BY l_partkey
    HAVING count(*) >= 40
    """,
)
def q_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
        .filter(F.col("n_items") >= 40)
    )


@query(
    "q_rollup",
    oracle="""
    SELECT coalesce(r_name, 'ALL') AS region_name,
           coalesce(n_name, 'ALL') AS nation_name,
           round(sum(c_acctbal), 2) AS total_acctbal,
           count(*) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (region → nation → grand total)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
            F.count(F.lit(1)).alias("n_customers"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            "total_acctbal",
            "n_customers",
        )
    )


@query(
    "q_cube",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           round(sum(l_extendedprice), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all grouping-set combinations of two dimensions."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "revenue",
            "n_items",
        )
    )


_GROUPING_SETS_SQL = """
SELECT coalesce(o_orderstatus, 'ALL')   AS orderstatus,
       coalesce(o_orderpriority, 'ALL') AS orderpriority,
       count(*)                         AS n_orders,
       round(sum(o_totalprice), 2)      AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


@query("q_grouping_sets", oracle=_GROUPING_SETS_SQL)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL surface (same text both engines)."""
    load_tables(spark, sf_dir, ("orders",))
    return spark.sql(_GROUPING_SETS_SQL)


# ---------------------------------------------------------------------------
# Join family — every join type
# ---------------------------------------------------------------------------

@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {REVENUE_SQL} AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 analogue: selective 3-way join + agg + top-k.

    customer filters to one segment → broadcastable; orders⋈lineitem
    is the fact-fact shuffle join on the natural key.
    """
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            sum_cents(disc_price(), 4).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_region_revenue",
    oracle=f"""
    SELECT n_name,
           {REVENUE_SQL} AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 analogue: 6-way join, broadcast dims, shuffle facts."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(c, (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            sum_cents(disc_price(), 4).alias("revenue")
        )
        .orderBy(F.desc("revenue"))
    )


@query(
    "q_join_left",
    oracle="""
    SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
           round(coalesce(sum(o_totalprice), 0.0), 2) AS total_spent
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    """,
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with no orders."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias(
                "total_spent"
            ),
        )
    )


@query(
    "q_join_full",
    oracle="""
    WITH cust_n AS (SELECT c_nationkey AS nk, count(*) AS n_cust
                    FROM customer GROUP BY c_nationkey),
         supp_n AS (SELECT s_nationkey AS nk, count(*) AS n_supp
                    FROM supplier GROUP BY s_nationkey)
    SELECT coalesce(cust_n.nk, supp_n.nk) AS nationkey,
           coalesce(n_cust, 0) AS n_cust,
           coalesce(n_supp, 0) AS n_supp
    FROM cust_n FULL OUTER JOIN supp_n ON cust_n.nk = supp_n.nk
    """,
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two aggregates."""
    c = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return c.join(s, c.nk == s.nk, "full").select(
        F.coalesce(c.nk, s.nk).alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


@query(
    "q_join_semi",
    oracle="""
    SELECT p_brand, count(*) AS n_parts
    FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 49)
    GROUP BY p_brand
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (IN-subquery shape)."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 49)
    return (
        p.join(li, p.p_partkey == li.l_partkey, "left_semi")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


@query(
    "q_join_anti",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_idle_customers
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS shape): customers with no orders."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_idle_customers"))
    )


@query(
    "q_join_cross",
    oracle="""
    SELECT r1.r_name AS region_a, r2.r_name AS region_b
    FROM region r1 CROSS JOIN region r2
    WHERE r1.r_regionkey < r2.r_regionkey
    """,
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join (tiny dims only — a cross join of facts is a bug)."""
    r1 = _t(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("k1"), F.col("r_name").alias("region_a")
    )
    r2 = _t(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("k2"), F.col("r_name").alias("region_b")
    )
    return (
        r1.crossJoin(r2)
        .filter(F.col("k1") < F.col("k2"))
        .select("region_a", "region_b")
    )


@query(
    "q_join_range",
    oracle="""
    SELECT b.bucket_lo, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS bucket_total
    FROM orders o
    JOIN (SELECT 100000.0 * g AS bucket_lo, 100000.0 * (g + 1) AS bucket_hi
          FROM (SELECT unnest(range(6)) AS g)) b
      ON o.o_totalprice >= b.bucket_lo AND o.o_totalprice < b.bucket_hi
    GROUP BY b.bucket_lo
    """,
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range/theta) join against a broadcast bucket table.

    The small side is broadcast so the theta join is a broadcast
    nested loop — the only sane physical plan for banding at scale.
    """
    o = _t(spark, sf_dir, "orders")
    buckets = spark.range(6).select(
        (F.col("id") * 100000.0).alias("bucket_lo"),
        ((F.col("id") + 1) * 100000.0).alias("bucket_hi"),
    )
    return (
        o.join(
            F.broadcast(buckets),
            (o.o_totalprice >= buckets.bucket_lo)
            & (o.o_totalprice < buckets.bucket_hi),
        )
        .groupBy("bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("bucket_total"),
        )
    )


@query(
    "q_interval_join",
    oracle="""
    WITH inc AS (
        SELECT event_id AS incident_id,
               ts AS w_start,
               ts + INTERVAL 15 MINUTE AS w_end
        FROM events
        WHERE event_type = 'error' AND value > 150
    )
    SELECT i.incident_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(e.value), 2) AS total_value
    FROM inc i JOIN events e
      ON e.ts >= i.w_start AND e.ts < i.w_end
    GROUP BY i.incident_id
    """,
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big×big interval join via time-bucket binning (the Flink
    interval-join / binned range-join technique; SURVEY §2.2's
    temporal-join checklist item — ``q_join_range`` covers only the
    broadcast-small-side case).

    Semantics: high-severity error events define 15-minute incident
    windows [ts, ts+15min); every event falling inside a window joins
    to it (points-in-intervals). A naive theta join is a
    BroadcastNestedLoop — quadratic and impossible when BOTH sides
    are large. The scale plan: discretize time into buckets exactly
    as wide as the window, explode each interval into the ≤2 buckets
    it overlaps (``sequence`` over bucket ordinals), map each point
    to its single bucket, then EQUI-join on the bucket and keep the
    residual range predicate as a post-join filter. One hash shuffle
    on a dense uniform key replaces the nested loop; worst-case
    row replication is ceil(len/bucket)+1 = 2× on the interval side
    only. Each point lives in exactly one bucket, so no dedup pass
    is needed — every (incident, point) pair matches exactly once.
    At 100 TB both sides stay fully distributed; bucket width tunes
    the replication-vs-selectivity trade (width ≈ interval length is
    optimal for fixed-length windows).
    """
    bucket_us = 15 * 60 * 1_000_000  # == window length
    e = _t(spark, sf_dir, "events")
    inc = (
        e.filter((F.col("event_type") == "error") & (F.col("value") > 150))
        .select(
            F.col("event_id").alias("incident_id"),
            F.unix_micros("ts").alias("s_us"),
            (F.unix_micros("ts") + bucket_us).alias("e_us"),
        )
        .withColumn(
            "bucket",
            F.explode(
                F.sequence(
                    F.expr(f"s_us DIV {bucket_us}"),
                    F.expr(f"(e_us - 1) DIV {bucket_us}"),
                )
            ),
        )
    )
    pts = e.select(
        F.unix_micros("ts").alias("p_us"), F.col("value")
    ).withColumn("bucket", F.expr(f"p_us DIV {bucket_us}"))
    return (
        inc.join(
            pts,
            (inc.bucket == pts.bucket)
            & (pts.p_us >= inc.s_us)
            & (pts.p_us < inc.e_us),
        )
        .groupBy("incident_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1997-10-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_returnflag = 'R'
      AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 analogue: returned-item revenue ranking — selective
    fact filters + dim broadcast + top-k."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q18_large_orders",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           round(o_totalprice, 2) AS totalprice,
           round(sum(l_quantity), 2) AS total_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey HAVING sum(l_quantity) > 180)
      AND c_custkey = o_custkey
      AND o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 50
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 analogue: IN-subquery over an aggregate (planned as
    an agg + semi join), then re-join and re-aggregate."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 180)
        .select("l_orderkey")
    )
    return (
        li.join(big, "l_orderkey", "left_semi")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                 "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .select(
            "c_name", "c_custkey", "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("totalprice"), F.asc("o_orderkey"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------

@query(
    "q_window_rank",
    oracle="""
    SELECT * FROM (
        SELECT n_name, c_name, round(c_acctbal, 2) AS acctbal,
               rank()       OVER w AS bal_rank,
               dense_rank() OVER w AS bal_dense_rank,
               row_number() OVER w AS bal_row_number
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WINDOW w AS (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey)
    ) WHERE bal_rank <= 3
    """,
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking windows: top-3 customers by balance per nation."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "n_name",
            "c_name",
            F.round("c_acctbal", 2).alias("acctbal"),
            F.rank().over(w).alias("bal_rank"),
            F.dense_rank().over(w).alias("bal_dense_rank"),
            F.row_number().over(w).alias("bal_row_number"),
        )
        .filter(F.col("bal_rank") <= 3)
    )


@query(
    "q_window_running",
    oracle="""
    SELECT o_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS running_total,
           round(lag(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 2)
             AS prev_price,
           round(lead(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 2)
             AS next_price
    FROM orders
    WHERE o_custkey <= 100
    """,
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum + lag/lead over per-customer order history."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 100)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wrows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        F.round(F.sum("o_totalprice").over(wrows), 2).alias("running_total"),
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
    )


@query(
    "q_window_moving_avg",
    oracle="""
    SELECT event_day, n_events, daily_total,
           round(avg(daily_total) OVER (
               ORDER BY event_day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4)
             AS ma7_total
    FROM (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS event_day,
               count(*) AS n_events,
               round(sum(value), 2) AS daily_total
        FROM events GROUP BY 1
    )
    """,
)
def q_window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding frame (7-day moving average) over a daily rollup."""
    e = _t(spark, sf_dir, "events")
    daily = (
        e.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("event_day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("daily_total"),
        )
    )
    w = Window.orderBy("event_day").rowsBetween(-6, Window.currentRow)
    return daily.select(
        "event_day",
        "n_events",
        "daily_total",
        F.round(F.avg("daily_total").over(w), 4).alias("ma7_total"),
    )


@query(
    "q_top_k",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
)
def q_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k (TakeOrderedAndProject — no full sort at scale)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("totalprice")
        )
        .orderBy(F.desc("totalprice"), F.asc("o_orderkey"))
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------

@query(
    "q_set_ops",
    oracle="""
    WITH big_spenders AS (
        SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000),
    building AS (
        SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    SELECT 'union' AS op, count(*) AS n FROM
        (SELECT custkey FROM big_spenders UNION SELECT custkey FROM building)
    UNION ALL
    SELECT 'intersect' AS op, count(*) AS n FROM
        (SELECT custkey FROM big_spenders INTERSECT SELECT custkey FROM building)
    UNION ALL
    SELECT 'except' AS op, count(*) AS n FROM
        (SELECT custkey FROM big_spenders EXCEPT SELECT custkey FROM building)
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT (distinct set semantics)."""
    big = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_custkey").alias("custkey"))
    )
    bld = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("custkey"))
    )

    def _count(df: DataFrame, op: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(op).alias("op"), "n"
        )

    return (
        _count(big.union(bld).distinct(), "union")
        .unionAll(_count(big.intersect(bld), "intersect"))
        .unionAll(_count(big.subtract(bld), "except"))
    )


# ---------------------------------------------------------------------------
# Scalar function families
# ---------------------------------------------------------------------------

@query(
    "q_string_funcs",
    oracle="""
    SELECT p_partkey,
           upper(p_brand)                       AS brand_upper,
           substr(p_name, 1, 8)                 AS name_prefix,
           length(p_name)                       AS name_len,
           concat(p_brand, ':', p_type)         AS brand_type,
           replace(p_type, ' ', '_')            AS type_snake,
           regexp_extract(p_type, '^(\\w+)', 1) AS type_head,
           CASE WHEN p_name LIKE '%green%' THEN 1 ELSE 0 END AS is_green
    FROM part
    WHERE p_partkey <= 500
    """,
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function family: case, substring, regex, LIKE, concat."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 500)
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.regexp_extract("p_type", r"^(\w+)", 1).alias("type_head"),
        F.when(F.col("p_name").like("%green%"), 1).otherwise(0).alias("is_green"),
    )


@query(
    "q_date_funcs",
    oracle="""
    SELECT year(o_orderdate)                        AS order_year,
           quarter(o_orderdate)                     AS order_quarter,
           month(o_orderdate)                       AS order_month,
           count(*)                                 AS n_orders,
           round(sum(o_totalprice), 2)              AS total_price
    FROM orders
    GROUP BY 1, 2, 3
    """,
)
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time extraction + calendar grouping."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.quarter("o_orderdate").alias("order_quarter"),
            F.month("o_orderdate").alias("order_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@query(
    "q_math_funcs",
    oracle="""
    SELECT l_linenumber,
           round(sum(abs(l_extendedprice - 30000)), 2)  AS sum_abs_dev,
           round(sum(sqrt(l_quantity)), 4)              AS sum_sqrt_qty,
           round(sum(ln(l_extendedprice)), 4)           AS sum_ln_price,
           round(sum(pow(l_discount, 2)), 6)            AS sum_disc_sq,
           CAST(sum(CAST(ceil(l_quantity / 10.0) AS BIGINT)) AS BIGINT) AS sum_ceil_bucket,
           CAST(sum(CAST(floor(l_tax * 100) AS BIGINT)) AS BIGINT)      AS sum_floor_tax
    FROM lineitem
    GROUP BY l_linenumber
    """,
)
def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math function family, aggregated to keep the hash stable."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_linenumber").agg(
        F.round(F.sum(F.abs(F.col("l_extendedprice") - 30000)), 2).alias(
            "sum_abs_dev"
        ),
        F.round(F.sum(F.sqrt("l_quantity")), 4).alias("sum_sqrt_qty"),
        F.round(F.sum(F.log("l_extendedprice")), 4).alias("sum_ln_price"),
        F.round(F.sum(F.pow("l_discount", 2)), 6).alias("sum_disc_sq"),
        F.sum(F.ceil(F.col("l_quantity") / 10.0).cast("bigint")).alias(
            "sum_ceil_bucket"
        ),
        F.sum(F.floor(F.col("l_tax") * 100).cast("bigint")).alias("sum_floor_tax"),
    )


@query(
    "q_case_pivot",
    oracle="""
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_extendedprice ELSE 0 END), 2)
               AS revenue_f,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_extendedprice ELSE 0 END), 2)
               AS revenue_o,
           count(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_discounted
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_case_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (manual pivot) via CASE WHEN."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.sum(
                F.when(F.col("l_linestatus") == "F", F.col("l_extendedprice")).otherwise(0)
            ),
            2,
        ).alias("revenue_f"),
        F.round(
            F.sum(
                F.when(F.col("l_linestatus") == "O", F.col("l_extendedprice")).otherwise(0)
            ),
            2,
        ).alias("revenue_o"),
        F.count(F.when(F.col("l_discount") > 0.05, F.lit(1))).alias("n_discounted"),
    )


@query(
    "q_json_funcs",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1
    """,
)
def q_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from a string column (events.props)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.select(
            (F.get_json_object("props", "$.k").cast("int") % 10).alias("k_mod"),
            "value",
        )
        .groupBy("k_mod")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Subqueries
# ---------------------------------------------------------------------------

_EXISTS_SQL = """
SELECT c_mktsegment, count(*) AS n_customers
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 450000)
GROUP BY c_mktsegment
"""


@query("q_exists_subquery", oracle=_EXISTS_SQL)
def q_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS — planned as a left-semi join by Catalyst."""
    load_tables(spark, sf_dir, ("customer", "orders"))
    return spark.sql(_EXISTS_SQL)


_SCALAR_SUBQ_SQL = """
SELECT o_orderpriority, count(*) AS n_above_avg
FROM orders
WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
GROUP BY o_orderpriority
"""


@query("q_scalar_subquery", oracle=_SCALAR_SUBQ_SQL)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery in a predicate."""
    load_tables(spark, sf_dir, ("orders",))
    return spark.sql(_SCALAR_SUBQ_SQL)


_CORRELATED_SQL = """
SELECT c.c_custkey, c.c_name, round(c.c_acctbal, 2) AS acctbal
FROM customer c
WHERE c.c_acctbal > (SELECT avg(c2.c_acctbal) * 1.8 FROM customer c2
                     WHERE c2.c_nationkey = c.c_nationkey)
"""


@query("q_correlated_subquery", oracle=_CORRELATED_SQL)
def q_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery — decorrelated to an aggregate join."""
    load_tables(spark, sf_dir, ("customer",))
    return spark.sql(_CORRELATED_SQL)


# ---------------------------------------------------------------------------
# Event-time (batch equivalents of the streaming surface)
# ---------------------------------------------------------------------------

@query(
    "q_events_tumbling",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value,
           count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
)
def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h event-time window aggregation (batch form).

    The same F.window expression drives the Structured Streaming path
    in ``matrixinversion_spark.streaming``.
    """
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
            "n_users",
        )
    )


@query(
    "q_events_sessionize",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                         OR lag(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM marked
    )
    SELECT user_id, CAST(session_id AS INTEGER) AS session_id,
           count(*) AS n_events,
           round(sum(value), 2) AS session_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min inactivity gap) via window functions.

    Batch analogue of streaming session windows: mark session starts
    with lag(), then running-sum the markers into session ids.
    """
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # Sub-second-exact gap on BOTH sides (unix_micros here, epoch_us in
    # the oracle): whole-second truncation can flip session boundaries
    # for gaps within ~1s of the threshold (ADVICE r1).
    prev_ts = F.lag("ts").over(w)
    new_session = F.when(
        prev_ts.isNull()
        | ((F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)) > 1800 * 1_000_000),
        1,
    ).otherwise(0)
    marked = e.select("user_id", "ts", "event_id", "value", new_session.alias("new_session"))
    sessions = marked.select(
        "user_id",
        "ts",
        "value",
        F.sum("new_session").over(wsum).cast("int").alias("session_id"),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("session_value"),
    )
