"""Core relational queries (reference §2.2 P1-P6, §2.5 A1-A7 equivalents).

The reference composes map/filter/groupByKey by hand (reference ALS.py:261,
368-371); here every query is a declarative DataFrame plan so Catalyst does
predicate pushdown, column pruning, partial aggregation and join selection.

Float-determinism contract with the DuckDB oracle: money/quantity aggregates
are computed in exact DECIMAL then cast to DOUBLE at the end — bit-identical
on both engines independent of partitioning/summation order. This matters:
a double SUM over 600k rows can differ by ~1e-2 between engines purely from
association order.

Scale notes (100 TB): every aggregate here is a partial+final HashAggregate
(map-side combine before the shuffle — the same trick the reference
hand-rolls with its 2048-row spill builder, reference ALS.py:226-229, but
automatic). Filters reach the parquet scan as PushedFilters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from als_pyspark_spark.caching import local_frame
from als_pyspark_spark.registry import query
from als_pyspark_spark.sources.tables import load_table

# Exact-decimal casts shared by the money queries.
_PRICE = "decimal(12,2)"
_PCT = "decimal(4,2)"
_QTY = "decimal(12,2)"


def _dec(col: str, t: str) -> F.Column:
    return F.col(col).cast(t)


@query(
    "q1_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    tags=("agg", "filter", "tpch"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan→filter→groupBy with 6 aggregates.

    Covers reference P1/P6 (map + predicate, ALS.py:76,514) and A1/A2
    (partial+final agg, ALS.py:226-263) in one declarative plan.

    The scale-4/6 money sums (disc_price, charge) round to CENTS inside
    the query on both engines: above ~SF0.3 their exact decimal sums
    carry >15 significant digits, and DuckDB's wide-decimal→double cast
    double-rounds (int128→double is already inexact past 2^53) while
    Spark's BigDecimal cast rounds once — a genuine 1-ulp cross-engine
    divergence measured at sf1. Rounded to scale 2 the decimal is
    <2^53-exact on both cast paths, so the doubles are bit-identical at
    any SF.
    """
    l = load_table(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice", _PRICE) * (F.lit(1) - _dec("l_discount", _PCT))
    charge = disc_price * (F.lit(1) + _dec("l_tax", _PCT))
    return (
        l.where(F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity", _QTY)).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice", _PRICE)).cast("double").alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(charge), 2).cast("double").alias("sum_charge"),
            (F.sum(_dec("l_quantity", _QTY)).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(_dec("l_extendedprice", _PRICE)).cast("double") / F.count("*")).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q6_forecast_revenue",
    oracle="""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
  AND l_discount BETWEEN 0.04 AND 0.08
  AND l_quantity < 24
""",
    tags=("agg", "filter", "pushdown", "tpch"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: highly selective conjunctive filter + global agg.

    The showcase for predicate pushdown — all four predicates appear as
    PushedFilters on the parquet scan (verified in tests/test_plans.py).
    """
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount").between(0.04, 0.08))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice", _PRICE) * _dec("l_discount", _PCT))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


@query(
    "q3_top_orders",
    oracle="""
SELECT l.l_orderkey AS l_orderkey,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
       STRFTIME(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       o.o_orderpriority AS o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
""",
    tags=("join", "agg", "topk", "tpch"),
)
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join → agg → global top-k.

    Covers reference J5 (two-hop equi join, ALS.py:622-624) plus the global
    ORDER BY/LIMIT the reference lacks (SURVEY.md §2.6). Spark plans the
    top-k as TakeOrderedAndProject — no full sort at scale.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    return (
        c.where(F.col("c_mktsegment") == "BUILDING")
        .join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(_dec("l_extendedprice", _PRICE) * (F.lit(1) - _dec("l_discount", _PCT)))
            .cast("double")
            .alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_nation_volume",
    oracle="""
SELECT n.n_name AS n_name,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM region r
JOIN nation n   ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
WHERE r.r_name IN ('ASIA', 'EUROPE')
GROUP BY n.n_name
""",
    tags=("join", "agg", "broadcast", "tpch"),
)
def q5_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join with small-dim broadcasts.

    region/nation/supplier are broadcast (explicit hint on the tiny dims);
    the fact-side joins shuffle on their natural keys. At 100 TB only
    orders ⋈ lineitem is a real exchange — everything else stays map-side.
    """
    r = load_table(spark, sf_dir, "region").where(F.col("r_name").isin("ASIA", "EUROPE"))
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), (s.s_suppkey == l.l_suppkey) & (s.s_nationkey == c.c_nationkey))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(_dec("l_extendedprice", _PRICE) * (F.lit(1) - _dec("l_discount", _PCT)))
            .cast("double")
            .alias("revenue")
        )
    )


@query(
    "q10_returned_revenue",
    oracle="""
SELECT c.c_custkey AS c_custkey,
       c.c_name AS c_name,
       n.n_name AS n_name,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_returnflag = 'R'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
""",
    tags=("join", "agg", "topk", "tpch"),
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top 20."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.where(F.col("l_returnflag") == "R")
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(_dec("l_extendedprice", _PRICE) * (F.lit(1) - _dec("l_discount", _PCT)))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q_filter_project",
    oracle="""
SELECT p_partkey,
       UPPER(p_brand) AS brand_upper,
       p_size * 2 AS double_size,
       CAST(CAST(p_retailprice AS DECIMAL(12,2)) * CAST(0.9 AS DECIMAL(2,1)) AS DOUBLE) AS sale_price
FROM part
WHERE p_size >= 30 AND p_type LIKE '%BRASS%'
""",
    tags=("filter", "project"),
)
def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain scan→filter→project (reference P1/P2/P6, ALS.py:76-80,514).

    LIKE + arithmetic + string function, no shuffle at all — a single
    WholeStageCodegen stage over the pruned parquet scan.
    """
    p = load_table(spark, sf_dir, "part")
    return p.where((F.col("p_size") >= 30) & F.col("p_type").contains("BRASS")).select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        (F.col("p_size") * 2).alias("double_size"),
        (_dec("p_retailprice", _PRICE) * F.lit(0.9).cast("decimal(2,1)"))
        .cast("double")
        .alias("sale_price"),
    )


@query(
    "q_unpivot_lineitem_measures",
    oracle="""
SELECT l_returnflag, 'sum_qty' AS measure,
       CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS value
FROM lineitem GROUP BY l_returnflag
UNION ALL
SELECT l_returnflag, 'sum_price' AS measure,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS value
FROM lineitem GROUP BY l_returnflag
""",
    tags=("reshape", "unpivot"),
)
def q_unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape via the native unpivot (melt) operator — the
    inverse of q_pivot_priority_by_status. Aggregate once into a wide
    3-row frame, then unpivot the two measure columns into (measure,
    value) rows; the oracle reproduces the long form as a UNION ALL of
    per-measure aggregates.

    Scale shape: the expensive part (corpus aggregate) happens BEFORE the
    reshape, so unpivot touches a measures-wide tiny frame — the order a
    100 TB reporting pipeline must use (never unpivot the fact table, its
    row count multiplies by the measure count)."""
    l = load_table(spark, sf_dir, "lineitem")
    wide = l.groupBy("l_returnflag").agg(
        F.sum(_dec("l_quantity", "decimal(14,2)")).cast("double").alias("sum_qty"),
        F.sum(_dec("l_extendedprice", "decimal(14,2)")).cast("double").alias("sum_price"),
    )
    return wide.unpivot("l_returnflag", ["sum_qty", "sum_price"], "measure", "value")


@query(
    "q_observe_metrics",
    oracle="""
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty,
       COUNT(*) FILTER (WHERE l_returnflag = 'R') AS n_returned
FROM lineitem
""",
    tags=("metrics", "observe"),
)
def q_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline data-quality metrics via the Observation API: counters
    piggyback on an existing pass over the data (df.observe + one action)
    instead of a second scan — at 100 TB, the difference between free
    quality telemetry and doubling the read volume.

    The observed metrics are deterministic aggregates (exact DECIMAL sum,
    counts), returned as a 1-row DataFrame that must hash-match the
    oracle's direct aggregation."""
    from pyspark.sql import Observation

    l = load_table(spark, sf_dir, "lineitem")
    obs = Observation("lineitem_metrics")
    observed = l.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(14,2)")).cast("double").alias("sum_qty"),
        F.count_if(F.col("l_returnflag") == "R").alias("n_returned"),
    )
    observed.write.format("noop").mode("overwrite").save()  # the main pass
    m = obs.get
    return local_frame(
        spark,
        [(m["n_rows"], m["sum_qty"], m["n_returned"])],
        "n_rows bigint, sum_qty double, n_returned bigint",
    )


@query(
    "q_collated_group",
    oracle="""
WITH v AS (
    SELECT CASE WHEN p_partkey % 2 = 0 THEN UPPER(p_type) ELSE LOWER(p_type) END AS t
    FROM part
)
SELECT LOWER(t) AS ptype, COUNT(*) AS n
FROM v GROUP BY LOWER(t)
""",
    tags=("collation", "grouping"),
)
def q_collated_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (Spark 4 collation support): mixed-case
    part types group under UTF8_LCASE so 'PROMO BRASS' and 'promo brass'
    land in one group without materializing a normalized column. The
    output key is canonicalized with lower() — the group representative
    under a case-insensitive collation is otherwise arbitrary — making the
    result exactly the oracle's LOWER() grouping."""
    p = load_table(spark, sf_dir, "part")
    v = p.select(
        F.when((F.col("p_partkey") % 2) == 0, F.upper("p_type"))
        .otherwise(F.lower("p_type"))
        .alias("t")
    )
    return (
        v.groupBy(F.collate(F.col("t"), "UTF8_LCASE").alias("tc"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lower(F.col("tc")).alias("ptype"), "n")
    )
