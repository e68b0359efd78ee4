"""Physical-layout operators: bucketed co-located joins and salted skew
joins — the two techniques that keep 100 TB joins healthy, demonstrated as
oracle-checked queries (the layout must not change the answer).

The reference hand-rolls exactly this idea: identical HashPartitioners on
both sides make its block joins narrow (reference ALS.py:369-370 vs 535,
548 — SURVEY.md §4 'co-partitioning'). Bucketing is the DataFrame-native,
persisted form of the same contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from als_pyspark_spark.registry import query
from als_pyspark_spark.sources.sinks import app_scratch
from als_pyspark_spark.sources.tables import load_table

_PRICE = "decimal(12,2)"
_N_BUCKETS = 8
_N_SALTS = 8


@query(
    "q_bucketed_colocated_join",
    oracle="""
SELECT o.o_orderstatus AS o_orderstatus,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderstatus
""",
    tags=("join", "bucketed", "physical"),
)
def q_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write lineitem and orders bucketed by the join key, then join the
    bucketed tables — Spark plans a shuffle-FREE sort-merge join (both
    sides' bucketing satisfies the required distribution; asserted in
    tests/test_plans.py). The persisted form of the reference's
    co-partitioning trick, and how a 100 TB fact-fact join avoids
    re-shuffling on every query."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_extendedprice").cast(_PRICE).alias("price")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    for df, name, key in ((l, "bkt_lineitem", "l_orderkey"), (o, "bkt_orders", "o_orderkey")):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.mode("overwrite")
            .option("path", app_scratch(spark, name))
            .bucketBy(_N_BUCKETS, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    bl = spark.table("bkt_lineitem")
    bo = spark.table("bkt_orders")
    return (
        bl.join(bo, bl.l_orderkey == bo.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum("price").cast("double").alias("total_price"),
        )
    )


@query(
    "q_salted_skew_join",
    oracle="""
SELECT n.n_name AS n_name,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_balance
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
    tags=("join", "salt", "skew", "physical"),
)
def q_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join: probe-side keys get a random-but-deterministic salt
    (pmod(hash(row id), n)), the build side is exploded across all n salt
    values, and the join runs on (key, salt) — splitting any hot key over
    n reducers. The oracle is the PLAIN join: salting must never change
    the answer, only the distribution.

    (Here nation is broadcast-sized and AQE would handle real skew; the
    query exists to keep the manual pattern exercised and correct for the
    cases AQE can't fix, e.g. skewed aggregation keys feeding a
    non-broadcastable join.)
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    salted_c = c.withColumn("salt", F.pmod(F.xxhash64("c_custkey"), F.lit(_N_SALTS)))
    salted_n = n.withColumn(
        "salt", F.explode(F.array(*[F.lit(i).cast("long") for i in range(_N_SALTS)]))
    )
    return (
        salted_c.hint("shuffle_hash")
        .join(
            salted_n,
            (salted_c.c_nationkey == salted_n.n_nationkey)
            & (salted_c.salt == salted_n.salt),
        )
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.col("c_acctbal").cast(_PRICE)).cast("double").alias("total_balance"),
        )
    )


@query(
    "q_two_phase_salted_agg",
    oracle="""
SELECT o_custkey,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spend
FROM orders
GROUP BY o_custkey
""",
    tags=("agg", "salt", "skew", "physical"),
)
def q_two_phase_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation: partial agg on (key, salt), final agg
    on key — the mitigation when ONE grouping key carries a large share of
    rows and a single reducer would bottleneck. The oracle is the plain
    one-phase groupBy: salting must be answer-invariant.

    (Catalyst's own partial+final HashAggregate handles ordinary skew;
    explicit salting matters for pathological keys at 100 TB — hot users,
    null-ish defaults — and for algebraic aggregates only. COUNT and SUM
    re-aggregate with SUM in phase 2.)
    """
    o = load_table(spark, sf_dir, "orders")
    partial = (
        o.withColumn("salt", F.pmod(F.xxhash64("o_orderkey"), F.lit(_N_SALTS)))
        .groupBy("o_custkey", "salt")
        .agg(
            F.count("*").alias("pn"),
            F.sum(F.col("o_totalprice").cast(_PRICE)).alias("ps"),
        )
    )
    return partial.groupBy("o_custkey").agg(
        F.sum("pn").alias("n_orders"),
        F.sum("ps").cast("double").alias("total_spend"),
    )


@query(
    "q_skew_diagnostics",
    oracle="""
WITH counts AS (
    SELECT l_partkey AS key, COUNT(*) AS cnt FROM lineitem GROUP BY l_partkey
), tot AS (
    SELECT SUM(cnt) AS total, COUNT(*) AS n_keys FROM counts
)
SELECT c.key, CAST(c.cnt AS BIGINT) AS cnt,
       CAST((c.cnt * 1000000) // t.total AS BIGINT) AS share_ppm,
       CAST((c.cnt * t.n_keys * 100) // t.total AS BIGINT) AS x_avg_pct
FROM counts c, tot t
ORDER BY c.cnt DESC, c.key
LIMIT 20
""",
    tags=("physical", "skew", "diagnostics"),
)
def q_skew_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis: the 20 heaviest l_partkey values with
    their absolute count, parts-per-million share of the table, and
    percent-of-average multiplier — the pre-flight check that decides
    whether a key needs the salted-join treatment (``q_salted_skew_join``)
    or can rely on AQE skew-splitting. Shares are cross-multiplied
    integers (``cnt·1e6 DIV total``), so the report is hash-exact.

    100 TB shape: one partial+final count per key, a single-row total
    broadcast onto the (already aggregated) key counts, TakeOrdered
    top-20 — the diagnostic itself never does worse than the join it is
    protecting.
    """
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy(F.col("l_partkey").alias("key")).agg(
        F.count("*").alias("cnt")
    )
    tot = counts.agg(
        F.sum("cnt").alias("total"), F.count("*").alias("n_keys")
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "key",
            "cnt",
            F.expr("(cnt * 1000000) DIV total").alias("share_ppm"),
            F.expr("(cnt * n_keys * 100) DIV total").alias("x_avg_pct"),
        )
        .orderBy(F.desc("cnt"), F.asc("key"))
        .limit(20)
    )
