"""Subquery-shaped queries: EXISTS / NOT EXISTS / IN / NOT IN / scalar /
correlated-decorrelated — the classic relational surface the reference
lacks entirely (its only joins are pair-RDD equi joins, SURVEY.md §2.3).

Each SQL subquery form is expressed as the DataFrame plan Catalyst itself
decorrelates to — left-semi for EXISTS/IN, left-anti for NOT EXISTS/NOT IN,
aggregate-then-join for correlated scalar subqueries. Writing the join form
directly keeps the plan explicit and identical at any scale.

Float-determinism: threshold comparisons against an AVG are rearranged to
multiplication form (x * count > sum, all DECIMAL-exact) so borderline rows
cannot flip between engines from double-summation order.

Scale notes (100 TB): the EXISTS/IN probes are semi joins on the fact
table's natural key (shuffle once, no row multiplication — semi joins
can't explode); the exclusion sets (NOT IN) are dimension-sized and
broadcast. The correlated-scalar rewrite is a partial+final agg on the
correlation key followed by a co-keyed join — the same two-shuffle shape
Catalyst plans for the SQL form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from als_pyspark_spark.registry import query
from als_pyspark_spark.sources.tables import load_table

_QTY = "decimal(12,2)"
_PRICE = "decimal(12,2)"


@query(
    "q4_exists_returned_orders",
    oracle="""
SELECT o.o_orderpriority AS o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
)
GROUP BY o.o_orderpriority
""",
    tags=("subquery", "exists", "semi"),
)
def q4_exists_returned_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS correlated subquery → left-semi join.

    The semi join probes on o_orderkey and cannot duplicate order rows no
    matter how many matching lineitems exist — the property that makes
    EXISTS safe at any fan-out.
    """
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    returned = l.where(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        o.join(returned, o.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "q_notin_excluded_suppliers",
    oracle="""
SELECT p.p_brand AS p_brand, COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
)
GROUP BY p.p_brand
""",
    tags=("subquery", "notin", "anti", "broadcast"),
)
def q_notin_excluded_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT IN exclusion set → broadcast left-anti join.

    The exclusion set (negative-balance suppliers) is dimension-sized, so
    it broadcasts; the fact side never shuffles for the anti join.
    s_suppkey is non-null, so anti join and NOT IN agree (the NULL
    trap in NOT IN doesn't arise).
    """
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    excluded = load_table(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        l.join(F.broadcast(excluded), l.l_suppkey == excluded.s_suppkey, "left_anti")
        .join(p, p.p_partkey == F.col("l_partkey"))
        .groupBy("p_brand")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q17_below_avg_qty_revenue",
    oracle=f"""
WITH per_part AS (
    SELECT l_partkey AS pk,
           SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty,
           COUNT(*) AS cnt
    FROM lineitem GROUP BY l_partkey
)
SELECT CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly,
       COUNT(*) AS n_rows
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN per_part a ON a.pk = l.l_partkey
WHERE p.p_size < 10
  AND CAST(l.l_quantity AS DECIMAL(12,2)) * 5 * a.cnt < a.sum_qty
""",
    tags=("subquery", "correlated", "scalar", "agg"),
)
def q17_below_avg_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery
    (l_quantity < 0.2 * AVG(l_quantity) per part), decorrelated to
    aggregate-then-join.

    The threshold is rearranged to 5·qty·cnt < sum_qty in exact DECIMAL, so
    no double AVG ever decides a borderline row differently per engine.

    The selective part predicate (p_size < 10, ~18% of parts) is pushed
    into BOTH lineitem branches as a broadcast semi-join BEFORE the
    per-part aggregate: the per-part average only matters for qualifying
    parts, and part size is part-determined, so pre-pruning is semantics-
    preserving while shrinking the aggregate's shuffle ~5× — the decisive
    reduction at 100 TB, where the per-part aggregate is the query's
    dominant exchange.
    """
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    p_small = p.where(F.col("p_size") < 10).select("p_partkey")
    l_small = l.join(F.broadcast(p_small), l.l_partkey == p_small.p_partkey)
    per_part = l_small.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(F.col("l_quantity").cast(_QTY)).alias("sum_qty"),
        F.count("*").alias("cnt"),
    )
    return (
        l_small.join(per_part, F.col("pk") == l_small.l_partkey)
        .where(F.col("l_quantity").cast(_QTY) * 5 * F.col("cnt") < F.col("sum_qty"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast(_PRICE)).cast("double") / F.lit(7.0))
            .cast("double")
            .alias("avg_yearly"),
            F.count("*").alias("n_rows"),
        )
    )


@query(
    "q_scalar_subquery_above_avg",
    oracle="""
SELECT COUNT(*) AS n_above,
       MIN(p_partkey) AS min_key,
       MAX(p_partkey) AS max_key
FROM part
WHERE CAST(p_retailprice AS DECIMAL(12,2)) * (SELECT COUNT(*) FROM part)
      > (SELECT SUM(CAST(p_retailprice AS DECIMAL(12,2))) FROM part)
""",
    tags=("subquery", "scalar", "broadcast"),
)
def q_scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery (price > global average), as the
    1-row-aggregate broadcast-cross-join Catalyst plans for it. The
    average is compared in multiplication form (price·n > sum) — exact
    DECIMAL on both engines."""
    p = load_table(spark, sf_dir, "part")
    stats = p.agg(
        F.sum(F.col("p_retailprice").cast(_PRICE)).alias("total"),
        F.count("*").alias("n"),
    )
    return (
        p.crossJoin(F.broadcast(stats))
        .where(F.col("p_retailprice").cast(_PRICE) * F.col("n") > F.col("total"))
        .agg(
            F.count("*").alias("n_above"),
            F.min("p_partkey").alias("min_key"),
            F.max("p_partkey").alias("max_key"),
        )
    )


@query(
    "q18_in_big_orders",
    oracle="""
WITH big AS (
    SELECT l_orderkey FROM lineitem
    GROUP BY l_orderkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 150
)
SELECT c.c_name AS c_name,
       o.o_orderkey AS o_orderkey,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
GROUP BY c.c_name, o.o_orderkey
""",
    tags=("subquery", "in", "semi", "having"),
)
def q18_in_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN over a grouped-HAVING subquery → semi join
    against the aggregated key set."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    l = load_table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(_QTY)).alias("sq"))
        .where(F.col("sq") > 150)
        .select("l_orderkey")
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
        .join(c, c.c_custkey == o.o_custkey)
        .join(l, F.col("l_orderkey") == o.o_orderkey)
        .groupBy("c_name", "o_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(_QTY)).cast("double").alias("total_qty"))
    )


@query(
    "q22_wealthy_inactive_customers",
    oracle="""
WITH pos AS (
    SELECT SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS s, COUNT(*) AS n
    FROM customer WHERE c_acctbal > 0
)
SELECT c.c_nationkey AS c_nationkey,
       COUNT(*) AS numcust,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
FROM customer c, pos
WHERE CAST(c.c_acctbal AS DECIMAL(12,2)) * pos.n > pos.s
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c.c_nationkey
""",
    tags=("subquery", "notexists", "anti", "scalar"),
)
def q22_wealthy_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: NOT EXISTS anti join + scalar-average threshold
    (above-average balance, never ordered), grouped by nation."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    pos = c.where(F.col("c_acctbal") > 0).agg(
        F.sum(F.col("c_acctbal").cast(_PRICE)).alias("s"),
        F.count("*").alias("n"),
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .crossJoin(F.broadcast(pos))
        .where(F.col("c_acctbal").cast(_PRICE) * F.col("n") > F.col("s"))
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(F.col("c_acctbal").cast(_PRICE)).cast("double").alias("totacctbal"),
        )
    )


@query(
    "q2_min_cost_supplier",
    oracle="""
WITH costs AS (
    SELECT l_partkey AS pk, l_suppkey AS sk,
           MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS min_price
    FROM lineitem GROUP BY 1, 2
), best AS (
    SELECT pk, MIN(min_price) AS best_price FROM costs GROUP BY pk
)
SELECT c.pk AS p_partkey, c.sk AS s_suppkey,
       CAST(c.min_price AS DOUBLE) AS best_price
FROM costs c JOIN best b ON b.pk = c.pk AND c.min_price = b.best_price
WHERE c.pk <= 200
""",
    tags=("subquery", "correlated", "minpergroup"),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: the correlated 'equals the per-group minimum'
    subquery, decorrelated to aggregate + join-back on (group, min). All
    suppliers tying at the minimum survive — the semantics that
    distinguish this from a window row_number top-1."""
    l = load_table(spark, sf_dir, "lineitem")
    costs = l.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(F.min(F.col("l_extendedprice").cast(_PRICE)).alias("min_price"))
    best = costs.groupBy("pk").agg(F.min("min_price").alias("best_price"))
    return (
        costs.join(best, "pk")
        .where((F.col("min_price") == F.col("best_price")) & (F.col("pk") <= 200))
        .select(
            F.col("pk").alias("p_partkey"),
            F.col("sk").alias("s_suppkey"),
            F.col("min_price").cast("double").alias("best_price"),
        )
    )


@query(
    "q21_multi_supplier_orders",
    oracle="""
SELECT l1.l_suppkey AS s_suppkey, COUNT(DISTINCT l1.l_orderkey) AS numwait
FROM lineitem l1
WHERE l1.l_returnflag = 'R'
  AND EXISTS (
      SELECT 1 FROM lineitem l2
      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
      SELECT 1 FROM lineitem l3
      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        AND l3.l_returnflag = 'R')
GROUP BY l1.l_suppkey
""",
    tags=("subquery", "exists", "notexists", "self"),
)
def q21_multi_supplier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the only supplier at fault — EXISTS (another
    supplier touched the order) AND NOT EXISTS (another supplier also
    returned on it), both correlated on the same table.

    Decorrelated as ONE aggregate over the order (distinct supplier
    count, distinct returning-supplier count) joined back — one shuffle
    instead of two correlated probes; the standard rewrite for multi-
    EXISTS on the same correlation key.
    """
    l = load_table(spark, sf_dir, "lineitem")
    per_order = l.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))).alias(
            "n_ret_supp"
        ),
    )
    r = l.where(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    return (
        r.join(per_order, "l_orderkey")
        # another supplier exists on the order, and this is the ONLY
        # supplier with a return on it
        .where((F.col("n_supp") > 1) & (F.col("n_ret_supp") == 1))
        .groupBy(F.col("l_suppkey").alias("s_suppkey"))
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
    )


# ---------------------------------------------------------------------------
# Recursive CTE (Spark 4's WITH RECURSIVE): iterative plans expressed in
# one SQL statement — previously this engine's only recursion was the
# driver-side connected-components loop (dedup/queries.py), whose oracle
# already leaned on DuckDB's recursive CTEs; here Spark itself runs one.

_REFERRAL_SQL = """
WITH RECURSIVE up (custkey, node, depth) AS (
    SELECT c_custkey, c_custkey, 0 FROM {customer}
    UNION ALL
    SELECT custkey, node {div} 2, depth + 1 FROM up WHERE node > 1
),
chain AS (
    SELECT custkey, MAX(depth) AS tree_depth FROM up GROUP BY custkey
)
SELECT ch.tree_depth,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(14,2))) AS DOUBLE) AS total_bal
FROM chain ch JOIN {customer} c ON c.c_custkey = ch.custkey
GROUP BY ch.tree_depth
"""


@query(
    "q_recursive_referral_depth",
    oracle=_REFERRAL_SQL.format(customer="customer", div="//"),
    tags=("sql", "recursive-cte", "hierarchy"),
)
def q_recursive_referral_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE hierarchy walk: customers form a referral tree
    (referrer = custkey DIV 2 — a deterministic binary hierarchy over the
    fixture, since the corpus carries no explicit parent edges), every
    customer walks its ancestor chain to the root, and the result is the
    depth histogram with DECIMAL-exact balance totals per level.

    The recursion is Spark 4's native WITH RECURSIVE (SQL-only surface,
    hence spark.sql over a temp view); DuckDB runs the identical
    statement, so the oracle replays the recursion itself, not a
    closed-form shortcut. Depth is logarithmic in the key space (≤ 21
    levels at SF 1000), so the iterative union runs O(log n) keyed joins
    — the same bounded-iteration shape as the connected-components loop,
    but planned and executed entirely inside the engine.

    Integer ancestor arithmetic (node DIV 2) termination: every chain
    reaches node = 1 in floor(log2(custkey)) steps; the recursion guard
    node > 1 stops there. Both engines' integer division agrees on
    positive keys.

    The walk materializes ~n·log2(n) rows, which exceeds Spark's default
    1M-row recursion safety guard at SF ≥ ~0.5 (measured: sf1's 1.5M
    customers need ~31M rows). The guard is a runaway-recursion limit,
    not a capacity bound, so the engine session's runtime conf raises
    the ROW limit while keeping the LEVEL limit (depth is what catches a
    non-terminating recursion)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "recursive_referral_customer"
    )
    return spark.sql(
        _REFERRAL_SQL.format(customer="recursive_referral_customer", div="DIV")
    )
