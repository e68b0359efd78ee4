"""Aggregation surface beyond plain groupBy (SURVEY.md §2.5 "Absent" list:
grouping sets / rollup / cube / global distinct / approx sketches).

Scale notes: ROLLUP/CUBE expand each input row into its grouping-set
combinations *before* the partial aggregate — map-side combine still applies.
count_distinct shuffles the distinct keys (expand + two-phase agg);
approx_count_distinct (HyperLogLog++) is the 100 TB path and is included as a
rows-only query (sketch values are engine-specific, so no value oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from als_pyspark_spark.caching import local_frame
from als_pyspark_spark.registry import collected_query, query
from als_pyspark_spark.sources.tables import load_table


@query(
    "q_rollup_returns",
    oracle="""
SELECT COALESCE(l_returnflag, '<all>') AS l_returnflag,
       COALESCE(l_linestatus, '<all>') AS l_linestatus,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    tags=("agg", "rollup"),
)
def q_rollup_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus) with subtotals + grand total."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double").alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("l_linestatus"),
            "n_rows",
            "sum_qty",
        )
    )


@query(
    "q_cube_order_status",
    oracle="""
SELECT COALESCE(o_orderstatus, '<all>') AS o_orderstatus,
       COALESCE(o_orderpriority, '<all>') AS o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    tags=("agg", "cube"),
)
def q_cube_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 4 grouping-set combinations."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double").alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("o_orderstatus"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("o_orderpriority"),
            "n_orders",
            "total_price",
        )
    )


@query(
    "q_distinct_counts",
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("agg", "distinct"),
)
def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi count-distinct per group (reference A7 was a local set(),
    ALS.py:286-296; this is the distributed expand+two-phase form)."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


@query(
    "q_approx_distinct_users",
    oracle=None,  # HLL sketch estimates are engine-specific by design
    tags=("agg", "approx", "sketch"),
)
def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++): the 100 TB cardinality path —
    fixed-size sketch state instead of a distinct shuffle. Rows-only check
    (sketch estimates are engine-specific), but the ROW ITSELF witnesses
    the error bound: it carries the exact distinct count and a
    within_bound flag (|approx-exact|/exact ≤ 5·rsd), so the driver row
    encodes the bound check rather than delegating it to local tests.
    (The exact comparator is affordable here; at 100 TB you would ship
    only the sketch column — the point of the operator.)"""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
        F.count("*").alias("n_events"),
    ).select(
        "event_type",
        "approx_users",
        "exact_users",
        "n_events",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            / F.col("exact_users")
            <= 0.10
        ).alias("within_bound"),
    )


@query(
    "q_stats_acctbal",
    oracle="""
SELECT c_mktsegment,
       CAST(MIN(c_acctbal) AS DOUBLE) AS min_bal,
       CAST(MAX(c_acctbal) AS DOUBLE) AS max_bal,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_bal,
       COUNT(*) AS n
FROM customer
GROUP BY c_mktsegment
""",
    tags=("agg", "stats"),
)
def q_stats_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max/avg/count per segment (reference A6 analogue, ALS.py:629)."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.min("c_acctbal").cast("double").alias("min_bal"),
        F.max("c_acctbal").cast("double").alias("max_bal"),
        (F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double") / F.count("*")).alias("avg_bal"),
        F.count("*").alias("n"),
    )


@query(
    "q_conditional_agg",
    oracle="""
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
       CAST(SUM(CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big
FROM orders
GROUP BY o_orderpriority
""",
    tags=("agg", "case"),
)
def q_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN pivot-style conditional aggregation (reference P6 analogue:
    the implicit-feedback r>0 branch, ALS.py:514-515)."""
    o = load_table(spark, sf_dir, "orders")
    one_if = lambda cond: F.sum(F.when(cond, 1).otherwise(0)).cast("long")  # noqa: E731
    return o.groupBy("o_orderpriority").agg(
        one_if(F.col("o_orderstatus") == "F").alias("n_finished"),
        one_if(F.col("o_orderstatus") == "O").alias("n_open"),
        one_if(F.col("o_totalprice") > 200000).alias("n_big"),
    )


@query(
    "q_percentiles_totalprice",
    oracle="""
SELECT o_orderstatus,
       quantile_cont(o_totalprice, 0.5) AS median_price,
       quantile_cont(o_totalprice, 0.9) AS p90_price,
       CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
       CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
FROM orders
GROUP BY o_orderstatus
""",
    tags=("agg", "percentile"),
)
def q_percentiles_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles (median, p90) per order status.

    Both engines use the same linear interpolation on the same sorted
    doubles — (1-f)·a + f·b over identical inputs is bit-identical, so
    this hash-matches without rounding. (percentile_approx is a separate
    rows-only sketch; this is the exact operator.)
    """
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("median_price"),
        F.expr("percentile(o_totalprice, 0.9)").alias("p90_price"),
        F.min("o_totalprice").cast("double").alias("min_price"),
        F.max("o_totalprice").cast("double").alias("max_price"),
    )


@query("q_approx_percentile_sketch", oracle=None, tags=("agg", "approx", "sketch"))
def q_approx_percentile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna sketch) — the 100 TB path where
    exact percentile's full sort is unaffordable. Rows-only (sketch
    outputs are engine-specific), but the ROW ITSELF witnesses the rank
    bound: accuracy=1000 guarantees rank error ≤ 1/1000, so the estimate
    must lie within the exact [p45, p55] envelope (49 rank-error widths of
    slack) — emitted as a within_bound flag alongside the exact median."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("approx_median"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_median"),
        F.expr("percentile(l_extendedprice, 0.45)").alias("p45"),
        F.expr("percentile(l_extendedprice, 0.55)").alias("p55"),
        F.count("*").alias("n"),
    ).select(
        "l_returnflag",
        "approx_median",
        "exact_median",
        "n",
        (
            (F.col("approx_median") >= F.col("p45"))
            & (F.col("approx_median") <= F.col("p55"))
        ).alias("within_bound"),
    )


@query(
    "q_tablesample_stats",
    oracle=None,
    tags=("sample", "scan"),
)
def q_tablesample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded 10% Bernoulli sample of lineitem (sample pushed into the
    scan — rows are dropped before any downstream operator). Rows-only:
    sampling RNGs are engine-specific by nature — but the ROW ITSELF
    witnesses the statistical bound: it carries the unsampled group count
    and a within_bound flag checking the realized sampling fraction lands
    in [0.05, 0.15] (±>5σ of Binomial(n, 0.1) for every group size in the
    fixtures), so the driver row encodes the sanity check."""
    l = load_table(spark, sf_dir, "lineitem")
    sampled = (
        l.sample(fraction=0.1, seed=42)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_sampled"))
    )
    totals = l.groupBy("l_returnflag").agg(F.count("*").alias("n_total"))
    frac = F.col("n_sampled") / F.col("n_total")
    return sampled.join(F.broadcast(totals), "l_returnflag").select(
        "l_returnflag",
        "n_sampled",
        "n_total",
        ((frac >= 0.05) & (frac <= 0.15)).alias("within_bound"),
    )


@query(
    "q_value_histogram",
    oracle="""
SELECT event_type,
       CAST(CASE WHEN value < 0.0 THEN 0
                 WHEN value >= 1000.0 THEN 21
                 ELSE CAST(FLOOR(value / 50.0) AS INT) + 1 END AS INT) AS bucket,
       COUNT(*) AS n
FROM events
GROUP BY 1, 2
""",
    tags=("agg", "histogram", "binning"),
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of event values per type (width_bucket
    binning) — the one-pass distribution summary dashboards and data-
    quality checks run over a fact stream. Bucket boundaries are exact
    double comparisons, identical on both engines."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            "event_type",
            F.width_bucket("value", F.lit(0.0), F.lit(1000.0), F.lit(20))
            .cast("int")
            .alias("bucket"),
        )
        .agg(F.count("*").alias("n"))
    )


@query(
    "q_listagg_priorities_by_status",
    oracle="""
SELECT o_orderstatus,
       string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
           AS priorities,
       CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities
FROM orders
GROUP BY o_orderstatus
""",
    tags=("aggregate", "listagg"),
)
def q_listagg_priorities_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg): the distinct
    priorities per order status as one sorted CSV cell. Expressed as
    collect_set → array_sort → array_join so the result is deterministic
    regardless of partition arrival order — the only safe way to
    string-aggregate on a distributed engine."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.array_join(
            F.array_sort(F.collect_set("o_orderpriority")), ","
        ).alias("priorities"),
        F.count_distinct("o_orderpriority").alias("n_priorities"),
    )


@query(
    "q_median_quantity_by_flag",
    oracle="""
SELECT l_returnflag,
       median(l_quantity) AS median_qty,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("aggregate", "median"),
)
def q_median_quantity_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped MEDIAN — both engines define it as the continuous
    0.5-quantile (average of the two middle values for even counts), and
    l_quantity's integral doubles make the midpoint arithmetic identical.
    Exact medians need a per-group sort; at 100 TB the grouped form stays
    scalable because each group sorts independently after one shuffle
    (use approx_percentile when a corpus-wide median is enough)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.median("l_quantity").alias("median_qty"),
        F.count("*").alias("n"),
    )


@query(
    "q_maxby_top_order_per_customer",
    oracle="""
SELECT o_custkey,
       arg_max(o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) * 10000000000
               + o_orderkey) AS top_orderkey,
       MAX(o_totalprice) AS top_price
FROM orders
GROUP BY o_custkey
""",
    tags=("aggregate", "max_by"),
)
def q_maxby_top_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAX_BY / arg_max: each customer's most expensive order in ONE
    aggregation pass — no self-join, no window. The ordering argument packs
    (price-in-cents, orderkey) into one BIGINT so float-price ties break on
    the unique key identically in both engines (bare max_by on a tied value
    is nondeterministic on any engine — the classic latest-per-key trap;
    DuckDB's arg_max has no struct ordering, hence the packed key).

    Key width: the 1e10 shift keeps orderkey strictly below the price term
    for o_orderkey < 1e10 (TPC-H orderkey ≈ 6M·SF, so safe past SF 1000);
    price_cents ≤ ~6e7 keeps the product ≤ ~6e17, inside int64."""
    o = load_table(spark, sf_dir, "orders")
    ordkey = (
        F.round(F.col("o_totalprice") * 100).cast("long") * 10_000_000_000
        + F.col("o_orderkey")
    )
    return o.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", ordkey).alias("top_orderkey"),
        F.max("o_totalprice").alias("top_price"),
    )


@query("q_hll_sketch_union", oracle=None, tags=("aggregate", "sketch", "hll"))
def q_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL): build
    one sketch of distinct users PER event type, then merge the sketches
    and estimate the global distinct count — the partial/merge shape that
    lets 1000 executors sketch 100 TB locally and combine k small binary
    states, and lets pre-aggregated sketches answer rollups without
    rescanning. Rows-only check by design (the estimate is approximate) —
    but each ROW witnesses the error bound itself: it carries the exact
    distinct count and a within_bound flag (|est-exact|/exact ≤ 5%, well
    past lgK=12's ~1.6% rsd), so the driver row encodes the bound check
    instead of delegating it to local tests.

    Deterministic: HLL sketching is hash-based (no RNG), so re-runs give
    identical estimates on identical input."""
    e = load_table(spark, sf_dir, "events")
    per_type = e.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    typed = per_type.select(
        "event_type",
        F.hll_sketch_estimate("sk").alias("est_users"),
        "exact_users",
    )
    global_exact = e.agg(F.countDistinct("user_id").alias("exact_users"))
    merged = (
        per_type.agg(F.hll_union_agg("sk").alias("sk"))
        .crossJoin(F.broadcast(global_exact))
        .select(
            F.lit("<all>").alias("event_type"),
            F.hll_sketch_estimate("sk").alias("est_users"),
            "exact_users",
        )
    )
    both = typed.unionByName(merged)
    return both.select(
        "event_type",
        "est_users",
        "exact_users",
        (
            F.abs(F.col("est_users") - F.col("exact_users"))
            / F.col("exact_users")
            <= 0.05
        ).alias("within_bound"),
    )


# Count-min sketch geometry: d salted hash rows × w buckets. md5 is the
# hash family (byte-identical in DuckDB — the same choice that gives the
# whole LSH dedup family exact oracles, functions/hashing.py), so the
# sketch contents and every estimate are deterministic AND replayable.
_CMS_D = 4
_CMS_W = 2048


def _cms_bucket(j, token):
    """Bucket of ``token`` under salted hash row ``j`` (Columns), via the
    repo's standard cross-engine md5→int: first 8 hex chars as a 32-bit
    value, mod w. Always non-negative (the operand is < 2^32)."""
    salted = F.concat(F.lit("cms"), j.cast("string"), F.lit(":"), token)
    return (
        F.conv(F.substring(F.md5(salted), 1, 8), 16, 10).cast("long") % _CMS_W
    )


@query(
    "q_cms_heavy_hitters",
    oracle=f"""
WITH tf AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (SELECT UNNEST(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
), js AS (
    SELECT UNNEST(generate_series(0, {_CMS_D - 1})) AS j
), sk AS (
    SELECT j,
           ('0x' || substr(md5('cms' || CAST(j AS VARCHAR) || ':' || token), 1, 8))::BIGINT
               % {_CMS_W} AS bucket,
           CAST(SUM(cnt) AS BIGINT) AS c
    FROM tf CROSS JOIN js
    GROUP BY 1, 2
), top AS (
    SELECT token, cnt FROM tf ORDER BY cnt DESC, token ASC LIMIT 20
), probe AS (
    SELECT t.token, t.cnt, s.c
    FROM top t
    CROSS JOIN js
    JOIN sk s
      ON s.j = js.j
     AND s.bucket = ('0x' || substr(md5('cms' || CAST(js.j AS VARCHAR) || ':' || t.token), 1, 8))::BIGINT
                    % {_CMS_W}
)
SELECT token,
       cnt AS exact_cnt,
       CAST(MIN(c) AS BIGINT) AS cms_est,
       CAST(MIN(c) AS BIGINT) - cnt AS overestimate,
       MIN(c) >= cnt AS est_at_least_exact
FROM probe
GROUP BY token, cnt
""",
    tags=("agg", "sketch", "cms", "text", "topk"),
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation — the FREQUENCY member of the
    sketch family (HLL = cardinality, bitmap = exact distinct, Bloom =
    membership, MinHash/SimHash = similarity): a fixed d×w counter grid
    answers "how often does x occur?" for ANY x without keeping the full
    vocabulary. Probed here for the exact top-20 tokens so every row
    carries its own witness: ``overestimate = est − exact`` with the CMS
    one-sided guarantee ``est ≥ exact`` (min over d salted rows of bucket
    sums can only over-count collisions, never drop mass) as a boolean.

    Unlike the HLL row (rows-only by necessity — DataSketches internals),
    this sketch is EXACT-oracled end-to-end: md5 bucketing is
    byte-identical in DuckDB, so the oracle rebuilds the identical grid
    and identical estimates.

    100 TB shape: the corpus collapses to token grain in one
    partial-aggregated groupBy (the same aggregate the top-k rides);
    the sketch build re-keys those token rows d times into a grid of
    AT MOST d×w = 4×2048 cells — constant-size mergeable state, which is
    the whole point: per-executor partial grids sum cell-wise, rollups
    re-aggregate sketches without rescanning, and a stream maintains the
    grid incrementally. Probes cost O(k·d) lookups against the tiny grid
    (broadcast); nothing downstream of the first aggregate depends on
    corpus size."""
    d = load_table(spark, sf_dir, "documents")
    from als_pyspark_spark.functions.text import tokens

    tf = (
        d.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    js = F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("j")
    sketch = (
        tf.select("token", "cnt", js)
        .select("j", _cms_bucket(F.col("j"), F.col("token")).alias("bucket"), "cnt")
        .groupBy("j", "bucket")
        .agg(F.sum("cnt").alias("c"))
    )
    top = tf.orderBy(F.desc("cnt"), F.asc("token")).limit(20)
    probes = top.select("token", "cnt", js).select(
        "token",
        "cnt",
        "j",
        _cms_bucket(F.col("j"), F.col("token")).alias("bucket"),
    )
    est = (
        F.broadcast(probes)
        .join(sketch, ["j", "bucket"])
        .groupBy("token", "cnt")
        .agg(F.min("c").alias("cms_est"))
    )
    return est.select(
        "token",
        F.col("cnt").alias("exact_cnt"),
        "cms_est",
        (F.col("cms_est") - F.col("cnt")).alias("overestimate"),
        (F.col("cms_est") >= F.col("cnt")).alias("est_at_least_exact"),
    )


@query(
    "q_corr_covar_exact",
    oracle="""
WITH c AS (
    SELECT l_returnflag,
           CAST(ROUND(l_quantity * 100) AS BIGINT) AS x,
           CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
    FROM lineitem
), s AS (
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
           SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
           SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy,
           SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
    FROM c GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       ROUND((CAST(sxy AS DOUBLE) / 10000 - (CAST(sx AS DOUBLE) / 100)
            * (CAST(sy AS DOUBLE) / 100) / n) / n, 4) AS covar_pop,
       ROUND(((CAST(sxy AS DOUBLE) / 10000 - (CAST(sx AS DOUBLE) / 100)
            * (CAST(sy AS DOUBLE) / 100) / n) / n)
       / sqrt((CAST(sxx AS DOUBLE) / 10000 - (CAST(sx AS DOUBLE) / 100)
            * (CAST(sx AS DOUBLE) / 100) / n) / n)
       / sqrt((CAST(syy AS DOUBLE) / 10000 - (CAST(sy AS DOUBLE) / 100)
            * (CAST(sy AS DOUBLE) / 100) / n) / n), 9) AS corr
FROM s
""",
    tags=("aggregate", "stats", "gramian"),
)
def q_corr_covar_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic distributed second moments: per-flag covariance and
    correlation of (quantity, price) from one pass of INTEGER-CENTS sums
    of squares/products — the DataFrame twin of the reference's Gramian
    accumulation (SURVEY §2.5 A4/A5: NormalEquation keeps Σx·xᵀ and merges
    partials; here the moment sums are map-side-combinable BIGINTs).

    Why not the built-in corr()/covar_pop(): those accumulate DOUBLES, and
    distributed float summation order differs run-to-run and engine-to-
    engine — fine statistically, but not hashable against an oracle. The
    moment sums are exact and associative in DECIMAL(38,0) (HUGEINT on
    the DuckDB side — the q_zscore_outlier_orders width; int64 syy
    measurably overflowed at sf1, which is why the moments are wide).
    Derived stats round in-query — covar to 4 dp (≤13 significant
    digits, so the decimal→double cast is exact on both engines' paths),
    corr to 9 dp — because the RAW moment→double cast of a >2^53 decimal
    can legitimately differ by 1 ulp across engines (DuckDB's
    int128→double divide double-rounds); the rounding budget absorbs
    that while keeping far more precision than the statistics carry."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_quantity") * 100).cast("long")
    y = F.round(F.col("l_extendedprice") * 100).cast("long")
    xd = x.cast("decimal(19,0)")
    yd = y.cast("decimal(19,0)")
    s = li.select(
        "l_returnflag",
        x.alias("x"),
        y.alias("y"),
        (xd * xd).cast("decimal(38,0)").alias("xx"),
        (yd * yd).cast("decimal(38,0)").alias("yy"),
        (xd * yd).cast("decimal(38,0)").alias("xy"),
    ).groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("xx").alias("sxx"),
        F.sum("yy").alias("syy"),
        F.sum("xy").alias("sxy"),
    )
    n = F.col("n")
    dx = F.col("sx").cast("double") / 100
    dy = F.col("sy").cast("double") / 100
    covar = (F.col("sxy").cast("double") / 10000 - dx * dy / n) / n
    varx = (F.col("sxx").cast("double") / 10000 - dx * dx / n) / n
    vary = (F.col("syy").cast("double") / 10000 - dy * dy / n) / n
    return s.select(
        "l_returnflag",
        "n",
        F.round(covar, 4).alias("covar_pop"),
        F.round(covar / F.sqrt(varx) / F.sqrt(vary), 9).alias("corr"),
    )


@query(
    "q_bitmap_distinct_users",
    oracle="""
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY event_type
""",
    tags=("aggregate", "bitmap", "distinct"),
)
def q_bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmap aggregates (Spark 3.5 bitmap_*
    family): bucket each user id (bitmap_bucket_number), build one 4KB
    bitmap per (type, bucket) partial (bitmap_construct_agg), OR-merge the
    partials (bitmap_or_agg) and sum the popcounts — exact like
    COUNT(DISTINCT) but with mergeable fixed-size state, the property that
    lets 1000 executors pre-aggregate locally and re-aggregate rollups
    without rescanning (the exact-counting sibling of the HLL sketch,
    q_hll_sketch_union). The oracle is the plain COUNT(DISTINCT) the
    bitmaps must reproduce bit-for-bit."""
    e = load_table(spark, sf_dir, "events")
    per_bucket = (
        e.select(
            "event_type",
            F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
            F.col("user_id"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias("bm"))
    )
    return (
        per_bucket.groupBy("event_type")
        .agg(F.sum(F.expr("bitmap_count(bm)")).alias("n_users"))
    )


@query(
    "q_profile_orders",
    oracle="""
WITH s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(o_custkey) AS BIGINT) AS nn_custkey,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS nd_custkey,
           CAST(COUNT(o_orderstatus) AS BIGINT) AS nn_status,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS nd_status,
           CAST(COUNT(o_totalprice) AS BIGINT) AS nn_price,
           CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS nd_price,
           CAST(MIN(ROUND(o_totalprice * 100)) AS BIGINT) AS min_price_cents,
           CAST(MAX(ROUND(o_totalprice * 100)) AS BIGINT) AS max_price_cents
    FROM orders
)
SELECT 'o_custkey' AS column_name, n_rows, nn_custkey AS n_non_null,
       nd_custkey AS n_distinct, NULL AS min_cents, NULL AS max_cents FROM s
UNION ALL
SELECT 'o_orderstatus', n_rows, nn_status, nd_status, NULL, NULL FROM s
UNION ALL
SELECT 'o_totalprice', n_rows, nn_price, nd_price,
       min_price_cents, max_price_cents FROM s
""",
    tags=("profile", "data-quality", "aggregate"),
)
def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass table profiling (the deequ/dbt-test staple): row count,
    per-column non-null and distinct counts, and numeric min/max — ALL
    columns' statistics from ONE aggregation over one scan, then unpivoted
    to a (column_name, metric...) report with stack(). At 100 TB the one-
    pass shape is the whole point: profiling k columns must not cost k
    scans. Distinct counts share the expand+partial-agg plan Spark uses
    for multi count-distinct; numeric extremes travel as integer cents so
    the report hash-matches exactly. (approx_count_distinct swaps in when
    estimates suffice — see q_approx_distinct_users.)"""
    o = load_table(spark, sf_dir, "orders")
    s = o.agg(
        F.count("*").alias("n_rows"),
        F.count("o_custkey").alias("nn_custkey"),
        F.countDistinct("o_custkey").alias("nd_custkey"),
        F.count("o_orderstatus").alias("nn_status"),
        F.countDistinct("o_orderstatus").alias("nd_status"),
        F.count("o_totalprice").alias("nn_price"),
        F.countDistinct("o_totalprice").alias("nd_price"),
        F.min(F.round(F.col("o_totalprice") * 100)).cast("long").alias("min_price_cents"),
        F.max(F.round(F.col("o_totalprice") * 100)).cast("long").alias("max_price_cents"),
    )
    return s.selectExpr(
        """stack(3,
            'o_custkey',     n_rows, nn_custkey, nd_custkey,
                CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
            'o_orderstatus', n_rows, nn_status, nd_status,
                CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
            'o_totalprice',  n_rows, nn_price, nd_price,
                min_price_cents, max_price_cents
        ) AS (column_name, n_rows, n_non_null, n_distinct, min_cents, max_cents)"""
    )


@collected_query(
    "q_equidepth_deciles",
    oracle="""
WITH c AS (
    SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v FROM orders
), n AS (
    SELECT COUNT(*) AS c FROM c
), t AS (
    SELECT k, (k * (SELECT c FROM n)) // 10 AS r
    FROM (SELECT UNNEST(generate_series(1, 9)) AS k)
), s AS (
    SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn FROM c
)
SELECT CAST(t.k AS BIGINT) AS decile,
       CAST(t.r AS BIGINT) AS global_rank,
       s.v AS value_cents
FROM t JOIN s ON s.rn = t.r
""",
    tags=("aggregate", "percentile", "equi-depth", "two-phase"),
)
def _equidepth_plan(spark: SparkSession, sf_dir: str):
    """GLOBAL exact equi-depth decile boundaries (value at rank ⌊k·n/10⌋,
    k=1..9) over order prices — without ever globally sorting the fact
    table. This is the distributed exact-quantile algorithm:

    1. map prices to integer cents and coarse VALUE-RANGE buckets
       (``cents DIV 100000`` — bucket count bounded by the price DOMAIN,
       a few thousand, independent of row count);
    2. one hash aggregate → per-bucket counts; a cumulative window over
       the bucket grain (bounded, q_revenue_mom_change discipline)
       locates, for each of the 9 target ranks, its containing bucket
       and in-bucket offset;
    3. only the ≤9 hit buckets' rows are ranked — a window partitioned
       by bucket over a vanishing fraction of the table — and the row at
       each offset is the boundary. Ties collapse safely: ordering by
       the value alone leaves equal values interchangeable, so the value
       at a fixed offset is deterministic.

    The DuckDB oracle computes the same ranks with one global
    ROW_NUMBER, so a match proves the two-phase decomposition exact.
    Rank arithmetic bound: targets compute as ``(k·n)/10`` through a
    double then truncate — exact while k·n ≤ 2^53, i.e. n ≲ 1e15 rows,
    far past any SF (same documented-bound style as
    q_maxby_top_order_per_customer's packed key).
    Contrast with q_percentiles_totalprice (percentile_cont on doubles)
    and q_latency_percentile_bands (exact, but per-hour partitions) —
    this one is exact AND global AND shuffle-bounded; at 100 TB phase 3
    touches ~(9/buckets) of the data while a naive global rank would
    sort all of it.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v")
    )
    bucketed = o.select("v", F.expr("v DIV 100000").alias("b")).persist()
    counts = bucketed.groupBy("b").agg(F.count("*").alias("cnt"))
    cum_w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    cum = counts.select(
        "b",
        "cnt",
        F.coalesce(F.sum("cnt").over(cum_w), F.lit(0)).alias("below"),
    )
    n = o.count()
    targets = spark.range(1, 10).select(
        F.col("id").alias("decile"),
        ((F.col("id") * n) / 10).cast("long").alias("r"),
    )
    # ≤9 rows by construction (one per target rank) — materializing them
    # driver-side is bounded at ANY scale (the IVF-centroid pattern) and
    # keeps phase 3's plan free of the bucket-cumsum subtree.
    hits = (
        cum.join(
            F.broadcast(targets),
            (F.col("below") < F.col("r"))
            & (F.col("below") + F.col("cnt") >= F.col("r")),
        )
        .select("decile", "r", "b", (F.col("r") - F.col("below")).alias("off"))
        .collect()
    )
    hit_lit = local_frame(
        spark,
        [(int(h.decile), int(h.r), int(h.b), int(h.off)) for h in hits],
        "decile long, r long, hb long, off long",
    )
    in_bucket = Window.partitionBy("b").orderBy("v")
    ranked = (
        bucketed.where(F.col("b").isin([int(h.b) for h in hits]))
        .select("b", "v", F.row_number().over(in_bucket).alias("rn"))
    )
    deciles = (
        ranked.join(
            F.broadcast(hit_lit),
            (ranked["b"] == hit_lit["hb"])
            & (ranked["rn"].cast("long") == hit_lit["off"]),
        )
        .select(
            "decile",
            F.col("r").alias("global_rank"),
            F.col("v").alias("value_cents"),
        )
    )
    return deciles, [bucketed]
