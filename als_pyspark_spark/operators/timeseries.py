"""Time-series analytics: calendar gap-fill with LOCF interpolation,
sweep-line interval concurrency, and cumulative-distinct growth curves.

These are the hypertable-adjacent operators a timeseries store (Timescale's
``time_bucket_gapfill``/``locf``, QuestDB's ``SAMPLE BY ... FILL``) ships
natively and the reference's batch engine has no analogue for; here each is
a composition of built-in DataFrame ops whose only ordered windows run over
*calendar-grain* or *entity-grain* aggregates, never over the raw fact
table — the same bounded-window discipline as q_revenue_mom_change
(operators/windows.py).

Exactness discipline (matches the rest of the repo): money travels as
integer cents (``ROUND(value·100)``), counts as BIGINT, days as 'yyyy-MM-dd'
strings — every output column hash-matches the DuckDB oracle bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from als_pyspark_spark.registry import query
from als_pyspark_spark.sources.tables import load_table


@query(
    "q_gapfill_locf_daily",
    oracle="""
WITH e AS (
    SELECT event_type,
           CAST(ts AS DATE) AS day,
           CAST(ROUND(value * 100) AS BIGINT) AS cents
    FROM events
), daily AS (
    SELECT event_type, day,
           COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS c
    FROM e GROUP BY 1, 2
), bounds AS (
    SELECT CAST(MIN(ts) AS DATE) AS lo, CAST(MAX(ts) AS DATE) AS hi FROM events
), cal AS (
    SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
    FROM bounds
), grid AS (
    SELECT t.event_type, cal.day
    FROM (SELECT DISTINCT event_type FROM e) t CROSS JOIN cal
)
SELECT g.event_type,
       STRFTIME(g.day, '%Y-%m-%d') AS day,
       COALESCE(d.n, 0) AS n_events,
       LAST_VALUE(d.c IGNORE NULLS) OVER (
           PARTITION BY g.event_type ORDER BY g.day
           ROWS UNBOUNDED PRECEDING
       ) AS total_cents_locf,
       d.n IS NULL AS is_gap
FROM grid g
LEFT JOIN daily d ON d.event_type = g.event_type AND d.day = g.day
""",
    tags=("timeseries", "gapfill", "locf", "window"),
)
def q_gapfill_locf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill with last-observation-carried-forward: the daily
    per-type revenue rollup joined against the FULL min..max calendar, so
    silent days materialize as rows with ``n_events = 0`` and the previous
    day's total carried forward (Timescale ``time_bucket_gapfill`` +
    ``locf`` semantics; days before a type's first observation stay NULL).

    100 TB shape: the fact scan collapses to (type × day) grain in one
    partial-aggregated groupBy before anything ordered happens. The
    calendar is built from a 1-row min/max aggregate via ``sequence`` and
    cross-joined against the distinct type list — both broadcast-sized by
    construction. The LOCF window (``last(..., ignorenulls)`` per type,
    ordered by day) runs over that bounded grid, never the fact table, so
    there is no single-partition sort of raw data at any scale.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    daily = e.groupBy("event_type", "day").agg(
        F.count("*").alias("n"), F.sum("cents").alias("c")
    )
    cal = (
        load_table(spark, sf_dir, "events")
        .agg(F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("day"))
    )
    grid = e.select("event_type").distinct().crossJoin(F.broadcast(cal))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.last("c", ignorenulls=True).over(w).alias("total_cents_locf"),
            F.col("n").isNull().alias("is_gap"),
        )
    )


def sweep_line_daily_max(starts: DataFrame, duration: str = "INTERVAL 30 MINUTES") -> DataFrame:
    """Shared sweep-line core: peak concurrency per day over half-open
    sessions ``[t, t+duration)`` from a one-column ``t: timestamp``
    DataFrame. Returns ``(day: date, max_concurrent: long, n_opened: long)``
    — callers format/cast for their output contract.

    Deltas are pre-aggregated per ``(day, t)`` into one NET delta per
    distinct instant BEFORE any running sum, so k simultaneous closes (or
    an open and a close at the same t) contribute a single signed step.
    The running value after each net step therefore equals the true
    concurrency AT that instant under half-open semantics (opens at t
    count, closes at t don't) — there is no per-row partial prefix, so no
    phantom intermediate state can inflate MAX. (Counterexample: two
    sessions ending exactly at midnight make a per-ROW running sum report
    ``max_concurrent = 1`` on a day whose true peak is 0;
    tests/test_properties.py keeps that spec as the guard.)

    Distributed two-phase shape:
    1. net deltas per (day, t) — one hash aggregate, map-side partial;
    2. within-day prefix sums over the UNIQUE-t net deltas, partitioned
       by day (parallel across days);
    3. carry into each day from a day-grain cumulative window (one row
       per calendar day — the q_revenue_mom_change discipline);
    global value at t = carry + within-day prefix; max per day.
    """
    deltas = starts.select(F.col("t"), F.lit(1).alias("d")).unionByName(
        starts.select(
            (F.col("t") + F.expr(duration)).alias("t"),
            F.lit(-1).alias("d"),
        )
    ).withColumn("day", F.to_date("t"))
    net = deltas.groupBy("day", "t").agg(
        F.sum("d").alias("g"),
        F.sum(F.when(F.col("d") == 1, 1).otherwise(0)).alias("opens"),
    )
    in_day = Window.partitionBy("day").orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    per_t = net.select(
        "day", "g", "opens", F.sum("g").over(in_day).alias("r_in_day")
    )
    day_stats = per_t.groupBy("day").agg(
        F.max("r_in_day").alias("max_in_day"),
        F.sum("g").alias("day_total"),
        F.sum("opens").alias("n_opened"),
    )
    carry_w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    return day_stats.select(
        "day",
        (
            F.coalesce(F.sum("day_total").over(carry_w), F.lit(0))
            + F.col("max_in_day")
        ).alias("max_concurrent"),
        "n_opened",
    )


@query(
    "q_max_concurrent_sessions",
    oracle="""
WITH deltas AS (
    SELECT ts AS t, 1 AS d FROM events
    UNION ALL
    SELECT ts + INTERVAL 30 MINUTE AS t, -1 AS d FROM events
), net AS (
    SELECT CAST(t AS DATE) AS day, t,
           SUM(d) AS g,
           SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS opens
    FROM deltas GROUP BY 1, 2
), run AS (
    SELECT day, opens,
           SUM(g) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS r
    FROM net
)
SELECT STRFTIME(day, '%Y-%m-%d') AS day,
       CAST(MAX(r) AS BIGINT) AS max_concurrent,
       CAST(SUM(opens) AS BIGINT) AS n_opened
FROM run
GROUP BY day
""",
    tags=("timeseries", "intervals", "sweep-line", "two-phase"),
)
def q_max_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per day over half-open 30-minute sessions
    ``[ts, ts+30m)`` — the classic sweep-line (+1 at open, −1 at close,
    max of the running sum), computed by :func:`sweep_line_daily_max` as
    a DISTRIBUTED two-phase prefix sum over per-(day, t) NET deltas, so
    simultaneous boundary events contribute one signed step and the MAX
    never sees a phantom per-row partial prefix.
    The DuckDB oracle mirrors the same pre-aggregation, then takes its
    single global window over the unique-instant net deltas.

    100 TB shape: no SinglePartition sort of the fact table — the net
    collapse is one map-side-partial hash aggregate, phase 2
    parallelizes across days, and the only global ordered window sees
    one row per calendar day.
    """
    e = load_table(spark, sf_dir, "events")
    return sweep_line_daily_max(e.select(F.col("ts").alias("t"))).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "max_concurrent",
        "n_opened",
    )


@query(
    "q_cumulative_distinct_users",
    oracle="""
WITH per_day AS (
    SELECT CAST(ts AS DATE) AS day, user_id FROM events GROUP BY 1, 2
), first_seen AS (
    SELECT user_id, MIN(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id
), active AS (
    SELECT day, COUNT(*) AS active_users FROM per_day GROUP BY day
), fresh AS (
    SELECT day, COUNT(*) AS new_users FROM first_seen GROUP BY day
)
SELECT STRFTIME(a.day, '%Y-%m-%d') AS day,
       a.active_users,
       COALESCE(f.new_users, 0) AS new_users,
       CAST(SUM(COALESCE(f.new_users, 0)) OVER (
           ORDER BY a.day ROWS UNBOUNDED PRECEDING
       ) AS BIGINT) AS cumulative_users
FROM active a LEFT JOIN fresh f ON f.day = a.day
""",
    tags=("timeseries", "distinct", "growth", "two-phase"),
)
def q_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active / new / cumulative-distinct user counts — the growth
    dashboard's headline curve, computed EXACTLY without any
    distinct-per-window blowup: cumulative distinct as of day d equals the
    count of users whose FIRST-SEEN day ≤ d, so one groupBy(user) min()
    plus a day-grain cumulative window replaces the naive
    count(distinct) over an expanding frame (which would rescan every
    prefix).

    100 TB shape: two hash aggregates over the fact table (user-grain
    first-seen, (day,user)-grain active), both partial-aggregated map-side;
    the only ordered window runs over the day-grain result (calendar-
    bounded, q_revenue_mom_change discipline).
    """
    e = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    active = e.distinct().groupBy("day").agg(F.count("*").alias("active_users"))
    fresh = (
        e.groupBy("user_id")
        .agg(F.min("day").alias("day"))
        .groupBy("day")
        .agg(F.count("*").alias("new_users"))
    )
    cum_w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        active.join(fresh, "day", "left")
        .select(
            "day",
            "active_users",
            F.coalesce("new_users", F.lit(0)).alias("new_users"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "active_users",
            "new_users",
            F.sum("new_users").over(cum_w).alias("cumulative_users"),
        )
    )


@query(
    "q_rolling_7d_distinct_users",
    oracle="""
WITH days AS (
    SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
), pd AS (
    SELECT CAST(ts AS DATE) AS day, user_id FROM events GROUP BY 1, 2
)
SELECT STRFTIME(d.day, '%Y-%m-%d') AS day,
       CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS mau_7d
FROM days d
JOIN pd p ON p.day > d.day - 7 AND p.day <= d.day
GROUP BY d.day
""",
    tags=("timeseries", "distinct", "rolling-window", "two-phase"),
)
def q_rolling_7d_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users per day (the "rolling MAU" curve) —
    EXACT, and computed without re-scanning the fact table once per
    window: the fact stream collapses to (day, user) grain in one hash
    aggregate, and each day's trailing week re-unions only day-grain
    rows via a bounded range join (≤7 day-partitions per output day).
    Distinctness cannot be windowed by simple running sums (it is not
    mergeable as counts), which is exactly why the day-grain
    re-aggregation — not a prefix trick like q_cumulative_distinct_users
    uses for the all-time curve — is the honest exact form.

    100 TB shape: the heavy aggregate is the (day, user) collapse
    (map-side partial, one shuffle); the range join then touches
    |days|×|users/day| day-grain rows, each replicated ≤7× — independent
    of raw event volume. When users/day itself is huge, the mergeable
    relaxations take over: per-day HLL sketches unioned across the
    window (q_hll_sketch_union) or per-day bitmaps OR-ed
    (q_bitmap_distinct_users) — this query is their exact baseline.
    """
    e = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    pd_grain = e.distinct()
    days = pd_grain.select("day").distinct().withColumnRenamed("day", "d")
    joined = days.join(
        pd_grain,
        (F.col("day") > F.date_sub(F.col("d"), 7)) & (F.col("day") <= F.col("d")),
    )
    return (
        joined.groupBy("d")
        .agg(F.countDistinct("user_id").alias("mau_7d"))
        .select(F.date_format("d", "yyyy-MM-dd").alias("day"), "mau_7d")
    )
