"""Batch queries over the events table — the deterministic twins of the
Structured Streaming jobs in streaming/events.py (same windows, same dedup
semantics), so the streaming logic gets an exact DuckDB oracle here and the
streaming tests only have to prove batch≡stream equivalence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from als_pyspark_spark.registry import query
from als_pyspark_spark.sources.tables import load_table


@query(
    "q_events_tumbling_hourly",
    oracle="""
SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""",
    tags=("events", "window", "streaming-twin"),
)
def q_events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregate, expressed with the real
    F.window() operator (not date_trunc) — the same expression a
    Structured Streaming job uses with a watermark."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(14,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "q_events_dedup_first",
    oracle="""
SELECT event_id,
       MIN(STRFTIME(ts, '%Y-%m-%d %H:%M:%S.%f')) AS first_ts,
       COUNT(*) AS n_occurrences
FROM events
GROUP BY event_id
HAVING COUNT(*) >= 1
""",
    tags=("events", "dedup", "streaming-twin"),
)
def q_events_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on event_id keeping the earliest ts — batch twin of
    streaming dropDuplicates(['event_id']) with watermark."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_id").agg(
        F.min(F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")).alias("first_ts"),
        F.count("*").alias("n_occurrences"),
    )


@query(
    "q_events_user_daily",
    oracle="""
SELECT user_id,
       STRFTIME(DATE_TRUNC('day', ts), '%Y-%m-%d') AS day,
       COUNT(*) AS n_events,
       COUNT(DISTINCT event_type) AS n_types
FROM events
GROUP BY 1, 2
""",
    tags=("events", "agg"),
)
def q_events_user_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily activity rollup."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            "user_id",
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
        )
    )


@query(
    "q_range_join_purchase_context",
    oracle="""
SELECT p.event_id AS purchase_id,
       COUNT(v.event_id) AS n_views_before,
       COALESCE(SUM(CAST(v.value AS DECIMAL(14,2))), CAST(0 AS DECIMAL(14,2)))::DOUBLE AS view_value
FROM events p
LEFT JOIN events v
  ON v.user_id = p.user_id
 AND v.event_type = 'view'
 AND v.ts >= p.ts - INTERVAL 1 HOUR
 AND v.ts < p.ts
WHERE p.event_type = 'purchase'
GROUP BY p.event_id
""",
    tags=("events", "join", "range", "asof"),
)
def q_range_join_purchase_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: for each purchase, the user's view events in
    the preceding hour — equality on user_id plus a time-range band.

    Spark plans this as a sort-merge join on user_id with the range as a
    join filter; at 100 TB the equality key bounds the shuffle and keeps
    each range scan within one user's (small) event run. This is the
    general form of the as-of join (q_asof_last_order_before_event is the
    keep-latest special case).
    """
    e = load_table(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    v = e.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
        F.col("value").alias("v_value"),
        F.col("event_id").alias("v_id"),
    )
    joined = p.join(
        v,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("v_ts") < F.col("p_ts")),
        "left",
    )
    return joined.groupBy("purchase_id").agg(
        F.count("v_id").alias("n_views_before"),
        F.coalesce(
            F.sum(F.col("v_value").cast("decimal(14,2)")), F.lit(0).cast("decimal(14,2)")
        )
        .cast("double")
        .alias("view_value"),
    )


@query(
    "q_timebucket_rollup",
    oracle="""
SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_hour,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""",
    tags=("events", "rollup", "timebucket"),
)
def q_timebucket_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: 5-minute leaf buckets
    re-aggregated to hours. The oracle computes hours from RAW rows, so a
    match proves the partial-aggregate reaggregation is lossless — the
    property a continuous aggregate / materialized rollup relies on.

    At 100 TB the leaf table is what you materialize (it's ~raw/300 in
    rows); every coarser granularity is a cheap reaggregation of it.
    """
    e = load_table(spark, sf_dir, "events")
    leaf = (
        e.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(14,2)")).alias("v"),
        )
        .select(F.col("w.start").alias("bucket5"), "event_type", "n", "v")
    )
    return (
        leaf.groupBy(
            F.date_format(F.date_trunc("hour", "bucket5"), "yyyy-MM-dd HH:mm:ss").alias(
                "bucket_hour"
            ),
            "event_type",
        )
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("v").cast("double").alias("total_value"),
        )
    )


@query(
    "q_session_windows",
    oracle="""
WITH marked AS (
    SELECT user_id, ts,
           CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
    SELECT user_id, ts,
           SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sess_id
    FROM marked
)
SELECT user_id,
       STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       STRFTIME(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       COUNT(*) AS n_events
FROM sess
GROUP BY user_id, sess_id
""",
    tags=("events", "session", "window", "streaming-twin"),
)
def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (30-min inactivity) via the native
    session_window operator — with an EXACT oracle: DuckDB rebuilds the
    sessions from first principles (lag → gap marker → cumulative session
    id), pinning Spark's merge semantics rather than trusting them: an
    event arriving EXACTLY at the previous event's ts + gap still MERGES
    (new session iff gap is STRICTLY greater than the duration;
    session_end = last event + gap). Both the static and dynamic gap
    forms merge at the exact boundary, so the oracle's gap test must be
    `>`, not `>=`. The fixture's microsecond timestamps never land on the
    boundary, so the oracle cannot tell the two apart; the session
    property test pins the boundary case."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
            F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_end"),
            "n_events",
        )
    )


@query(
    "q_time_weighted_value",
    oracle="""
WITH seg AS (
    SELECT user_id,
           CAST(value AS DECIMAL(14,2)) AS v,
           CAST(EPOCH_US(LEAD(ts) OVER w) - EPOCH_US(ts) AS BIGINT) AS dur_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC, value ASC)
)
SELECT user_id,
       CAST(CAST(SUM(v * dur_us) AS DOUBLE) / SUM(dur_us) AS DOUBLE) AS twa_value,
       COUNT(*) AS n_segments
FROM seg
WHERE dur_us IS NOT NULL AND dur_us > 0
GROUP BY user_id
""",
    tags=("events", "timeseries", "window", "twa"),
)
def q_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user (the hypertable/metrics operator):
    each observation holds its value until the next one, so the mean
    weights by segment duration, not by sample count.

    Determinism: value is exact DECIMAL, duration is integer microseconds
    (lead(ts) - ts), their product sums exactly; ONE double division at
    the end. Irregular sampling is exactly where plain AVG misleads and
    TWA is required.
    """
    e = load_table(spark, sf_dir, "events")
    # value as the final tie-breaker: rows fully tied on (ts, event_id) exist
    # in this table, and without it the lead() pairing — hence the TWA — is
    # engine-dependent.
    w = Window.partitionBy("user_id").orderBy(
        F.asc("ts"), F.asc("event_id"), F.asc("value")
    )
    seg = e.select(
        "user_id",
        F.col("value").cast("decimal(14,2)").alias("v"),
        (
            F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")
        ).alias("dur_us"),
    ).where(F.col("dur_us").isNotNull() & (F.col("dur_us") > 0))
    return seg.groupBy("user_id").agg(
        (F.sum(F.col("v") * F.col("dur_us")).cast("double") / F.sum("dur_us"))
        .cast("double")
        .alias("twa_value"),
        F.count("*").alias("n_segments"),
    )


@query(
    "q_asof_next_purchase_after_click",
    oracle="""
SELECT c.event_id AS click_id,
       CAST(CAST(EPOCH_US(MIN(p.ts)) AS BIGINT)
            - CAST(EPOCH_US(c.ts) AS BIGINT) AS BIGINT) AS latency_us
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON p.user_id = c.user_id
 AND p.ts > c.ts
 AND p.ts <= c.ts + INTERVAL 1 HOUR
GROUP BY c.event_id, c.ts
""",
    tags=("join", "asof", "forward"),
)
def q_asof_next_purchase_after_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: for each click, the FIRST purchase by the same
    user within the following hour, reported as microsecond latency (the
    response-latency direction, where q_asof_last_order_before_event looks
    backward). Same scale discipline: the range predicate bounds the
    lookahead window, so per-click fan-in is capped by an hour of events,
    not the user's whole history; the join shuffles on the user key and
    MIN-aggregates away the fan-in."""
    e = load_table(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    return (
        clicks.join(
            purchases,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("p_ts") > F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("interval 1 hour")),
        )
        .groupBy("click_id", "c_ts")
        .agg(
            (
                F.unix_micros(F.min("p_ts")) - F.unix_micros(F.col("c_ts"))
            ).alias("latency_us")
        )
        .select("click_id", "latency_us")
    )


@query(
    "q_funnel_steps",
    oracle="""
WITH firsts AS (
    SELECT user_id,
           MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
           MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
           MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
    FROM events
    GROUP BY user_id
)
SELECT CAST(COUNT(t_signup) AS BIGINT) AS step_signup,
       CAST(SUM(CASE WHEN t_click > t_signup THEN 1 ELSE 0 END) AS BIGINT)
           AS step_click_after_signup,
       CAST(SUM(CASE WHEN t_purchase > t_click AND t_click > t_signup
                     THEN 1 ELSE 0 END) AS BIGINT)
           AS step_purchase_after_click
FROM firsts
""",
    tags=("events", "funnel", "analytics"),
)
def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (signup → click → purchase): per user the
    FIRST occurrence of each stage, then strict-ordering step counts — the
    product-analytics query every event pipeline serves. One conditional
    aggregation pass builds the per-user stage times (no self-joins, no
    windows), one global aggregate counts the funnel; NULL stage times
    fail the > comparisons, so non-entrants drop out of later steps for
    free."""
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    return firsts.agg(
        F.count("t_signup").alias("step_signup"),
        F.sum(
            F.when(F.col("t_click") > F.col("t_signup"), 1).otherwise(0)
        ).alias("step_click_after_signup"),
        F.sum(
            F.when(
                (F.col("t_purchase") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_signup")),
                1,
            ).otherwise(0)
        ).alias("step_purchase_after_click"),
    )


@query(
    "q_retention_cohorts",
    oracle="""
WITH cohort AS (
    SELECT user_id, DATE_TRUNC('week', MIN(ts)) AS cohort_week
    FROM events GROUP BY user_id
), activity AS (
    SELECT DISTINCT user_id, DATE_TRUNC('week', ts) AS active_week
    FROM events
)
SELECT STRFTIME(c.cohort_week, '%Y-%m-%d') AS cohort_week,
       CAST(date_diff('week', c.cohort_week, a.active_week) AS BIGINT)
           AS weeks_since,
       CAST(COUNT(*) AS BIGINT) AS n_active_users
FROM cohort c JOIN activity a USING (user_id)
GROUP BY c.cohort_week, a.active_week
""",
    tags=("events", "retention", "cohort"),
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-seen week, counted
    in each subsequent active week — the triangle every growth dashboard
    draws. Two grouped passes over events (cohort assignment, distinct
    weekly activity) joined on the user key; both aggregates are
    partial+final and the join shuffles once on user_id.

    weeks_since comes from integer week-bucket arithmetic (date_trunc to
    Monday on both engines), not calendar division — exact."""
    e = load_table(spark, sf_dir, "events")
    cohort = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("active_week")
    ).distinct()
    weeks_since = (
        F.datediff(F.to_date("active_week"), F.to_date("cohort_week")) / 7
    ).cast("long")
    return (
        cohort.join(activity, "user_id")
        .groupBy("cohort_week", "active_week")
        .agg(F.count("*").alias("n_active_users"))
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            weeks_since.alias("weeks_since"),
            F.col("n_active_users"),
        )
    )
