"""Registry entries that run REAL Structured Streaming jobs.

A file-source stream drained with trigger=availableNow is deterministic, so
the tumbling-window job can carry the SAME DuckDB oracle as its batch twin —
the strongest possible streaming check (not rows-only: the streaming state
machine must reproduce the batch aggregate exactly).

Scale notes: the streamed plan is identical to what a Kafka source would
run — watermark bounds state, window+key is the state-store key. Complete
mode here is for the bounded drain; a production continuous run would use
append mode with the watermark closing windows incrementally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from als_pyspark_spark.caching import local_frame
from als_pyspark_spark.registry import query
from als_pyspark_spark.streaming.events import (
    events_source_bytes,
    read_events_stream,
    run_to_memory,
    running_user_value,
    source_bytes,
    stream_static_segment_counts,
    stream_stream_purchase_click,
    streaming_dedup,
    tumbling_hourly,
)


@query(
    "q_stream_tumbling_hourly",
    oracle="""
SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""",
    tags=("streaming", "window", "watermark"),
)
def q_stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregate executed AS A STREAM (file source,
    watermark, availableNow drain, memory sink) — and checked against the
    exact batch oracle. Identical results prove the streaming state
    machine matches batch semantics."""
    name = "mem_stream_tumbling_hourly"
    spark.catalog.dropTempView(name) if spark.catalog.tableExists(name) else None
    stream = tumbling_hourly(read_events_stream(spark, sf_dir))
    return run_to_memory(
        stream,
        name,
        mode="complete",
        state_source_bytes=events_source_bytes(spark, sf_dir),
    )


@query(
    "q_stream_static_enrich",
    oracle="""
SELECT c.c_mktsegment AS c_mktsegment,
       e.event_type AS event_type,
       COUNT(*) AS n_events
FROM events e JOIN customer c ON c.c_custkey = e.user_id
GROUP BY 1, 2
""",
    tags=("streaming", "join", "static"),
)
def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join AS A STREAM (event stream × static customer dim,
    then a streaming aggregate), drained and checked against the exact
    batch-join oracle."""
    from als_pyspark_spark.sources.tables import load_table

    name = "mem_stream_static_enrich"
    spark.catalog.dropTempView(name) if spark.catalog.tableExists(name) else None
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    stream = stream_static_segment_counts(read_events_stream(spark, sf_dir), customer)
    return run_to_memory(
        stream,
        name,
        mode="complete",
        state_source_bytes=events_source_bytes(spark, sf_dir),
    )


@query(
    "q_stream_stream_join",
    oracle="""
SELECT p.user_id AS p_user, COUNT(*) AS n_pairs
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON c.user_id = p.user_id
 AND c.ts >= p.ts - INTERVAL 1 HOUR
 AND c.ts <= p.ts
GROUP BY 1
""",
    tags=("streaming", "join", "stream-stream", "watermark"),
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join AS TWO STREAMS: purchases pair with the
    same user's clicks in the preceding hour — watermarks on both sides,
    event-time range in the join condition (state stays bounded). The
    drained pair set reduces to per-user counts and must equal the exact
    batch self-join oracle."""
    from pyspark.sql import functions as F

    name = "mem_stream_stream_join"
    spark.catalog.dropTempView(name) if spark.catalog.tableExists(name) else None
    purchases = read_events_stream(spark, sf_dir).where(F.col("event_type") == "purchase")
    clicks = read_events_stream(spark, sf_dir).where(F.col("event_type") == "click")
    pairs = stream_stream_purchase_click(purchases, clicks)
    drained = run_to_memory(
        pairs,
        name,
        mode="append",
        expect_single_batch=True,
        state_source_bytes=events_source_bytes(spark, sf_dir),
    )
    return drained.groupBy("p_user").agg(F.count("*").alias("n_pairs"))


@query(
    "q_stream_stateful_threshold",
    oracle="""
SELECT user_id,
       CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total,
       CAST(FLOOR(SUM(CAST(value AS DECIMAL(14,2))) / 1000) AS BIGINT) AS level
FROM events
GROUP BY user_id
HAVING FLOOR(SUM(CAST(value AS DECIMAL(14,2))) / 1000) >= 1
""",
    tags=("streaming", "state", "applyInPandasWithState"),
)
def q_stream_stateful_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState) with an
    EXACT oracle: per-user running value total, emitting when the total
    crosses a multiple of 1000.

    Exactness comes from two design choices: (1) the operator accumulates
    integer cents (associative — arrival order can't perturb the total),
    and (2) the availableNow drain feeds the single events file as ONE
    micro-batch (asserted at runtime), so each qualifying user emits
    exactly one row — the batch GROUP BY ... HAVING twin. Multi-batch
    arrival would legitimately emit one row per crossed level per batch;
    the oracle pins the bounded-drain contract, tests pin the operator's
    incremental semantics."""
    name = "mem_stream_stateful_threshold"
    spark.catalog.dropTempView(name) if spark.catalog.tableExists(name) else None
    stream = running_user_value(read_events_stream(spark, sf_dir), threshold=1000.0)
    # no adaptive state-partition override: applyInPandasWithState is
    # PYTHON-COMPUTE bound (per-group pandas work dominates the per-
    # partition state-store cost the override targets) — measured
    # 2.6s → 9.6s when the override squeezed it to 1 partition
    return run_to_memory(
        stream,
        name,
        mode="append",
        expect_single_batch=True,
    )


@query(
    "q_stream_tws_user_max",
    oracle="""
SELECT user_id, MAX(value) AS max_value
FROM events
GROUP BY user_id
HAVING MAX(value) >= 400.0
""",
    tags=("streaming", "state", "transformWithState"),
    # transformWithStateInPandas talks to its state server over protobuf;
    # the module is not in every container. Registration is unconditional
    # (deterministic registry on every machine); sweep views exclude the
    # query where the dependency is absent, and build() raises a clear error rather than an obscure py4j one.
    requires=("google.protobuf",),
)
def q_stream_tws_user_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-stateful streaming via transformWithStateInPandas (the
    Spark 4 StatefulProcessor/ValueState API — the v2 successor to
    applyInPandasWithState), with an EXACT oracle: per-user running max
    event value, emitting users whose max clears 400.

    MAX is float-order-independent, so unlike a float SUM the emitted
    values are deterministic under any arrival order; combined with the
    single-batch drain (asserted) the output is exactly the batch
    GROUP BY/HAVING MAX twin.

    transformWithState requires the RocksDB state store provider; it is
    set for this query's run and restored afterwards (the other streaming
    queries work under either provider)."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as exc:
        raise ImportError(
            "q_stream_tws_user_max requires the optional 'protobuf' package "
            "(transformWithStateInPandas state-server wire format); install "
            "google.protobuf to run this query"
        ) from exc

    from als_pyspark_spark.streaming.events import user_max_value_tws

    name = "mem_stream_tws_user_max"
    spark.catalog.dropTempView(name) if spark.catalog.tableExists(name) else None
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    saved = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = user_max_value_tws(read_events_stream(spark, sf_dir), threshold=400.0)
        # no adaptive state-partition override: Python-compute bound
        # (see q_stream_stateful_threshold)
        return run_to_memory(
            stream,
            name,
            mode="append",
            expect_single_batch=True,
        )
    finally:
        if saved is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, saved)


@query(
    "q_stream_apws_user_max",
    oracle="""
SELECT user_id, MAX(value) AS max_value
FROM events
GROUP BY user_id
HAVING MAX(value) >= 400.0
""",
    tags=("streaming", "state", "applyInPandasWithState"),
)
def q_stream_apws_user_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running-max arbitrary-state streaming — the protobuf-free
    TWIN of q_stream_tws_user_max, registered UNCONDITIONALLY so the
    running-max state semantics always hold a driver-checkable exact row
    even where transformWithStateInPandas's google.protobuf dependency is
    absent (it has been absent in every driver container so far; the tws
    variant stays registered as the gated superset).

    Same operator contract: one running-max value state per user, emit
    (user, max) when the post-batch max clears 400. MAX is
    float-order-independent, so with the single-batch drain (asserted)
    the output is exactly the batch GROUP BY/HAVING MAX oracle."""
    from als_pyspark_spark.streaming.events import user_max_value_apws

    name = "mem_stream_apws_user_max"
    spark.catalog.dropTempView(name) if spark.catalog.tableExists(name) else None
    stream = user_max_value_apws(read_events_stream(spark, sf_dir), threshold=400.0)
    # no adaptive state-partition override: Python-compute bound
    # (see q_stream_stateful_threshold)
    return run_to_memory(
        stream,
        name,
        mode="append",
        expect_single_batch=True,
    )


@query(
    "q_stream_dedup_count",
    oracle="""
SELECT event_type, COUNT(DISTINCT event_id) AS n_unique
FROM events
GROUP BY event_type
""",
    tags=("streaming", "dedup", "state"),
)
def q_stream_dedup_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful dedup (dropDuplicates within watermark) drained
    and reduced to per-type counts — now EXACT-oracled: which physical
    duplicate survives is arrival-order-dependent, but every duplicate of
    an event_id carries the same event_type (asserted across fixtures), so
    the surviving KEY SET and therefore the per-type distinct counts are
    deterministic."""
    from pyspark.sql import functions as F

    name = "mem_stream_dedup_count"
    spark.catalog.dropTempView(name) if spark.catalog.tableExists(name) else None
    stream = streaming_dedup(read_events_stream(spark, sf_dir))
    drained = run_to_memory(
        stream,
        name,
        mode="append",
        state_source_bytes=events_source_bytes(spark, sf_dir),
    )
    return drained.groupBy("event_type").agg(F.count("*").alias("n_unique"))


@query(
    "q_stream_dedup_within_watermark",
    oracle="""
SELECT event_type, COUNT(DISTINCT event_id) AS n_unique
FROM events
GROUP BY event_type
""",
    tags=("streaming", "dedup", "state", "watermark"),
)
def q_stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark (Spark 3.5+) drained and reduced to
    per-type distinct counts — the guaranteed-state-eviction sibling of
    q_stream_dedup_count: plain dropDuplicates keeps every key forever
    (state grows with distinct keys), while the WithinWatermark form
    evicts each key once the watermark passes it, making state
    proportional to the lateness window — the form an unbounded 100 TB/day
    stream must use. Exact oracle by the same argument as
    q_stream_dedup_count: every duplicate of an event_id carries the same
    event_type, so the surviving key set and per-type counts are
    deterministic on the bounded drain."""
    from pyspark.sql import functions as F

    from als_pyspark_spark.streaming.events import streaming_dedup_within_watermark

    name = "mem_stream_dedup_within_watermark"
    spark.catalog.dropTempView(name) if spark.catalog.tableExists(name) else None
    stream = streaming_dedup_within_watermark(read_events_stream(spark, sf_dir))
    drained = run_to_memory(
        stream,
        name,
        mode="append",
        state_source_bytes=events_source_bytes(spark, sf_dir),
    )
    return drained.groupBy("event_type").agg(F.count("*").alias("n_unique"))


@query(
    "q_stream_sliding_halfhour",
    oracle="""
WITH both_windows AS (
    SELECT time_bucket(INTERVAL '30 minutes', ts) AS w, event_type FROM events
    UNION ALL
    SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' AS w, event_type FROM events
)
SELECT STRFTIME(w, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events
FROM both_windows
GROUP BY 1, 2
""",
    tags=("streaming", "window", "sliding"),
)
def q_stream_sliding_halfhour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1h length, 30min slide) AS A STREAM, exact-oracled:
    every event lands in exactly two windows, which the oracle enumerates
    explicitly (bucket and bucket minus one slide)."""
    from als_pyspark_spark.streaming.events import sliding_counts

    name = "mem_stream_sliding_halfhour"
    spark.catalog.dropTempView(name) if spark.catalog.tableExists(name) else None
    stream = sliding_counts(read_events_stream(spark, sf_dir))
    return run_to_memory(
        stream,
        name,
        mode="complete",
        state_source_bytes=events_source_bytes(spark, sf_dir),
    )


@query(
    "q_stream_session_windows",
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
    tags=("streaming", "session", "state"),
)
def q_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows executed AS A STREAM — the stateful
    session-merge machine (sessions extend/merge as events arrive) drained
    with availableNow and checked against the same first-principles
    gaps-and-islands oracle as the batch twin (q_session_windows). The
    state-store key is (user_id, merged window); at scale the watermark
    closes sessions and bounds state."""
    from pyspark.sql import functions as F

    name = "mem_stream_session_windows"
    spark.catalog.dropTempView(name) if spark.catalog.tableExists(name) else None
    stream = (
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_end"
            ),
            "n_events",
        )
    )
    return run_to_memory(
        stream,
        name,
        mode="complete",
        state_source_bytes=events_source_bytes(spark, sf_dir),
    )


@query(
    "q_stream_foreachbatch_sink",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
""",
    tags=("streaming", "sink", "foreachBatch"),
)
def q_stream_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch custom sink: drain the event stream into parquet via a
    per-micro-batch writer (the escape hatch for sinks without native
    streaming support — JDBC, upserts, multi-table fan-out), then read the
    durable output back and aggregate. Only exact if the round-trip loses
    nothing, which is the point of the oracle.

    foreachBatch hands each micro-batch a BATCH DataFrame plus an epoch id;
    idempotent re-runs key on the epoch (here: a fresh scratch dir per run
    and append-mode writes — replaying batch N twice would be visible as
    doubled counts and fail the oracle)."""
    import shutil

    from pyspark.sql import functions as F

    from als_pyspark_spark.sources.sinks import app_scratch

    out = app_scratch(spark, "stream_foreachbatch_parquet")
    ckpt = app_scratch(spark, "stream_foreachbatch_ckpt")
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("append").parquet(out)

    q = (
        read_events_stream(spark, sf_dir)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(14,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )


@query(
    "q_stream_ohlc_hourly",
    oracle="""
WITH b AS (
    SELECT event_type,
           date_trunc('hour', ts) AS bh,
           value,
           ROW_NUMBER() OVER w AS rn_asc,
           COUNT(*) OVER (PARTITION BY event_type, date_trunc('hour', ts))
               AS n_bucket
    FROM events
    WINDOW w AS (PARTITION BY event_type, date_trunc('hour', ts)
                 ORDER BY ts, event_id)
)
SELECT STRFTIME(bh, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       MIN(CASE WHEN rn_asc = 1 THEN value END) AS open_value,
       MAX(value) AS high_value,
       MIN(value) AS low_value,
       MIN(CASE WHEN rn_asc = n_bucket THEN value END) AS close_value
FROM b
GROUP BY bh, event_type
""",
    tags=("streaming", "window", "ohlc"),
)
def q_stream_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick downsampling AS A STREAM: open/close are min_by/
    max_by over the unique (ts, event_id) struct key — the declarative
    trick that turns a 'needs row_number' shape into a pure streaming
    aggregate with O(1) per-group state (streaming cannot window-rank).
    Drained via availableNow and checked against the exact batch oracle,
    which resolves the same picks via ROW_NUMBER — equality proves the
    min_by/max_by streaming formulation matches rank-based batch
    semantics. Batch twin: q_ohlc_hourly_bars.

    100 TB shape: per-group state is four scalars plus two (key, value)
    pairs regardless of events-per-bucket; watermark bounds the live
    window count; RocksDB state store holds the tail.
    """
    from als_pyspark_spark.streaming.events import ohlc_hourly

    name = "mem_stream_ohlc_hourly"
    spark.catalog.dropTempView(name) if spark.catalog.tableExists(name) else None
    stream = ohlc_hourly(read_events_stream(spark, sf_dir))
    return run_to_memory(
        stream,
        name,
        mode="complete",
        state_source_bytes=events_source_bytes(spark, sf_dir),
    )


@query(
    "q_stream_left_outer_join",
    oracle="""
WITH t0 AS (
    SELECT MAX(ts) - INTERVAL 6 DAY AS v FROM events
), wm AS (
    SELECT LEAST(
        (SELECT MAX(ts) FROM events
          WHERE event_type = 'purchase' AND ts < (SELECT v FROM t0)),
        (SELECT MAX(ts) FROM events
          WHERE event_type = 'click' AND ts < (SELECT v FROM t0))
    ) - INTERVAL 4 HOUR AS v
), closed AS (
    SELECT event_id, user_id, ts FROM events
    WHERE event_type = 'purchase' AND ts <= (SELECT v FROM wm)
)
SELECT p.event_id AS purchase_id,
       p.user_id AS p_user,
       CAST(COUNT(c.event_id) AS BIGINT) AS n_clicks
FROM closed p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON c.user_id = p.user_id
 AND c.ts >= p.ts - INTERVAL 1 HOUR
 AND c.ts <= p.ts
GROUP BY 1, 2
""",
    tags=("streaming", "join", "stream-stream", "outer", "watermark"),
)
def q_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join, driven through the part of the
    semantics the inner variant never touches: unmatched-left emission on
    watermark-driven state eviction.

    An outer null row can only flush in a micro-batch AFTER the watermark
    has passed the purchase's join window, so a single-batch drain (the
    inner join's setup) would emit no outer rows at all. This query
    therefore re-stages events as TWO parquet files split at
    ``max(ts) − 6 days`` and streams them with ``maxFilesPerTrigger=1``:
    batch 1 (early file) loads both join states, the watermark advances on
    the batch boundary, and batch 2 (late file) evicts expired purchases —
    emitting their NULL-click rows — while still matching its own inner
    pairs.

    Determinism contract: only purchases whose entire join window is
    provably below the batch-1 watermark have settled outer results, so
    both sides compare the CLOSED subset — ``p_ts ≤ wm₁ − 2h`` where
    ``wm₁ = min(max purchase ts, max click ts in file 1) − 2h delay`` —
    computed from the data by identical expressions in Spark and the
    oracle. Clicks for a closed purchase cannot live in file 2
    (``c_ts ≤ p_ts ≤ wm₁ − 2h < t0``), so the split loses no matches;
    unmatched tail purchases (file 2 era, watermark never passes them) are
    excluded on BOTH sides. A missing eviction row or a dropped pair
    anywhere in the closed subset hash-mismatches the batch LEFT JOIN
    oracle.

    100 TB shape: identical state-store plan to the inner join — watermark
    bounds both states, the event-time range keys eviction; the two-file
    re-stage exists only to exercise multi-batch watermark advancement
    deterministically in a bounded test.
    """
    from pyspark.sql import functions as F

    from als_pyspark_spark.sources.tables import load_table
    from als_pyspark_spark.streaming.events import (
        read_staged_stream,
        stage_events_two_batches,
        stream_stream_purchase_click_outer,
    )

    staged, t0, schema = stage_events_two_batches(spark, sf_dir, "stream_louter_in")
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    cutoff = (
        events.where(F.col("ts") < F.lit(t0))
        .groupBy()
        .agg(
            F.least(
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
            ).alias("m")
        )
        .select((F.col("m") - F.expr("INTERVAL 4 HOURS")).alias("v"))
        .collect()[0]["v"]
    )

    raw = read_staged_stream(spark, staged, schema)
    purchases = raw.where(F.col("event_type") == "purchase")
    clicks = raw.where(F.col("event_type") == "click")
    joined = stream_stream_purchase_click_outer(purchases, clicks)

    name = "mem_stream_left_outer_join"
    spark.catalog.dropTempView(name) if spark.catalog.tableExists(name) else None
    drained = run_to_memory(
        joined,
        name,
        mode="append",
        state_source_bytes=source_bytes(staged),
    )
    return (
        drained.where(F.col("p_ts") <= F.lit(cutoff))
        .groupBy("purchase_id", "p_user")
        .agg(F.count("click_id").alias("n_clicks"))
    )


@query(
    "q_stream_update_mode_totals",
    oracle="""
WITH t0 AS (
    SELECT MAX(ts) - INTERVAL 6 DAY AS v FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       CAST(
           (CASE WHEN COUNT(CASE WHEN ts <  (SELECT v FROM t0) THEN 1 END) > 0
                 THEN 1 ELSE 0 END)
         + (CASE WHEN COUNT(CASE WHEN ts >= (SELECT v FROM t0) THEN 1 END) > 0
                 THEN 1 ELSE 0 END)
       AS BIGINT) AS n_versions
FROM events
GROUP BY event_type
""",
    tags=("streaming", "aggregate", "update-mode"),
)
def q_stream_update_mode_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode — the third Structured Streaming output mode,
    untouched by the complete-mode windows and append-mode row streams
    elsewhere in this module. An unwindowed per-type running aggregate is
    drained over TWO micro-batches (stage_events_two_batches), so the
    memory sink accumulates one UPDATED row per key per batch that
    touched it — not every key every batch (complete mode) and not
    nothing (append mode, illegal here without a watermarked window).

    The sink's accumulated rows are then folded per key: ``n_versions``
    (row count per key) witnesses update-mode's emission contract — it
    must equal the number of batches containing that type, which the
    oracle derives independently from the split boundary t0 — and the
    final totals are read off the version with the highest event count
    (``max_by``; counts strictly increase across a key's versions, so the
    pick is deterministic), which must equal the batch GROUP BY. Cents
    accumulate as integers end-to-end, so the match is exact.

    100 TB shape: update mode is what an incremental-materialization sink
    (upsert into a key-value store / Delta MERGE per batch) consumes —
    per-batch deltas keyed by group, state bounded by key cardinality.
    """
    from pyspark.sql import functions as F

    from als_pyspark_spark.streaming.events import (
        read_staged_stream,
        stage_events_two_batches,
    )

    staged, _t0, schema = stage_events_two_batches(
        spark, sf_dir, "stream_update_mode_in"
    )
    raw = read_staged_stream(spark, staged, schema)
    agg = raw.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
    )
    name = "mem_stream_update_mode_totals"
    spark.catalog.dropTempView(name) if spark.catalog.tableExists(name) else None
    drained = run_to_memory(
        agg,
        name,
        mode="update",
        state_source_bytes=source_bytes(staged),
    )
    return drained.groupBy("event_type").agg(
        F.max("n_events").alias("n_events"),
        F.expr("max_by(total_cents, n_events)").alias("total_cents"),
        F.count("*").alias("n_versions"),
    )


@query(
    "q_stream_late_data_drop",
    oracle="""
WITH wm AS (
    SELECT MAX(ts) - INTERVAL 2 HOUR AS v FROM events WHERE event_id % 2 = 0
), closed AS (
    SELECT DATE_TRUNC('hour', ts) AS h, event_type, event_id, ts
    FROM events
    WHERE DATE_TRUNC('hour', ts) <= (SELECT v FROM wm) - INTERVAL 2 HOUR
)
SELECT STRFTIME(h, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       CAST(COUNT(CASE WHEN event_id % 2 = 0 THEN 1 END) AS BIGINT)
           AS n_on_time,
       CAST(COUNT(CASE WHEN event_id % 2 = 1 THEN 1 END) AS BIGINT)
           AS n_late_dropped
FROM closed
GROUP BY 1, 2
HAVING COUNT(CASE WHEN event_id % 2 = 0 THEN 1 END) > 0
""",
    tags=("streaming", "watermark", "late-data", "append-mode"),
)
def q_stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA DROPPING, witnessed deterministically — the
    core semantic the other streaming queries never isolate (their
    two-batch stages split by TIME, so nothing ever arrives late).

    Dropping in Spark is an AFTER-EVICTION semantic: a late row whose
    window state still lives is merged, so two batches cannot witness it
    (measured here — odd rows re-sent in batch 2 were absorbed). The
    stage is therefore THREE batches (stage_events_two_batches
    split="parity_late"): (1) even ids spanning the whole month set the
    watermark 2h under the even max; (2) a single sentinel re-send of
    the latest even row — no watermark movement — lets the engine evict
    and emit every window that watermark closed, with even-only counts;
    (3) odd ids replay the whole month, and every odd row aimed at an
    evicted window is genuinely late-after-eviction and must be dropped
    (a leak would either inflate a count or re-emit a closed window —
    both break the hash). The query emits each closed window's streamed count
    (``n_on_time``) next to the batch-computed count of odd rows the
    watermark discarded (``n_late_dropped``, joined on afterwards — the
    stream cannot see them, which is the point); the oracle derives both
    from parity directly (windows containing only late rows never come
    into existence on the stream — no state was ever created for them —
    so the oracle requires ≥1 on-time row). If Spark leaked a late row
    into a closed window, n_on_time would exceed the even-only oracle
    and the hash breaks; windows in the boundary band (within 2h of the
    watermark) are excluded on BOTH sides, so the comparison never
    straddles the finalize-boundary tie.

    100 TB shape: watermark dropping is O(1) per row against the
    broadcast watermark timestamp; this query's re-stage exists only to
    manufacture determinstic lateness in a bounded test.
    """
    from pyspark.sql import functions as F

    from als_pyspark_spark.sources.tables import load_table
    from als_pyspark_spark.streaming.events import (
        read_staged_stream,
        stage_events_two_batches,
    )

    staged, _t0, schema = stage_events_two_batches(
        spark, sf_dir, "stream_late_drop_in", split="parity_late"
    )
    events = load_table(spark, sf_dir, "events")
    wm1 = (
        events.where(F.col("event_id") % 2 == 0)
        .agg((F.max("ts") - F.expr("INTERVAL 2 HOURS")).alias("v"))
        .collect()[0]["v"]
    )

    stream = (
        read_staged_stream(spark, staged, schema)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_on_time"))
        .select(
            F.col("w.start").alias("ws"),
            "event_type",
            "n_on_time",
        )
    )
    name = "mem_stream_late_data_drop"
    spark.catalog.dropTempView(name) if spark.catalog.tableExists(name) else None
    drained = run_to_memory(
        stream,
        name,
        mode="append",
        state_source_bytes=source_bytes(staged),
    )

    closed = drained.where(
        F.col("ws") <= F.lit(wm1) - F.expr("INTERVAL 2 HOURS")
    )
    dropped = (
        events.where(F.col("event_id") % 2 == 1)
        .select(
            F.date_trunc("hour", "ts").alias("ws"),
            "event_type",
        )
        .where(F.col("ws") <= F.lit(wm1) - F.expr("INTERVAL 2 HOURS"))
        .groupBy("ws", "event_type")
        .agg(F.count("*").alias("n_late_dropped"))
    )
    return (
        closed.join(dropped, ["ws", "event_type"], "left")
        .select(
            F.date_format("ws", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_on_time",
            F.coalesce("n_late_dropped", F.lit(0)).alias("n_late_dropped"),
        )
    )


@query(
    "q_stream_checkpoint_recovery",
    oracle="""
WITH b AS (
    SELECT MAX(ts) - INTERVAL 12 DAY AS t1,
           MAX(ts) - INTERVAL 6 DAY AS t2
    FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       CAST(
           (CASE WHEN COUNT(CASE WHEN ts < (SELECT t1 FROM b) THEN 1 END) > 0
                 THEN 1 ELSE 0 END)
         + (CASE WHEN COUNT(CASE WHEN ts >= (SELECT t1 FROM b)
                                  AND ts < (SELECT t2 FROM b) THEN 1 END) > 0
                 THEN 1 ELSE 0 END)
         + (CASE WHEN COUNT(CASE WHEN ts >= (SELECT t2 FROM b) THEN 1 END) > 0
                 THEN 1 ELSE 0 END)
       AS BIGINT) AS n_batches
FROM events
GROUP BY event_type
""",
    tags=("streaming", "checkpoint", "recovery", "exactly-once"),
)
def q_stream_checkpoint_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint RECOVERY with exactly-once resume — the operational
    contract every production stream stands on and no other query here
    exercises: a checkpointed job is stopped, NEW data arrives, and a
    fresh ``start()`` against the same checkpoint must process ONLY the
    new data (offset log replayed), duplicating and losing nothing.

    Run 1 streams two time-split files (batches 0,1) through the
    per-batch-manifest Python sink (q_python_stream_datasource_sink's
    JsonlStreamScratchSink) and terminates; a third file then lands in
    the source dir and run 2 restarts from the SAME checkpoint. Two
    teeth: (a) a runtime assert that run 2 committed EXACTLY ONE new
    batch manifest — a checkpoint ignored (re-reading files 1-2) or
    corrupted (restarting batch ids) adds more; (b) the manifests' union,
    read back file-list-only, must hash-match the whole-table oracle in
    counts and integer cents, with per-type ``n_batches`` equal to the
    oracle's independent three-boundary derivation — so any loss,
    duplication, or batch re-composition breaks the row.

    100 TB shape: recovery cost is reading the offset/commit log, not
    the data; the witness is the same WAL-resume discipline (HDFS/S3
    checkpoint dir) a real cluster uses.
    """
    import glob
    import json
    import os
    import shutil

    from pyspark.sql import functions as F

    from als_pyspark_spark.sources.sinks import app_scratch
    from als_pyspark_spark.sources.python_datasource import (
        JsonlStreamScratchSink,
    )
    from als_pyspark_spark.sources.tables import load_table

    spark.dataSource.register(JsonlStreamScratchSink)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    bounds = events.agg(
        (F.max("ts") - F.expr("INTERVAL 12 DAYS")).alias("t1"),
        (F.max("ts") - F.expr("INTERVAL 6 DAYS")).alias("t2"),
    ).collect()[0]
    t1, t2 = bounds["t1"], bounds["t2"]

    src = app_scratch(spark, "ckpt_recovery_in")
    out = app_scratch(spark, "ckpt_recovery_out")
    ckpt = app_scratch(spark, "ckpt_recovery_ckpt")
    for d in (src, out, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    events.where(F.col("ts") < F.lit(t1)).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    events.where(
        (F.col("ts") >= F.lit(t1)) & (F.col("ts") < F.lit(t2))
    ).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        rows = (
            spark.readStream.schema(events.schema)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .option("latestFirst", "false")
            .load(src)
            .select(
                "event_id",
                "event_type",
                F.round(F.col("value") * 100).cast("long").alias("cents"),
            )
        )
        q = (
            rows.writeStream.format("jsonl_stream_scratch")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n_manifests_run1 = len(glob.glob(os.path.join(out, "_BATCH-*.json")))
    # exactly-once witnesses use explicit raises, not `assert` — asserts
    # are stripped under `python -O`, silently disabling the check
    if n_manifests_run1 != 2:
        raise RuntimeError(
            f"run 1 expected 2 batch commits, got {n_manifests_run1}"
        )

    # new data lands; resume from the SAME checkpoint
    events.where(F.col("ts") >= F.lit(t2)).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_once()
    manifests = sorted(glob.glob(os.path.join(out, "_BATCH-*.json")))
    if len(manifests) != 3:
        raise RuntimeError(
            f"resume must commit exactly one new batch (3 total), got {manifests}"
        )

    parts = []
    for i, mpath in enumerate(manifests):
        with open(mpath) as f:
            committed = json.load(f)
        if not committed:
            continue
        parts.append(
            spark.read.schema("event_id bigint, event_type string, cents bigint")
            .json(committed)
            .withColumn("batch_id", F.lit(i))
        )
    back = parts[0]
    for p in parts[1:]:
        back = back.unionByName(p)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("cents").alias("total_cents"),
        F.countDistinct("batch_id").alias("n_batches"),
    )


@query(
    "q_stream_join_then_window",
    oracle="""
WITH t0 AS (
    SELECT MAX(ts) - INTERVAL 6 DAY AS v FROM events
), wm AS (
    SELECT LEAST(
        (SELECT MAX(ts) FROM events
          WHERE event_type = 'purchase' AND ts < (SELECT v FROM t0)),
        (SELECT MAX(ts) FROM events
          WHERE event_type = 'click' AND ts < (SELECT v FROM t0))
    ) - INTERVAL 4 HOUR AS v
), pairs AS (
    SELECT p.ts AS p_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR
     AND c.ts <= p.ts
)
SELECT STRFTIME(DATE_TRUNC('hour', p_ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs
WHERE DATE_TRUNC('hour', p_ts) + INTERVAL 1 HOUR <= (SELECT v FROM wm)
GROUP BY 1
""",
    tags=("streaming", "multi-stateful", "join", "window", "watermark"),
)
def q_stream_join_then_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIPLE STATEFUL OPERATORS CHAINED in one streaming query —
    stream-stream interval join feeding a tumbling-window aggregate —
    the Spark 3.5+/4 capability that older releases rejected outright
    (one stateful op per query). The engine must propagate a DELAYED
    watermark through the join (join output can trail its inputs by the
    interval bound) for the downstream window to finalize correctly.

    Purchases pair with the same user's preceding-hour clicks
    (stream-stream join over the two-batch time stage), and the pair
    stream rolls into per-hour pair counts in append mode. Finalized
    windows must hash-match the batch self-join + GROUP BY oracle over
    the closed region: both sides compare windows whose end lies a ≥2h
    safety margin below the batch-1 watermark (itself 2h under the
    batch-1 max — margin absorbs the join's 1h watermark delay without
    encoding the engine's internal propagation rule), where every
    contributing purchase AND click provably sits in batch 1. A pair
    lost in the join, a window finalized early/late, or a watermark
    mispropagated across the operator boundary all break the hash.

    100 TB shape: two state stores in one pipeline — join state bounded
    by the interval condition, window state by the watermark — exactly
    the production funnel-rollup topology (join enrich → time rollup)
    that otherwise needs two jobs and an intermediate topic.
    """
    from pyspark.sql import functions as F

    from als_pyspark_spark.sources.tables import load_table
    from als_pyspark_spark.streaming.events import (
        read_staged_stream,
        stage_events_two_batches,
    )

    staged, t0, schema = stage_events_two_batches(
        spark, sf_dir, "stream_join_window_in"
    )
    events = load_table(spark, sf_dir, "events")
    cutoff = (
        events.where(F.col("ts") < F.lit(t0))
        .agg(
            F.least(
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
            ).alias("m")
        )
        .select((F.col("m") - F.expr("INTERVAL 4 HOURS")).alias("v"))
        .collect()[0]["v"]
    )

    raw = read_staged_stream(spark, staged, schema)
    p = (
        raw.where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "2 hours")
    )
    c = (
        raw.where(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "2 hours")
    )
    pairs = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
    )
    agg = pairs.groupBy(F.window("p_ts", "1 hour").alias("w")).agg(
        F.count("*").alias("n_pairs")
    )
    name = "mem_stream_join_then_window"
    spark.catalog.dropTempView(name) if spark.catalog.tableExists(name) else None
    drained = run_to_memory(
        agg,
        name,
        mode="append",
        state_source_bytes=source_bytes(staged),
    )
    return (
        drained.where(F.col("w.end") <= F.lit(cutoff))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_pairs",
        )
    )


@query(
    "q_stream_dynamic_session_gap",
    oracle="""
WITH g AS (
    SELECT user_id, ts,
           ts + CASE WHEN event_type = 'purchase'
                     THEN INTERVAL 60 MINUTE ELSE INTERVAL 30 MINUTE END
               AS ev_end
    FROM events
), marked AS (
    SELECT user_id, ts, ev_end,
           CASE WHEN MAX(ev_end) OVER w IS NULL
                  OR ts > MAX(ev_end) OVER w
                THEN 1 ELSE 0 END AS new_sess
    FROM g
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), sess AS (
    SELECT user_id, ts, ev_end,
           SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sess_id
    FROM marked
)
SELECT user_id,
       STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       STRFTIME(MAX(ev_end), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       COUNT(*) AS n_events
FROM sess
GROUP BY user_id, sess_id
""",
    tags=("streaming", "session", "dynamic-gap", "state"),
)
def q_stream_dynamic_session_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a DYNAMIC, per-event gap — ``session_window``
    with a gap EXPRESSION (purchases hold the session open 60 minutes,
    everything else 30) — the API the fixed-gap q_stream_session_windows
    can't reach: engagement sessions where high-intent events legitimately
    extend the inactivity allowance.

    The merge semantics get strictly harder than the fixed-gap case: a
    session's end is the running MAX of per-event ends (a long-gap event
    early in the session can bridge a silence later), so the oracle's
    gaps-and-islands form uses a running-max-of-ends boundary test
    (``ts > max(prev ev_end) → new session`` — STRICT, because Spark
    merges an event arriving exactly at the running end; probed in round
    8, same boundary semantics as the fixed-gap twin) rather than a
    simple lag diff — lag-diff would split sessions the long gap
    actually bridges, and hash-mismatch.

    100 TB shape: identical state machine to fixed-gap sessions — state
    keyed by (user, merged window), watermark closes sessions; the gap
    expression is evaluated per row map-side, costing nothing extra.
    """
    from pyspark.sql import functions as F

    name = "mem_stream_dynamic_session_gap"
    spark.catalog.dropTempView(name) if spark.catalog.tableExists(name) else None
    gap = F.when(F.col("event_type") == "purchase", "60 minutes").otherwise(
        "30 minutes"
    )
    stream = (
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_end"
            ),
            "n_events",
        )
    )
    return run_to_memory(
        stream,
        name,
        mode="complete",
        state_source_bytes=events_source_bytes(spark, sf_dir),
    )


@query(
    "q_stream_full_outer_join",
    oracle="""
WITH t0 AS (
    SELECT MAX(ts) - INTERVAL 6 DAY AS v FROM events
), wm AS (
    SELECT LEAST(
        (SELECT MAX(ts) FROM events
          WHERE event_type = 'purchase' AND ts < (SELECT v FROM t0)),
        (SELECT MAX(ts) FROM events
          WHERE event_type = 'click' AND ts < (SELECT v FROM t0))
    ) - INTERVAL 4 HOUR AS v
), fo AS (
    SELECT p.ts AS p_ts, p.user_id AS p_user,
           c.ts AS c_ts, c.user_id AS c_user
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR
     AND c.ts <= p.ts
), closed AS (
    SELECT * FROM fo
    WHERE CASE WHEN p_ts IS NOT NULL
               THEN p_ts <= (SELECT v FROM wm)
               ELSE c_ts <= (SELECT v FROM wm) - INTERVAL 1 HOUR END
)
SELECT CASE WHEN p_ts IS NOT NULL AND c_ts IS NOT NULL THEN 'pair'
            WHEN p_ts IS NOT NULL THEN 'purchase_only'
            ELSE 'click_only' END AS kind,
       COALESCE(p_user, c_user) AS user_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM closed
GROUP BY 1, 2
""",
    tags=("streaming", "join", "stream-stream", "full-outer", "watermark"),
)
def q_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream join — completing the stream-stream join
    matrix (inner: q_stream_stream_join; left: q_stream_left_outer_join).
    Both sides now evict-and-emit: unmatched purchases surface with a
    NULL click AND unmatched clicks with a NULL purchase, each only once
    its own watermark window closes.

    Same two-batch time stage and closed-set determinism contract as the
    left-outer variant, but applied PER SIDE: purchase-bearing rows
    compare when ``p_ts ≤ wm₁ − 2h``; click-only rows when
    ``c_ts ≤ wm₁ − 3h`` (a click's join window extends 1h forward, so it
    closes one lookback later — the asymmetric eviction full outer has
    to get right, and the thing this query pins). Counts reduce per
    (kind, user); a missing either-side eviction row or a duplicated
    pair breaks the hash against the batch FULL JOIN oracle.

    100 TB shape: identical bounded state to the inner join — the outer
    flavors change emission timing, not state size.
    """
    from pyspark.sql import functions as F

    from als_pyspark_spark.sources.tables import load_table
    from als_pyspark_spark.streaming.events import (
        read_staged_stream,
        stage_events_two_batches,
        stream_stream_purchase_click_outer,
    )

    staged, t0, schema = stage_events_two_batches(
        spark, sf_dir, "stream_fouter_in"
    )
    events = load_table(spark, sf_dir, "events")
    cutoff = (
        events.where(F.col("ts") < F.lit(t0))
        .agg(
            F.least(
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
            ).alias("m")
        )
        .select((F.col("m") - F.expr("INTERVAL 4 HOURS")).alias("v"))
        .collect()[0]["v"]
    )

    raw = read_staged_stream(spark, staged, schema)
    purchases = raw.where(F.col("event_type") == "purchase")
    clicks = raw.where(F.col("event_type") == "click")
    joined = stream_stream_purchase_click_outer(
        purchases, clicks, how="fullOuter"
    )

    name = "mem_stream_full_outer_join"
    spark.catalog.dropTempView(name) if spark.catalog.tableExists(name) else None
    drained = run_to_memory(
        joined,
        name,
        mode="append",
        state_source_bytes=source_bytes(staged),
    )
    closed = drained.where(
        F.when(
            F.col("p_ts").isNotNull(), F.col("p_ts") <= F.lit(cutoff)
        ).otherwise(F.col("c_ts") <= F.lit(cutoff) - F.expr("INTERVAL 1 HOUR"))
    )
    return (
        closed.select(
            F.when(
                F.col("p_ts").isNotNull() & F.col("c_ts").isNotNull(), "pair"
            )
            .when(F.col("p_ts").isNotNull(), "purchase_only")
            .otherwise("click_only")
            .alias("kind"),
            F.coalesce("p_user", "c_user").alias("user_id"),
        )
        .groupBy("kind", "user_id")
        .agg(F.count("*").alias("n_rows"))
    )


@query(
    "q_stream_static_left_enrich",
    oracle="""
SELECT COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment,
       e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events e
LEFT JOIN (SELECT * FROM customer WHERE c_custkey % 10 <> 0) c
       ON c.c_custkey = e.user_id
GROUP BY 1, 2
""",
    tags=("streaming", "join", "stream-static", "left-outer"),
)
def q_stream_static_left_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static LEFT join — the unknown-member path the inner
    variant (q_stream_static_enrich) silently drops: events whose user
    has no dimension row survive with a NULL segment and bucket under
    'UNKNOWN', so the enriched stream conserves row count — the
    invariant a star-schema ingest must hold when the dimension lags the
    fact stream (late-arriving dimensions). The fixture's dimension is
    complete, which would leave the NULL branch vacuous (an unexercised
    branch passes every oracle), so the dimension deterministically DROPS every
    custkey ≡ 0 (mod 10) on both sides — ~10% of events genuinely take
    the unmatched path and the UNKNOWN buckets carry real counts. Unlike the outer
    STREAM-STREAM joins, stream-static left is STATELESS — no watermark,
    no eviction timing — because the static side is fully known per
    micro-batch; unmatched rows emit immediately, which is why this
    query needs none of the closed-subset machinery the stream-stream
    outer variants carry.

    100 TB shape: dimension broadcast per micro-batch, identical to the
    inner enrich; the COALESCE bucket is a map-side projection.
    """
    from pyspark.sql import functions as F

    from als_pyspark_spark.sources.tables import load_table

    name = "mem_stream_static_left_enrich"
    spark.catalog.dropTempView(name) if spark.catalog.tableExists(name) else None
    customer = load_table(spark, sf_dir, "customer").where(
        F.col("c_custkey") % 10 != 0
    )
    events = read_events_stream(spark, sf_dir)
    joined = events.join(
        customer, events.user_id == customer.c_custkey, "left"
    )
    agg = joined.groupBy(
        F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment"),
        "event_type",
    ).agg(F.count("*").alias("n_events"))
    return run_to_memory(
        agg,
        name,
        mode="complete",
        state_source_bytes=events_source_bytes(spark, sf_dir),
    )


@query(
    "q_stream_idempotent_merge",
    oracle="""
WITH r AS (
    SELECT user_id, event_id, ts,
           CAST(ROUND(value * 100) AS BIGINT) AS cents,
           ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC,
                        CAST(ROUND(value * 100) AS BIGINT) DESC
           ) AS rn
    FROM events
)
SELECT user_id,
       event_id AS last_event_id,
       STRFTIME(ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts,
       cents AS last_cents
FROM r
WHERE rn = 1
""",
    tags=("streaming", "sink", "merge", "idempotent", "exactly-once"),
)
def q_stream_idempotent_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE upsert with exactly-once-UNDER-REDELIVERY semantics
    — the foreachBatch pattern every warehouse sink without native
    streaming MERGE uses (Delta/Iceberg MERGE INTO, JDBC upsert): each
    micro-batch LWW-collapses to one row per key and merges into a
    versioned state table (new version file + pointer advance — a
    poor-man's transaction log, which is exactly how Delta commits).

    Two idempotence tiers, each with an explicit runtime witness:

    1. TRANSACTIONAL: the pointer log records applied epoch ids; a
       redelivered (epoch, batch) — simulated by re-invoking the merge
       with batch 0 after the stream completes — is SKIPPED, witnessed by
       the version count staying put. This is the batch-id dedupe
       contract foreachBatch documents for exactly-once sinks.
    2. ALGEBRAIC: even FORCING the stale batch through the merge
       (bypassing the epoch log — a sink with no transaction log) cannot
       change the state, because last-write-wins MERGE is idempotent and
       commutative (max over (ts, event_id, cents) structs); witnessed by
       canonical state content comparing equal before/after.

    The returned final state must equal the whole-table LWW oracle — any
    lost, duplicated, or re-ordered merge breaks the row.

    100 TB shape: each merge is one keyed shuffle of the BATCH plus a
    co-partitioned read of the state table (in production, bucketed or
    Delta-MERGE with file pruning); LWW max_by is associative, so the
    batch collapse is map-side partial. Version files rotate; old
    versions are GC'd like any table format's vacuum.
    """
    import json
    import os
    import shutil

    from pyspark.sql import functions as F

    from als_pyspark_spark.sources.sinks import app_scratch
    from als_pyspark_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    src = app_scratch(spark, "idem_merge_in")
    state_root = app_scratch(spark, "idem_merge_state")
    ckpt = app_scratch(spark, "idem_merge_ckpt")
    for d in (src, state_root, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(state_root, exist_ok=True)

    # three time-split source files → three micro-batches
    bounds = events.agg(
        (F.max("ts") - F.expr("INTERVAL 12 DAYS")).alias("t1"),
        (F.max("ts") - F.expr("INTERVAL 6 DAYS")).alias("t2"),
    ).collect()[0]
    t1, t2 = bounds["t1"], bounds["t2"]
    events.where(F.col("ts") < F.lit(t1)).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    events.where((F.col("ts") >= F.lit(t1)) & (F.col("ts") < F.lit(t2))).coalesce(
        1
    ).write.mode("append").parquet(src)
    events.where(F.col("ts") >= F.lit(t2)).coalesce(1).write.mode("append").parquet(
        src
    )

    ptr_path = os.path.join(state_root, "_POINTER.json")

    def _pointer():
        if not os.path.exists(ptr_path):
            return {"version": 0, "applied_epochs": []}
        with open(ptr_path) as f:
            return json.load(f)

    def _lww(df):
        # one row per user: greatest (ts, event_id, cents) struct —
        # associative + commutative + idempotent, the MERGE's algebra
        return df.groupBy("user_id").agg(
            F.max(F.struct("ts", "event_id", "cents")).alias("s")
        )

    def merge_batch(batch_df, epoch_id, force: bool = False):
        ptr = _pointer()
        if epoch_id in ptr["applied_epochs"] and not force:
            return  # transactional idempotence: epoch already committed
        batch = _lww(
            batch_df.select(
                "user_id",
                "ts",
                "event_id",
                F.round(F.col("value") * 100).cast("long").alias("cents"),
            )
        )
        v = ptr["version"]
        if v > 0:
            cur = spark.read.parquet(os.path.join(state_root, f"v{v}"))
            merged = _lww(
                cur.select("user_id", "s.ts", "s.event_id", "s.cents").unionByName(
                    batch.select("user_id", "s.ts", "s.event_id", "s.cents")
                )
            )
        else:
            merged = batch
        merged.write.mode("overwrite").parquet(
            os.path.join(state_root, f"v{v + 1}")
        )
        with open(ptr_path, "w") as f:
            json.dump(
                {
                    "version": v + 1,
                    "applied_epochs": sorted(set(ptr["applied_epochs"]) | {epoch_id}),
                },
                f,
            )

    q = (
        spark.readStream.schema(events.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .load(src)
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    ptr = _pointer()
    if ptr["version"] != 3 or len(ptr["applied_epochs"]) != 3:
        raise RuntimeError(
            f"expected 3 committed merge epochs, got pointer {ptr}"
        )

    def _state_df(version: int):
        return spark.read.parquet(os.path.join(state_root, f"v{version}")).select(
            "user_id", "s.ts", "s.event_id", "s.cents"
        )

    stale = spark.read.parquet(src).where(F.col("ts") < F.lit(t1))

    # witness 1 — transactional: redelivered epoch 0 must be a no-op
    merge_batch(stale, 0)
    if _pointer()["version"] != 3:
        raise RuntimeError(
            "replayed epoch 0 was re-applied despite the epoch log — "
            "transactional idempotence broken"
        )
    # witness 2 — algebraic: forcing the stale batch through the merge
    # must leave the state CONTENT unchanged (LWW absorbs redelivery).
    # Compared DISTRIBUTED: symmetric exceptAll counts
    # instead of collecting the full per-user state to the driver twice —
    # at 100 TB the state table is executor-sized, and a multiset
    # difference is a keyed shuffle both engines handle at any scale.
    merge_batch(stale, 0, force=True)
    if _pointer()["version"] != 4:
        raise RuntimeError("forced re-merge did not commit a new version")
    before, after = _state_df(3), _state_df(4)
    drift = before.exceptAll(after).count() + after.exceptAll(before).count()
    if drift:
        raise RuntimeError(
            f"forced replay of batch 0 changed the merged state "
            f"({drift} differing rows) — LWW merge is not idempotent"
        )

    final = spark.read.parquet(os.path.join(state_root, "v4")).select(
        "user_id",
        F.col("s.event_id").alias("last_event_id"),
        F.date_format("s.ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_ts"),
        F.col("s.cents").alias("last_cents"),
    )
    return final


@query(
    "q_stream_throughput_probe",
    oracle="""
WITH b AS (
    SELECT CAST(event_id % 4 AS BIGINT) AS batch,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1
), t AS (
    SELECT CAST(COUNT(DISTINCT event_id % 4) AS BIGINT) AS n_batches,
           CAST(COUNT(*) AS BIGINT) AS total_rows
    FROM events
)
SELECT b.batch, b.n_rows, b.n_users, t.n_batches, t.total_rows FROM b, t
""",
    tags=("streaming", "throughput", "telemetry", "witness"),
)
def q_stream_throughput_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming THROUGHPUT/BATCH-STABILITY probe: the correctness oracles can't see micro-batch structure, so a
    regression that silently merges, splits, or starves batches — a
    maxFilesPerTrigger regression, a source that stops honoring file
    boundaries, a batch that loses rows between source and sink — would
    pass every windowed-aggregate oracle. This probe stages events as 4
    modulo-bucket files, drains them one file per micro-batch through
    foreachBatch, and RECORDS the per-batch row flow.

    Batch identity is derived from the DATA each batch carries (its
    bucket value), not from the epoch id, so the probe is replay-order
    independent and needs no mtime staging discipline. Runtime witnesses
    (raise, not report): every micro-batch holds exactly ONE bucket
    (file->batch isolation), the drain takes exactly 4 non-empty epochs
    (no merge/split/starvation), per-batch row counts are balanced within
    3x (the modulo split's guarantee), and wall-clock per batch is
    measured positive — the rows/sec telemetry a production run would
    export, asserted structurally here so the check stays deterministic.
    The OUTPUT is exact and engine-comparable: per-batch row/user counts
    plus the batch-count and total-row constants, replayed by the oracle
    from the same modulo rule.

    100 TB shape: the probe's cost is one pass over the stream (the
    foreachBatch aggregate is per-batch, map-side partial); the witness
    state on the driver is 4 tuples."""
    import time

    from pyspark.sql import functions as F

    from als_pyspark_spark.sources.sinks import app_scratch
    from als_pyspark_spark.streaming.events import stage_events_modulo

    k = 4
    staged, schema = stage_events_modulo(spark, sf_dir, "stream_tput_probe", k)
    ckpt = app_scratch(spark, "stream_tput_probe_ckpt")
    import shutil

    shutil.rmtree(ckpt, ignore_errors=True)
    seen: list[tuple[int, int, int, float]] = []

    def record(batch_df: DataFrame, epoch_id: int) -> None:
        t0 = time.monotonic()
        rows = (
            batch_df.groupBy((F.col("event_id") % k).alias("bucket"))
            .agg(
                F.count("*").alias("n_rows"),
                F.countDistinct("user_id").alias("n_users"),
            )
            .collect()
        )
        if not rows:
            return  # availableNow may append a trailing empty epoch
        if len(rows) != 1:
            raise RuntimeError(
                f"micro-batch {epoch_id} mixed {len(rows)} modulo buckets — "
                "file->batch isolation (maxFilesPerTrigger=1) broke"
            )
        r = rows[0]
        seen.append(
            (int(r["bucket"]), int(r["n_rows"]), int(r["n_users"]),
             time.monotonic() - t0)
        )

    q = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .load(staged)
        .writeStream.foreachBatch(record)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    buckets = sorted(b for b, _, _, _ in seen)
    if buckets != list(range(k)):
        raise RuntimeError(
            f"expected {k} non-empty micro-batches carrying buckets "
            f"0..{k - 1}, saw {buckets} — batch merge/split/starvation"
        )
    counts = [n for _, n, _, _ in seen]
    if max(counts) > 3 * min(counts):
        raise RuntimeError(
            f"per-batch row counts {counts} skewed beyond 3x — the modulo "
            "staging no longer balances batches"
        )
    if any(dt <= 0 for _, _, _, dt in seen):
        raise RuntimeError("non-positive per-batch wall time measured")
    total = sum(counts)
    return local_frame(
        spark,
        [(b, n, u, k, total) for b, n, u, _ in sorted(seen)],
        "batch long, n_rows long, n_users long, n_batches long, total_rows long",
    )
