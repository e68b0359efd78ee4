"""Structured Streaming over the events table (net-new vs the reference,
which is a pure batch job — SURVEY.md §2.11).

Jobs provided:

- tumbling/sliding window aggregates with a watermark (late-data bound)
- streaming exact dedup (dropDuplicates within the watermark)
- custom stateful op via applyInPandasWithState (running per-user value sum
  emitting only on change past a threshold)

Each job's batch twin lives in operators/events.py with a DuckDB oracle;
tests prove batch ≡ stream on the same input (trigger=availableNow drains
the file source deterministically).

Scale notes: state stores are keyed by (group key, window); the watermark
bounds state size — without it, a 100 TB stream accumulates state forever.
File-source streaming here stands in for Kafka: same API, different source.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _raw_schema(ts_type) -> StructType:
    """File-source streams need an explicit schema; the ts field must match
    the file's physical type (int64 nanos in some data drops, micros NTZ in
    others — see sources/tables.py)."""
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over events.parquet with the same ts conversion
    as the batch loader (sources/tables.py): nanos-long files are truncated
    to micros with exact integer division; micros-NTZ files cast to the
    UTC-pinned session TIMESTAMP (identity on the underlying micros)."""
    from pyspark.sql import types as T

    from als_pyspark_spark.sources.tables import events_ts_physical_type

    ts_type = events_ts_physical_type(spark, sf_dir)
    # file-source streams take a DIRECTORY; select just events.parquet
    # from the shared sf_dir with a glob filter.
    raw = (
        spark.readStream.schema(_raw_schema(ts_type))
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    if isinstance(ts_type, T.LongType):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def tumbling_hourly(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """1-hour tumbling window counts+sums per event_type (twin of
    q_events_tumbling_hourly)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
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


def sliding_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """30-min slide over 1-hour windows — each event lands in 2 windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def streaming_dedup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Stateful exact dedup on event_id bounded by the watermark —
    the streaming twin of q_events_dedup_first's keep-one semantics."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def streaming_dedup_within_watermark(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Stateful dedup via dropDuplicatesWithinWatermark (Spark 3.5+): like
    dropDuplicates, but the engine GUARANTEES eviction of each key's state
    once the watermark passes it — the API to use when duplicates arrive
    within a bounded lateness window and unbounded key-state growth is the
    concern. Emission differs from plain dropDuplicates (first arrival per
    key within the watermark window wins; a key can re-emit after its
    state expires), but on a bounded drain whose data spans less than the
    watermark the surviving KEY SET is identical — what the exact oracle
    pins."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def running_user_value(events: DataFrame, threshold: float = 1000.0) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user running
    value total, emitting a row each time the total crosses another multiple
    of `threshold`. The state is one (total_cents, emitted_level) pair per
    user — O(users) state, watermark-free by design (monotone counters).

    The accumulator is INTEGER CENTS, not a float: event values are 2-decimal
    quantities, and a float running sum is arrival-order-dependent in its low
    bits — which would make the emitted `total` nondeterministic across
    partitionings and unable to carry an exact oracle. Integer addition is
    associative; total = cents/100.0 is then the correctly-rounded double of
    the exact decimal sum, matching SUM(CAST(value AS DECIMAL)) in SQL.

    This is the template for operators Spark lacks natively (reference has
    nothing comparable; its only state is per-iteration RDD caching).
    """
    import pandas as pd  # local import: executors need it, driver may not

    threshold_cents = int(round(threshold * 100))
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("total", DoubleType()),
            StructField("level", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("total_cents", LongType()), StructField("level", LongType())]
    )

    def fn(key, pdf_iter, state):
        cents, level = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            cents += int((pdf["value"] * 100).round().astype("int64").sum())
        new_level = cents // threshold_cents
        state.update((cents, new_level))
        if new_level > level:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "total": [cents / 100.0],
                    "level": [new_level],
                }
            )

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", "NoTimeout"
        )
    )


def stream_static_segment_counts(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static join: enrich the event stream with the (static)
    customer dimension, then count per (segment, type). The static side
    needs no watermark and broadcasts per micro-batch — at cluster scale
    this is the canonical 'enrich a Kafka stream with a dim table' plan."""
    joined = events.join(customer, events.user_id == customer.c_custkey)
    return joined.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").alias("n_events")
    )


def stream_stream_purchase_click(
    purchases: DataFrame, clicks: DataFrame, lookback: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join: each purchase pairs with that user's
    clicks in the preceding hour. Both sides are watermarked and the join
    carries an explicit event-time range, so state eviction is bounded —
    the two requirements for an unbounded stream-stream join to hold at
    100 TB (without them, join state grows forever).
    """
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", "2 hours")
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", "2 hours")
    return p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).select("p_user", "purchase_id", "click_id")


def stream_stream_purchase_click_outer(
    purchases: DataFrame,
    clicks: DataFrame,
    lookback: str = "1 hour",
    how: str = "leftOuter",
) -> DataFrame:
    """LEFT OUTER stream-stream join: every purchase emits — paired with
    that user's preceding-hour clicks when they exist, with a NULL click
    otherwise. The outer side is the semantically harder stream-stream
    flavor: Spark can only emit the unmatched-left row once the global
    watermark proves no future click can still join it, so null rows
    surface on state EVICTION in a LATER micro-batch, not when the
    purchase arrives. Same watermark + event-time-range discipline as the
    inner variant (state stays bounded at any scale); the caller must feed
    ≥2 micro-batches for any outer row to flush at all, and only purchases
    whose join window is fully below the final-advanced watermark have
    deterministic outer results (q_stream_left_outer_join pins exactly
    that closed subset against the batch oracle).
    """
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", "2 hours")
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", "2 hours")
    return p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("c_ts") <= F.col("p_ts")),
        how,
    ).select("p_user", "purchase_id", "p_ts", "c_user", "click_id", "c_ts")


# Target bytes of source data per streaming STATE partition.
# Stateful operators pin their state partitioning to
# spark.sql.shuffle.partitions at stream start, and every micro-batch —
# including 0-row watermark-advance batches — pays a per-partition state
# store open/commit cycle (4 stores per stream-stream join side). Measured
# at sf0.1: a 0-row batch costs ~2.5s at 32 state partitions vs ~0.55s at
# 4; the outer-join drain is 11.7s at 32 vs 5.3s at 4 with identical
# output. The guide's rule (§2: derive partitioning from input size, not a
# constant tuned for local mode or the cluster) applied to streaming:
# state partitions = ceil(source_bytes / this target), clamped to
# [1, 4·defaultParallelism] — grows with data, caps with the cluster.
_STATE_TARGET_BYTES = 8 * 1024 * 1024


def source_bytes(*paths: str) -> int:
    """Total on-disk bytes of the given source files/directories (staging
    dirs count their part files; hidden/metadata files excluded) — the
    input-size signal :func:`adaptive_state_partitions` sizes JVM state from."""
    total = 0
    for p in paths:
        if p.startswith("file:"):
            # file:/p, file:///p and file://host/p all name the local /p
            p = unquote(urlparse(p).path)
        if os.path.isdir(p):
            for root, _, files in os.walk(p):
                for f in files:
                    if f.startswith((".", "_")):
                        continue
                    try:
                        total += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass
        else:
            try:
                total += os.path.getsize(p)
            except OSError:
                pass
    return total


def adaptive_state_partitions(spark: SparkSession, nbytes: int) -> int:
    """Scale-adaptive partition count for JVM stream state: one partition
    per ``_STATE_TARGET_BYTES`` of source data, at least 1, at most
    4 × defaultParallelism (the cluster-proportional cap — on a real
    cluster parallelism scales with executors, so the cap does too).
    State held by a Python stage is sized by rows instead
    (``session.python_stage_tasks``)."""
    cap = 4 * spark.sparkContext.defaultParallelism
    return max(1, min(cap, -(-nbytes // _STATE_TARGET_BYTES)))


def events_state_partitions(spark: SparkSession, sf_dir: str) -> int:
    """:func:`adaptive_state_partitions` for JVM state over a stream read
    via :func:`read_events_stream` (the fixture dir's events.parquet)."""
    return adaptive_state_partitions(
        spark, source_bytes(os.path.join(sf_dir, "events.parquet"))
    )


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    mode: str = "append",
    expect_single_batch: bool = False,
    state_partitions: int | None = None,
) -> DataFrame:
    """Drain the stream with trigger=availableNow into a memory sink and
    return the materialized result.

    Mode notes: with availableNow the watermark only advances BETWEEN
    micro-batches, so append-mode windowed aggregates would emit nothing on
    a single-batch drain — callers pass mode='complete' for aggregations
    and 'append' for row streams (dedup, stateful ops).

    ``expect_single_batch``: exact-oracled append-mode jobs whose oracle
    enumerates EVERY qualifying output row (the stream-stream interval join)
    are only batch-equivalent if the whole input arrives in one micro-batch —
    across batches, the advancing watermark may evict state and drop pairs
    the batch oracle contains. The events source is a single parquet file,
    which a file source with no maxFilesPerTrigger reads as one batch; this
    flag turns that assumption into a loud runtime check instead of a silent
    oracle divergence.

    ``state_partitions``: the stream runs with
    ``spark.sql.shuffle.partitions`` set to it for its duration (restored
    after the drain — queries here run sequentially, matching the
    bench/driver contract). Stateful operators pin state partitioning at
    stream start and pay per-partition store open/commit on EVERY
    micro-batch, so callers size it from their input instead of the
    session constant (the §2 scale-adaptive rule): JVM state by source
    bytes (:func:`adaptive_state_partitions`), state kept by a Python
    stage by rows (``session.python_stage_tasks``). Output is
    partitioning-independent (keyed aggregates/joins/dedup-on-unique-key),
    which the oracle gate re-proves per query.
    """
    spark = stream_df.sparkSession
    old_parts: str | None = None
    if state_partitions is not None:
        old_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if old_parts is not None:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    if expect_single_batch:
        fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if len(fed) != 1:
            raise RuntimeError(
                f"stream '{name}' drained in {len(fed)} non-empty micro-batches; "
                "its exact batch oracle assumes exactly one (state eviction "
                "between batches could silently drop qualifying rows)"
            )
    return stream_df.sparkSession.table(name)


def user_max_value_apws(events: DataFrame, threshold: float = 400.0) -> DataFrame:
    """Per-user running MAX event value via applyInPandasWithState — the
    protobuf-free TWIN of :func:`user_max_value_tws`, with byte-identical
    output semantics. transformWithStateInPandas needs google.protobuf
    (its state-server wire format), which not every deployment ships; this
    twin expresses the SAME StatefulProcessor logic (one running-max value
    state per user, emit when the post-batch max clears the threshold)
    through the dependency-free v1 arbitrary-state API, so the semantics
    stay driver-verifiable everywhere while the tws variant remains the
    gated superset.

    MAX is float-order-independent, so emitted values are deterministic
    under any partitioning/arrival order — what lets the registry query
    carry an exact oracle. State: one (max,) tuple per user — O(users),
    watermark-free (monotone).
    """
    import pandas as pd  # local import: executors need it, driver may not

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("max_value", DoubleType()),
        ]
    )
    state_schema = StructType([StructField("mx", DoubleType())])

    def fn(key, pdf_iter, state):
        mx = state.get[0] if state.exists else None
        for pdf in pdf_iter:
            m = float(pdf["value"].max())
            if mx is None or m > mx:
                mx = m
        state.update((mx,))
        if mx is not None and mx >= threshold:
            yield pd.DataFrame({"user_id": [key[0]], "max_value": [mx]})

    return events.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", "NoTimeout"
    )


def user_max_value_tws(events: DataFrame, threshold: float = 400.0) -> DataFrame:
    """Per-user running MAX event value via transformWithStateInPandas —
    the Spark 4 arbitrary-stateful v2 API (StatefulProcessor + typed
    ValueState), the successor to applyInPandasWithState.

    MAX (unlike SUM) is order-independent even in floats, so the emitted
    values are deterministic under any partitioning/arrival order — which
    is what lets the registry query carry an exact oracle.

    State: one ValueState[(max,)] per user — O(users), watermark-free
    (monotone). Emits a (user, max) row whenever the post-batch max clears
    the threshold; on a bounded single-batch drain that is exactly the
    batch GROUP BY/HAVING MAX result.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("max_value", DoubleType()),
        ]
    )

    class MaxValueProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._mx = handle.getValueState(
                "mx", StructType([StructField("mx", DoubleType())])
            )

        def handleInputRows(self, key, rows, timerValues):
            mx = self._mx.get()[0] if self._mx.exists() else None
            for pdf in rows:
                m = float(pdf["value"].max())
                if mx is None or m > mx:
                    mx = m
            self._mx.update((mx,))
            if mx is not None and mx >= threshold:
                yield pd.DataFrame({"user_id": [key[0]], "max_value": [mx]})

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=MaxValueProcessor(),
        outputStructType=out_schema,
        outputMode="append",
        timeMode="None",
    )


def ohlc_hourly(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming OHLC candlesticks: per (event_type, 1-hour tumbling
    window), open/close resolved by min_by/max_by over the UNIQUE
    (ts, event_id) struct ordering key — a pure declarative streaming
    aggregate (no row_number, which streaming cannot express), so state
    per group is O(1): running min/max of (key, value) pairs. The batch
    twin (q_ohlc_hourly_bars) proves the same picks via row_number."""
    ordkey = F.struct(F.col("ts"), F.col("event_id"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.min_by("value", ordkey).alias("open_value"),
            F.max("value").alias("high_value"),
            F.min("value").alias("low_value"),
            F.max_by("value", ordkey).alias("close_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "open_value",
            "high_value",
            "low_value",
            "close_value",
        )
    )


def stage_events_two_batches(
    spark: SparkSession, sf_dir: str, name: str, split: str = "time"
):
    """Re-stage events.parquet as TWO parquet files inside an app-scoped
    scratch dir, so a file source with ``maxFilesPerTrigger=1``
    (latestFirst=false) replays them oldest-first as two micro-batches —
    the minimum setup under which any BETWEEN-batch semantics (watermark
    advancement, outer-join eviction, update-mode re-emission, late-data
    dropping) can be observed in a bounded drain.

    ``split="time"``: file 1 holds rows before ``max(ts) − 6 days`` —
    event time advances monotonically across batches, the well-behaved
    stream. ``split="parity_late"``: THREE batches — (1) even event_ids
    over the full time range, (2) a one-row sentinel re-sending the
    latest even row so the engine evicts every window the batch-1
    watermark closed, (3) odd event_ids over the full range, which now
    arrive far BEHIND the watermark: deterministic late-after-eviction
    data (see the inline comment for why two batches cannot witness a
    drop).

    Returns ``(staged_path, t0, schema)``; ``t0`` is the time boundary
    (``max(ts) − 6 days``, SQL-expressible) — meaningful for the time
    split, returned either way.
    """
    from als_pyspark_spark.sources.sinks import app_scratch
    from als_pyspark_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    t0 = events.agg(
        (F.max("ts") - F.expr("INTERVAL 6 DAYS")).alias("v")
    ).collect()[0]["v"]
    staged = app_scratch(spark, name)
    if split == "time":
        batches = [
            events.where(F.col("ts") < F.lit(t0)),
            events.where(F.col("ts") >= F.lit(t0)),
        ]
    elif split == "parity_late":
        # THREE batches: (1) even ids, full time span — sets the
        # watermark 2h under the global even max; (2) a single sentinel
        # row re-sending the latest even row — a no-new-watermark tick
        # whose only job is to let the engine EVICT (and emit) every
        # window the batch-1 watermark closed (its duplicate lands in a
        # boundary-band window comparisons exclude); (3) odd ids, full
        # span — every row aimed at an evicted window is now genuinely
        # late-after-eviction and must be dropped. Two batches are NOT
        # enough to witness dropping: a late row whose window state
        # still lives is merged, per the engine's contract.
        evens = events.where(F.col("event_id") % 2 == 0)
        max_even_ts = evens.agg(F.max("ts").alias("m")).collect()[0]["m"]
        batches = [
            evens,
            evens.where(F.col("ts") == F.lit(max_even_ts)).limit(1),
            events.where(F.col("event_id") % 2 == 1),
        ]
    else:
        raise ValueError(f"unknown split: {split!r}")
    # FileStreamSource replays files oldest-mtime-first. Sequential
    # single-file writes USUALLY yield distinct mtimes, but on a coarse-
    # granularity filesystem (or a fast write) two staged files can tie —
    # and a tie silently inverts the watermark staging every between-batch
    # oracle depends on. So: track each batch's part file as it lands and
    # ENFORCE strictly increasing mtimes in the intended order, bumping
    # with os.utime on a tie rather than assuming the clock resolved it.
    import glob

    def _parts() -> set[str]:
        return set(glob.glob(os.path.join(staged, "part-*.parquet")))

    batches[0].coalesce(1).write.mode("overwrite").parquet(staged)
    ordered = sorted(_parts())
    if len(ordered) != 1:
        raise RuntimeError(f"expected 1 part file after batch 0, got {ordered}")
    for b in batches[1:]:
        before = _parts()
        b.coalesce(1).write.mode("append").parquet(staged)
        new = _parts() - before
        if len(new) != 1:
            raise RuntimeError(f"expected 1 new part file per batch, got {new}")
        ordered.append(new.pop())
    prev = None
    for path in ordered:
        st = os.stat(path)
        if prev is not None and st.st_mtime <= prev:
            # bump, then VERIFY the bump survived — a coarse-granularity
            # filesystem (1s/2s mtime resolution) truncates a +2ms bump
            # back to the tie, which would silently invert replay order;
            # escalate to whole-second bumps before giving up loudly
            for bump in (0.002, 1.0, 2.0):
                os.utime(path, (st.st_atime, prev + bump))
                if os.stat(path).st_mtime > prev:
                    break
            else:
                raise RuntimeError(
                    f"cannot order staged batch files by mtime: {path} "
                    f"stuck at {os.stat(path).st_mtime} <= {prev} "
                    f"(coarse filesystem mtime granularity?)"
                )
        prev = os.stat(path).st_mtime
    return staged, t0, events.schema


def read_staged_stream(spark: SparkSession, staged: str, schema) -> DataFrame:
    """File-source stream over a two-file staging dir, one file per
    micro-batch, oldest first."""
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .load(staged)
    )


def stage_events_modulo(spark: SparkSession, sf_dir: str, name: str, k: int):
    """Re-stage events.parquet as ``k`` parquet files — file i holding
    exactly the rows with ``event_id % k == i`` — inside an app-scoped
    scratch dir, so a file source with ``maxFilesPerTrigger=1`` drains in
    exactly ``k`` micro-batches whose CONTENT is a deterministic function
    of the data. Unlike :func:`stage_events_two_batches`, no mtime
    ordering is enforced: callers that identify each batch by the bucket
    value it carries (not by epoch id) are replay-order independent.

    Returns ``(staged_path, schema)``."""
    from als_pyspark_spark.sources.sinks import app_scratch
    from als_pyspark_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    staged = app_scratch(spark, name)
    events.where(F.col("event_id") % k == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(staged)
    for i in range(1, k):
        events.where(F.col("event_id") % k == i).coalesce(1).write.mode(
            "append"
        ).parquet(staged)
    return staged, events.schema
