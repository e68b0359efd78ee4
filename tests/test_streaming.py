"""Structured Streaming: batch ≡ stream equivalence on the events table.

The batch twins are oracle-checked (operators/events.py), so proving the
stream drains to the same result transitively oracle-checks the streaming
jobs too.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from als_pyspark_spark.operators.events import (
    q_events_dedup_first,
    q_events_tumbling_hourly,
)
from als_pyspark_spark.streaming.events import (
    read_events_stream,
    run_to_memory,
    running_user_value,
    session_windows,
    sliding_counts,
    streaming_dedup,
    tumbling_hourly,
)


def _sorted_rows(df):
    return sorted([tuple(r) for r in df.collect()], key=repr)


def test_stream_tumbling_equals_batch(spark, sf_dir):
    stream = tumbling_hourly(read_events_stream(spark, sf_dir))
    got = run_to_memory(stream, "t_tumbling", mode="complete")
    want = q_events_tumbling_hourly(spark, sf_dir)
    assert _sorted_rows(got) == _sorted_rows(want)


def test_stream_dedup_equals_batch_keys(spark, sf_dir):
    stream = streaming_dedup(read_events_stream(spark, sf_dir))
    got = run_to_memory(stream, "t_dedup", mode="append")
    want = q_events_dedup_first(spark, sf_dir)
    # same surviving key set (dedup keeps an arbitrary-but-single row per id)
    assert got.count() == want.count()
    got_ids = {r.event_id for r in got.select("event_id").collect()}
    want_ids = {r.event_id for r in want.select("event_id").collect()}
    assert got_ids == want_ids


def test_sliding_double_counts(spark, sf_dir):
    stream = sliding_counts(read_events_stream(spark, sf_dir))
    got = run_to_memory(stream, "t_sliding", mode="complete")
    total_windowed = got.agg(F.sum("n_events")).collect()[0][0]
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    # 1h window / 30min slide → every event in exactly 2 windows
    assert total_windowed == 2 * n_events


def test_session_windows(spark, sf_dir):
    stream = session_windows(read_events_stream(spark, sf_dir))
    got = run_to_memory(stream, "t_sessions", mode="complete")
    assert got.count() > 0
    # session bounds are ordered and per-user event counts add up
    bad = got.where(F.col("session_start") > F.col("session_end")).count()
    assert bad == 0
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert got.agg(F.sum("n_events")).collect()[0][0] == n_events


def test_stateful_running_value(spark, sf_dir):
    stream = running_user_value(read_events_stream(spark, sf_dir), threshold=1000.0)
    got = run_to_memory(stream, "t_stateful", mode="append")
    rows = got.collect()
    assert len(rows) > 0
    for r in rows:
        assert r.total >= 1000.0 * r.level >= 1000.0


def test_stream_file_sink_with_checkpoint(spark, sf_dir, tmp_path):
    """Streaming parquet FILE sink with a checkpoint location — the
    exactly-once output path (memory sink covers semantics; this covers
    the durable sink + checkpoint wiring a production stream uses)."""
    import pyspark.sql.functions as F

    from als_pyspark_spark.sources.tables import load_table
    from als_pyspark_spark.streaming.events import read_events_stream

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = read_events_stream(spark, sf_dir).select("event_id", "event_type", "value")
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    written = spark.read.parquet(out)
    batch = load_table(spark, sf_dir, "events")
    assert written.count() == batch.count()
    # re-running with the same checkpoint must be a no-op (exactly-once)
    q2 = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    assert spark.read.parquet(out).count() == batch.count()


def test_stream_foreachbatch_sink(spark, sf_dir, tmp_path):
    """foreachBatch: the production escape hatch for sinks Spark lacks
    natively (JDBC upsert, MERGE INTO) — each micro-batch arrives as a
    normal DataFrame with a batch id. Assert all rows land exactly once."""
    from als_pyspark_spark.sources.tables import load_table
    from als_pyspark_spark.streaming.events import read_events_stream

    out = str(tmp_path / "fb_out")
    ckpt = str(tmp_path / "fb_ckpt")
    seen_batches = []

    def sink(batch_df, batch_id):
        seen_batches.append(batch_id)
        batch_df.write.mode("append").parquet(out)

    q = (
        read_events_stream(spark, sf_dir)
        .select("event_id", "event_type")
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(seen_batches) >= 1
    written = spark.read.parquet(out)
    assert written.count() == load_table(spark, sf_dir, "events").count()


def test_tws_user_max_matches_batch(spark, sf_dir):
    """transformWithStateInPandas operator vs its batch twin. Skips where
    protobuf (the TWS state-server protocol dependency) is absent."""
    import pytest

    pytest.importorskip("google.protobuf")
    from als_pyspark_spark.streaming.queries import q_stream_tws_user_max

    got = {
        r.user_id: r.max_value
        for r in q_stream_tws_user_max(spark, sf_dir).collect()
    }
    from als_pyspark_spark.sources.tables import load_table

    want = {
        r.user_id: r.mx
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.max("value").alias("mx"))
        .where(F.col("mx") >= 400.0)
        .collect()
    }
    assert got == want


def test_apws_user_max_matches_batch_low_threshold(spark, sf_dir):
    """The protobuf-free running-max twin (applyInPandasWithState) vs its
    batch equivalent — at threshold=100 so many users qualify (the
    registered query's 400 keeps the tws-identical oracle but emits few
    rows at small SF; this exercises the state machine broadly)."""
    from als_pyspark_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
        user_max_value_apws,
    )

    name = "mem_apws_user_max_t100"
    spark.catalog.dropTempView(name) if spark.catalog.tableExists(name) else None
    stream = user_max_value_apws(read_events_stream(spark, sf_dir), threshold=100.0)
    drained = run_to_memory(stream, name, mode="append", expect_single_batch=True)
    got = {r.user_id: r.max_value for r in drained.collect()}

    from als_pyspark_spark.sources.tables import load_table

    want = {
        r.user_id: r.mx
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.max("value").alias("mx"))
        .where(F.col("mx") >= 100.0)
        .collect()
    }
    assert got == want
    assert len(got) > 0, "threshold=100 should qualify users even at sf0.001"


def test_apws_and_tws_user_max_agree(spark, sf_dir):
    """Twin contract: the applyInPandasWithState and transformWithState
    variants emit identical rows (skips where protobuf is absent)."""
    import pytest

    pytest.importorskip("google.protobuf")
    from als_pyspark_spark.streaming.queries import (
        q_stream_apws_user_max,
        q_stream_tws_user_max,
    )

    apws = {r.user_id: r.max_value for r in q_stream_apws_user_max(spark, sf_dir).collect()}
    tws = {r.user_id: r.max_value for r in q_stream_tws_user_max(spark, sf_dir).collect()}
    assert apws == tws


def test_watermark_equality_boundary_probe(spark, tmp_path):
    """Round-8 boundary-audit extension to STREAMING event time: pin
    Spark's behavior when timestamps land EXACTLY on the watermark —
    the equality case fixture microsecond clocks never produce, and the
    case q_stream_late_data_drop deliberately excludes via its boundary
    band. MEASURED semantics (this probe's first run falsified the
    symmetric guess), with a watermark engineered to land exactly on
    11:00:00 (batch-1 max 13:00 − 2h delay) and a window [10:00, 11:00)
    whose end EQUALS it:

      1. the input-drop filter is STRICT: a batch-2 row at 10:30
         (strictly below wm, aimed at the end==wm window) is ADMITTED
         and merged — only windows with end < wm have their late rows
         discarded;
      2. the close/emit rule is INCLUSIVE: that same end==wm window is
         finalized at the end of the batch and append-emits the MERGED
         count (n=2) — admit-then-close in one batch, so the boundary
         row is never lost;
      3. a row at EXACTLY ts == wm is admitted and creates fresh state
         ([11:00, 12:00) emits an update).

    The asymmetry (strict drop, inclusive close) is why the suite's
    streaming oracles must never compare at the boundary: the late-data
    query excludes a ±2h band, and the session oracles were re-probed
    separately. If any assertion here flips on a Spark upgrade, every
    streaming oracle's inequalities need re-auditing before trusting
    green rows.
    """
    import datetime as dt
    import os

    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    staged = str(tmp_path / "wm_probe")
    b1 = spark.createDataFrame([(t(10),), (t(13),)], "ts timestamp")
    b2 = spark.createDataFrame(
        [(t(10, 30),), (t(11),), (t(13),)], "ts timestamp"
    )
    b1.coalesce(1).write.mode("overwrite").parquet(staged)
    import glob

    first = set(glob.glob(os.path.join(staged, "part-*.parquet")))
    b2.coalesce(1).write.mode("append").parquet(staged)
    second = set(glob.glob(os.path.join(staged, "part-*.parquet"))) - first
    # enforce strictly increasing mtimes so the file source replays b1
    # before b2 (same discipline as stage_events_two_batches)
    base = os.path.getmtime(next(iter(first)))
    for p in second:
        os.utime(p, (base + 10, base + 10))

    def probe(mode, name):
        stream = (
            spark.readStream.schema("ts timestamp")
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .option("latestFirst", "false")
            .load(staged)
            .withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )
        return run_to_memory(stream, name, mode=mode).collect()

    appended = {(r.ws, r.n) for r in probe("append", "wm_probe_append")}
    # 1 + 2: the strictly-late 10:30 row is ADMITTED into the end==wm
    # window (strict drop filter), which then CLOSES inclusively and
    # emits the merged count; nothing else has end ≤ wm
    assert appended == {(t(10), 2)}, appended

    updates = [(r.ws, r.n) for r in probe("update", "wm_probe_update")]
    # 3: the ts==wm row was admitted — its [11:00, 12:00) window state
    # exists and emitted an update; and the admitted 10:30 merge shows
    # up as the second update version of [10:00, 11:00)
    assert (t(11), 1) in updates, updates
    assert (t(10), 2) in updates, updates


def test_outer_join_eviction_equality_boundary_probe(spark, tmp_path):
    """Round-8 boundary-audit extension, stream-stream OUTER join: pin
    when an unmatched left row NULL-pads — with the global watermark
    engineered to land EXACTLY on one purchase's event time. The
    production join (stream_stream_purchase_click_outer) can free a
    purchase once no click with c_ts <= p_ts can still arrive, i.e.
    once the watermark reaches p_ts — this probe measures whether
    equality suffices. Purchases at 10:00 (strictly below the 11:00
    watermark: MUST flush) and at 11:00 (== watermark: the measured
    case); sentinel 13:00 rows pin the watermark without advancing it.

    MEASURED: the end==wm purchase does NOT flush — join-state eviction
    is STRICT (wm must pass p_ts), unlike the aggregation close probed
    above (inclusive at end==wm). One more reason the suite's outer-join
    oracle compares only the conservatively-closed subset
    (p_ts <= wm - 2h) rather than anything near the boundary.
    """
    import datetime as dt
    import glob
    import os

    from als_pyspark_spark.streaming.events import (
        run_to_memory,
        stream_stream_purchase_click_outer,
    )

    t = lambda h: dt.datetime(2024, 1, 1, h)
    rows1 = [
        (1, t(10), 1, "purchase"),
        (2, t(11), 2, "purchase"),
        (3, t(13), 99, "purchase"),
        (4, t(13), 98, "click"),
    ]
    rows2 = [(5, t(13), 97, "purchase"), (6, t(13), 96, "click")]
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    staged = str(tmp_path / "oj_probe")
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(staged)
    first = set(glob.glob(os.path.join(staged, "part-*.parquet")))
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(
        staged
    )
    base = os.path.getmtime(next(iter(first)))
    for p in set(glob.glob(os.path.join(staged, "part-*.parquet"))) - first:
        os.utime(p, (base + 10, base + 10))

    def src():
        return (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .option("latestFirst", "false")
            .load(staged)
        )

    joined = stream_stream_purchase_click_outer(
        src().where(F.col("event_type") == "purchase"),
        src().where(F.col("event_type") == "click"),
    )
    got = run_to_memory(joined, "oj_probe_out", mode="append").collect()
    flushed_null = {r.purchase_id for r in got if r.click_id is None}
    # strictly-below-watermark purchase MUST have flushed its NULL row
    assert 1 in flushed_null, got
    # the == watermark purchase does NOT flush (strict eviction), and the
    # far-future purchases never do
    assert flushed_null == {1}, got


def test_dedup_exactly_once_at_watermark_boundary_probe(spark, tmp_path):
    """Round-8 boundary-audit extension, streaming DEDUP: the family's
    core promise — one emission per key — must hold for duplicates
    arriving exactly AT the watermark, the instant where the other
    probes measured three different rules (inclusive agg close, strict
    input drop, strict join eviction). Both dedup flavors probed with
    the watermark landing exactly on a duplicated row's event time
    (11:00 = batch-1 max 13:00 − 2h): whether the engine drops the
    batch-2 duplicate as late input, dedups it against live state, or
    already evicted the key, the OUTPUT contract is the same — no id
    may emit twice on this drain. A strictly-late duplicate (10:00,
    below the watermark) rides along: it must not double-emit either.
    """
    import datetime as dt
    import glob
    import os

    from als_pyspark_spark.streaming.events import (
        run_to_memory,
        streaming_dedup,
        streaming_dedup_within_watermark,
    )

    t = lambda h: dt.datetime(2024, 1, 1, h)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    rows1 = [
        (1, t(10), 1, "view", 1.0),
        (2, t(11), 2, "view", 1.0),
        (9, t(13), 9, "view", 1.0),
    ]
    rows2 = [
        (1, t(10), 1, "view", 1.0),  # strictly-late duplicate
        (2, t(11), 2, "view", 1.0),  # duplicate exactly AT the watermark
        (9, t(13), 9, "view", 1.0),  # sentinel duplicate, no wm movement
    ]
    staged = str(tmp_path / "dedup_probe")
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(staged)
    first = set(glob.glob(os.path.join(staged, "part-*.parquet")))
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(
        staged
    )
    base = os.path.getmtime(next(iter(first)))
    for p in set(glob.glob(os.path.join(staged, "part-*.parquet"))) - first:
        os.utime(p, (base + 10, base + 10))

    def src():
        return (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .option("latestFirst", "false")
            .load(staged)
        )

    for op, name in (
        (streaming_dedup, "dedup_probe_plain"),
        (streaming_dedup_within_watermark, "dedup_probe_within"),
    ):
        got = run_to_memory(op(src()), name, mode="append").collect()
        emitted = sorted(r.event_id for r in got)
        assert emitted == [1, 2, 9], (name, got)


def test_source_bytes_reads_every_file_uri_form(tmp_path):
    """file:/p, file:///p and file://host/p all measure the local file /p
    (a plain prefix strip left //host/p, which silently measured 0)."""
    from als_pyspark_spark.streaming.events import source_bytes

    f = tmp_path / "a b.parquet"
    f.write_bytes(b"x" * 123)
    p = str(f)
    quoted = p.replace(" ", "%20")
    for uri in (p, f"file:{p}", f"file://{p}", f"file://localhost{quoted}"):
        assert source_bytes(uri) == 123, uri
