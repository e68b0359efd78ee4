

def test_python_datasource_writer_commit_manifest(spark, sf_dir):
    """The writer's two-phase commit: every committed task file is listed
    in the manifest, and the manifest covers exactly the files read back."""
    import json
    import os

    from als_pyspark_spark.registry import load_all_queries
    from als_pyspark_spark.sources.sinks import app_scratch

    q = load_all_queries()["q_python_datasource_write"]
    q.build(spark, sf_dir).collect()
    out = app_scratch(spark, "python_datasource_write")
    manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
    files = sorted(
        os.path.join(out, f) for f in os.listdir(out) if f.endswith(".jsonl")
    )
    assert manifest == files
    assert len(files) >= 1


def test_python_datasource_read_ignores_orphan_task_files(spark, sf_dir):
    """A crashed-then-retried task leaves an orphan part file the Python
    DataSource API cannot clean per-task; the read path must load exactly
    the manifest's committed files, so planting an orphan AFTER commit must
    not change the aggregate (regression: the read used to glob part-*)."""
    import os

    from als_pyspark_spark.registry import load_all_queries
    from als_pyspark_spark.sources.sinks import app_scratch

    q = load_all_queries()["q_python_datasource_write"]
    df = q.build(spark, sf_dir)
    clean = {r.o_orderstatus: (r.n_orders, r.total_cents) for r in df.collect()}
    out = app_scratch(spark, "python_datasource_write")
    orphan = os.path.join(out, "part-99999-deadbeef.jsonl")
    with open(orphan, "w") as f:
        f.write('{"o_orderkey": 1, "o_orderstatus": "F", "cents": 123}\n')
    try:
        poisoned = {
            r.o_orderstatus: (r.n_orders, r.total_cents) for r in df.collect()
        }
    finally:
        os.remove(orphan)
    assert poisoned == clean


def test_app_scratch_gc_respects_nested_activity(spark, tmp_path):
    """GC staleness is judged by the newest mtime in the TREE: a sibling
    whose top-level dir is >1h old but whose nested partition file is fresh
    (a partitioned sink mid-write) must survive; a fully-old sibling must
    be collected."""
    import os
    import time

    from als_pyspark_spark.sources import sinks

    old = time.time() - 7200
    scratch = str(tmp_path / "scratch")
    os.makedirs(scratch)
    orig = sinks._SCRATCH
    sinks._SCRATCH = scratch
    try:
        live = os.path.join(scratch, "gc_probe-otherapp-live")
        os.makedirs(os.path.join(live, "part=A"))
        with open(os.path.join(live, "part=A", "data.parquet"), "w") as f:
            f.write("x")
        # age everything except the nested file (fresh: a task still writing)
        os.utime(live, (old, old))
        os.utime(os.path.join(live, "part=A"), (old, old))

        dead = os.path.join(scratch, "gc_probe-otherapp-dead")
        os.makedirs(os.path.join(dead, "part=A"))
        with open(os.path.join(dead, "part=A", "data.parquet"), "w") as f:
            f.write("x")
        for p in (
            dead,
            os.path.join(dead, "part=A"),
            os.path.join(dead, "part=A", "data.parquet"),
        ):
            os.utime(p, (old, old))

        sinks.app_scratch(spark, "gc_probe")
        assert os.path.exists(live), "sibling with fresh nested write was GC'd"
        assert not os.path.exists(dead), "fully-stale sibling survived GC"
    finally:
        sinks._SCRATCH = orig


def _job_ids(spark, group: str, fn):
    """Run ``fn`` under a fresh job group; return its result and the ids of
    the Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def _copy_tables(sf_dir, dest, names):
    import shutil

    for t in names:
        shutil.copy(f"{sf_dir}/{t}.parquet", dest / f"{t}.parquet")
    return str(dest)


def test_second_load_of_a_file_starts_no_job(spark, sf_dir, tmp_path):
    """The first load of a file infers its schema (a footer-reading Spark
    job); every later load declares the memoized schema, starts no job and
    yields the same schema and rows, for every fixture table."""
    from als_pyspark_spark.sources.tables import TABLES, load_table

    d = _copy_tables(sf_dir, tmp_path, TABLES)
    for t in TABLES:
        inferred, jobs1 = _job_ids(spark, f"infer-{t}", lambda: load_table(spark, d, t))
        declared, jobs2 = _job_ids(spark, f"declare-{t}", lambda: load_table(spark, d, t))
        assert jobs1, f"{t}: inference ran no job, so the count proves nothing"
        assert jobs2 == [], t
        assert declared.schema == inferred.schema, t
        assert declared.collect() == inferred.collect(), t


def test_nanos_events_memo_keeps_nanos_as_long(spark, sf_dir, tmp_path):
    """An events file whose ts is parquet TIMESTAMP(NANOS) infers ts as
    LongType under nanosAsLong; the memoized read keeps that physical type
    and the same converted rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest
    from pyspark.sql import types as T

    from als_pyspark_spark.sources.tables import events_ts_physical_type, load_table

    t = pq.read_table(f"{sf_dir}/events.parquet")
    i = t.schema.get_field_index("ts")
    t = t.set_column(i, "ts", t.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(t, tmp_path / "events.parquet", version="2.6")
    d = str(tmp_path)

    first, jobs1 = _job_ids(spark, "nanos-first", lambda: load_table(spark, d, "events"))
    second, jobs2 = _job_ids(spark, "nanos-second", lambda: load_table(spark, d, "events"))
    ts_type, jobs3 = _job_ids(spark, "nanos-type", lambda: events_ts_physical_type(spark, d))
    assert jobs1 and jobs2 == [] and jobs3 == []
    assert isinstance(ts_type, T.LongType)
    assert second.schema == first.schema
    assert isinstance(second.schema["ts"].dataType, T.TimestampType)
    micros = load_table(spark, sf_dir, "events")
    assert second.collect() == micros.collect()

    # the memo key holds nanosAsLong: with it off, the file infers again
    # and fails as it always has, instead of reading the memoized LongType
    from pyspark.errors import PySparkException

    from als_pyspark_spark.sources.tables import _read_parquet

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    try:
        with pytest.raises(PySparkException, match="PARQUET_TYPE_ILLEGAL"):
            _read_parquet(spark, f"{d}/events.parquet")
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def test_rewritten_file_infers_again(spark, sf_dir, tmp_path):
    """A file rewritten with another column is inferred again, and the new
    column is read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from als_pyspark_spark.sources.tables import load_table

    d = _copy_tables(sf_dir, tmp_path, ["region"])
    before = load_table(spark, d, "region")
    assert "r_extra" not in before.columns
    t = pq.read_table(tmp_path / "region.parquet")
    t = t.append_column("r_extra", pa.array(range(t.num_rows), pa.int64()))
    pq.write_table(t, tmp_path / "region.parquet")

    after, jobs = _job_ids(spark, "rewritten", lambda: load_table(spark, d, "region"))
    assert jobs, "a rewritten file must infer its schema again"
    assert after.columns == before.columns + ["r_extra"]
    assert sorted(r.r_extra for r in after.collect()) == list(range(t.num_rows))


def test_directory_table_still_infers(spark, sf_dir, tmp_path):
    """A table stored as a parquet directory keeps the inferring read on
    every load: Spark's listing, not a file stat, decides what it holds."""
    from als_pyspark_spark.sources.tables import load_table

    spark.read.parquet(f"{sf_dir}/nation.parquet").write.parquet(
        str(tmp_path / "nation.parquet")
    )
    d = str(tmp_path)
    first, jobs1 = _job_ids(spark, "dir-first", lambda: load_table(spark, d, "nation"))
    second, jobs2 = _job_ids(spark, "dir-second", lambda: load_table(spark, d, "nation"))
    assert jobs1 and jobs2
    assert second.schema == first.schema
