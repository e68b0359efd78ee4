"""Session-factory hygiene: checkpoint-directory lifecycle.

Spark creates ``<base>/<uuid>`` per context and never deletes it, so
without active cleanup every run leaks its checkpointed RDDs to disk
permanently (309 MB / 207 orphan dirs had accumulated by round 8). The
factory owns three guards: a GC-driven in-session cleaner config, an
atexit removal of the session's own dir, and a startup sweep of stale
dirs from crashed sessions — the sweep is the pure-filesystem piece
tested directly here.
"""

from __future__ import annotations

import os
import time

from als_pyspark_spark.session import _sweep_stale_checkpoints


def _mkdir_with_age(base, name: str, age_s: float) -> str:
    path = os.path.join(str(base), name)
    os.makedirs(path)
    # plant a file so rmtree has real work, then age the dir itself
    with open(os.path.join(path, "part-0"), "w") as f:
        f.write("x")
    old = time.time() - age_s
    os.utime(path, (old, old))
    return path


def test_sweep_removes_only_stale_dirs(tmp_path):
    stale = _mkdir_with_age(tmp_path, "dead-session", age_s=4 * 3600)
    fresh = _mkdir_with_age(tmp_path, "live-session", age_s=60)
    _sweep_stale_checkpoints(str(tmp_path), max_age_s=3 * 3600)
    assert not os.path.exists(stale)
    assert os.path.exists(fresh)


def _plant_marker(path: str, content: str) -> None:
    with open(os.path.join(path, ".owner_pid"), "w") as f:
        f.write(content)
    # marker write refreshes the dir mtime — re-age it so the age gate
    # alone would have deleted it, proving the marker is what decides
    old = time.time() - 10 * 3600
    os.utime(path, (old, old))


def test_sweep_liveness_marker_overrides_age(tmp_path):
    """Round-9 ADVICE: a CONCURRENT live session idle >3h (long gate,
    debugger pause) must NOT lose its reliable checkpoints — deletion is
    unrecoverable because checkpointing truncated the lineage. The owner
    pid marker, not directory mtime, decides liveness."""
    live = _mkdir_with_age(tmp_path, "idle-but-alive", age_s=10 * 3600)
    _plant_marker(live, str(os.getpid()))  # this very process: alive

    # a dead owner's dir is reclaimed immediately, even when FRESH —
    # nobody can ever read another context's checkpoints
    dead = _mkdir_with_age(tmp_path, "fresh-but-dead", age_s=60)
    # spawn-and-reap a real child so the pid is genuinely dead (not a
    # guess at an unused number, which pid reuse could make a live alias)
    import subprocess

    proc = subprocess.Popen(["true"])
    proc.wait()
    _plant_marker(dead, str(proc.pid))

    _sweep_stale_checkpoints(str(tmp_path), max_age_s=3 * 3600)
    assert os.path.exists(live)
    assert not os.path.exists(dead)


def test_sweep_pid_reuse_fallback_age_gate(tmp_path):
    """Round-10 ADVICE: a recycled pid must not make a dead session's dir
    immortal — past the generous 48 h fallback gate even an alive-looking
    owner pid loses the dir (no genuine local session lives that long
    without asserting liveness). Round-11 ADVICE refinement: the age is
    the MARKER's mtime (owner-asserted heartbeat, re-touched by every
    ensure_checkpoint_dir call), NOT the dir's — checkpoint writes land
    in nested rdd-N subdirs and never bump the base dir, so a genuinely
    live long session looked idle by dir mtime and lost unrecoverable
    checkpoints."""
    ancient = _mkdir_with_age(tmp_path, "pid-reused", age_s=72 * 3600)
    _plant_marker(ancient, str(os.getpid()))  # alive — but heartbeat 72h old
    old = time.time() - 72 * 3600
    os.utime(os.path.join(ancient, ".owner_pid"), (old, old))
    recent = _mkdir_with_age(tmp_path, "alive-and-recent", age_s=10 * 3600)
    _plant_marker(recent, str(os.getpid()))  # alive, fresh heartbeat: kept
    # a live session whose DIR is ancient but whose heartbeat is fresh is
    # exactly the CI-soak/notebook case the marker gate exists for — kept
    soak = _mkdir_with_age(tmp_path, "old-dir-fresh-heartbeat", age_s=72 * 3600)
    _plant_marker(soak, str(os.getpid()))
    os.utime(soak, (old, old))  # dir ancient, marker mtime stays fresh
    _sweep_stale_checkpoints(str(tmp_path), max_age_s=3 * 3600)
    assert not os.path.exists(ancient)
    assert os.path.exists(recent)
    assert os.path.exists(soak)


def test_sweep_garbage_marker_falls_back_to_age_gate(tmp_path):
    old_garbage = _mkdir_with_age(tmp_path, "old-garbage", age_s=10 * 3600)
    _plant_marker(old_garbage, "not-a-pid")
    fresh_garbage = _mkdir_with_age(tmp_path, "fresh-garbage", age_s=60)
    with open(os.path.join(fresh_garbage, ".owner_pid"), "w") as f:
        f.write("not-a-pid")
    _sweep_stale_checkpoints(str(tmp_path), max_age_s=3 * 3600)
    assert not os.path.exists(old_garbage)
    assert os.path.exists(fresh_garbage)


def test_sweep_ignores_plain_files_and_missing_base(tmp_path):
    # a stray file at the base level is not a checkpoint dir — left alone
    stray = os.path.join(str(tmp_path), "notes.txt")
    with open(stray, "w") as f:
        f.write("keep")
    old = time.time() - 10 * 3600
    os.utime(stray, (old, old))
    _sweep_stale_checkpoints(str(tmp_path), max_age_s=3 * 3600)
    assert os.path.exists(stray)
    # nonexistent base is a silent no-op, not an error
    _sweep_stale_checkpoints(os.path.join(str(tmp_path), "nope"))


def test_bare_session_gate_on_checkpoint_dependent_queries():
    """Every query must be correct on a BARE SparkSession (the external
    driver builds its own — no build_session conf exists there), which
    holds because the runner builds it on an engine session. A bare
    builder inside this pytest process would just return the factory
    session, so the gate runs in a SUBPROCESS via ``check_correctness.py
    --bare`` over two queries that need the checkpoint dir an engine
    session claims (Dataset.checkpoint throws without one)."""
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [
            "python",
            os.path.join(repo, "scripts", "check_correctness.py"),
            "--bare",
            "/root/testdata/sf0.001",
            "q_dedup_clusters",
            "q_semantic_dedup_clusters",
        ],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=repo,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "0 failures" in proc.stdout


def test_entry_workers_import_the_engine_outside_the_checkout(sf_dir, tmp_path):
    """A driver started outside the checkout, with no PYTHONPATH, loads
    ``__spark_entry__`` by file path on a bare session: the Python workers
    of q_ann_ivf_top10's ``mapInArrow`` still import the engine, because
    the entry puts the checkout on the workers' PYTHONPATH too."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import importlib.util
spec = importlib.util.spec_from_file_location(
    "__spark_entry__", {os.path.join(repo, "__spark_entry__.py")!r})
entry = importlib.util.module_from_spec(spec)
spec.loader.exec_module(entry)
from pyspark.sql import SparkSession
spark = SparkSession.builder.master("local[2]").getOrCreate()
rows = entry.queries()["q_ann_ivf_top10"](spark, {sf_dir!r}).collect()
print("rows", len(rows))
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=tmp_path,
        env=env,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert int(proc.stdout.split("rows")[-1]) > 0


def test_session_has_checkpoint_dir_and_cleaner(spark):
    own = spark.sparkContext.getCheckpointDir()
    assert own and ".scratch/checkpoints" in own
    assert (
        spark.conf.get("spark.cleaner.referenceTracking.cleanCheckpoints")
        == "true"
    )


def test_ensure_checkpoint_dir_refreshes_own_heartbeat(spark):
    """Every engine session's claim re-touches OUR .owner_pid marker, so the
    48 h pid-reuse sweep fallback reads an owner-asserted heartbeat
    instead of inferring liveness from dir write patterns (round-11
    ADVICE — checkpoint writes land in nested rdd-N subdirs and never
    bump the base dir's mtime)."""
    from als_pyspark_spark.session import _OWNER_MARKER, ensure_checkpoint_dir

    own = ensure_checkpoint_dir(spark)
    local = own.removeprefix("file:") if own.startswith("file:") else own
    marker = os.path.join(local, _OWNER_MARKER)
    assert os.path.isfile(marker)
    with open(marker) as f:
        assert int(f.read().strip()) == os.getpid()
    old = time.time() - 72 * 3600
    os.utime(marker, (old, old))
    ensure_checkpoint_dir(spark)  # idempotent claim → heartbeat touch
    assert os.path.getmtime(marker) > time.time() - 60


def test_build_session_defaults_to_usable_cpus(monkeypatch):
    """Without SPARK_GRAFT_CPUS, local[N] and the shuffle partition count
    follow the CPUs this process may run on (its affinity mask), not a
    fixed 32; with it, the variable decides both."""
    from als_pyspark_spark import session

    seen = {}

    class Builder:
        def appName(self, name):
            return self

        def master(self, master):
            seen["master"] = master
            return self

        def config(self, key, value):
            seen[key] = value
            return self

        def getOrCreate(self):
            return "spark"

    class FakeSparkSession:
        builder = Builder()

    monkeypatch.setattr(session, "SparkSession", FakeSparkSession)
    monkeypatch.setattr(session, "ensure_checkpoint_dir", lambda spark: None)

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.build_session() == "spark"
    n = len(os.sched_getaffinity(0))
    assert seen["master"] == f"local[{n}]"
    assert seen["spark.sql.shuffle.partitions"] == str(n)

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    session.build_session()
    assert seen["master"] == "local[3]"
    assert seen["spark.sql.shuffle.partitions"] == "3"
