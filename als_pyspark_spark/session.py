"""The engine's session policy, in one place.

Rule: every query runs on an engine session (:func:`engine_session`): a
new session on the caller's context with the engine's runtime SQL conf
(:func:`runtime_conf`: shuffle partitions at the context's parallelism,
AQE, Arrow, UTC, broadcast threshold, recursion limit, nanosAsLong) and
a checkpoint dir. ``runner.built`` and ``__spark_entry__`` are the only
places the engine takes a session from outside, so no query pins a
setting itself or changes state another query can see. Only
stream-scoped overrides remain elsewhere (``run_to_memory``'s state
partitions, ``q_stream_tws_user_max``'s state-store provider).
:func:`build_session` starts a local context with the same runtime conf
plus the static settings (driver memory, UI off, checkpoint cleaner).

Rule: a Python-worker stage gets one task per Arrow batch of its input
(:func:`python_stage_tasks`), not one per core.
"""

from __future__ import annotations

import atexit
import os
import shutil
import time
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


_OWNER_MARKER = ".owner_pid"
# Fallback age past which even a "live"-pid checkpoint dir is swept —
# guards against pid reuse by an unrelated long-lived process making a
# dead session's dir immortal. Far above any real local session lifetime,
# far below "forever".
_PID_REUSE_AGE_S = 48 * 3600.0


def _pid_alive(pid: int) -> bool:
    """True if a process with ``pid`` exists on this host (signal-0 probe;
    EPERM means it exists but belongs to another user — still alive)."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    except OSError:
        return False
    return True


def _sweep_stale_checkpoints(base: str, max_age_s: float = 3 * 3600) -> None:
    """Delete checkpoint subdirectories left behind by DEAD sessions.

    Spark never removes a session's checkpoint directory (it only creates
    ``<base>/<uuid>`` per context), so crashed or kill -9'd runs leak disk
    forever. Liveness is decided by the ``.owner_pid`` marker each session
    plants in its own dir (mtime alone would delete a CONCURRENT live
    session's dir if it went 3 h without writing — long idle gate,
    debugger pause — which is unrecoverable, since a reliable checkpoint
    truncated the lineage that could rebuild it):

    - marker present, owner pid alive  → kept, unless the dir has sat
      untouched past a generous 48 h fallback gate (pid REUSE can hand a
      dead session's recorded pid to an unrelated long-lived process,
      which would otherwise make the dir immortal);
    - marker present, owner pid dead   → removed immediately (no other
      session can ever read those checkpoints);
    - no marker (foreign / pre-marker) → the original mtime age gate
      (default 3 h, above the longest local job: the ~68 min sf1 gate).

    On a cluster the same hygiene applies to the HDFS/S3 checkpoint path
    (lifecycle rules are the usual tool there; pid probes don't cross
    hosts, so the marker branch is local-mode-only by construction)."""
    try:
        entries = os.listdir(base)
    except OSError:
        return
    cutoff = time.time() - max_age_s
    for name in entries:
        path = os.path.join(base, name)
        try:
            if not os.path.isdir(path):
                continue
            marker = os.path.join(path, _OWNER_MARKER)
            pid: int | None = None
            if os.path.isfile(marker):
                try:
                    with open(marker) as f:
                        pid = int(f.read().strip())
                except (OSError, ValueError):
                    pid = None
            if pid is not None:
                if not _pid_alive(pid):
                    shutil.rmtree(path, ignore_errors=True)
                elif os.path.getmtime(marker) < time.time() - _PID_REUSE_AGE_S:
                    # "alive" may be an unrelated process that recycled the
                    # dead owner's pid. Age is the MARKER's mtime, which the
                    # owner re-touches on every ensure_checkpoint_dir call:
                    # checkpoint writes land in nested rdd-N subdirs and
                    # never bump the base dir's mtime.
                    shutil.rmtree(path, ignore_errors=True)
                continue
            if os.path.getmtime(path) < cutoff:
                shutil.rmtree(path, ignore_errors=True)
        except OSError:
            continue


def ensure_checkpoint_dir(spark: SparkSession) -> str:
    """Set (and hygienically manage) a scratch checkpoint directory on
    ``spark`` if none is configured; return the directory URI.
    ``Dataset.checkpoint`` (the fixpoint loop in operators/graph.py) throws
    without one, so every engine session claims it.

    Hygiene owned here (idempotent; a dir already set — by this helper or
    by the embedding application — is respected untouched):

    - startup sweep of dirs leaked by DEAD sessions (liveness-marker
      gated, see :func:`_sweep_stale_checkpoints`);
    - an ``.owner_pid`` marker in our own dir so concurrent sweeps skip it
      while this process lives;
    - atexit removal of our own dir (covers clean exits; the sweep covers
      crashed ones).

    A cluster deployment instead points ``setCheckpointDir`` at HDFS/S3
    before running queries, and this helper sees it set and does nothing.
    """
    sc = spark.sparkContext
    own = sc.getCheckpointDir()
    if own is not None:
        # Dir already claimed (by an earlier call here or the embedding
        # app). If the liveness marker in it is OURS, re-touch it: every
        # engine session refreshes the owner-asserted heartbeat the 48 h
        # sweep fallback reads, so a long-lived process keeps its dir.
        local = own.removeprefix("file:") if own.startswith("file:") else own
        marker = os.path.join(local, _OWNER_MARKER)
        try:
            with open(marker) as f:
                if int(f.read().strip()) == os.getpid():
                    os.utime(marker)
        except (OSError, ValueError):
            pass  # foreign/absent marker: not ours to touch
        return own
    here = os.path.dirname(os.path.abspath(__file__))
    base = os.path.abspath(os.path.join(here, "..", ".scratch", "checkpoints"))
    _sweep_stale_checkpoints(base)
    sc.setCheckpointDir(base)
    # getCheckpointDir returns a file: URI in local mode — strip the
    # scheme for filesystem work but return the URI Spark reported.
    own = sc.getCheckpointDir()
    local = own.removeprefix("file:") if own.startswith("file:") else own
    try:
        with open(os.path.join(local, _OWNER_MARKER), "w") as f:
            f.write(str(os.getpid()))
    except OSError:
        pass  # marker is an optimization; the age gate still applies
    atexit.register(shutil.rmtree, local, ignore_errors=True)
    return own


def local_cpus() -> str:
    """The N of ``local[N]``: $SPARK_GRAFT_CPUS, else the CPUs this process
    may run on (its affinity mask, which a container's cpuset narrows below
    the host's core count)."""
    return os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def runtime_conf(shuffle_partitions: int) -> dict[str, str]:
    """The engine's runtime SQL conf: what every engine session sets."""
    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Recursive CTEs: the default 1M-row limit is a runaway-recursion
        # guard sized for toy queries — a log-depth hierarchy walk over a
        # real table exceeds it by SF ~0.5 (q_recursive_referral_depth
        # needs ~n·log2(n) rows: ~31M at sf1). The level limit (100)
        # stays: depth, not volume, is what catches a non-terminating
        # recursion.
        "spark.sql.cteRecursionRowLimit": str(1_000_000_000),
        # events.ts ships as parquet TIMESTAMP(NANOS) in some data drops,
        # which Spark reads only as raw int64 (sources/tables.py).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
    }


def python_stage_tasks(spark: SparkSession, rows: int | None) -> int:
    """Tasks for a Python-worker stage (``mapInArrow``, a pandas UDF, the
    state of ``applyInPandasWithState``) over ``rows`` input rows: one per
    Arrow batch, ``ceil(rows / spark.sql.execution.arrow.maxRecordsPerBatch)``,
    at least 1 and at most the context's parallelism, which is also the
    count when ``rows`` is unknown (None). A non-positive batch size means
    no limit: one batch, one task.

    Each pooled Python worker a task occupies lives for the session (about
    134 MB each at sf0.01 on ``local[4]``), and a stage that feeds a
    persisted plan or a stream's state keeps its partition count (AQE
    coalesces neither), so a stage sized by cores fans a few hundred rows
    out over every worker.
    Callers repartition to this count even when it is 1: the exchange is
    what spreads a single-row-group file once the input outgrows a batch.
    """
    cap = spark.sparkContext.defaultParallelism
    if rows is None:
        return cap
    batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    if batch <= 0:
        return 1
    return max(1, min(cap, -(-rows // batch)))


@contextmanager
def engine_session(spark: SparkSession) -> Iterator[SparkSession]:
    """A new session on ``spark``'s context with :func:`runtime_conf` set
    and a checkpoint dir claimed, active for the block (Spark resolves a
    registered Python data source on the active session); the session
    active before is restored on exit. The new session has its own conf,
    temp views and functions, and shares the context and the cache
    manager with ``spark``, which it leaves untouched."""
    session = spark.newSession()
    for k, v in runtime_conf(spark.sparkContext.defaultParallelism).items():
        session.conf.set(k, v)
    ensure_checkpoint_dir(session)
    jvm_class = SparkSession._get_j_spark_session_class(spark._jvm)
    jvm_before, before = jvm_class.getActiveSession(), SparkSession._activeSession
    jvm_class.setActiveSession(session._jsparkSession)
    SparkSession._activeSession = session
    try:
        yield session
    finally:
        if jvm_before.isDefined():
            jvm_class.setActiveSession(jvm_before.get())
        else:
            jvm_class.clearActiveSession()
        SparkSession._activeSession = before


def build_session(
    app_name: str = "als-pyspark-spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """A local ``local[N]`` session (N from :func:`local_cpus`) with the
    runtime conf, the static settings below and ``extra_conf``."""
    cpus = local_cpus()
    conf = {
        **runtime_conf(int(cpus) if cpus.isdigit() else len(os.sched_getaffinity(0))),
        # Local mode: driver heap is the only memory knob. 16g is measured
        # flat vs 8g at sf0.1 while giving sf1+ headroom; 48g measured 2x
        # SLOWER end-to-end (heap commit + GC region overhead dominates).
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "16g"),
        "spark.ui.enabled": "false",
        # Delete a checkpointed RDD's files as soon as the driver GCs its
        # last reference — without this, a session that runs the iterative
        # queries many times (gate sweeps, bench passes) accumulates every
        # superseded round's checkpoint on disk until JVM exit.
        "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
        **(extra_conf or {}),
    }
    b = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # Lineage truncation is what keeps iterative jobs (ALS, KMeans, the
    # fixpoint loops) plannable past ~10 iterations; MLlib's checkpointing
    # SKIPS silently unless a dir exists (the reference declares
    # check_point_interval but never implements it — ALS.py:36,101).
    ensure_checkpoint_dir(spark)
    return spark
