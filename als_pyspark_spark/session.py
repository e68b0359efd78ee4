"""SparkSession factory tuned for this engine.

Defaults are chosen for a single local box but every knob is the one you
would also set on a 1000-executor cluster:

- AQE on (runtime re-plan: coalesce shuffle partitions, skew-join split).
- Arrow on (vectorized pandas UDF / toPandas transfers).
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle regardless of host TZ.
- shuffle.partitions sized to cores locally; on a real cluster this scales
  with executors (AQE coalesces the excess, so over-provisioning is safe).
"""

from __future__ import annotations

import atexit
import os
import shutil
import time

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
                    # "alive" may be an unrelated process that recycled
                    # the dead owner's pid — past the 48 h fallback gate
                    # no genuine local session can still own this dir.
                    # Age is judged from the MARKER's mtime, which the
                    # owner re-touches on every ensure_checkpoint_dir
                    # call: checkpoint WRITES land in nested rdd-N subdirs
                    # and never bump the base dir's mtime, so a live long
                    # session would look idle by dir mtime. Liveness is
                    # owner-asserted, not inferred from write patterns.
                    shutil.rmtree(path, ignore_errors=True)
                continue
            if os.path.getmtime(path) < cutoff:
                shutil.rmtree(path, ignore_errors=True)
        except OSError:
            continue


def ensure_checkpoint_dir(spark: SparkSession) -> str:
    """Set (and hygienically manage) a scratch checkpoint directory on
    ``spark`` if none is configured; return the directory URI.

    Session-SELF-SUFFICIENT on purpose: callers that need
    ``Dataset.checkpoint`` (the connected-components loop in
    operators/graph.py) invoke this lazily on the DataFrame's OWN session,
    so the iterative queries work on any externally-built bare
    SparkSession, where ``Dataset.checkpoint`` would otherwise throw for
    want of a dir. Same pattern as the per-query UTC pin in
    sources/tables.py.

    Hygiene owned here (idempotent; a dir already set — by this helper,
    by ``build_session``, or by the embedding application — is respected
    untouched):

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
        # Dir already claimed (by an earlier call here, build_session, or
        # the embedding app). If the liveness marker in it is OURS,
        # re-touch it: every query that lazily claims checkpointing
        # refreshes the owner-asserted heartbeat the 48 h sweep fallback
        # reads, so a long-lived session that keeps working keeps its dir.
        local = own.removeprefix("file:") if own.startswith("file:") else own
        marker = os.path.join(local, _OWNER_MARKER)
        try:
            with open(marker) as f:
                if int(f.read().strip()) == os.getpid():
                    os.utime(marker)
        except (OSError, ValueError):
            pass  # foreign/absent marker: not ours to touch
        return own
    else:
        base = os.path.abspath(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "..",
                ".scratch",
                "checkpoints",
            )
        )
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


def build_session(
    app_name: str = "als-pyspark-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = local_cpus()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = (
            int(cpus) if cpus.isdigit() else len(os.sched_getaffinity(0))
        )

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Local mode: driver heap is the only memory knob. 16g is measured
        # flat vs 8g at sf0.1 while giving sf1+ headroom; 48g measured 2x
        # SLOWER end-to-end (heap commit + GC region overhead dominates).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Recursive CTEs: the default 1M-row limit is a runaway-recursion
        # guard sized for toy queries — a log-depth hierarchy walk over a
        # real table exceeds it by SF ~0.5 (q_recursive_referral_depth
        # needs ~n·log2(n) rows: ~31M at sf1). The level limit (100)
        # stays: depth, not volume, is what catches a non-terminating
        # recursion.
        .config("spark.sql.cteRecursionRowLimit", str(1_000_000_000))
        # Delete a checkpointed RDD's files as soon as the driver GCs its
        # last reference — without this, a session that runs the iterative
        # CC queries many times (gate sweeps, bench passes) accumulates
        # every superseded round's checkpoint on disk until JVM exit.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # Checkpointing support (reference declares check_point_interval but
    # never implements it — ALS.py:36,101 defect; MLlib's works but SKIPS
    # silently unless a checkpoint dir exists). Lineage truncation is what
    # keeps iterative jobs (ALS, KMeans) plannable past ~10 iterations.
    # The wiring lives in ensure_checkpoint_dir so queries that NEED a dir
    # (the CC loop) can also claim one lazily on a bare external session.
    ensure_checkpoint_dir(spark)
    return spark
