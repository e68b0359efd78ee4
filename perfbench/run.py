"""Benchmark of the query engine and the ALS recommender.

    python3 perfbench/run.py --workload {relational,iterative_stream,als}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout. One closed-loop client in one process runs
one operation at a time, back to back, on ``local[<cores>]`` over the sf0.01
tables stored beside this file (the ALS ratings are generated from the seed).

A run sets up (session plus one scan of every input table), runs one warm-up
pass in which every output is checked, then times passes until ``--seconds``
have been measured, clearing every cache between passes. The last line of
stdout is one JSON object: with ``--trace 0`` the end-to-end metrics, with
``--trace 1`` the per-layer metrics of a traced run (see ``tracing.py``),
whose spans are written to ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import time

PROCESS_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF_DIR = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("relational", "iterative_stream", "als")
DRIVER_MEMORY_MB = 2048
# Passes timed at least, whatever --seconds says. Two give the short
# workloads a median; one ALS pass (about 12 s) already outlasts --seconds,
# and a second would not fit the benchmark's time budget.
MIN_PASSES = {"relational": 2, "iterative_stream": 2, "als": 1}
DEADLINE_S = 170.0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_environment(run_dir: str) -> dict:
    """Pin the session environment from the harness, so a run does not
    depend on the caller's shell or working directory."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    driver_mb = min(DRIVER_MEMORY_MB, total_mb // 2)
    local, tmp = os.path.join(run_dir, "local"), os.path.join(run_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        {
            # Python workers import the package from any working directory.
            "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_DRIVER_MEMORY": f"{driver_mb}m",
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            # The launcher JVM that builds the spark-submit command line.
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        }
    )
    return {"cores": cores, "driver_memory_mb": driver_mb, "tmp": tmp}


def session_conf(env: dict) -> dict:
    java = [
        # Keep the JVM's scratch files, perf data included, in the checkout.
        f"-Djava.io.tmpdir={env['tmp']}",
        "-XX:-UsePerfData",
        # Fix the young generation. G1 otherwise sizes it, and with it the
        # heap a run touches, from its pause times, and peak RSS varied by
        # 15-25% between runs of one workload. Fixed, peak RSS follows what
        # the engine keeps live: on a 4-vCPU VM a 4M-row table cached in one
        # relational query raised it from about 0.93 to 2.3 GB.
        "-Xmn256m",
    ]
    return {"spark.ui.showConsoleProgress": "false", "spark.driver.extraJavaOptions": " ".join(java)}


class Processes:
    """The JVM the session launched and the Python workers under it."""

    def __init__(self, spark):
        self.jvm = spark.sparkContext._gateway.proc
        self.seen: set[int] = set()
        self.names: dict[int, str] = {}

    def tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    with open(f"/proc/{entry}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                children.setdefault(ppid, []).append(int(entry))
        out, todo = [], [self.jvm.pid]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        self.seen.update(out)
        return out

    def reset_peaks(self) -> None:
        """Reset each live process's VmHWM to its current RSS, so the peaks
        read later are those of the timed passes only."""
        for pid in self.tree():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                continue

    def peak_rss_mb(self, peaks: dict[int, float]) -> None:
        """Fold each live process's VmHWM (its own peak RSS) into ``peaks``."""
        for pid in self.tree():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            peaks[pid] = max(peaks.get(pid, 0.0), int(line.split()[1]) / 1024.0)
                with open(f"/proc/{pid}/comm") as f:
                    self.names[pid] = f.read().strip()
            except OSError:
                continue

    def stop(self, timeout: float = 30.0) -> None:
        """Close the JVM's stdin (the gateway exits on EOF) and wait for it
        and every worker seen under it; kill what outlives the timeout."""
        self.tree()
        try:
            self.jvm.stdin.close()
        except OSError:
            pass
        deadline = time.monotonic() + timeout
        try:
            self.jvm.wait(timeout=timeout)
        except Exception:
            self.jvm.kill()
            self.jvm.wait()
        for pid in self.seen - {self.jvm.pid}:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass


class Env:
    """What an operation needs: the session, the tables, the oracle."""

    def __init__(self, spark, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self._oracle = None

    @property
    def oracle(self):
        if self._oracle is None:
            from checks import Oracle

            self._oracle = Oracle(self.sf_dir)
        return self._oracle

    def close(self) -> None:
        if self._oracle is not None:
            self._oracle.close()
            self._oracle = None


def isolate(spark, pipeline) -> None:
    """Start every pass from the same state: no model memo, no fixture
    statistics memo, no deferred or session-lifetime cache left behind."""
    from als_pyspark_spark.caching import release_deferred
    from als_pyspark_spark.dedup import queries as dedup_queries
    from als_pyspark_spark.ml import queries as ml_queries

    if pipeline is not None:
        pipeline.release()
    ml_queries._TRAINED.clear()
    dedup_queries._CLONE_RATIO.clear()
    release_deferred()
    spark.catalog.clearCache()


def run_pass(env, ops, tracer=None, pass_span=None) -> tuple[float, dict[str, float], int]:
    """One timed pass: returns (wall, per-operation wall, operations failed)."""
    from als_pyspark_spark.caching import release_deferred

    from workloads import untraced

    walls, failed = {}, 0
    phase = tracer.phase if tracer else untraced
    t0 = time.perf_counter()
    for op in ops:
        result = None
        if tracer:
            tracer.op_begin(env.spark, op.name, pass_span)
        a = time.perf_counter()
        try:
            result = op.run(env, phase)
        except Exception:
            failed += 1
            print(f"# FAIL {op.name}\n{traceback.format_exc()}", file=sys.stderr)
        walls[op.name] = time.perf_counter() - a
        released = release_deferred()
        if tracer:
            tracer.op_end(env.spark, result, released)
    return time.perf_counter() - t0, walls, failed


def check_pass(env, ops) -> int:
    """The warm-up pass: run every operation once and check its output."""
    from als_pyspark_spark.caching import release_deferred

    failed = 0
    for op in ops:
        try:
            op.check(env)
            print(f"# ok {op.name}", file=sys.stderr)
        except Exception:
            failed += 1
            print(f"# FAIL {op.name}\n{traceback.format_exc()}", file=sys.stderr)
        release_deferred()
    return failed


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "als_pyspark_spark")) or not os.path.isdir(SF_DIR):
        print(f"perfbench: no engine package or tables under {ROOT}", file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(out_dir, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env_info = configure_environment(run_dir)
    load1_start = os.getloadavg()[0]

    sys.path.insert(0, ROOT)
    from tracing import PER_LAYER, Tracer

    tracer = Tracer(run_dir) if args.trace else None
    if tracer:
        tracer.install_collected_wrapper()

    from als_pyspark_spark.session import build_session

    spark = build_session("perfbench", extra_conf=session_conf(env_info))
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.monotonic() - PROCESS_START
    procs = Processes(spark)

    def watchdog():
        print("# perfbench: deadline passed, stopping", file=sys.stderr)
        procs.jvm.kill()
        os._exit(3)

    timer = threading.Timer(DEADLINE_S - session_s, watchdog)
    timer.daemon = True
    timer.start()
    try:
        record = measure(args, spark, procs, tracer, session_s, run_dir)
    finally:
        spark.stop()
        procs.stop()
        timer.cancel()

    passes = record["passes"]
    if tracer:
        metrics = tracer.finish(record["setup"], env_info["cores"])
        result = {k: {"value": metrics[k], "unit": PER_LAYER[k][0]} for k in PER_LAYER}
    else:
        untraced = [p for p in passes if not p["traced"]]
        op_medians = [
            statistics.median(p["ops"][name] for p in untraced) for name in untraced[0]["ops"]
        ]
        result = {
            "setup_s": {"value": record["setup_s"], "unit": "s"},
            "pass_s": {"value": statistics.median(p["wall"] for p in untraced), "unit": "s"},
            "op_geomean_s": {
                "value": math.exp(sum(math.log(v) for v in op_medians) / len(op_medians)),
                "unit": "s",
            },
            "peak_rss_mb": {"value": sum(p["mb"] for p in record["peak_rss_mb"]), "unit": "MB"},
        }
    record.update(
        parallelism=env_info["cores"],
        driver_memory_mb=env_info["driver_memory_mb"],
        load1=[load1_start, os.getloadavg()[0]],
        metrics=result,
    )
    name = f"{'trace' if tracer else 'result'}-{args.workload}-s{args.seed}.json"
    if tracer:
        tracer.write(os.path.join(out_dir, name), record)
    else:
        with open(os.path.join(out_dir, name), "w") as f:
            json.dump(record, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    failed, attempted = record["failed"], record["attempted"]
    print(
        f"# {args.workload} seed={args.seed} parallelism={env_info['cores']} "
        f"driver_memory={env_info['driver_memory_mb']}m load1={record['load1']} "
        f"passes={len(passes)} failed={failed}/{attempted}",
        file=sys.stderr,
    )
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": result}
        )
    )
    return 0


def measure(args, spark, procs, tracer, session_s: float, run_dir: str) -> dict:
    """Set up the workload, run the checked warm-up pass, then the timed
    passes; return the run's record."""
    from als_pyspark_spark.registry import load_all_queries
    from als_pyspark_spark.sources.tables import load_table

    import workloads as W

    env = Env(spark, SF_DIR)
    queries = load_all_queries()
    pipeline = None
    gen_s = 0.0
    scan0 = time.monotonic()
    if args.workload == "als":
        path = os.path.join(run_dir, "ratings.parquet")
        n_items = W.write_ratings(args.seed, SF_DIR, path)
        gen_s = time.monotonic() - scan0
        pipeline = W.AlsPipeline(env, path, n_items)
        ops = pipeline.ops()
        spark.read.parquet(path).write.format("noop").mode("overwrite").save()
    else:
        names = W.RELATIONAL if args.workload == "relational" else W.ITERATIVE_STREAM
        ops = W.query_ops(names, queries, args.seed)
    for t in W.TABLES[args.workload]:
        load_table(spark, SF_DIR, t).write.format("noop").mode("overwrite").save()
    now = time.monotonic()
    # Generating the ALS input is the benchmark's work, not the engine's.
    setup = {"session_s": session_s, "warm_scan_s": now - scan0 - gen_s, "generate_s": gen_s}
    setup_s = now - PROCESS_START - gen_s

    c0 = time.monotonic()
    failed = check_pass(env, ops)
    check_s = time.monotonic() - c0
    attempted = len(ops)
    isolate(spark, pipeline)
    env.close()

    peaks: dict[int, float] = {}
    procs.reset_peaks()
    passes = []
    measured = 0.0
    min_passes = max(MIN_PASSES[args.workload], 3 if tracer else 1)
    while len(passes) < min_passes or measured < args.seconds:
        # A traced run alternates untraced and traced passes, untraced first
        # and last, so the ratio of their walls (the tracing overhead) is
        # not skewed by the warm-up still fading over the first passes.
        traced = tracer is not None and len(passes) % 2 == 1
        if tracer:
            tracer.listen(spark, traced)
            span = tracer.pass_begin(len(passes))
        wall, walls, bad = run_pass(env, ops, tracer if traced else None, span if traced else None)
        if tracer:
            tracer.pass_end(span, wall, traced)
        isolate(spark, pipeline)
        procs.peak_rss_mb(peaks)
        passes.append({"wall": wall, "traced": traced, "ops": walls})
        attempted += len(ops)
        failed += bad
        measured += wall
    if tracer:
        tracer.listen(spark, False)
    return {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "setup": setup,
        "setup_s": setup_s,
        "check_s": check_s,
        "passes": passes,
        "attempted": attempted,
        "failed": failed,
        "peak_rss_mb": [{"pid": p, "comm": procs.names.get(p), "mb": v} for p, v in peaks.items()],
    }


if __name__ == "__main__":
    raise SystemExit(main())
