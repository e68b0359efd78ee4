"""Compare two commits on one perfbench workload, in alternating pairs.

Usage: python scripts/ab.py PARENT CHANGE --workload W --budget-s S [--seed0 N]

Exports both commits (``git archive``, the committed files only, as the
benchmark itself runs them) into ``.scratch/ab-<pid>/``, then runs
``perfbench/run.py`` for ``BENCHMARK.json``'s ``run_seconds`` in pairs,
PARENT first in even pairs and CHANGE first in odd ones, with seed
``N + pair`` for both runs of a pair, until the time left is shorter than
the last pair took. Each run's
``.perfbench/result-*.json`` is read back, and the report gives, for every
end-to-end metric in ``BENCHMARK.json``: both medians, both IQRs and in how
many pairs CHANGE was better. ``peak_rss_mb`` also gets its two modes (the
split of all runs that minimizes the within-mode squared deviation) and how
many runs of each commit land in each, so a mode flip is not read as a
regression. The exports are removed on exit, also when a run fails or the
script is interrupted. Nothing under ``perfbench/`` is edited.

Running PARENT against itself (``HEAD HEAD``) gives the noise floor.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tarfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_TIMEOUT_S = 300


def export(rev: str, dest: str) -> str:
    """Extract commit ``rev``'s tree into ``dest``; return its full hash."""
    sha = subprocess.run(
        ["git", "rev-parse", "--verify", f"{rev}^{{commit}}"],
        cwd=ROOT, check=True, capture_output=True, text=True,
    ).stdout.strip()
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
    with tarfile.open(fileobj=archive.stdout, mode="r|") as tar:
        tar.extractall(dest, filter="data")
    if archive.wait() != 0:
        raise RuntimeError(f"git archive {rev} failed")
    return sha


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    """One perfbench run in ``checkout``; its result record."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                          timeout=RUN_TIMEOUT_S)
    path = os.path.join(checkout, ".perfbench", f"result-{workload}-s{seed}.json")
    if proc.returncode != 0 or not os.path.exists(path):
        raise RuntimeError(f"{' '.join(cmd)} in {checkout} exited {proc.returncode}:\n"
                           + proc.stderr[-2000:])
    with open(path) as f:
        return json.load(f)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def two_modes(values: list[float]) -> float:
    """The threshold between two modes: the split of the sorted values that
    minimizes the summed squared deviation from each side's mean."""
    xs = sorted(values)

    def sse(part):
        m = sum(part) / len(part)
        return sum((x - m) ** 2 for x in part)

    best = min(range(1, len(xs)), key=lambda i: sse(xs[:i]) + sse(xs[i:]))
    return (xs[best - 1] + xs[best]) / 2


def report(workload: str, shas: dict, runs: dict, seeds: list[int], metrics: list[dict]) -> str:
    out = []
    load = [x for side in runs.values() for r in side for x in r["load1"]]
    par = sorted({r["parallelism"] for side in runs.values() for r in side})
    fails = {k: (sum(r["failed"] for r in v), sum(r["attempted"] for r in v))
             for k, v in runs.items()}
    procs = {k: statistics.median(len(r["peak_rss_mb"]) for r in v) for k, v in runs.items()}
    out.append(
        f"ab {workload}: parent {shas['parent'][:10]} vs change {shas['change'][:10]}, "
        f"{len(seeds)} pairs (seeds {seeds[0]}-{seeds[-1]}), parallelism {par}, "
        f"load1 {min(load):.1f}-{max(load):.1f}"
    )
    out.append(
        f"failed operations: parent {fails['parent'][0]}/{fails['parent'][1]}, "
        f"change {fails['change'][0]}/{fails['change'][1]}; "
        f"processes per run (median): parent {procs['parent']:g}, change {procs['change']:g}"
    )
    out.append(f"{'metric':<14}{'parent median (IQR)':>22}{'change median (IQR)':>22}"
               f"{'change':>9}{'better':>8}")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        vals = {k: [r["metrics"][name]["value"] for r in v] for k, v in runs.items()}
        (p1, pm, p3), (c1, cm, c3) = quartiles(vals["parent"]), quartiles(vals["change"])
        wins = sum((c < p) if lower else (c > p) for p, c in zip(vals["parent"], vals["change"]))
        out.append(
            f"{name:<14}{f'{pm:.4g} ({p3 - p1:.3g})':>22}{f'{cm:.4g} ({c3 - c1:.3g})':>22}"
            f"{(cm - pm) / pm:>+9.1%}{f'{wins}/{len(seeds)}':>8}"
        )
    rss = {k: [r["metrics"]["peak_rss_mb"]["value"] for r in v] for k, v in runs.items()}
    pooled = rss["parent"] + rss["change"]
    if len(set(pooled)) > 1:
        cut = two_modes(pooled)
        counts = {k: (sum(x < cut for x in v), sum(x >= cut for x in v)) for k, v in rss.items()}
        out.append(
            f"peak_rss_mb modes split at {cut:.0f} MB (lower/upper): "
            f"parent {counts['parent'][0]}/{counts['parent'][1]}, "
            f"change {counts['change'][0]}/{counts['change'][1]}"
        )
    for k in ("parent", "change"):
        out.append(f"peak_rss_mb {k}: " + ", ".join(f"{x:.0f}" for x in rss[k]))
    return "\n".join(out)


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--budget-s", type=float, required=True)
    ap.add_argument("--seed0", type=int, default=1)
    args = ap.parse_args(argv)

    base = os.path.join(ROOT, ".scratch", f"ab-{os.getpid()}")
    # SIGTERM unwinds like Ctrl-C, so the exports are removed either way.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        dirs = {k: os.path.join(base, k) for k in ("parent", "change")}
        shas = {k: export(getattr(args, k), d) for k, d in dirs.items()}
        runs: dict[str, list[dict]] = {"parent": [], "change": []}
        seeds: list[int] = []
        t0, last = time.monotonic(), 0.0
        while not seeds or time.monotonic() - t0 + last <= args.budget_s:
            pair, p0 = len(seeds), time.monotonic()
            seed = args.seed0 + pair
            order = ("parent", "change") if pair % 2 == 0 else ("change", "parent")
            for k in order:
                runs[k].append(run_once(dirs[k], args.workload, seed, bench["run_seconds"]))
                m = runs[k][-1]["metrics"]
                print(f"# pair {pair} seed {seed} {k}: "
                      + " ".join(f"{n}={v['value']:.4g}" for n, v in m.items()),
                      file=sys.stderr, flush=True)
            seeds.append(seed)
            last = time.monotonic() - p0
        print(report(args.workload, shas, runs, seeds, bench["end_to_end"]))
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
