"""One-pass timing of every registry query with the noop sink.

Usage: python scripts/time_registry.py [sf_dir] [query ...]

The hotspot map: bench.py times only the 53 headline queries, but
"optimize every operator" needs per-query wall for the full registry.
One pass, noop sink, warm session (tables pre-counted so the first query
doesn't pay JVM/codegen warmup), job descriptions set by the runner so
the UI/eventlog is attributable. Prints one line per query (seconds,
name) sorted by cost desc at the end.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from als_pyspark_spark.registry import load_all_queries, requirements_met
from als_pyspark_spark.runner import QueryError, force
from als_pyspark_spark.session import build_session
from als_pyspark_spark.sources.tables import TABLES, load_table


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.1"
    only = set(argv[1:])
    spark = build_session("time-registry")
    spark.sparkContext.setLogLevel("ERROR")
    for t in TABLES:
        load_table(spark, sf_dir, t).count()
    out: dict[str, float] = {}
    for name, q in load_all_queries().items():
        if only and name not in only:
            continue
        if not requirements_met(q):
            continue
        try:
            out[name] = round(force(spark, q, sf_dir), 3)
        except QueryError as exc:  # keep the map complete even if one breaks
            out[name] = -1.0
            print(f"# ERROR {exc}", file=sys.stderr)
        print(f"# {name}: {out[name]:.2f}s", file=sys.stderr)
    ok = {n: dt for n, dt in out.items() if dt >= 0}
    errors = sorted(n for n, dt in out.items() if dt < 0)
    for name, dt in sorted(ok.items(), key=lambda kv: -kv[1]):
        print(f"{dt:8.3f}  {name}")
    for name in errors:
        print(f"   ERROR  {name}")
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "total": round(sum(ok.values()), 2),
                "n_ok": len(ok),
                "errors": errors,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
