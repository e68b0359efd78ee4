"""Capture .explain("formatted") for named queries into files.

Usage: python scripts/capture_plans.py <outdir> <suffix> <query> [query ...]

Writes <outdir>/<query>_<suffix>.txt per query (e.g. suffix 'before' /
'after' around an optimization). Queries whose build runs a data-dependent
driver loop are captured through their lazy ``Query.plan``, so the file
shows the distributed plan, not the rows the loop returns.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from als_pyspark_spark.registry import load_all_queries
from als_pyspark_spark.runner import built
from als_pyspark_spark.session import build_session


def main() -> int:
    outdir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    spark = build_session("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    queries = load_all_queries()
    for name in names:
        buf = io.StringIO()
        with built(spark, queries[name], sf_dir, plan=True) as df, redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
