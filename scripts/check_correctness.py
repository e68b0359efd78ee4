"""Local mirror of the driver's correctness gate: run every registry query
on Spark and its DuckDB oracle side-by-side, compare row count, column
names, and order-insensitive values.

Usage: python scripts/check_correctness.py [--bare] [sf_dir] [query ...]

``--bare`` builds a BARE SparkSession (``SparkSession.builder.master(...)``
with no factory conf at all) instead of ``build_session`` — the shape of
an externally built session, on the same ``local[N]`` rule. Every query
runs on an engine session (``session.engine_session``) whatever the
caller built, so results and speed must match the plain run; a query that
leans on ``build_session`` conf the engine session does not carry passes
there and fails here, and this flag is how that property is gated locally.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from als_pyspark_spark.canon import assert_scalar_schema, compare_result
from als_pyspark_spark.registry import load_all_queries, requirements_met
from als_pyspark_spark.runner import QueryError, built
from als_pyspark_spark.session import build_session, local_cpus
from als_pyspark_spark.sources.tables import TABLES


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--bare"]
    bare = "--bare" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])

    if bare:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master(f"local[{local_cpus()}]")
            .appName("check-correctness-bare")
            .getOrCreate()
        )
    else:
        spark = build_session("check-correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = []
    for name, q in sorted(load_all_queries().items()):
        if only and name not in only:
            continue
        if not requirements_met(q):
            # same rule the driver sweep view applies (__spark_entry__):
            # availability-gated queries are a deterministic skip, not a red
            # row, where their optional dependency is absent.
            print(f"skip(requires {','.join(q.requires)})  {name}")
            continue
        t0 = time.time()
        try:
            with built(spark, q, sf_dir) as sdf:
                assert_scalar_schema(sdf.schema, name)
                s_rows = [tuple(r) for r in sdf.collect()]
                s_cols = sdf.columns
        except QueryError as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            continue
        if q.oracle is None:
            print(f"ok(rows-only)  {name}: {len(s_rows)} rows  [{time.time()-t0:.1f}s]")
            continue
        try:
            # fetchdf(), not fetchall(): the driver compares through pandas,
            # so the oracle side must cross the same dtype boundary (DuckDB
            # HUGEINT -> pandas float64 vs Spark int64 was a real mismatch).
            d_df = con.execute(q.oracle).fetchdf()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"FAIL  {name}: duckdb error: {str(e)[:300]}")
            continue
        try:
            # ONE compare path shared with tests/test_correctness.py
            # (canon.compare_result) so the two mirrors cannot drift.
            compare_result(s_rows, s_cols, d_df, name)
        except (AssertionError, TypeError) as e:
            failures.append((name, str(e)))
            print(f"FAIL  {name}: {str(e)[:300]}")
        else:
            print(f"OK    {name}: {len(s_rows)} rows match  [{time.time()-t0:.1f}s]")

    print(f"\n{len(failures)} failures")
    for n, msg in failures:
        print(f"  {n}: {msg[:400]}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
