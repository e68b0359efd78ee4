"""Plan-quality audit: print a one-line physical summary per registered
query (join strategies, shuffle-exchange count, pushed filters on scans).

Usage: python scripts/explain_audit.py [sf_dir] [query ...]

This is the per-operator review loop the 100 TB design demands: a query
whose summary shows an unexpected SortMergeJoin where a broadcast fits, or
N exchanges where the partitioning should have been reused, gets fixed —
tests/test_plans.py then pins the fixed shape.

Queries whose build runs on the driver are audited through their lazy
``Query.plan``, so the line shows the distributed plan, not the bounded
local relation the build returns.

scripts/plan_baseline.txt holds a snapshot of this output (sf0.001); diff
against a fresh run to catch plan drift — an exchange-count jump on an
untouched query is how the CC exponential-lineage bug (3,133 exchanges)
was caught.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from als_pyspark_spark.plans.inspect import exchange_count, join_kinds, pushed_filters
from als_pyspark_spark.registry import load_all_queries
from als_pyspark_spark.runner import QueryError, built
from als_pyspark_spark.session import build_session


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = build_session("explain-audit")
    spark.sparkContext.setLogLevel("ERROR")

    for name, q in sorted(load_all_queries().items()):
        if only and name not in only:
            continue
        try:
            with built(spark, q, sf_dir, plan=True) as df:
                joins = join_kinds(df)
                nex = exchange_count(df)
                npush = sum("[]" not in p for p in pushed_filters(df))
            print(
                f"{name:42s} exchanges={nex:2d} "
                f"joins={','.join(joins) if joins else '-':60s} "
                f"scans_with_pushdown={npush}"
            )
        except QueryError as e:  # the audit keeps going
            print(f"{name:42s} ERROR {str(e.__cause__)[:120]}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
