"""Plan-quality audit: print a one-line physical summary per registered
query (join strategies, shuffle-exchange count, pushed filters on scans).

Usage: python scripts/explain_audit.py [--formatted DIR] [sf_dir] [query ...]

``--formatted DIR`` also writes each audited query's
``explain("formatted")`` text to ``DIR/<query>.txt`` (for example one
directory before and one after an optimization, then ``diff -r``).

This is the per-operator review loop the 100 TB design demands: a query
whose summary shows an unexpected SortMergeJoin where a broadcast fits, or
N exchanges where the partitioning should have been reused, gets fixed —
tests/test_plans.py then pins the fixed shape.

Every query is audited through its ``build``, the plan that runs: a
query whose build runs a data-dependent driver loop (k-core peeling,
converged PageRank, BPE training) returns the rows that loop collected,
so its line reads ``exchanges= 0 joins=-``.

scripts/plan_baseline.txt holds a snapshot of this output (sf0.001); diff
against a fresh run to catch plan drift — an exchange-count jump on an
untouched query is how the CC exponential-lineage bug (3,133 exchanges)
was caught. tests/test_plans.py diffs :func:`audit_line` against it for a
set of queries.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from als_pyspark_spark.plans.inspect import (
    exchange_count,
    formatted,
    join_kinds,
    pushed_filters,
)
from als_pyspark_spark.registry import Query, load_all_queries
from als_pyspark_spark.runner import QueryError, built
from als_pyspark_spark.session import build_session


def audit_line(spark, q: Query, sf_dir: str, formatted_dir: str | None = None) -> str:
    """``q``'s one-line plan summary, as plan_baseline.txt holds it, and
    with ``formatted_dir`` its formatted plan in ``<name>.txt`` there; a
    query that fails yields an ERROR line, so the audit keeps going."""
    try:
        with built(spark, q, sf_dir) as df:
            if formatted_dir is not None:
                with open(os.path.join(formatted_dir, f"{q.name}.txt"), "w") as f:
                    f.write(formatted(df))
            joins = join_kinds(df)
            nex = exchange_count(df)
            npush = sum("[]" not in p for p in pushed_filters(df))
    except QueryError as e:
        return f"{q.name:42s} ERROR {str(e.__cause__)[:120]}"
    return (
        f"{q.name:42s} exchanges={nex:2d} "
        f"joins={','.join(joins) if joins else '-':60s} "
        f"scans_with_pushdown={npush}"
    )


def main() -> int:
    formatted_dir = None
    if sys.argv[1:2] == ["--formatted"]:
        formatted_dir = sys.argv.pop(2)
        del sys.argv[1]
        os.makedirs(formatted_dir, exist_ok=True)
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = build_session("explain-audit")
    spark.sparkContext.setLogLevel("ERROR")

    for name, q in sorted(load_all_queries().items()):
        if not only or name in only:
            print(audit_line(spark, q, sf_dir, formatted_dir))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
