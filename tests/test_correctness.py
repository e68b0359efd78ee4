"""Oracle gate over the full registry — pytest mirror of
scripts/check_correctness.py (one test per query, so failures localize).

Canonicalization mirrors the DRIVER's (pandas ``sort_values``), not a
repr-sort: see als_pyspark_spark/canon.py for why.
"""

from __future__ import annotations

import pytest

from als_pyspark_spark.canon import assert_scalar_schema, compare_result
from als_pyspark_spark.registry import load_all_queries, requirements_met
from als_pyspark_spark.runner import built

QUERIES = load_all_queries()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query(name, spark, sf_dir, duck):
    q = QUERIES[name]
    if not requirements_met(q):
        pytest.skip(f"optional dependency absent: {q.requires}")
    with built(spark, q, sf_dir) as sdf:
        # Driver-contract lint: complex top-level output types break the
        # driver's canonicalizer even when the values are right.
        assert_scalar_schema(sdf.schema, name)
        s_rows = [tuple(r) for r in sdf.collect()]
    if q.oracle is None:
        # rows-only contract: must run and have a stable schema
        assert sdf.schema is not None
        return
    # fetchdf(), not fetchall(): the driver compares through pandas, and
    # fetchall()'s Python ints erase a dtype divergence class (DuckDB
    # HUGEINT -> pandas float64 vs Spark int64).
    # The compare itself lives in canon.compare_result — ONE path shared
    # with scripts/check_correctness.py so the mirrors cannot drift.
    compare_result(s_rows, sdf.columns, duck.execute(q.oracle).fetchdf(), name)
