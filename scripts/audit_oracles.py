"""Driver-canonicalizer hazard audit.

The external correctness sweep compares Spark and DuckDB results as *typed
pandas frames* (sorted by column name, rows sorted, values hashed).  Two
hazard classes survive the laxer Python-value comparison in
check_correctness.py but fail the typed compare:

1. dtype drift — e.g. DuckDB SUM(int) → HUGEINT (object dtype) vs Spark
   BIGINT (int64); DECIMAL vs float64.
2. unhashable cells — ARRAY/MAP/STRUCT outputs become Python lists/dicts/
   np.ndarrays that pandas cannot sort or hash.

Usage: python scripts/audit_oracles.py [sf_dir] [query ...]
Exit 1 if any hazard found.
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from als_pyspark_spark.registry import load_all_queries
from als_pyspark_spark.runner import QueryError, built
from als_pyspark_spark.session import build_session
from als_pyspark_spark.sources.tables import TABLES


def cell_hazards(df):
    """Column names whose cells are unhashable (list/dict/ndarray/set).

    Scans EVERY cell of object columns: a NULL-leading or mixed-type column
    can hide its first unhashable value arbitrarily deep, and this audit
    exists precisely to catch what spot checks miss."""
    bad = []
    for c in df.columns:
        col = df[c]
        if col.dtype == object:
            hit = next(
                (
                    v
                    for v in col
                    if isinstance(v, (list, dict, set, np.ndarray, bytearray))
                ),
                None,
            )
            if hit is not None:
                bad.append((c, type(hit).__name__))
    return bad


def norm_dtype(dt) -> str:
    """Bucket dtypes the way a typed row-hash would distinguish them."""
    s = str(dt)
    if s.startswith("datetime64"):
        return "datetime"
    if s in ("float32", "float64"):
        return "float"
    if s in ("int8", "int16", "int32", "int64", "uint8", "uint16", "uint32", "uint64"):
        return "int"
    return s  # object, bool, category, ...


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    spark = build_session("audit-oracles")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    n_hazard = 0
    for name, q in load_all_queries().items():
        if only and name not in only:
            continue
        try:
            with built(spark, q, sf_dir) as sdf:
                spdf = sdf.toPandas()
        except QueryError as e:
            print(f"HAZARD {name}: spark error: {str(e)[:200]}")
            n_hazard += 1
            continue
        probs = [f"spark[{c}]={t}" for c, t in cell_hazards(spdf)]
        if q.oracle is not None:
            try:
                odf = con.execute(q.oracle).df()
            except Exception as e:
                print(f"HAZARD {name}: oracle error: {str(e)[:200]}")
                n_hazard += 1
                continue
            probs += [f"oracle[{c}]={t}" for c, t in cell_hazards(odf)]
            s_cols = sorted(spdf.columns)
            o_cols = sorted(odf.columns)
            if s_cols != o_cols:
                probs.append(f"cols spark={s_cols} oracle={o_cols}")
            else:
                for c in s_cols:
                    sd, od = norm_dtype(spdf[c].dtype), norm_dtype(odf[c].dtype)
                    if sd != od:
                        probs.append(
                            f"dtype[{c}] spark={spdf[c].dtype} oracle={odf[c].dtype}"
                        )
        if probs:
            n_hazard += 1
            print(f"HAZARD {name}: " + "; ".join(probs))
        else:
            print(f"ok     {name}")

    print(f"\n{n_hazard} hazardous queries")
    spark.stop()
    return 1 if n_hazard else 0


if __name__ == "__main__":
    raise SystemExit(main())
