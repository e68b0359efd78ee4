"""Parquet table sources (reference S1/S2, SURVEY.md §2.1).

The reference's only source is ``sc.textFile`` + hand parsing
(reference ALS.py:590-592). Here every table is a parquet scan planned by
Catalyst: column pruning and predicate pushdown reach the scan for free, and
the vectorized reader keeps decode JVM-side.

Scale notes (100 TB design):
- Scans stay declarative (``spark.read.parquet``) so partition pruning works
  when tables are directory-partitioned; nothing here collects to the driver.
- ``spark.sql.files.maxPartitionBytes`` (default 128 MiB) controls scan
  parallelism — at 100 TB that is ~800k tasks, which is the correct shape for
  a 1000-executor cluster; no per-table hand-tuning is needed.

Schema memo: a schema-less ``spark.read.parquet`` runs a one-task Spark job
that reads the file's footer (85-100 ms on a 4-core box, against 11-18 ms for
a read with a declared schema), and most queries load several tables. So the
first load of a file infers its schema and every later load declares it. The
memo maps ``(absolute path, st_mtime_ns, st_size, nanosAsLong)`` to the
inferred ``StructType``:
- mtime and size make a rewritten file infer again;
- ``spark.sql.legacy.parquet.nanosAsLong`` is in the key because it changes
  what inference returns for the same file: a TIMESTAMP(NANOS) column infers
  as ``LongType`` with it on and fails to infer with it off. Declared with
  it off, that ``LongType`` schema would silently read the raw nanos where
  inference fails, so a schema inferred under one value is never declared
  under the other.
Only schemas are kept, never DataFrames, so the memo is not tied to a
session. Directories and non-local URIs (any path that is not a local regular
file) are inferred on every load, as Spark's own listing decides what they
contain.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
_SCHEMAS: dict[tuple[str, int, int, str], StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring a regular file's schema only
    on its first read (see the module docstring for the memo key)."""
    if not os.path.isfile(path):  # a directory or a non-local URI
        return spark.read.parquet(path)
    st = os.stat(path)
    key = (
        os.path.abspath(path),
        st.st_mtime_ns,
        st.st_size,
        spark.conf.get(_NANOS_AS_LONG, "false"),
    )
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS) in some data
        # drops and TIMESTAMP(MICROS) (no tz → NTZ) in others, so the
        # loader adapts to the file rather than pinning one physical type:
        #   - nanos  → read the raw int64 (the engine session's nanosAsLong)
        #     and truncate with exact integer division to micros,
        #     bit-identical to DuckDB's own nanos→micros truncation;
        #   - micros NTZ → cast to session-local TIMESTAMP; the engine
        #     session's timezone is UTC, so the cast is identity on the
        #     underlying micros and matches DuckDB's naive TIMESTAMP.
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if isinstance(ts_type, T.TimestampNTZType):
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read_parquet(spark, f"{sf_dir}/{name}.parquet")


def events_ts_physical_type(spark: SparkSession, sf_dir: str):
    """The parquet-level type Spark infers for events.ts (with nanosAsLong
    on): LongType for TIMESTAMP(NANOS) files, TimestampNTZType for
    TIMESTAMP(MICROS) files. Streaming readers need it to pin a matching
    explicit schema (file-source streams cannot infer)."""
    return _read_parquet(spark, f"{sf_dir}/events.parquet").schema["ts"].dataType


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so spark.sql(...) works 1:1 with
    the DuckDB oracle's pre-registered views."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
