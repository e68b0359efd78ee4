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

Row memo: :func:`table_rows` reads a file's row count from its parquet
footer (``pyarrow.parquet.read_metadata``, no Spark job), memoized under the
same key. :func:`table_python_tasks` sizes a Python stage over a table from
it (``session.python_stage_tasks``). A directory or non-local URI has no
known count (None).
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from als_pyspark_spark.session import python_stage_tasks

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

_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
_MemoKey = tuple[str, int, int, str]
_SCHEMAS: dict[_MemoKey, StructType] = {}
_ROWS: dict[_MemoKey, int] = {}


def _memo_key(spark: SparkSession, path: str) -> _MemoKey | None:
    """The memo key of a local regular file (see the module docstring);
    None for a directory or a non-local URI."""
    if not os.path.isfile(path):
        return None
    st = os.stat(path)
    return (
        os.path.abspath(path),
        st.st_mtime_ns,
        st.st_size,
        spark.conf.get(_NANOS_AS_LONG, "false"),
    )


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring a regular file's schema only
    on its first read (see the module docstring for the memo key)."""
    key = _memo_key(spark, path)
    if key is None:
        return spark.read.parquet(path)
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def table_rows(spark: SparkSession, sf_dir: str, name: str) -> int | None:
    """The row count in table ``name``'s parquet footer, or None when the
    file is not a local regular file (see the module docstring)."""
    key = _memo_key(spark, f"{sf_dir}/{name}.parquet")
    if key is None:
        return None
    if key not in _ROWS:
        _ROWS[key] = pq.read_metadata(key[0]).num_rows
    return _ROWS[key]


def table_python_tasks(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Tasks for a Python-worker stage over table ``name``:
    ``session.python_stage_tasks`` of its :func:`table_rows`."""
    return python_stage_tasks(spark, table_rows(spark, sf_dir, name))


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
