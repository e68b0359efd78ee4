"""The one cache lifetime for queries that persist intermediates, and the
one way driver-side rows become a DataFrame.

Queries that ``persist()`` an intermediate (an edge list both sides of a
self-join read, a bucket table reused across phases) must not leak that
cache past their own lifetime: Spark's cache lives in the state every
session of the context shares, so a cache one query kept would be read
warm, or dropped, by the next (the reference's C1-C3
persist→materialize→unpersist discipline, which its training loop
applies per iteration, applies per QUERY here).

One rule covers every such cache: every persist in the package is
``deferred(x.persist())``. The query returns its plan unrun, every
reader within the query shares the cache, and the consumer calls
:func:`release_deferred` once it is done with the result
(``runner.built`` on exit; ``__spark_entry__.queries()`` and
``__spark_entry__.entry()`` before handing out the next build; the CLI
before it returns; perfbench after each operation). No cache outlives
its query.

``collected`` (run a bounded result on the driver, unpersist, re-plan
the rows) has no caller in the package; it is kept because perfbench's
tracer wraps it by name.

``local_frame`` is how every driver-side row list (IVF probe tables,
per-round statistics) enters Spark: the rows become an
Arrow table on the driver and the plan a ``LocalRelation`` with exact
statistics. ``createDataFrame`` on a Python list would instead plan a
``LogicalRDD`` over a pickled ``PythonRDD`` with no statistics, so every
action on it ran a job through a second pool of Python workers (PERF.md,
"Driver-side rows enter Spark through Arrow as a LocalRelation").
"""

from __future__ import annotations

from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.conversion import LocalDataToArrowConversion
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def local_frame(spark: SparkSession, rows: list, schema: StructType | str) -> DataFrame:
    """``rows`` (tuples or ``Row``s) as a DataFrame planned as a
    ``LocalRelation`` with exactly ``schema`` (a ``StructType`` or a DDL
    string such as ``"id long, score double"``). The rows are converted to
    Arrow on the driver: collecting the result runs no job, and no Python
    worker ever touches the rows."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    large = spark._jconf.arrowUseLargeVarTypes()
    if rows:
        table = LocalDataToArrowConversion.convert(rows, schema, large)
    else:
        table = to_arrow_schema(schema, prefers_large_types=large).empty_table()
    return spark.createDataFrame(table, schema)


def collected(spark: SparkSession, result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Materialize ``result`` (must be bounded — top-k / fixed-grain only),
    unpersist ``cached`` intermediates even on failure, and return the rows
    as a ``LocalRelation`` (:func:`local_frame`) with ``result``'s exact
    schema. No query calls it: queries register caches with
    :func:`deferred` and return their plan."""
    try:
        rows = result.collect()
    finally:
        for c in cached:
            c.unpersist()
    return local_frame(spark, rows, result.schema)


# Caches registered by the current query's build, released when the
# consumer is done with its result. A cache Spark holds outside any
# DataFrame (a trained model's factor RDDs) registers its zero-argument
# release function instead.
_DEFERRED: list[DataFrame | Callable[[], object]] = []
_Releasable = TypeVar("_Releasable", DataFrame, Callable[[], object])


def deferred(df: _Releasable) -> _Releasable:
    """Register a persisted DataFrame, or a zero-argument release function,
    for release at the next :func:`release_deferred` call; returns it for
    inline use."""
    _DEFERRED.append(df)
    return df


def release_deferred() -> int:
    """Unpersist every deferred cache (or call every deferred release
    function) registered since the last call; returns how many were
    released. Safe to call at any time — a cache released here recomputes
    (it does not corrupt) if its query's result is re-collected later."""
    n = 0
    while _DEFERRED:
        item = _DEFERRED.pop()
        try:
            if isinstance(item, DataFrame):
                item.unpersist()
            else:
                item()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return n
