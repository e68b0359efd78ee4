"""Bounded-result materialization for queries that persist intermediates.

Queries that ``persist()`` an intermediate (an edge list both sides of a
self-join read, a bucket table reused across phases) must not leak that
cache past their own lifetime: a full registry sweep in one Spark
session would otherwise accumulate hundreds of cached tables (the
reference's C1-C3 persist→materialize→unpersist discipline, which its
training loop applies per iteration, applies per QUERY here).

``collected`` is for queries whose RESULT is bounded at any scale (top-k,
fixed histograms, decile tables): run the final action inside the query,
unpersist every intermediate in a ``finally``, and hand back the rows as a
local DataFrame with the original schema. The caller's later ``collect``
is then free, and nothing stays cached.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def collected(spark: SparkSession, result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Materialize ``result`` (must be bounded — top-k / fixed-grain only),
    unpersist ``cached`` intermediates even on failure, and return the rows
    re-wrapped as a DataFrame with ``result``'s exact schema."""
    try:
        rows = result.collect()
    finally:
        for c in cached:
            c.unpersist()
    return spark.createDataFrame(rows, result.schema)


# Caches whose query RESULT is corpus-proportional (so ``collected`` would
# bottleneck the driver) but that have NO readers beyond their own query's
# plan: they cannot be unpersisted before the caller materializes the
# lazily-returned result, so they register here and are released when the
# caller is done with the result — ``runner.built`` does it on exit, and an
# embedding application that runs many queries per session should call
# :func:`release_deferred` after consuming each result (otherwise such a
# cache lives as long as the session). Distinct from the
# 'deliberate session-lifetime cache' sites (dedup/similarity pair tables),
# which ARE read by multiple queries and must stay resident between them.
_DEFERRED: list[DataFrame] = []


def deferred(df: DataFrame) -> DataFrame:
    """Register a persisted DataFrame for release at the next
    :func:`release_deferred` call; returns it for inline use."""
    _DEFERRED.append(df)
    return df


def release_deferred() -> int:
    """Unpersist every deferred cache registered since the last call;
    returns how many were released. Safe to call at any time — a cache
    released here recomputes (it does not corrupt) if its query's result
    is re-collected later."""
    n = 0
    while _DEFERRED:
        df = _DEFERRED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return n
