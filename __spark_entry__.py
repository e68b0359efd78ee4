"""Driver contract for the spark-graft builder (PySpark target).

Thin view over the engine's query registry (als_pyspark_spark.registry):
every operator from SURVEY.md §2 plus the extension operators registers a
``queries()`` entry there, with a DuckDB oracle where SQL-expressible.
Every build runs on a fresh engine session (``session.engine_session``),
so the caller's own session is left as it was.
"""

from __future__ import annotations

import functools
import os
import sys
from collections.abc import Callable
from contextlib import AbstractContextManager

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from als_pyspark_spark.caching import release_deferred
from als_pyspark_spark.registry import load_all_queries, requirements_met
from als_pyspark_spark.session import engine_session


def _engine(spark: SparkSession) -> AbstractContextManager[SparkSession]:
    """:func:`engine_session` on ``spark``, whose Python workers import the
    engine from this checkout too: the driver's ``sys.path`` does not
    reach them, the context's PYTHONPATH environment entry does."""
    env = spark.sparkContext.environment
    path = env.get("PYTHONPATH", "")
    if _HERE not in path.split(os.pathsep):
        env["PYTHONPATH"] = os.pathsep.join(filter(None, (_HERE, path)))
    return engine_session(spark)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: derive ratings from
    lineitem⋈orders, train ALS (rank=10, maxIter=5, seed=42), score all
    observed pairs and return per-user prediction quality — the reference's
    whole __main__ pipeline (reference ALS.py:581-631) as one DataFrame.
    Built like every ``queries()`` entry, so its caches are released when
    the next build starts."""
    from pyspark.sql import functions as F

    from als_pyspark_spark.ml.queries import fit

    def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
        eng, r = fit(spark, sf_dir)
        return (
            eng.predict(r)
            .groupBy("user")
            .agg(
                F.count("*").alias("n_rated"),
                F.avg(F.pow(F.col("prediction") - F.col("rating"), 2)).alias("user_mse"),
            )
            .orderBy("user")
        )

    return _on_engine_session(flagship)(spark, "/root/testdata/sf0.001")


def _on_engine_session(
    build: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """``build`` on a fresh engine session, first releasing the deferred
    caches of the build before it: the driver consumes one result before
    it builds the next query, so each query's caches live until the next
    build starts."""

    @functools.wraps(build)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        release_deferred()
        with _engine(spark) as session:
            return build(session, sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Queries whose optional dependencies (Query.requires) are absent in
    # this environment are excluded — the registry itself is deterministic
    # across machines; availability only affects this sweep view.
    return {
        name: _on_engine_session(q.build)
        for name, q in load_all_queries().items()
        if requirements_met(q)
    }


def oracle_sql() -> dict[str, str]:
    return {
        name: q.oracle
        for name, q in load_all_queries().items()
        if q.oracle is not None and requirements_met(q)
    }
