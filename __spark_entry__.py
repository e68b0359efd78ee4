"""Driver contract for the spark-graft builder (PySpark target).

Thin view over the engine's query registry (als_pyspark_spark.registry):
every operator from SURVEY.md §2 plus the extension operators registers a
``queries()`` entry there, with a DuckDB oracle where SQL-expressible.
"""

from __future__ import annotations

import functools
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from als_pyspark_spark.caching import release_deferred
from als_pyspark_spark.registry import load_all_queries, requirements_met


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: derive ratings from
    lineitem⋈orders, train ALS (rank=10, maxIter=5, seed=42), score all
    observed pairs and return per-user prediction quality — the reference's
    whole __main__ pipeline (reference ALS.py:581-631) as one DataFrame."""
    from pyspark.sql import functions as F

    from als_pyspark_spark.ml.als import ALSEngine, ALSParams
    from als_pyspark_spark.sources.ratings import ratings

    sf_dir = "/root/testdata/sf0.001"
    r = ratings(spark, sf_dir).cache()
    eng = ALSEngine(ALSParams(rank=10, max_iter=5, reg_param=0.1, seed=42)).train(r)
    preds = eng.predict(r)
    return (
        preds.groupBy("user")
        .agg(
            F.count("*").alias("n_rated"),
            F.avg(F.pow(F.col("prediction") - F.col("rating"), 2)).alias("user_mse"),
        )
        .orderBy("user")
    )


def _after_release(
    build: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """``build``, first releasing the deferred caches of the build before
    it: the driver consumes one result before it builds the next query,
    so each query's caches live until the next build starts."""

    @functools.wraps(build)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        release_deferred()
        return build(spark, sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Queries whose optional dependencies (Query.requires) are absent in
    # this environment are excluded — the registry itself is deterministic
    # across machines; availability only affects this sweep view.
    return {
        name: _after_release(q.build)
        for name, q in load_all_queries().items()
        if requirements_met(q)
    }


def oracle_sql() -> dict[str, str]:
    return {
        name: q.oracle
        for name, q in load_all_queries().items()
        if q.oracle is not None and requirements_met(q)
    }
