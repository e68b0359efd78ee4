"""The one way harnesses run a registered query: :func:`built` builds it
on a fresh engine session and releases what it cached on exit, and
:func:`force` runs it into the noop sink. No query keeps state for the
next, so every run pays its whole cost (an ALS query fits its own model,
a dedup tier rescans its clone-ratio statistic)."""

from __future__ import annotations

import time
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from als_pyspark_spark.caching import release_deferred
from als_pyspark_spark.registry import Query
from als_pyspark_spark.session import engine_session


class QueryError(RuntimeError):
    """A query failed; names the query and the phase (build or execute)."""

    def __init__(self, name: str, phase: str, cause: BaseException):
        super().__init__(f"{name}: {phase} failed: {type(cause).__name__}: {cause}")
        self.name = name
        self.phase = phase


@contextmanager
def built(spark: SparkSession, q: Query, sf_dir: str) -> Iterator[DataFrame]:
    """Yield ``q``'s DataFrame, built on a fresh
    ``session.engine_session(spark)`` (so ``spark`` is left as it was)
    with the query name as the job description. On exit, release every
    deferred cache. A failure re-raises as :class:`QueryError`, in phase
    ``build`` while building and ``execute`` in the caller's body."""
    sc = spark.sparkContext
    sc.setJobDescription(q.name)
    phase = "build"
    try:
        with engine_session(spark) as session:
            df = q.build(session, sf_dir)
            phase = "execute"
            yield df
    except Exception as exc:
        raise QueryError(q.name, phase, exc) from exc
    finally:
        release_deferred()
        sc.setJobDescription(None)


def force(spark: SparkSession, q: Query, sf_dir: str) -> float:
    """Run ``q`` into the noop sink (no driver collect); return the seconds
    from build start to write end, which excludes releasing its caches."""
    t0 = time.perf_counter()
    with built(spark, q, sf_dir) as df:
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

