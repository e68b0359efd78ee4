"""Central query registry.

Every operator/query this engine claims (SURVEY.md §2 inventory + the
extension operators) registers here with:

- ``build(spark, sf_dir) -> DataFrame``  — the Spark-native implementation
- ``plan(spark, sf_dir) -> (df, caches)`` — for the queries whose build
  runs a driver loop with a data-dependent stop, that loop's distributed
  plan before it runs plus the intermediates it persisted; ``None`` when
  ``build`` itself is lazy
- ``oracle``                             — equivalent DuckDB ANSI SQL, or
  ``None`` for genuinely non-SQL-expressible ops (ML training, LSH, streaming)

One cache-lifetime rule holds for every build: a cache the plan reads
(a persisted intermediate, a trained model's factors) registers with
:func:`caching.deferred` and is released by the consumer once it is done
with the result — ``runner.built`` on exit, ``__spark_entry__.queries()``
before the next build. A build returns its plan unrun; only driver-side
work that must see data (a quantizer fit, a convergence loop) runs jobs
in the build.

``__spark_entry__.queries()`` / ``oracle_sql()`` and the pytest correctness
gate are both thin views over this registry, so local tests exercise exactly
the driver's contract.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

# ``(spark, sf_dir) -> (df, caches)``: the distributed plan, not yet run, and
# the intermediates it persisted (the caller unpersists them when done).
Plan = Callable[[SparkSession, str], tuple[DataFrame, Sequence[DataFrame]]]


@dataclass
class Query:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""
    # Importable module names this query needs beyond the baked-in stack
    # (e.g. ("google.protobuf",) for transformWithState). Registration is
    # UNCONDITIONAL — the registry's contents are identical on every
    # machine — but sweep views (``__spark_entry__``) exclude queries whose
    # requirements are absent, so a missing optional dependency shows up as
    # a deterministic skip, never as an environment-dependent registry or a
    # guaranteed-red driver row.
    requires: tuple[str, ...] = field(default_factory=tuple)
    plan: Plan | None = None


QUERIES: dict[str, Query] = {}


def query(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    requires: tuple[str, ...] = (),
    plan: Plan | None = None,
):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``,
    with ``plan`` as its lazy view when ``fn`` runs a data-dependent
    driver loop.
    Raises ``ValueError`` if ``name`` is already registered."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        prev = QUERIES.get(name)
        if prev is not None:
            raise ValueError(
                f"query {name!r} registered twice: by {prev.build.__module__} "
                f"and by {fn.__module__}"
            )
        QUERIES[name] = Query(
            name=name,
            build=fn,
            oracle=oracle,
            tags=tags,
            doc=fn.__doc__ or "",
            requires=requires,
            plan=plan,
        )
        return fn

    return deco


def requirements_met(q: Query) -> bool:
    """True when every optional dependency of ``q`` imports cleanly."""
    import importlib

    for mod in q.requires:
        try:
            importlib.import_module(mod)
        except ImportError:
            return False
    return True


# Registration order is the import order of these modules, so it is the
# same in every process.
_MODULE_ORDER = (
    "als_pyspark_spark.operators.graph",
    "als_pyspark_spark.operators.warehouse",
    "als_pyspark_spark.functions.curation_queries",
    "als_pyspark_spark.dedup.queries",
    "als_pyspark_spark.similarity.queries",
    "als_pyspark_spark.functions.text_queries",
    "als_pyspark_spark.multimodal.queries",
    "als_pyspark_spark.ml.queries",
    "als_pyspark_spark.streaming.queries",
    "als_pyspark_spark.sources.sinks",
    "als_pyspark_spark.functions.pandas_udfs",
    "als_pyspark_spark.operators.events",
    "als_pyspark_spark.functions.pipeline_queries",
    "als_pyspark_spark.sources.python_datasource",
    "als_pyspark_spark.operators.physical",
    "als_pyspark_spark.operators.grouping",
    "als_pyspark_spark.operators.tpch_more",
    "als_pyspark_spark.operators.tpch_rest",
    "als_pyspark_spark.operators.subqueries",
    "als_pyspark_spark.operators.relational",
    "als_pyspark_spark.operators.joins",
    "als_pyspark_spark.operators.windows",
    "als_pyspark_spark.operators.aggregates",
    "als_pyspark_spark.operators.setops",
    "als_pyspark_spark.operators.scalar_funcs",
    "als_pyspark_spark.operators.timeseries",
)


def load_all_queries() -> dict[str, Query]:
    """Import every module that registers queries and return the registry."""
    import importlib

    # Imports are side-effectful (decorator registration); keep the list
    # explicit so a broken module is an import error, not silent missing
    # coverage.
    for mod in _MODULE_ORDER:
        importlib.import_module(mod)
    return QUERIES
