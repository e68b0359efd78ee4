"""Physical-plan inspection helpers — the feedback loop for the 100 TB
design gates (pushdown, pruning, broadcast choice, exchange count).

The reference has no planner to inspect (SURVEY.md §4: all optimization is
hand-baked into its dataflow); here the planner is Catalyst and these
helpers are how tests and audits hold its output to the standard the
hand-tuned version would have had.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_of(df: DataFrame) -> str:
    """Executed physical plan as a string (AQE: initial plan until an
    action runs, final plan after)."""
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df: DataFrame) -> str:
    """explain('formatted') output — the variant that carries scan detail
    (PushedFilters / ReadSchema) per node."""
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters lines across the plan's scans."""
    return [l.strip() for l in formatted(df).splitlines() if "PushedFilters" in l]


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan (broadcast
    exchanges excluded — those move dimension-sized data)."""
    return sum(
        1
        for l in plan_of(df).splitlines()
        if "Exchange" in l and "BroadcastExchange" not in l and "reuse" not in l.lower()
    )


def join_kinds(df: DataFrame) -> list[str]:
    """Join operator names appearing in the plan, e.g. BroadcastHashJoin."""
    kinds = []
    for l in plan_of(df).splitlines():
        for k in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                  "BroadcastNestedLoopJoin", "CartesianProduct"):
            if k in l:
                kinds.append(k)
    return kinds
