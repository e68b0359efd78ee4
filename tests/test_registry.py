"""Registry invariants and the static lints that guard the driver contract.

The registry itself: names are unique and availability-gated queries
(Query.requires non-empty) are registered unconditionally, so the
registry's CONTENTS are identical on every machine; the sweep view
(__spark_entry__.queries()) excludes them when their optional dependency
is absent.

The lints: every oracle's LIMIT sits under an ORDER BY, oracle output types
survive the driver's pandas load, the comparator rejects non-scalar cells,
every ``.persist()`` in the package is released or documented, and
driver-side rows enter Spark only through ``caching.local_frame``.
"""

from __future__ import annotations

import os

import pytest

from als_pyspark_spark.registry import (
    QUERIES,
    load_all_queries,
    query,
    requirements_met,
)

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sweep_names() -> list[str]:
    """Registry names as the driver sweep sees them: insertion order,
    minus queries whose optional dependencies are absent here."""
    q = load_all_queries()
    return [n for n in q if requirements_met(q[n])]


def test_gated_queries_registered_unconditionally():
    """The registry must contain availability-gated queries even when their
    dependency is absent (deterministic contents), and the sweep view must
    exclude exactly the ones whose requirements fail here."""
    q = load_all_queries()
    assert "q_stream_tws_user_max" in q
    gated = q["q_stream_tws_user_max"]
    assert gated.requires == ("google.protobuf",)
    sweep = set(_sweep_names())
    for name, entry in q.items():
        assert (name in sweep) == requirements_met(entry)


def test_no_duplicate_registrations():
    """A second registration under a taken name raises, names both
    modules, and leaves the first registration in place."""
    load_all_queries()
    name = "q_registry_duplicate_probe"
    assert name not in QUERIES

    def first(spark, sf_dir):
        return None

    def second(spark, sf_dir):
        return None

    query(name)(first)
    try:
        with pytest.raises(ValueError, match=name) as err:
            query(name, oracle="SELECT 1")(second)
        assert str(err.value).count(__name__) == 2, err.value
        assert QUERIES[name].build is first
        assert QUERIES[name].oracle is None
    finally:
        del QUERIES[name]


def test_output_schema_lint_rejects_complex_types():
    """Driver-contract lint (round-5 red rows): a top-level ArrayType /
    MapType / StructType output column must fail the gate BEFORE any value
    comparison — the driver's pandas canonicalizer cannot hash list cells."""
    from pyspark.sql import types as T

    from als_pyspark_spark.canon import assert_scalar_schema

    ok = T.StructType(
        [
            T.StructField("tok", T.StringType()),
            T.StructField("df", T.LongType()),
            T.StructField("postings", T.StringType()),
        ]
    )
    assert_scalar_schema(ok, "fine")  # no raise

    for bad_type in (
        T.ArrayType(T.LongType()),
        T.MapType(T.StringType(), T.LongType()),
        T.StructType([T.StructField("x", T.LongType())]),
    ):
        bad = T.StructType([T.StructField("payload", bad_type)])
        with pytest.raises(TypeError, match="non-scalar"):
            assert_scalar_schema(bad, "array_fixture")


def test_canon_mirrors_driver_on_list_cells():
    """The local comparator must fail on list-valued cells exactly like
    the driver's ``sort_values``-based canonicalizer — not silently pass
    them the way the old repr-sort did."""
    from als_pyspark_spark.canon import canon

    # scalar rows: order-insensitive, float-rounded
    a = canon([("b", 2.0000000001), ("a", 1.0)], ["k", "v"])
    b = canon([("a", 1.0), ("b", 2.0)], ["k", "v"])
    assert a == b

    with pytest.raises(TypeError):
        canon([("a", [1, 2, 3])], ["k", "payload"])


def _depths(sql: str) -> list[int]:
    """Paren-nesting depth at each character position. Single-quoted
    string literals are blanked first (round-7 ADVICE): a '(' or ')'
    inside a literal would otherwise skew depths for the rest of the
    oracle — masking a genuine bare LIMIT or flagging a safe one. The
    blanking preserves length, so positions still line up with ``sql``."""
    import re

    sql = re.sub(r"'[^']*'", lambda m: "'" + " " * (len(m.group()) - 2) + "'", sql)
    out, d = [], 0
    for ch in sql:
        if ch == "(":
            out.append(d)
            d += 1
        elif ch == ")":
            d -= 1
            out.append(d)
        else:
            out.append(d)
    return out


def test_oracle_limit_always_under_order_by():
    """Tie-nondeterminism guard: an oracle using LIMIT without an ORDER BY
    *in the same statement scope* returns an engine-dependent row subset —
    the same silent red-row class as unsortable cells, caught statically.

    Scope-aware (round-7 ADVICE fix): the ORDER BY must sit at the SAME
    paren depth as the LIMIT and after the last same-depth SELECT, so an
    ORDER BY inside an earlier unrelated CTE (or a window's OVER clause —
    deeper depth) no longer satisfies the check for a later bare LIMIT.
    (Total tie-breaking within the ORDER BY is reviewed per-query; this
    catches the outright-missing case.)"""
    import re

    offenders = []
    for name, q in load_all_queries().items():
        if not q.oracle:
            continue
        sql = q.oracle.upper()
        depth = _depths(sql)
        for m in re.finditer(r"\bLIMIT\b", sql):
            d_lim = depth[m.start()]
            sel = max(
                (s.start() for s in re.finditer(r"\bSELECT\b", sql[: m.start()])
                 if depth[s.start()] == d_lim),
                default=-1,
            )
            ob = [
                o.start() for o in re.finditer(r"\bORDER\s+BY\b", sql[: m.start()])
                if depth[o.start()] == d_lim and o.start() > sel
            ]
            if not ob:
                offenders.append(name)
                break
    assert not offenders, offenders


def test_oracle_output_types_are_pandas_faithful(duck):
    """Round-6 red-row class killer: an oracle whose RELATION type carries
    HUGEINT/UHUGEINT/DECIMAL at top level materializes differently under
    the driver's pandas load than Spark's int64/float64 (DuckDB types an
    un-cast SUM(BIGINT) as HUGEINT; pandas renders it float64; the value
    hash then mismatches Spark's int64 even though 15 == 15.0). Binding
    the relation (no execution) exposes the output types for the whole
    registry in seconds — every aggregate feeding output must be cast."""
    offenders, bound = [], 0
    for name, q in load_all_queries().items():
        if not q.oracle:
            continue
        rel = duck.sql(q.oracle)  # binds only — verified: all 242 bind
        bound += 1
        for col, typ in zip(rel.columns, rel.types):
            ts = str(typ)
            if ts in ("HUGEINT", "UHUGEINT") or ts.startswith("DECIMAL"):
                offenders.append(f"{name}.{col}: {ts}")
    assert bound >= 200, f"lint no-op: only {bound} oracles bound"
    assert not offenders, (
        f"oracle output columns whose DuckDB type diverges from Spark "
        f"under the driver's pandas load — add CAST(... AS "
        f"BIGINT/DOUBLE): {offenders}"
    )


def test_dtype_parity_catches_hugeint_class():
    """The gate helper itself must flag the round-6 failure shape: Spark
    int64 column vs an oracle frame pandas materialized as float64, with
    values that compare equal in Python."""
    import pandas as pd

    from als_pyspark_spark.canon import assert_dtype_parity

    s_rows = [("a", 15), ("b", 7)]
    d_df = pd.DataFrame({"k": ["a", "b"], "n": [15.0, 7.0]})
    with pytest.raises(TypeError, match="dtype divergence"):
        assert_dtype_parity(s_rows, d_df[["k", "n"]], ["k", "n"], "fixture")
    # matched kinds pass
    ok = pd.DataFrame({"k": ["a", "b"], "n": [15, 7]})
    assert_dtype_parity(s_rows, ok[["k", "n"]], ["k", "n"], "fixture")


def test_every_persist_site_is_released_or_documented():
    """Every ``.persist()`` in the engine sits inside a ``deferred(...)``
    call: the one cache lifetime, registered where the cache is made and
    released with its query by the consumer (``caching.deferred``). A
    persist in any other form is how caches came to outlive their query
    (the r8/r9 ADVICE leaks, the pair tables once kept for the session)."""
    import ast

    def is_call(node, name):
        f = getattr(node, "func", None)
        return isinstance(node, ast.Call) and name in (
            getattr(f, "id", None), getattr(f, "attr", None)
        )

    pkg = os.path.join(_REPO, "als_pyspark_spark")
    offenders = []
    for root, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            tree = ast.parse(open(path).read())
            deferred = {
                id(n)
                for call in ast.walk(tree)
                if is_call(call, "deferred")
                for arg in call.args
                for n in ast.walk(arg)
            }
            offenders += [
                f"{path}:{n.lineno}"
                for n in ast.walk(tree)
                if is_call(n, "persist") and id(n) not in deferred
            ]
    assert not offenders, f"persist() outside a deferred(...) call: {offenders}"


def test_driver_rows_enter_spark_only_through_local_frame():
    """``createDataFrame`` on a Python list plans a ``LogicalRDD`` over a
    pickled Python RDD: every action on it runs a job through a second pool
    of Python workers. The engine's one call sits in
    ``caching.local_frame``, which hands Spark an Arrow table instead."""
    pkg = os.path.join(_REPO, "als_pyspark_spark")
    offenders = []
    for root, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            current = None
            for i, line in enumerate(open(path).read().splitlines()):
                if line.startswith("def "):
                    current = line.split("(")[0][4:]
                if "createDataFrame(" in line:
                    where = (os.path.relpath(path, pkg), current)
                    if where != ("caching.py", "local_frame"):
                        offenders.append(f"{path}:{i + 1}")
    assert not offenders, f"createDataFrame outside caching.local_frame: {offenders}"


def test_similarity_sizes_python_stages_by_rows():
    """The embedding queries size their Python stages with
    ``session.python_stage_tasks`` (one task per Arrow batch of input, or
    the context's parallelism where a persisted table's width must stay
    per core); none reads the parallelism itself."""
    pkg = os.path.join(_REPO, "als_pyspark_spark", "similarity")
    offenders = [
        f"{os.path.join(root, fn)}:{i + 1}"
        for root, _dirs, files in os.walk(pkg)
        for fn in files
        if fn.endswith(".py")
        for i, line in enumerate(open(os.path.join(root, fn)).read().splitlines())
        if "defaultParallelism" in line
    ]
    assert not offenders, f"defaultParallelism under similarity/: {offenders}"
