"""Driver-contract canonicalization, shared by the pytest oracle gate
(tests/test_correctness.py) and the CLI mirror (scripts/check_correctness.py).

The external driver compares Spark vs DuckDB results by loading both into
pandas, sorting with ``DataFrame.sort_values`` over every column, and
hashing the values. Two contract consequences this module enforces so
local green predicts driver green (a local gate that sorts rows by
``repr`` happily handles list cells the driver's ``sort_values`` dies on,
so a query can pass locally and fail at the driver):

1. ``canon`` canonicalizes through pandas ``sort_values`` — a list/dict
   cell raises ``TypeError: unhashable type`` here exactly as it does in
   the driver, BEFORE any comparison runs.
2. ``assert_scalar_schema`` lints a Spark result schema: no ArrayType /
   MapType / StructType at top level. Serialize complex values to one
   canonical string on both engine sides instead (Spark ``concat_ws`` /
   ``to_json`` ↔ DuckDB ``array_to_string`` / ``to_json``).
"""

from __future__ import annotations

_COMPLEX_TYPES = ("ArrayType", "MapType", "StructType")


def assert_scalar_schema(schema, name: str = "<query>") -> None:
    """Raise if any top-level output column has a complex (non-scalar)
    Spark SQL type — the driver's pandas canonicalizer cannot sort such
    cells, so the row would be red regardless of its values."""
    bad = [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in schema.fields
        if type(f.dataType).__name__ in _COMPLEX_TYPES
    ]
    if bad:
        raise TypeError(
            f"{name}: output schema has non-scalar top-level columns the "
            f"driver canonicalizer cannot hash: {bad} — serialize them "
            f"(concat_ws/to_json ↔ array_to_string/to_json) on both sides"
        )


_KIND = {"i": "int", "u": "int", "f": "float", "b": "bool"}


def assert_dtype_parity(spark_rows, oracle_df, cols, name: str = "<query>") -> None:
    """The driver materializes BOTH result sets as pandas frames before
    value-hashing, so a column whose pandas dtype KIND diverges between
    engines hash-mismatches even when every value compares equal in
    Python (``15 == 15.0``). Example: an un-cast DuckDB ``SUM(BIGINT)``
    types the column HUGEINT, pandas materializes it as float64, and the
    driver hashes ``15.0`` against Spark's int64 ``15``. A gate that
    fetches the oracle via ``fetchall()`` (Python ints) is blind to
    that.

    This check loads the Spark rows through the same pandas boundary and
    compares NUMERIC dtype kinds (int/float/bool) per column against the
    oracle's ``fetchdf()`` frame. Non-numeric kinds (object, datetime)
    are deliberately lenient — pandas represents e.g. dates differently
    depending on the load path, and genuine value divergence there is
    caught by the value compare; the numeric-kind split is the class
    that hash-mismatches with equal-comparing values."""
    import pandas as pd

    if not len(oracle_df) or not spark_rows:
        return
    _dtype_parity_frames(
        pd.DataFrame(spark_rows, columns=list(cols)), oracle_df, cols, name
    )


def _dtype_parity_frames(sdf, oracle_df, cols, name: str = "<query>") -> None:
    """Frame-based core of ``assert_dtype_parity`` — compare_result calls
    this directly with a frame it already built, so large results are not
    materialized into pandas twice."""
    bad = []
    for c in cols:
        if sdf[c].isna().all() or oracle_df[c].isna().all():
            continue  # all-NULL columns carry no dtype signal either side
        sk = _KIND.get(sdf[c].dtype.kind)
        dk = _KIND.get(oracle_df[c].dtype.kind)
        if sk != dk:
            bad.append(
                f"{c}: spark→pandas {sdf[c].dtype} ({sk}) vs "
                f"oracle fetchdf {oracle_df[c].dtype} ({dk})"
            )
    if bad:
        raise TypeError(
            f"{name}: pandas dtype divergence the driver's value-hash "
            f"would flag even if values compare equal: {bad} — cast the "
            f"oracle aggregate (CAST(... AS BIGINT)) or align the Spark "
            f"output type"
        )


def compare_result(s_rows, s_cols, d_df, name: str = "<query>") -> None:
    """The ONE comparison path both gate mirrors (tests/test_correctness.py
    and scripts/check_correctness.py) share, so a fix to the compare
    cannot reach one mirror and miss the other. Raises
    AssertionError/TypeError with a driver-shaped message on any mismatch
    (explicit raises, never bare ``assert`` — the CLI mirror must keep its
    per-query FAIL-and-continue contract under ``python -O`` too).

    ``d_df`` is the oracle side as ``fetchdf()`` returned it (the driver's
    pandas load path); the Spark side arrives as collected row tuples and
    is materialized into pandas exactly ONCE — the dtype-parity check and
    the canonical form both derive from that same frame (multi-million-row
    gate entries are dominated by this materialization)."""
    import pandas as pd

    d_cols = list(d_df.columns)
    if sorted(s_cols) != sorted(d_cols):
        raise AssertionError(f"{name}: cols {s_cols} vs {d_cols}")
    d_df = d_df[list(s_cols)]
    s_df = pd.DataFrame(list(s_rows), columns=list(s_cols))
    # Dtype parity needs rows on both sides: an empty Spark collect gives
    # an all-object frame with no dtype signal to compare (and the driver's
    # value-hash of an empty frame cannot mismatch on dtype either). The
    # empty-at-small-sf case is guarded statically instead: the registry
    # lint types every oracle's relation (test_registry) and rejects the
    # HUGEINT/UHUGEINT/DECIMAL top-level outputs that cause the
    # int-vs-float hash split, independent of row counts; the sf1
    # full-registry sweep (PERF.md) covers the rest dynamically.
    if len(s_df) and len(d_df):
        _dtype_parity_frames(s_df, d_df, list(s_cols), name)
    cs, cd = _canon_frame(s_df), _canon_frame(d_df)
    if len(cs) != len(cd):
        raise AssertionError(f"{name}: rowcount {len(cs)} != {len(cd)}")
    if cs != cd:
        diff = [(a, b) for a, b in zip(cs, cd) if a != b][:3]
        raise AssertionError(f"{name}: values differ, e.g. {diff}")


def _canon_frame(df, ndigits: int = 9):
    """Frame-based canonicalization core shared by ``canon`` (tuple entry
    point) and ``compare_result`` (frame entry point): round floats with
    the SAME builtin ``round`` the tuple path always used (cell-wise map,
    not numpy ``.round`` — the two differ by 1 ulp on some doubles and the
    gate's contract is that both entry points agree bit-for-bit), sort
    columns by name, stable-sort rows over every column, normalize
    NaN/NaT back to None."""
    import datetime as _dt

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype.kind in "fO":
            df[c] = df[c].map(
                lambda v: round(v, ndigits) if isinstance(v, float) else v
            )
        first = df[c].dropna().head(1)
        if df[c].dtype.kind == "M" or (
            df[c].dtype.kind == "O"
            and len(first)
            and isinstance(first.iloc[0], _dt.date)
        ):
            # Datetime normalization: through fetchdf a
            # DATE cell materializes as pandas Timestamp while Spark's
            # collect yields datetime.date, and Timestamp == date is False
            # even for equal days — the first raw-DATE output column would
            # fail the gate with both engines agreeing. Map both sides to
            # plain datetime.datetime (dates promote to midnight) so equal
            # instants compare equal regardless of load path. Applied
            # identically to both frames, so it only removes the
            # representation split, not a genuine value divergence.
            df[c] = df[c].map(
                lambda v: v.to_pydatetime()
                if hasattr(v, "to_pydatetime")
                else _dt.datetime.combine(v, _dt.time.min)
                if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime)
                else v
            )
    if len(df):
        # Sort string cells by their UTF-8 bytes, not the raw str: pandas'
        # multi-column sort factorizes object columns through numpy
        # fixed-width unicode, where a trailing NUL is PADDING — '' and
        # '\x00' compare as a tie and the stable mergesort then leaks the
        # input row order into the "canonical" form (a property test found
        # it with [('', None, ''), ('', None, '\x00')]). UTF-8
        # byte order equals code-point order for every valid code point,
        # so the key changes nothing except breaking NUL-padding ties.
        df = df.sort_values(
            by=list(df.columns),
            kind="mergesort",
            key=lambda col: col.map(
                lambda v: v.encode("utf-8", "surrogatepass")
                if isinstance(v, str)
                else v
            )
            if col.dtype.kind == "O"
            else col,
        )
    # pandas turns None into NaN in float columns; NaN != NaN would make
    # the elementwise tuple compare fail on NULLs both engines agree on —
    # normalize back to None (identically on both sides) after the sort.
    #
    # Two DELIBERATE driver-parity conflations live in this pandas
    # round-trip (documented, not fixed, because the driver makes the
    # identical ones and this module's contract is "local green predicts
    # driver green"):
    #   1. inside a float64 column, a genuine NaN and a NULL both become
    #      NaN and then None — an engine that emitted NaN where the other
    #      emitted NULL would pass. The repo-wide exactness discipline
    #      (no expression whose domain can produce NaN ships in an oracle
    #      query) is what actually guards this, not the comparator.
    #   2. an integer column containing any NULL is coerced to float64,
    #      so two >2^53 integers could collide after rounding. Same
    #      guard: money travels as integer cents / DECIMAL with NULLs
    #      only in columns whose magnitudes sit far below 2^53.
    df = df.astype(object).where(df.notna(), None)
    return [tuple(row) for row in df.itertuples(index=False, name=None)]


def canon(rows, cols, ndigits: int = 9):
    """Order-insensitive canonical form of a result set, via the same
    pandas ``sort_values`` path the driver uses (so unsortable cell types
    fail identically). Thin tuple-entry wrapper over ``_canon_frame``."""
    import pandas as pd

    return _canon_frame(pd.DataFrame(list(rows), columns=list(cols)), ndigits)
