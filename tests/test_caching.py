"""caching.deferred / release_deferred — the harness-checkpoint release
path for caches whose query RESULT is corpus-proportional (collected()
would bottleneck the driver) but that have no cross-query readers
(round-11 ADVICE: the decontaminate gram table leaked for the session
lifetime) — and caching.local_frame, the Arrow LocalRelation path every
driver-side row list takes back into Spark."""

from __future__ import annotations

import datetime
from decimal import Decimal

import pytest
from pyspark import StorageLevel
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from als_pyspark_spark import caching
from als_pyspark_spark.caching import deferred, local_frame, release_deferred
from als_pyspark_spark.registry import load_all_queries
from als_pyspark_spark.runner import built


def _is_cached(df) -> bool:
    return df.storageLevel != StorageLevel(False, False, False, False, 1)


def test_deferred_releases_at_checkpoint(spark):
    df = deferred(spark.range(10).persist())
    assert _is_cached(df)
    assert df.count() == 10
    assert release_deferred() == 1
    assert not _is_cached(df)
    # registry drained: a second checkpoint is a no-op
    assert release_deferred() == 0


def test_deferred_returns_the_same_frame_and_stacks(spark):
    a = spark.range(3).persist()
    b = spark.range(4).persist()
    assert deferred(a) is a
    assert deferred(b) is b
    assert release_deferred() == 2
    assert not _is_cached(a) and not _is_cached(b)
    assert not caching._DEFERRED


def test_q_decontaminate_cache_is_released_by_checkpoint(spark, sf_dir):
    """The ADVICE site end-to-end: running the query registers exactly one
    deferred cache, and the harness checkpoint releases it (the harnesses —
    check_correctness, bench, the pytest mirror — all call it per query)."""
    from als_pyspark_spark.functions.pipeline_queries import q_decontaminate

    release_deferred()  # clean slate
    result = q_decontaminate(spark, sf_dir)
    result.collect()
    assert len(caching._DEFERRED) == 1
    gram_cache = caching._DEFERRED[0]
    assert _is_cached(gram_cache)
    assert release_deferred() == 1
    assert not _is_cached(gram_cache)


def test_deferred_calls_a_release_function():
    calls = []

    def release():
        calls.append(1)

    assert deferred(release) is release
    assert release_deferred() == 1
    assert calls == [1]


# Every column type the engine hands back from the driver, each nullable
# and not, plus a nested struct.
_SCHEMA = StructType(
    [
        StructField("l", LongType(), False),
        StructField("i", IntegerType(), True),
        StructField("d", DoubleType(), True),
        StructField("b", BooleanType(), True),
        StructField("s", StringType(), False),
        StructField("a", ArrayType(DoubleType(), True), True),
        StructField(
            "st",
            StructType(
                [StructField("x", IntegerType(), False), StructField("y", StringType(), True)]
            ),
            True,
        ),
        StructField("dec", DecimalType(18, 4), True),
        StructField("ts", TimestampType(), True),
        StructField("dt", DateType(), True),
    ]
)
_ROWS = [
    (
        2**40,
        -7,
        0.1,
        True,
        "héllo",
        [1.5, None, -0.0],
        (3, "z"),
        Decimal("12345.6789"),
        datetime.datetime(2024, 2, 29, 23, 59, 58, 123456),
        datetime.date(1970, 1, 1),
    ),
    (0, None, None, None, "", None, None, None, None, None),
    (-1, 1, float("inf"), False, "x", [], (0, None), Decimal("-0.0001"), None, None),
]


def _assert_local_relation(df) -> None:
    qe = df._jdf.queryExecution()
    assert qe.optimizedPlan().nodeName() == "LocalRelation", qe.optimizedPlan().toString()
    executed = qe.executedPlan().toString()
    assert "LocalTableScan" in executed and "Scan ExistingRDD" not in executed, executed


_DDL = (
    "l long, i int, d double, b boolean, s string, a array<double>, "
    "st struct<x:int,y:string>, dec decimal(18,4), ts timestamp, dt date"
)


@pytest.mark.parametrize("schema", [_SCHEMA, _DDL], ids=["struct", "ddl"])
def test_local_frame_round_trips_exactly(spark, schema):
    df = local_frame(spark, _ROWS, schema)
    if schema is _DDL:  # a DDL string declares every field nullable
        assert df.schema == StructType.fromDDL(_DDL)
        assert df.schema.simpleString() == _SCHEMA.simpleString()
    else:
        assert df.schema == _SCHEMA
    assert [tuple(r) for r in df.collect()] == _ROWS
    _assert_local_relation(df)


def test_local_frame_zero_rows(spark):
    df = local_frame(spark, [], _SCHEMA)
    assert df.schema == _SCHEMA
    assert df.collect() == []
    _assert_local_relation(df)


def test_collected_result_is_a_local_relation(spark, sf_dir):
    """A @collected_query's result (here the IVF index build) comes back as
    a LocalRelation, not a LogicalRDD over a Python RDD."""
    with built(spark, load_all_queries()["q_ann_ivf_top10"], sf_dir) as df:
        _assert_local_relation(df)
        assert df.count() > 0
