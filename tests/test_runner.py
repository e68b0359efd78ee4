"""The query runner: every harness builds, forces and releases queries
through ``runner``, so its release and failure-naming contract is pinned
here."""

from __future__ import annotations

from unittest.mock import Mock

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from als_pyspark_spark import caching, runner
from als_pyspark_spark.caching import deferred
from als_pyspark_spark.registry import Query, load_all_queries
from als_pyspark_spark.runner import QueryError, built

QUERIES = load_all_queries()
# The three queries whose ``Query.plan`` is a data-dependent driver loop,
# and the eleven bounded queries whose lazy build persists intermediates.
PERSISTING = (
    "q_ann_ivf_top10",
    "q_ann_ivfpq_top10",
    "q_ann_lsh_top10",
    "q_bfs_part_distances",
    "q_boilerplate_ngrams",
    "q_bpe_train_merges",
    "q_equidepth_deciles",
    "q_kcore_peeling",
    "q_label_propagation_communities",
    "q_pagerank_converged",
    "q_pagerank_copurchase",
    "q_pipeline_e2e",
    "q_rerank_two_stage_topk",
    "q_triangle_count_parts",
)
_NONE = StorageLevel(False, False, False, False, 1)


@pytest.mark.parametrize("name", PERSISTING)
def test_plan_releases_every_cache_it_persisted(name, spark, sf_dir, monkeypatch):
    """Every DataFrame the plan (or lazy build) persists is uncached once
    the runner context exits, and the yielded DataFrame is the distributed
    plan, not a leaf of collected rows."""
    cls, persisted = type(spark.range(1)), []
    for method in ("persist", "cache"):

        def recording(self, *args, _original=getattr(cls, method), **kwargs):
            persisted.append(self)
            return _original(self, *args, **kwargs)

        monkeypatch.setattr(cls, method, recording)
    with built(spark, QUERIES[name], sf_dir, plan=True) as df:
        root = df._jdf.queryExecution().analyzed().getClass().getSimpleName()
        assert root not in ("LocalRelation", "LogicalRDD"), root
    monkeypatch.undo()
    leaked = [p for p in persisted if p.storageLevel != _NONE]
    assert not leaked, f"{name} left {len(leaked)} of {len(persisted)} caches"


def _failing_query(spark, fail_in: str) -> tuple[Query, list]:
    """A query that registers a deferred cache and a plan cache, then fails
    while building or while its result is written."""
    caches = []

    def plan(spark, sf_dir):
        caches.append(deferred(spark.range(5).persist()))
        caches.append(spark.range(6).persist())
        if fail_in == "build":
            raise ValueError("boom")
        return spark.range(3).select(F.raise_error(F.lit("boom"))), [caches[-1]]

    q = Query(name="q_runner_probe", build=lambda s, d: plan(s, d)[0], plan=plan)
    return q, caches


@pytest.mark.parametrize("use_plan", [False, True])
def test_build_failure_names_query_and_phase(spark, sf_dir, use_plan):
    q, caches = _failing_query(spark, "build")
    with pytest.raises(QueryError) as err:
        with built(spark, q, sf_dir, plan=use_plan):
            pass
    assert (err.value.name, err.value.phase) == ("q_runner_probe", "build")
    assert "q_runner_probe: build failed" in str(err.value)
    assert isinstance(err.value.__cause__, ValueError)
    assert not caching._DEFERRED
    assert caches[0].storageLevel == _NONE


def test_execute_failure_names_query_and_phase(spark, sf_dir):
    q, caches = _failing_query(spark, "execute")
    with pytest.raises(QueryError) as err:
        with built(spark, q, sf_dir, plan=True) as df:
            df.write.format("noop").mode("overwrite").save()
    assert (err.value.name, err.value.phase) == ("q_runner_probe", "execute")
    assert "q_runner_probe: execute failed" in str(err.value)
    assert not caching._DEFERRED
    assert [c.storageLevel for c in caches] == [_NONE, _NONE]

    with pytest.raises(QueryError) as err:
        runner.force(spark, q, sf_dir)
    assert err.value.phase == "execute"
    assert not caching._DEFERRED
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None
    for c in caches:
        c.unpersist()


def test_reset_memos_clears_in_place():
    from als_pyspark_spark.dedup import queries as dedup_queries
    from als_pyspark_spark.ml import queries as ml_queries

    trained, ratio = ml_queries._TRAINED, dedup_queries._CLONE_RATIO
    trained[("app", "sf")] = (Mock(), Mock())
    ratio["sf"] = 0.5
    runner.reset_memos()
    assert ml_queries._TRAINED is trained and not trained
    assert dedup_queries._CLONE_RATIO is ratio and not ratio


def test_reset_memos_releases_the_als_memo(spark, sf_dir):
    """Clearing the ALS memo also uncaches its ratings and unpersists its
    model's factor RDDs, so the next pass trains and reads cold."""
    from als_pyspark_spark.ml import queries as ml_queries
    from als_pyspark_spark.sources.ratings import ratings

    runner.reset_memos()
    runner.force(spark, QUERIES["als_mse"], sf_dir)
    ((engine, _),) = ml_queries._TRAINED.values()
    factor_rdds = set()
    for factors in (engine.model.userFactors, engine.model.itemFactors):
        leaves = factors._jdf.queryExecution().analyzed().collectLeaves()
        factor_rdds |= {leaves.apply(i).rdd().id() for i in range(leaves.size())}
    persistent = lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert len(factor_rdds) == 2 and factor_rdds <= persistent()

    runner.reset_memos()
    plan = ratings(spark, sf_dir)._jdf.queryExecution().withCachedData().toString()
    assert "InMemoryRelation" not in plan, plan
    assert not factor_rdds & persistent()


def test_no_als_factor_rdd_outlives_its_query(spark, sf_dir):
    """The two ALS queries that train their own model release it when the
    runner is done with the result, keeping the memo's ratings cache, and
    no factor RDD of any fit (MLlib's intermediate ``itemFactors-<iter>``
    included) is still persisted after ``reset_memos``."""
    from als_pyspark_spark.ml import queries as ml_queries

    def factor_rdds():
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
        names = [rdds.get(k).name() or "" for k in rdds.keySet()]
        return sorted(n for n in names if n.startswith(("userFactors", "itemFactors")))

    runner.reset_memos()
    runner.force(spark, QUERIES["als_mse"], sf_dir)
    ((_, rated),) = ml_queries._TRAINED.values()
    for name in ("als_implicit_top3", "als_nonnegative_factor_bounds"):
        runner.force(spark, QUERIES[name], sf_dir)
        assert rated.storageLevel != _NONE, name
    runner.reset_memos()
    assert factor_rdds() == []
