"""The query runner: every harness builds, forces and releases queries
through ``runner``, so its release and failure-naming contract is pinned
here."""

from __future__ import annotations

from unittest.mock import Mock

import pytest
from pyspark import StorageLevel
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from als_pyspark_spark import caching, runner, session
from als_pyspark_spark.caching import deferred
from als_pyspark_spark.registry import Query, load_all_queries
from als_pyspark_spark.runner import QueryError, built

QUERIES = load_all_queries()
# The queries that once kept a cache for the session; with
# ``q_dedup_clusters``, the one that released a cache they shared.
SESSION_CACHED = (
    "q_dedup_ngram_jaccard",
    "q_dedup_minhash_lsh",
    "q_dedup_simhash",
    "q_dedup_ngram_containment",
    "q_dedup_minhash_incremental",
    "q_embedding_neardup_pairs",
    "q_dedup_clusters",
)
# The queries whose build persists intermediates.
PERSISTING = SESSION_CACHED + (
    "q_ann_ivf_top10",
    "q_ann_ivfpq_top10",
    "q_ann_lsh_top10",
    "q_bfs_part_distances",
    "q_boilerplate_ngrams",
    "q_bpe_train_merges",
    "q_dedup_tier_recall",
    "q_equidepth_deciles",
    "q_kcore_peeling",
    "q_label_propagation_communities",
    "q_pagerank_converged",
    "q_pagerank_copurchase",
    "q_pipeline_e2e",
    "q_rerank_two_stage_topk",
    "q_semantic_dedup_clusters",
    "q_triangle_count_doulion",
    "q_triangle_count_parts",
)
# Builds whose result is driver-side rows by design, with no lazy plan:
# doulion returns the one-row estimate its two counting jobs computed;
# k-core, converged PageRank and BPE training return the rows their
# data-dependent loop collected.
DRIVER_ROWS = (
    "q_bpe_train_merges",
    "q_kcore_peeling",
    "q_pagerank_converged",
    "q_triangle_count_doulion",
)
_NONE = StorageLevel(False, False, False, False, 1)


@pytest.mark.parametrize("name", PERSISTING)
def test_plan_releases_every_cache_it_persisted(name, spark, sf_dir, monkeypatch):
    """Every DataFrame the build persists is uncached once the runner
    context exits, and the yielded DataFrame is the distributed plan, not
    a leaf of collected rows (except for ``DRIVER_ROWS``)."""
    cls, persisted = type(spark.range(1)), []
    for method in ("persist", "cache"):

        def recording(self, *args, _original=getattr(cls, method), **kwargs):
            persisted.append(self)
            return _original(self, *args, **kwargs)

        monkeypatch.setattr(cls, method, recording)
    with built(spark, QUERIES[name], sf_dir) as df:
        root = df._jdf.queryExecution().analyzed().getClass().getSimpleName()
        assert name in DRIVER_ROWS or root not in ("LocalRelation", "LogicalRDD"), root
    monkeypatch.undo()
    leaked = [p for p in persisted if p.storageLevel != _NONE]
    assert not leaked, f"{name} left {len(leaked)} of {len(persisted)} caches"


def test_no_cache_outlives_its_query(spark, sf_dir):
    """Forced one after another in one session, the queries that persist
    the dedup and near-dup pair tables leave Spark's shared cache empty
    and no new persistent RDD: no query can read a cache another left,
    or drop one another still reads."""
    runner.reset_memos()
    spark.catalog.clearCache()  # caches earlier tests' fixtures held
    cache = spark._jsparkSession.sharedState().cacheManager()
    rdds = lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    before = rdds()
    for name in SESSION_CACHED:
        runner.force(spark, QUERIES[name], sf_dir)
    assert cache.isEmpty()
    assert rdds() <= before


def _failing_query(spark, fail_in: str) -> tuple[Query, list]:
    """A query that registers a deferred cache, then fails while building
    or while its result is written."""
    caches = []

    def build(spark, sf_dir):
        caches.append(deferred(spark.range(5).persist()))
        if fail_in == "build":
            raise ValueError("boom")
        return spark.range(3).select(F.raise_error(F.lit("boom")))

    return Query(name="q_runner_probe", build=build), caches


def test_build_failure_names_query_and_phase(spark, sf_dir):
    q, caches = _failing_query(spark, "build")
    with pytest.raises(QueryError) as err:
        with built(spark, q, sf_dir):
            pass
    assert (err.value.name, err.value.phase) == ("q_runner_probe", "build")
    assert "q_runner_probe: build failed" in str(err.value)
    assert isinstance(err.value.__cause__, ValueError)
    assert not caching._DEFERRED
    assert caches[0].storageLevel == _NONE


def test_execute_failure_names_query_and_phase(spark, sf_dir):
    q, caches = _failing_query(spark, "execute")
    with pytest.raises(QueryError) as err:
        with built(spark, q, sf_dir) as df:
            df.write.format("noop").mode("overwrite").save()
    assert (err.value.name, err.value.phase) == ("q_runner_probe", "execute")
    assert "q_runner_probe: execute failed" in str(err.value)
    assert not caching._DEFERRED
    assert [c.storageLevel for c in caches] == [_NONE]

    with pytest.raises(QueryError) as err:
        runner.force(spark, q, sf_dir)
    assert err.value.phase == "execute"
    assert not caching._DEFERRED
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None
    assert [c.storageLevel for c in caches] == [_NONE, _NONE]


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


# Queries that register temp views, UDTFs, a memory sink or conf on the
# session they are built on, or (k-core, through caching.local_frame's
# createDataFrame) make it the active session.
STATEFUL = (
    "q_lateral_top2_orders_per_customer",
    "q_grouping_sets_orders",
    "q_recursive_referral_depth",
    "q_udtf_char_ngrams",
    "q_udtf_polymorphic_split",
    "q_stream_apws_user_max",
    "q_kcore_peeling",
)


def _session_state(s):
    views = sorted(t.name for t in s.catalog.listTables() if t.isTemporary)
    functions = sorted(r[0] for r in s.sql("SHOW USER FUNCTIONS").collect())
    conf = {k: s.conf.get(k) for k in session.runtime_conf(1)}
    active = SparkSession.getActiveSession()._jsparkSession.hashCode()
    return views, functions, conf, active


def test_runner_leaves_the_caller_session_as_it_was(spark, sf_dir):
    """Queries that register views, UDTFs, a memory sink or conf do so on
    their own engine session: the caller's temp views, functions and conf,
    and the active session, are unchanged after they run. The caller is a
    new session on the test context, so state an earlier test left cannot
    hide a leak."""
    caller = spark.newSession()
    before = _session_state(caller)
    for name in STATEFUL:
        runner.force(caller, QUERIES[name], sf_dir)
    assert _session_state(caller) == before


def test_runner_builds_at_the_context_parallelism(spark, sf_dir):
    """A caller session left at Spark's default of 200 shuffle partitions
    still gets queries planned at the context's parallelism, and keeps its
    own 200."""
    caller = spark.newSession()
    caller.conf.set("spark.sql.shuffle.partitions", "200")
    parallelism = str(spark.sparkContext.defaultParallelism)
    with built(caller, QUERIES["q1_pricing_summary"], sf_dir) as df:
        assert df.sparkSession.conf.get("spark.sql.shuffle.partitions") == parallelism
        assert caller.conf.get("spark.sql.shuffle.partitions") == "200"
    assert caller.conf.get("spark.sql.shuffle.partitions") == "200"
