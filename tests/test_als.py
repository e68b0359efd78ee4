"""ALS correctness per SURVEY.md §5.2: metric-based golden checks +
property tests (factor values are initialization-dependent; quality
metrics are not).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from als_pyspark_spark.ml.als import ALSEngine, ALSParams, derived_item_blocks
from als_pyspark_spark.sources.ratings import ratings


@pytest.fixture(scope="module", autouse=True)
def _release_trained_models():
    """Unpersist the factor RDDs of every model trained in this module once
    it is done, so none outlives it into another module's checks. Both fit
    paths (``ALSEngine.train`` and the reference-signature ``train``) build
    their estimator through ``ALSEngine.estimator``, so that is recorded."""
    trained, estimator = [], ALSEngine.estimator

    def recording(self, *args, **kwargs):
        trained.append(self)
        return estimator(self, *args, **kwargs)

    ALSEngine.estimator = recording
    yield
    ALSEngine.estimator = estimator
    for eng in trained:
        eng.release()


@pytest.fixture(scope="module")
def rated(spark, sf_dir):
    r = ratings(spark, sf_dir).cache()
    r.count()
    yield r
    r.unpersist()


@pytest.fixture(scope="module")
def engine(rated):
    eng = ALSEngine(ALSParams(rank=10, max_iter=5, reg_param=0.1, seed=42)).train(rated)
    yield eng
    eng.release()


def test_training_rmse_below_threshold(engine, rated):
    # ratings are 1..5; rank-10 ALS on ~6k observations must fit well below
    # the 1.42 std-dev of a uniform 1..5 target.
    rmse = engine.evaluate(rated, "rmse")
    assert rmse < 1.0, f"training RMSE {rmse} too high"


def test_factor_dimensions(engine):
    # every factor has `rank` dims (reference ALS.py:402)
    uf = engine.user_factors
    dims = uf.select(F.size("features").alias("d")).distinct().collect()
    assert [r.d for r in dims] == [10]
    assert engine.item_factors.select(F.size("features")).distinct().collect()[0][0] == 10


def test_prediction_is_dot_product(engine, rated):
    # prediction == dot(user_factor, item_factor) (reference ALS.py:625);
    # compare model.transform against the explicit join+dot plan.
    via_model = engine.predict(rated).select("user", "item", "prediction")
    via_join = engine.predict_via_join(rated.select("user", "item")).select(
        "user", "item", F.col("prediction").alias("p2")
    )
    joined = via_model.join(via_join, ["user", "item"])
    bad = joined.where(F.abs(F.col("prediction") - F.col("p2")) > 1e-4).count()
    assert bad == 0


def test_seed_reproducibility(rated):
    # same seed → identical metric (the reference BREAKS this: defect D4,
    # reference ALS.py:93 overwrites seed with time()).
    p = ALSParams(rank=5, max_iter=3, reg_param=0.1, seed=7)
    m1 = ALSEngine(p).train(rated).evaluate(rated, "mse")
    m2 = ALSEngine(p).train(rated).evaluate(rated, "mse")
    assert m1 == pytest.approx(m2, rel=1e-9)


def test_block_count_invariance(rated):
    # A different grid (the reference's partition_ratings, ALS.py:193-266)
    # must not change model quality materially. The user-block count changes
    # the seeded initial factors, so only the quality is compared here; the
    # item-block count changes nothing (test_item_blocks_are_layout).
    base = ALSParams(rank=5, max_iter=3, reg_param=0.1, seed=7)
    reblocked = ALSParams(
        rank=5, max_iter=3, reg_param=0.1, seed=7, num_user_blocks=3, num_item_blocks=4
    )
    m1 = ALSEngine(base).train(rated).evaluate(rated, "rmse")
    m2 = ALSEngine(reblocked).train(rated).evaluate(rated, "rmse")
    assert m2 == pytest.approx(m1, rel=0.1)


def _factors(params: ALSParams, rated) -> dict:
    eng = ALSEngine(params).train(rated)
    return {
        (side, r["id"]): r["features"]
        for side, df in (("user", eng.user_factors), ("item", eng.item_factors))
        for r in df.collect()
    }


def _max_diff(a: dict, b: dict) -> float:
    assert a.keys() == b.keys()
    return max(abs(x - y) for k in a for x, y in zip(a[k], b[k]))


@pytest.mark.parametrize(
    "extra, tol",
    [({}, 0.0), ({"implicit_prefs": True, "alpha": 10.0}, 1e-9), ({"nonnegative": True}, 1e-5)],
    ids=["explicit", "implicit", "nonnegative"],
)
def test_item_blocks_are_layout(rated, extra, tol):
    # Each iteration solves item factors from user factors first, so the
    # initial item factors (the only thing the item-block count seeds) are
    # never read: the factors do not depend on the item-block count.
    # Explicit solves are bit-identical. The implicit solve adds a Gram
    # matrix summed block by block, so its last bits may follow the count
    # (identical at sf0.001, 1.1e-13 apart at sf0.01); NNLS may differ in
    # the last float bits.
    fits = [
        _factors(ALSParams(rank=5, max_iter=3, seed=7, num_item_blocks=n, **extra), rated)
        for n in (1, 10)
    ]
    assert _max_diff(*fits) <= tol


def test_user_blocks_move_factors(rated):
    # Each user block seeds its own initial factors (seed ^ blockId), so the
    # user-block count is part of the model, unlike the item-block count.
    base = _factors(ALSParams(rank=5, max_iter=3, seed=7, num_item_blocks=10), rated)
    four = _factors(
        ALSParams(rank=5, max_iter=3, seed=7, num_user_blocks=4, num_item_blocks=10), rated
    )
    assert _max_diff(base, four) > 0.1


@pytest.mark.parametrize(
    "n_ratings, blocks", [(0, 1), (47_000, 1), (600_000, 5), (10_000_000, 10)]
)
def test_derived_item_blocks(n_ratings, blocks):
    assert derived_item_blocks(n_ratings, num_user_blocks=10) == blocks


def test_item_blocks_derived_unless_set(rated):
    # Unset, the count comes from the training rows (~6k at sf0.001: one
    # block); an explicit count is passed through; user blocks stay at 10.
    derived = ALSEngine(ALSParams()).estimator(rated)
    assert derived.getNumItemBlocks() == derived_item_blocks(rated.count(), 10) == 1
    assert derived.getNumUserBlocks() == 10
    assert ALSEngine(ALSParams(num_item_blocks=7)).estimator(rated).getNumItemBlocks() == 7


def test_row_count_reads_cache_statistics(spark, rated):
    # Deriving the item-block count must not add a job on a materialized
    # cache, and must materialize (not re-scan) an unmaterialized one.
    from als_pyspark_spark.ml.als import _row_count

    sc = spark.sparkContext
    n = rated.count()
    sc.setJobGroup("row_count", "row_count")
    try:
        assert _row_count(rated) == n
        assert list(sc.statusTracker().getJobIdsForGroup("row_count")) == []
        fresh = rated.select("user", "item").cache()
        assert _row_count(fresh) == n
        cache = fresh._jdf.queryExecution().optimizedPlan().cacheBuilder()
        assert cache.isCachedColumnBuffersLoaded()
        fresh.unpersist()
        assert _row_count(rated.where("rating > 0")) == n
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_more_iterations_not_worse(rated):
    p3 = ALSParams(rank=5, max_iter=2, reg_param=0.1, seed=7)
    p8 = ALSParams(rank=5, max_iter=8, reg_param=0.1, seed=7)
    r_short = ALSEngine(p3).train(rated).evaluate(rated, "rmse")
    r_long = ALSEngine(p8).train(rated).evaluate(rated, "rmse")
    assert r_long <= r_short * 1.05


def test_implicit_prefs_trains(rated):
    # implicitPrefs works here; the reference's implicit path is dead code
    # (defect D1, reference ALS.py:562-578 crashes).
    p = ALSParams(rank=5, max_iter=3, implicit_prefs=True, alpha=10.0, seed=7)
    eng = ALSEngine(p).train(rated)
    preds = eng.predict(rated)
    assert preds.where(F.col("prediction").isNull()).count() == 0
    assert preds.count() > 0


def test_nonnegative_factors(rated):
    # nonnegative=True must produce nonnegative factors; the reference's
    # NNLS returns a malformed tuple (defect D3, Solver.py:99-101).
    p = ALSParams(rank=5, max_iter=3, nonnegative=True, seed=7)
    eng = ALSEngine(p).train(rated)
    neg = (
        eng.user_factors.select(F.explode("features").alias("f"))
        .where(F.col("f") < -1e-6)
        .count()
    )
    assert neg == 0


def test_topk_recommendations(engine):
    recs = engine.recommend_for_all_users(3)
    sizes = recs.select(F.size("recommendations").alias("k")).distinct().collect()
    assert all(r.k <= 3 for r in sizes)
    # scores are sorted descending within each user's list
    bad = recs.where(
        ~F.expr(
            "aggregate(zip_with(slice(recommendations, 1, size(recommendations)-1), "
            "slice(recommendations, 2, size(recommendations)-1), (a, b) -> a.rating >= b.rating), "
            "true, (acc, x) -> acc and x)"
        )
    ).count()
    assert bad == 0


def test_reference_train_signature(rated):
    # the drop-in train() twin of NewALS.train: same names/defaults/return
    # shape — a reference user can switch with an import change.
    from als_pyspark_spark.ml.als import train

    uf, itf = train(rated, rank=5, max_iter=3, reg_param=0.1, seed=7)
    assert uf.columns == ["id", "features"]
    assert itf.columns == ["id", "features"]
    assert uf.count() > 0 and itf.count() > 0
    assert uf.select(F.size("features")).distinct().collect()[0][0] == 5


def test_cli_main_on_reference_format_file(spark, tmp_path, capsys):
    """python -m als_pyspark_spark on the reference's test.data format
    (user,item,rating text) trains and prints an MSE — the literal
    switch-over path for a reference user."""
    f = tmp_path / "ratings.csv"
    f.write_text("0,0,4.0\n0,1,2.5\n1,0,3.0\n1,2,5.0\n2,1,1.5\n2,2,4.5\n")
    from als_pyspark_spark.__main__ import main

    rc = main([str(f), "--rank", "4", "--max-iter", "3"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "training time" in out and "mse" in out
    mse = float([l for l in out.splitlines() if l.startswith("mse")][0].split()[1])
    assert mse < 1.0  # tiny corpus memorizes easily
