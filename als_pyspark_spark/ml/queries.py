"""Registry entries for the ALS capability.

The ratings derivation and its relational statistics get exact DuckDB
oracles; factor values are float-iterative and engine-internal, so the ALS
train/predict queries are rows-only checks (driver contract) backed by
metric-threshold tests in tests/test_als.py (SURVEY.md §5.2).
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from als_pyspark_spark.caching import deferred
from als_pyspark_spark.ml.als import ALSEngine, ALSParams
from als_pyspark_spark.registry import query
from als_pyspark_spark.sources.ratings import RATINGS_CTE, ratings

# Small, deterministic hyperparameters for the ALS queries and the driver's
# flagship ``entry()`` — mirrors the reference demo run (rank=10,
# maxIter=5, regParam=0.01, reference ALS.py:598-599,615) but with the seed
# actually honored (the reference clobbers it, ALS.py:93 — defect D4).
_FLAGSHIP = ALSParams(rank=10, max_iter=5, reg_param=0.1, seed=42)


@query(
    "q_ratings_table",
    oracle=f"WITH ratings AS ({RATINGS_CTE}) SELECT * FROM ratings",
    tags=("ratings", "source"),
)
def q_ratings_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived ratings fixture itself (FIXTURES.md §1) — proves the
    join+distinct derivation matches the oracle bit-for-bit."""
    return ratings(spark, sf_dir)


@query(
    "q_ratings_stats",
    oracle=f"""
WITH ratings AS ({RATINGS_CTE})
SELECT COUNT(*) AS n_ratings,
       COUNT(DISTINCT user) AS n_users,
       COUNT(DISTINCT item) AS n_items,
       CAST(SUM(CAST(rating AS DECIMAL(8,1))) AS DOUBLE) / COUNT(*) AS avg_rating
FROM ratings
""",
    tags=("ratings", "agg"),
)
def q_ratings_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global stats of the ratings matrix (sparsity inputs)."""
    r = ratings(spark, sf_dir)
    return r.agg(
        F.count("*").alias("n_ratings"),
        F.countDistinct("user").alias("n_users"),
        F.countDistinct("item").alias("n_items"),
        (F.sum(F.col("rating").cast("decimal(8,1)")).cast("double") / F.count("*")).alias(
            "avg_rating"
        ),
    )


@query(
    "q_most_rated_items",
    oracle=f"""
WITH ratings AS ({RATINGS_CTE})
SELECT item, COUNT(*) AS n_ratings,
       CAST(SUM(CAST(rating AS DECIMAL(8,1))) AS DOUBLE) / COUNT(*) AS avg_rating
FROM ratings
GROUP BY item
ORDER BY n_ratings DESC, item ASC
LIMIT 50
""",
    tags=("ratings", "topk"),
)
def q_most_rated_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item popularity top-50 with deterministic tie-break."""
    r = ratings(spark, sf_dir)
    return (
        r.groupBy("item")
        .agg(
            F.count("*").alias("n_ratings"),
            (F.sum(F.col("rating").cast("decimal(8,1)")).cast("double") / F.count("*")).alias(
                "avg_rating"
            ),
        )
        .orderBy(F.desc("n_ratings"), F.asc("item"))
        .limit(50)
    )


# Cleared by name by perfbench's ``isolate``; nothing in the package uses it.
_TRAINED: dict = {}


def fit(
    spark: SparkSession, sf_dir: str, params: ALSParams = _FLAGSHIP
) -> tuple[ALSEngine, DataFrame]:
    """An ALS model trained with ``params`` on the fixture's ratings, and
    those ratings. The ratings cache and the model's factor RDDs are
    registered with ``caching.deferred``, so they live as long as the
    query that fits them."""
    r = deferred(ratings(spark, sf_dir).persist())
    eng = ALSEngine(params).train(r)
    deferred(eng.release)
    return eng, r


# Factor VALUES are float-iterative and engine-internal, so the ALS queries
# certify deterministic structural invariants the driver CAN hash against an
# exact oracle: coverage (one factor row per entity, every pair scored
# finitely, top-k shape per user) and a training-fit check (training
# mse < 1.5, measured ~0.79-0.82 at sf0.01/sf0.001). The fit check shows the
# solver ran and fitted its training pairs, not that the model predicts: the
# derived rating carries no learnable signal, and at sf0.1 the flagship
# model's held-out RMSE (1.77-1.80) is worse than predicting the mean
# (1.414). Raw metric thresholds live in tests/test_als.py.


@query(
    "als_user_factors",
    oracle=f"""
WITH ratings AS ({RATINGS_CTE})
SELECT DISTINCT user AS id, CAST(10 AS BIGINT) AS rank_dims FROM ratings
""",
    tags=("als", "ml"),
)
def als_user_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User factor table structure (reference return value, ALS.py:191):
    exactly one factor row per distinct rated user, each `rank` wide."""
    eng, _ = fit(spark, sf_dir)
    return eng.user_factors.select(
        "id", F.size("features").cast("long").alias("rank_dims")
    )


@query(
    "als_predictions",
    oracle=f"""
WITH ratings AS ({RATINGS_CTE})
SELECT user, item, TRUE AS finite_pred FROM ratings
""",
    tags=("als", "ml"),
)
def als_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score all observed pairs — the reference's only query
    (ALS.py:621-631). Certifies every observed (user, item) pair got
    exactly one finite prediction; raw values are float-iterative and
    gated by RMSE thresholds in tests/test_als.py."""
    eng, r = fit(spark, sf_dir)
    preds = eng.predict(r)
    return preds.select(
        "user",
        "item",
        (F.col("prediction").isNotNull() & ~F.isnan("prediction")).alias(
            "finite_pred"
        ),
    )


@query(
    "als_mse",
    oracle=f"""
WITH ratings AS ({RATINGS_CTE})
SELECT TRUE AS mse_below_threshold, COUNT(*) AS n_scored FROM ratings
""",
    tags=("als", "ml", "metric"),
)
def als_mse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-fit check (reference prints the raw value, ALS.py:630):
    mse < 1.5 over ALL observed (training) pairs, as a hashable row. It
    measures fit to the training pairs, not held-out prediction quality."""
    eng, r = fit(spark, sf_dir)
    preds = eng.predict(r)
    return preds.agg(
        (F.avg(F.pow(F.col("prediction") - F.col("rating"), 2)) < F.lit(1.5)).alias(
            "mse_below_threshold"
        ),
        F.count("*").alias("n_scored"),
    )


_TOP3_ORACLE = f"""
WITH ratings AS ({RATINGS_CTE})
SELECT user, CAST(p AS BIGINT) AS pos, TRUE AS item_in_catalog
FROM (SELECT DISTINCT user FROM ratings), (SELECT UNNEST([0, 1, 2]) AS p)
"""


def _top3_shape(eng: ALSEngine, r: DataFrame) -> DataFrame:
    """(user, pos, item_in_catalog): every user gets exactly ranks 0-2 and
    every recommended item exists in the observed catalog."""
    recs = eng.recommend_for_all_users(3)
    exploded = recs.select(
        "user", F.posexplode("recommendations").alias("pos", "rec")
    ).select("user", F.col("pos").cast("long").alias("pos"), F.col("rec.item").alias("item"))
    catalog = r.select("item").distinct().withColumn("in_cat", F.lit(True))
    return exploded.join(F.broadcast(catalog), "item", "left").select(
        "user", "pos", F.coalesce("in_cat", F.lit(False)).alias("item_in_catalog")
    )


@query("als_top3_recs_per_user", oracle=_TOP3_ORACLE, tags=("als", "ml", "topk"))
def als_top3_recs_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 item recommendations per user — the capability the reference
    lacks entirely (SURVEY.md §2.6)."""
    eng, r = fit(spark, sf_dir)
    return _top3_shape(eng, r)


@query("als_implicit_top3", oracle=_TOP3_ORACLE, tags=("als", "ml", "implicit"))
def als_implicit_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Implicit-feedback ALS (confidence c = 1 + alpha*r) top-3 per user.

    This path is DEAD in the reference — compute_y_t_y crashes on Python
    syntax (defect D1, reference ALS.py:562-578), so implicit_prefs=True
    never ran there. Here it's MLlib's working implementation."""
    eng, r = fit(spark, sf_dir, replace(_FLAGSHIP, implicit_prefs=True, alpha=10.0))
    return _top3_shape(eng, r)


@query(
    "als_nonnegative_factor_bounds",
    oracle=f"""
WITH ratings AS ({RATINGS_CTE})
SELECT TRUE AS all_nonnegative,
       CAST((COUNT(DISTINCT user) + COUNT(DISTINCT item)) * 5 AS BIGINT)
           AS n_elements
FROM ratings
""",
    tags=("als", "ml", "nnls"),
)
def als_nonnegative_factor_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nonnegative ALS factor bounds: with nonnegative=True every factor
    element must be >= 0, and there are exactly (n_users+n_items)*rank of
    them.

    Also dead in the reference — its NNLSSolver returns scipy's (x, rnorm)
    tuple instead of x (defect D3, reference Solver.py:99-101), corrupting
    every downstream factor. MLlib's projected-gradient NNLS works."""
    eng, _ = fit(spark, sf_dir, replace(_FLAGSHIP, rank=5, nonnegative=True))
    both = eng.user_factors.unionAll(eng.item_factors)
    elem = both.select(F.explode("features").alias("f"))
    return elem.agg(
        (F.min("f") >= F.lit(0.0)).alias("all_nonnegative"),
        F.count("*").alias("n_elements"),
    )
