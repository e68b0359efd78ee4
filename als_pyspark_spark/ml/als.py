"""ALS recommender — Spark-native replacement for the reference's entire
execution engine (reference ALS.py:24-191 ``NewALS.train``).

Parameter parity map (reference ALS.py:24-37 → pyspark.ml ALS):

| reference param                  | here                     | notes |
|----------------------------------|--------------------------|-------|
| rank=10                          | rank                     | |
| max_iter=10                      | maxIter                  | |
| reg_param=0.1                    | regParam                 | same ALS-WR λ·n scaling (ALS.py:500,523) |
| num_user_blocks/num_item_blocks  | numUserBlocks/numItemBlocks | grid blocking (ALS.py:193-266) is internal to MLlib; user blocks fix the seeded model, item blocks are layout (derived from the row count by default) |
| implicit_prefs                   | implicitPrefs            | WORKS here; reference's is dead on arrival (broken compute_y_t_y, ALS.py:562-578) |
| alpha                            | alpha                    | confidence c=1+α·r (ALS.py:511-515) |
| nonnegative                      | nonnegative              | WORKS here; reference returns a malformed scipy tuple (Solver.py:99-101) |
| intermediate/final storage level | intermediateStorageLevel/finalStorageLevel | ALS.py:34-35 |
| check_point_interval             | checkpointInterval       | reference accepts but never implements (ALS.py:36,101) |
| seed                             | seed                     | honored; reference overwrites it with time() (ALS.py:93) |

The blocked dataflow itself (RatingBlock/InBlock/OutBlock/LocalIndexEncoder,
CSR compression, routing tables, BLAS normal equations — reference
Rating.py, InBlock.py, Solver.py, util/encoder.py) is exactly what MLlib's
Scala ALS already does internally; rebuilding it in Python would be strictly
slower (per-record pickle across the JVM↔Python boundary is the reference's
dominant cost, SURVEY.md §3.4).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.ml.evaluation import RegressionEvaluator
from pyspark.ml.recommendation import ALS, ALSModel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class ALSParams:
    """Mirrors NewALS.train's signature (reference ALS.py:24-37)."""

    rank: int = 10
    max_iter: int = 10
    reg_param: float = 0.1
    num_user_blocks: int = 10
    # None: derived from the training input's row count (derived_item_blocks)
    num_item_blocks: int | None = None
    implicit_prefs: bool = False
    alpha: float = 1.0
    nonnegative: bool = False
    check_point_interval: int = 10
    seed: int = 0
    user_col: str = "user"
    item_col: str = "item"
    rating_col: str = "rating"


# Training rows per item block when the count is derived. MLlib seeds each
# USER block's initial factors separately (seed ^ blockId, as the reference
# does, ALS.py:94-95,402-404), so the user-block count is part of the model
# and stays at the caller's (default 10, the reference's). Every iteration
# solves item factors from user factors first, so the initial item factors
# are never read and the item-block count is layout only (PERF.md, "MLlib
# ALS"). At ~600k ratings (sf0.1, local[4]) 10x4 was the fastest grid and
# 10x1 was slower than 10x2, so large inputs keep several item blocks.
RATINGS_PER_ITEM_BLOCK = 125_000


def derived_item_blocks(n_ratings: int, num_user_blocks: int) -> int:
    """Item-block count for ``n_ratings`` training rows: one block per
    ``RATINGS_PER_ITEM_BLOCK`` rows, at least 1 and at most the user-block
    count. Reads the row count only, so the grid (and the factors) never
    depend on the core count."""
    return min(num_user_blocks, max(1, math.ceil(n_ratings / RATINGS_PER_ITEM_BLOCK)))


def _row_count(df: DataFrame) -> int:
    """Rows of ``df``. A cached input is materialized (the fit would
    materialize it next anyway) and its row count read from the cache's
    statistics, so counting adds no job; anything else is counted. The count
    only sets the item-block layout, so a statistic that is off (a rebuilt
    cache partition counted twice) changes the layout, not the model."""
    plan = df._jdf.queryExecution().optimizedPlan()
    if plan.nodeName() != "InMemoryRelation":
        return df.count()
    cache = plan.cacheBuilder()
    if not cache.isCachedColumnBuffersLoaded():
        cache.cachedColumnBuffers().count()
    return int(cache.rowCountStats().value())


class ALSEngine:
    """train / predict / evaluate / recommend — the reference's full public
    capability (train ALS.py:24, predict+MSE ALS.py:621-631) plus the top-k
    recommendation the reference lacks (SURVEY.md §2.6)."""

    def __init__(self, params: ALSParams | None = None):
        self.params = params or ALSParams()
        self.model: ALSModel | None = None

    def estimator(self, ratings: DataFrame) -> ALS:
        """The MLlib estimator for these params on ``ratings`` (storage
        levels left at MLlib's defaults). An unset ``num_item_blocks`` is
        derived from the row count of ``ratings``: no extra job on a cached
        input, one extra scan otherwise."""
        p = self.params
        item_blocks = p.num_item_blocks
        if item_blocks is None:
            item_blocks = derived_item_blocks(_row_count(ratings), p.num_user_blocks)
        return ALS(
            rank=p.rank,
            maxIter=p.max_iter,
            regParam=p.reg_param,
            numUserBlocks=p.num_user_blocks,
            numItemBlocks=item_blocks,
            implicitPrefs=p.implicit_prefs,
            alpha=p.alpha,
            nonnegative=p.nonnegative,
            checkpointInterval=p.check_point_interval,
            seed=p.seed,
            userCol=p.user_col,
            itemCol=p.item_col,
            ratingCol=p.rating_col,
            coldStartStrategy="drop",
        )

    def train(self, ratings: DataFrame) -> "ALSEngine":
        self.model = self.estimator(ratings).fit(ratings)
        return self

    def release(self) -> None:
        """Unpersist the trained model's factor RDDs, which MLlib persists
        at fit time and never releases. Each is the ``ExternalRDD`` leaf of
        its factor table's analyzed plan; the tables still work afterwards,
        recomputing on read."""
        if self.model is None:
            return
        for factors in (self.model.userFactors, self.model.itemFactors):
            leaves = factors._jdf.queryExecution().analyzed().collectLeaves()
            for i in range(leaves.size()):
                leaf = leaves.apply(i)
                if leaf.getClass().getSimpleName() == "ExternalRDD":
                    leaf.rdd().unpersist(False)

    # -- factor tables: what NewALS.train returns (reference ALS.py:191) ----
    @property
    def user_factors(self) -> DataFrame:
        assert self.model is not None, "call train() first"
        return self.model.userFactors  # (id INT, features ARRAY<FLOAT>)

    @property
    def item_factors(self) -> DataFrame:
        assert self.model is not None, "call train() first"
        return self.model.itemFactors

    # -- scoring: the reference's double-join + np.dot (ALS.py:622-625) -----
    def predict(self, pairs: DataFrame) -> DataFrame:
        assert self.model is not None, "call train() first"
        return self.model.transform(pairs)

    def predict_via_join(self, pairs: DataFrame) -> DataFrame:
        """The reference's literal plan — join user factors, join item
        factors, dot product — as a DataFrame query. Kept alongside
        model.transform to demonstrate the dot product in pure built-ins
        (zip_with + aggregate, no Python UDF)."""
        p = self.params
        uf = self.user_factors.select(
            F.col("id").alias(p.user_col), F.col("features").alias("uf")
        )
        itf = self.item_factors.select(
            F.col("id").alias(p.item_col), F.col("features").alias("if")
        )
        dot = F.aggregate(
            F.zip_with("uf", "if", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return (
            pairs.join(uf, p.user_col)
            .join(itf, p.item_col)
            .withColumn("prediction", dot.cast("float"))
            .drop("uf", "if")
        )

    # -- evaluation: MSE/RMSE (reference ALS.py:629-631) --------------------
    def evaluate(self, ratings: DataFrame, metric: str = "mse") -> float:
        preds = self.predict(ratings)
        ev = RegressionEvaluator(
            metricName=metric, labelCol=self.params.rating_col, predictionCol="prediction"
        )
        return float(ev.evaluate(preds))

    # -- top-k (absent from reference; SURVEY.md §2.6) -----------------------
    def recommend_for_all_users(self, k: int) -> DataFrame:
        assert self.model is not None, "call train() first"
        return self.model.recommendForAllUsers(k)

    def recommend_for_all_items(self, k: int) -> DataFrame:
        assert self.model is not None, "call train() first"
        return self.model.recommendForAllItems(k)


def train(
    ratings: DataFrame,
    rank: int = 10,
    num_user_blocks: int = 10,
    num_item_blocks: int = 10,
    max_iter: int = 10,
    reg_param: float = 0.1,
    implicit_prefs: bool = False,
    alpha: float = 1.0,
    nonnegative: bool = False,
    intermediate_rdd_storage_level: str = "MEMORY_AND_DISK",
    final_rdd_storage_level: str = "MEMORY_AND_DISK",
    check_point_interval: int = 10,
    seed: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """Drop-in twin of the reference's ``NewALS.train`` (reference
    ALS.py:24-37): same parameter names and defaults, same return shape —
    ``(user_id_and_factors, item_id_and_factors)`` (reference ALS.py:191),
    here as DataFrames ``(id, features ARRAY<FLOAT>)``.

    Differences are exactly the reference's defects, fixed:
    - ``seed`` is honored (the reference overwrites it with time(), D4);
    - ``implicit_prefs=True`` works (reference crashes in compute_y_t_y, D1);
    - ``nonnegative=True`` yields real factors (reference returns scipy's
      (x, rnorm) tuple, D3);
    - ``check_point_interval`` actually checkpoints (reference accepts and
      ignores it, ALS.py:36,101) — provided the session has a checkpoint
      dir (session.build_session sets one).

    The 10/10 block defaults are the reference's. ``num_user_blocks`` fixes
    the seeded model (each user block seeds its own initial factors);
    ``num_item_blocks`` is layout only, and ``ALSEngine`` derives it from
    the row count when it is left unset (``derived_item_blocks``).

    The storage-level strings accept any ``pyspark.StorageLevel`` name;
    the expected input schema is ``(user, item, rating)`` like the
    reference's Rating namedtuple (Rating.py:4-18).
    """
    eng = ALSEngine(
        ALSParams(
            rank=rank,
            max_iter=max_iter,
            reg_param=reg_param,
            num_user_blocks=num_user_blocks,
            num_item_blocks=num_item_blocks,
            implicit_prefs=implicit_prefs,
            alpha=alpha,
            nonnegative=nonnegative,
            check_point_interval=check_point_interval,
            seed=seed,
        )
    )
    eng.model = (
        eng.estimator(ratings)
        .setIntermediateStorageLevel(intermediate_rdd_storage_level)
        .setFinalStorageLevel(final_rdd_storage_level)
        .fit(ratings)
    )
    return eng.user_factors, eng.item_factors
