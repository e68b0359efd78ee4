"""The benchmark's workloads: which operations one pass runs, in what order,
how each is timed and how its output is checked.

Each operation runs through the engine's public entry points only:
``Query.build`` followed by the noop-sink force, or an ``ALSEngine`` call.
An operation's ``run`` is what a timed pass executes; its ``check`` is what
the warm-up pass executes instead, so outputs are checked once per run and
never inside a timed pass.
"""

from __future__ import annotations

import contextlib
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from checks import CheckFailed, check_recall_witness, check_recommendations, check_rmse

# JVM scan / join / aggregate / window work, every query oracled. No Python
# workers, ML or streaming: the bypass workload for changes to those layers.
RELATIONAL = (
    "q1_pricing_summary",
    "q3_top_orders",
    "q7_nation_volume_shipping",
    "q13_customer_order_distribution",
    "q18_in_big_orders",
    "q_window_topk_orders_per_customer",
)

# Driver-eager builds: the IVF index (a numpy fit on the driver, a Python
# UDF, a dozen short jobs), a stream drained through applyInPandasWithState
# (the streaming, state and Arrow/pandas worker layers at once) and a
# partitioned parquet sink.
ITERATIVE_STREAM = (
    "q_ann_ivf_top10",
    "q_stream_apws_user_max",
    "q_sink_partitioned_parquet",
)

# Input tables each workload scans once during set-up.
TABLES = {
    "relational": ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"),
    "iterative_stream": ("lineitem", "events", "embeddings"),
    "als": (),
}

# Rows-only queries checked through their in-row recall witness.
RECALL_WITNESSED = {"q_ann_ivf_top10"}


def untraced(kind: str):
    """The phase hook of an untraced pass: times nothing."""
    return contextlib.nullcontext()


class QueryOp:
    """A registry query: ``Query.build``, then the noop-sink force."""

    def __init__(self, query):
        self.query = query
        self.name = query.name

    def run(self, env, phase):
        with phase("build"):
            df = self.query.build(env.spark, env.sf_dir)
        with phase("force"):
            df.write.format("noop").mode("overwrite").save()
        return df

    def check(self, env) -> None:
        df = self.query.build(env.spark, env.sf_dir)
        rows = [tuple(r) for r in df.collect()]
        if self.name in RECALL_WITNESSED:
            check_recall_witness(self.name, rows, df.columns)
        elif self.query.oracle is None:
            raise CheckFailed(f"{self.name}: no oracle and no witness to check")
        else:
            env.oracle.compare(self.name, self.query.oracle, rows, df.columns)


def query_ops(names, queries, seed: int) -> list[QueryOp]:
    """The workload's queries in the order ``seed`` fixes for every pass."""
    order = list(names)
    random.Random(seed).shuffle(order)
    return [QueryOp(queries[n]) for n in order]


# ---------------------------------------------------------------------------
# ALS: the derived ratings' (user, item) pairs with seeded, learnable values

# Planted rank. At rank 3 the ALSParams defaults learn the signal from the
# derived ratings' ~40 ratings per user on every seed tried (held-out RMSE
# 0.27 to 0.32 of the way from the noise floor to the mean baseline); at
# rank 5 they came within 0.2 of the baseline on some seeds, at rank 10
# above it.
RANK = 3
# Standard deviation of the Gaussian noise on each rating. The rest of the
# derived ratings' variance is planted signal, so the noise floor sits well
# below the predict-the-mean baseline and the quality gate has room.
NOISE = 0.5


def make_ratings(seed: int, sf_dir: str) -> pa.Table:
    """``rating = mean + <u, v> + N(0, NOISE)`` on the (user, item) pairs of
    the repo's derived ratings (``sources.ratings``: distinct customer, part
    pairs of lineitem joined with orders), one rating per pair, so user
    activity and item popularity are those of the derived ratings. Their
    values carry no signal (``1 + floor(quantity) % 5``); only their mean
    and variance are kept, and the seed draws the planted factors and the
    noise.

    ``truth`` (the noiseless score) rides along so the check can compute the
    noise floor on exactly the held-out rows; ALS reads only user, item and
    rating.
    """
    li = pq.read_table(f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_partkey", "l_quantity"])
    orders = pq.read_table(f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_custkey"])
    joined = li.join(orders, "l_orderkey", "o_orderkey")
    users = joined["o_custkey"].to_numpy().astype(np.int64)
    items = joined["l_partkey"].to_numpy().astype(np.int64)
    derived = 1.0 + np.floor(joined["l_quantity"].to_numpy().astype(np.float64)) % 5
    n_items = int(items.max()) + 1
    pair = users * n_items + items
    # The derived ratings' rows are the distinct (user, item, rating) triples.
    _, rows = np.unique(pair * 5 + derived.astype(np.int64) - 1, return_index=True)
    mean, var = derived[rows].mean(), derived[rows].var()
    _, first = np.unique(pair, return_index=True)
    users, items = users[first], items[first]

    rng = np.random.default_rng(abs(seed))
    scale = ((var - NOISE**2) / RANK) ** 0.25  # var(<u, v>) = RANK * scale**4
    users_f = rng.normal(0.0, scale, (int(users.max()) + 1, RANK))
    items_f = rng.normal(0.0, scale, (n_items, RANK))
    truth = mean + np.einsum("ij,ij->i", users_f[users], items_f[items])
    rating = truth + rng.normal(0.0, NOISE, len(truth))
    return pa.table(
        {
            "user": users.astype(np.int32),
            "item": items.astype(np.int32),
            "rating": rating.astype(np.float32),
            "truth": truth.astype(np.float32),
        }
    )


# The quality reference: MLlib's ALS with the reference implementation's
# defaults (rank 10, 10 iterations, regParam 0.1, 10x10 blocks, seed 0),
# fitted on the same split in the check. Fixed here rather than read from
# ALSParams, so a change that makes ALSEngine faster by fitting a worse
# model (fewer iterations, a lower rank) fails the check.
REFERENCE_ALS = dict(
    rank=10, maxIter=10, regParam=0.1, numUserBlocks=10, numItemBlocks=10, seed=0
)


class CallOp:
    """One ``ALSEngine`` call of the pipeline."""

    def __init__(self, name: str, call, check):
        self.name = name
        self._call = call
        self._check = check

    def run(self, env, phase):
        with phase("call"):
            return self._call(False)

    def check(self, env) -> None:
        self._check(self._call(True))


class AlsPipeline:
    """Load and split the ratings, train explicit, evaluate, recommend for
    every user, train implicit and nonnegative, evaluate: the paper's
    pipeline through ``ALSEngine`` with the ``ALSParams`` defaults."""

    K = 10

    def __init__(self, env, path: str, n_items: int):
        from als_pyspark_spark.ml.als import ALSEngine, ALSParams

        self.env = env
        self.path = path
        self.n_items = n_items
        self._engine = ALSEngine
        self._params = ALSParams
        self.train = self.test = self.explicit = self.nonneg = None
        self._users = None

    def ops(self) -> list[CallOp]:
        return [
            CallOp("als_load_split", self.load_split, lambda _: None),
            CallOp("als_train_explicit", self.train_explicit, lambda _: None),
            CallOp("als_evaluate", self.evaluate, self._check_explicit),
            CallOp("als_recommend", self.recommend, self._check_recs),
            CallOp("als_train_implicit", self.train_implicit, self._check_implicit),
            CallOp("als_train_nonneg", self.train_nonneg, lambda _: None),
            CallOp("als_evaluate_nonneg", self.evaluate_nonneg, self._check_nonneg),
        ]

    # -- the timed calls ------------------------------------------------------
    def load_split(self, checking: bool):
        df = self.env.spark.read.parquet(self.path)
        train, test = df.randomSplit([0.8, 0.2], seed=17)
        self.train, self.test = train.cache(), test.cache()
        return self.train.count(), self.test.count()

    def train_explicit(self, checking: bool):
        self.explicit = self._engine().train(self.train)

    def evaluate(self, checking: bool) -> float:
        return self.explicit.evaluate(self.test, "rmse")

    def recommend(self, checking: bool):
        recs = self.explicit.recommend_for_all_users(self.K)
        if checking:
            return [(r["user"], r["recommendations"]) for r in recs.collect()]
        recs.write.format("noop").mode("overwrite").save()

    def train_implicit(self, checking: bool):
        return self._engine(self._params(implicit_prefs=True, alpha=10.0)).train(self.train)

    def train_nonneg(self, checking: bool):
        self.nonneg = self._engine(self._params(nonnegative=True)).train(self.train)

    def evaluate_nonneg(self, checking: bool) -> float:
        return self.nonneg.evaluate(self.test, "rmse")

    def release(self) -> None:
        for df in (self.train, self.test):
            if df is not None:
                df.unpersist()
        self.train = self.test = self.explicit = self.nonneg = None
        self._users = None

    # -- the checks (warm-up pass only) ---------------------------------------
    def bounds(self, engine) -> tuple[float, float]:
        """(noise floor, predict-the-mean baseline) over exactly the held-out
        rows the model scored (cold-start rows are dropped)."""
        from pyspark.sql import functions as F

        mean = self.train.agg(F.avg("rating")).first()[0]
        row = engine.predict(self.test).agg(
            F.sqrt(F.avg((F.col("truth") - F.col("rating")) ** 2)),
            F.sqrt(F.avg((F.col("rating") - F.lit(mean)) ** 2)),
        ).first()
        return float(row[0]), float(row[1])

    def reference_rmse(self, **extra) -> float:
        """Held-out RMSE of MLlib's ALS fitted with ``REFERENCE_ALS``."""
        from pyspark.ml.evaluation import RegressionEvaluator
        from pyspark.ml.recommendation import ALS

        als = ALS(coldStartStrategy="drop", **REFERENCE_ALS, **extra)
        preds = als.fit(self.train).transform(self.test)
        return RegressionEvaluator(metricName="rmse", labelCol="rating").evaluate(preds)

    def _check_explicit(self, rmse: float) -> None:
        check_rmse("als_evaluate", rmse, *self.bounds(self.explicit), self.reference_rmse())

    def _check_nonneg(self, rmse: float) -> None:
        check_rmse(
            "als_evaluate_nonneg",
            rmse,
            *self.bounds(self.nonneg),
            self.reference_rmse(nonnegative=True),
        )

    def _train_users(self) -> set:
        if self._users is None:
            self._users = {r[0] for r in self.train.select("user").distinct().collect()}
        return self._users

    def _check_recs(self, recs) -> None:
        check_recommendations(recs, self.K, self._train_users(), self.n_items)

    def _check_implicit(self, engine) -> None:
        factors = engine.user_factors.collect()
        if {r["id"] for r in factors} != self._train_users():
            raise CheckFailed("als_train_implicit: user factors do not cover the training users")
        if any(len(r["features"]) != engine.params.rank for r in factors):
            raise CheckFailed("als_train_implicit: factor rank differs from ALSParams.rank")


def write_ratings(seed: int, sf_dir: str, path: str) -> int:
    """Write the seed's ratings to ``path``; return the catalog size."""
    table = make_ratings(seed, sf_dir)
    pq.write_table(table, path)
    return int(table["item"].to_numpy().max()) + 1
