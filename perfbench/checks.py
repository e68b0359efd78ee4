"""Output checks of the benchmark.

Every operation's output is checked once per run, in the warm-up pass, and
never inside a timed pass. Oracled registry queries are compared with their
DuckDB oracle through ``canon.compare_result`` (DuckDB time is verification
time, never engine time); the rows-only IVF query is checked through its
in-row recall witness; the ALS calls are gated on model quality.
"""

from __future__ import annotations

import duckdb

from als_pyspark_spark.canon import compare_result
from als_pyspark_spark.sources.tables import TABLES


class CheckFailed(Exception):
    """An operation ran but its output is wrong."""


class Oracle:
    """DuckDB over the same parquet files the engine reads."""

    def __init__(self, sf_dir: str):
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def compare(self, name: str, sql: str, rows, cols) -> None:
        try:
            compare_result(rows, cols, self.con.execute(sql).fetchdf(), name)
        except (AssertionError, TypeError) as exc:
            raise CheckFailed(str(exc)[:500]) from exc

    def close(self) -> None:
        self.con.close()


def check_recall_witness(name: str, rows, cols, top_k: int = 10) -> None:
    """Rows-only ANN queries carry their own recall@k against brute force:
    every row must report the query set within the 0.5 mean-recall floor."""
    if not rows:
        raise CheckFailed(f"{name}: no rows")
    rec = [dict(zip(cols, r)) for r in rows]
    if not all(r["within_bound"] for r in rec):
        raise CheckFailed(f"{name}: recall witness below its bound")
    per_query: dict = {}
    for r in rec:
        per_query.setdefault(r["query_id"], []).append(r)
    if any(len(v) > top_k for v in per_query.values()):
        raise CheckFailed(f"{name}: more than {top_k} neighbours for a query")
    recall = [v[0]["recall10"] for v in per_query.values()]
    if sum(recall) / len(recall) < 0.5:
        raise CheckFailed(f"{name}: mean recall@{top_k} {sum(recall) / len(recall):.3f} < 0.5")


# How far held-out RMSE may rise above the reference model's. One ALS
# iteration fewer (9 instead of 10) raised it by 0.009 to 0.053 on seeds 1-6.
RMSE_MARGIN = 0.005


def check_rmse(name: str, rmse: float, floor: float, baseline: float, reference: float) -> None:
    """Held-out RMSE must beat predicting the training mean, cannot beat the
    noise the generator planted (that would mean test rows leaked) and must
    stay within ``RMSE_MARGIN`` of the reference model on the same split."""
    if not floor <= rmse < baseline:
        raise CheckFailed(
            f"{name}: rmse {rmse:.4f} outside [noise floor {floor:.4f}, "
            f"mean baseline {baseline:.4f})"
        )
    if rmse > reference + RMSE_MARGIN:
        raise CheckFailed(
            f"{name}: rmse {rmse:.4f} worse than the reference model's {reference:.4f} "
            f"by more than {RMSE_MARGIN}"
        )


def check_recommendations(recs, k: int, users: set, n_items: int) -> None:
    """Every training user gets exactly ``k`` distinct catalog items."""
    seen = set()
    for user, items in recs:
        ids = [r["item"] for r in items]
        if len(ids) != k or len(set(ids)) != k:
            raise CheckFailed(f"recommend: user {user} got {len(ids)} items, want {k}")
        if not all(0 <= i < n_items for i in ids):
            raise CheckFailed(f"recommend: user {user} got an item outside the catalog")
        seen.add(user)
    if seen != users:
        raise CheckFailed(
            f"recommend: {len(seen)} users got recommendations, {len(users)} trained"
        )
