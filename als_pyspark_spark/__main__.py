"""Drop-in CLI for the reference's ``__main__`` demo (reference
ALS.py:581-631): read a ``user,item,rating`` text file, train ALS, score
the training pairs, print the MSE and timings.

    python -m als_pyspark_spark path/to/ratings.csv \
        [--rank 10] [--max-iter 5] [--reg-param 0.01] [--implicit] \
        [--nonnegative] [--seed 0] [--top-k 0] \
        [--num-user-blocks 10] [--num-item-blocks N]

With no file argument it runs on the deterministic ratings fixture derived
from the sf0.001 test tables — the same flagship flow as
``__spark_entry__.entry``.

Differences from the reference, on purpose:
- predictions stay distributed (the reference ``collect()``s and prints
  every prediction — a driver OOM at any real scale; we print the MSE and,
  with --top-k, the first rows of the recommendation table)
- defaults mirror the reference demo (rank 10, 5 iterations, reg 0.01)
- the broken reference paths work here: --implicit (D1), --nonnegative
  (D3), --seed honored (D4)
"""

from __future__ import annotations

import argparse
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="als_pyspark_spark")
    ap.add_argument("ratings", nargs="?", default=None,
                    help="user,item,rating CSV/text file (reference test.data format)")
    ap.add_argument("--rank", type=int, default=10)
    ap.add_argument("--max-iter", type=int, default=5)
    ap.add_argument("--reg-param", type=float, default=0.01)
    ap.add_argument("--num-user-blocks", type=int, default=10,
                    help="user blocks; each seeds its own initial factors, so "
                    "this count is part of the model (default: the reference's 10)")
    ap.add_argument("--num-item-blocks", type=int, default=None,
                    help="item blocks (layout only; default: derived from the "
                    "row count, one per 125,000 ratings, at most --num-user-blocks)")
    ap.add_argument("--implicit", action="store_true")
    ap.add_argument("--alpha", type=float, default=1.0)
    ap.add_argument("--nonnegative", action="store_true")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--top-k", type=int, default=0,
                    help="also print the first rows of top-k recommendations per user")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001",
                    help="fixture dir used when no ratings file is given")
    args = ap.parse_args(argv)

    from als_pyspark_spark.ml.als import ALSEngine, ALSParams
    from als_pyspark_spark.session import build_session

    spark = build_session("als-cli")
    spark.sparkContext.setLogLevel("ERROR")

    if args.ratings:
        df = (
            spark.read.schema("user bigint, item bigint, rating double")
            .option("header", "false")
            .csv(args.ratings)
        )
    else:
        from als_pyspark_spark.sources.ratings import ratings as fixture_ratings

        df = fixture_ratings(spark, args.sf_dir)
    # Deriving the item-block count, training and scoring each read the
    # input; cache it so the file (or the fixture join) is scanned once.
    df = df.cache()

    engine = ALSEngine(
        ALSParams(
            rank=args.rank,
            max_iter=args.max_iter,
            reg_param=args.reg_param,
            num_user_blocks=args.num_user_blocks,
            num_item_blocks=args.num_item_blocks,
            implicit_prefs=args.implicit,
            alpha=args.alpha,
            nonnegative=args.nonnegative,
            seed=args.seed,
        )
    )

    t0 = time.time()
    engine.train(df)
    print(f"training time {time.time() - t0:.3f}s")

    t0 = time.time()
    mse = engine.evaluate(df, "mse")
    print(f"mse {mse:.6f}")
    print(f"scoring time {time.time() - t0:.3f}s")

    if args.top_k > 0:
        engine.recommend_for_all_users(args.top_k).show(10, truncate=False)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
