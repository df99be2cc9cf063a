"""ALS matrix-factorization recommender — the Spark-native counterpart of
the reference's similarity recommenders (recommender/recommender_knn.py,
recommender_community.py): where those walk explicit similarity edges,
ALS (Koren/Hu et al., public; MLlib's `pyspark.ml.recommendation.ALS`)
factorizes the rating matrix and serves top-k from the latent factors.

Scale notes: MLlib ALS is the canonical 100 TB collaborative filter —
block-partitioned normal equations, no driver-side factor state; rank and
block count are the knobs. Outputs are float-iterative and partitioning-
dependent, so the registered query is rows-only with an invariant twin
(q_recsys_als_invariants): factor shapes and coverage are SQL-anchored,
and the train-set RMSE must beat the global-mean baseline — a bar a
broken factorization cannot pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def als_model(
    ratings: DataFrame,
    rank: int = 8,
    max_iter: int = 8,
    reg: float = 0.1,
    seed: int = 42,
):
    """Fitted MLlib ALS model over (user_id, isbn, rating). ISBNs are
    string keys; ALS needs integer ids, so items are indexed by a
    deterministic dense rank (sorted isbn) — reproducible across runs,
    no StringIndexer fit state to persist.

    The rank is computed WITHOUT an unpartitioned catalog-wide window
    (ADVICE r4): the same two-level prefix sum as ``packing.pack_chunks``
    — items block on their isbn prefix (lexicographic order is prefix-
    consistent, so block-then-within-block ordering IS the global isbn
    order), an exclusive prefix over the tiny block histogram yields each
    block's id offset (the only unpartitioned window input is the
    distinct-prefix dimension), and a PARTITIONED per-block row_number
    finishes the rank. Identical ids to the old global dense rank at any
    catalog size."""
    from pyspark.ml.recommendation import ALS
    from pyspark.sql import Window

    items = ratings.select("isbn").distinct().withColumn(
        "_blk", F.substring("isbn", 1, 4)
    )
    hist = items.groupBy("_blk").agg(F.count(F.lit(1)).alias("_c"))
    w_blk = Window.orderBy("_blk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = hist.select(
        "_blk", F.coalesce(F.sum("_c").over(w_blk), F.lit(0)).alias("_off")
    )
    w_in = Window.partitionBy("_blk").orderBy("isbn")
    # materialize both: item_ids feeds three consumers (train, the seen
    # anti-join via train's lineage, and the serving join-back) and train
    # feeds two (the fit and the seen set) — unpinned, the id-assignment
    # subplan re-executed per consumer, which was the whole r04→r05 ALS
    # drift (controlled experiment at sf0.1, local[32]: ~0.7s subplan ×
    # ~3 recomputes ≈ the observed +2.8s; pinned, 8.90s → 5.98s min-of-3)
    from . import materialize

    from ..functions.hints import gated_broadcast

    item_ids = materialize(
        items.join(
            gated_broadcast(offsets, "per-block prefix histogram: one row "
                            "per _blk bucket, bucket count fixed at "
                            "construction"),
            "_blk",
        )
        .withColumn(
            "item_id",
            (F.col("_off") + F.row_number().over(w_in)).cast("int"),
        )
        .select("isbn", "item_id")
    )
    train = materialize(
        ratings.join(item_ids, "isbn")
        .select(
            F.col("user_id").cast("int").alias("user"),
            F.col("item_id").alias("item"),
            F.col("rating").cast("float").alias("rating"),
        )
    )
    als = ALS(
        rank=rank,
        maxIter=max_iter,
        regParam=reg,
        seed=seed,
        userCol="user",
        itemCol="item",
        ratingCol="rating",
        coldStartStrategy="drop",
        nonnegative=False,
    )
    return als.fit(train), train, item_ids


def als_recommendations(
    ratings: DataFrame,
    k: int = 3,
    rank: int = 8,
    max_iter: int = 8,
    seed: int = 42,
) -> DataFrame:
    """(user_id, isbn, score): top-k unseen-item recommendations per user
    from the factorization — the ALS face of the serving catalog's
    recommend_books queries (already-rated items anti-joined out, scores
    rounded 6dp, deterministic tie-break)."""
    from pyspark.sql import Window

    model, train, item_ids = als_model(ratings, rank=rank, max_iter=max_iter, seed=seed)
    recs = model.recommendForAllUsers(k + 50)  # headroom before the anti-join
    flat = recs.select(
        F.col("user").alias("user_id"),
        F.explode("recommendations").alias("r"),
    ).select(
        "user_id",
        F.col("r.item").alias("item_id"),
        F.round(F.col("r.rating").cast("double"), 6).alias("score"),
    )
    seen = train.select(F.col("user").alias("user_id"), F.col("item").alias("item_id"))
    w = Window.partitionBy("user_id").orderBy(F.desc("score"), F.asc("item_id"))
    return (
        flat.join(seen, ["user_id", "item_id"], "left_anti")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .join(item_ids, "item_id")
        .select("user_id", "isbn", "score")
    )


def als_train_rmse(ratings: DataFrame, rank: int = 8, max_iter: int = 8, seed: int = 42):
    """(rmse, baseline_rmse, n_users, n_items): train-set RMSE of the
    factorization vs the global-mean predictor — the invariant the
    driver-attestable twin checks (rmse < baseline is earned, counts are
    SQL-anchored)."""
    model, train, _ = als_model(ratings, rank=rank, max_iter=max_iter, seed=seed)
    pred = model.transform(train)
    mean = train.agg(F.avg("rating")).first()[0]
    base = train.agg(
        F.sqrt(F.avg(F.pow(F.col("rating") - F.lit(mean), 2))).alias("b")
    ).first()["b"]
    rmse = pred.agg(
        F.sqrt(F.avg(F.pow(F.col("rating") - F.col("prediction"), 2))).alias("r")
    ).first()["r"]
    n_users = train.select("user").distinct().count()
    n_items = train.select("item").distinct().count()
    return float(rmse), float(base), n_users, n_items
