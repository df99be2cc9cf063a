"""Serving-query catalog: the KNN and community recommenders
(SURVEY.md §2.8: q_knn_*, q_comm_*).

Pure functions over DataFrames; ``similar_to`` / ``communities`` inputs are
the materialized write-back tables (plans/pipeline.py), mirroring the
reference's precompute-then-serve design (SURVEY.md §3 EP3).

Determinism deviations from the reference (documented per SURVEY.md §5):
every ``ORDER BY ... LIMIT`` gets an explicit unique tie-break key, and the
reference's T4 "LIMIT before ORDER BY" picks-3-arbitrary-members quirk is
canonicalized to order-then-limit.

Each recommender function also takes driver-held node tables (the
neighbours, communities, books and users): key-sorted pandas frames from
``serving.driver_table``, the way ``fastrp`` holds a local and a
distributed path. The ratings stay a Spark table, since they are
edge-sized: a call reads the rating rows of the users it needs (the target
and its neighbours or community) with one filtered scan, one Spark job,
and answers on the driver as a pandas frame with the rows, order and
values of the Spark plan. ``similar_users_*`` reads no ratings and runs no
Spark job.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hints import gated_broadcast
from .serving import nullable_ints


def _rows_of(table: pd.DataFrame, col: str, keys) -> pd.DataFrame:
    """The rows of ``table``, sorted by ``col``, whose ``col`` is one of
    ``keys``, key by key: a key listed twice yields its rows twice, as an
    equi-join does."""
    s = table[col].to_numpy()
    lo, hi = s.searchsorted(keys, "left"), s.searchsorted(keys, "right")
    idx = [np.arange(a, b) for a, b in zip(lo, hi)]
    return table.iloc[np.concatenate(idx) if idx else []]


def _ratings_of(ratings: DataFrame, users) -> pd.DataFrame:
    """The ``(user_id, isbn, rating)`` rows of ``users``: one Spark job, a
    scan of the ratings filtered on the user ids as literals."""
    rows = ratings.filter(F.col("user_id").isin([int(u) for u in users]))
    rows = rows.select("user_id", "isbn", "rating")
    return nullable_ints(rows.toPandas(), rows)


def _round6(x: float) -> float:
    """Spark's ``round(x, 6)`` on a double: HALF_UP on its shortest decimal
    form (``BigDecimal.valueOf``), not Python's round-half-even on the
    binary value."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _community_members(users_with_community: pd.DataFrame, user_id: int) -> pd.DataFrame:
    """The rows of the users sharing a community with ``user_id`` (the user
    included), in user order; none when the user has no community."""
    uc = users_with_community
    comm = _rows_of(uc, "user_id", [user_id])["community"].dropna()
    return uc[uc["community"].isin(comm.unique())]


# --- KNN recommender (reference recommender/recommender_knn.py) ---


def recommend_books_knn(
    similar_to: DataFrame | pd.DataFrame,
    ratings: DataFrame,
    books: DataFrame | pd.DataFrame,
    user_id: int,
    k: int = 3,
) -> DataFrame | pd.DataFrame:
    """2-hop expand + anti-join + group-avg + top-k.

    Reference Cypher at ``recommender/recommender_knn.py:11-28``::

        MATCH (target {id:$u})-[:SIMILAR_TO]->(sim)-[r:RATED]->(book)
        WHERE NOT (target)-[:RATED]->(book)
        WITH book, avg(r.rating) AS avgRating, count(*) AS votes
        ORDER BY avgRating DESC, votes DESC LIMIT k
        RETURN book.title, book.author, avgRating, votes
    """
    if isinstance(similar_to, pd.DataFrame):
        dst = _rows_of(similar_to, "src", [user_id])["dst"]
        rows = _ratings_of(ratings, [user_id, *dst])
        rated = rows.loc[rows["user_id"] == user_id, "isbn"]
        cand = rows.merge(dst.rename("user_id"), on="user_id")
        cand = cand[~cand["isbn"].isin(rated)].merge(books, on="isbn")
        agg = (
            cand.groupby(["isbn", "title", "author"], dropna=False)["rating"]
            .agg(["sum", "count", "size"])
            .reset_index()
        )
        agg["avgRating"] = [
            _round6(float(t) / n) if n else None for t, n in zip(agg["sum"], agg["count"])
        ]
        agg = agg.rename(columns={"size": "votes"}).sort_values(
            ["avgRating", "votes", "isbn"], ascending=[False, False, True]
        )
        return agg.head(k)[["title", "author", "avgRating", "votes"]].reset_index(drop=True)
    sim_users = similar_to.filter(F.col("src") == user_id).select("dst")
    already_rated = ratings.filter(F.col("user_id") == user_id).select("isbn")
    return (
        sim_users.join(ratings, sim_users.dst == ratings.user_id)
        .join(already_rated, "isbn", "left_anti")
        .join(gated_broadcast(books, "dimension leaf: books metadata table, small vs the ratings fact side by data model"), "isbn")
        .groupBy("isbn", "title", "author")
        .agg(F.round(F.avg("rating"), 6).alias("avgRating"), F.count(F.lit(1)).alias("votes"))
        .orderBy(F.desc("avgRating"), F.desc("votes"), F.asc("isbn"))
        .limit(k)
        .select("title", "author", "avgRating", "votes")
    )


def similar_users_knn(
    similar_to: DataFrame | pd.DataFrame,
    users: DataFrame | pd.DataFrame,
    user_id: int,
    k: int = 3,
) -> DataFrame | pd.DataFrame:
    """Reference ``recommender/recommender_knn.py:31-45``: distinct similar
    users, LIMIT k. T5 unordered-limit canonicalized: order by similarity
    desc (tie-break user id) before limiting."""
    if isinstance(similar_to, pd.DataFrame):
        nbrs = _rows_of(similar_to, "src", [user_id])
        nbrs = nbrs[nbrs["dst"] != user_id].sort_values(
            ["similarity", "dst"], ascending=[False, True]
        )
        hit = nbrs.head(k)[["dst"]].merge(users, left_on="dst", right_on="user_id")
        return (
            hit.rename(columns={"user_id": "userId"})[["userId", "location", "age"]]
            .sort_values("userId", ignore_index=True)
        )
    return (
        similar_to.filter(F.col("src") == user_id)
        .filter(F.col("dst") != user_id)
        .orderBy(F.desc("similarity"), F.asc("dst"))
        .limit(k)
        .join(users, F.col("dst") == users.user_id)
        .select(F.col("user_id").alias("userId"), "location", "age")
        .orderBy("userId")
    )


def graph_data_knn(
    similar_to: DataFrame | pd.DataFrame,
    ratings: DataFrame,
    books: DataFrame | pd.DataFrame,
    user_id: int,
) -> DataFrame | pd.DataFrame:
    """Triple OPTIONAL MATCH ≡ chained left joins (J6), flattened.

    Reference ``recommender/recommender_knn.py:48-79`` returns (target,
    target's books+ratings, similar users+similarity, their books+ratings)
    with NULLs where a pattern is absent. Node-object columns are flattened
    to scalar columns for a relational result.

    A driver-held ``similar_to`` and ``books`` give the same rows from one
    read of the target's and its neighbours' ratings.
    """
    if isinstance(similar_to, pd.DataFrame):
        nbrs = _rows_of(similar_to, "src", [user_id])
        rated = _ratings_of(ratings, [user_id, *nbrs["dst"]]).merge(books, on="isbn")
        rated = rated[["user_id", "isbn", "title", "rating"]]
        t_books = rated[rated["user_id"] == user_id].iloc[:, 1:]
        t_books.columns = ["t_isbn", "t_title", "t_rating"]
        sims = nbrs[["dst", "similarity"]].set_axis(["sim_id", "similarity"], axis=1)
        # a left join keeps the one target row: NULLs where nothing matched
        t_books, sims = (t if len(t) else t.reindex([0]) for t in (t_books, sims))
        s_books = rated.set_axis(["sim_id", "s_isbn", "s_title", "s_rating"], axis=1)
        return (
            t_books.assign(target_id=user_id)
            .merge(sims, how="cross")
            .merge(s_books, on="sim_id", how="left")
            [["target_id", "t_isbn", "t_title", "t_rating",
              "sim_id", "similarity", "s_isbn", "s_title", "s_rating"]]
        )
    target = ratings.sparkSession.range(user_id, user_id + 1).select(
        F.col("id").alias("target_id")
    )
    t_books = (
        ratings.filter(F.col("user_id") == user_id)
        .join(gated_broadcast(books, "dimension leaf: books metadata table, small vs the ratings fact side by data model"), "isbn")
        .select(
            F.col("isbn").alias("t_isbn"),
            F.col("title").alias("t_title"),
            F.col("rating").alias("t_rating"),
        )
    )
    sim = similar_to.filter(F.col("src") == user_id).select(
        F.col("dst").alias("sim_id"), F.col("similarity")
    )
    s_books = ratings.join(gated_broadcast(books, "dimension leaf: books metadata table, small vs the ratings fact side by data model"), "isbn").select(
        F.col("user_id").alias("sim_id"),
        F.col("isbn").alias("s_isbn"),
        F.col("title").alias("s_title"),
        F.col("rating").alias("s_rating"),
    )
    return (
        target.join(t_books, how="left")
        .join(sim, how="left")
        .join(s_books, on="sim_id", how="left")
        .select(
            "target_id", "t_isbn", "t_title", "t_rating",
            "sim_id", "similarity", "s_isbn", "s_title", "s_rating",
        )
    )


# --- Community recommender (reference recommender/recommender_community.py) ---


def recommend_books_community(
    users_with_community: DataFrame | pd.DataFrame,
    ratings: DataFrame,
    books: DataFrame | pd.DataFrame,
    user_id: int,
    k: int = 3,
    min_rating: int = 6,
) -> DataFrame | pd.DataFrame:
    """Reference ``recommender/recommender_community.py:11-32``: books rated
    >= 6 by same-community users, excluding already-read, top-k by vote count
    (tie-break title, author for determinism)."""
    if isinstance(users_with_community, pd.DataFrame):
        peers = _community_members(users_with_community, user_id)["user_id"]
        peers = peers[peers != user_id]
        rows = _ratings_of(ratings, [user_id, *peers])
        rated = rows.loc[rows["user_id"] == user_id, "isbn"]
        cand = rows[rows["user_id"].isin(peers)]
        cand = cand[(cand["rating"] >= min_rating) & ~cand["isbn"].isin(rated)]
        agg = (
            cand.merge(books, on="isbn")
            .groupby(["title", "author"], dropna=False)
            .size()
            .reset_index(name="recommendCount")
            .sort_values(["recommendCount", "title", "author"],
                         ascending=[False, True, True], na_position="first")
        )
        return agg.head(k).reset_index(drop=True)
    target_comm = users_with_community.filter(F.col("user_id") == user_id).select("community")
    peers = (
        users_with_community.join(gated_broadcast(target_comm, "point-lookup: one user's community row(s), <= a handful by key"), "community", "left_semi")
        .filter(F.col("user_id") != user_id)
        .select("user_id")
    )
    already_rated = ratings.filter(F.col("user_id") == user_id).select("isbn")
    return (
        ratings.filter(F.col("rating") >= min_rating)
        .join(peers, "user_id", "left_semi")
        .join(already_rated, "isbn", "left_anti")
        .join(gated_broadcast(books, "dimension leaf: books metadata table, small vs the ratings fact side by data model"), "isbn")
        .groupBy("title", "author")
        .agg(F.count(F.lit(1)).alias("recommendCount"))
        .orderBy(F.desc("recommendCount"), F.asc("title"), F.asc("author"))
        .limit(k)
    )


def similar_users_community(
    users_with_community: DataFrame | pd.DataFrame, user_id: int, k: int = 3
) -> DataFrame | pd.DataFrame:
    """Reference ``recommender/recommender_community.py:35-55``.

    T4 quirk (DISTINCT ... LIMIT 3 *then* ORDER BY — arbitrary members) is
    canonicalized: order by user_id before the limit. Documented deviation.
    """
    if isinstance(users_with_community, pd.DataFrame):
        peers = _community_members(users_with_community, user_id)
        peers = peers[peers["user_id"] != user_id]
        return (
            peers.rename(columns={"user_id": "userId"})[["userId", "location", "age"]]
            .head(k)
            .reset_index(drop=True)
        )
    target_comm = users_with_community.filter(F.col("user_id") == user_id).select("community")
    return (
        users_with_community.join(gated_broadcast(target_comm, "point-lookup: one user's community row(s), <= a handful by key"), "community", "left_semi")
        .filter(F.col("user_id") != user_id)
        .select(F.col("user_id").alias("userId"), "location", "age")
        .orderBy("userId")
        .limit(k)
    )


def graph_data_community(
    users_with_community: DataFrame | pd.DataFrame,
    ratings: DataFrame,
    books: DataFrame | pd.DataFrame,
    user_id: int,
) -> DataFrame | pd.DataFrame:
    """Reference ``recommender/recommender_community.py:58-72``: all rating
    edges within the target's community, flattened (user, book, rating).

    A driver-held ``users_with_community`` and ``books`` give the same rows
    from one read of the members' ratings."""
    if isinstance(users_with_community, pd.DataFrame):
        members = _community_members(users_with_community, user_id)
        members = members[["user_id", "location", "age"]]
        return (
            members.merge(_ratings_of(ratings, members["user_id"]), on="user_id")
            .merge(books, on="isbn")
            .rename(columns={"user_id": "userId"})
            [["userId", "location", "age", "isbn", "title", "author", "rating"]]
        )
    target_comm = users_with_community.filter(F.col("user_id") == user_id).select("community")
    members = users_with_community.join(gated_broadcast(target_comm, "point-lookup: one user's community row(s), <= a handful by key"), "community", "left_semi")
    return (
        members.join(ratings, "user_id")
        .join(gated_broadcast(books, "dimension leaf: books metadata table, small vs the ratings fact side by data model"), "isbn")
        .select(
            F.col("user_id").alias("userId"), "location", "age",
            "isbn", "title", "author", "rating",
        )
    )


def implicit_training_samples(
    ratings: DataFrame, k: int = 4, min_rating: int = 6
) -> DataFrame:
    """(user_id, isbn, label): the implicit-feedback training table a
    BPR/ALS-style ranker consumes (Rendle et al. 2009) — every positive
    interaction plus up to ``k`` deterministic negatives per user,
    uniformly drawn from the item catalog with md5 arithmetic instead
    of an RNG, so the table is reproducible across runs, engines and
    cluster sizes (the property a training-data export must have).

    Draw protocol: 2k indexed candidates per user (j = 0..2k−1, item =
    catalog[md5(user#j) mod |catalog|]), drop draws that hit the user's
    positives or duplicate an earlier draw (smallest j wins), keep the
    first k by draw order. Heavy raters can exhaust the candidate pool
    and emit fewer than k negatives — by contract, not silently (the
    2k oversample makes that rare at realistic catalog sizes).

    Plan: the item catalog gets a contiguous index via a window over the
    DISTINCT item table (dimension-bounded, the sanctioned shape), then
    broadcasts onto the per-user candidate explosion; positives knock
    out candidates with one anti-join."""
    from ..functions.text import md5_hash32

    pos = (
        ratings.filter(F.col("rating") >= min_rating)
        .select("user_id", "isbn")
        .distinct()
    )
    items = pos.select("isbn").distinct()
    w = Window.orderBy("isbn")
    idx = items.withColumn("_idx", F.row_number().over(w) - 1)
    n_items = idx.agg(F.count(F.lit(1)).alias("_n"))
    draws = (
        pos.select("user_id")
        .distinct()
        .crossJoin(gated_broadcast(n_items, "1-row global aggregate"))
        .select(
            "user_id",
            "_n",
            F.explode(F.sequence(F.lit(0), F.lit(2 * k - 1))).alias("_j"),
        )
        .select(
            "user_id",
            "_j",
            F.pmod(
                md5_hash32(
                    F.concat_ws("#", F.col("user_id"), F.col("_j")), seed=0
                ),
                F.col("_n"),
            ).alias("_idx"),
        )
        .join(gated_broadcast(idx, "item-catalog dimension: one (isbn, idx) row per distinct item"), "_idx")
    )
    # drop positive hits, dedup repeated draws (smallest j wins), keep k
    clean = (
        draws.join(pos, ["user_id", "isbn"], "left_anti")
        .withColumn(
            "_rn_item",
            F.row_number().over(
                Window.partitionBy("user_id", "isbn").orderBy("_j")
            ),
        )
        .where(F.col("_rn_item") == 1)
        .withColumn(
            "_rn", F.row_number().over(Window.partitionBy("user_id").orderBy("_j"))
        )
        .where(F.col("_rn") <= k)
    )
    return pos.select("user_id", "isbn", F.lit(1).alias("label")).unionByName(
        clean.select("user_id", "isbn", F.lit(0).alias("label"))
    )


def holdout_hit_flags(
    ratings: DataFrame, k: int = 10, min_rating: int = 6
) -> DataFrame:
    """(user_id, hit, _hit_rank): leave-one-out offline
    evaluation of the item-based CF recommender (Sarwar et al. 2001
    scoring; the standard HR@k protocol, e.g. the NCF evaluation
    setup) — with an md5-deterministic holdout instead of a random one
    so both engines evaluate the identical experiment.

    Per user with >= 2 positives: hold out the positive with the
    largest md5(user#item) hash; build item-item Jaccard on the
    REMAINING interactions; score each unseen candidate by the SUM of
    its similarities to the user's train items; hit iff the held-out
    item ranks in the top-k (score rounded 6dp before ranking, ties by
    item id). hit_rate = n_hits / n_users, 6dp.

    Plan: user-keyed self-join for item co-occurrence (the item-CF
    kernel), degree broadcast, per-user ranking windows. The eval
    reduces to one row."""
    from ..functions.text import md5_hash32

    pos = (
        ratings.filter(F.col("rating") >= min_rating)
        .select("user_id", "isbn")
        .distinct()
    )
    eligible = (
        pos.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("_np"))
        .where(F.col("_np") >= 2)
        .select("user_id")
    )
    hv = pos.join(eligible, "user_id", "left_semi").withColumn(
        "_h", md5_hash32(F.concat_ws("#", F.col("user_id"), F.col("isbn")), seed=0)
    )
    w_ho = Window.partitionBy("user_id").orderBy(F.desc("_h"), F.asc("isbn"))
    marked = hv.withColumn("_rn", F.row_number().over(w_ho))
    holdout = marked.where(F.col("_rn") == 1).select("user_id", "isbn")
    train = marked.where(F.col("_rn") > 1).select("user_id", "isbn")

    a = train.select("user_id", F.col("isbn").alias("i1"))
    b = train.select("user_id", F.col("isbn").alias("i2"))
    inter = (
        a.join(b, "user_id")
        .filter(F.col("i1") != F.col("i2"))
        .groupBy("i1", "i2")
        .agg(F.count(F.lit(1)).alias("_w"))
    )
    deg = train.groupBy("isbn").agg(F.count(F.lit(1)).alias("_deg"))
    sim = (
        inter.join(gated_broadcast(deg.select(F.col("isbn").alias("i1"), F.col("_deg").alias("_d1")), "item-catalog dimension: per-item degree rows"), "i1")
        .join(gated_broadcast(deg.select(F.col("isbn").alias("i2"), F.col("_deg").alias("_d2")), "item-catalog dimension: per-item degree rows"), "i2")
        .select(
            "i1",
            "i2",
            F.round(F.col("_w") / (F.col("_d1") + F.col("_d2") - F.col("_w")), 6).alias(
                "_s"
            ),
        )
    )
    scores = (
        train.join(sim, train["isbn"] == sim["i1"])
        .groupBy("user_id", F.col("i2").alias("cand"))
        .agg(F.round(F.sum("_s"), 6).alias("_score"))
        .join(
            train.select("user_id", F.col("isbn").alias("cand")),
            ["user_id", "cand"],
            "left_anti",
        )
    )
    w_rank = Window.partitionBy("user_id").orderBy(F.desc("_score"), F.asc("cand"))
    topk = scores.withColumn("_r", F.row_number().over(w_rank)).where(F.col("_r") <= k)
    hits = topk.join(
        holdout.select("user_id", F.col("isbn").alias("cand")), ["user_id", "cand"]
    )
    # per-user outcome flags: the bootstrap-CI face resamples these
    flags = eligible.join(
        hits.select("user_id", F.col("_r").alias("_hit_rank")), "user_id", "left"
    ).select(
        "user_id",
        F.when(F.col("_hit_rank").isNotNull(), 1).otherwise(0).alias("hit"),
        "_hit_rank",
    )
    return flags


def holdout_hitrate(
    ratings: DataFrame, k: int = 10, min_rating: int = 6
) -> DataFrame:
    """One row (k, n_users, n_hits, hit_rate, ndcg): the
    ``holdout_hit_flags`` rollup — see that function for the protocol."""
    flags = holdout_hit_flags(ratings, k, min_rating)
    return flags.agg(
        F.lit(int(k)).alias("k"),
        F.count(F.lit(1)).alias("n_users"),
        F.sum("hit").alias("n_hits"),
        F.round(F.sum("hit") / F.count(F.lit(1)), 6).alias("hit_rate"),
        # single-holdout NDCG@k: gain 1/log2(1+rank) on hit, 0 on miss
        F.round(
            F.coalesce(
                F.sum(F.lit(1.0) / F.log2(F.col("_hit_rank") + 1)), F.lit(0.0)
            )
            / F.count(F.lit(1)),
            6,
        ).alias("ndcg"),
    )
