"""UI-facing serving queries (SURVEY.md §2.8: q_rated_books,
q_community_members — reference ``streamlit_app.py``), and the
driver-held serving tables the recommenders answer from.

A serving table is a node-sized Spark table collected once to the driver
as a key-sorted pandas frame (:func:`driver_table`), while its row count
fits the node-vector rule (``plans.node_vector_fits``). The serving
queries take such a frame in place of the DataFrame and answer on the
driver; over the gate they keep their per-request Spark plans.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from .. import plans
from ..functions.hints import gated_broadcast


def driver_table(df: DataFrame, *key: str) -> pd.DataFrame | None:
    """``df`` on the driver, sorted by ``key``, or None when its row count
    does not fit ``plans.node_vector_fits`` at :func:`plans.row_width`
    bytes a row.

    The gate reads the row count first, so a table over it is never
    collected; one that fits is one Arrow collect. The count is of the
    executed plan's rows, one single-stage job (``DataFrame.count()``
    plans an aggregate: two jobs under adaptive execution). Integer
    columns come back as pandas nullable integers, so a row reads back as
    ``int`` or ``None``, as ``Row.asDict`` does (Arrow hands a nullable
    integer column holding NULLs over as float64)."""
    n_rows = df._jdf.queryExecution().toRdd().count()
    if not plans.node_vector_fits(n_rows, plans.row_width(df)):
        return None
    pdf = nullable_ints(df.toPandas(), df)
    return pdf.sort_values(list(key), kind="stable", ignore_index=True)


def nullable_ints(pdf: pd.DataFrame, df: DataFrame) -> pd.DataFrame:
    """``pdf``, collected from ``df``, with ``df``'s integer columns as
    pandas nullable integers: joins that miss then leave ``<NA>`` in them,
    not a float NaN."""
    ints = [f.name for f in df.schema.fields if isinstance(f.dataType, IntegralType)]
    return pdf.astype({c: "Int64" for c in ints})


def rated_books(ratings: DataFrame, books: DataFrame, user_id: int) -> DataFrame:
    """P4+J1+T3 — one user's rated books, best first.

    Reference ``streamlit_app.py:33-46``::

        MATCH (u:User {id:$userId})-[r:RATED]->(b:Book)
        RETURN b.title AS title, b.author AS author, r.rating AS rating
        ORDER BY r.rating DESC

    Point-lookup filter is pushed into the parquet scan by Catalyst; the
    books dim is broadcast. Tie-break (title, author) added for determinism.
    """
    return (
        ratings.filter(F.col("user_id") == user_id)
        .join(gated_broadcast(books, "dimension leaf: books metadata table, "
                              "small vs the ratings fact side by data model"), "isbn")
        .select("title", "author", "rating")
        .orderBy(F.desc("rating"), F.asc("title"), F.asc("author"))
    )


def community_members(
    users_with_community: DataFrame | pd.DataFrame, min_size: int = 2
) -> DataFrame | pd.DataFrame:
    """A4+A5+U1+T3 — members of communities with more than one user.

    Reference ``streamlit_app.py:15-30``::

        MATCH (u:User) WHERE u.community IS NOT NULL
        WITH u.community AS communityId, COLLECT(u) AS users, COUNT(u) AS size
        WHERE size > 1
        UNWIND users AS user
        RETURN communityId, user.id AS userId ORDER BY communityId, userId

    COLLECT+UNWIND round-trips through an array; relationally that's a
    windowed count — same rows, no array materialization, and it keeps the
    result flat (documented deviation: we also return the community size).

    A driver-held ``users_with_community`` frame gives the same rows as a
    pandas frame.
    """
    if isinstance(users_with_community, pd.DataFrame):
        uc = users_with_community[users_with_community["community"].notna()]
        size = uc.groupby("community")["user_id"].transform("size")
        out = pd.DataFrame({"communityId": uc["community"], "userId": uc["user_id"],
                            "size": size})
        return out[size >= min_size].sort_values(["communityId", "userId"], ignore_index=True)
    w = Window.partitionBy("community")
    return (
        users_with_community.filter(F.col("community").isNotNull())
        .withColumn("size", F.count(F.lit(1)).over(w))
        .filter(F.col("size") >= min_size)
        .select(
            F.col("community").alias("communityId"),
            F.col("user_id").alias("userId"),
            F.col("size").cast("long").alias("size"),
        )
        .orderBy("communityId", "userId")
    )
