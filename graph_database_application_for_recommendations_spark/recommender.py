"""App-facing recommender API — the Spark analog of the reference's
recommender modules and Streamlit dispatch (SURVEY.md §3 EP1, §7 phase 4).

The reference picks a recommender module by name (``streamlit_app.py:73-76``)
and each module exposes ``recommend_books`` / ``get_similar_users`` /
``get_graph_data`` returning lists of dicts. This facade mirrors that
surface exactly, on top of the materialized pipeline tables (write-back
pattern, SURVEY.md §3 EP3) — a user of the reference can switch by
swapping the import.

Serving by key: at construction a recommender collects its node tables
to the driver (``serving.driver_table``, a row count and one Arrow collect
a table): ``similar_to`` or each user's community, plus the books and
users its ``RefTables`` holds once for every recommender over it
(``RefTables.driver_held``). While every table fits the node-vector rule
(``plans.node_vector_fits``), ``get_similar_users`` and the user picker
answer on the driver with no Spark job, and ``recommend_books`` and
``get_graph_data`` with one: a filtered scan of the ratings, which are
edge-sized and stay in Spark, for the rows of the target and its
neighbours or community. Over the gate every call runs its per-request
Spark plan.
"""

from __future__ import annotations

from typing import Protocol

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .operators import recommend, serving
from .operators.serving import driver_table
from .plans.pipeline import PipelineResult, run_pipeline
from .sources.views import RefTables


class Recommender(Protocol):
    def recommend_books(self, user_id: int) -> list[dict]: ...

    def get_similar_users(self, user_id: int) -> list[dict]: ...

    def get_graph_data(self, user_id: int) -> list[dict]: ...


def _records(df: DataFrame | pd.DataFrame) -> list[dict]:
    """Bolt-records analog: rows as dicts at the API edge
    (reference ``[record.data() for record in result]``)."""
    if isinstance(df, pd.DataFrame):  # plain Python values: int, not numpy.int64; None
        return df.astype(object).where(df.notna(), None).to_dict("records")
    return [row.asDict(recursive=True) for row in df.collect()]


class KnnRecommender:
    """reference recommender/recommender_knn.py over SIMILAR_TO."""

    def __init__(self, ref: RefTables, similar_to: DataFrame, k: int = 3):
        self.ref = ref
        self.similar_to = similar_to
        self.k = k
        held = ref.driver_held
        sim = None if held is None else driver_table(similar_to, "src", "dst")
        if sim is None:  # over the gate: the per-request Spark plans
            sim, held = similar_to, (ref.books, ref.users)
        self._sim = sim
        self._books, self._users = held

    def recommend_books(self, user_id: int) -> list[dict]:
        return _records(recommend.recommend_books_knn(
            self._sim, self.ref.ratings, self._books, user_id, self.k))

    def get_similar_users(self, user_id: int) -> list[dict]:
        return _records(recommend.similar_users_knn(self._sim, self._users, user_id, self.k))

    def get_graph_data(self, user_id: int) -> list[dict]:
        return _records(
            recommend.graph_data_knn(self._sim, self.ref.ratings, self._books, user_id)
        )


class CommunityRecommender:
    """reference recommender/recommender_community.py over communities."""

    def __init__(self, ref: RefTables, communities: DataFrame, k: int = 3):
        self.ref = ref
        self.users_comm = ref.users.join(communities, "user_id", "left")
        self.k = k
        held = ref.driver_held
        comm = None if held is None else driver_table(
            communities.select("user_id", "community"), "user_id")
        if comm is None:  # over the gate: the per-request Spark plans
            self._users_comm, self._books = self.users_comm, ref.books
        else:
            self._books, users = held
            self._users_comm = users.merge(comm, on="user_id", how="left")

    def recommend_books(self, user_id: int) -> list[dict]:
        return _records(recommend.recommend_books_community(
            self._users_comm, self.ref.ratings, self._books, user_id, self.k))

    def get_similar_users(self, user_id: int) -> list[dict]:
        return _records(recommend.similar_users_community(self._users_comm, user_id, self.k))

    def get_graph_data(self, user_id: int) -> list[dict]:
        return _records(recommend.graph_data_community(
            self._users_comm, self.ref.ratings, self._books, user_id))

    def users_in_large_communities(self) -> list[dict]:
        """reference streamlit_app.py:15-30 (the UI's user picker)."""
        return _records(serving.community_members(self._users_comm))


def get_recommender(
    spark: SparkSession,
    sf_dir: str,
    algorithm: str = "knn",
    pipeline: PipelineResult | None = None,
    k: int = 3,
) -> Recommender:
    """The streamlit dispatch analog: pick 'knn' or 'community'
    (reference ``streamlit_app.py:73-76``), running the algorithm pipeline
    (FastRP/KNN/Louvain write-backs) over ``sf_dir`` if no precomputed
    result is supplied. The recommender serves the reference tables the
    pipeline read, so recommenders of one pipeline share their driver-held
    books and users (``RefTables.driver_held``)."""
    if pipeline is None:
        pipeline = run_pipeline(spark, sf_dir, knn_cutoff=0.6)
    if algorithm == "knn":
        return KnnRecommender(pipeline.ref, pipeline.similar_to, k)
    if algorithm == "community":
        return CommunityRecommender(pipeline.ref, pipeline.communities, k)
    raise ValueError(f"unknown algorithm {algorithm!r}: expected 'knn' or 'community'")
