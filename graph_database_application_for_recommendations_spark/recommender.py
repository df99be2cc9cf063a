"""App-facing recommender API — the Spark analog of the reference's
recommender modules and Streamlit dispatch (SURVEY.md §3 EP1, §7 phase 4).

The reference picks a recommender module by name (``streamlit_app.py:73-76``)
and each module exposes ``recommend_books`` / ``get_similar_users`` /
``get_graph_data`` returning lists of dicts. This facade mirrors that
surface exactly, on top of the materialized pipeline tables (write-back
pattern, SURVEY.md §3 EP3) — a user of the reference can switch by
swapping the import.
"""

from __future__ import annotations

from typing import Protocol

from pyspark.sql import DataFrame, SparkSession

from .operators import recommend, serving
from .plans.pipeline import PipelineResult, run_pipeline
from .sources.views import RefTables, load_ref_tables


class Recommender(Protocol):
    def recommend_books(self, user_id: int) -> list[dict]: ...

    def get_similar_users(self, user_id: int) -> list[dict]: ...

    def get_graph_data(self, user_id: int) -> list[dict]: ...


def _records(df: DataFrame) -> list[dict]:
    """Bolt-records analog: rows as dicts at the API edge
    (reference ``[record.data() for record in result]``)."""
    return [row.asDict(recursive=True) for row in df.collect()]


class KnnRecommender:
    """reference recommender/recommender_knn.py over SIMILAR_TO."""

    def __init__(self, ref: RefTables, similar_to: DataFrame, k: int = 3):
        self.ref = ref
        self.similar_to = similar_to
        self.k = k

    def recommend_books(self, user_id: int) -> list[dict]:
        return _records(
            recommend.recommend_books_knn(
                self.similar_to, self.ref.ratings, self.ref.books, user_id, self.k
            )
        )

    def get_similar_users(self, user_id: int) -> list[dict]:
        return _records(
            recommend.similar_users_knn(self.similar_to, self.ref.users, user_id, self.k)
        )

    def get_graph_data(self, user_id: int) -> list[dict]:
        return _records(
            recommend.graph_data_knn(self.similar_to, self.ref.ratings, self.ref.books, user_id)
        )


class CommunityRecommender:
    """reference recommender/recommender_community.py over communities."""

    def __init__(self, ref: RefTables, communities: DataFrame, k: int = 3):
        self.ref = ref
        self.users_comm = ref.users.join(communities, "user_id", "left")
        self.k = k

    def recommend_books(self, user_id: int) -> list[dict]:
        return _records(
            recommend.recommend_books_community(
                self.users_comm, self.ref.ratings, self.ref.books, user_id, self.k
            )
        )

    def get_similar_users(self, user_id: int) -> list[dict]:
        return _records(recommend.similar_users_community(self.users_comm, user_id, self.k))

    def get_graph_data(self, user_id: int) -> list[dict]:
        return _records(
            recommend.graph_data_community(
                self.users_comm, self.ref.ratings, self.ref.books, user_id
            )
        )

    def users_in_large_communities(self) -> list[dict]:
        """reference streamlit_app.py:15-30 (the UI's user picker)."""
        return _records(serving.community_members(self.users_comm))


def get_recommender(
    spark: SparkSession,
    sf_dir: str,
    algorithm: str = "knn",
    pipeline: PipelineResult | None = None,
    k: int = 3,
) -> Recommender:
    """The streamlit dispatch analog: pick 'knn' or 'community'
    (reference ``streamlit_app.py:73-76``), running the algorithm pipeline
    (FastRP/KNN/Louvain write-backs) if no precomputed result is supplied."""
    ref = load_ref_tables(spark, sf_dir)
    if pipeline is None:
        pipeline = run_pipeline(spark, sf_dir, knn_cutoff=0.6)
    if algorithm == "knn":
        return KnnRecommender(ref, pipeline.similar_to, k)
    if algorithm == "community":
        return CommunityRecommender(ref, pipeline.communities, k)
    raise ValueError(f"unknown algorithm {algorithm!r}: expected 'knn' or 'community'")
