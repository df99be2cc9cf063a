"""The precompute-then-serve pipeline (SURVEY.md §3 EP3).

Reference flow (``algorithms/Alg_KNN_FastRP.py:140-163`` and
``Alg_Community_Detection.py:53-60``): project graph → FastRP write-back →
KNN write-back → Louvain write-back; serving queries then read the
precomputed properties. GDS "write-back into the database" maps to
materialized parquet tables; each serving query reads them like the
reference's Cypher reads node properties.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import cache, cached_property

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.corating import corating_edges
from ..operators.knn import knn_exact_local, knn_exact_local_arrays, knn_ivf
from ..sources.views import RefTables, load_ref_tables
from . import fastrp as _fastrp
from .graphs import bipartite_rating_graph

#: Users up to which the pipeline's KNN stage solves exactly on the driver;
#: past it the IVF candidate join (``knn_ivf``) takes over.
KNN_EXACT_MAX_USERS = 50_000


def _bipartite_fastrp_arrays(ratings: DataFrame, dim: int, seed: int):
    """Driver-local FastRP over the bipartite rating graph, skipping the
    string-keyed graph materialization: ``(ids, final, user_ids, user_mat)``
    or ``None`` when the doubled edge count exceeds the local gate.

    Contract: the same rows as ``fastrp(*bipartite_rating_graph(ratings))``
    up to float noise in the last ulps — the rows-only tolerance of the
    ``q_pipeline_*`` queries, which round embedding values to 6dp:

    - the gate compares the same number (|doubled edges| = 2·|ratings|);
    - the edge multiset matches: ``[u→b]`` then ``[b→u]`` over one collect
      of the directed rows is the generic path's ``undirected(directed)``;
    - node NUMBERING is free (see ``_fastrp_local_solve``: every node's
      output column is independent of the ordinal scheme), so users map
      through a numeric searchsorted and books through one
      ``pd.factorize`` of the isbn strings (uniques ranked in string
      order) instead of the generic path's 2·|E| string-hash lookups —
      any isbn string maps, non-digit and zero-padded keys included;
    - bipartite graphs built from the rating list have no isolated nodes
      by construction (every node id comes from a rating row), matching
      the generic path's ``has_isolated == False`` branch.

    The two paths are also bit-identical today, but only because Spark
    collects ``directed.unionByName(flipped)`` as [directed rows; flipped
    rows], each in the ratings cache's scan order, which fixes the edge
    ROW ORDER and so the float summation order. Spark does not promise
    that order; test_pipeline_local_arrays_match_generic_path pins it.

    What this removes vs the generic local path, per run (guide §4 shrink
    the Python boundary, §1.2 don't compute what you throw away): the
    nodes-distinct job + its collect, half the edge-collect bytes (|E|
    numeric rows instead of 2·|E| prefixed-string rows), and the 2·|E|
    string-hash id→ordinal lookups.
    """
    import numpy as np
    import pandas as pd

    ratings = ratings.cache()  # no-op when the caller already cached it
    n_directed = ratings.count()
    if not (0 < 2 * n_directed <= _fastrp.LOCAL_MAX_EDGES):
        return None
    ep = ratings.select(
        "user_id", "isbn", F.col("rating").cast("double").alias("weight")
    ).toPandas()
    users = ep["user_id"].to_numpy(dtype=np.int64)
    w_dir = ep["weight"].to_numpy(dtype=np.float64)
    u_sorted = np.unique(users)
    # factorize hashes the |E| isbn strings once and only the distinct
    # keys get sorted; np.unique would sort all |E| strings
    codes, uniques = pd.factorize(ep["isbn"])
    b_keys = uniques.to_numpy().astype("U")
    order = np.argsort(b_keys)
    b_keys = b_keys[order]
    rank = np.empty_like(order)
    rank[order] = np.arange(len(order))
    nb = len(b_keys)
    u_ord = nb + np.searchsorted(u_sorted, users)
    b_ord = rank[codes]
    # doubled edges in the generic path's collected row order
    src = np.concatenate([u_ord, b_ord])
    dst = np.concatenate([b_ord, u_ord])
    w = np.concatenate([w_dir, w_dir])
    ids = np.concatenate(
        [
            np.char.add("b:", b_keys),
            np.char.add("u:", u_sorted.astype("U")),
        ]
    ).astype(object)
    final = _fastrp._fastrp_local_solve(
        ids, src, dst, w, dim, _fastrp.DEFAULT_ITERATION_WEIGHTS, seed
    )
    # the user block, ids ascending — what user_embeddings_from_fastrp +
    # knn_exact_local's sort would produce (numeric sort == the cast-long
    # sort of the split node ids)
    return ids, final, u_sorted, final[:, nb:].T


class PipelineResult:
    """Lazily-evaluated pipeline stages.

    The community stage (Louvain) runs driver-side iteration loops with
    actions inside — eager construction would pay that cost even for
    callers that only read ``similar_to``. Each stage runs on first access
    and its result is kept; ``embeddings``/``similar_to`` may be reassigned
    (e.g. wrapped in ``.cache()``) by callers.
    """

    def __init__(
        self,
        ref: RefTables,
        embeddings_fn: Callable[[], DataFrame],
        similar_to_fn: Callable[[], DataFrame],
        communities_fn: Callable[[], tuple[DataFrame, float]],
    ):
        self.ref = ref
        self._embeddings_fn = embeddings_fn
        self._similar_to_fn = similar_to_fn
        self._communities_fn = communities_fn

    @cached_property
    def embeddings(self) -> DataFrame:
        return self._embeddings_fn()

    @cached_property
    def similar_to(self) -> DataFrame:
        return self._similar_to_fn()

    @cached_property
    def _community_stage(self) -> tuple[DataFrame, float]:
        return self._communities_fn()

    @property
    def communities(self) -> DataFrame:
        return self._community_stage[0]

    @property
    def modularity(self) -> float:
        return self._community_stage[1]


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str | None = None,
    dim: int = 64,
    knn_top_k: int = 20,
    knn_cutoff: float = 0.8,
    seed: int = 42,
) -> PipelineResult:
    """End-to-end algorithm pipeline over the reference-shaped tables.

    KNN parameters default to the reference call site
    (Alg_KNN_FastRP.py:158: topK=20, cutoff=0.8) — meaningful here because
    FastRP embeddings of co-rated users genuinely exceed 0.8 cosine, unlike
    the driver's random test embeddings.

    Physical strategy switch: up to ``KNN_EXACT_MAX_USERS`` users the exact
    KNN solves on the driver (blocked BLAS matmul — a user table this size
    is driver-sized data); beyond it the pipeline moves to the IVF
    candidate join (same output contract, approximate recall) — the call
    the reference makes is itself approximate (GDS KNN is NN-descent, not
    exhaustive).
    """
    ref = load_ref_tables(spark, sf_dir)
    # one cache for the whole pipeline: the bipartite graph executes this
    # plan 3x (users-distinct, books-distinct, edge list) and the community
    # stage twice more (co-rating self-join sides) — without the cache each
    # fill re-runs the ratings join. Plan-keyed, so serving queries built
    # from the same load_ref_tables plan share it.
    ratings = ref.ratings.cache()
    # the driver-local FastRP solve (ids/matrix arrays), computed at most
    # once and shared by the embeddings AND similar_to stages — the KNN
    # stage then never round-trips the vectors through the JVM (guide §4)
    @cache
    def _local_fastrp():
        return _bipartite_fastrp_arrays(ratings, dim, seed)

    def _embeddings() -> DataFrame:
        # G2: FastRP on the undirected weighted bipartite graph (S9)
        arr = _local_fastrp()
        if arr is not None:
            ids, final, _, _ = arr
            emb_all = _fastrp.embeddings_df_from_arrays(spark, ids, final)
        else:
            nodes, edges = bipartite_rating_graph(ratings)
            emb_all = _fastrp.fastrp(nodes, edges, dim=dim, seed=seed)
        return _fastrp.user_embeddings_from_fastrp(emb_all).cache()

    def _similar_to() -> DataFrame:
        # G3: KNN over the user embeddings (S11 + J8). Driver-sized user
        # tables solve exactly on the driver (one blocked BLAS matmul, same
        # hybrid pattern as fastrp's local gate); past the threshold the
        # IVF candidate equi-join takes over — its cost tracks cell
        # occupancy instead of n², and at the FastRP graph's moderate
        # cosine regime it measures ~3x the recall of hyperplane LSH
        # (see knn_ivf docstring).
        arr = _local_fastrp()
        if arr is not None and len(arr[2]) <= KNN_EXACT_MAX_USERS:
            # both gates held: the vectors never left the driver — solve
            # straight from the arrays (user ids are BIGINT in the rating
            # schema; identical kernel, contract and output schema)
            _, _, user_ids, user_mat = arr
            return knn_exact_local_arrays(
                spark, user_ids, user_mat, "bigint",
                top_k=knn_top_k, cutoff=knn_cutoff,
            )
        user_emb = result.embeddings
        knn_fn = knn_exact_local if user_emb.count() <= KNN_EXACT_MAX_USERS else knn_ivf
        return knn_fn(user_emb, id_col="user_id", vec_col="embedding",
                      top_k=knn_top_k, cutoff=knn_cutoff)

    def _communities() -> tuple[DataFrame, float]:
        # G1: Louvain community detection on the co-rating projection
        # (S10 + J3) — the reference algorithm (Alg_Community_Detection.py:36-50)
        from .louvain import louvain

        co = corating_edges(ratings).select(
            F.col("u1").alias("src"), F.col("u2").alias("dst"),
            F.col("weight").cast("double").alias("weight"),
        )
        nodes_comm, q = louvain(co)
        return nodes_comm.select(F.col("node_id").alias("user_id"), "community"), q

    result = PipelineResult(ref, _embeddings, _similar_to, _communities)

    if out_dir:
        result.embeddings.write.mode("overwrite").parquet(f"{out_dir}/embeddings_users.parquet")
        result.similar_to.write.mode("overwrite").parquet(f"{out_dir}/similar_to.parquet")
        result.communities.write.mode("overwrite").parquet(f"{out_dir}/communities.parquet")

    return result
