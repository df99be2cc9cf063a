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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.corating import corating_edges
from ..operators.knn import knn_exact_local, knn_exact_local_arrays, knn_ivf
from ..sources.views import load_ref_tables
from . import fastrp as _fastrp
from . import lpa as _lpa
from .graphs import bipartite_rating_graph
from .modularity import modularity


def _bipartite_fastrp_arrays(ratings: DataFrame, dim: int, seed: int):
    """Driver-local FastRP over the bipartite rating graph, skipping the
    string-keyed graph materialization: ``(ids, final, user_ids, user_mat)``
    or ``None`` when the doubled edge count exceeds the local gate or an
    isbn key does not round-trip its int64 parse.

    Bit-identical to ``fastrp(*bipartite_rating_graph(ratings))`` on this
    graph family (pinned by test_pipeline_local_arrays_match_generic_path):

    - the gate compares the same number (|doubled edges| = 2·|ratings|);
    - the edge multiset and its ROW ORDER match the generic path's collect:
      ``undirected(directed)`` is ``directed.unionByName(flipped)``, whose
      collected order is [directed rows; flipped rows] each in the ratings
      cache's scan order — exactly ``concat([u→b], [b→u])`` over one
      collect of the directed rows (same cached scan, same projection);
    - node NUMBERING is free (see ``_fastrp_local_solve``: every node's
      output column is independent of the ordinal scheme), so users/books
      map through numeric searchsorted instead of the generic path's
      2·|E| string-hash lookups — the isbn key is ``CAST(partkey AS
      VARCHAR)`` (sources/views.py), so the int64 parse round-trips; a
      key that does not (non-digit, zero-padded) returns ``None`` and the
      caller takes the generic path;
    - bipartite graphs built from the rating list have no isolated nodes
      by construction (every node id comes from a rating row), matching
      the generic path's ``has_isolated == False`` branch.

    What this removes vs the generic local path, per run (guide §4 shrink
    the Python boundary, §1.2 don't compute what you throw away): the
    nodes-distinct job + its collect, half the edge-collect bytes (|E|
    numeric rows instead of 2·|E| prefixed-string rows), and the 2·|E|
    string-hash id→ordinal lookups.
    """
    import numpy as np

    ratings = ratings.cache()  # no-op when the caller already cached it
    n_directed = ratings.count()
    if not (0 < 2 * n_directed <= _fastrp.LOCAL_MAX_EDGES):
        return None
    ep = ratings.select(
        "user_id", "isbn", F.col("rating").cast("double").alias("weight")
    ).toPandas()
    users = ep["user_id"].to_numpy(dtype=np.int64)
    isbn = ep["isbn"].to_numpy()
    try:
        books = isbn.astype(np.int64)
    except (TypeError, ValueError, OverflowError):
        return None  # a non-digit key: the generic string-keyed path takes it
    w_dir = ep["weight"].to_numpy(dtype=np.float64)
    u_sorted = np.unique(users)
    b_sorted = np.unique(books)
    b_keys = b_sorted.astype("U")
    nb = len(b_sorted)
    u_ord = nb + np.searchsorted(u_sorted, users)
    b_ord = np.searchsorted(b_sorted, books)
    # every key must round-trip its parse: "0123" parses to 123, but its
    # node is b:0123, not b:123
    if not (b_keys[b_ord] == isbn).all():
        return None
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
        ids, src, dst, w, dim, (0.0, 1.0, 1.0), seed
    )
    # the user block, ids ascending — what user_embeddings_from_fastrp +
    # knn_exact_local's sort would produce (numeric sort == the cast-long
    # sort of the split node ids)
    return ids, final, u_sorted, final[:, nb:].T


class PipelineResult:
    """Lazily-evaluated pipeline stages.

    The community stage (LPA/Louvain) runs driver-side iteration loops with
    actions inside — eager construction would pay that cost even for
    callers that only read ``similar_to``. Each stage materializes on first
    access and is cached; ``similar_to``/``communities`` may be reassigned
    (e.g. wrapped in ``.cache()``) by callers.
    """

    def __init__(
        self,
        embeddings_fn: Callable[[], DataFrame],
        similar_to_fn: Callable[[], DataFrame],
        communities_fn: Callable[[], tuple[DataFrame, float]],
    ):
        self._embeddings_fn = embeddings_fn
        self._similar_to_fn = similar_to_fn
        self._communities_fn = communities_fn
        self._embeddings: DataFrame | None = None
        self._similar_to: DataFrame | None = None
        self._communities: DataFrame | None = None
        self._modularity: float | None = None

    @property
    def embeddings(self) -> DataFrame:
        if self._embeddings is None:
            self._embeddings = self._embeddings_fn()
        return self._embeddings

    @property
    def similar_to(self) -> DataFrame:
        if self._similar_to is None:
            self._similar_to = self._similar_to_fn()
        return self._similar_to

    @similar_to.setter
    def similar_to(self, df: DataFrame) -> None:
        self._similar_to = df

    def _run_communities(self) -> None:
        if self._communities is None:
            self._communities, self._modularity = self._communities_fn()

    @property
    def communities(self) -> DataFrame:
        self._run_communities()
        return self._communities

    @communities.setter
    def communities(self, df: DataFrame) -> None:
        self._communities = df

    @property
    def modularity(self) -> float:
        if self._modularity is None and self._communities is not None:
            return float("nan")  # communities injected externally
        self._run_communities()
        return self._modularity


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str | None = None,
    dim: int = 64,
    knn_top_k: int = 20,
    knn_cutoff: float = 0.8,
    lpa_max_iter: int = 10,
    seed: int = 42,
    knn_lsh_threshold: int = 50_000,
    community_algorithm: str = "louvain",
) -> PipelineResult:
    """End-to-end algorithm pipeline over the reference-shaped tables.

    KNN parameters default to the reference call site
    (Alg_KNN_FastRP.py:158: topK=20, cutoff=0.8) — meaningful here because
    FastRP embeddings of co-rated users genuinely exceed 0.8 cosine, unlike
    the driver's random test embeddings.

    Physical strategy switch: up to ``knn_lsh_threshold`` users the exact
    KNN solves on the driver (blocked BLAS matmul — a user table this size
    is driver-sized data); beyond it the pipeline moves to the LSH
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
    _arrays: dict = {}

    def _local_fastrp():
        if "v" not in _arrays:
            _arrays["v"] = _bipartite_fastrp_arrays(ratings, dim, seed)
        return _arrays["v"]

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
        if arr is not None and len(arr[2]) <= knn_lsh_threshold:
            # both gates held: the vectors never left the driver — solve
            # straight from the arrays (user ids are BIGINT in the rating
            # schema; identical kernel, contract and output schema)
            _, _, user_ids, user_mat = arr
            return knn_exact_local_arrays(
                spark, user_ids, user_mat, "bigint",
                top_k=knn_top_k, cutoff=knn_cutoff,
            )
        user_emb = result.embeddings
        knn_fn = knn_exact_local if user_emb.count() <= knn_lsh_threshold else knn_ivf
        return knn_fn(user_emb, id_col="user_id", vec_col="embedding",
                      top_k=knn_top_k, cutoff=knn_cutoff)

    def _communities() -> tuple[DataFrame, float]:
        # G1: community detection on the co-rating projection (S10 + J3) —
        # 'louvain' (the default, round-3 VERDICT item 5) matches the
        # reference algorithm (Alg_Community_Detection.py:36-50); 'lpa'
        # stays available as the cheaper single-level option with the
        # same interface
        co = corating_edges(ratings).select(
            F.col("u1").alias("src"), F.col("u2").alias("dst"),
            F.col("weight").cast("double").alias("weight"),
        )
        if community_algorithm == "louvain":
            from .louvain import louvain

            nodes_comm, q = louvain(co)
            comm = nodes_comm.select(F.col("node_id").alias("user_id"), "community")
        else:
            comm = _lpa.label_propagation(co, max_iter=lpa_max_iter).select(
                F.col("node_id").alias("user_id"), "community"
            )
            q = modularity(co, comm.select(F.col("user_id").alias("node_id"), "community"))
        return comm, q

    result = PipelineResult(_embeddings, _similar_to, _communities)

    if out_dir:
        result.embeddings.write.mode("overwrite").parquet(f"{out_dir}/embeddings_users.parquet")
        result.similar_to.write.mode("overwrite").parquet(f"{out_dir}/similar_to.parquet")
        result.communities.write.mode("overwrite").parquet(f"{out_dir}/communities.parquet")

    return result
