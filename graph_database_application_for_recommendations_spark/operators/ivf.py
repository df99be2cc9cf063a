"""IVF (inverted-file) approximate nearest-neighbor search.

The second scale path for similarity search next to hyperplane LSH
(operators/simsearch.py): a coarse quantizer (k-means over the corpus)
partitions vectors into cells; a query probes only its ``nprobe`` nearest
cells and re-ranks exactly inside them — candidate cost follows cell
occupancy (~n/k · nprobe), not |corpus|.

Deterministic, and distributed wherever the corpus is:
- centroid seeds are hash-sampled (no RNG state),
- the corpus is L2-normalized once and hash-partitioned by id, so every
  per-vector step — the nearest-centroid argmax, the probe ranking — runs
  inside its partition against the broadcast centroid table, with no
  exchange,
- a Lloyd round is one (cell, dim) mean aggregate, collected: the
  centroid table is k·dim doubles (it passes through the driver on every
  broadcast anyway), so it is normalized and kept on the driver between
  rounds. Nothing is cached or checkpointed past the training call.
- driver-held node state for all-pairs search (``topk_ivf`` with
  ``queries is corpus``, knn_ivf's case): while the corpus fits the
  node-vector gate (``plans.node_vector_fits(n, dim * 8)``, decided from
  one aggregate before any collect), one Arrow collect brings the
  normalized vectors and their md5 seed keys to the driver, and the seeds,
  the Lloyd rounds, the final assignment and the probe ranking run in
  numpy with V.dot's sequential fold (the same argmax and tie-breaks).
  Spark gets the (id, cell, vector) and (query id, cell) frames and runs
  only the edge-sized candidate re-rank: the cell equi-join, the exact
  cosine and the top-k window, with the Spark owner's expressions. Traced
  on the 300-user benchmark graph (sf0.002, seed 1, 4-vCPU VM): 21 → 9
  jobs. Ragged or null vectors, other query sets and corpora past the
  gate take the Spark owner; ``plans.NODE_VECTOR_BUDGET_BYTES = 0`` forces
  it.

A zero vector has no direction: it passes normalization unchanged and
scores 0 against every centroid and neighbour on both owners.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import vector as V
from ..functions.blas import normalize_rows_seq
from ..functions.hints import gated_broadcast
from ..plans import node_vector_fits

_CENTROIDS = "fixed-size construction: IVF centroid table, num_cells rows x dim doubles"


def _unit_vectors(
    df: DataFrame, id_col: str, vec_col: str, out: str = "_id", by_id: bool = True
) -> DataFrame:
    """(out, _v): ``V.l2_normalize``d double vectors (a zero vector passes
    through unchanged), hash-partitioned by id unless ``by_id`` is False —
    the layout every per-vector aggregate and window below keys on."""
    vecs = df.select(
        F.col(id_col).alias(out), V.l2_normalize(V.as_double(F.col(vec_col))).alias("_v")
    )
    if not by_id:
        return vecs
    return vecs.repartition(df.sparkSession.sparkContext.defaultParallelism, out)


def _centroid_table(spark: SparkSession, cells: list[int], mat) -> DataFrame:
    """(cell, _c) as a local relation. It holds no storage, but its
    broadcast is one small Spark job over the local rows."""
    return spark.createDataFrame(
        pa.table(
            {
                "cell": pa.array(cells, pa.int32()),
                "_c": pa.array(list(mat), pa.list_(pa.float64())),
            }
        )
    )


def _assign(vectors: DataFrame, centroids: DataFrame, id_col: str, *carry: str) -> DataFrame:
    """(id_col, cell, _sim, *carry): nearest centroid per vector by cosine
    (vectors pre-normalized).

    Argmax as a max over struct(_sim, −cell): ties go to the smallest
    cell, and since −cell is unique per candidate no comparison ever
    reaches a carried field. Over an id-partitioned input
    (:func:`_unit_vectors`) the broadcast nested-loop join keeps the
    partitioning and the aggregate needs no exchange; otherwise it
    shuffles one map-side-combined row per (partition, vector)."""
    pairs = vectors.crossJoin(gated_broadcast(centroids, _CENTROIDS)).select(
        id_col, "cell", V.dot(F.col("_v"), F.col("_c")).alias("_sim"), *carry
    )
    best = F.struct(F.col("_sim"), (-F.col("cell")).alias("_nc"), F.col("cell"), *carry)
    return (
        pairs.groupBy(id_col)
        .agg(F.max(best).alias("_b"))
        .select(id_col, *(F.col(f"_b.{c}").alias(c) for c in ("cell", "_sim", *carry)))
    )


def train_ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_cells: int | None = None,
    lloyd_iters: int = 2,
) -> DataFrame:
    """(cell, _c): k-means centroids (L2-normalized) over the corpus.

    Seeds are the ``num_cells`` smallest md5-ranked ids — deterministic,
    uniformly spread, no RNG state to synchronize across executors — and
    the seed's md5 rank is its cell number. Each Lloyd round assigns the
    cached, id-partitioned corpus, averages each (cell, dim) on the
    executors and collects the num_cells × dim means; the driver
    normalizes them with the op sequence of ``V.l2_normalize``
    (``normalize_rows_seq``) and the next round broadcasts them from a
    local relation. The result is a local relation too: the training cache is
    released before return and nothing else is pinned.
    """
    spark = corpus.sparkSession
    vecs = _unit_vectors(corpus, id_col, vec_col).cache()
    k = num_cells or max(2, int(math.sqrt(vecs.count())))

    # The k smallest md5-ranked ids are a top-k, not a ranking: orderBy +
    # limit plans as a distributed TakeOrderedAndProject (per-partition
    # heaps, driver merge of k rows), never a corpus-sized sort.
    seeds = (
        vecs.select(F.md5(F.col("_id").cast("string")).alias("_h"), "_id", "_v")
        .orderBy("_h", "_id")
        .limit(k)
        .collect()
    )
    cells, mat = list(range(len(seeds))), [r["_v"] for r in seeds]
    for _ in range(lloyd_iters if seeds else 0):
        means = (
            _assign(vecs, _centroid_table(spark, cells, mat), "_id", "_v")
            .select("cell", F.posexplode("_v").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.avg("val").alias("val"))
            .collect()
        )
        cells = sorted({r["cell"] for r in means})
        row = {c: i for i, c in enumerate(cells)}
        mat = np.empty((len(cells), len(means) // len(cells)))
        for c, p, v in means:
            mat[row[c], p] = v
        # normalize so the next assignment's dot products are cosines
        mat = normalize_rows_seq(mat)
    vecs.unpersist(blocking=False)
    return _centroid_table(spark, cells, mat)


def _cluster(
    embeddings: DataFrame, id_col: str, vec_col: str, k: int, lloyd_iters: int, *carry: str
) -> DataFrame:
    centroids = train_ivf_centroids(embeddings, id_col, vec_col, k, lloyd_iters)
    # not id-partitioned: the argmax exchange then carries one combined row
    # per (partition, vector) — without the vector unless it is carried
    vecs = _unit_vectors(embeddings, id_col, vec_col, by_id=False)
    return _assign(vecs, centroids, "_id", *carry).select(
        F.col("_id").alias(id_col),
        F.col("cell").alias("cluster"),
        F.round(F.col("_sim"), V.SIM_SCALE).alias("similarity"),
        *carry,
    )


def cluster_corpus(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    lloyd_iters: int = 4,
) -> DataFrame:
    """(vec_id, cluster, similarity): k-means clustering of the corpus
    embedding space — domain discovery / mixture design over a training
    corpus (cluster-then-sample curation), the standalone face of the IVF
    coarse quantizer.

    Deterministic given a partitioning (hash-sampled seeds, argmax
    assignment with cell tie-break), but Lloyd means are float-
    aggregation-order dependent, so like the other iterative float
    algorithms it is rows-only checked with invariant tests rather than
    value-hashed. similarity = cosine(vector, assigned centroid), 6dp.

    Scale: every Lloyd step is a broadcast argmax join (centroids are
    k·dim doubles) plus a (cell, dim) mean — map-side combinable; nothing
    ever shuffles the corpus by more than its own partition count.
    """
    return _cluster(embeddings, id_col, vec_col, k, lloyd_iters)


def cluster_members(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    lloyd_iters: int = 4,
) -> DataFrame:
    """(vec_id, cluster, similarity, _nv): :func:`cluster_corpus` with the
    L2-normalized member vector carried THROUGH the argmax aggregate —
    SemDeDup consumes member vectors immediately after assignment, and
    re-joining them against a second corpus scan costs a corpus-sized
    exchange + sort per consumer at 100 TB (guide §2.4: remove shuffles
    outright). The winner is identical to cluster_corpus's: the struct
    compares (_sim, _nc) first and _nc (= −cell) is unique per candidate
    row, so no comparison ever reaches the appended vector field.
    """
    return _cluster(embeddings, id_col, vec_col, k, lloyd_iters, "_v").withColumnRenamed(
        "_v", "_nv"
    )


def _corpus_shape(corpus: DataFrame, vec_col: str) -> tuple[int, int | None]:
    """(row count, vector length) from one aggregate, run before anything
    is collected. The length is None unless every vector is present, free
    of nulls and of one length — the corpora the driver owner can hold."""
    vec = F.col(vec_col)
    n, lo, hi, nulls = corpus.agg(
        F.count(F.lit(1)),
        F.min(F.size(vec)),
        F.max(F.size(vec)),
        F.count_if(vec.isNull() | F.exists(vec, lambda x: x.isNull())),
    ).first()
    return n, hi if n > 0 and nulls == 0 and lo == hi else None


def _ranked_cells(mat, cents, top: int, row_block: int = 2048):
    """(n, top) row indices into ``cents`` of each vector's ``top`` most
    similar centroids, similarity descending then index ascending — the
    Spark owner's order, since cells are held in ascending order; a NaN
    ranks greatest, as in Spark's ordering. Similarities are V.dot's
    sequential fold (``acc += a_i * c_i`` from 0.0 in ascending i, the
    kernel order of functions/blas.py), blocked over rows so at most
    ``row_block × len(cents)`` of them are held at once."""
    out = np.empty((len(mat), top), dtype=np.int64)
    for lo in range(0, len(mat), row_block):
        blk = mat[lo : lo + row_block]
        sims = np.zeros((len(blk), len(cents)))
        for i in range(mat.shape[1]):
            sims += np.multiply.outer(blk[:, i], cents[:, i])
        key = np.where(np.isnan(sims), -np.inf, -sims)
        if top == 1:  # argmin keeps the first, i.e. smallest, tied index
            out[lo : lo + len(blk), 0] = key.argmin(axis=1)
        else:
            out[lo : lo + len(blk)] = np.argsort(key, axis=1, kind="stable")[:, :top]
    return out


def _rerank(probes: DataFrame, c_assigned: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, similarity): the exact cosine re-rank of the
    probed cells. ``probes`` is (query_id, _qv, cell), ``c_assigned``
    (neighbor_id, _cv, cell); the cell equi-join is the candidate set."""
    pairs = (
        probes.join(c_assigned, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(V.dot(F.col("_qv"), F.col("_cv")), V.SIM_SCALE).alias("similarity"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("similarity"), F.asc("neighbor_id"))
    return pairs.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k).drop("_rn")


def _topk_ivf_driver(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int,
    num_cells: int | None,
    nprobe: int,
    lloyd_iters: int,
) -> DataFrame:
    """All-pairs :func:`topk_ivf` with the node state held on the driver.

    One Arrow collect brings (id, md5 of the id, normalized vector), all
    computed by Spark. Rows are sorted by id, so a stable sort on the md5
    gives the Spark owner's (md5, id) seed order, and each Lloyd mean is
    the cell's sum in ascending-id order over its count, normalized by
    ``normalize_rows_seq``; a cell nobody joins drops out. Spark then gets
    the (id, cell, vector) frame and the (query_id, cell) probes and runs
    :func:`_rerank`, so every similarity still comes from Spark."""
    spark = corpus.sparkSession
    held = (
        _unit_vectors(corpus, id_col, vec_col, by_id=False)
        .select("_id", F.md5(F.col("_id").cast("string")).alias("_h"), "_v")
        .toArrow()
    )
    held = held.take(np.argsort(held.column("_id").to_numpy(), kind="stable"))
    n = held.num_rows
    mat = held.column("_v").combine_chunks().flatten().to_numpy().reshape(n, dim)

    seeds = np.argsort(held.column("_h").to_numpy(), kind="stable")
    cells = np.arange(min(num_cells or max(2, int(math.sqrt(n))), n))
    cents = mat[seeds[: len(cells)]]
    for _ in range(lloyd_iters):
        nearest = _ranked_cells(mat, cents, 1)[:, 0]
        sums = np.zeros_like(cents)
        np.add.at(sums, nearest, mat)  # in row, i.e. ascending-id, order
        counts = np.bincount(nearest, minlength=len(cells))
        kept = counts > 0
        cells, cents = cells[kept], normalize_rows_seq(sums[kept] / counts[kept, None])

    ranked = cells[_ranked_cells(mat, cents, max(1, min(nprobe, len(cells))))]
    probe = ranked[:, : max(nprobe, 0)]
    ids = held.column("_id").combine_chunks()
    vectors = spark.createDataFrame(
        pa.table(
            {"_id": ids, "cell": pa.array(ranked[:, 0], pa.int32()), "_v": held.column("_v")}
        )
    )
    probes = spark.createDataFrame(
        pa.table(
            {
                "query_id": ids.take(np.repeat(np.arange(n), probe.shape[1])),
                "cell": pa.array(probe.ravel(), pa.int32()),
            }
        )
    )
    q_vecs = vectors.select(F.col("_id").alias("query_id"), F.col("_v").alias("_qv"))
    c_assigned = vectors.select(
        F.col("_id").alias("neighbor_id"), F.col("_v").alias("_cv"), "cell"
    )
    return _rerank(probes.join(q_vecs, "query_id"), c_assigned, k)


def topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    num_cells: int | None = None,
    nprobe: int = 4,
    lloyd_iters: int = 2,
) -> DataFrame:
    """IVF approximate top-k: (query_id, neighbor_id, similarity).

    Probes the ``nprobe`` nearest cells per query; exact cosine re-rank on
    the probed candidates only. Two owners of the node state (vectors,
    centroids, cells, probes):

    - the driver (:func:`_topk_ivf_driver`), when ``queries`` is
      ``corpus`` (all-pairs KNN) and :func:`_corpus_shape` finds the
      vectors of one length, null-free and within
      ``plans.node_vector_fits(n, dim * 8)``: Spark runs that aggregate,
      one collect and the candidate re-rank only;
    - Spark otherwise. Training broadcasts the driver-held centroids into
      each Lloyd round; when ``queries`` is ``corpus`` both sides read one
      id-partitioned corpus exchange, so the probe ranking needs none; the
      cell join and the final top-k keep one exchange each.
    """
    if queries is corpus:
        n, dim = _corpus_shape(corpus, vec_col)
        if dim is not None and node_vector_fits(n, dim * 8):
            return _topk_ivf_driver(
                corpus, id_col, vec_col, dim, k, num_cells, nprobe, lloyd_iters
            )
        # the count is in hand: training need not count the corpus again
        num_cells = num_cells or max(2, int(math.sqrt(n)))
    centroids = train_ivf_centroids(corpus, id_col, vec_col, num_cells, lloyd_iters)
    vecs = _unit_vectors(corpus, id_col, vec_col)
    c_assigned = _assign(vecs, centroids, "_id", "_v").select(
        F.col("_id").alias("neighbor_id"), F.col("_v").alias("_cv"), "cell"
    )

    q_vecs = vecs if queries is corpus else _unit_vectors(queries, id_col, vec_col)
    q_cells = q_vecs.crossJoin(gated_broadcast(centroids, _CENTROIDS)).select(
        "_id", "_v", "cell", V.dot(F.col("_v"), F.col("_c")).alias("_sim")
    )
    w = Window.partitionBy("_id").orderBy(F.desc("_sim"), F.asc("cell"))
    probes = (
        q_cells.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= nprobe)
        .select(F.col("_id").alias("query_id"), F.col("_v").alias("_qv"), "cell")
    )
    return _rerank(probes, c_assigned, k)
