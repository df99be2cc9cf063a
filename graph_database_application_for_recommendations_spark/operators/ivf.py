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

_CENTROIDS = "fixed-size construction: IVF centroid table, num_cells rows x dim doubles"


def _unit_vectors(
    df: DataFrame, id_col: str, vec_col: str, out: str = "_id", by_id: bool = True
) -> DataFrame:
    """(out, _v): L2-normalized double vectors, hash-partitioned by id
    unless ``by_id`` is False — the layout every per-vector aggregate and
    window below keys on."""
    vecs = df.select(
        F.col(id_col).alias(out), V.l2_normalize(V.as_double(F.col(vec_col))).alias("_v")
    )
    if not by_id:
        return vecs
    return vecs.repartition(df.sparkSession.sparkContext.defaultParallelism, out)


def _centroid_table(spark: SparkSession, cells: list[int], mat) -> DataFrame:
    """(cell, _c) as a local relation: broadcast without a Spark job."""
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
    the probed candidates only. When ``queries`` is ``corpus`` (all-pairs
    KNN), both sides read one id-partitioned corpus exchange, so the
    probe ranking needs none; the cell join and the final top-k keep one
    exchange each.
    """
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

    pairs = (
        probes.join(c_assigned, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(V.dot(F.col("_qv"), F.col("_cv")), V.SIM_SCALE).alias("similarity"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("similarity"), F.asc("neighbor_id"))
    return pairs.withColumn("_rn", F.row_number().over(w2)).filter(F.col("_rn") <= k).drop("_rn")
