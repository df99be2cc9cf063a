"""Top-k cosine KNN similarity join (SURVEY.md §2.3 J8, §2.7 G3).

Reference: Neo4j GDS ``gds.knn.write`` over the ``embedding`` property,
``topK=20``, ``similarityCutoff=0.8``, writing ``SIMILAR_TO {similarity}``
edges (``algorithms/Alg_KNN_FastRP.py:99-116,158``).

Physical strategies, same logical contract ``(src, dst, similarity)``:

- ``knn_exact``: the oracle-checked exact variant, itself two bit-identical
  strategies (broadcast-BLAS Arrow kernel under a catalog-size gate — see
  functions/blas.py — and the zip_with/aggregate fold crossJoin beyond
  it). O(n²) pairs — correct at any scale but only *fast* up to
  ~10^4..10^5 vectors per side.
- ``knn_hyperplane`` / ``knn_ivf`` / ``knn_lsh``: the 100 TB paths —
  candidate generation is an equi-join (sign bucket, k-means cell, or
  MLlib random-projection bucket), never a cross join, with an exact
  re-rank of candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vector as V


def _prep(embeddings: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return embeddings.select(
        F.col(id_col).alias("_id"), V.l2_normalize(V.as_double(F.col(vec_col))).alias("_v")
    )


def knn_exact(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    top_k: int = 20,
    cutoff: float = 0.8,
    strategy: str = "auto",
) -> DataFrame:
    """Exact top-k cosine neighbours per node: ``(src, dst, similarity)``.

    Determinism: similarity rounded to 6 decimals before both the cutoff
    filter and the ranking; ties broken by ``dst`` ascending.

    Two physical strategies behind one contract, both finishing with the
    same Spark-side round → cutoff → window top-k, so results are
    identical bit-for-bit:

    - ``"blas"``: collect + broadcast the build side and run an Arrow
      ``mapInPandas`` block kernel over the probe side. The kernel
      accumulates the dot product **in ascending dimension order**
      (``acc += A[:,k]·B[:,k]``), reproducing the sequential-fold IEEE
      operation sequence of the column-expression path exactly — so the
      fast path inherits the fold path's oracle parity rather than
      re-litigating float summation order. 10-30× faster than the
      interpreted higher-order-function fold (zip_with/aggregate are
      CodegenFallback expressions: they run interpreted AND break the
      whole-stage pipeline, materializing both 1 KB vector payloads per
      candidate pair).
    - ``"fold"``: block-nested crossJoin + zip_with/aggregate cosine —
      no collect, works at any build-side size; the beyond-broadcast
      fallback (at which scale ``knn_hyperplane``/``knn_ivf`` are the
      intended operators anyway).

    ``"auto"`` picks via the catalog size estimate (no sizing job);
    statless plans (in-memory test frames) conservatively take ``fold``.

    The probe side is repartitioned across the cluster before either
    kernel — a single-file parquet source otherwise leaves the whole
    O(n²) work in one task.
    """
    if strategy == "auto":
        from ..functions.blas import blas_build_fits

        strategy = "blas" if blas_build_fits(embeddings) else "fold"
    spark = embeddings.sparkSession
    par = spark.sparkContext.defaultParallelism
    if strategy == "blas":
        from ..functions.blas import cosine_candidates

        pairs = cosine_candidates(
            embeddings, id_col, vec_col, cutoff, top_k=top_k, pair_mode="ne"
        )
    elif strategy == "fold":
        a = (
            _prep(embeddings, id_col, vec_col)
            .select(F.col("_id").alias("src"), F.col("_v").alias("_va"))
            .repartition(par)
        )
        b = _prep(embeddings, id_col, vec_col).select(
            F.col("_id").alias("dst"), F.col("_v").alias("_vb")
        )
        pairs = (
            a.crossJoin(b)
            .filter(F.col("src") != F.col("dst"))
            .select("src", "dst", V.dot(F.col("_va"), F.col("_vb")).alias("_raw"))
        )
    else:
        raise ValueError(f"unknown knn_exact strategy: {strategy!r}")
    sim = pairs.select(
        "src", "dst", F.round(F.col("_raw"), V.SIM_SCALE).alias("similarity")
    ).filter(F.col("similarity") >= cutoff)
    w = Window.partitionBy("src").orderBy(F.desc("similarity"), F.asc("dst"))
    return (
        sim.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= top_k)
        .drop("_rn")
    )


def knn_exact_local(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    top_k: int = 20,
    cutoff: float = 0.8,
    row_block: int = 2048,
) -> DataFrame:
    """Exact KNN solved on the driver with a numpy matmul kernel.

    Same hybrid pattern as plans/fastrp.py's ``_fastrp_local`` and
    plans/louvain.py's sequential coarse solve: a vector table of 10^4..10^5
    rows is driver-sized data (n·d doubles), and one BLAS matmul beats a
    distributed O(n²) pair join by an order of magnitude at that size.
    Blocked over query rows so peak memory is ``row_block × n`` doubles,
    never n². Intended for rows-only-checked pipelines (float summation
    order differs from the Spark fold in the last ulp, so it is not wired
    into the oracle-checked ``knn_exact`` queries); at cluster scale the
    gate in plans/pipeline.py routes to ``knn_hyperplane`` instead.

    Semantics contract (identical to ``knn_exact``): similarity rounded to
    6 decimals before cutoff and ranking, ties broken by ``dst`` ascending,
    self-pairs excluded.
    """
    import numpy as np

    spark = embeddings.sparkSession
    pdf = embeddings.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")).toPandas()
    pdf = pdf.sort_values("_id", ignore_index=True)
    ids = pdf["_id"].to_numpy()
    mat = np.asarray(pdf["_v"].tolist(), dtype=np.float64)
    id_type = embeddings.schema[id_col].dataType.simpleString()
    return knn_exact_local_arrays(
        spark, ids, mat, id_type, top_k=top_k, cutoff=cutoff, row_block=row_block
    )


def knn_exact_local_arrays(
    spark,
    ids,
    mat,
    id_type: str,
    top_k: int = 20,
    cutoff: float = 0.8,
    row_block: int = 2048,
) -> DataFrame:
    """The :func:`knn_exact_local` kernel over pre-collected arrays —
    ``ids`` sorted ascending, ``mat`` the matching (n, d) float64 matrix.
    Lets a caller that already holds driver-local vectors (the pipeline's
    local FastRP path) skip the embeddings' JVM round-trip entirely
    (guide §4: shrink the Python boundary); same contract bit for bit.
    """
    import numpy as np
    import pandas as pd

    mat = np.array(mat, dtype=np.float64)  # private copy: normalized in place
    nrm = np.linalg.norm(mat, axis=1)
    nz = nrm > 0
    mat[nz] /= nrm[nz, None]
    n = len(ids)
    out_src, out_dst, out_sim = [], [], []
    for lo in range(0, n, row_block):
        hi = min(lo + row_block, n)
        sims = mat[lo:hi] @ mat.T
        sims[np.arange(hi - lo), np.arange(lo, hi)] = -np.inf  # self-pairs
        # pre-filter unrounded with 1e-6 slack (6dp rounding moves a value
        # by <5e-7, so nothing that rounds above the cutoff is lost), then
        # round only the surviving candidates — np.round over the full
        # block costs more than the matmul itself
        rr, cc = np.nonzero(sims >= cutoff - 1e-6)
        if rr.size == 0:
            continue
        # HALF_UP like Spark's F.round (BigDecimal), not np.round's
        # half-to-even — a half-way boundary value must not flip cutoff
        # membership or a top-k tie between the local and distributed paths
        raw = sims[rr, cc]
        vals = np.sign(raw) * np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6
        ok = vals >= cutoff
        rr, cc, vals = rr[ok], cc[ok], vals[ok]
        # np.nonzero emits row-major order, so rr is non-decreasing:
        # group boundaries come from one unique pass (O(|survivors|)
        # total) instead of a flatnonzero scan per row (O(rows x
        # survivors) — dominated the kernel at low cutoffs, where
        # survivors are plentiful)
        rows_u, starts = np.unique(rr, return_index=True)
        ends = np.append(starts[1:], rr.size)
        for row, lo_i, hi_i in zip(rows_u, starts, ends):
            if hi_i - lo_i > top_k:
                # ids are pre-sorted ascending and cc is emitted in
                # ascending order, so stable argsort on -val gives the
                # dst-ascending tie-break for free
                sel = lo_i + np.argsort(-vals[lo_i:hi_i], kind="stable")[:top_k]
            else:
                sel = np.arange(lo_i, hi_i)
            out_src.extend([ids[lo + row]] * sel.size)
            out_dst.extend(ids[cc[sel]])
            out_sim.extend(vals[sel])
    return spark.createDataFrame(
        pd.DataFrame({"src": out_src, "dst": out_dst, "similarity": out_sim}),
        schema=f"src {id_type}, dst {id_type}, similarity double",
    )


def knn_hyperplane(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    top_k: int = 20,
    cutoff: float = 0.8,
    num_planes: int | None = None,
    num_tables: int = 4,
    seed: int = 123,
    target_bucket_occupancy: int = 50,
) -> DataFrame:
    """Approximate KNN via multi-table random-hyperplane LSH — the cosine-
    native scale path (sign-of-projection buckets, OR-amplified across
    tables, exact re-rank inside buckets; see operators/simsearch.py).

    ``num_planes`` defaults to log2(n / target_bucket_occupancy), keeping
    expected bucket occupancy — and therefore the candidate-join fanout —
    roughly constant as the corpus grows. ``n`` comes from the catalog
    size estimate (no pre-scan job — at 100 TB a sizing count() is a full
    extra pass); since num_planes is log-scaled, the estimate's
    small-constant-factor error moves it by at most ±2 planes. Only
    statless plans (in-memory test frames) fall back to a count.
    """
    import math

    from ..plans import estimated_row_count
    from .simsearch import topk_hyperplane_lsh

    if num_planes is None:
        n = estimated_row_count(embeddings)
        if n is None:
            n = embeddings.count()
        num_planes = max(4, math.ceil(math.log2(max(n / target_bucket_occupancy, 2))))
    pairs = topk_hyperplane_lsh(
        embeddings,
        embeddings,
        id_col=id_col,
        vec_col=vec_col,
        k=top_k,
        num_planes=num_planes,
        num_tables=num_tables,
        seed=seed,
    )
    return pairs.select(
        F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst"), "similarity"
    ).filter(F.col("similarity") >= cutoff)


def knn_ivf(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    top_k: int = 20,
    cutoff: float = 0.8,
    num_cells: int | None = None,
    nprobe: int = 8,
) -> DataFrame:
    """Approximate KNN via IVF (k-means cells + nprobe, operators/ivf.py).

    The preferred beyond-driver-size path for the *moderate*-similarity
    regime of FastRP user graphs: sign-hyperplane LSH collision probability
    decays as (1 - θ/π)^planes, which at cosine ≈ 0.6 leaves ~18% recall
    for any affordable table count (measured at sf0.1), while probing the
    8 nearest k-means cells recovers ~60% at the same cost. Candidate
    volume ≈ n · nprobe · (n / cells) — an equi-join on cell id, never a
    cross join. Two owners of the node state (operators/ivf.py):

    - the driver, while the corpus fits the node-vector gate
      (``plans.node_vector_fits(n, dim * 8)``, decided from one aggregate)
      and its vectors are null-free and of one length: one Arrow collect,
      the seeds, Lloyd rounds, assignment and probes in numpy, and Spark
      runs only the candidate re-rank (the cell join, the exact cosine and
      the top-k window) — 21 → 9 jobs on the traced 300-user benchmark
      graph;
    - Spark otherwise: the corpus is shuffled by id once for training and
      once for the search, whose query and corpus sides share that
      exchange, and the centroids live on the driver between Lloyd rounds.

    Either way the call leaves no cache or checkpoint behind, and a zero
    vector scores 0 against every neighbour.
    """
    from .ivf import topk_ivf

    pairs = topk_ivf(
        embeddings,
        embeddings,
        id_col=id_col,
        vec_col=vec_col,
        k=top_k,
        num_cells=num_cells,
        nprobe=nprobe,
    )
    return pairs.select(
        F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst"), "similarity"
    ).filter(F.col("similarity") >= cutoff)


def knn_lsh(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    top_k: int = 20,
    cutoff: float = 0.8,
    bucket_length: float = 0.25,
    num_hash_tables: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Approximate KNN via random-projection LSH, exact cosine re-rank.

    ``bucket_length`` is sized for L2-normalized inputs: projections of
    unit vectors span roughly [-1, 1], so 0.25 yields ~8 buckets per table;
    1.0 would put nearly everything in one bucket and degenerate the
    candidate join to a cross join. Prefer ``knn_hyperplane`` for cosine
    workloads — sign buckets don't need this tuning.

    For unit vectors, ``cos(a,b) >= cutoff  <=>  ||a-b|| <= sqrt(2-2*cutoff)``,
    so the Euclidean LSH join threshold is derived from the cosine cutoff.
    Candidates found by LSH are re-scored with the exact (rounded) cosine, so
    results are a subset of ``knn_exact`` — recall depends on LSH params.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    prepped = _prep(embeddings, id_col, vec_col).select(
        "_id", array_to_vector(F.col("_v")).alias("features"), F.col("_v")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(prepped)
    dist_threshold = float((2.0 - 2.0 * cutoff) ** 0.5)
    joined = model.approxSimilarityJoin(prepped, prepped, dist_threshold, distCol="_d")
    pairs = (
        joined.select(
            F.col("datasetA._id").alias("src"),
            F.col("datasetB._id").alias("dst"),
            F.round(
                V.dot(F.col("datasetA._v"), F.col("datasetB._v")), V.SIM_SCALE
            ).alias("similarity"),
        )
        .filter(F.col("src") != F.col("dst"))
        .filter(F.col("similarity") >= cutoff)
    )
    w = Window.partitionBy("src").orderBy(F.desc("similarity"), F.asc("dst"))
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= top_k)
        .drop("_rn")
    )
