"""Broadcast-BLAS candidate kernels for exact O(n²) cosine operators.

Shared by ``operators/knn.py`` (exact KNN) and ``operators/dedup.py``
(embedding near-dup): collect + broadcast the build side (catalog-size
gated by the caller), then an Arrow ``mapInPandas`` block kernel over the
probe side emits every pair that could survive the caller's Spark-side
round(6dp) → cutoff (→ top-k) finish, with UNROUNDED similarities.

The kernel accumulates the dot product **in ascending dimension order**
(``acc += A[:,k]·B[:,k]``) and normalizes with the same sequential-fold
IEEE op sequence as ``functions/vector.py`` — bit-identical to the
zip_with/aggregate column expressions, so the fast path inherits the fold
path's oracle parity instead of re-litigating float summation order.
(Rationale: Spark's higher-order functions are CodegenFallback —
interpreted AND whole-stage-pipeline-breaking, which materializes two
1 KB vector payloads per candidate pair; measured 6-13× slower and far
noisier under JIT than this kernel at sf0.1.)

Margin contract: 6dp rounding moves a value by < 5e-7, so the kernel's
``cutoff - 1e-6`` (and per-row ``kth - 1e-6``) slack keeps a candidate
superset — never a miss — of whatever the exact Spark finish selects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import vector as V

# The catalog estimate is parquet-COMPRESSED bytes, but the build side is
# materialized as a pandas frame + a float64 matrix + a broadcast copy —
# several times the on-disk size (ADVICE r2). The gate divides its budget
# by this factor so a near-threshold table leaves driver headroom.
BLAS_DECOMPRESS_FACTOR = 4


def blas_build_fits(df: DataFrame) -> bool:
    """True when ``df``'s catalog size estimate says collect+broadcast of
    the normalized matrix fits comfortably: the decompressed estimate
    must fit the engine's broadcast budget (``plans.node_vector_fits``).
    Statless plans (None estimate) return False — callers fall back to
    the distributed path."""
    from ..plans import estimated_size_bytes, node_vector_fits

    size = estimated_size_bytes(df)
    return size is not None and node_vector_fits(size, BLAS_DECOMPRESS_FACTOR)


def normalize_rows_seq(mat):
    """L2-normalize rows with the exact IEEE op sequence of the column path
    (``sqrt(fold_k(acc + x_k²))`` then elementwise divide) — bit-identical
    to ``V.l2_normalize``, which passes a zero row through unchanged."""
    import numpy as np

    acc = np.zeros(mat.shape[0])
    for k in range(mat.shape[1]):
        acc = acc + mat[:, k] * mat[:, k]
    with np.errstate(invalid="ignore"):
        return mat / np.where(acc == 0, 1.0, np.sqrt(acc))[:, None]


def cosine_pairs(
    pairs: DataFrame,
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """(id_a, id_b, _raw): exact cosine for an explicit candidate pair list
    (the verify half of a bucketed LSH plan), via one broadcast id→row
    matrix and an Arrow gather kernel — replaces a double vector join plus
    per-pair interpreted fold. Pairs whose ids are absent from ``vectors``
    drop out (inner-join semantics). Same ascending-dimension accumulation
    as ``cosine_candidates`` — bit-identical to the column-expression path.
    """
    import numpy as np
    import pandas as pd

    spark = vectors.sparkSession
    prep = vectors.select(
        F.col(id_col).alias("_id"), V.as_double(F.col(vec_col)).alias("_v")
    )
    pdf_v = prep.toPandas()
    id_type_empty = vectors.schema[id_col].dataType.simpleString()
    if not len(pdf_v):  # empty vector table: no pair can score
        return spark.createDataFrame(
            [], f"{id_a} {id_type_empty}, {id_b} {id_type_empty}, _raw double"
        )
    ids = pdf_v["_id"].to_numpy()
    mat = normalize_rows_seq(np.asarray(pdf_v["_v"].tolist(), dtype=np.float64))
    bc = spark.sparkContext.broadcast((ids, mat))
    id_type = vectors.schema[id_col].dataType.simpleString()

    def gen(batches):
        ids_v, M = bc.value
        idx = pd.Index(ids_v)
        for pdf in batches:
            if not len(pdf):
                continue
            ia = idx.get_indexer(pdf[id_a].to_numpy())
            ib = idx.get_indexer(pdf[id_b].to_numpy())
            ok = (ia >= 0) & (ib >= 0)
            ia, ib = ia[ok], ib[ok]
            acc = np.zeros(len(ia))
            for k in range(M.shape[1]):
                acc = acc + M[ia, k] * M[ib, k]
            yield pd.DataFrame(
                {
                    id_a: pdf[id_a].to_numpy()[ok],
                    id_b: pdf[id_b].to_numpy()[ok],
                    "_raw": acc,
                }
            )

    return pairs.select(id_a, id_b).mapInPandas(
        gen, schema=f"{id_a} {id_type}, {id_b} {id_type}, _raw double"
    )


def cosine_candidates(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    cutoff: float,
    top_k: int | None = None,
    pair_mode: str = "ne",
    out_a: str = "src",
    out_b: str = "dst",
) -> DataFrame:
    """(out_a, out_b, _raw): self-join cosine candidate superset.

    ``pair_mode``: ``"ne"`` keeps a≠b ordered pairs (KNN), ``"lt"`` keeps
    a<b unordered pairs (near-dup). ``top_k=None`` keeps every pair above
    the slacked cutoff; an integer keeps each probe row's margin-bounded
    top-k candidates. Zero-norm vectors are out of contract for the fold
    twin (ANSI DIVIDE_BY_ZERO); if they reach this kernel their NaN
    similarities are kept and ranked greatest, mirroring Spark's NaN
    ordering rather than silently dropping rows.
    """
    import numpy as np
    import pandas as pd

    if pair_mode not in ("ne", "lt"):
        raise ValueError(f"unknown pair_mode: {pair_mode!r}")
    spark = embeddings.sparkSession
    par = spark.sparkContext.defaultParallelism
    slack = 10.0 ** (-V.SIM_SCALE)
    prep = embeddings.select(
        F.col(id_col).alias("_id"), V.as_double(F.col(vec_col)).alias("_v")
    )
    pdf_b = prep.toPandas()
    id_type = embeddings.schema[id_col].dataType.simpleString()
    if not len(pdf_b):  # empty corpus: no candidates (and no kernel crash)
        return spark.createDataFrame(
            [], f"{out_a} {id_type}, {out_b} {id_type}, _raw double"
        )
    ids_b_np = pdf_b["_id"].to_numpy()
    mat_b = normalize_rows_seq(np.asarray(pdf_b["_v"].tolist(), dtype=np.float64))
    bc = spark.sparkContext.broadcast((ids_b_np, mat_b))

    def gen(batches):
        ids_b, B = bc.value
        n = B.shape[0]
        for pdf in batches:
            if not len(pdf):
                continue
            ids_a = pdf["_id"].to_numpy()
            A = normalize_rows_seq(np.asarray(pdf["_v"].tolist(), dtype=np.float64))
            blk = max(16, 4_000_000 // max(n, 1))
            for lo in range(0, len(ids_a), blk):
                hi = min(lo + blk, len(ids_a))
                sims = np.zeros((hi - lo, n))
                Ab = A[lo:hi]
                # ascending-k accumulation == the fold's IEEE op order
                for k in range(B.shape[1]):
                    sims += np.multiply.outer(Ab[:, k], B[:, k])
                ids_blk = ids_a[lo:hi, None]
                if pair_mode == "ne":
                    sims[ids_blk == ids_b[None, :]] = -np.inf
                else:  # "lt": keep a < b only
                    sims[ids_blk >= ids_b[None, :]] = -np.inf
                # NaN -> +inf so selection agrees with Spark's
                # NaN-is-greatest ordering; restored at emit
                nan_mask = np.isnan(sims)
                if nan_mask.any():
                    sims[nan_mask] = np.inf
                rr, cc = np.nonzero(sims >= cutoff - slack)
                if rr.size == 0:
                    continue
                vals = sims[rr, cc]
                if top_k is not None:
                    rows_u, starts = np.unique(rr, return_index=True)
                    ends = np.append(starts[1:], rr.size)
                    keep = []
                    for lo_i, hi_i in zip(starts, ends):
                        cnt = hi_i - lo_i
                        if cnt > top_k:
                            v = vals[lo_i:hi_i]
                            kth = np.partition(v, cnt - top_k)[cnt - top_k]
                            keep.append(lo_i + np.flatnonzero(v >= kth - slack))
                        else:
                            keep.append(np.arange(lo_i, hi_i))
                    sel = np.concatenate(keep)
                    rr, cc, vals = rr[sel], cc[sel], vals[sel]
                out = np.where(np.isposinf(vals), np.nan, vals)
                yield pd.DataFrame(
                    {out_a: ids_a[lo + rr], out_b: ids_b[cc], "_raw": out}
                )

    return prep.repartition(par).mapInPandas(
        gen, schema=f"{out_a} {id_type}, {out_b} {id_type}, _raw double"
    )
