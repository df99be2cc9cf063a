"""FastRP node embeddings as an iterative DataFrame program
(SURVEY.md §2.7 G2).

Reference: Neo4j GDS ``gds.fastRP.write`` with embeddingDimension=64,
relationshipWeightProperty='rating' on the undirected bipartite User–Book
graph (``algorithms/Alg_KNN_FastRP.py:53-70``).

Algorithm (Chen et al., "Fast and Accurate Network Embeddings via Very
Sparse Random Projection", CIKM 2019 — public paper; GDS implements the
same scheme):

1. Init each node with a very sparse random vector R_v ∈ {−√s, 0, +√s}^d,
   P(±) = 1/(2s), s = 3. Seeded deterministically per (node, dim) via
   murmur3 ``F.hash`` — no RNG state, so resumable and partition-order
   independent.
2. k rounds of weighted-mean message passing over the edges, L2-normalizing
   after each round:  h^(i) = normalize( D^-1 · W · h^(i-1) ).
3. Final embedding = Σ_i α_i · h^(i) (GDS default iterationWeights
   [0.0, 1.0, 1.0]), L2-normalized.

Physical strategy — each choice measured:

- **Flat columns, not arrays, inside the loop.** The embedding travels as
  ``dim`` primitive DOUBLE columns (`e0..e63`), not ``ARRAY<DOUBLE>``.
  The per-round aggregate then sums primitive columns (codegen'd primitive
  buffers) instead of evaluating 64 array ``getItem`` calls per edge row
  and re-assembling an array per group: 5.4s → 1.8s per round. The array
  form exists only at the API boundary (final ``embedding`` column).
- **Edges hash-partitioned by ``dst`` once, no per-round shuffle.** Every
  round is `edges ⋈ (broadcast) emb → groupBy(dst)`. A broadcast-hash-join
  probe preserves the left side's partitioning, so caching the edge list
  pre-partitioned on ``dst`` satisfies the aggregate's distribution in
  every round: N rounds pay ONE setup shuffle instead of N. The per-round
  exchange this removes is also the worst one in the program — map-side
  combine is useless for it (avg edges per (partition, dst) ≈ degree/P < 1
  at 32+ partitions), so it was shipping the full |E| × (dim+2)-column
  join output (~0.6 GB/round at sf0.1). Measured 28s → 17s end-to-end.
- **Eager per-round materialization** (cache + localCheckpoint, see
  ``materialize``): round N's accumulator and round N+1's propagate both
  read round N's table, and letting that chain stay lazy re-executes the
  shared subtree at every reference (35s vs 17s end-to-end) — plans also
  grow exponentially with depth (round N's tree embeds round N-1's twice).
  On a real cluster a checkpoint dir would add crash recovery on top.
- **One batched expression list per wide plan node.** Each ``dim``-column
  node (init, normalize, propagate's products / sum / quotients, the
  isolated-node zero-fill, the accumulator seed and blend, the final
  ``array``) is one ``selectExpr`` or ``sum`` call over SQL expression
  strings, not ``dim`` Column objects built one py4j round trip at a time.
  Same expressions in the same fold order, so the output is bit-identical
  and the jobs and stages are unchanged. At dim=64 on the 300-user
  benchmark graph (sf0.002, 4-vCPU VM): ~85k → ~1.5k round trips per
  call, and the traced call 16.2 s → 9.1 s over the same 26 jobs.

Scale notes: the per-iteration aggregate is a single groupBy(node) with one
sum buffer per vector slot — a partial-aggregatable shuffle of |E| rows
(map-side combined to one row per partition×node) — no per-node neighbor
lists are ever collected, so hub nodes (books rated by millions of users at
100 TB) cannot OOM an executor; AQE splits any skewed reduce partition.
The node-vector table (dim × 8 B per node) is broadcast into the edge join
while it fits an executor; beyond that the join degrades gracefully to a
shuffle join keyed on node id.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import cache_wide, gate_node_vector_broadcast, materialize, release_checkpoint
from ..functions.hints import gated_broadcast

SPARSITY = 3

# Driver-side exact solve below this many (undirected-doubled) edges —
# ~100 MB of (src, dst, weight) rows, far below driver heap. Same hybrid
# pattern as plans/louvain.py's sequential coarse solve: a graph this size
# is driver-sized data, and ~6 chained Spark jobs of fixed overhead cost
# more than the arithmetic itself. At 100 TB the gate fails and the
# distributed iteration below runs unchanged.
LOCAL_MAX_EDGES = 4_000_000


def _ecols(dim: int) -> list[str]:
    return [f"e{i}" for i in range(dim)]


def _init_embeddings(nodes: DataFrame, dim: int, seed: int) -> DataFrame:
    """Very sparse random projection vectors, hash-seeded per (node, dim),
    one flat DOUBLE column per slot."""
    scale = math.sqrt(SPARSITY)
    return nodes.selectExpr(
        "node_id",
        *[
            f"CASE pmod(hash(node_id, {i}, {seed}), {2 * SPARSITY}) "
            f"WHEN 0 THEN {scale}d WHEN 1 THEN {-scale}d ELSE 0d END AS {c}"
            for i, c in enumerate(_ecols(dim))
        ],
    )


def _normalize(df: DataFrame, dim: int) -> DataFrame:
    """L2-normalize the flat vector columns (zero vectors pass through).

    The norm lands in a real projected column first so codegen computes it
    once per row, not once per slot.
    """
    cols = _ecols(dim)
    norm = " + ".join(["0", *(f"{c} * {c}" for c in cols)])
    return df.selectExpr("*", f"sqrt({norm}) AS _n").selectExpr(
        "node_id", *[f"CASE WHEN _n > 0 THEN {c} / _n ELSE {c} END AS {c}" for c in cols]
    )


def _propagate(
    edges: DataFrame, emb: DataFrame, dim: int, broadcast_emb: bool = False
) -> DataFrame:
    """One round: h_dst = Σ_src w·h_src / Σ_src w  (weighted neighbor mean).

    One HashAggregate with ``dim`` primitive sum buffers keeps the shuffle
    at |E| rows — map-side combined down to one row per (partition, dst).

    ``broadcast_emb`` skips shuffling the (large) edge list into the join:
    right for node tables that fit an executor (the caller gates on node
    count); huge graphs fall back to the shuffle join.
    """
    cols = _ecols(dim)
    emb_side = emb.withColumnRenamed("node_id", "src")
    if broadcast_emb:
        emb_side = gated_broadcast(
            emb_side, "caller count-gated: n_nodes * dim * 8 < 256 MB"
        )
    return (
        edges.join(emb_side, "src")
        .selectExpr("dst", *[f"{c} * weight AS {c}" for c in cols], "weight")
        .groupBy("dst")
        .sum(*cols, "weight")
        .selectExpr(
            "dst AS node_id", *[f"`sum({c})` / `sum(weight)` AS {c}" for c in cols]
        )
    )


# --- vectorized Spark-compatible Murmur3 (numpy) ---------------------------
# Bit-exact replica of Spark's `hash(node_id, i, seed)` expression
# (Murmur3_x86_32 with per-byte tail mixing, fold seed 42) so the local
# FastRP init needs no Spark jobs; test_fastrp_distributed_path_matches_local
# pins the two inits against each other.

_M32 = None  # lazy numpy constants


def _mm3():
    global _M32
    if _M32 is None:
        import numpy as np

        M = np.uint64(0xFFFFFFFF)

        def rotl(x, r):
            return ((x << np.uint64(r)) | (x >> np.uint64(32 - r))) & M

        def mixK1(k1):
            return (rotl((k1 * np.uint64(0xCC9E2D51)) & M, 15) * np.uint64(0x1B873593)) & M

        def mixH1(h1, k1):
            return (rotl(h1 ^ k1, 13) * np.uint64(5) + np.uint64(0xE6546B64)) & M

        def fmix(h1, length):
            h1 = h1 ^ length
            h1 = h1 ^ (h1 >> np.uint64(16))
            h1 = (h1 * np.uint64(0x85EBCA6B)) & M
            h1 = h1 ^ (h1 >> np.uint64(13))
            h1 = (h1 * np.uint64(0xC2B2AE35)) & M
            return h1 ^ (h1 >> np.uint64(16))

        def hash_int(v, h):
            return fmix(mixH1(h, mixK1(v)), np.uint64(4))

        _M32 = (mixK1, mixH1, fmix, hash_int)
    return _M32


def _hash_strings_local(ids, h0: int):
    """Vectorized Spark ``hashUnsafeBytes`` over an array of strings."""
    import numpy as np

    mixK1, mixH1, fmix, _ = _mm3()
    bs = [s.encode("utf-8") for s in ids]
    n = len(bs)
    lengths = np.fromiter((len(b) for b in bs), dtype=np.int64, count=n)
    maxlen = int(lengths.max()) if n else 0
    mat = np.zeros((n, maxlen), dtype=np.uint8)
    for i, b in enumerate(bs):
        mat[i, : len(b)] = np.frombuffer(b, dtype=np.uint8)
    h1 = np.full(n, h0, dtype=np.uint64)
    aligned = (lengths // 4) * 4
    for j in range(0, max(maxlen - 3, 0), 4):
        m = aligned > j
        if not m.any():
            continue
        w = (
            mat[:, j].astype(np.uint64)
            | (mat[:, j + 1].astype(np.uint64) << np.uint64(8))
            | (mat[:, j + 2].astype(np.uint64) << np.uint64(16))
            | (mat[:, j + 3].astype(np.uint64) << np.uint64(24))
        )
        h1 = np.where(m, mixH1(h1, mixK1(w)), h1)
    for j in range(maxlen):
        m = (aligned <= j) & (j < lengths)
        if not m.any():
            continue
        b = mat[:, j].astype(np.int64)
        b = np.where(b > 127, b - 256, b)  # signed java byte, int32-wrapped
        h1 = np.where(m, mixH1(h1, mixK1((b & 0xFFFFFFFF).astype(np.uint64))), h1)
    return fmix(h1, lengths.astype(np.uint64))


def _init_matrix_local(ids, dim: int, seed: int):
    """(dim, n) very-sparse random projection matrix — the numpy twin of
    ``_init_embeddings``'s per-(node, dim) ``hash(node_id, i, seed)``."""
    import numpy as np

    _, _, _, hash_int = _mm3()
    scale = math.sqrt(SPARSITY)
    base = _hash_strings_local(ids, 42)
    n = len(ids)
    out = np.zeros((dim, n), dtype=np.float64)
    seed_vec = np.full(n, np.uint32(seed), dtype=np.uint64)
    for i in range(dim):
        h = hash_int(np.full(n, np.uint64(i), dtype=np.uint64), base)
        h = hash_int(seed_vec, h)
        signed = h.astype(np.uint32).astype(np.int64)
        signed = np.where(signed >= 2**31, signed - 2**32, signed)
        mod = np.mod(signed, 2 * SPARSITY)  # numpy mod is non-negative == pmod
        out[i] = np.where(mod == 0, scale, np.where(mod == 1, -scale, 0.0))
    return out


def _fastrp_local_solve(ids, src, dst, w, dim, iteration_weights, seed):
    """numpy FastRP core: node-id strings (any order) + ordinal edge arrays
    -> the final (dim, n) embedding matrix, column i belonging to ids[i].

    Shared by ``_fastrp_local`` (generic string-keyed collect) and the
    pipeline's pre-mapped bipartite path (plans/pipeline.py). Each node's
    output column is INDEPENDENT of the node ordering: the init vector is a
    per-node hash, the per-round mean is a per-dst segment sum whose
    within-segment summation order is the EDGE ARRAY order (stable argsort
    keeps rows of equal dst in input order whatever ordinal values the
    nodes got), and normalization/accumulation are per-column — so two
    callers that present the same edge multiset in the same row order get
    bit-identical vectors per node, regardless of how they numbered nodes.
    """
    import numpy as np

    # vectors travel transposed (dim, n): each propagation dim is then a
    # contiguous 1-D gather + segmented reduceat, ~5x faster than the 2-D
    # axis-0 reduceat (which strides across the full row width per segment)
    ht = _init_matrix_local(ids, dim, seed)

    order = np.argsort(dst, kind="stable")
    src, dst, w = src[order], dst[order], w[order]
    # contiguous dst runs -> segmented sums via reduceat (vectorized groupBy)
    uniq, starts = np.unique(dst, return_index=True)
    wsum = np.add.reduceat(w, starts)

    def _norm_cols(m: "np.ndarray") -> "np.ndarray":
        nrm = np.sqrt((m * m).sum(axis=0))
        nz = nrm > 0
        m[:, nz] /= nrm[nz]
        return m

    ht = _norm_cols(ht)  # distributed path normalizes the init the same way
    acc = None
    for alpha in iteration_weights:
        nxt = np.zeros_like(ht)
        for d in range(dim):
            nxt[d][uniq] = np.add.reduceat(ht[d][src] * w, starts) / wsum
        ht = _norm_cols(nxt)
        if alpha != 0.0:
            acc = alpha * ht if acc is None else acc + alpha * ht
    return _norm_cols(ht.copy() if acc is None else acc)


def embeddings_df_from_arrays(spark, ids, final, id_type: str = "string") -> DataFrame:
    """(node_id, embedding array<double>) from a solved (dim, n) matrix —
    rows sorted by node id, the exact frame ``_fastrp_local`` builds."""
    import numpy as np
    import pandas as pd

    perm = np.argsort(ids, kind="stable")
    pdf = pd.DataFrame({"node_id": ids[perm], "embedding": final[:, perm].T.tolist()})
    return spark.createDataFrame(
        pdf, schema=f"node_id {id_type}, embedding array<double>"
    )


def _fastrp_local(
    nodes: DataFrame,
    edges: DataFrame,
    dim: int,
    iteration_weights: tuple[float, ...],
    seed: int,
) -> DataFrame:
    """Exact driver-side FastRP for driver-sized graphs (numpy kernel).

    The init vectors come from a bit-exact numpy replica of the
    distributed path's hash-seeded Spark projection (``_init_matrix_local``
    vs ``_init_embeddings`` — pinned against each other by the
    distributed/local equivalence test), so both paths start from identical
    state; propagation is the identical weighted-mean + L2-normalize
    recurrence, differing only in float summation order (~1e-15, within the
    rows-only check tolerance). Node order is canonicalized by sorting ids,
    so the solve is deterministic regardless of partition layout.
    """
    import pandas as pd

    spark = nodes.sparkSession
    ip = nodes.select("node_id").toPandas()
    ip = ip.sort_values("node_id", kind="mergesort", ignore_index=True)
    ids = ip["node_id"].to_numpy()

    ep = edges.select("src", "dst", "weight").toPandas()
    # vectorized id->ordinal lookup (hash-join in C); a Python-dict .map
    # costs seconds at 10^6 string keys
    idx = pd.Index(ids)
    src = idx.get_indexer(ep["src"].to_numpy())
    dst = idx.get_indexer(ep["dst"].to_numpy())
    import numpy as np

    w = ep["weight"].to_numpy(dtype=np.float64)
    final = _fastrp_local_solve(ids, src, dst, w, dim, iteration_weights, seed)
    id_field = nodes.schema["node_id"]
    return embeddings_df_from_arrays(
        spark, ids, final, id_field.dataType.simpleString()
    )


def fastrp(
    nodes: DataFrame,
    edges: DataFrame,
    dim: int = 64,
    iteration_weights: tuple[float, ...] = (0.0, 1.0, 1.0),
    seed: int = 42,
    local_max_edges: int = LOCAL_MAX_EDGES,
) -> DataFrame:
    """Returns ``(node_id, embedding ARRAY<DOUBLE> dim d)`` for every node.

    ``edges`` must already be undirected-doubled (plans/graphs.py).
    Isolated nodes (no in-edges) come out as zero vectors on both paths:
    they receive no messages, so every round leaves them at zero.
    """
    # nodes is typically *derived* (e.g. a distinct over the edge list);
    # without a cache every downstream action — init, broadcast gate,
    # isolated check, each iteration's zero-fill rejoin — would re-run
    # that distinct. This cache alone is worth ~2x on the whole algorithm.
    nodes = nodes.cache()
    edges = edges.cache()
    n_edges = edges.count()
    if 0 < n_edges <= local_max_edges:
        out = _fastrp_local(nodes, edges, dim, iteration_weights, seed)
        edges.unpersist(blocking=False)
        return out
    # hash-partition the edge cache on dst: the broadcast-join probe keeps
    # that partitioning, so every round's groupBy(dst) runs exchange-free
    # (see module docstring) — and it spreads the per-iteration kernel
    # across the cluster even when the source was a single narrow file
    par = nodes.sparkSession.sparkContext.defaultParallelism
    edges = cache_wide(edges, par, "dst")
    n_nodes = nodes.count()
    cols = _ecols(dim)
    # left lazy: the init table's only consumer is round 0's broadcast (or
    # join probe), which executes the projection exactly once — pinning it
    # would pay a store pass for nothing
    emb = _normalize(_init_embeddings(nodes, dim, seed), dim)

    # ~(dim * 8)B per node: broadcast the node-vector table while it fits
    # comfortably in an executor; beyond that, shuffle join
    broadcast_emb = n_nodes * dim * 8 < 256 * 1024 * 1024

    # isolated nodes (no in-edges) drop out of the propagate aggregate and
    # need a zero-fill rejoin each round; skip that join entirely when the
    # graph has none (always true for graphs built from an edge list)
    # distinct first (map-side combinable) so the probe side broadcasts;
    # a raw |E|-row right side would force a shuffle join here
    reached = edges.select(F.col("dst").alias("node_id")).distinct()
    # reached is |V|-bounded but still a node-sized set — same count gate
    # as the embedding broadcast below, not an unconditional hint
    bc_reached = gate_node_vector_broadcast(n_nodes, "FastRP reached-node set", bytes_per_row=16)
    has_isolated = nodes.join(bc_reached(reached), "node_id", "left_anti").count() > 0

    acc: DataFrame | None = None
    prev: DataFrame | None = None
    for idx, alpha in enumerate(iteration_weights):
        is_last = idx == len(iteration_weights) - 1
        emb = _normalize(_propagate(edges, emb, dim, broadcast_emb), dim)
        if has_isolated:
            emb = nodes.join(emb, "node_id", "left").selectExpr(
                "node_id", *[f"coalesce({c}, 0d) AS {c}" for c in cols]
            )
        # materialize only multi-consumer rounds: with α=0 this round's
        # table feeds exactly one plan (the next round's broadcast/probe),
        # so pinning it would trade one lazy execution for an execution
        # plus a store pass. With α≠0 it has two consumers (next round +
        # accumulator) — pin it so neither re-executes the propagate. On
        # the LAST round both the round table and the accumulator are
        # single-consumer again (emb feeds only the accumulator, acc feeds
        # only the output normalize), so both pins are skipped — the final
        # job evaluates the last propagate + blend in one lazy pass.
        # Each round's pinned state is exactly {current emb, current acc}.
        # The superseded round table is released only once the accumulator
        # is pinned too: a lazily seeded accumulator reads it until then.
        if alpha != 0.0:
            if not is_last:
                emb = materialize(emb)
            lit = f"{float(alpha)!r}d"  # repr round-trips the exact double
            if acc is None:
                acc = emb.selectExpr("node_id", *[f"{lit} * {c} AS {c}" for c in cols])
            else:
                prev_acc = acc
                acc = acc.alias("acc").join(emb.alias("emb"), "node_id").selectExpr(
                    "node_id", *[f"acc.{c} + {lit} * emb.{c} AS {c}" for c in cols]
                )
                if not is_last:
                    acc = materialize(acc, supersedes=prev_acc)
            if not is_last:
                if prev is not None:
                    release_checkpoint(prev)
                prev = emb

    final = acc if acc is not None else emb
    return _normalize(final, dim).selectExpr(
        "node_id", f"array({', '.join(cols)}) AS embedding"
    )


def user_embeddings_from_fastrp(emb: DataFrame) -> DataFrame:
    """Project the User-node rows back to (user_id, embedding) — the
    reference's S11 users+embedding projection for the KNN stage."""
    return emb.filter(F.col("node_id").startswith("u:")).select(
        F.split(F.col("node_id"), ":")[1].cast("long").alias("user_id"), "embedding"
    )
