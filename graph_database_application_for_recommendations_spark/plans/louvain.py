"""Distributed Louvain community detection (SURVEY.md §2.7 G1).

Reference: Neo4j GDS ``gds.louvain.write`` on the weighted user–user
co-rating graph (``algorithms/Alg_Community_Detection.py:36-50``).

Louvain's classic local-move phase is sequential; the distributed
formulation here follows the parallel-Louvain literature (synchronous
local moves + graph coarsening — e.g. "Distributed Louvain" / Spark-GraphX
community implementations, public):

1. **Local move (synchronous red/black sweeps).** Every node evaluates
   moving to a neighboring community, scoring the standard modularity gain
   ΔQ ∝ k_i→c − deg_i · tot_c / 2m (ties → smallest community id). Only
   half the nodes (hash parity, alternating per sweep) apply their move —
   the red/black gating from the parallel-Louvain literature that prevents
   the symmetric-swap oscillation of fully synchronous moves. A modularity
   guard keeps the best sweep's assignment.
2. **Coarsen.** Communities contract to supernodes (intra-community weight
   becomes a self-loop), and the local-move phase repeats on the coarse
   graph, composing the mapping back to original nodes, until modularity
   stops improving or ``max_levels`` is reached.

The edge-sized work is joins + groupBys over (node, community, weight)
tuples, shuffle-partitioned. The per-node label state lives where the
node-vector gate says it may: while |V| fits ``gate_node_vector_broadcast``
(256 MB, ~11M nodes) it is numpy arrays on the driver, shipped to each
sweep through the same count-gated broadcast; over the gate it is one
checkpointed label table per sweep, ``(node_id, community, deg, tot)``.
Either way the sweep reads it through broadcasts from the src-partitioned
edge cache, so a sweep plans no edge shuffle. The input is evaluated once
(one cache serves the size gate and either path). Each distributed level
reads Q off its coarse graph rather than re-joining the labels to the input
edges. Everything Louvain pins is released before it returns except the
checkpoint the result reads.
"""

from __future__ import annotations

import math
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F

from . import (
    cache_wide,
    gate_node_vector_broadcast,
    materialize,
    node_vector_fits,
    release,
)
from ..functions.hints import gated_broadcast


class _Labels(NamedTuple):
    """One level's assignment. ``frame`` is ``(node_id, community)`` with
    ``n`` rows. ``node_id`` (ascending) and ``community`` are the
    driver-held arrays when the level's label table fit the node-vector
    gate; then ``frame`` is Arrow-built from them and holds no storage.
    Over the gate they are None and ``frame`` is a filled checkpoint."""

    frame: DataFrame
    n: int
    node_id: np.ndarray | None = None
    community: np.ndarray | None = None


def _active(col: str, parity: int):
    """Red/black gating: only nodes whose hash parity matches the sweep's
    may move."""
    return F.pmod(F.hash(col), F.lit(2)) == parity


def _best_moves(edges: DataFrame, labels: DataFrame, m2: float, bc, parity: int) -> DataFrame:
    """One sweep's gain/argmax plan over the src-partitioned edge cache:
    ``(node_id, c_own, deg, best)`` for every node of the active half,
    ``best.choice`` its best community. ``labels`` is the sweep's
    ``(node_id, community, deg, tot)`` table, wherever it lives; ``bc`` is
    its count gate.

    Both lookups, ``dst → (c, tot_c)`` and ``src → (c_own, deg)``, go
    through the gate (label tables carry no useful size stats, so Catalyst
    never auto-broadcasts them; graphs too big for the gate take shuffle
    joins). On the src-partitioned edge cache the ``(src, c)`` aggregate
    and the argmax then run exchange-free.
    """
    # k_i→c: weight from node i into community c (self-loops count into
    # the node's own community like GDS does); tot_c rides along as a
    # grouping key (it is a function of c). Filtering the edge list on src
    # parity BEFORE the join halves the sweep's dominant aggregate (the
    # inactive half's argmax would be computed and then discarded).
    k_ic = (
        edges.filter(_active("src", parity))
        .join(
            bc(labels.select(
                F.col("node_id").alias("dst"), F.col("community").alias("c"), "tot"
            )),
            "dst",
        )
        .groupBy(F.col("src").alias("node_id"), "c", "tot")
        .agg(F.sum("weight").alias("k_ic"))
    )
    cand = k_ic.join(
        bc(labels.select("node_id", F.col("community").alias("c_own"), "deg")),
        "node_id",
    ).select(
        "node_id",
        "c",
        "c_own",
        "deg",
        # remove own degree from tot when evaluating the current
        # community (standard ΔQ bookkeeping)
        (
            F.col("k_ic")
            - F.col("deg")
            * (
                F.col("tot")
                - F.when(F.col("c") == F.col("c_own"), F.col("deg")).otherwise(F.lit(0.0))
            )
            / F.lit(m2)
        ).alias("gain"),
    )
    # argmax via aggregate, not a row_number() sort-window: the aggregate
    # gets a map-side partial combine and skips a full sort of the
    # candidate table (tie-break gain desc, c asc — node/community ids are
    # numeric, so max(-c) == min(c)); c_own and deg are functions of
    # node_id and ride along as grouping keys
    return cand.groupBy("node_id", "c_own", "deg").agg(
        F.max(
            F.struct(
                F.col("gain"),
                (-F.col("c")).alias("_neg_c"),
                F.col("c").alias("choice"),
            )
        ).alias("best")
    )


def _local_move(edges: DataFrame, max_sweeps: int, n_bound: int | None = None) -> _Labels:
    """One Louvain phase on ``edges`` (undirected-doubled src,dst,weight):
    the last sweep's assignment.

    ``n_bound``: a known upper bound on the node count (the level's edge
    row count: every node is some edge's src). When it fits the
    node-vector gate, no job counts the nodes.

    The label state has one of two owners, and the gain/argmax plan
    (:func:`_best_moves`) is the same for both:

    - **The driver**, while |V| fits ``gate_node_vector_broadcast`` (the
      label table would be broadcast through the driver anyway). One
      aggregate collects the ``(node_id, deg)`` arrays. Each sweep builds
      ``tot`` with ``np.bincount`` (summed in ascending node order), ships
      ``(node_id, community, deg, tot)`` as an Arrow-built frame, and
      collects only the movers, ``(node_id, choice)`` rows with
      ``choice != c_own``. Their count is the convergence signal. A sweep
      is the two broadcasts and the collect.
    - **Spark**, over the gate. The label table is a checkpoint per sweep,
      ``tot`` is attached by a window as each table is built, and a lazy
      checkpoint fills during the move count. The window stays off the
      broadcast side, where it would draw a runtime bloom filter (a shuffle
      of the active edges) into every sweep.
    """
    spark = edges.sparkSession
    par = spark.sparkContext.defaultParallelism
    deg_rows = edges.groupBy("src").agg(F.sum("weight").alias("deg")).select(
        F.col("src").alias("node_id"), "deg"
    )
    labels = None  # the Spark-held label table
    n_nodes = n_bound
    if n_bound is None or not node_vector_fits(n_bound):
        # every node starts in its own community, so tot = deg
        labels = (
            deg_rows.select(
                "node_id", F.col("node_id").alias("community"), "deg", F.col("deg").alias("tot")
            )
            .coalesce(par)
            .cache()
        )
        # one job fills the label table and sizes the level: |V| and 2m = Σ deg
        n_nodes, m2 = labels.agg(F.count(F.lit(1)), F.sum("deg")).collect()[0]
    on_driver = node_vector_fits(n_nodes)
    if on_driver:
        pdf = (
            (deg_rows if labels is None else labels.select("node_id", "deg"))
            .toPandas()
            .sort_values("node_id")
        )
        if labels is not None:
            release(labels)
        node_id = pdf["node_id"].to_numpy(dtype=np.int64)
        deg = pdf["deg"].to_numpy(dtype=np.float64)
        community = node_id.copy()
        n_nodes, m2 = len(node_id), math.fsum(deg)
    bc = gate_node_vector_broadcast(n_nodes, "louvain label table")
    stale = 0

    for sweep in range(max_sweeps):
        parity = sweep % 2
        if on_driver:
            ordinal = np.searchsorted(node_id, community)
            tot = np.bincount(ordinal, weights=deg, minlength=n_nodes)[ordinal]
            labels = spark.createDataFrame(
                pd.DataFrame({"node_id": node_id, "community": community, "deg": deg, "tot": tot}),
                "node_id long, community long, deg double, tot double",
            )
        chosen = _best_moves(edges, labels, m2, bc, parity)
        if on_driver:
            moves = (
                chosen.filter(F.col("best.choice") != F.col("c_own"))
                .select("node_id", F.col("best.choice").alias("choice"))
                .toPandas()
            )
            community[np.searchsorted(node_id, moves["node_id"].to_numpy(dtype=np.int64))] = (
                moves["choice"].to_numpy(dtype=np.int64)
            )
            changed = len(moves)
        else:
            # every active node has an edge, so ``chosen`` holds exactly the
            # active half; unioned with the inactive half's rows it is the
            # next label table, with no labels ⋈ chosen shuffle. The
            # convergence signal rides along as a ``_moved`` flag. LAZY
            # checkpoint: the plan is truncated now (the next sweep reads
            # this table twice; untruncated, the plan compounds every sweep)
            # and the blocks fill during the move count, so one action both
            # fills the next label table and counts the moves. (With
            # red/black gating the moves are monotone enough that a
            # per-sweep exact-Q guard isn't worth a pass over the edge
            # list; the per-level Q guard in louvain() still rejects a
            # non-improving level.)
            nxt = (
                chosen.select(
                    "node_id",
                    F.col("best.choice").alias("community"),
                    "deg",
                    (F.col("best.choice") != F.col("c_own")).alias("_moved"),
                )
                .unionByName(
                    labels.filter(~_active("node_id", parity)).select(
                        "node_id", "community", "deg", F.lit(False).alias("_moved")
                    )
                )
                .withColumn("tot", F.sum("deg").over(Window.partitionBy("community")))
                .localCheckpoint(eager=False)
            )
            changed = nxt.filter("_moved").count()
            # the table this sweep read is dead once the next one is filled
            release(labels)
            labels = nxt
        if changed == 0:
            # a half-sweep may be flat while the other half still has
            # moves; stop only after both parities stall
            stale += 1
            if stale >= 2:
                break
        else:
            stale = 0

    if on_driver:
        return _Labels(
            spark.createDataFrame(
                pd.DataFrame({"node_id": node_id, "community": community}),
                "node_id long, community long",
            ),
            n_nodes, node_id, community,
        )
    # eager: the result's blocks are filled before its source is released
    out = labels.select("node_id", "community").localCheckpoint()
    release(labels)
    return _Labels(out, n_nodes)


def _louvain_sequential(
    src, dst, weight, max_levels: int = 10, max_sweeps: int = 20
):
    """Exact sequential Louvain on driver-local numpy edge arrays.

    Input is a directed-doubled edge list; returns ``(node_ids, community,
    q)`` with ``community`` indexed by position in ``node_ids``.

    Move rule mirrors the distributed scorer (argmax of
    k_i→c − deg_i·(tot_c − [c=c_i]·deg_i)/2m), but moves require a STRICT
    improvement over staying, so modularity is monotone non-decreasing and
    the node-ascending iteration order makes the result deterministic.
    """
    # a doubled edge list has set(dst) ⊆ set(src), so the sorted node index
    # comes from src alone (half the sort of the concatenated form) and the
    # ordinal maps from two binary searches — bit-identical to
    # np.unique(concat, return_inverse=True) since np.unique sorts. The
    # subset check is O(|E|) compares; any violation (a caller handing a
    # non-doubled list) falls back to the general form.
    node_ids = np.unique(src)
    s = np.searchsorted(node_ids, src)
    d = np.searchsorted(node_ids, dst)
    if len(node_ids) == 0 or not np.array_equal(node_ids[np.minimum(d, len(node_ids) - 1)], dst):
        node_ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
        s, d = inv[: len(src)].copy(), inv[len(src) :].copy()
    n0 = len(node_ids)
    w = np.asarray(weight, dtype=np.float64)
    m2 = w.sum()
    mapping = np.arange(n0)  # original node index -> current community label
    q_best = -1.0

    for _level in range(max_levels):
        n = int(max(s.max(), d.max())) + 1 if len(s) else 0
        order = np.argsort(s, kind="stable")
        s_o, d_o, w_o = s[order], d[order], w[order]
        indptr = np.searchsorted(s_o, np.arange(n + 1))
        deg = np.bincount(s_o, weights=w_o, minlength=n)
        comm = np.arange(n)
        tot = deg.copy()

        # k_i→c scatter buffer reused across nodes (zeroed on the touched
        # slots after each node) — avoids a per-node np.unique sort, which
        # dominates the sweep at avg degree in the hundreds
        buf = np.zeros(n)
        # pruned sweeps (Ozaki et al. 2016, standard Louvain speedup):
        # sweep 1 visits every node; later sweeps only nodes adjacent to a
        # move — a node whose neighborhood didn't change almost always
        # re-makes the same decision, and the active set shrinks
        # geometrically. Processing order stays node-ascending among the
        # active set, so the result remains deterministic.
        active = np.ones(n, dtype=bool)
        for _sweep in range(max_sweeps):
            moved = 0
            next_active = np.zeros(n, dtype=bool)
            for i in np.flatnonzero(active):
                lo, hi = indptr[i], indptr[i + 1]
                if lo == hi:
                    continue
                cs = comm[d_o[lo:hi]]
                ws = w_o[lo:hi]
                np.add.at(buf, cs, ws)
                ci = comm[i]
                deg_i = deg[i]
                # candidate list may repeat a community; duplicate entries
                # carry identical gains, so argmax/tie-break are unaffected
                gain = buf[cs] - deg_i * (tot[cs] - (cs == ci) * deg_i) / m2
                # staying scores k_i→ci (0 if no edge into own community)
                # with the own-degree correction applied
                stay_gain = buf[ci] - deg_i * (tot[ci] - deg_i) / m2
                maxg = gain.max()
                buf[cs] = 0.0
                if maxg > stay_gain:
                    cb = int(cs[gain == maxg].min())  # ties -> smallest id
                    if cb != ci:
                        tot[ci] -= deg_i
                        tot[cb] += deg_i
                        comm[i] = cb
                        moved += 1
                        next_active[d_o[lo:hi]] = True
                        next_active[i] = True
            if moved == 0:
                break
            active = next_active

        # modularity of this level's partition (on the coarse graph == on
        # the original graph, coarsening preserves Q)
        in_c = np.bincount(comm[s_o], weights=w_o * (comm[s_o] == comm[d_o]), minlength=n)
        tot_c = np.bincount(comm[s_o], weights=w_o, minlength=n)
        q = in_c.sum() / m2 - (tot_c**2).sum() / (m2 * m2)
        if q <= q_best + 1e-9:
            break
        q_best = q
        # relabel communities densely, compose mapping, coarsen edges
        uniq, comp = np.unique(comm, return_inverse=True)
        mapping = comp[mapping]
        key = comp[s] * len(uniq) + comp[d]
        if len(uniq) * len(uniq) <= max(4 * len(key), 1 << 22):
            # dense label-pair grid: one bincount pass instead of sorting
            # the |E|-long key array through np.unique. Both forms sum the
            # weights in original array order (bincount and
            # bincount-over-inverse are the same accumulation), so the
            # coarse weights are bit-identical.
            wsum = np.bincount(key, weights=w, minlength=len(uniq) * len(uniq))
            # presence from an unweighted count so zero-weight pairs keep
            # their row exactly like the np.unique form would
            uk = np.flatnonzero(np.bincount(key, minlength=len(uniq) * len(uniq)))
            w = wsum[uk]
        else:
            uk, pos = np.unique(key, return_inverse=True)
            w = np.bincount(pos, weights=w)
        s, d = uk // len(uniq), uk % len(uniq)
        if len(uniq) == n:  # no contraction -> converged
            break

    return node_ids, mapping, q_best


def _coarsen(edges: DataFrame, labels: _Labels) -> DataFrame:
    """Contract communities to supernodes; intra edges become self-loops."""
    lab = gate_node_vector_broadcast(labels.n, "coarsening label table")(labels.frame)
    src_map = lab.select(F.col("node_id").alias("src"), F.col("community").alias("c_src"))
    dst_map = lab.select(F.col("node_id").alias("dst"), F.col("community").alias("c_dst"))
    return (
        edges.join(src_map, "src")
        .join(dst_map, "dst")
        .groupBy(F.col("c_src").alias("src"), F.col("c_dst").alias("dst"))
        .agg(F.sum("weight").alias("weight"))
    )


def _compose_local(mapping: DataFrame, local_ids, local_comm) -> DataFrame:
    """Compose a Spark-held mapping with a driver-local level's labels
    (``local_ids`` → ``local_comm``)."""
    spark = mapping.sparkSession
    local_map = spark.createDataFrame(
        pd.DataFrame({"community_prev": local_ids, "community": local_comm}).astype("int64")
    )
    # left join: every supernode appears in the coarse edge list
    # (coarsening keeps self-loops), but if one ever slipped through it
    # must keep its old community rather than vanish from the result.
    # Offset local labels so the two label spaces cannot collide.
    offset = int(mapping.agg(F.max("community")).collect()[0][0]) + 1
    return materialize(
        mapping.join(
            gated_broadcast(
                local_map,
                "driver-local numpy phase output: bounded "
                "by the coarse graph the gated hybrid "
                "already pulled to the driver",
            ),
            mapping.community == F.col("community_prev"),
            "left",
        ).select(
            mapping.node_id,
            F.coalesce(local_map.community + F.lit(offset), mapping.community).alias("community"),
        ),
        supersedes=mapping,
    )


def louvain(
    edges: DataFrame, max_levels: int = 3, max_sweeps: int = 5,
    local_threshold: int = 5_000_000,
) -> tuple[DataFrame, float]:
    """Full Louvain: returns ((node_id, community), modularity).

    ``edges``: undirected-doubled (src, dst, weight). Community ids are
    canonicalized to the smallest member node id.

    Hybrid coarsening (the standard shape in the distributed-Louvain
    literature): any level whose edge list fits the driver
    (≤ ``local_threshold`` rows, ~24 B/row) collects and runs the EXACT
    sequential algorithm locally — better modularity than synchronous
    sweeps, and it trades dozens of small Spark jobs for one numpy loop.
    Levels above the threshold run the distributed synchronous local-move;
    coarsening shrinks the graph geometrically, so even with a 100 TB
    input only level 0 (and rarely level 1) is distributed — the level-1
    supernode graph is usually thousands of nodes.

    A distributed level coarsens first and reads Q off the coarse graph:
    with ``w_cd`` the coarse weights, Q = Σ_c w_cc / 2m − Σ_c (Σ_d w_cd)²
    / (2m)², one aggregate over the small coarse table that also yields
    its row count (the next level's local gate). No pass over the input
    edge list computes Q.

    While |V₀| fits the node-vector gate (always, on the local path), the
    level mappings compose on the driver, the canonical id (the minimum
    member id) is taken there too, and the result is one eager checkpoint
    of an Arrow-built frame. Over the gate, the mapping is a checkpointed
    Spark table and the canonical ids come from a broadcast join.

    The size gate's count fills a cache of ``edges`` (unless the caller's
    plan is already cached), which the local solve or the src-partitioned
    copy then reads, so the upstream plan runs once. The returned frame
    reads one checkpoint; every other cache and checkpoint made here is
    released before returning.
    """
    spark = edges.sparkSession
    par = spark.sparkContext.defaultParallelism
    pinned = None  # the edge cache made here, released on return
    n_edges = None
    if local_threshold:
        # one run of the upstream plan (the pipeline's co-rating self-join)
        # serves the gate count and whichever path reads the edges next
        if edges.storageLevel == StorageLevel.NONE:
            edges = pinned = edges.cache()
        n_edges = edges.count()
    if n_edges is None or n_edges > local_threshold:
        # hash-partition the edge cache on src: every per-sweep aggregate
        # downstream groups on src or (src, c) after broadcast joins that
        # preserve the probe side's partitioning, and HashPartitioning(src)
        # satisfies both clustered distributions — so the sweeps' dominant
        # k_i→c aggregation and the per-node argmax both run exchange-free,
        # every sweep, for one setup shuffle (same strategy as FastRP's
        # dst-partitioned cache).
        wide = cache_wide(edges, par, "src")
        if pinned is not None:
            release(pinned)
        edges = pinned = wide
    # original node_id -> current community, on the driver (node_ids
    # ascending) while |V₀| fits the gate, else as a Spark table
    node_ids: np.ndarray | None = None
    comm: np.ndarray | None = None
    mapping: DataFrame | None = None
    cur_edges, n_cur = edges, n_edges
    prev_q = float("-inf")

    for level in range(max_levels):
        if local_threshold and n_cur <= local_threshold:
            pdf = cur_edges.toPandas()
            local_ids, local_comm, q_local = _louvain_sequential(
                pdf["src"].to_numpy(),
                pdf["dst"].to_numpy(),
                pdf["weight"].to_numpy(),
                max_levels=max_levels - level,
                max_sweeps=max_sweeps,
            )
            if q_local > prev_q + 1e-9:
                if level == 0:
                    # level 0 is itself driver-sized: the sequential solve
                    # IS the whole algorithm
                    node_ids, comm = local_ids.astype(np.int64), local_comm
                elif mapping is None:
                    # every supernode appears in the coarse edge list
                    # (coarsening keeps self-loops), but if one ever slipped
                    # through it keeps its old community rather than vanish.
                    # Offset local labels so the label spaces cannot collide.
                    pos = np.minimum(np.searchsorted(local_ids, comm), len(local_ids) - 1)
                    comm = np.where(
                        local_ids[pos] == comm, local_comm[pos] + comm.max() + 1, comm
                    )
                else:
                    mapping = _compose_local(mapping, local_ids, local_comm)
                prev_q = q_local
            break
        labels = _local_move(cur_edges, max_sweeps, n_cur)
        # one aggregate fills the coarse graph's cache and reads Q and the
        # coarse row count off it (``materialize`` with Q as its fill)
        filled = _coarsen(cur_edges, labels).cache()
        in_w, deg_sq, m2, n_coarse = (
            filled.groupBy("src")
            .agg(
                F.sum("weight").alias("deg"),
                F.sum(
                    F.when(F.col("src") == F.col("dst"), F.col("weight")).otherwise(F.lit(0.0))
                ).alias("in_w"),
                F.count(F.lit(1)).alias("rows"),
            )
            .agg(
                F.sum("in_w"), F.sum(F.col("deg") * F.col("deg")), F.sum("deg"), F.sum("rows")
            )
            .collect()[0]
        )
        q = float(in_w / m2 - deg_sq / (m2 * m2)) if m2 else 0.0
        if q <= prev_q + 1e-9:
            # never the mapping: the first level always improves on -inf
            release(filled)
            release(labels.frame)
            break
        prev_q = q
        coarse = filled.localCheckpoint()
        filled.unpersist(blocking=False)
        if level == 0 and labels.node_id is not None:
            node_ids, comm = labels.node_id, labels.community
        elif node_ids is not None:
            # a level has at most |V₀| nodes, so its labels are driver-held
            comm = labels.community[np.searchsorted(labels.node_id, comm)]
        elif mapping is None:
            # a filled checkpoint: at the first level it becomes the mapping
            # as is, no second copy
            mapping = labels.frame
        else:
            composed = mapping.join(
                # the coarse-level label table shrinks every level — hint it
                # while broadcastable
                gate_node_vector_broadcast(labels.n, "coarse-level labels")(labels.frame)
                .withColumnRenamed("node_id", "community_prev"),
                mapping.community == F.col("community_prev"),
            ).select(mapping.node_id, labels.frame.community)
            mapping = materialize(composed, supersedes=mapping)
            release(labels.frame)
        # this level's edge list is dead once the coarse graph is pinned
        if cur_edges is not edges:
            release(cur_edges)
        cur_edges, n_cur = coarse, n_coarse

    # the returned frame reads only the mapping checkpoint
    if cur_edges is not edges:
        release(cur_edges)
    if pinned is not None:
        release(pinned)
    if node_ids is not None:
        # node_ids ascend, so a label's first position is its smallest member
        _, first, inverse = np.unique(comm, return_index=True, return_inverse=True)
        final = spark.createDataFrame(
            pd.DataFrame({"node_id": node_ids, "community": node_ids[first][inverse]}),
            "node_id long, community long",
        ).localCheckpoint()
        return final, prev_q
    assert mapping is not None
    canon = mapping.groupBy("community").agg(F.min("node_id").alias("canon"))
    canon = gate_node_vector_broadcast(canon.count(), "canonical community ids")(canon)
    final = mapping.join(canon, "community").select(
        "node_id", F.col("canon").alias("community")
    )
    return final, prev_q

