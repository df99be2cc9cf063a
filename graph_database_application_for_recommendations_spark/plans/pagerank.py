"""Weighted PageRank over the projected co-rating graph.

Not part of the reference's GDS surface (it runs FastRP / KNN / Louvain —
algorithms/Alg_KNN_FastRP.py, Alg_Community_Detection.py), but the natural
next centrality on the same projected graph, and a second consumer of the
exchange-free iterative round infrastructure (plans/fastrp.py pattern):
fold the transition probabilities into a dst-hash-partitioned edge cache
once, then every round broadcasts the small (node, rank) table and
aggregates contributions by dst WITHOUT a shuffle — O(iters) jobs, one
setup shuffle, verified by plan assertion in tests/test_plans.py.

Unlike FastRP/Louvain this one is fully SQL-expressible (a fixed iteration
count unrolls into chained CTEs), so the registry checks it against a
DuckDB oracle — the only oracle-checked *iterative* algorithm in the
suite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import cache_wide, gate_node_vector_broadcast, pin, release

# Rounds chained lazily between materialization barriers. Each round
# references the previous round's table exactly once (the rank vector feeds
# only the next round's join), so a K-round chain executes every round
# exactly once inside ONE job — the barrier's cache-fill + localCheckpoint
# passes (2 driver-synchronized jobs per round, r9 shape) collapse to 2 per
# K rounds. K stays small and fixed because on the broadcast path a chained
# round nests its predecessor inside its broadcast build: the top await has
# to absorb K sequential passes over the edge cache, and
# spark.sql.broadcastTimeout (300 s default) bounds how deep that can
# safely go at 100 TB; K=3 keeps the nested build well under the timeout
# while cutting per-round barriers 3x. On the shuffle-fallback path (gate
# declines the broadcast) the chain is just K joins+aggs in one plan — the
# exact unrolled-CTE shape, no futures involved.
CHAIN_ROUNDS = 3


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
    sources: list | None = None,
) -> DataFrame:
    """(node_id, rank): weighted PageRank with uniform teleport — or, when
    ``sources`` is given, PERSONALIZED PageRank: the teleport mass lands
    uniformly on the source set only (Page et al. 1999 §6 / the GDS
    ``sourceNodes`` option), so ranks measure proximity to those seeds —
    the "recommend around this user" centrality. Identical round shape
    and exchange-free plan either way.

    ``edges`` must be symmetric (both directions present, as
    ``corating_edges``/``undirected()`` produce), so dangling nodes cannot
    arise (out-degree ≥ 1 everywhere) and the node set is exactly the
    distinct src side.

    Scale notes: the per-round rank table is 16 B/node — the broadcast is
    count-gated at 256 MB (``gate_node_vector_broadcast``, louvain's gate);
    past that every round falls back to the shuffle join, and the edge
    cache's src-side partitioning keeps that join co-located. The aggregate itself never shuffles: the broadcast
    probe preserves the dst partitioning of the cached edges.
    """
    spark = edges.sparkSession
    par = spark.sparkContext.defaultParallelism
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("double").alias("w"),
    )
    wdeg = e.groupBy("src").agg(F.sum("w").alias("_wd"))
    trans = e.join(wdeg, "src").select(
        "src", "dst", (F.col("w") / F.col("_wd")).alias("p")
    )
    trans = cache_wide(trans, par, "dst")
    nodes = trans.select(F.col("src").alias("node_id")).distinct()
    n = nodes.count()
    if n == 0:  # empty graph: empty ranks, not a ZeroDivisionError
        trans.unpersist(blocking=False)
        id_type = edges.schema[src_col].dataType.simpleString()
        return spark.createDataFrame([], f"node_id {id_type}, rank double")
    if sources is None:
        ranks = nodes.select("node_id", F.lit(1.0 / n).alias("rank"))
        tele = F.lit((1.0 - damping) / n)
    else:
        in_s = F.col("node_id").isin(list(sources))
        ranks = nodes.select(
            "node_id",
            F.when(in_s, F.lit(1.0 / len(sources))).otherwise(F.lit(0.0)).alias("rank"),
        )
        tele = F.when(in_s, F.lit((1.0 - damping) / len(sources))).otherwise(F.lit(0.0))
    bc = gate_node_vector_broadcast(n, "pagerank rank vector", bytes_per_row=16)
    pinned: DataFrame | None = None
    pending = 0
    for i in range(iters):
        ranks = (
            trans.join(bc(ranks.withColumnRenamed("node_id", "src")), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("p")).alias("_s"))
            .select(
                F.col("dst").alias("node_id"),
                (tele + F.lit(damping) * F.col("_s")).alias("rank"),
            )
        )
        pending += 1
        # pin every CHAIN_ROUNDS rounds and at the end: the chain in
        # between stays lazy (each round referenced exactly once — see
        # CHAIN_ROUNDS). The barrier's one job is the count, which executes
        # the chained rounds and fills the previous pin's checkpoint on the
        # way, so that pin is dead once it returns.
        if pending == CHAIN_ROUNDS or i == iters - 1:
            ranks, _ = pin(ranks, F.count(F.lit(1)))
            if pinned is not None:
                release(pinned)
            pinned = ranks
            pending = 0
    trans.unpersist(blocking=False)
    return ranks
