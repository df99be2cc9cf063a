"""Weighted single-source shortest paths — synchronous Bellman-Ford
relaxation rounds over DataFrames (the gds.shortestPath.dijkstra /
deltaStepping surface; on a shared-nothing engine the synchronous
relaxation IS the standard formulation — delta-stepping's buckets only
reorder work the rounds already bound).

Round r: dist_{r}(v) = min(dist_{r-1}(v), min over in-edges (u,v) of
dist_{r-1}(u) + cost(u,v)). Fixpoint after at most (max hops on any
optimal path) rounds — a property of the cost structure, not |V| (the
n-1 worst case needs adversarial chains; measured 15 at sf0.01 on the
inverse-weight co-rating graph). Each round is one equi-join of the
current distance table against the once-cached edge list plus a min
aggregate — map-side combinable, exchange-bounded by the distance table.

Determinism: synchronous rounds compute every distance as the same
left-to-right sum along its optimal path in both engines, so values are
bit-identical to the unrolled-CTE SQL twin (rounding only at output).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import cache_wide, gate_node_vector_broadcast, pin, release


def sssp_weighted(
    edges: DataFrame,
    source,
    src: str = "src",
    dst: str = "dst",
    cost_col=None,
    max_iter: int = 64,
) -> DataFrame:
    """(node_id, dist): least-cost distances from ``source`` over a
    directed (or doubled-undirected) edge list. ``cost_col`` defaults to
    ``1.0 / weight`` (strong ties = short hops — the natural metric on a
    co-rating graph). Unreachable nodes are absent. Early-exits on
    fixpoint (one scalar count per round)."""
    spark = edges.sparkSession
    par = spark.sparkContext.defaultParallelism
    cost = cost_col if cost_col is not None else 1.0 / F.col("weight")
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"), cost.alias("_c"))
    e = cache_wide(e, par, "_s")

    id_type = edges.schema[src].dataType.simpleString()
    dist = spark.createDataFrame([(source, 0.0)], f"node_id {id_type}, dist double")
    # the distance table is |reached-nodes|-bounded (≤ |V|); its exact row
    # count rides along on each round's fill aggregate, so every round's
    # two joins take a count-gated broadcast of it instead of the
    # stats-blind sort-merge the LogicalRDD otherwise plans (which re-sorts
    # the whole cached edge list every round); past the 256 MB gate the
    # rounds fall back to the shuffle join against the _s-partitioned cache.
    n_dist = 1
    pinned = dist
    for _ in range(max_iter):
        bc = gate_node_vector_broadcast(n_dist, "SSSP distance vector", bytes_per_row=16)
        relaxed = (
            e.join(bc(dist.select(F.col("node_id").alias("_s"), "dist")), "_s")
            .select(F.col("_d").alias("node_id"), (F.col("dist") + F.col("_c")).alias("dist"))
            .unionByName(dist)
            .groupBy("node_id")
            .agg(F.min("dist").alias("dist"))
        )
        # ONE job per round (the r9 shape paid three): the combined
        # count/improved aggregate is the pin's fill AND the fixpoint test
        # (the distance table is referenced three times per round, so an
        # untruncated chain compounds analyzer cost exponentially). The
        # fill consumed the previous round's pin, which is dead now.
        flagged = relaxed.join(
            bc(dist.select("node_id", F.col("dist").alias("_old"))), "node_id", "left"
        )
        new, row = pin(
            flagged,
            F.count(F.lit(1)).alias("_n"),
            F.sum(
                F.when(
                    F.col("_old").isNull() | (F.col("dist") < F.col("_old")), 1
                ).otherwise(0)
            ).alias("_improved"),
        )
        release(pinned)
        pinned = new
        dist = new.select("node_id", "dist")
        n_dist = row["_n"]
        if row["_improved"] == 0:
            break
    # the final round's pin stays: it backs the returned distance table
    # until the caller's first action.
    e.unpersist(blocking=False)
    return dist.select("node_id", F.round("dist", 6).alias("dist"))
