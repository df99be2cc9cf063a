"""Harmonic closeness centrality — sampled multi-source BFS.

Harmonic centrality (Boldi & Vigna, "Axioms for Centrality", 2014 —
public) sums 1/d(s, v) over sources s, which, unlike classic closeness,
is well-defined on disconnected graphs (unreachable pairs contribute 0).
GDS ships it as ``gds.closeness.harmonic``; the scalable estimator is the
Eppstein-Wang style source sample scaled by n/k — with ``num_sources``
≥ n it is exact.

Distributed formulation: the same simultaneous multi-source BFS the
betweenness plan uses (state rows are (source, node, dist); each
superstep is one equi-join of the frontier against the once-cached edge
list plus an anti-join against the visited set; rounds = diameter,
independent of the sample size), but without path counting — closeness
only needs distances. Reference scope note: the reference runs only
Louvain/FastRP/KNN (Alg_*.py); centralities are part of this engine's
GDS-parity extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import cache_wide, gate_node_vector_broadcast, pin, release


def harmonic_closeness_approx(
    edges: DataFrame,
    num_sources: int = 16,
    seed: int = 7,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 64,
) -> DataFrame:
    """(node_id, closeness): harmonic centrality estimate over an
    undirected (doubled) edge list — ``(n/k) · Σ_{s∈S} 1/d(s, v)`` with
    the deterministic md5-hash source sample shared with
    ``betweenness_approx`` (a pure function of (graph, seed)); rounded
    to 6dp. Every node reachable from a sampled source appears; isolated
    never-reached nodes (closeness 0 under the estimator) are omitted,
    matching the betweenness output convention."""
    from ..functions.text import md5_hash60

    spark = edges.sparkSession
    par = spark.sparkContext.defaultParallelism
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    e = cache_wide(e, par, "_s")
    nodes = e.select(F.col("_s").alias("node_id")).distinct()
    n_nodes = nodes.count()
    if n_nodes == 0:
        e.unpersist(blocking=False)
        id_type = edges.schema[src].dataType.simpleString()
        return spark.createDataFrame([], f"node_id {id_type}, closeness double")
    k = min(num_sources, n_nodes)
    sources = (
        nodes.orderBy(md5_hash60(F.col("node_id").cast("string"), seed), "node_id")
        .limit(k)
        .select(F.col("node_id").alias("source"))
        .localCheckpoint()
    )

    visited = sources.select(
        "source", F.col("source").alias("node_id"), F.lit(0).alias("dist")
    ).localCheckpoint()
    frontier = visited
    # per-level state is (source, node)-keyed: ≤ k·|V| rows with exact
    # counts in hand from each level's fill, so both per-level joins take
    # count-gated broadcasts (the LogicalRDD sides otherwise plan
    # stats-blind sort-merge joins that re-sort the edge cache per level)
    n_frontier = n_visited = k
    for level in range(1, max_iter + 1):
        bc_f = gate_node_vector_broadcast(n_frontier, "multi-source BFS frontier", bytes_per_row=24)
        bc_v = gate_node_vector_broadcast(n_visited, "multi-source BFS visited set", bytes_per_row=24)
        nxt = (
            e.join(bc_f(frontier.select("source", F.col("node_id").alias("_s"))), "_s")
            .select("source", F.col("_d").alias("node_id"))
            .distinct()
            .join(bc_v(visited.select("source", "node_id")), ["source", "node_id"], "left_anti")
            .select("source", "node_id", F.lit(level).alias("dist"))
        )
        # ONE job per level: the emptiness count is the pin's fill. Level
        # pins back slices of the returned union and stay.
        pinned, (n_new,) = pin(nxt.coalesce(max(par // 4, 1)), F.count(F.lit(1)))
        if n_new == 0:
            release(pinned)
            break
        visited = visited.unionByName(pinned)
        frontier = pinned
        n_frontier = n_new
        n_visited += n_new
    e.unpersist(blocking=False)

    scale = float(n_nodes) / k
    return (
        visited.filter(F.col("dist") > 0)
        .groupBy("node_id")
        .agg(
            F.round(F.sum(1.0 / F.col("dist")) * F.lit(scale), 6).alias("closeness")
        )
    )
