"""Weighted modularity of a community partition.

The reference prints ``communityCount`` and ``modularity`` from the GDS
Louvain summary (``algorithms/Alg_Community_Detection.py:45-50``); GDS
computes standard Newman modularity. Two groupBys reproduce it:

    Q = Σ_c [ in_c / (2m)  −  ( deg_c / (2m) )² ]

where, over the *directed-doubled* edge list (Σ A_ij = 2m):
``in_c`` is the doubled intra-community weight, ``deg_c`` the summed
weighted degree of the community's nodes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import gate_node_vector_broadcast
from ..functions.hints import gated_broadcast


def modularity(
    edges: DataFrame,
    communities: DataFrame,
    weight_col: str = "weight",
) -> float:
    """``edges``: undirected-doubled (src, dst, weight); ``communities``:
    (node_id, community). Returns Q ∈ [-0.5, 1].

    Single-pass formulation: with ``deg_c = Σ_{i∈c} k_i`` and ``in_c`` the
    doubled intra-community weight,

        Q = (Σ_c in_c)/2m − (Σ_c deg_c²)/(2m)²   and   2m = Σ_c deg_c,

    so one groupBy over the label-joined edge list plus one tiny aggregate
    over the per-community table yields Q in ONE scan (the naive reading of
    the formula costs three).
    """
    lab = communities.select(F.col("node_id"), F.col("community"))
    # label tables usually arrive checkpointed (no size stats) — Catalyst
    # won't auto-broadcast them and would shuffle the edge list twice; hint
    # it while |V| is broadcastable
    lab = gate_node_vector_broadcast(lab.count(), "modularity label table")(lab)
    e = (
        edges.join(lab.select(F.col("node_id").alias("src"), F.col("community").alias("c_src")), "src")
        .join(lab.select(F.col("node_id").alias("dst"), F.col("community").alias("c_dst")), "dst")
    )
    w = F.col(weight_col)
    row = (
        e.groupBy("c_src")
        .agg(
            F.sum(w).alias("deg"),
            F.sum(F.when(F.col("c_src") == F.col("c_dst"), w).otherwise(F.lit(0.0))).alias("in_w"),
        )
        .agg(
            F.sum("in_w").alias("in_total"),
            F.sum(F.col("deg") * F.col("deg")).alias("deg_sq"),
            F.sum("deg").alias("m_doubled"),
        )
        .collect()[0]
    )
    m = row["m_doubled"]
    if not m:
        return 0.0
    return float(row["in_total"] / m - row["deg_sq"] / (m * m))


def community_stats(communities: DataFrame) -> DataFrame:
    """GDS-summary analog: community count + size distribution (A7)."""
    sizes = communities.groupBy("community").agg(F.count(F.lit(1)).alias("size"))
    return sizes.agg(
        F.count(F.lit(1)).alias("communityCount"),
        F.max("size").alias("maxSize"),
        F.round(F.avg("size"), 6).alias("avgSize"),
    )


def conductance(
    edges: DataFrame, communities: DataFrame, weight_col: str = "weight"
) -> DataFrame:
    """(community, volume, cut_weight, conductance): per-community
    conductance φ(C) = cut(C) / min(vol(C), vol(G)−vol(C)) over the
    undirected-doubled edge list — the community-quality metric GDS ships
    as ``gds.conductance`` (public). A whole-graph community (denominator
    0) reports 0.0 by convention.

    Same single-scan shape as :func:`modularity`: label-join the doubled
    edges (broadcast-gated), one groupBy for per-community volume and cut,
    one 1-row total cross-joined back. 6dp rounding for the value hash.
    """
    lab = communities.select(F.col("node_id"), F.col("community"))
    lab = gate_node_vector_broadcast(lab.count(), "conductance label table")(lab)
    e = edges.join(
        lab.select(F.col("node_id").alias("src"), F.col("community").alias("c_src")),
        "src",
    ).join(
        lab.select(F.col("node_id").alias("dst"), F.col("community").alias("c_dst")),
        "dst",
    )
    percomm = e.groupBy(F.col("c_src").alias("community")).agg(
        F.sum(weight_col).alias("volume"),
        F.sum(
            F.when(F.col("c_src") != F.col("c_dst"), F.col(weight_col)).otherwise(
                F.lit(0.0)
            )
        ).alias("cut_weight"),
    )
    total = percomm.agg(F.sum("volume").alias("_tot"))
    denom = F.least(F.col("volume"), F.col("_tot") - F.col("volume"))
    return percomm.crossJoin(
        gated_broadcast(total, "1-row keyless aggregate (total volume)")
    ).select(
        "community",
        F.round("volume", 6).alias("volume"),
        F.round("cut_weight", 6).alias("cut_weight"),
        F.round(
            F.when(denom > 0, F.col("cut_weight") / denom).otherwise(F.lit(0.0)), 6
        ).alias("conductance"),
    )
