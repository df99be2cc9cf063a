"""Eigenvector centrality over the projected co-rating graph.

GDS ships this as ``gds.eigenvector`` on the same projected graphs the
reference runs FastRP/Louvain over (Alg_KNN_FastRP.py's projection); the
classic power-iteration formulation (Bonacich 1987, public) is fully
SQL-expressible at a fixed iteration count, so — like ``plans/pagerank.py``
— it is oracle-checked with unrolled CTEs, the third hash-verified
iterative algorithm in the suite.

Round shape (identical to pagerank's exchange-free contract): the weighted
adjacency is folded into a dst-hash-partitioned cache ONCE; each round
broadcasts the small (node, score) vector, aggregates ``Σ w·x`` by dst with
no shuffle (the broadcast probe preserves the cached partitioning), then
L2-normalizes with one scalar aggregate — O(iters) jobs, one setup shuffle.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import cache_wide, gate_node_vector_broadcast, pin, release


def eigenvector_centrality(
    edges: DataFrame,
    iters: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
) -> DataFrame:
    """(node_id, score): power iteration x ← A·x / ‖A·x‖₂ from the uniform
    unit vector, ``iters`` rounds.

    ``edges`` must be symmetric (both directions present) so the node set
    is the distinct src side and the iteration matrix is the full
    adjacency. The L2 normalization is one scalar collect per round — the
    same driver-scalar pattern as the Louvain/modularity aggregates; at
    any scale it is a single double.
    """
    spark = edges.sparkSession
    par = spark.sparkContext.defaultParallelism
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("double").alias("w"),
    )
    e = cache_wide(e, par, "dst")
    nodes = e.select(F.col("src").alias("node_id")).distinct()
    n = nodes.count()
    if n == 0:
        e.unpersist(blocking=False)
        id_type = edges.schema[src_col].dataType.simpleString()
        return spark.createDataFrame([], f"node_id {id_type}, score double")
    x = nodes.select("node_id", F.lit(1.0 / math.sqrt(n)).alias("score"))
    bc = gate_node_vector_broadcast(n, "eigenvector score vector", bytes_per_row=16)
    pinned: DataFrame | None = None
    for _ in range(iters):
        # ONE job per round (the r9 shape paid two): the scalar Σ_y² norm
        # aggregate is the round's pin fill; the normalized view reads the
        # pinned sums, and the fill consumed the previous round's pin.
        y = (
            e.join(bc(x.withColumnRenamed("node_id", "src")), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("w") * F.col("score")).alias("_y"))
        )
        y, (norm_sq,) = pin(y, F.sum(F.col("_y") * F.col("_y")))
        norm = math.sqrt(norm_sq)
        x = y.select(
            F.col("dst").alias("node_id"), (F.col("_y") / F.lit(norm)).alias("score")
        )
        if pinned is not None:
            release(pinned)
        pinned = y
    # the final round's pin stays: it backs the returned scores (the
    # caller's first action materializes the checkpoint from its cache)
    e.unpersist(blocking=False)
    return x
