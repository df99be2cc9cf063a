"""HITS hubs & authorities over the bipartite positive-rating graph.

Kleinberg's HITS (JACM 1999, public) on user→book edges: users are hubs,
books are authorities — a natural recommendation signal the symmetric
co-rating projection cannot express (on a symmetric graph HITS collapses
to eigenvector centrality, which ``plans/eigenvector.py`` already covers;
the bipartite form is the one GDS ships as ``gds.alpha.hits``).

Round shape: the edge list is cached TWICE, hash-partitioned on user_id
and on isbn — the classic space-for-shuffle trade — so BOTH half-round
aggregates (authority = Σ over in-edges of hub scores, grouped by isbn;
hub = Σ of authority scores, grouped by user_id) consume a broadcast
score vector and group on their cache's own partitioning key:
zero per-round shuffles, mirroring the pagerank/eigenvector contract.
Each half-round L2-normalizes with a scalar aggregate that doubles as
the cache-fill action (the eigenvector fold).

Like pagerank, each side's score vector is broadcast under the count gate
(``gate_node_vector_broadcast``); past it the same code becomes a shuffle
join on the cache's partitioning key, which the co-partitioned caches
still serve without re-exchanging the edge side.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import cache_wide, gate_node_vector_broadcast, pin, release


def hits(
    edges: DataFrame,
    iters: int = 8,
    hub_col: str = "user_id",
    auth_col: str = "isbn",
) -> DataFrame:
    """(kind, id, score): 'hub' rows keyed by ``hub_col`` and 'authority'
    rows keyed by ``auth_col`` after ``iters`` rounds of
    a ← normalize(Eᵀh); h ← normalize(E a), from the uniform unit hub
    vector. Ids are cast to string so both sides share one schema; scores
    rounded to 6dp (sum-order differences are far below the rounding
    grain, so the result is engine-reproducible — oracle-checked).
    """
    spark = edges.sparkSession
    par = spark.sparkContext.defaultParallelism
    e = edges.select(F.col(hub_col).alias("_h"), F.col(auth_col).alias("_a")).distinct()
    e_by_hub = cache_wide(e, par, "_h")
    e_by_auth = cache_wide(e, par, "_a")
    hubs = e_by_hub.select("_h").distinct()
    n_hubs = hubs.count()
    if n_hubs == 0:
        e_by_hub.unpersist(blocking=False)
        e_by_auth.unpersist(blocking=False)
        return spark.createDataFrame([], "kind string, id string, score double")
    h = hubs.select("_h", F.lit(1.0 / math.sqrt(n_hubs)).alias("_s"))
    # both vectors are re-broadcast every half-round; gate each on its own
    # side's node count (louvain's 256 MB gate — round-8 VERDICT item 2).
    # ids are strings here, so budget a fatter row than the long-keyed trio.
    # n_auths comes from the FIRST half-round's checkpointed output (one
    # row per authority) — a cheap local scan, where a dedicated
    # distinct().count() would shuffle the edge cache once per call
    # (round-9 code review).
    bc_hub = gate_node_vector_broadcast(n_hubs, "HITS hub vector", bytes_per_row=48)
    bc_auth = None
    a = None

    def _half(edge_cache: DataFrame, vec: DataFrame, join_key: str, group_key: str, bc, prev):
        """One half-round in ONE job (the r9 shape paid two): the combined
        count+Σ_s² aggregate is the pin's fill (count feeds the first
        iteration's authority-side broadcast gate, Σ_s² the normalizer).
        ``prev`` is this side's previous pin, first materialized by the
        opposite side's fill in between, so dead by now. Returns the pin,
        the normalized view over it and the count; the final pins stay:
        they back the returned rows."""
        raw, row = pin(
            edge_cache.join(bc(vec), join_key)
            .groupBy(group_key)
            .agg(F.sum("_s").alias("_s")),
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.col("_s") * F.col("_s")).alias("_nsq"),
        )
        if prev is not None:
            release(prev)
        norm = math.sqrt(row["_nsq"])
        return raw, raw.select(group_key, (F.col("_s") / F.lit(norm)).alias("_s")), row["_n"]

    a_pin = h_pin = None
    for _ in range(iters):
        a_pin, a, n_a = _half(e_by_auth, h, "_h", "_a", bc_hub, a_pin)
        if bc_auth is None:
            bc_auth = gate_node_vector_broadcast(
                n_a, "HITS authority vector", bytes_per_row=48
            )
        h_pin, h, _ = _half(e_by_hub, a, "_a", "_h", bc_auth, h_pin)
    e_by_hub.unpersist(blocking=False)
    e_by_auth.unpersist(blocking=False)
    return (
        h.select(
            F.lit("hub").alias("kind"),
            F.col("_h").cast("string").alias("id"),
            F.round("_s", 6).alias("score"),
        )
        .unionByName(
            a.select(
                F.lit("authority").alias("kind"),
                F.col("_a").cast("string").alias("id"),
                F.round("_s", 6).alias("score"),
            )
        )
    )
