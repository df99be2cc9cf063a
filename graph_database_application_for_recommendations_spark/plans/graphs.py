"""Graph construction helpers: the Spark analog of GDS graph projections
(SURVEY.md §2.1 S9-S11).

A "projected graph" here is just a pair of DataFrames (nodes, edges); the
reference's named in-memory projections map to cached temp views
(see catalog.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def undirected(edges: DataFrame) -> DataFrame:
    """U2 — double each edge (GDS ``orientation: 'UNDIRECTED'``,
    reference Alg_KNN_FastRP.py:43)."""
    cols = edges.columns
    flipped = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), *[c for c in cols if c not in ("src", "dst")]
    ).select(*cols)
    return edges.unionByName(flipped)


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(node_id, component): connected components of an edge list,
    ``component`` = MIN node id in the component. GDS exposes this as
    ``gds.wcc``; it is also the invariant-checkable core of the iterative
    min-label machinery the community/dedup plans share — unlike
    Louvain labels, CC labels are fully determined by the graph, so the
    driver can hash-compare them against a recursive-CTE SQL oracle.

    Delegates to the hybrid local/distributed min-label solver
    (operators/dedup.py::neardup_components — numpy fixpoint under the
    driver-size gate, O(diameter)-shuffle label propagation above it).
    """
    from ..operators.dedup import neardup_components

    return neardup_components(edges, id_a=src, id_b=dst).select(
        F.col("doc_id").alias("node_id"), F.col("group_id").alias("component")
    )


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(node_id, triangles): per-node triangle counts of an undirected edge
    list (either or both directions may be present; self-loops ignored).

    Degree-ordered orientation (the standard distributed formulation —
    e.g. Suri & Vassilvitskii, WWW 2011, public paper): direct each edge
    from its lower (degree, id) endpoint to the higher one, so every
    wedge join fans out by *oriented out-degree*, which is O(√|E|)-bounded
    even on power-law graphs — the naive neighbor self-join explodes on
    hub nodes, this never does. Triangles are wedges (a→b, a→c with
    b <ord c) closed by an oriented edge (b→c); each triangle is produced
    exactly once, then credited to all three corners.

    Three shuffles total (degree aggregate, wedge join, closing join) —
    the plan a 1000-executor cluster wants.
    """
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        canon.select(F.col("a").alias("n"))
        .unionAll(canon.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    keyed = canon.join(da, "a").join(db, "b")
    lower_first = F.struct(F.col("da"), F.col("a")) < F.struct(F.col("db"), F.col("b"))
    o = keyed.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(
            lower_first, F.struct(F.col("db").alias("d"), F.col("b").alias("n"))
        )
        .otherwise(F.struct(F.col("da").alias("d"), F.col("a").alias("n")))
        .alias("v"),
    )
    e1 = o.select(F.col("u"), F.col("v").alias("v1"))
    e2 = o.select(F.col("u"), F.col("v").alias("v2"))
    wedges = e1.join(e2, "u").filter(F.col("v1") < F.col("v2"))
    closing = o.select(F.col("u").alias("_cu"), F.col("v").alias("_cv"))
    tri = wedges.join(
        closing,
        (F.col("v1").getField("n") == F.col("_cu")) & (F.col("v2") == F.col("_cv")),
        "left_semi",
    ).select(
        F.col("u").alias("c1"),
        F.col("v1").getField("n").alias("c2"),
        F.col("v2").getField("n").alias("c3"),
    )
    corners = (
        tri.select(F.col("c1").alias("node_id"))
        .unionAll(tri.select(F.col("c2").alias("node_id")))
        .unionAll(tri.select(F.col("c3").alias("node_id")))
    )
    return corners.groupBy("node_id").agg(F.count(F.lit(1)).alias("triangles"))


def bipartite_rating_graph(ratings: DataFrame) -> tuple[DataFrame, DataFrame]:
    """S9 — the undirected weighted User–Book graph FastRP runs on
    (reference Alg_KNN_FastRP.py:28-50).

    Node ids live in one string key space (``u:<user_id>`` / ``b:<isbn>``)
    so users and books can share the embedding table.
    """
    users = ratings.select(F.concat(F.lit("u:"), F.col("user_id")).alias("node_id")).distinct()
    books = ratings.select(F.concat(F.lit("b:"), F.col("isbn")).alias("node_id")).distinct()
    nodes = users.unionByName(books)
    directed = ratings.select(
        F.concat(F.lit("u:"), F.col("user_id")).alias("src"),
        F.concat(F.lit("b:"), F.col("isbn")).alias("dst"),
        F.col("rating").cast("double").alias("weight"),
    )
    return nodes, undirected(directed)


def k_core(edges: DataFrame, k: int, src: str = "src", dst: str = "dst") -> DataFrame:
    """(node_id, core_degree): the k-core of an undirected edge list — the
    maximal subgraph in which every node has degree ≥ k — with each
    surviving node's degree *within the core*. GDS exposes this as
    ``gds.kcore``; computed by the standard peeling fixpoint: repeatedly
    drop nodes whose degree in the remaining subgraph is < k.

    The edge list is expected in doubled (undirected) form, as produced
    by :func:`undirected`; degrees are out-degrees of the doubled list.
    Because the k-core is unique (independent of peel order), the result
    is fully determined by the graph and hash-comparable against an
    unrolled SQL twin.

    Plan shape: each peel round is one semi-join of the cached edge list
    against the surviving-node set (hash-partitioned on node id, so the
    degree aggregate reuses the exchange) plus a scalar count for the
    fixpoint test. Rounds are O(peel depth), typically single digits on
    real graphs — the same per-round cost envelope as connected
    components. The edge cache is src-hash-partitioned once and reused
    across all rounds; survivors shrink monotonically, so AQE sizes the
    semi-join broadcast from real counts after round one.
    """
    from . import cache_wide, gate_node_vector_broadcast, pin, release

    spark = edges.sparkSession
    par = spark.sparkContext.defaultParallelism
    # src-hash-partitioned cache: every peel round's degree aggregate groups
    # on _s, and the (broadcast) semi-join probes preserve the cached
    # partitioning, so all rounds run their aggregate exchange-free off one
    # setup shuffle; without the cache each round re-derived the edge list
    # AND re-shuffled it into the un-hinted sort-merge semi-joins.
    e = cache_wide(edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d")), par, "_s")
    cur = (
        e.groupBy(F.col("_s").alias("node_id"))
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .filter(F.col("core_degree") >= k)
    )
    pinned: DataFrame | None = None
    prev_n: int | None = None
    while True:
        # ONE job per round: the fixpoint count is the pin's fill (it also
        # first-materializes the previous round's pin, dead after it). The
        # survivor set is |V|-bounded with an exact count in hand, so the
        # next round's semi-joins take a count-gated broadcast instead of
        # the stats-blind sort-merge a LogicalRDD otherwise plans (which
        # re-sorted the whole edge list per round).
        cur, (n,) = pin(cur, F.count(F.lit(1)))
        if pinned is not None:
            release(pinned)
        pinned = cur
        if n == 0 or (prev_n is not None and n == prev_n):
            e.unpersist(blocking=False)
            return cur
        prev_n = n
        bc = gate_node_vector_broadcast(n, "k-core survivor set", bytes_per_row=16)
        nodes = cur.select("node_id")
        cur = (
            e.join(bc(nodes.withColumnRenamed("node_id", "_s")), "_s", "leftsemi")
            .join(bc(nodes.withColumnRenamed("node_id", "_d")), "_d", "leftsemi")
            .groupBy(F.col("_s").alias("node_id"))
            .agg(F.count(F.lit(1)).alias("core_degree"))
            .filter(F.col("core_degree") >= k)
        )


def bfs_distances(
    edges: DataFrame,
    source,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 64,
) -> DataFrame:
    """(node_id, dist): unweighted single-source shortest-path hop
    distances over an undirected (doubled) edge list — the GDS
    ``gds.bfs``/``gds.allShortestPaths`` single-source primitive.
    Unreachable nodes are absent. Distances are unique per node, so the
    result is fully graph-determined and hash-comparable against a
    bounded recursive-CTE oracle.

    Plan shape: classic frontier iteration — each level is one equi-join
    of the (small) frontier against the once-cached edge list, a
    distinct, and an anti-join against the union of previously pinned
    frontiers. Only the per-level frontier is pinned (``pin``, whose fill
    count doubles as the emptiness test: one job a level); the
    accumulated distance table is a lazy union of those pinned levels, so
    it is never re-materialized and lineage stays O(1) at the leaves.
    O(diameter) rounds; the frontier broadcast-joins once it is small
    (AQE decides from real sizes).
    """
    from . import cache_wide, gate_node_vector_broadcast, pin, release

    spark = edges.sparkSession
    par = spark.sparkContext.defaultParallelism
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    e = cache_wide(e, par, "_s")
    id_type = edges.schema[src].dataType.simpleString()
    dist = spark.createDataFrame([(source, 0)], f"node_id {id_type}, dist int")
    frontier = dist.select("node_id")
    # frontier and distance table are |V|-bounded with exact counts in hand
    # (each level's fill count), so both per-level joins take count-gated
    # broadcasts — the LogicalRDD sides otherwise plan stats-blind
    # sort-merge joins that re-sort the edge cache every level
    n_frontier, n_dist = 1, 1
    for level in range(1, max_iter + 1):
        bc_f = gate_node_vector_broadcast(n_frontier, "BFS frontier", bytes_per_row=16)
        bc_d = gate_node_vector_broadcast(n_dist, "BFS visited set", bytes_per_row=16)
        nxt = (
            e.join(bc_f(frontier.withColumnRenamed("node_id", "_s")), "_s")
            .select(F.col("_d").alias("node_id"))
            .distinct()
            .join(bc_d(dist.select("node_id")), "node_id", "left_anti")
            .select("node_id", F.lit(level).alias("dist"))
        )
        # ONE job per level: the emptiness-test count is the pin's fill.
        # Level pins stay: each backs a slice of the returned union.
        pinned, (n_new,) = pin(nxt, F.count(F.lit(1)))
        if n_new == 0:
            release(pinned)
            break
        dist = dist.unionByName(pinned)
        frontier = pinned.select("node_id")
        n_frontier = n_new
        n_dist += n_new
    e.unpersist(blocking=False)
    return dist


def random_walks(
    ratings: DataFrame, steps: int = 3, start_mod: int = 20, seed: int = 7
) -> DataFrame:
    """Deterministic hash-seeded random walks on the bipartite rating graph
    — the DeepWalk/node2vec corpus-generation step (Perozzi et al. 2014,
    Grover & Leskovec 2016, both public): (walk_id, step, node).

    Nodes share one string key space (``u:<user_id>`` / ``b:<isbn>``, as in
    :func:`bipartite_rating_graph`); one walk starts at every user with
    ``user_id % start_mod == 0``. Each step moves to the neighbor
    minimizing ``md5_60bit(walk_id|step|neighbor, seed)`` — a pure
    function of (walk, step, neighbor), so the "random" choice is
    uniform-in-distribution yet bit-reproducible in any engine: the whole
    walk corpus hash-compares against an unrolled SQL twin. Two walks
    meeting at the same node still branch independently (the walk id is
    inside the hash), which is what gives the corpus its diversity.

    Plan shape per step: one equi-join of the |walks|-row frontier
    against the once-pinned, src-hash-partitioned doubled edge list, then
    a per-walk argmin window keyed by walk_id — |walks|-proportional,
    never |edges|. The edge list is pinned once (localCheckpoint, no
    session-lifetime cache entry) and every step reuses its partitioning;
    frontiers are pinned per step so the final union's plan stays
    O(steps) deep instead of 2^steps. Bipartite alternation guarantees
    progress — every rated book has a rater — so walks cannot die early.

    Storage note: each step's pinned frontier BACKS the returned union
    (the result reads those checkpointed tables), so their blocks must
    and do outlive the call; they are freed when the result DataFrame is
    garbage-collected, not before — unlike the superseded intermediates
    in the training loops, these are the result, not scratch.
    """
    from . import gate_node_vector_broadcast, materialize, pin
    from ..functions.text import md5_hash60

    u = F.concat(F.lit("u:"), F.col("user_id").cast("string"))
    b = F.concat(F.lit("b:"), F.col("isbn"))
    edges = materialize(
        ratings.select(u.alias("src"), b.alias("dst"))
        .unionByName(ratings.select(b.alias("src"), u.alias("dst")))
        .repartition("src")
    )
    f0 = (
        ratings.filter(F.col("user_id") % start_mod == 0)
        .select(u.alias("walk_id"))
        .distinct()
        .select("walk_id", F.col("walk_id").alias("node"))
    )
    frontier, (n_walks,) = pin(f0, F.count(F.lit(1)))
    # every walk advances every step (bipartite alternation guarantees a
    # neighbor), so the frontier stays exactly |walks| rows — one count
    # gates every step's broadcast
    bc_f = gate_node_vector_broadcast(n_walks, "walk frontier", bytes_per_row=96)
    out = frontier.select("walk_id", F.lit(0).alias("step"), "node")
    for step in range(1, steps + 1):
        h = md5_hash60(
            F.concat(F.col("walk_id"), F.lit(f"|{step}|"), F.col("dst")), seed
        )
        # per-walk argmin as a hash aggregate over struct(h, dst) — the
        # min struct IS the row_number()==1 row of the old per-step window
        # (same ordering keys), but it map-side combines: the shuffle
        # carries one row per (partition, walk) instead of the whole
        # |walks|·degree join output into a per-walk sort. The frontier is
        # count-gate-broadcast into the edge probe, and each step is
        # pinned with no fill (zero scheduled jobs per step — everything
        # materializes inside the consumer's single action, step by step).
        frontier, _ = pin(
            bc_f(frontier)
            .join(edges, F.col("node") == F.col("src"))
            .groupBy("walk_id")
            .agg(
                F.min(F.struct(h.alias("_h"), F.col("dst").alias("dst"))).alias("_best")
            )
            .select("walk_id", F.col("_best.dst").alias("node"))
        )
        out = out.unionByName(
            frontier.select("walk_id", F.lit(step).alias("step"), "node")
        )
    return out


def degree_centrality(
    edges: DataFrame, src: str = "src", dst: str = "dst", weight: str | None = "weight"
) -> DataFrame:
    """(node_id, degree, weighted_degree): per-node degree over a doubled
    (undirected) edge list — gds.degree with orientation UNDIRECTED.
    One map-side-combinable aggregate over the scan; the cheapest
    centrality and the sanity anchor for the others."""
    aggs = [F.count(F.lit(1)).alias("degree")]
    if weight is not None:
        aggs.append(F.sum(F.col(weight)).cast("double").alias("weighted_degree"))
    return (
        edges.groupBy(F.col(src).alias("node_id"))
        .agg(*aggs)
    )


def clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(node_id, degree, triangles, coefficient): local clustering
    coefficient 2T/(d(d-1)) — gds.localClusteringCoefficient. Reuses the
    degree-ordered triangle counts (hub-safe wedge joins) plus one degree
    aggregate; nodes with d < 2 get coefficient 0.0 by convention."""
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        canon.select(F.col("a").alias("node_id"))
        .unionAll(canon.select(F.col("b").alias("node_id")))
        .groupBy("node_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tri = triangle_counts(edges, src=src, dst=dst)
    return (
        deg.join(tri, "node_id", "left")
        .select(
            "node_id",
            "degree",
            F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    2.0
                    * F.coalesce(F.col("triangles"), F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1)),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("coefficient"),
        )
    )


def graph_summary(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """One-row graph profile (the gds.graph.list / graph.stats surface):
    (n_nodes, n_edges, density, avg_degree, max_degree, transitivity,
    assortativity) over a doubled (undirected) edge list.

    - density/degrees from one degree aggregate;
    - transitivity = Σ_v T_v / Σ_v d_v(d_v-1)/2 (global clustering
      coefficient) reusing the hub-safe triangle counts;
    - assortativity = Pearson correlation of endpoint degrees over the
      doubled edge list (Newman 2002, public) — one ``corr`` aggregate
      after a degree join.
    All map-side-combinable aggregates + broadcast-sized joins; nothing
    scales past the edge list itself."""
    deg = (
        edges.groupBy(F.col(src).alias("node_id"))
        .agg(F.count(F.lit(1)).alias("d"))
    )
    tri_total = triangle_counts(edges, src=src, dst=dst).agg(
        F.coalesce(F.sum("triangles"), F.lit(0)).alias("t3")
    )
    stats = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        (F.sum("d") / 2).cast("long").alias("n_edges"),
        F.max("d").cast("long").alias("max_degree"),
        F.round(F.avg("d"), 6).alias("avg_degree"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("_wedges"),
    )
    e_deg = (
        edges.join(deg.withColumnRenamed("node_id", src).withColumnRenamed("d", "_ds"), src)
        .join(deg.withColumnRenamed("node_id", dst).withColumnRenamed("d", "_dt"), dst)
        .agg(F.round(F.corr(F.col("_ds").cast("double"), F.col("_dt").cast("double")), 6).alias("assortativity"))
    )
    return (
        stats.crossJoin(tri_total)
        .crossJoin(e_deg)
        .select(
            "n_nodes",
            "n_edges",
            F.round(
                2.0 * F.col("n_edges") / (F.col("n_nodes") * (F.col("n_nodes") - 1)), 6
            ).alias("density"),
            "avg_degree",
            "max_degree",
            F.when(F.col("_wedges") > 0, F.round(F.col("t3") / F.col("_wedges"), 6))
            .otherwise(F.lit(0.0))
            .alias("transitivity"),
            "assortativity",
        )
    )


def biased_walks(
    ratings: DataFrame,
    steps: int = 3,
    start_mod: int = 20,
    seed: int = 7,
    p: float = 4.0,
    q: float = 2.0,
) -> DataFrame:
    """node2vec-style second-order biased walks (Grover & Leskovec 2016,
    public) on the bipartite rating graph: (walk_id, step, node).

    Per step the walker at ``node`` (having arrived from ``prev``) picks
    the neighbor minimizing the A-ES key ``-ln(u)/w`` where ``u`` is the
    per-(walk, step, neighbor) md5-uniform and ``w`` the node2vec bias:
    1/p for returning to ``prev``, 1 for neighbors adjacent to ``prev``,
    1/q otherwise (first step: uniform). That is exactly a weighted
    sample with probability ∝ w, derandomized by the deterministic hash —
    the same derandomization contract as :func:`random_walks`, so the
    corpus hash-compares against an unrolled SQL twin.

    On a bipartite graph no non-return neighbor is adjacent to ``prev``
    (they share its side), so the in-out bias q applies to all of them —
    the adjacency check is still evaluated (and mirrored in the oracle
    and the pure-Python twin in pytest) so the plan shape is the general
    node2vec one; on this input the branch is provably never taken.

    Plan shape per step: one equi-join frontier×edges, one LEFT join for
    the prev-adjacency flag, one per-walk argmin window — all
    |walks|·degree-proportional, same scale story as random_walks.
    """
    from . import gate_node_vector_broadcast, materialize, pin
    from ..functions.text import md5_hash60

    u_node = F.concat(F.lit("u:"), F.col("user_id").cast("string"))
    b_node = F.concat(F.lit("b:"), F.col("isbn"))
    edges = materialize(
        ratings.select(u_node.alias("src"), b_node.alias("dst"))
        .unionByName(ratings.select(b_node.alias("src"), u_node.alias("dst")))
        .repartition("src")
    )
    adj = edges.select(F.col("src").alias("_ps"), F.col("dst").alias("_pd")).distinct()
    f0 = (
        ratings.filter(F.col("user_id") % start_mod == 0)
        .select(u_node.alias("walk_id"))
        .distinct()
        .select(
            "walk_id",
            F.lit(None).cast("string").alias("prev"),
            F.col("walk_id").alias("node"),
        )
    )
    frontier, (n_walks,) = pin(f0, F.count(F.lit(1)))
    # the frontier stays exactly |walks| rows every step (bipartite
    # alternation guarantees a neighbor) — one count gates every step
    bc_f = gate_node_vector_broadcast(n_walks, "biased-walk frontier", bytes_per_row=128)
    out = frontier.select("walk_id", F.lit(0).alias("step"), "node")
    for step in range(1, steps + 1):
        h = md5_hash60(
            F.concat(F.col("walk_id"), F.lit(f"|{step}|"), F.col("dst")), seed
        )
        u = (h.cast("double") + F.lit(1.0)) / F.lit(float(1 << 60))
        bias = (
            F.when(F.col("prev").isNull(), F.lit(1.0))
            .when(F.col("dst") == F.col("prev"), F.lit(1.0 / p))
            .when(F.col("_pd").isNotNull(), F.lit(1.0))
            .otherwise(F.lit(1.0 / q))
        )
        key = -F.log(u) / bias
        # per-walk argmin as a map-side-combinable hash aggregate over
        # struct(key, dst, node): identical ordering keys (and therefore
        # identical winner, A-ES keys are finite positive doubles) to the
        # old per-step row_number window, without sorting the full
        # |walks|·degree join output; ``node`` rides along as the winner's
        # predecessor. Per step: count-gated frontier broadcast into the
        # edge probe, a pin with no fill, zero scheduled jobs — the
        # consumer's single action materializes the steps in order.
        frontier, _ = pin(
            bc_f(frontier)
            .join(edges, F.col("node") == F.col("src"))
            .join(
                adj,
                (F.col("prev") == F.col("_ps")) & (F.col("dst") == F.col("_pd")),
                "left",
            )
            .groupBy("walk_id")
            .agg(
                F.min(
                    F.struct(
                        key.alias("_k"),
                        F.col("dst").alias("dst"),
                        F.col("node").alias("node"),
                    )
                ).alias("_best")
            )
            .select(
                "walk_id",
                F.col("_best.node").alias("prev"),
                F.col("_best.dst").alias("node"),
            )
        )
        out = out.unionByName(
            frontier.select("walk_id", F.lit(step).alias("step"), "node")
        )
    return out


def walk_embeddings(
    ratings: DataFrame,
    dim: int = 16,
    steps: int = 3,
    start_mod: int = 20,
    seed: int = 7,
) -> DataFrame:
    """(node, vector): DeepWalk (Perozzi et al. 2014, public) — MLlib
    Word2Vec skip-gram over the deterministic walk corpus from
    :func:`random_walks`. The FastRP plan is this engine's production
    embedding (exchange-free, bit-deterministic); DeepWalk is the
    walk-corpus alternative exposed for parity with the standard
    node-embedding toolbox. Vectors are float-iterative (rows-only); the
    corpus itself is hash-derandomized, so the invariant twin SQL-anchors
    the vocabulary to the walk oracle's distinct visited nodes."""
    from pyspark.ml.feature import Word2Vec

    walks = random_walks(ratings, steps=steps, start_mod=start_mod, seed=seed)
    sentences = (
        walks.groupBy("walk_id")
        .agg(F.array_sort(F.collect_list(F.struct("step", "node"))).alias("_sn"))
        .select(F.transform("_sn", lambda s: s["node"]).alias("sentence"))
    )
    w2v = Word2Vec(
        vectorSize=dim,
        minCount=1,
        inputCol="sentence",
        outputCol="_v",
        seed=42,
        maxIter=4,
    )
    from pyspark.ml.functions import vector_to_array

    model = w2v.fit(sentences)
    return model.getVectors().select(
        F.col("word").alias("node"), vector_to_array("vector").alias("vector")
    )


def _edge_support(canon: DataFrame) -> DataFrame:
    """(a, b, support): per-canonical-edge triangle support — each
    triangle is enumerated ONCE via the same degree-ordered wedge joins
    as :func:`triangle_counts` (hub-safe), then credited to its three
    canonical edges."""
    deg = (
        canon.select(F.col("a").alias("n"))
        .unionAll(canon.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    keyed = canon.join(da, "a").join(db, "b")
    lower_first = F.struct(F.col("da"), F.col("a")) < F.struct(F.col("db"), F.col("b"))
    o = keyed.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(
            lower_first, F.struct(F.col("db").alias("d"), F.col("b").alias("n"))
        )
        .otherwise(F.struct(F.col("da").alias("d"), F.col("a").alias("n")))
        .alias("v"),
    )
    e1 = o.select(F.col("u"), F.col("v").alias("v1"))
    e2 = o.select(F.col("u"), F.col("v").alias("v2"))
    wedges = e1.join(e2, "u").filter(F.col("v1") < F.col("v2"))
    closing = o.select(F.col("u").alias("_cu"), F.col("v").alias("_cv"))
    tri = wedges.join(
        closing,
        (F.col("v1").getField("n") == F.col("_cu")) & (F.col("v2") == F.col("_cv")),
        "left_semi",
    ).select(
        F.col("u").alias("x"),
        F.col("v1").getField("n").alias("y"),
        F.col("v2").getField("n").alias("z"),
    )
    pairs = F.array(
        F.struct(
            F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
        ),
        F.struct(
            F.least("x", "z").alias("a"), F.greatest("x", "z").alias("b")
        ),
        F.struct(
            F.least("y", "z").alias("a"), F.greatest("y", "z").alias("b")
        ),
    )
    return (
        tri.select(F.explode(pairs).alias("e"))
        .groupBy(F.col("e.a").alias("a"), F.col("e.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("support"))
    )


def k_truss(
    edges: DataFrame, k: int, src: str = "src", dst: str = "dst", max_rounds: int = 32
) -> DataFrame:
    """(src, dst, support): the k-truss of an undirected edge list — the
    maximal subgraph in which every edge participates in ≥ k−2 triangles
    (Cohen 2008, public; the cohesion step past k-core: a k-truss is
    always inside the (k−1)-core but strictly tighter). Unique fixpoint
    independent of peel order → value-hash comparable against an
    unrolled SQL twin. Output is the canonical (src < dst) surviving
    edge list with each edge's within-truss support.

    Plan shape: each peel round is one hub-safe triangle enumeration
    (degree-ordered wedges — 3 shuffles, fan-out bounded by oriented
    out-degree) plus an edge filter; the edge set shrinks monotonically
    and each round's result is materialized (lineage cut, real AQE
    stats). Rounds = peel depth, single digits on real graphs.
    """
    from . import materialize

    cur = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    prev: DataFrame | None = None
    prev_n: int | None = None
    for _ in range(max_rounds):
        sup = _edge_support(cur)
        kept = (
            cur.join(sup, ["a", "b"], "left")
            .select(
                "a", "b", F.coalesce("support", F.lit(0)).cast("long").alias("support")
            )
            .filter(F.col("support") >= k - 2)
        )
        kept = materialize(kept, supersedes=prev)
        n = kept.count()
        if n == 0 or (prev_n is not None and n == prev_n):
            break
        prev, prev_n = kept, n
        cur = kept.select("a", "b")
    else:
        import warnings

        warnings.warn(
            f"k_truss: edge set still shrinking after {max_rounds} peel "
            f"rounds — returned subgraph may not be the fixpoint (same "
            f"budget-exhaustion contract as neardup_components)",
            stacklevel=2,
        )
    return kept.select(
        F.col("a").alias(src), F.col("b").alias(dst), "support"
    )
