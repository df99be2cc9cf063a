"""Physical-plan assertions — regression guards for the scale discipline
DESIGN.md promises: predicate pushdown, column pruning, broadcast joins,
and shuffle-free bucketed joins."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graph_database_application_for_recommendations_spark import registry
from graph_database_application_for_recommendations_spark.sources.views import load_ref_tables

from .conftest import SF_SMALL, jobs_in_group


def _formatted_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_point_lookup_pushdown(spark):
    """The user-id point lookup must reach the orders parquet scan through
    the ratings view derivation (filter below the aggregate).

    Built from the raw view builders, NOT RefTables.ratings: the registry
    deliberately caches ratings (write-back pattern), and once the plan is
    an InMemoryRelation the filter lands on the cached table instead of
    the scan — the pushdown property this test guards is about the
    *uncached* derivation a cold cluster job would run.
    """
    from graph_database_application_for_recommendations_spark.operators import serving
    from graph_database_application_for_recommendations_spark.sources.tables import load_table
    from graph_database_application_for_recommendations_spark.sources.views import (
        build_books,
        build_ratings,
        build_raw_ratings,
    )

    ratings = build_ratings(
        build_raw_ratings(load_table(spark, SF_SMALL, "lineitem"), load_table(spark, SF_SMALL, "orders"))
    )
    # drop any cache entry another test left for this exact plan — cache
    # substitution applies to structurally equal subplans no matter who
    # built them, and an InMemoryRelation would absorb the filter
    ratings.unpersist()
    books = build_books(load_table(spark, SF_SMALL, "part"))
    plan = _formatted_plan(serving.rated_books(ratings, books, 1))
    assert "EqualTo(o_custkey,1)" in plan


def test_column_pruning(spark):
    """A two-column projection must not scan all lineitem columns."""
    ref = load_ref_tables(spark, SF_SMALL)
    plan = _formatted_plan(ref.ratings.select("user_id", "rating"))
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    lineitem_scan = next(l for l in scan_lines if "l_quantity" in l or "l_partkey" in l)
    assert "l_extendedprice" not in lineitem_scan
    assert "l_shipdate" not in lineitem_scan


def test_books_dim_broadcast(spark):
    """The books dimension joins broadcast, not sort-merge."""
    plan = _formatted_plan(registry.queries()["q_knn_recommend"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan


def test_fastrp_round_is_exchange_free(spark):
    """The FastRP distributed round (edges ⋈ broadcast emb → groupBy dst)
    must run with NO shuffle above the dst-partitioned edge cache: the
    broadcast-join probe preserves the cache's HashPartitioning(dst), so
    the aggregate's distribution is already satisfied. This is the
    one-setup-shuffle-for-N-rounds contract fastrp's docstring claims."""
    from graph_database_application_for_recommendations_spark.plans import cache_wide
    from graph_database_application_for_recommendations_spark.plans import fastrp as FR
    from graph_database_application_for_recommendations_spark.plans.graphs import (
        bipartite_rating_graph,
    )

    ratings = load_ref_tables(spark, SF_SMALL).ratings
    nodes, edges = bipartite_rating_graph(ratings)
    e = cache_wide(edges, 8, "dst")
    emb = FR._normalize(FR._init_embeddings(nodes, 8, 1), 8)
    plan = (
        FR._propagate(e, emb, 8, broadcast_emb=True)
        ._jdf.queryExecution()
        .executedPlan()
        .treeString()
    )
    # everything above the cached edge relation: aggregate pair + join;
    # exchanges inside the InMemoryRelation subtree ran once at cache fill
    above_cache = plan.split("InMemoryRelation", 1)[0]
    assert "HashAggregate" in above_cache and "BroadcastHashJoin" in above_cache
    assert "Exchange hashpartitioning" not in above_cache
    e.unpersist(blocking=False)


def test_louvain_sweep_aggregate_is_exchange_free(spark):
    """The Louvain sweep's dominant k_i→c aggregation (parity-filtered
    edges ⋈ broadcast labels → groupBy (src, c)) must not re-shuffle the
    src-partitioned edge cache: HashPartitioning(src) already clusters
    (src, c)."""
    from graph_database_application_for_recommendations_spark.operators.corating import (
        corating_edges,
    )
    from graph_database_application_for_recommendations_spark.plans import cache_wide

    ratings = load_ref_tables(spark, SF_SMALL).ratings
    co = corating_edges(ratings).select(
        F.col("u1").alias("src"), F.col("u2").alias("dst"),
        F.col("weight").cast("double").alias("weight"),
    )
    edges = cache_wide(co, 8, "src")
    labels = edges.select(F.col("dst"), F.col("dst").alias("c")).distinct()
    k_ic = (
        edges.filter(F.pmod(F.hash("src"), F.lit(2)) == 0)
        .join(F.broadcast(labels), "dst")
        .groupBy(F.col("src").alias("node_id"), "c")
        .agg(F.sum("weight").alias("k_ic"))
    )
    plan = k_ic._jdf.queryExecution().executedPlan().treeString()
    above_cache = plan.split("InMemoryRelation", 1)[0]
    assert "HashAggregate" in above_cache
    assert "Exchange hashpartitioning" not in above_cache
    edges.unpersist(blocking=False)


def test_partition_pruning(spark, tmp_path):
    """A filter on the partition column must prune at planning time."""
    from graph_database_application_for_recommendations_spark.sources.bucketing import (
        write_partitioned,
    )

    ref = load_ref_tables(spark, SF_SMALL)
    path = str(tmp_path / "ratings_by_rating")
    write_partitioned(ref.ratings, path, ["rating"])
    df = spark.read.parquet(path).filter(F.col("rating") == 8)
    plan = _formatted_plan(df)
    scan = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "rating" in scan and "8" in scan
    assert df.count() == ref.ratings.filter("rating = 8").count()


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key join without an Exchange."""
    from graph_database_application_for_recommendations_spark.sources.bucketing import (
        read_table,
        write_bucketed,
    )

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ref = load_ref_tables(spark, SF_SMALL)
        write_bucketed(ref.ratings, "b_ratings", ["user_id"], num_buckets=8)
        write_bucketed(ref.users, "b_users", ["user_id"], num_buckets=8)
        joined = read_table(spark, "b_ratings").join(read_table(spark, "b_users"), "user_id")
        plan = _formatted_plan(joined)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange" not in plan  # the whole point of bucketing
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_ratings")
        spark.sql("DROP TABLE IF EXISTS b_users")


def test_fanout_sizing_runs_no_job(spark):
    """Catalog-stats fan-out sizing (VERDICT r1 item 7): constructing the
    mapInPandas operators and the hyperplane-KNN plan over parquet-backed
    frames must launch ZERO Spark jobs — the old count()-based sizing was
    a full extra pass before the real job."""
    from graph_database_application_for_recommendations_spark.operators import knn, multimodal
    from graph_database_application_for_recommendations_spark.plans import (
        estimated_row_count,
        estimated_size_bytes,
        fanout_partitions,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    assets = multimodal.assets_from_documents(docs)

    # stats propagate through the projection — the estimate path is live,
    # not the fallback
    assert estimated_size_bytes(assets) is not None
    assert fanout_partitions(assets) >= 1
    n_est = estimated_row_count(emb)
    n_true = 2000  # sf0.001 embeddings table
    assert n_est is not None and n_true / 8 <= n_est <= n_true * 8

    def construct():
        multimodal.extract_features(assets)
        multimodal.sample_frames(assets)
        multimodal.resize_images(assets)

    _, jobs = jobs_in_group(spark, "sizing-guard", construct)
    assert jobs == 0

    # knn_hyperplane legitimately runs jobs at construction (the bucket
    # table is eagerly cached — both join sides scan it); the guard is that
    # AUTO-SIZING num_planes adds none on top of an explicit num_planes.
    _, explicit = jobs_in_group(
        spark, "knn-explicit",
        lambda: knn.knn_hyperplane(emb, id_col="vec_id", vec_col="embedding", num_planes=5),
    )
    _, auto = jobs_in_group(
        spark, "knn-auto",
        lambda: knn.knn_hyperplane(emb, id_col="vec_id", vec_col="embedding"),
    )
    assert auto == explicit


def test_pagerank_round_is_exchange_free(spark):
    """A PageRank round (trans ⋈ broadcast ranks → groupBy dst) must run
    with NO shuffle above the dst-partitioned transition cache — the same
    one-setup-shuffle-for-N-rounds contract as the FastRP round."""
    from pyspark.sql import functions as F

    from graph_database_application_for_recommendations_spark.plans import cache_wide
    from graph_database_application_for_recommendations_spark.operators.corating import (
        corating_edges,
    )

    ratings = load_ref_tables(spark, SF_SMALL).ratings
    e = corating_edges(ratings).select(
        F.col("u1").alias("src"), F.col("u2").alias("dst"),
        F.col("weight").cast("double").alias("w"),
    )
    wdeg = e.groupBy("src").agg(F.sum("w").alias("_wd"))
    trans = e.join(wdeg, "src").select("src", "dst", (F.col("w") / F.col("_wd")).alias("p"))
    trans = cache_wide(trans, 8, "dst")
    ranks = trans.select(F.col("src").alias("node_id")).distinct().select(
        "node_id", F.lit(0.1).alias("rank")
    )
    round_plan = (
        trans.join(F.broadcast(ranks.withColumnRenamed("node_id", "src")), "src")
        .groupBy("dst")
        .agg(F.sum(F.col("rank") * F.col("p")).alias("_s"))
        ._jdf.queryExecution()
        .executedPlan()
        .treeString()
    )
    above_cache = round_plan.split("InMemoryRelation", 1)[0]
    assert "HashAggregate" in above_cache and "BroadcastHashJoin" in above_cache
    assert "Exchange hashpartitioning" not in above_cache
    trans.unpersist(blocking=False)


def test_pack_chunks_global_window_only_over_block_dimension(spark):
    """The sequence-packing prefix sum must never run a single-partition
    window over the full token table: the only unpartitioned Window sits
    above the per-block Aggregate (the n/block_size-row offset dimension);
    the document-level running sum is partitioned by block."""
    from graph_database_application_for_recommendations_spark.operators.packing import (
        pack_chunks,
    )
    from graph_database_application_for_recommendations_spark.sources.views import (
        load_ref_tables,
    )

    docs = load_ref_tables(spark, SF_SMALL).documents
    plan = pack_chunks(docs)._jdf.queryExecution().optimizedPlan().treeString()
    windows = [ln for ln in plan.splitlines() if ln.lstrip().startswith("+- Window") or ln.lstrip().startswith("Window")]
    assert len(windows) == 2, plan
    # a partitioned Window prints partition AND order lists ("], [" twice);
    # the global one prints only the order list
    partitioned = [w for w in windows if w.count("], [") == 2]
    unpartitioned = [w for w in windows if w.count("], [") == 1]
    assert len(unpartitioned) == 1 and len(partitioned) == 1, windows
    # the global window's input is the block aggregate, not the raw docs:
    # its frame sums _bt (the per-block partial), never n_tokens directly
    assert "_bt" in unpartitioned[0]


def test_pair_generators_leave_no_cached_tables(spark):
    """VERDICT r2 item 3: the LSH pair generators must not leak session-
    lifetime cached tables — after a one-shot query the SQL cache manager
    is empty (materialize() pins via localCheckpoint, whose blocks are
    reclaimed by the context cleaner, not via a forgotten df.cache())."""
    import time

    from graph_database_application_for_recommendations_spark.operators import (
        dedup,
        simsearch,
    )

    cm = spark._jsparkSession.sharedState().cacheManager()
    cm.clearCache()  # isolate from session-long write-back caches
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")

    dedup.minhash_lsh_pairs(docs).collect()
    dedup.simhash_near_pairs(docs, max_hamming=4).collect()
    # self-KNN exercises the transient bucket cache + unpersist path
    small = emb.filter(F.col("vec_id") < 50)
    simsearch.topk_hyperplane_lsh(small, small, k=5, dim=64).collect()

    for _ in range(50):  # unpersist(blocking=False) entries drop async
        if cm.isEmpty():
            break
        time.sleep(0.1)
    assert cm.isEmpty()


def test_ngram_jaccard_caps_by_default(spark):
    """VERDICT r2 item 4: the standalone exact-Jaccard kernel defaults to
    a bounded per-shingle document frequency (the oracle twin passes
    ``max_docs_per_shingle=None`` explicitly for the fully exact form)."""
    import inspect

    from graph_database_application_for_recommendations_spark.operators import dedup

    default = inspect.signature(dedup.ngram_jaccard_pairs).parameters[
        "max_docs_per_shingle"
    ].default
    assert default == 1000

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(50)
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.0, max_docs_per_shingle=None
        ).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.0, max_docs_per_shingle=2
        ).collect()
    }
    # the cap only drops (shingle, doc) occurrences: intersections — and
    # therefore jaccard — can only shrink, never grow or invent pairs
    assert set(capped) <= set(exact)
    assert all(capped[p] <= exact[p] + 1e-9 for p in capped)


def test_hyperplane_lsh_sizing_runs_no_extra_jobs(spark):
    """VERDICT r2 item 5: with ``dim`` supplied, topk_hyperplane_lsh runs
    no dim-probe job and no broadcast-gating count() — construction cost
    is exactly the candidate materialization, so passing dim must strictly
    reduce the job count vs the probing convenience path."""
    from graph_database_application_for_recommendations_spark.operators import simsearch

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    _, with_dim = jobs_in_group(
        spark, "lsh-dim", lambda: simsearch.topk_hyperplane_lsh(queries, emb, k=5, dim=64)
    )
    _, probing = jobs_in_group(
        spark, "lsh-probe", lambda: simsearch.topk_hyperplane_lsh(queries, emb, k=5)
    )
    assert with_dim < probing


def test_hits_half_round_is_exchange_free(spark):
    """A HITS half-round (edge cache ⋈ broadcast score vector → groupBy
    the cache's partitioning key) must run with NO shuffle above the
    co-partitioned edge cache — both directions, since the operator keeps
    one cache per side."""
    from pyspark.sql import functions as F

    from graph_database_application_for_recommendations_spark.plans import cache_wide

    ratings = load_ref_tables(spark, SF_SMALL).ratings
    e = ratings.filter(F.col("rating") >= 6).select("user_id", "isbn").distinct()
    for part_key, group_key, join_key in [("isbn", "isbn", "user_id"), ("user_id", "user_id", "isbn")]:
        cached = cache_wide(e, 8, part_key)
        vec = (
            cached.select(F.col(join_key).alias("_k")).distinct()
            .select(F.col("_k").alias(join_key), F.lit(0.5).alias("_s"))
        )
        plan = (
            cached.join(F.broadcast(vec), join_key)
            .groupBy(group_key)
            .agg(F.sum("_s").alias("_s"))
            ._jdf.queryExecution()
            .executedPlan()
            .treeString()
        )
        above_cache = plan.split("InMemoryRelation", 1)[0]
        assert "HashAggregate" in above_cache and "BroadcastHashJoin" in above_cache
        assert "Exchange hashpartitioning" not in above_cache, part_key
        cached.unpersist(blocking=False)


def test_kcore_round_uses_cached_edges_and_semi_joins(spark):
    """A k-core peel round (edge list semi-joined on both endpoints →
    degree aggregate) must build from semi-joins, not inner joins that
    would duplicate edges per surviving-node match."""
    from pyspark.sql import functions as F

    e = spark.createDataFrame(
        [(a, b) for a in range(6) for b in range(6) if a != b],
        "src LONG, dst LONG",
    )
    nodes = e.select(F.col("src").alias("node_id")).distinct().limit(4)
    plan = (
        e.join(nodes.withColumnRenamed("node_id", "src"), "src", "leftsemi")
        .join(nodes.withColumnRenamed("node_id", "dst"), "dst", "leftsemi")
        .groupBy(F.col("src").alias("node_id"))
        .agg(F.count(F.lit(1)).alias("core_degree"))
        ._jdf.queryExecution()
        .executedPlan()
        .treeString()
    )
    assert plan.count("LeftSemi") == 2
    assert "HashAggregate" in plan


def test_quantize_computes_max_before_explode(spark):
    """Plan guard for the round-4 fix: the per-vector max must sit BELOW
    the Generate (computed once per vector); in a single select Catalyst
    re-evaluates it per exploded row — O(d²) per vector at 100 TB."""
    from graph_database_application_for_recommendations_spark.operators.quantize import (
        quantize_int8_flat,
    )
    from graph_database_application_for_recommendations_spark.sources.views import (
        load_ref_tables,
    )

    df = quantize_int8_flat(load_ref_tables(spark, SF_SMALL).embeddings)
    plan = df._jdf.queryExecution().executedPlan().toString()
    gen = plan.index("Generate")
    assert "array_max" in plan[gen:], "array_max must be computed below the Generate"
    assert "array_max" not in plan[:gen], "array_max above Generate = per-row re-eval"


def test_linkpred_auc_discriminates_planted_structure(spark):
    """Planted two-block ratings: within-block pairs share train AND
    test items; a weak cross-block pair shares one train item but no
    test item -> AA ranks it below, AUC = 1.0. Degenerate single-class
    inputs return NULL instead of aborting."""
    from graph_database_application_for_recommendations_spark.operators.corating import (
        linkpred_auc,
    )
    from graph_database_application_for_recommendations_spark.operators.evaluate import (
        binary_auc,
    )

    # find isbn strings landing in each md5 half deterministically
    import hashlib

    def half(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % 2

    trains = [s for s in (f"t{i}" for i in range(40)) if half(s) == 0][:5]
    tests_ = [s for s in (f"s{i}" for i in range(40)) if half(s) == 1][:2]
    rows = []
    for u in (1, 2, 3):          # block A: 4 shared train items + test item
        rows += [(u, t, 8) for t in trains[:4]] + [(u, tests_[0], 8)]
    for u in (4, 5, 6):          # block B
        rows += [(u, trains[4], 8)]
    rows += [(1, trains[4], 8)]  # weak cross link: one train item, no test
    ratings = spark.createDataFrame(rows, "user_id long, isbn string, rating int")
    r = linkpred_auc(ratings).collect()[0]
    assert r["auc"] == 1.0 and r["n_pos"] == 3

    degenerate = spark.createDataFrame(
        [(0.9, 1), (0.1, 1)], "score double, label int"
    )
    assert binary_auc(degenerate).collect()[0]["auc"] is None


def test_walk_step_argmin_is_hash_aggregate_not_window(spark):
    """r10 optimization: the per-step walk argmin must plan as a (map-side
    combinable) hash aggregate over min(struct(h, dst)), not a per-walk
    row_number window sorting the whole |walks|·degree join output — and
    the min-struct winner must equal the window winner row for row."""
    from pyspark.sql import Window

    from graph_database_application_for_recommendations_spark.plans.graphs import (
        random_walks,
    )
    from graph_database_application_for_recommendations_spark.functions.text import (
        md5_hash60,
    )

    ratings = load_ref_tables(spark, SF_SMALL).ratings
    walks = random_walks(ratings, steps=2)
    plan = walks._jdf.queryExecution().executedPlan().treeString()
    assert "Window" not in plan
    # cross-check the aggregate winner against the window formulation
    u = F.concat(F.lit("u:"), F.col("user_id").cast("string"))
    b = F.concat(F.lit("b:"), F.col("isbn"))
    edges = ratings.select(u.alias("src"), b.alias("dst")).unionByName(
        ratings.select(b.alias("src"), u.alias("dst"))
    )
    frontier = (
        ratings.filter(F.col("user_id") % 20 == 0)
        .select(u.alias("walk_id"))
        .distinct()
        .select("walk_id", F.col("walk_id").alias("node"))
    )
    h = md5_hash60(F.concat(F.col("walk_id"), F.lit("|1|"), F.col("dst")), 7)
    w = Window.partitionBy("walk_id").orderBy(h.asc(), F.col("dst").asc())
    via_window = (
        frontier.join(edges, F.col("node") == F.col("src"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("walk_id", F.col("dst").alias("node"))
    )
    step1 = walks.filter(F.col("step") == 1).select("walk_id", "node")
    assert step1.exceptAll(via_window).count() == 0
    assert via_window.exceptAll(step1).count() == 0


def test_sssp_round_joins_take_gated_broadcast(spark):
    """r10 optimization: SSSP's per-round joins must consume the distance
    table through the count-gated broadcast (no per-round sort-merge
    re-sort of the edge cache), and the result must stay fixpoint-correct
    (spot-checked distances on a known graph)."""
    from graph_database_application_for_recommendations_spark.plans.sssp import (
        sssp_weighted,
    )

    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 1, 1.0), (2, 3, 1.0), (3, 2, 1.0), (1, 3, 0.25), (3, 1, 0.25)],
        "src long, dst long, weight double",
    )
    out = {r["node_id"]: r["dist"] for r in sssp_weighted(edges, 1).collect()}
    # cost = 1/weight: 1->3 direct costs 4.0, via 2 costs 2.0
    assert out == {1: 0.0, 2: 1.0, 3: 2.0}


def test_louvain_sequential_fast_index_matches_fallback():
    """r10 optimization: the unique(src)+searchsorted node index and the
    dense-bincount coarsening must be bit-identical to the general
    np.unique forms (same ids, same labels, same Q) on a doubled graph."""
    import numpy as np

    from graph_database_application_for_recommendations_spark.plans.louvain import (
        _louvain_sequential,
    )

    rng = np.random.RandomState(11)
    a = rng.randint(0, 60, size=400)
    b = rng.randint(0, 60, size=400)
    keep = a != b
    a, b = a[keep], b[keep]
    src = np.concatenate([a, b])
    dst = np.concatenate([b, a])
    w = np.ones(len(src))
    ids, comm, q = _louvain_sequential(src, dst, w)
    # fast index must equal the general np.unique(concat) form
    assert np.array_equal(ids, np.unique(np.concatenate([src, dst])))
    assert len(comm) == len(ids)
    assert -0.5 <= q <= 1.0
    # a NON-doubled list (dst ⊄ src) must take the fallback and still
    # index every node
    src3 = np.array([1, 2, 3])
    dst3 = np.array([2, 3, 99])  # 99 never appears as src
    ids3, comm3, _ = _louvain_sequential(src3, dst3, np.ones(3))
    assert np.array_equal(ids3, np.array([1, 2, 3, 99]))
    assert len(comm3) == 4


def test_pipeline_local_arrays_match_generic_path(spark):
    """The pipeline's pre-mapped bipartite FastRP path (numeric-ordinal
    collect, KNN straight from the solved arrays — round-11 pipeline
    optimization) must be BIT-identical to the generic string-keyed local
    path it replaced: same embedding doubles per node, same similar_to
    rows. Pins the node-numbering-freedom and edge-row-order arguments in
    plans/pipeline.py::_bipartite_fastrp_arrays."""
    from graph_database_application_for_recommendations_spark.operators.knn import (
        knn_exact_local,
        knn_exact_local_arrays,
    )
    from graph_database_application_for_recommendations_spark.plans import (
        fastrp as _fastrp,
    )
    from graph_database_application_for_recommendations_spark.plans.graphs import (
        bipartite_rating_graph,
    )
    from graph_database_application_for_recommendations_spark.plans.pipeline import (
        _bipartite_fastrp_arrays,
    )
    from graph_database_application_for_recommendations_spark.sources.views import (
        load_ref_tables,
    )

    ratings = load_ref_tables(spark, SF_SMALL).ratings.cache()
    nodes, edges = bipartite_rating_graph(ratings)
    emb_old = _fastrp.fastrp(nodes, edges, dim=16, seed=42)
    old = {r["node_id"]: tuple(r["embedding"]) for r in emb_old.collect()}
    arr = _bipartite_fastrp_arrays(ratings, 16, 42)
    assert arr is not None, "sf0.001 must take the local gate"
    ids, final, user_ids, user_mat = arr
    new = {
        r["node_id"]: tuple(r["embedding"])
        for r in _fastrp.embeddings_df_from_arrays(spark, ids, final).collect()
    }
    assert old == new  # exact doubles, not approx
    ue = _fastrp.user_embeddings_from_fastrp(emb_old).cache()
    sim_old = sorted(
        map(
            tuple,
            knn_exact_local(
                ue, id_col="user_id", vec_col="embedding", top_k=20, cutoff=0.6
            ).collect(),
        )
    )
    sim_new = sorted(
        map(
            tuple,
            knn_exact_local_arrays(
                spark, user_ids, user_mat, "bigint", top_k=20, cutoff=0.6
            ).collect(),
        )
    )
    assert sim_old == sim_new
    ue.unpersist(blocking=False)
    ratings.unpersist(blocking=False)


def test_pipeline_arrays_path_accepts_non_canonical_isbn(spark, monkeypatch):
    """Any isbn string takes the bipartite arrays path — a non-digit key,
    and a zero-padded one next to its unpadded twin ("0123" and "123" are
    two books) — and gives exactly the generic string-keyed path's
    embeddings, both from the arrays themselves and from run_pipeline."""
    from types import SimpleNamespace

    from graph_database_application_for_recommendations_spark.plans import (
        fastrp as _fastrp,
    )
    from graph_database_application_for_recommendations_spark.plans import pipeline
    from graph_database_application_for_recommendations_spark.plans.graphs import (
        bipartite_rating_graph,
    )

    ratings = spark.createDataFrame(
        [(1, "0123", 5), (1, "X12", 3), (2, "0123", 4), (2, "77", 2),
         (3, "77", 1), (3, "X12", 4), (3, "123", 2), (4, "123", 5)],
        "user_id bigint, isbn string, rating int",
    ).cache()
    nodes, edges = bipartite_rating_graph(ratings)
    generic = {
        r["node_id"]: r["embedding"]
        for r in _fastrp.fastrp(nodes, edges, dim=16, seed=7).collect()
    }
    assert {"b:0123", "b:123", "b:X12"} <= set(generic)
    arr = pipeline._bipartite_fastrp_arrays(ratings, 16, 7)
    assert arr is not None
    ids, final, _, _ = arr
    got_all = {
        r["node_id"]: r["embedding"]
        for r in _fastrp.embeddings_df_from_arrays(spark, ids, final).collect()
    }
    assert got_all == generic  # exact doubles, every node
    monkeypatch.setattr(
        pipeline, "load_ref_tables", lambda spark, sf_dir: SimpleNamespace(ratings=ratings)
    )
    res = pipeline.run_pipeline(spark, "unused", dim=16, seed=7)
    got = {r["user_id"]: r["embedding"] for r in res.embeddings.collect()}
    assert got == {int(k[2:]): v for k, v in generic.items() if k.startswith("u:")}
    assert set(got) == {1, 2, 3, 4}
    res.embeddings.unpersist(blocking=False)
    ratings.unpersist(blocking=False)


def _ring(spark):
    """8-node ring plus two chords, both directions, unit weights."""
    pairs = [(i, (i + 1) % 8) for i in range(8)] + [(0, 4), (2, 6)]
    return spark.createDataFrame(
        [(a, b, 1.0) for a, b in pairs] + [(b, a, 1.0) for a, b in pairs],
        "src long, dst long, weight double",
    )


def _path(spark, n, cols="src long, dst long"):
    """Doubled path 0-1-…-(n-1)."""
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)] + [(i + 1, i) for i in range(n - 1)], cols
    )


def _round_calls(spark):
    """name -> call(rounds) -> DataFrame, on small fixed inputs."""
    import warnings

    from graph_database_application_for_recommendations_spark.operators.bpe import bpe_merges
    from graph_database_application_for_recommendations_spark.operators.dedup import (
        neardup_components,
    )
    from graph_database_application_for_recommendations_spark.plans.eigenvector import (
        eigenvector_centrality,
    )
    from graph_database_application_for_recommendations_spark.plans.graphs import k_core
    from graph_database_application_for_recommendations_spark.plans.hits import hits
    from graph_database_application_for_recommendations_spark.plans.pagerank import (
        CHAIN_ROUNDS,
        pagerank,
    )
    from graph_database_application_for_recommendations_spark.plans.sssp import sssp_weighted

    ring = _ring(spark)
    bip = spark.createDataFrame(
        [(u, f"b{(u * 3 + j) % 7}") for u in range(6) for j in range(3)],
        "user_id long, isbn string",
    )
    docs = spark.createDataFrame(
        [(1, "abracadabra banana bandana"), (2, "cabana abracadabra"), (3, "banana")],
        "doc_id long, text string",
    )

    def components(rounds):
        with warnings.catch_warnings():  # unconverged on purpose
            warnings.simplefilter("ignore")
            return neardup_components(
                _path(spark, 64, "doc_a long, doc_b long").filter("doc_a < doc_b"),
                local_max_edges=0, max_iter=rounds,
            )

    return {
        # a pin every CHAIN_ROUNDS iterations: one round is one barrier
        "pagerank": lambda r: pagerank(ring, iters=CHAIN_ROUNDS * r),
        "eigenvector_centrality": lambda r: eigenvector_centrality(ring, iters=r),
        "hits": lambda r: hits(bip, iters=r),
        "sssp_weighted": lambda r: sssp_weighted(
            _path(spark, 12).withColumn("weight", F.lit(1.0)), 0, max_iter=r
        ),
        # k=2 peels a path's two ends a round: a 2r-node path takes r rounds
        "k_core": lambda r: k_core(_path(spark, 2 * r), 2),
        "neardup_components": components,
        "bpe_merges": lambda r: bpe_merges(docs, num_merges=r),
    }


# name -> (Spark jobs a round, RDDs a collected result may leave in
# storage): the figures of the hand-written round boundaries ``plans.pin``
# replaced, at local[2] and local[4] alike
ROUND_BUDGETS = {
    "pagerank": (6, 2),
    "eigenvector_centrality": (4, 2),
    "hits": (8, 4),
    "sssp_weighted": (6, 2),
    "k_core": (4, 2),
    "neardup_components": (8, 1),
    "bpe_merges": (2, 0),
}


@pytest.mark.parametrize(
    "name",
    ["pagerank", "eigenvector_centrality", "hits", "sssp_weighted", "k_core",
     "neardup_components", "bpe_merges"],
)
def test_round_budgets_and_storage(spark, name):
    """Every lazy round boundary costs its loop's per-round jobs and no
    more (N+1 rounds run exactly one round's jobs more than N, result
    collect included), and a collected result leaves no more RDDs in
    storage than the hand-written boundaries did."""
    per_round, residue = ROUND_BUDGETS[name]
    call = _round_calls(spark)[name]
    storage = spark.sparkContext._jsc.sc().getRDDStorageInfo
    jobs, left = [], []
    for r in (2, 3):
        before = {i.id() for i in storage()}
        _, n = jobs_in_group(spark, f"rounds-{name}-{r}", lambda: call(r).collect())
        jobs.append(n)
        left.append(len({i.id() for i in storage()} - before))
    assert jobs[1] - jobs[0] == per_round, jobs
    assert max(left) <= residue, left
