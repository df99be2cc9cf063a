"""Invariant tests for the iterative DataFrame algorithms (SURVEY.md §5):
community ids are nondeterministic in the reference too, so we assert
partition/quality invariants rather than exact values."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from graph_database_application_for_recommendations_spark.operators.corating import corating_edges
from graph_database_application_for_recommendations_spark.operators.knn import knn_exact, knn_lsh
from graph_database_application_for_recommendations_spark.plans.fastrp import (
    fastrp,
    user_embeddings_from_fastrp,
)
from graph_database_application_for_recommendations_spark.plans.graphs import (
    bipartite_rating_graph,
    undirected,
)
from graph_database_application_for_recommendations_spark.plans.lpa import label_propagation
from graph_database_application_for_recommendations_spark.plans.modularity import modularity
from graph_database_application_for_recommendations_spark.sources.views import load_ref_tables

from .conftest import SF_SMALL


@pytest.fixture(scope="module")
def two_cliques(spark):
    """community_mini fixture (FIXTURES.md §C): two 4-cliques joined by one
    weak bridge edge."""
    edges = []
    for clique in ([1, 2, 3, 4], [11, 12, 13, 14]):
        for i in clique:
            for j in clique:
                if i < j:
                    edges.append((i, j, 10.0))
    edges.append((4, 11, 1.0))  # weak bridge
    df = spark.createDataFrame(edges, "src LONG, dst LONG, weight DOUBLE")
    return undirected(df)


def test_lpa_separates_cliques(spark, two_cliques):
    comm = label_propagation(two_cliques, max_iter=10)
    got = {r["node_id"]: r["community"] for r in comm.collect()}
    assert set(got) == {1, 2, 3, 4, 11, 12, 13, 14}  # partition covers all nodes
    c1 = {got[i] for i in [1, 2, 3, 4]}
    c2 = {got[i] for i in [11, 12, 13, 14]}
    assert len(c1) == 1 and len(c2) == 1 and c1 != c2
    # canonicalized ids: community id == smallest member id
    assert c1 == {1} and c2 == {11}


def test_lpa_deterministic(spark, two_cliques):
    a = sorted(map(tuple, label_propagation(two_cliques).collect()))
    b = sorted(map(tuple, label_propagation(two_cliques).collect()))
    assert a == b


def test_modularity_two_cliques(spark, two_cliques):
    comm = label_propagation(two_cliques)
    q = modularity(two_cliques, comm)
    assert 0.3 < q < 0.55  # near-perfect 2-community partition
    # degenerate partition (everything one community) has Q ~= 0
    one = comm.select("node_id").withColumn("community", F.lit(1))
    assert abs(modularity(two_cliques, one)) < 1e-9


def test_fastrp_shape_and_determinism(spark):
    ratings = load_ref_tables(spark, SF_SMALL).ratings
    nodes, edges = bipartite_rating_graph(ratings)
    emb = fastrp(nodes, edges, dim=16, seed=7)
    rows = emb.collect()
    assert len(rows) == nodes.count()  # every node embedded
    for r in rows[:20]:
        assert len(r["embedding"]) == 16
        assert all(math.isfinite(x) for x in r["embedding"])
        nrm = math.sqrt(sum(x * x for x in r["embedding"]))
        assert nrm == pytest.approx(1.0, abs=1e-6) or nrm == 0.0
    # seeded rerun reproduces values (within float-sum reordering noise)
    emb2 = {r["node_id"]: r["embedding"] for r in fastrp(nodes, edges, dim=16, seed=7).collect()}
    for r in rows:
        assert emb2[r["node_id"]] == pytest.approx(r["embedding"], abs=1e-9)


def test_fastrp_distributed_path_matches_local(spark):
    """local_max_edges=0 forces the distributed iteration; both paths start
    from the identical hash-seeded init and run the same weighted-mean +
    L2-normalize recurrence, so results agree to float-summation noise."""
    ratings = load_ref_tables(spark, SF_SMALL).ratings
    nodes, edges = bipartite_rating_graph(ratings)
    local = {r["node_id"]: r["embedding"] for r in fastrp(nodes, edges, dim=16, seed=7).collect()}
    dist = {
        r["node_id"]: r["embedding"]
        for r in fastrp(nodes, edges, dim=16, seed=7, local_max_edges=0).collect()
    }
    assert local.keys() == dist.keys()
    for nid, vec in local.items():
        assert dist[nid] == pytest.approx(vec, abs=1e-9)


@pytest.mark.parametrize("weights", [(0.0, 1.0, 1.0), (1.0, 0.5, 1.0, 2.0)])
def test_fastrp_distributed_zero_fill_matches_local(spark, weights):
    """A node with no edges drops out of every round's propagate aggregate;
    the distributed path's has_isolated branch zero-fills it back in. At
    the default dim=64 both paths must agree on every node, the isolated
    one included (a zero vector). The second weight tuple blends the
    accumulator over several pinned rounds: each round table must outlive
    the lazily seeded accumulator that reads it."""
    nodes = spark.createDataFrame([(f"n{i}",) for i in range(7)], "node_id string")
    pairs = [("n0", "n1", 1.0), ("n1", "n2", 2.0), ("n2", "n0", 3.0),
             ("n3", "n4", 1.5), ("n4", "n5", 0.5)]
    edges = spark.createDataFrame(
        pairs + [(d, s, w) for s, d, w in pairs], "src string, dst string, weight double"
    )
    local = {
        r["node_id"]: r["embedding"]
        for r in fastrp(nodes, edges, iteration_weights=weights).collect()
    }
    dist = {
        r["node_id"]: r["embedding"]
        for r in fastrp(nodes, edges, iteration_weights=weights, local_max_edges=0).collect()
    }
    assert local.keys() == dist.keys() == {f"n{i}" for i in range(7)}
    assert dist["n6"] == [0.0] * 64
    for nid, vec in local.items():
        assert len(dist[nid]) == 64
        assert dist[nid] == pytest.approx(vec, abs=1e-9)


def test_fastrp_distributed_py4j_round_trip_budget(spark, monkeypatch):
    """Each wide (dim-column) plan node of the distributed path is built by
    one batched expression-list call. Building them one Column at a time
    cost ~85k py4j round trips per call at dim=64 (~1.5k batched); the
    bound catches any per-column construction creeping back."""
    from py4j.clientserver import ClientServerConnection

    ratings = load_ref_tables(spark, SF_SMALL).ratings
    nodes, edges = bipartite_rating_graph(ratings)
    calls = [0]
    send = ClientServerConnection.send_command

    def counting_send(self, *args, **kwargs):
        calls[0] += 1
        return send(self, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting_send)
    fastrp(nodes, edges, local_max_edges=0)
    monkeypatch.undo()
    # > 0 shows the counter saw the calls: the session must use py4j's
    # pinned-thread client server, or the bound would hold vacuously
    assert 0 < calls[0] < 3_000


def test_fastrp_corated_users_more_similar_than_random(spark):
    """Quality proxy (SURVEY §5): strongly co-rating users should be closer
    in embedding space than random user pairs, on average."""
    ratings = load_ref_tables(spark, SF_SMALL).ratings
    nodes, edges = bipartite_rating_graph(ratings)
    emb = fastrp(nodes, edges, dim=32, seed=42)
    user_emb = user_embeddings_from_fastrp(emb)
    co = corating_edges(ratings).filter(F.col("weight") >= 3)

    from graph_database_application_for_recommendations_spark.functions import vector as V

    e1 = user_emb.select(F.col("user_id").alias("u1"), F.col("embedding").alias("va"))
    e2 = user_emb.select(F.col("user_id").alias("u2"), F.col("embedding").alias("vb"))
    co_sim = (
        co.join(e1, "u1").join(e2, "u2")
        .agg(F.avg(V.cosine(F.col("va"), F.col("vb"))))
        .collect()[0][0]
    )
    rand_pairs = (
        e1.crossJoin(e2).filter(F.col("u1") < F.col("u2"))
        .agg(F.avg(V.cosine(F.col("va"), F.col("vb"))))
        .collect()[0][0]
    )
    # sf0.001 is dense (every user co-rates with most others), so the
    # baseline similarity is already high; the margin is small but the
    # test is fully deterministic (fixed seed)
    assert co_sim > rand_pairs + 0.02


def test_pipeline_writeback_roundtrip(spark, tmp_path):
    """EP3: write-back tables materialize to parquet and serve queries on
    re-read, like the reference's precompute-then-serve flow."""
    from graph_database_application_for_recommendations_spark.operators.recommend import (
        recommend_books_knn,
    )
    from graph_database_application_for_recommendations_spark.plans.pipeline import run_pipeline
    from graph_database_application_for_recommendations_spark.sources.views import load_ref_tables

    out = str(tmp_path / "writeback")
    res = run_pipeline(spark, SF_SMALL, dim=16, knn_cutoff=0.4, out_dir=out)
    sim = spark.read.parquet(f"{out}/similar_to.parquet")
    assert sorted(map(tuple, sim.collect())) == sorted(map(tuple, res.similar_to.collect()))
    ref = load_ref_tables(spark, SF_SMALL)
    served = recommend_books_knn(sim, ref.ratings, ref.books, 1, k=3)
    assert served.count() <= 3
    comm = spark.read.parquet(f"{out}/communities.parquet")
    assert comm.count() == res.communities.count()


def test_knn_lsh_subset_of_exact(spark):
    emb = load_ref_tables(spark, SF_SMALL).embeddings
    exact = knn_exact(emb, top_k=10, cutoff=0.2)
    approx = knn_lsh(emb, top_k=10, cutoff=0.2, num_hash_tables=4)
    exact_pairs = {(r["src"], r["dst"]) for r in exact.collect()}
    approx_rows = approx.collect()
    assert len(approx_rows) > 0
    # every LSH candidate that survives the exact re-rank is a true pair
    # with the same similarity the exact operator computes
    exact_sim = {(r["src"], r["dst"]): r["similarity"] for r in exact.collect()}
    hits = 0
    for r in approx_rows:
        if (r["src"], r["dst"]) in exact_sim:
            hits += 1
            assert r["similarity"] == pytest.approx(exact_sim[(r["src"], r["dst"])], abs=1e-9)
    assert hits > 0


def test_knn_exact_local_matches_distributed(spark):
    """The driver-local BLAS kernel and the distributed cross-join kernel
    implement one semantics contract: identical pairs, similarities (6dp
    rounding happens before cutoff and ranking in both) and top-k
    tie-breaks."""
    from graph_database_application_for_recommendations_spark.operators.knn import knn_exact_local

    emb = load_ref_tables(spark, SF_SMALL).embeddings
    dist = {
        (r["src"], r["dst"]): r["similarity"]
        for r in knn_exact(emb, top_k=5, cutoff=0.2).collect()
    }
    local = {
        (r["src"], r["dst"]): r["similarity"]
        for r in knn_exact_local(emb, top_k=5, cutoff=0.2).collect()
    }
    assert dist.keys() == local.keys()
    for pair, sim in dist.items():
        assert local[pair] == pytest.approx(sim, abs=1e-9)


def test_pipeline_scale_knn_path(spark):
    """knn_lsh_threshold=0 forces the beyond-driver-size IVF path: output
    contract matches (src, dst, similarity), every pair is a true pair
    with the exact operator's similarity (approximate recall, no false
    positives)."""
    from graph_database_application_for_recommendations_spark.plans.pipeline import run_pipeline

    res = run_pipeline(spark, SF_SMALL, dim=16, knn_cutoff=0.4, knn_lsh_threshold=0)
    approx = res.similar_to
    assert approx.columns == ["src", "dst", "similarity"]
    exact_sim = {
        (r["src"], r["dst"]): r["similarity"]
        for r in knn_exact(
            res.embeddings, id_col="user_id", vec_col="embedding", top_k=20, cutoff=0.4
        ).collect()
    }
    rows = approx.collect()
    assert len(rows) > 0
    for r in rows:
        key = (r["src"], r["dst"])
        assert key in exact_sim or r["similarity"] >= 0.4
        if key in exact_sim:
            assert r["similarity"] == pytest.approx(exact_sim[key], abs=1e-9)


def test_knn_exact_fixture(spark):
    """embeddings_mini fixture: hand-computed cosine ordering."""
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.9, 0.1]),
        (3, [0.0, 1.0]),
        (4, [0.7, 0.7]),
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    got = {
        (r["src"], r["dst"]): r["similarity"]
        for r in knn_exact(df, top_k=2, cutoff=0.8).collect()
    }
    # only the (1,2) pair clears the 0.8 cutoff: cos(1,2)≈0.9939,
    # cos(1,4)≈0.7071, cos(2,4)≈0.7808, cos(3,4)≈0.7071, cos(1,3)=0
    assert got.keys() == {(1, 2), (2, 1)}
    assert got[(1, 2)] == pytest.approx(0.993884, abs=1e-6)


# --- cross-engine invariants for the iterative stages (VERDICT r1 item 2) ---


def _duckdb_modularity(edges_pdf, labels_pdf) -> float:
    """Newman Q recomputed in DuckDB from exported (doubled) edges+labels —
    an independent engine checking the modularity implementation."""
    import duckdb

    con = duckdb.connect()
    con.register("e", edges_pdf)
    con.register("lab", labels_pdf)
    return con.execute(
        """
        WITH j AS (
          SELECT la.community AS c_src, lb.community AS c_dst, e.weight
          FROM e JOIN lab la ON e.src = la.node_id
                 JOIN lab lb ON e.dst = lb.node_id),
        percomm AS (
          SELECT c_src, SUM(weight) AS deg,
                 SUM(CASE WHEN c_src = c_dst THEN weight ELSE 0 END) AS in_w
          FROM j GROUP BY c_src)
        SELECT SUM(in_w)/SUM(deg) - SUM(deg*deg)/(SUM(deg)*SUM(deg)) FROM percomm
        """
    ).fetchone()[0]


def test_pipeline_modularity_matches_duckdb(spark):
    """q_pipeline_modularity's value equals DuckDB-recomputed Q over the
    exported community labels (Louvain by default) — would catch a
    modularity (or label-export) regression, which the rows-only driver
    check cannot."""
    from graph_database_application_for_recommendations_spark import registry

    res = registry._pipeline(spark, SF_SMALL)
    q_spark = res.modularity
    co = corating_edges(load_ref_tables(spark, SF_SMALL).ratings).select(
        F.col("u1").alias("src"), F.col("u2").alias("dst"),
        F.col("weight").cast("double").alias("weight"))
    labels = res.communities.select(
        F.col("user_id").alias("node_id"), "community")
    q_duck = _duckdb_modularity(co.toPandas(), labels.toPandas())
    assert round(q_spark, 6) == pytest.approx(round(q_duck, 6), abs=2e-6)


def test_pipeline_default_community_is_louvain(spark):
    """VERDICT r3 item 5: the pipeline's community stage defaults to
    Louvain (the reference's actual algorithm, Alg_Community_Detection.py)
    and its modularity dominates the LPA stand-in's on the same graph
    (LPA collapses to one community on the dense co-rating projection,
    Q = 0; Louvain finds a nontrivial partition)."""
    from graph_database_application_for_recommendations_spark.plans.pipeline import run_pipeline

    q_louvain = run_pipeline(spark, SF_SMALL).modularity
    q_lpa = run_pipeline(spark, SF_SMALL, community_algorithm="lpa").modularity
    assert q_louvain > 0.0
    assert q_louvain >= q_lpa


def test_louvain_modularity_matches_duckdb(spark):
    """Same cross-engine Q check for the Louvain partition (nontrivial Q)."""
    from graph_database_application_for_recommendations_spark import registry

    comm, q_spark = registry._louvain(spark, SF_SMALL)
    co = corating_edges(load_ref_tables(spark, SF_SMALL).ratings).select(
        F.col("u1").alias("src"), F.col("u2").alias("dst"),
        F.col("weight").cast("double").alias("weight"))
    labels = comm.select(F.col("node_id"), "community")
    q_duck = _duckdb_modularity(co.toPandas(), labels.toPandas())
    assert q_spark != 0.0  # nontrivial partition at sf0.001
    assert round(q_spark, 6) == pytest.approx(round(q_duck, 6), abs=2e-6)


def test_fastrp_digest_stable_across_runs(spark):
    """q_pipeline_fastrp_digest is identical across two independent FastRP
    runs (fresh plans, no shared cache) — the digest is a real determinism
    pin, not a snapshot of one cached frame."""
    from graph_database_application_for_recommendations_spark.plans.pipeline import run_pipeline

    def digest(emb):
        flat = emb.select("user_id", F.posexplode("embedding").alias("dim", "value"))
        return flat.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "bit_xor(xxhash64(cast(user_id as string), cast(dim as string),"
                " cast(round(value, 6) as string)))"
            ).alias("digest"),
        ).collect()[0]

    d1 = digest(run_pipeline(spark, SF_SMALL).embeddings)
    d2 = digest(run_pipeline(spark, SF_SMALL).embeddings)
    assert d1["n"] > 0
    assert (d1["n"], d1["digest"]) == (d2["n"], d2["digest"])


def test_knn_exact_blas_matches_fold_bitwise(spark):
    """The broadcast-BLAS candidate kernel accumulates in ascending
    dimension order, reproducing the fold path's IEEE op sequence — the two
    strategies must agree bit-for-bit, including 6dp-tie top-k boundaries
    (duplicated vectors). Zero-norm vectors are out of contract for both:
    the fold path throws DIVIDE_BY_ZERO under Spark 4's default ANSI mode
    (the kernel's NaN-keep branch only fires on inputs fold rejects)."""
    import random

    random.seed(5)
    rows = [(i, [random.uniform(-1, 1) for _ in range(16)]) for i in range(300)]
    rows += [(1000 + i, list(rows[i][1])) for i in range(20)]  # sim-1.0 ties
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")

    def canon(recs):
        return sorted((r["src"], r["dst"], r["similarity"]) for r in recs)

    from graph_database_application_for_recommendations_spark.operators.knn import knn_exact

    blas = canon(knn_exact(df, top_k=5, cutoff=0.3, strategy="blas").collect())
    fold = canon(knn_exact(df, top_k=5, cutoff=0.3, strategy="fold").collect())
    assert blas == fold
    assert len(blas) > 0


def test_pagerank_invariants(spark):
    """Ranks form a probability distribution (sum 1 within float noise),
    are strictly positive, and the hub of a star graph dominates."""
    from graph_database_application_for_recommendations_spark.plans.pagerank import pagerank

    edges = []
    for leaf in range(1, 9):  # star: hub 0 <-> leaves 1..8 (symmetric)
        edges += [(0, leaf, 1.0), (leaf, 0, 1.0)]
    edges += [(1, 2, 1.0), (2, 1, 1.0)]  # one leaf-leaf chord
    df = spark.createDataFrame(edges, "src LONG, dst LONG, weight DOUBLE")
    got = {r["node_id"]: r["rank"] for r in pagerank(df, iters=15).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert all(v > 0 for v in got.values())
    assert got[0] == max(got.values())
    again = {r["node_id"]: r["rank"] for r in pagerank(df, iters=15).collect()}
    assert got == again


def test_iterative_trio_gated_and_shuffle_paths_agree(spark, monkeypatch):
    """Round-8 VERDICT item 2 regression pin: the count-gated broadcast is
    a physical hint only — forcing the over-budget SHUFFLE path (budget=0)
    must reproduce the broadcast path's results bit-for-bit on
    pagerank/eigenvector/hits, so the 100 TB fallback can never drift from
    the attested small-graph plan."""
    from graph_database_application_for_recommendations_spark import plans
    from graph_database_application_for_recommendations_spark.plans.eigenvector import (
        eigenvector_centrality,
    )
    from graph_database_application_for_recommendations_spark.plans.hits import hits
    from graph_database_application_for_recommendations_spark.plans.pagerank import pagerank

    edges = []
    for leaf in range(1, 9):
        edges += [(0, leaf, 1.0), (leaf, 0, 1.0)]
    edges += [(1, 2, 1.0), (2, 1, 1.0)]
    df = spark.createDataFrame(edges, "src LONG, dst LONG, weight DOUBLE")
    bip = spark.createDataFrame(
        [(u, f"b{u % 3}") for u in range(7)] + [(1, "b9"), (2, "b9")],
        "user_id LONG, isbn STRING",
    )

    def run():
        # 9dp absorbs join-strategy-dependent float summation order while
        # staying far tighter than the 6dp the oracle-facing outputs use
        def r9(rows):
            return sorted(
                tuple(round(v, 9) if isinstance(v, float) else v for v in row)
                for row in map(tuple, rows)
            )

        return (
            r9(pagerank(df, iters=6).collect()),
            r9(eigenvector_centrality(df, iters=6).collect()),
            r9(hits(bip, iters=4).collect()),
        )

    gated = run()
    orig = plans.gate_node_vector_broadcast
    monkeypatch.setattr(
        plans,
        "gate_node_vector_broadcast",
        lambda n, what, bytes_per_row=24, budget_bytes=0: orig(
            n, what, bytes_per_row, budget_bytes=0
        ),
    )
    # the modules bound the name at import time — patch their references
    import graph_database_application_for_recommendations_spark.plans.eigenvector as ev_mod
    import graph_database_application_for_recommendations_spark.plans.hits as hits_mod
    import graph_database_application_for_recommendations_spark.plans.pagerank as pr_mod

    for mod in (ev_mod, hits_mod, pr_mod):
        monkeypatch.setattr(
            mod, "gate_node_vector_broadcast", plans.gate_node_vector_broadcast
        )
    shuffled = run()
    assert gated == shuffled


def test_triangle_counts_known_graphs(spark):
    """K4 (4 triangles, 3 per node), a triangle-free path, and a hub-heavy
    wheel where the degree orientation must still count each triangle once."""
    from graph_database_application_for_recommendations_spark.plans.graphs import (
        triangle_counts,
    )

    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a != b], "src LONG, dst LONG"
    )
    assert sorted(map(tuple, triangle_counts(k4).collect())) == [(i, 3) for i in range(4)]
    path = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src LONG, dst LONG")
    assert triangle_counts(path).count() == 0
    # wheel: hub 0 + cycle 1..6 — six triangles, hub in all of them
    rim = [(i, i % 6 + 1) for i in range(1, 7)]
    wheel = spark.createDataFrame(
        [(0, i) for i in range(1, 7)] + rim, "src LONG, dst LONG"
    )
    got = dict(map(tuple, triangle_counts(wheel).collect()))
    assert got[0] == 6 and all(got[i] == 2 for i in range(1, 7))


def test_k_core_known_graphs(spark):
    """A K4 with a pendant path: the 3-core is exactly the K4 (peeling the
    pendant chain takes two rounds — exercises the fixpoint loop); the
    4-core is empty; k=1 keeps everything."""
    from graph_database_application_for_recommendations_spark.plans.graphs import (
        k_core,
        undirected,
    )

    # K4 on {0,1,2,3} + path 3-4-5 (pendant chain)
    e = [(a, b) for a in range(4) for b in range(4) if a < b] + [(3, 4), (4, 5)]
    edges = undirected(spark.createDataFrame(e, "src LONG, dst LONG"))
    core3 = dict(map(tuple, k_core(edges, 3).collect()))
    assert core3 == {0: 3, 1: 3, 2: 3, 3: 3}
    assert k_core(edges, 4).count() == 0
    core1 = dict(map(tuple, k_core(edges, 1).collect()))
    assert set(core1) == {0, 1, 2, 3, 4, 5} and core1[4] == 2 and core1[5] == 1


def test_funnel_ordering_semantics(spark):
    """Step N counts only when strictly after the user's earliest step N-1:
    a purchase *before* the first click must not complete the funnel, and
    duplicate events collapse to the earliest qualifying one."""
    from graph_database_application_for_recommendations_spark.operators.events import (
        funnel,
    )

    rows = [
        # u1: clean v->c->p chain with duplicates
        (1, "view", 100), (2, "view", 50), (3, "click", 200), (4, "click", 150),
        (5, "purchase", 300),
        # u2: purchase BEFORE any click -> reached 2 only
        (6, "view", 10), (7, "purchase", 20), (8, "click", 30),
        # u3: view only
        (9, "view", 40),
        # u4: click/purchase but never viewed -> absent from funnel
        (10, "click", 5), (11, "purchase", 6),
    ]
    uid = {i: u for u, ids in {1: range(1, 6), 2: range(6, 9), 3: range(9, 10), 4: range(10, 12)}.items() for i in ids}
    from datetime import datetime

    ev = spark.createDataFrame(
        [(e, uid[e], ty, datetime(2024, 1, 1, 0, 0, 0, us)) for e, ty, us in rows],
        "event_id LONG, user_id LONG, event_type STRING, ts TIMESTAMP",
    )
    got = {r["user_id"]: r for r in funnel(ev).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["reached"] == 3 and got[1]["step2_us"] > got[1]["step1_us"] > 0
    assert got[2]["reached"] == 2 and got[2]["step3_us"] is None
    assert got[3]["reached"] == 1 and got[3]["step2_us"] is None


def test_length_quantile_keep_threshold(spark):
    """Exact histogram quantile: with q=0.25 over 100 docs of lengths
    1..100, ceil(25) = 25 -> threshold 25, keep lengths >= 25 (76 docs);
    ties at the threshold all stay."""
    from graph_database_application_for_recommendations_spark.operators.textstats import (
        length_quantile_keep,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * i)) for i in range(1, 101)], "doc_id LONG, text STRING"
    )
    kept = length_quantile_keep(docs, q=0.25)
    lens = sorted(r["n_tokens"] for r in kept.collect())
    assert lens[0] == 25 and len(lens) == 76
    # all-equal lengths: threshold == the single value, nothing dropped
    flat = spark.createDataFrame(
        [(i, "a b c") for i in range(10)], "doc_id LONG, text STRING"
    )
    assert length_quantile_keep(flat, q=0.5).count() == 10


def test_lm_bigram_scores_semantics(spark):
    """A doc made of corpus-typical bigrams outscores one with unique
    transitions; n_bigrams = len(norm)-1; sub-2-char docs excluded."""
    from graph_database_application_for_recommendations_spark.operators.textstats import (
        lm_bigram_scores,
    )

    docs = spark.createDataFrame(
        [(1, "ababab"), (2, "ababab"), (3, "xq"), (4, "z")],
        "doc_id LONG, text STRING",
    )
    got = {r["doc_id"]: r for r in lm_bigram_scores(docs).collect()}
    assert set(got) == {1, 2, 3}  # doc 4 has no bigrams
    assert got[1]["n_bigrams"] == 5 and got[1]["lm_score"] == got[2]["lm_score"]
    # 'xq' occurs once among x-prefixed bigrams (only one) -> log2(1.0)=0;
    # 'ab' has P(b|a)=1.0 as well here, so compare against a mixed doc
    assert got[3]["lm_score"] == 0.0


def test_lm_bigram_scores_weighted_form_equals_positional(spark):
    """The round-10 single-explode shape (per-(doc, bigram) counts +
    count-weighted mean) must reproduce the r9 positional form it
    replaced: same rounded scores and the same n_bigrams (positions, not
    distinct bigrams) on a corpus with heavy within-doc repetition."""
    from graph_database_application_for_recommendations_spark.operators.textstats import (
        _char_bigrams,
        lm_bigram_scores,
    )

    docs = spark.createDataFrame(
        [
            (i, ("the quick brown fox " * (i % 4 + 1)) + "zz" * (i % 3))
            for i in range(1, 41)
        ],
        "doc_id LONG, text STRING",
    )
    got = sorted(map(tuple, lm_bigram_scores(docs).collect()))
    # the r9 positional reference, rebuilt inline: explode positions,
    # model from the positional counts, per-doc AVG over positions
    grams = _char_bigrams(docs, "doc_id", "text")
    big = grams.groupBy("bigram").agg(F.count(F.lit(1)).alias("_cnt"))
    pre = big.groupBy(F.substring("bigram", 1, 1).alias("_c1")).agg(
        F.sum("_cnt").alias("_tot")
    )
    model = big.join(
        pre, F.substring(big["bigram"], 1, 1) == pre["_c1"]
    ).select("bigram", F.log2(F.col("_cnt") / F.col("_tot")).alias("_lp"))
    want = sorted(
        map(
            tuple,
            grams.join(model, "bigram")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_bigrams"),
                F.round(F.avg("_lp"), 6).alias("lm_score"),
            )
            .collect(),
        )
    )
    assert got == want


def test_hits_bipartite_semantics(spark):
    """One book rated by every user plus singleton books: the universal
    book dominates authority mass; all-symmetric users share one hub
    score; scores are L2-normalized per side."""
    from graph_database_application_for_recommendations_spark.plans.hits import hits

    rows = [(u, "B0") for u in range(1, 5)] + [(1, "B1"), (2, "B2")]
    e = spark.createDataFrame(rows, "user_id LONG, isbn STRING")
    got = hits(e, iters=12).collect()
    auth = {r["id"]: r["score"] for r in got if r["kind"] == "authority"}
    hub = {r["id"]: r["score"] for r in got if r["kind"] == "hub"}
    assert auth["B0"] == max(auth.values()) and auth["B0"] > 2 * auth["B1"]
    # scores are rounded to 6dp on output, so the L2 invariant holds to
    # ~n*1e-6
    assert abs(sum(v * v for v in auth.values()) - 1.0) < 1e-4
    assert abs(sum(v * v for v in hub.values()) - 1.0) < 1e-4
    # users 1 and 2 are exchange-symmetric (B0 + one singleton each)
    assert hub["1"] == hub["2"] and hub["3"] == hub["4"] and hub["1"] > hub["3"]


def test_weighted_sample_topk_properties(spark):
    """Deterministic across runs; k-bounded; and heavier rows win under
    equal hash luck (two ids with identical u would order by weight —
    checked via the closed form instead: key decreases in weight for
    fixed u)."""
    import math

    from graph_database_application_for_recommendations_spark.operators.sampling import (
        weighted_sample_topk,
    )

    docs = spark.createDataFrame(
        [(i, "x", (i % 10 + 1) * 100) for i in range(1, 501)],
        "doc_id LONG, text STRING, n_chars LONG",
    )
    s1 = weighted_sample_topk(docs, k=50).collect()
    s2 = weighted_sample_topk(docs, k=50).collect()
    assert [tuple(r) for r in s1] == [tuple(r) for r in s2] and len(s1) == 50
    # sample skews heavy: mean weight of the sample beats the population mean
    pop_mean = 550.0  # weights 100..1000 uniform
    assert sum(r["weight"] for r in s1) / 50 > pop_mean
    # different seed -> different sample
    s3 = weighted_sample_topk(docs, k=50, seed=11).collect()
    assert {r["doc_id"] for r in s3} != {r["doc_id"] for r in s1}
    # closed form sanity: key = -ln(u)/w strictly decreasing in w
    assert -math.log(0.3) / 200 < -math.log(0.3) / 100


def test_bfs_distances_known_graph(spark):
    """Path 0-1-2-3 plus a branch 1-4: exact hop distances; node 9 in a
    separate component is absent from the result."""
    from graph_database_application_for_recommendations_spark.plans.graphs import (
        bfs_distances,
        undirected,
    )

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (1, 4), (9, 10)], "src LONG, dst LONG"
    )
    got = dict(map(tuple, bfs_distances(undirected(e), 0).collect()))
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 2}
    # from the far end
    got3 = dict(map(tuple, bfs_distances(undirected(e), 3).collect()))
    assert got3 == {3: 0, 2: 1, 1: 2, 0: 3, 4: 3}


def test_betweenness_exact_known_graphs(spark):
    """With num_sources >= n the sampled estimator IS exact Brandes
    (scale 1). Path 0-1-2-3-4: ordered-pair dependencies are 6/8/6 for
    the interior nodes, 0 at the endpoints. Star: hub carries all
    (n-1)(n-2) ordered leaf pairs."""
    from graph_database_application_for_recommendations_spark.plans.betweenness import (
        betweenness_approx,
    )
    from graph_database_application_for_recommendations_spark.plans.graphs import (
        undirected,
    )

    path = undirected(
        spark.createDataFrame([(0, 1), (1, 2), (2, 3), (3, 4)], "src LONG, dst LONG")
    )
    got = dict(map(tuple, betweenness_approx(path, num_sources=10).collect()))
    assert got == {1: 6.0, 2: 8.0, 3: 6.0}  # endpoints have delta 0 -> absent or 0
    star = undirected(
        spark.createDataFrame([(0, i) for i in range(1, 6)], "src LONG, dst LONG")
    )
    got = dict(map(tuple, betweenness_approx(star, num_sources=10).collect()))
    assert got == {0: 20.0}  # 5*4 ordered leaf pairs


def test_betweenness_sampled_deterministic_and_scaled(spark):
    """k < n: deterministic given the seed, and the n/k scaling keeps the
    estimate in the right ballpark on a graph whose exact values are
    known (the path's middle node dominates under any source sample that
    hits both sides)."""
    from graph_database_application_for_recommendations_spark.plans.betweenness import (
        betweenness_approx,
    )
    from graph_database_application_for_recommendations_spark.plans.graphs import (
        undirected,
    )

    e = undirected(
        spark.createDataFrame(
            [(i, i + 1) for i in range(9)], "src LONG, dst LONG"
        )
    )
    a = sorted(map(tuple, betweenness_approx(e, num_sources=4, seed=3).collect()))
    b = sorted(map(tuple, betweenness_approx(e, num_sources=4, seed=3).collect()))
    assert a == b and len(a) > 0
    exact = dict(map(tuple, betweenness_approx(e, num_sources=10, seed=3).collect()))
    est = dict(a)
    # middle of the 10-path: exact ordered-pair betweenness = 2*5*4 = 40
    assert exact[4] == 40.0 and exact[5] == 40.0
    # the sampled estimate ranks the center above the ends
    center = max(est.get(4, 0), est.get(5, 0))
    edge_nodes = max(est.get(0, 0), est.get(9, 0))
    assert center > edge_nodes


def test_harmonic_closeness_exact_known_graphs(spark):
    """num_sources >= n makes the estimator exact harmonic centrality.
    Path 0-1-2-3-4: node 0 gets 1 + 1/2 + 1/3 + 1/4; node 2 (center)
    gets 2*(1 + 1/2). Star hub: n-1 neighbors at distance 1."""
    from graph_database_application_for_recommendations_spark.plans.closeness import (
        harmonic_closeness_approx,
    )
    from graph_database_application_for_recommendations_spark.plans.graphs import (
        undirected,
    )

    path = undirected(
        spark.createDataFrame([(0, 1), (1, 2), (2, 3), (3, 4)], "src LONG, dst LONG")
    )
    got = dict(map(tuple, harmonic_closeness_approx(path, num_sources=10).collect()))
    assert got[0] == pytest.approx(round(1 + 1 / 2 + 1 / 3 + 1 / 4, 6))
    assert got[2] == pytest.approx(3.0)
    star = undirected(
        spark.createDataFrame([(0, i) for i in range(1, 6)], "src LONG, dst LONG")
    )
    got = dict(map(tuple, harmonic_closeness_approx(star, num_sources=10).collect()))
    assert got[0] == pytest.approx(5.0)
    assert got[1] == pytest.approx(round(1 + 4 * 0.5, 6))


def test_clustering_coefficient_known_graphs(spark):
    """Triangle with a pendant: the triangle corners not touching the
    pendant have coefficient 1.0; the corner with the pendant has
    d=3, T=1 -> 1/3; the pendant has d=1 -> 0.0."""
    from graph_database_application_for_recommendations_spark.plans.graphs import (
        clustering_coefficient,
        undirected,
    )

    g = undirected(
        spark.createDataFrame(
            [(0, 1), (1, 2), (2, 0), (0, 3)], "src LONG, dst LONG"
        )
    )
    got = {
        r["node_id"]: (r["degree"], r["triangles"], r["coefficient"])
        for r in clustering_coefficient(g).collect()
    }
    assert got[1] == (2, 1, 1.0)
    assert got[2] == (2, 1, 1.0)
    assert got[0] == (3, 1, pytest.approx(round(1 / 3, 6)))
    assert got[3] == (1, 0, 0.0)


def test_sssp_weighted_prefers_cheap_multihop(spark):
    """Weighted SSSP with cost=1/weight: a strong 2-hop chain (w=10 each,
    cost 0.1+0.1) beats the weak direct edge (w=1, cost 1.0) — the case
    that separates Dijkstra semantics from BFS hop counting."""
    from graph_database_application_for_recommendations_spark.plans.graphs import undirected
    from graph_database_application_for_recommendations_spark.plans.sssp import sssp_weighted

    g = undirected(
        spark.createDataFrame(
            [(0, 1, 10.0), (1, 2, 10.0), (0, 2, 1.0)],
            "src LONG, dst LONG, weight DOUBLE",
        )
    )
    got = dict(map(tuple, sssp_weighted(g, 0).collect()))
    assert got == {0: 0.0, 1: 0.1, 2: 0.2}


def test_biased_walks_match_python_twin(spark):
    """node2vec biased walks vs an independent pure-Python replication of
    the full semantics (md5 A-ES keys, p/q/common-neighbor bias branches,
    tie-breaks) — the third implementation next to the Spark plan and the
    SQL oracle."""
    import hashlib
    import math
    from collections import defaultdict

    from graph_database_application_for_recommendations_spark.plans.graphs import biased_walks

    ratings = load_ref_tables(spark, SF_SMALL).ratings
    got = {
        (r["walk_id"], r["step"]): r["node"]
        for r in biased_walks(ratings, steps=3, start_mod=20, seed=7, p=4.0, q=2.0).collect()
    }

    rows = ratings.select("user_id", "isbn").collect()
    adj = defaultdict(set)
    for r in rows:
        u, b = f"u:{r['user_id']}", f"b:{r['isbn']}"
        adj[u].add(b)
        adj[b].add(u)
    starts = sorted({f"u:{r['user_id']}" for r in rows if r["user_id"] % 20 == 0})

    def h60(s: str) -> int:
        return int(hashlib.md5(f"{s}#7".encode()).hexdigest()[:15], 16)

    want = {}
    for w in starts:
        prev, node = None, w
        want[(w, 0)] = node
        for step in (1, 2, 3):
            best = None
            for nb in adj[node]:
                u = (h60(f"{w}|{step}|{nb}") + 1.0) / float(1 << 60)
                if prev is None:
                    bias = 1.0
                elif nb == prev:
                    bias = 1.0 / 4.0
                elif nb in adj[prev]:
                    bias = 1.0
                else:
                    bias = 1.0 / 2.0
                key = -math.log(u) / bias
                if best is None or (key, nb) < best[:2]:
                    best = (key, nb)
            prev, node = node, best[1]
            want[(w, step)] = node

    assert got == want
