"""IVF k-means search and clustering: exact replica on both owners, job
budget, fallbacks, storage."""

from __future__ import annotations

import hashlib
import math
import time
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pytest

from graph_database_application_for_recommendations_spark import plans
from graph_database_application_for_recommendations_spark.operators import ivf
from graph_database_application_for_recommendations_spark.operators.ivf import (
    cluster_corpus,
    cluster_members,
    topk_ivf,
    train_ivf_centroids,
)
from graph_database_application_for_recommendations_spark.operators.ivfpq import topk_ivfpq
from graph_database_application_for_recommendations_spark.operators.knn import knn_ivf

from .conftest import SF_SMALL, jobs_in_group

# --- plain-Python replica -----------------------------------------------------


def _dot(a, b):
    """V.dot's fold: a sequential left sum of products, from 0.0."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _normalize(v):
    nrm = math.sqrt(_dot(v, v))
    return [x / nrm for x in v]


def _round6(x):
    """Spark's round(x, 6) on a double: HALF_UP on its decimal string."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def _nearest(v, cents):
    """(cell, sim) of the most similar centroid, ties to the smallest cell."""
    sim, neg_cell = max((_dot(v, c), -cell) for cell, c in cents.items())
    return -neg_cell, sim


def _train(vecs, num_cells, lloyd_iters):
    """md5-ranked seeds (cell = rank), then Lloyd rounds of per-cell means,
    each normalized; a cell nobody joins drops out."""
    k = num_cells or max(2, int(math.sqrt(len(vecs))))
    ranked = sorted(vecs, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    cents = {cell: vecs[i] for cell, i in enumerate(ranked[:k])}
    for _ in range(lloyd_iters):
        members = {}
        for v in vecs.values():
            members.setdefault(_nearest(v, cents)[0], []).append(v)
        cents = {
            cell: _normalize([sum(col) / len(vs) for col in zip(*vs)])
            for cell, vs in members.items()
        }
    return cents


def _replica_knn(vecs, top_k, cutoff, nprobe, num_cells=None, lloyd_iters=2):
    cents = _train(vecs, num_cells, lloyd_iters)
    cell_of = {i: _nearest(v, cents)[0] for i, v in vecs.items()}
    out = set()
    for q, qv in vecs.items():
        probed = sorted(cents, key=lambda c: (-_dot(qv, cents[c]), c))[:nprobe]
        cands = sorted(
            (-_round6(_dot(qv, vecs[n])), n)
            for n in vecs
            if n != q and cell_of[n] in probed
        )
        out |= {(q, n, -s) for s, n in cands[:top_k] if -s >= cutoff}
    return out


def _replica_clusters(vecs, k, lloyd_iters):
    cents = _train(vecs, k, lloyd_iters)
    return {(i, *_nearest(v, cents)) for i, v in vecs.items()}


@pytest.fixture(scope="module")
def pm1_vectors(spark):
    """Seeded ±1 vectors of dim 16 under shuffled, gappy ids. Normalized,
    every component is ±0.25, so sums of components or of their products
    are exact in any order; equal similarities are common, so every
    tie-break (cell argmax, probe rank, neighbor rank) is exercised."""
    rng = np.random.default_rng(7)
    ids = rng.permutation(np.arange(0, 300, 3))[:90].tolist()
    raw = {int(i): rng.choice([-1.0, 1.0], size=16).tolist() for i in ids}
    df = spark.createDataFrame(list(raw.items()), "vec_id long, embedding array<double>")
    return df, {i: _normalize(v) for i, v in raw.items()}


@pytest.fixture(params=["driver", "spark"])
def owner(request, monkeypatch):
    """Who holds the IVF node state (vectors, centroids, cells, probes) of
    an all-pairs search: the driver while the corpus fits the node-vector
    gate, or Spark, forced past the gate."""
    if request.param == "spark":
        monkeypatch.setattr(plans, "NODE_VECTOR_BUDGET_BYTES", 0)
    return request.param


@pytest.mark.parametrize("top_k,cutoff,nprobe", [(5, 0.25, 2), (8, -1.0, 3)])
def test_knn_ivf_matches_python_replica(spark, owner, pm1_vectors, top_k, cutoff, nprobe):
    df, vecs = pm1_vectors
    got = {
        tuple(r)
        for r in knn_ivf(df, top_k=top_k, cutoff=cutoff, nprobe=nprobe).collect()
    }
    assert got == _replica_knn(vecs, top_k, cutoff, nprobe)


def test_topk_ivf_on_seed_cells_matches_python_replica(spark, owner, pm1_vectors):
    """With no Lloyd round the cells are the nine seeds themselves: every
    vector has equal cell similarities, and for 37 of the 90 the tie
    straddles the nprobe = 2 cut, so the probe ranking's cell tie-break
    decides which cells are probed."""
    df, vecs = pm1_vectors
    got = {tuple(r) for r in topk_ivf(df, df, k=6, nprobe=2, lloyd_iters=0).collect()}
    assert got == _replica_knn(vecs, 6, -1.0, 2, lloyd_iters=0)


def test_knn_ivf_zero_vector_scores_zero(spark, owner):
    """A zero vector has no direction: normalization passes it through
    (under ANSI its zero norm used to raise DIVIDE_BY_ZERO), and it scores
    0 against every centroid and every neighbour."""
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.6, 0.8])],
        "vec_id long, embedding array<double>",
    )
    assert {tuple(r) for r in knn_ivf(df, cutoff=-1.0).collect()} == {
        (1, 2, 0.0), (1, 3, 0.0), (2, 1, 0.0), (2, 3, 0.6), (3, 1, 0.0), (3, 2, 0.6)
    }


@pytest.mark.parametrize("case", ["ragged", "null_vector", "null_element", "queries"])
def test_ivf_fallbacks_take_the_spark_owner(spark, monkeypatch, pm1_vectors, case):
    """Inputs the driver owner cannot hold — a vector of another length, a
    null vector or a null component — and a query set that is not the
    corpus run the Spark owner and give its answer."""
    df, _ = pm1_vectors
    odd = {
        "ragged": [(1000, [1.0] * 15)],
        "null_vector": [(1000, None)],
        "null_element": [(1000, [1.0] * 15 + [None])],
    }
    corpus = df.union(spark.createDataFrame(odd[case], df.schema)) if case in odd else df
    queries = df.filter("vec_id < 60") if case == "queries" else corpus

    def search():
        return {tuple(r) for r in topk_ivf(queries, corpus, k=6, nprobe=2).collect()}

    with monkeypatch.context() as m:
        m.setattr(plans, "NODE_VECTOR_BUDGET_BYTES", 0)
        want = search()

    def no_driver_owner(*_):
        raise AssertionError("took the driver owner")

    monkeypatch.setattr(ivf, "_topk_ivf_driver", no_driver_owner)
    assert search() == want
    assert want


@pytest.mark.parametrize("k,lloyd_iters", [(6, 0), (6, 3), (11, 2)])
def test_cluster_corpus_matches_python_replica(spark, pm1_vectors, k, lloyd_iters):
    df, vecs = pm1_vectors
    got = {tuple(r) for r in cluster_corpus(df, k=k, lloyd_iters=lloyd_iters).collect()}
    assert got == {(i, c, _round6(s)) for i, c, s in _replica_clusters(vecs, k, lloyd_iters)}


# --- jobs and storage ---------------------------------------------------------


def test_knn_ivf_job_budget(spark, monkeypatch):
    """One knn_ivf call, trained and searched, on the sf0.001 embeddings.
    The driver owner runs the gate aggregate, the corpus collect and the
    candidate re-rank: 7 jobs. The Spark owner also runs the gate
    aggregate; a Lloyd round is an assign + (cell, dim) mean collected to
    the driver (3 jobs), and the search shuffles the corpus once for both
    sides. Both owners give the same neighbours."""
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").cache()
    emb.count()
    try:
        driver, driver_jobs = jobs_in_group(
            spark, "knn-ivf-driver", lambda: knn_ivf(emb, cutoff=-1.0).collect()
        )
        _, two = jobs_in_group(spark, "ivf-2", lambda: train_ivf_centroids(emb, lloyd_iters=2))
        _, three = jobs_in_group(
            spark, "ivf-3", lambda: train_ivf_centroids(emb, lloyd_iters=3)
        )
        monkeypatch.setattr(plans, "NODE_VECTOR_BUDGET_BYTES", 0)
        forced, spark_jobs = jobs_in_group(
            spark, "knn-ivf-spark", lambda: knn_ivf(emb, cutoff=-1.0).collect()
        )
    finally:
        emb.unpersist(blocking=True)
    assert sorted(map(tuple, driver)) == sorted(map(tuple, forced))
    assert len(driver) == 500 * 20
    assert spark_jobs <= 19
    assert driver_jobs <= 7
    assert driver_jobs < spark_jobs
    assert three - two <= 3


@pytest.mark.parametrize(
    "call,owner",
    [
        (lambda df: knn_ivf(df, cutoff=0.0), "driver"),
        (lambda df: knn_ivf(df, cutoff=0.0), "spark"),
        (lambda df: cluster_corpus(df, k=4, lloyd_iters=4), "driver"),
        (lambda df: cluster_members(df, k=4, lloyd_iters=4), "driver"),
        (lambda df: topk_ivfpq(df, df, k=5, num_cells=4, m=4, num_centroids=8), "driver"),
    ],
    ids=["knn_ivf", "knn_ivf-spark", "cluster_corpus", "cluster_members", "topk_ivfpq"],
    indirect=["owner"],
)
def test_ivf_calls_leave_no_storage_behind(spark, call, owner):
    """The driver owner caches nothing; Spark-owner training keeps its
    centroids on the driver and releases its vector cache: once the result
    is collected, executor storage holds nothing the call created. Only
    knn_ivf has two owners; the other calls run at the default gates."""
    jsc = spark.sparkContext._jsc.sc()

    def held():
        return {i.id() for i in jsc.getRDDStorageInfo()}

    rng = np.random.default_rng(3)
    df = spark.createDataFrame(
        [(i, rng.normal(size=16).tolist()) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    before = held()
    assert call(df).collect()
    # unpersist(blocking=False) is asynchronous: give the removals a moment
    deadline = time.monotonic() + 10
    while held() - before and time.monotonic() < deadline:
        time.sleep(0.2)
    assert held() - before == set()
