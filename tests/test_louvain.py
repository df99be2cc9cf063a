"""Louvain invariants (SURVEY.md §5: assert partition quality, not ids)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graph_database_application_for_recommendations_spark.plans.graphs import undirected
from graph_database_application_for_recommendations_spark.plans.louvain import louvain
from graph_database_application_for_recommendations_spark.plans.modularity import modularity


@pytest.fixture(scope="module")
def three_cliques(spark):
    edges = []
    for clique in ([1, 2, 3, 4], [11, 12, 13, 14], [21, 22, 23, 24]):
        for i in clique:
            for j in clique:
                if i < j:
                    edges.append((i, j, 10.0))
    edges += [(4, 11, 1.0), (14, 21, 1.0)]  # weak bridges
    return undirected(spark.createDataFrame(edges, "src LONG, dst LONG, weight DOUBLE"))


def test_louvain_separates_cliques(spark, three_cliques):
    comm, q = louvain(three_cliques)
    got = {r["node_id"]: r["community"] for r in comm.collect()}
    assert set(got) == {1, 2, 3, 4, 11, 12, 13, 14, 21, 22, 23, 24}
    groups = [{got[i] for i in c} for c in ([1, 2, 3, 4], [11, 12, 13, 14], [21, 22, 23, 24])]
    assert all(len(g) == 1 for g in groups)
    assert len({next(iter(g)) for g in groups}) == 3
    assert q == pytest.approx(0.6557, abs=0.01)


def test_louvain_distributed_path_separates_cliques(spark, three_cliques):
    """local_threshold=0 forces the distributed red/black sweeps + coarsen
    loop (driver-sized inputs otherwise take the exact sequential gate)."""
    comm, q = louvain(three_cliques, local_threshold=0)
    got = {r["node_id"]: r["community"] for r in comm.collect()}
    groups = [{got[i] for i in c} for c in ([1, 2, 3, 4], [11, 12, 13, 14], [21, 22, 23, 24])]
    assert all(len(g) == 1 for g in groups)
    assert len({next(iter(g)) for g in groups}) == 3
    assert q == pytest.approx(0.6557, abs=0.01)


def test_louvain_at_least_as_good_as_lpa(spark, three_cliques):
    """Louvain's Q is at least the planted partition's: one community
    per clique."""
    _, q_louvain = louvain(three_cliques)
    planted = spark.createDataFrame(
        [(i, c[0]) for c in ([1, 2, 3, 4], [11, 12, 13, 14], [21, 22, 23, 24]) for i in c],
        "node_id LONG, community LONG",
    )
    q_planted = modularity(three_cliques, planted)
    assert q_louvain >= q_planted - 1e-9


def test_louvain_coarsening_merges_chain(spark):
    """A ring of 4 tight pairs: level-1 finds pairs, coarsening can merge
    further; modularity must never decrease across levels (guarded)."""
    pairs = [(1, 2), (3, 4), (5, 6), (7, 8)]
    edges = [(a, b, 20.0) for a, b in pairs]
    ring = [(2, 3, 3.0), (4, 5, 3.0), (6, 7, 3.0), (8, 1, 3.0)]
    df = undirected(
        pytest.importorskip("pyspark").sql.SparkSession.getActiveSession().createDataFrame(
            edges + ring, "src LONG, dst LONG, weight DOUBLE"
        )
    )
    comm, q = louvain(df)
    got = {r["node_id"]: r["community"] for r in comm.collect()}
    # every tight pair must land in one community
    for a, b in pairs:
        assert got[a] == got[b]
    assert q > 0.3


# --- distributed sweep: semantics, job budget, storage, input passes --------


def _replica_local_move(edges, parity, max_sweeps):
    """Plain-Python replica of ``plans.louvain._local_move``: synchronous
    red/black sweeps (node parity = Spark's ``pmod(hash(id), 2)``), gain
    k_i→c − deg_i·(tot_c − [c = c_own]·deg_i)/2m over the node's neighbour
    communities, ties to the smallest c, stop after two stale half-sweeps.
    ``tot`` is summed in ascending node order and 2m exactly rounded, as
    the driver-held label table does. Returns ({node: community}, number
    of equal-gain ties seen)."""
    import math

    nbrs: dict[int, list[tuple[int, float]]] = {}
    for s, d, w in edges:
        nbrs.setdefault(s, []).append((d, w))
    deg = {i: sum(w for _, w in nbrs[i]) for i in nbrs}
    m2 = math.fsum(deg.values())
    comm = {i: i for i in nbrs}
    ties = 0
    stale = 0
    for sweep in range(max_sweeps):
        tot: dict[int, float] = {}
        for i in sorted(comm):
            tot[comm[i]] = tot.get(comm[i], 0.0) + deg[i]
        new = dict(comm)
        changed = 0
        for i in nbrs:
            if parity[i] != sweep % 2:
                continue
            k_ic: dict[int, float] = {}
            for d, w in nbrs[i]:
                k_ic[comm[d]] = k_ic.get(comm[d], 0.0) + w
            own = comm[i]
            gains = {
                c: k - deg[i] * (tot[c] - (deg[i] if c == own else 0.0)) / m2
                for c, k in k_ic.items()
            }
            best = max(gains.values())
            top = sorted(c for c, g in gains.items() if g == best)
            ties += len(top) > 1
            new[i] = top[0]
            changed += top[0] != own
        comm = new
        if changed == 0:
            stale += 1
            if stale >= 2:
                break
        else:
            stale = 0
    return comm, ties


def _seeded_graph(seed, n, p, weights):
    import random

    rng = random.Random(seed)
    und = {}
    for i in range(n):
        und[(i, (i + 1) % n)] = rng.choice(weights)  # a ring keeps it connected
        for j in range(i + 2, n):
            if rng.random() < p:
                und[(i, j)] = rng.choice(weights)
    return [(s, d, float(w)) for (a, b), w in und.items() for s, d in ((a, b), (b, a))]


def _run_local_move(spark, rows, n, max_sweeps):
    """``_local_move`` on ``rows`` against the replica: (got, want, ties,
    whether the labels were driver-held)."""
    from graph_database_application_for_recommendations_spark.plans import cache_wide
    from graph_database_application_for_recommendations_spark.plans.louvain import _local_move

    edges = spark.createDataFrame(rows, "src LONG, dst LONG, weight DOUBLE")
    parity = {
        r["id"]: r["parity"]
        for r in spark.createDataFrame([(i,) for i in range(n)], "id LONG")
        .select("id", F.pmod(F.hash("id"), F.lit(2)).alias("parity"))
        .collect()
    }
    want, ties = _replica_local_move(rows, parity, max_sweeps)
    wide = cache_wide(edges, spark.sparkContext.defaultParallelism, "src")
    labels = _local_move(wide, max_sweeps)
    got = {r["node_id"]: r["community"] for r in labels.frame.collect()}
    wide.unpersist(blocking=False)
    return got, want, ties, labels.node_id is not None


_INTEGER_GRAPHS = [
    (7, 60, 0.08, [1, 2, 3, 5], 6, False),
    # unit weights on a sparse graph: equal degrees everywhere, so many
    # nodes see several neighbour communities with the same gain
    (11, 48, 0.03, [1], 8, True),
]


@pytest.mark.parametrize(
    "seed, n, p, weights, max_sweeps, has_ties",
    _INTEGER_GRAPHS + [
        # non-integer weights: sums are inexact, so the result depends on
        # the order tot is summed in (ascending node ids on the driver)
        (5, 60, 0.06, [0.1, 0.7, 1.3], 8, False),
    ],
)
def test_local_move_matches_python_replica(spark, seed, n, p, weights, max_sweeps, has_ties):
    """The distributed sweep loop with its label table on the driver (every
    test graph is under the node-vector gate) is the replica, bit for bit,
    ties included."""
    got, want, ties, on_driver = _run_local_move(
        spark, _seeded_graph(seed, n, p, weights), n, max_sweeps
    )
    if has_ties:
        assert ties > 0
    assert on_driver
    assert got == want


@pytest.mark.parametrize("seed, n, p, weights, max_sweeps, has_ties", _INTEGER_GRAPHS)
def test_local_move_over_gate_matches_python_replica(
    spark, monkeypatch, seed, n, p, weights, max_sweeps, has_ties
):
    """The same replica pins the over-gate owner, forced by a zero byte
    budget: one checkpointed label table per sweep, shuffle joins. Its
    window sums ``tot`` in no fixed order, so it is pinned on integer
    weights, where every sum is exact."""
    from graph_database_application_for_recommendations_spark import plans

    monkeypatch.setattr(plans, "NODE_VECTOR_BUDGET_BYTES", 0)
    got, want, ties, on_driver = _run_local_move(
        spark, _seeded_graph(seed, n, p, weights), n, max_sweeps
    )
    if has_ties:
        assert ties > 0
    assert not on_driver
    assert got == want


def test_local_move_sweep_job_budget(spark):
    """One more sweep of the distributed local move costs at most 3 Spark
    jobs: the driver-held label table is broadcast to both lookups and
    only the movers come back, so there is no window, checkpoint or move
    count."""
    from graph_database_application_for_recommendations_spark.operators.corating import (
        corating_edges,
    )
    from graph_database_application_for_recommendations_spark.plans import cache_wide
    from graph_database_application_for_recommendations_spark.plans.louvain import _local_move
    from graph_database_application_for_recommendations_spark.sources.views import load_ref_tables

    from .conftest import SF_SMALL, jobs_in_group

    co = corating_edges(load_ref_tables(spark, SF_SMALL).ratings).select(
        F.col("u1").alias("src"), F.col("u2").alias("dst"),
        F.col("weight").cast("double").alias("weight"),
    )
    edges = cache_wide(co, spark.sparkContext.defaultParallelism, "src")
    two, jobs_two = jobs_in_group(spark, "louvain-2-sweeps", lambda: _local_move(edges, 2))
    three, jobs_three = jobs_in_group(spark, "louvain-3-sweeps", lambda: _local_move(edges, 3))
    # the third sweep really ran and moved nodes
    assert set(two.frame.collect()) != set(three.frame.collect())
    edges.unpersist(blocking=False)
    assert jobs_three - jobs_two <= 3


def test_louvain_q_from_coarse_graph_matches_modularity(spark):
    """The Q a distributed level reads off its coarse graph is the
    modularity of the returned partition over the input edges, also on
    non-integer weights (where the two sum in different orders)."""
    rows = _seeded_graph(3, 80, 0.05, [0.1, 0.7, 1.3])
    edges = spark.createDataFrame(rows, "src LONG, dst LONG, weight DOUBLE")
    for threshold in (0, len(rows) - 1):
        comm, q = louvain(edges, local_threshold=threshold)
        assert q == pytest.approx(modularity(edges, comm), abs=1e-12)


def test_louvain_label_owners_agree(spark, monkeypatch):
    """A fully distributed run gives the same partition and Q whether the
    labels live on the driver at every level, in Spark at every level (a
    zero byte budget), or in Spark at level 0 and on the driver after
    coarsening (a budget of |V₀| rows: the level-1 labels then compose
    into a Spark-held mapping)."""
    from graph_database_application_for_recommendations_spark import plans

    n = 48
    edges = spark.createDataFrame(
        _seeded_graph(11, n, 0.03, [1]), "src LONG, dst LONG, weight DOUBLE"
    )

    def run():
        comm, q = louvain(edges, max_levels=2, local_threshold=0)
        groups: dict[int, set[int]] = {}
        for r in comm.collect():
            groups.setdefault(r["community"], set()).add(r["node_id"])
        return sorted(map(sorted, groups.values())), q

    want, q_want = run()
    for budget in (0, 24 * n):
        monkeypatch.setattr(plans, "NODE_VECTOR_BUDGET_BYTES", budget)
        got, q = run()
        assert got == want
        assert q == pytest.approx(q_want, abs=1e-12)


def test_louvain_distributed_releases_all_but_result(spark, three_cliques):
    """After a fully distributed run, executor storage holds nothing Louvain
    created except the checkpoint the returned frame reads."""
    import time

    jsc = spark.sparkContext._jsc.sc()

    def held():
        return {i.id() for i in jsc.getRDDStorageInfo()}

    before = held()
    comm, _ = louvain(three_cliques, local_threshold=0)
    comm.collect()
    leaves = comm._jdf.queryExecution().analyzed().collectLeaves()
    result_rdds = {
        leaves.apply(i).rdd().id()
        for i in range(leaves.size())
        if leaves.apply(i).getClass().getName().endswith(".LogicalRDD")
    }
    # unpersist(blocking=False) is asynchronous: give the removals a moment
    deadline = time.monotonic() + 10
    while held() - before != result_rdds and time.monotonic() < deadline:
        time.sleep(0.2)
    assert len(result_rdds) == 1
    assert held() - before == result_rdds


def test_louvain_local_path_reads_input_once(spark, three_cliques):
    """A driver-sized input takes the local path after one evaluation of
    its upstream plan: the gate count and the collect share one cache."""
    acc = spark.sparkContext.accumulator(0)

    def seen(_):
        acc.add(1)
        return True

    probe = F.udf(seen, "boolean")
    n = three_cliques.count()
    comm, q = louvain(three_cliques.filter(probe("src")))
    assert comm.count() == 12 and q > 0.6
    assert acc.value == n
