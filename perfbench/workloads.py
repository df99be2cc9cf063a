"""The benchmark workloads and their output checks.

- ``precompute``: the reference's offline GDS run (``Alg_KNN_FastRP.py`` +
  ``Alg_Community_Detection.py``) through ``plans.pipeline.run_pipeline``
  with the default size gates, so FastRP, KNN and Louvain take their
  driver-local numpy paths. ``serve`` runs this chain as its set-up, so
  ``BENCHMARK.json`` lists only the other two; it stays runnable alone.
- ``precompute_dist``: the same stage chain built from public functions with
  every size gate forced to its distributed branch -- the code that runs at
  cluster scale. Dominated by per-job and per-stage overhead. Its iteration
  runs without a warm-up: a batch job starts a fresh driver JVM each time,
  so its users pay the JIT compilation of every run too.
- ``serve``: one closed-loop client (the app user) viewing recommendation
  pages over a precomputed pipeline. A page view is the six calls
  ``demo.py``'s ``serve_request`` makes for one user with both algorithms:
  ``recommend_books``, ``get_similar_users`` and ``get_graph_data`` on the
  KNN and then the community recommender. Users are drawn uniformly from the
  app's user picker, ``CommunityRecommender.users_in_large_communities``
  (the reference ``streamlit_app.py:15-30`` list); the share of page views
  whose user has KNN neighbours is measured, not chosen.

Each batch iteration and each page view is timed from outside, around
calls to the engine's public functions. With tracing on, each layer call is
wrapped in a span (see ``spans.py``), and a batch workload also serves one
traced page view over its last iteration's tables, so every layer is
measured on every workload. Output checks run outside the timed region; a
failed check is reported, never raised.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_database_application_for_recommendations_spark.operators import recommend
from graph_database_application_for_recommendations_spark.operators.corating import corating_edges
from graph_database_application_for_recommendations_spark.operators.knn import (
    knn_exact_local_arrays,
    knn_ivf,
)
from graph_database_application_for_recommendations_spark.plans.fastrp import (
    fastrp,
    user_embeddings_from_fastrp,
)
from graph_database_application_for_recommendations_spark.plans.graphs import bipartite_rating_graph
from graph_database_application_for_recommendations_spark.plans.louvain import louvain
from graph_database_application_for_recommendations_spark.plans.pipeline import (
    PipelineResult,
    run_pipeline,
)
from graph_database_application_for_recommendations_spark.recommender import (
    CommunityRecommender,
    KnnRecommender,
    get_recommender,
)
from graph_database_application_for_recommendations_spark.sources.views import load_ref_tables

import datagen
from spans import JobCounter, Span, Tracer, peak_rss_mb, reset_peak_rss, tree_cpu_s

TOP_K = 20
CUTOFF = 0.6  # the cutoff get_recommender's own pipeline uses
K = 3  # recommender default: rows per recommend / similar-users response
SETUP_REPS = 3
SERVE_MIN_REQUESTS = 48  # 8 page views; 10 samples beyond p80
WARMUP_VIEWS = 1  # untimed: the first plan of each request type compiles slowly

BATCH_SF = {"precompute": 0.01, "precompute_dist": 0.002}
SERVE_SF = 0.001
SMOKE_SF = 0.001

SPAN_NAMES = ("sources.ratings", "plans.fastrp", "operators.knn", "plans.louvain",
              "sources.write_back")

# serve request type -> (recommender, method, the operators.recommend builder
# the method calls)
REQUESTS = {
    "serve.knn.recommend_books": ("knn", "recommend_books", "recommend_books_knn"),
    "serve.knn.get_similar_users": ("knn", "get_similar_users", "similar_users_knn"),
    "serve.knn.get_graph_data": ("knn", "get_graph_data", "graph_data_knn"),
    "serve.community.recommend_books": ("community", "recommend_books", "recommend_books_community"),
    "serve.community.get_similar_users": ("community", "get_similar_users", "similar_users_community"),
    "serve.community.get_graph_data": ("community", "get_graph_data", "graph_data_community"),
}


@dataclass
class Outcome:
    """Raw samples of one run; ``run.py`` turns them into metrics."""

    sf: float
    setup_s: list[float] = field(default_factory=list)
    run_s: list[float] = field(default_factory=list)  # per batch iteration / page view
    cpu_s: list[float] = field(default_factory=list)
    jobs: list[int] = field(default_factory=list)
    latency_ms: list[float] = field(default_factory=list)  # per request
    peak_rss_mb: list[float] = field(default_factory=list)
    residue_mb: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    modularity: float = float("nan")
    knn_recall: float = float("nan")
    knn_nonempty_share: float | None = None  # serve: page views whose user has KNN neighbours
    check_failures: list[str] = field(default_factory=list)
    spans: list[Span] = field(default_factory=list)
    requests: list[dict] = field(default_factory=list)  # traced page-view requests
    digest: str | None = None


class Context:
    """One Spark session, one work directory, one seed."""

    def __init__(self, spark, work_dir: str, seed: int, sf: float, trace: bool):
        self.spark = spark
        self.seed = seed
        self.sf = sf
        self.jobs = JobCounter(spark)
        self.tracer = Tracer(self.jobs, trace)
        self.inputs_dir = os.path.join(work_dir, "inputs")
        self.out_dir = os.path.join(work_dir, "out")
        self.tables = datagen.make_tables(sf, seed)
        self.expected = Expected(self.tables)

    def write_inputs(self) -> None:
        datagen.write_star(self.inputs_dir, self.sf, self.seed)

    def release(self) -> None:
        """Run isolation: drop every cached table and the write-back dir."""
        self.spark.catalog.clearCache()
        shutil.rmtree(self.out_dir, ignore_errors=True)


class Expected:
    """Reference-semantics tables computed with pandas from the generated
    inputs, independently of the engine (the SQL of ``sources/views.py``)."""

    def __init__(self, tables):
        li = tables["lineitem"].to_pandas()
        od = tables["orders"].to_pandas()
        raw = li.merge(od, left_on="l_orderkey", right_on="o_orderkey")
        raw["rating"] = np.floor(raw["l_quantity"]).astype(np.int64) % 11
        r = raw[raw["rating"] != 0].groupby(["o_custkey", "l_partkey"], as_index=False)["rating"].max()
        r.columns = ["user_id", "partkey", "rating"]
        r["isbn"] = r["partkey"].astype(str)
        self.ratings = r[["user_id", "isbn", "rating"]]
        part = tables["part"].to_pandas()
        self.books = pd.DataFrame({"isbn": part["p_partkey"].astype(str),
                                   "title": part["p_name"], "author": part["p_brand"]})
        self.user_ids = tables["customer"].column("c_custkey").to_numpy()
        self.rated = self.ratings.groupby("user_id")["isbn"].agg(set).to_dict()
        pos = self.ratings[self.ratings["rating"] >= 6]
        raters = pos.groupby("isbn")["user_id"].nunique()
        self.corating_users = set(pos[pos["isbn"].isin(raters[raters >= 2].index)]["user_id"])


# --- batch workloads --------------------------------------------------------


@dataclass
class Tables:
    embeddings: DataFrame
    similar_to: DataFrame
    communities: DataFrame
    modularity: float
    pipeline: PipelineResult | None = None


def _write_back(ctx: Context, tables: Tables, rows: int) -> None:
    # the out_dir branch of run_pipeline (plans/pipeline.py)
    with ctx.tracer.span("sources.write_back") as s:
        tables.embeddings.write.mode("overwrite").parquet(f"{ctx.out_dir}/embeddings_users.parquet")
        tables.similar_to.write.mode("overwrite").parquet(f"{ctx.out_dir}/similar_to.parquet")
        tables.communities.write.mode("overwrite").parquet(f"{ctx.out_dir}/communities.parquet")
        s.rows = rows


def pipeline_chain(ctx: Context) -> Tables:
    """run_pipeline, then read embeddings, similar_to and communities in
    that order, then write the three tables back."""
    tr = ctx.tracer
    if tr.enabled:
        # fills the plan-keyed ratings cache that run_pipeline then reuses,
        # so the join is attributed to the sources layer
        with tr.span("sources.ratings") as s:
            s.rows = load_ref_tables(ctx.spark, ctx.inputs_dir).ratings.count()
    res = run_pipeline(ctx.spark, ctx.inputs_dir, knn_cutoff=CUTOFF)
    with tr.span("plans.fastrp") as s:
        s.rows = n_emb = res.embeddings.count()
    with tr.span("operators.knn") as s:
        s.rows = n_sim = res.similar_to.count()
    with tr.span("plans.louvain") as s:
        s.rows = n_comm = res.communities.count()
    tables = Tables(res.embeddings, res.similar_to, res.communities, res.modularity, res)
    _write_back(ctx, tables, n_emb + n_sim + n_comm)
    return tables


def distributed_chain(ctx: Context) -> Tables:
    """The pipeline's stage chain with every size gate forced distributed."""
    tr = ctx.tracer
    ratings = load_ref_tables(ctx.spark, ctx.inputs_dir).ratings
    with tr.span("sources.ratings") as s:
        s.rows = ratings.count()
    with tr.span("plans.fastrp") as s:
        nodes, edges = bipartite_rating_graph(ratings)
        emb = user_embeddings_from_fastrp(fastrp(nodes, edges, local_max_edges=0)).cache()
        s.rows = n_emb = emb.count()
    with tr.span("operators.knn") as s:
        sim = knn_ivf(emb, id_col="user_id", vec_col="embedding", top_k=TOP_K, cutoff=CUTOFF).cache()
        s.rows = n_sim = sim.count()
    with tr.span("plans.louvain") as s:
        co = corating_edges(ratings).select(
            F.col("u1").alias("src"), F.col("u2").alias("dst"),
            F.col("weight").cast("double").alias("weight"),
        )
        # level 0 runs distributed; the coarsened levels, smaller by
        # construction, solve on the driver -- the shape louvain takes on
        # any input past its local gate
        nodes_comm, q = louvain(co, local_threshold=co.count() - 1)
        comm = nodes_comm.select(F.col("node_id").alias("user_id"), "community")
        s.rows = n_comm = comm.count()
    tables = Tables(emb, sim, comm, q)
    _write_back(ctx, tables, n_emb + n_sim + n_comm)
    return tables


CHAINS = {"precompute": pipeline_chain, "precompute_dist": distributed_chain}


def _setup_sources(ctx: Context) -> None:
    """Batch set-up: write the seeded inputs, open the reference-shaped
    source views and build the chain's two input graphs (the bipartite
    rating graph and the co-rating edges)."""
    ctx.write_inputs()
    ref = load_ref_tables(ctx.spark, ctx.inputs_dir)
    ratings = ref.ratings
    for df in (ref.users, ref.books, ratings, bipartite_rating_graph(ratings)[1],
               corating_edges(ratings)):
        df.count()
    ctx.release()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def run_batch(ctx: Context, name: str, seconds: float) -> Outcome:
    chain = CHAINS[name]
    out = Outcome(sf=ctx.sf)
    out.setup_s = [_timed(lambda: _setup_sources(ctx)) for _ in range(SETUP_REPS)]
    deadline = time.perf_counter() + seconds
    while not out.run_s or time.perf_counter() < deadline:
        before = ctx.jobs.storage_mb()
        reset_peak_rss()
        spans_before = len(ctx.tracer.spans)
        group = ctx.jobs.open_group(f"{name}.iteration")
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        out.attempted += 1
        try:
            tables = chain(ctx)
        except Exception as exc:  # a failed operation is counted, not raised
            out.failed += 1
            out.check_failures.append(f"{name} iteration failed: {exc!r}")
            ctx.jobs.close_group()
            ctx.release()
            break
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        ctx.jobs.close_group()
        out.run_s.append(wall)
        out.latency_ms.append(wall * 1e3)
        out.cpu_s.append(cpu)
        out.peak_rss_mb.append(peak_rss_mb())
        iteration_spans = ctx.tracer.spans[spans_before:]
        out.jobs.append(len(ctx.jobs.job_ids(group)) + sum(s.jobs for s in iteration_spans))
        out.residue_mb.append(ctx.jobs.storage_mb() - before)
        if time.perf_counter() >= deadline:
            check_batch(ctx, tables, out)
            if ctx.tracer.enabled:
                traced_page_view(ctx, tables, out)
        ctx.release()
    out.spans = ctx.tracer.spans
    return out


def check_batch(ctx: Context, tables: Tables, out: Outcome) -> None:
    """similar_to and community invariants, modularity and KNN recall."""
    fail = out.check_failures.append
    sim = tables.similar_to.toPandas()
    if sim.empty:
        fail("similar_to is empty")
    if (sim["src"] == sim["dst"]).any():
        fail("similar_to has self-pairs")
    if (sim["similarity"] < CUTOFF).any():
        fail(f"similar_to has similarity below the cutoff {CUTOFF}")
    if not sim.empty and sim.groupby("src").size().max() > TOP_K:
        fail(f"similar_to has more than {TOP_K} rows for some src")
    comm = tables.communities.toPandas()
    missing = ctx.expected.corating_users - set(comm["user_id"])
    if missing:
        fail(f"{len(missing)} co-rating users have no community")
    out.modularity = float(tables.modularity)
    if not out.modularity > 0:
        fail(f"modularity {out.modularity} is not positive")
    out.knn_recall = knn_recall(ctx, tables.embeddings, sim)


def knn_recall(ctx: Context, embeddings: DataFrame, sim: pd.DataFrame) -> float:
    """Recall@TOP_K of ``sim`` against the exact kernel on the same vectors."""
    emb = embeddings.toPandas().sort_values("user_id", ignore_index=True)
    exact = knn_exact_local_arrays(
        ctx.spark, emb["user_id"].to_numpy(), np.stack(emb["embedding"].to_numpy()),
        "bigint", top_k=TOP_K, cutoff=CUTOFF,
    ).toPandas()
    if exact.empty:
        return 1.0
    hit = exact.merge(sim[["src", "dst"]], on=["src", "dst"]).shape[0]
    return hit / len(exact)


# --- serve ------------------------------------------------------------------


def _user_stream(seed: int, picker: np.ndarray):
    rng = np.random.default_rng(seed)
    while True:
        yield int(picker[rng.integers(len(picker))])


def _picker(recs: dict) -> np.ndarray:
    """The users the app lets one pick: members of communities of size > 1."""
    users = np.unique([r["userId"] for r in recs["community"].users_in_large_communities()])
    if not len(users):
        raise RuntimeError("the app's user picker is empty")
    return users


def _canonical(rows: list[dict]) -> list[str]:
    return sorted(json.dumps(r, sort_keys=True, default=str) for r in rows)


@contextmanager
def _timed_builders(plan_s: list[float]):
    """Time each ``operators.recommend`` builder a recommender method calls:
    the methods look the builders up on the module at call time."""
    saved = {builder: getattr(recommend, builder) for _, _, builder in REQUESTS.values()}

    def timed(fn):
        def call(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                plan_s.append(time.perf_counter() - t0)
        return call

    for builder, fn in saved.items():
        setattr(recommend, builder, timed(fn))
    try:
        yield
    finally:
        for builder, fn in saved.items():
            setattr(recommend, builder, fn)


def send(ctx: Context, recs: dict, out: Outcome, name: str, user: int) -> list[dict]:
    """One recommender call. Traced, it runs in a span of its own, and its
    time splits into building the DataFrame (``plan_ms``) and the rest of
    the call, the collect (``exec_ms``)."""
    algo, method, _ = REQUESTS[name]
    call = getattr(recs[algo], method)
    if not ctx.tracer.enabled:
        return call(user)
    plan_s: list[float] = []
    with _timed_builders(plan_s), ctx.tracer.span(name) as s:
        t0 = time.perf_counter()
        rows = call(user)
        total = time.perf_counter() - t0
    out.requests.append({"name": name, "plan_ms": plan_s[0] * 1e3,
                         "exec_ms": (total - plan_s[0]) * 1e3,
                         "jobs": s.jobs, "stages": s.stages})
    return rows


def traced_page_view(ctx: Context, tables: Tables, out: Outcome) -> None:
    """One traced page view over a batch iteration's tables, with its
    responses checked; it adds to no end-to-end sample."""
    ref = load_ref_tables(ctx.spark, ctx.inputs_dir)
    recs = {"knn": KnnRecommender(ref, tables.similar_to, K),
            "community": CommunityRecommender(ref, tables.communities, K)}
    try:
        check = serve_checker(ctx, tables.communities, tables.similar_to.toPandas())
        user = next(_user_stream(ctx.seed, _picker(recs)))
        for name in REQUESTS:
            problem = check(name, user, send(ctx, recs, out, name, user))
            if problem:
                out.check_failures.append(f"{name}({user}): {problem}")
    except Exception as exc:
        out.check_failures.append(f"traced page view failed: {exc!r}")


def run_serve(ctx: Context, seconds: float, min_requests: int) -> Outcome:
    out = Outcome(sf=ctx.sf)
    recs: dict = {}
    state: dict = {}

    def setup(last: bool):
        # the precompute chain, then both recommenders over its result; a
        # traced run traces the last repetition, whose state is served
        ctx.release()
        state["before"] = ctx.jobs.storage_mb()
        ctx.write_inputs()
        with ctx.tracer.paused(not last):
            state["tables"] = pipeline_chain(ctx)
        for algo in ("knn", "community"):
            recs[algo] = get_recommender(ctx.spark, ctx.inputs_dir, algo,
                                         pipeline=state["tables"].pipeline, k=K)

    out.setup_s = [_timed(lambda: setup(i == SETUP_REPS - 1)) for i in range(SETUP_REPS)]
    sim_pd = recs["knn"].similar_to.toPandas()
    picker = _picker(recs)
    users = _user_stream(ctx.seed, picker)

    with ctx.tracer.paused():
        warm_users = _user_stream(ctx.seed + 1, picker)
        for _ in range(WARMUP_VIEWS):
            user = next(warm_users)
            for name in REQUESTS:
                send(ctx, recs, out, name, user)

    # Responses are checked and digested after each page view, outside its
    # timed region, and then dropped: kept, they would grow the driver heap
    # (and the cost of each garbage collection) from view to view.
    check = serve_checker(ctx, state["tables"].communities, sim_pd)
    knn_users = set(sim_pd["src"])
    with_neighbours = 0
    digest, digested = hashlib.sha256(), 0
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or out.attempted < min_requests:
        user = next(users)
        responses: list[tuple[str, list[dict]]] = []
        reset_peak_rss()
        group = ctx.jobs.open_group("serve.page_view")
        cpu0 = tree_cpu_s()
        s0 = time.perf_counter()
        spans_before = len(ctx.tracer.spans)
        for name in REQUESTS:
            out.attempted += 1
            t0 = time.perf_counter()
            try:
                rows = send(ctx, recs, out, name, user)
            except Exception as exc:  # a failed request is counted, not raised
                out.failed += 1
                out.check_failures.append(f"{name}({user}) failed: {exc!r}")
                continue
            out.latency_ms.append((time.perf_counter() - t0) * 1e3)
            responses.append((name, rows))
        out.run_s.append(time.perf_counter() - s0)
        out.cpu_s.append(tree_cpu_s() - cpu0)
        out.peak_rss_mb.append(peak_rss_mb())
        ctx.jobs.close_group()
        out.jobs.append(len(ctx.jobs.job_ids(group))
                        + sum(s.jobs for s in ctx.tracer.spans[spans_before:]))
        with_neighbours += user in knn_users
        for name, rows in responses:
            problem = check(name, user, rows)
            if problem:
                out.check_failures.append(f"{name}({user}): {problem}")
            if digested < min_requests:  # equal across runs with the same seed
                digest.update(json.dumps([name, user, _canonical(rows)]).encode())
                digested += 1
    out.residue_mb.append(ctx.jobs.storage_mb() - state["before"])
    out.spans = ctx.tracer.spans
    out.digest = digest.hexdigest()
    out.knn_nonempty_share = with_neighbours / len(out.run_s)
    check_batch(ctx, state["tables"], out)
    ctx.release()
    return out


def serve_checker(ctx: Context, communities: DataFrame, sim_pd: pd.DataFrame):
    """A check of one response against the reference semantics, with pandas
    oracles: ``check(name, user, rows)`` returns the problem found, or None."""
    exp = ctx.expected
    comm = communities.toPandas()
    community_of = dict(zip(comm["user_id"], comm["community"]))
    members = comm.groupby("community")["user_id"].agg(lambda s: sorted(s)).to_dict()
    sims = {src: g.sort_values(["similarity", "dst"], ascending=[False, True])
            for src, g in sim_pd.groupby("src")}
    books_of = exp.ratings.merge(exp.books, on="isbn").groupby("user_id").size().to_dict()
    by_user = dict(tuple(exp.ratings.groupby("user_id")))

    def knn_recommend(user):
        nbrs = sims.get(user)
        if nbrs is None:
            return []
        cand = exp.ratings[exp.ratings["user_id"].isin(nbrs["dst"])]
        cand = cand[~cand["isbn"].isin(exp.rated.get(user, set()))]
        agg = cand.groupby("isbn")["rating"].agg(["mean", "size"]).reset_index()
        agg = agg.merge(exp.books, on="isbn")
        agg = agg.sort_values(["mean", "size", "isbn"], ascending=[False, False, True]).head(K)
        return [(t, a, m, v) for t, a, m, v in zip(agg["title"], agg["author"], agg["mean"], agg["size"])]

    def community_recommend(user):
        peers = [m for m in members.get(community_of.get(user), []) if m != user]
        pos = exp.ratings[(exp.ratings["rating"] >= 6) & exp.ratings["user_id"].isin(peers)]
        pos = pos[~pos["isbn"].isin(exp.rated.get(user, set()))].merge(exp.books, on="isbn")
        agg = pos.groupby(["title", "author"]).size().reset_index(name="n")
        agg = agg.sort_values(["n", "title", "author"], ascending=[False, True, True]).head(K)
        return [(t, a, n) for t, a, n in zip(agg["title"], agg["author"], agg["n"])]

    def check(name, user, rows) -> str | None:
        if name == "serve.knn.recommend_books":
            if len(rows) > K or any(not 1 <= r["avgRating"] <= 10 for r in rows):
                return "more than k rows or avgRating outside [1, 10]"
            got = [(r["title"], r["author"], r["avgRating"], r["votes"]) for r in rows]
            want = knn_recommend(user)
            if len(got) != len(want) or any(
                g[:2] != w[:2] or abs(g[2] - w[2]) > 1e-6 or g[3] != w[3] for g, w in zip(got, want)
            ):
                return f"got {got}, expected {want}"
        elif name == "serve.knn.get_similar_users":
            nbrs = sims.get(user)
            want = [] if nbrs is None else sorted(nbrs["dst"].head(K))
            if [r["userId"] for r in rows] != want:
                return f"similar users {[r['userId'] for r in rows]}, expected {want}"
        elif name == "serve.knn.get_graph_data":
            nbrs = sims.get(user)
            rated = exp.rated.get(user, set())
            dsts = [] if nbrs is None else list(nbrs["dst"])
            want = max(1, len(rated)) * (sum(max(1, books_of.get(d, 0)) for d in dsts) or 1)
            if any(r["target_id"] != user or (r["t_isbn"] is not None and r["t_isbn"] not in rated)
                   for r in rows) or len(rows) != want:
                return f"{len(rows)} graph rows, expected {want} for the target and its neighbours"
        elif name == "serve.community.recommend_books":
            got = [(r["title"], r["author"], r["recommendCount"]) for r in rows]
            if got != community_recommend(user):
                return f"got {got}, expected {community_recommend(user)}"
        elif name == "serve.community.get_similar_users":
            peers = [m for m in members.get(community_of.get(user), []) if m != user]
            if [r["userId"] for r in rows] != peers[:K]:
                return f"similar users {[r['userId'] for r in rows]}, expected {peers[:K]}"
        elif name == "serve.community.get_graph_data":
            group = members.get(community_of.get(user), [])
            want = sum(len(by_user[m]) for m in group if m in by_user)
            in_group = set(group)
            if len(rows) != want or any(r["userId"] not in in_group for r in rows):
                return f"{len(rows)} community graph rows, expected {want}"
        return None

    return check
