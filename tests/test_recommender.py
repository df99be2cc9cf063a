"""Serving by key: the recommenders' driver-held tables answer like the
per-request Spark plans they replace.

Under the node-vector gate a recommender collects its node tables once and
answers on the driver, reading only the ratings it needs with one Spark
job; ``plans.NODE_VECTOR_BUDGET_BYTES = 0`` forces every call onto its
Spark plan. Both must give the same ``list[dict]``: same rows, order, key
order and plain Python value types.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graph_database_application_for_recommendations_spark import plans
from graph_database_application_for_recommendations_spark.operators import recommend
from graph_database_application_for_recommendations_spark.operators.serving import driver_table
from graph_database_application_for_recommendations_spark.plans.pipeline import run_pipeline
from graph_database_application_for_recommendations_spark.recommender import (
    CommunityRecommender,
    KnnRecommender,
    _records,
)
from graph_database_application_for_recommendations_spark.sources.views import load_ref_tables

from .conftest import SF_SMALL, jobs_in_group

ABSENT = 10**6  # a user id no table holds
LOOKUPS = ("recommend_books", "get_similar_users")


@pytest.fixture(scope="module")
def served(spark):
    """Driver and Spark recommenders over one sf0.001 pipeline whose tables
    leave two users without neighbours and two without a community."""
    pipe = run_pipeline(spark, SF_SMALL, knn_cutoff=0.6)
    ref = pipe.ref
    users = sorted(r.user_id for r in ref.users.select("user_id").collect())
    no_nbrs, no_comm = users[:2], users[2:4]
    sim = pipe.similar_to.filter(~F.col("src").isin(no_nbrs))
    comm = pipe.communities.filter(~F.col("user_id").isin(no_comm))
    driver = {"knn": KnnRecommender(ref, sim), "community": CommunityRecommender(ref, comm)}
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(plans, "NODE_VECTOR_BUDGET_BYTES", 0)
        over = load_ref_tables(spark, SF_SMALL)  # gates its own driver_held
        on_spark = {"knn": KnnRecommender(over, sim), "community": CommunityRecommender(over, comm)}
    return {"ref": ref, "sim": sim, "comm": comm, "users": users, "no_nbrs": no_nbrs,
            "no_comm": no_comm, "driver": driver, "spark": on_spark}


def _shape(rows: list[dict]) -> list:
    """Key order and value types of each row."""
    return [[(k, type(v)) for k, v in r.items()] for r in rows]


def _assert_same(got: list[dict], want: list[dict], what: str) -> None:
    assert got == want, what
    assert _shape(got) == _shape(want), what
    for r in got:
        assert all(v is None or type(v) in (int, float, str) for v in r.values()), (what, r)


def _null_age_users(served) -> list[int]:
    """Users whose similar users (either algorithm) include a NULL age,
    found from the driver answers, which run no job."""
    return [
        u for u in served["users"]
        if any(r["age"] is None for algo in ("knn", "community")
               for r in served["driver"][algo].get_similar_users(u))
    ]


def _compare_lookups(served, users) -> None:
    for algo in ("knn", "community"):
        for method in LOOKUPS:
            for u in users:
                got = getattr(served["driver"][algo], method)(u)
                want = getattr(served["spark"][algo], method)(u)
                _assert_same(got, want, f"{algo}.{method}({u})")


def test_lookups_match_spark_plans_on_edge_users(served):
    """The edge cases, in the fast core: users with no neighbours, with no
    community, whose answers hold a NULL age, and an absent id."""
    null_age = _null_age_users(served)
    assert null_age, "no answer holds a NULL age: the sample misses that case"
    for u in served["no_nbrs"]:
        assert served["driver"]["knn"].get_similar_users(u) == []
    for u in served["no_comm"]:
        assert served["driver"]["community"].recommend_books(u) == []
    _compare_lookups(served, [served["no_nbrs"][0], served["no_comm"][0], null_age[0], ABSENT])


def test_lookups_match_spark_plans_for_every_user(served):
    _compare_lookups(served, served["users"] + [ABSENT])


def test_graph_data_matches_spark_plans(served):
    """get_graph_data over driver-held neighbours / members: the Spark
    branch's rows (as a multiset; neither plan orders them)."""
    for algo in ("knn", "community"):
        for u in (served["no_nbrs"][0], served["no_comm"][0], served["users"][4], ABSENT):
            got = served["driver"][algo].get_graph_data(u)
            want = served["spark"][algo].get_graph_data(u)
            key = lambda r: [(v is None, v) for v in r.values()]  # noqa: E731
            _assert_same(sorted(got, key=key), sorted(want, key=key), f"{algo}.graph({u})")


def test_user_picker_matches_community_members(served):
    got = served["driver"]["community"].users_in_large_communities()
    _assert_same(got, served["spark"]["community"].users_in_large_communities(), "picker")
    assert got and all(type(r["size"]) is int for r in got)
    assert not {r["userId"] for r in got} & set(served["no_comm"])


def test_knn_avg_rating_rounds_half_up_like_spark(spark):
    """128 neighbours rating one book 127 x 5 and 1 x 6: avg 5.0078125, an
    exact tie at the 7th decimal. Spark's round(avg, 6) is HALF_UP on the
    decimal form; Python's round() would give 5.007812."""
    n = 128
    sim = spark.createDataFrame([(0, d, 1.0) for d in range(1, n + 1)],
                                "src bigint, dst bigint, similarity double")
    ratings = spark.createDataFrame([(d, "b1", 6 if d == 1 else 5) for d in range(1, n + 1)],
                                    "user_id bigint, isbn string, rating int")
    books = spark.createDataFrame([("b1", "t", "a")], "isbn string, title string, author string")
    want = _records(recommend.recommend_books_knn(sim, ratings, books, 0))
    got = _records(recommend.recommend_books_knn(
        driver_table(sim, "src", "dst"), ratings, driver_table(books, "isbn"), 0))
    _assert_same(got, want, "half-up tie")
    assert want == [{"title": "t", "author": "a", "avgRating": 5.007813, "votes": n}]
    assert round(641 / n, 6) == 5.007812


def test_driver_table_refuses_at_the_gate(spark, monkeypatch):
    """A table of n rows at w bytes a row fits iff n * w < budget. The gate
    reads the row count first: a refused table is never collected."""
    df = spark.createDataFrame([(9 - i, i) for i in range(10)], "a bigint, b int")
    width = plans.row_width(df)
    monkeypatch.setattr(plans, "NODE_VECTOR_BUDGET_BYTES", 10 * width)
    collects = []
    monkeypatch.setattr(type(df), "toPandas", lambda self: collects.append(self))
    assert driver_table(df, "a") is None
    assert collects == []
    monkeypatch.undo()
    monkeypatch.setattr(plans, "NODE_VECTOR_BUDGET_BYTES", 10 * width + 1)
    assert driver_table(df, "a")["a"].tolist() == list(range(10))


def test_serving_job_budgets(spark, served):
    """Building both recommenders over one RefTables counts and collects
    each of its four node tables once, a job each; get_similar_users and
    the picker run no job, recommend_books and get_graph_data one, the
    read of the ratings. Forced over the gate, a lookup runs its Spark
    plan again."""
    sim, comm = served["sim"], served["comm"]
    ref = load_ref_tables(spark, SF_SMALL)
    ref.books, ref.users, ref.ratings  # their parquet schema reads: not the calls' jobs

    def build():
        return {"knn": KnnRecommender(ref, sim), "community": CommunityRecommender(ref, comm)}

    recs, jobs = jobs_in_group(spark, "build-recommenders", build)
    assert jobs <= 8
    u = served["users"][5]
    for algo, rec in recs.items():
        _, jobs = jobs_in_group(spark, f"{algo}.similar", lambda: rec.get_similar_users(u))
        assert jobs == 0, algo
        for method in ("recommend_books", "get_graph_data"):
            _, jobs = jobs_in_group(spark, f"{algo}.{method}", lambda: getattr(rec, method)(u))
            assert jobs == 1, (algo, method)
    _, jobs = jobs_in_group(spark, "picker", recs["community"].users_in_large_communities)
    assert jobs == 0
    _, jobs = jobs_in_group(spark, "spark-lookup",
                            lambda: served["spark"]["knn"].recommend_books(u))
    assert jobs > 0
