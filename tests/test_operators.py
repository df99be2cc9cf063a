"""Per-operator corner-case tests (SURVEY.md §5.2 / FIXTURES.md §C):
MERGE-upsert keep-last, '' -> NULL casts, undirected doubling, anti-join
null behavior, viz export, CSV round-trip, recommender facade."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graph_database_application_for_recommendations_spark.operators import etl, recommend
from graph_database_application_for_recommendations_spark.plans.graphs import undirected
from graph_database_application_for_recommendations_spark.sources import csv_io

from .conftest import SF_SMALL


def test_upsert_keep_last(spark):
    """S4: MERGE semantics — incoming wins on key collision (FIXTURES
    ratings_dup)."""
    existing = spark.createDataFrame(
        [(1, "a", 5), (2, "b", 7)], "user_id LONG, isbn STRING, rating INT"
    )
    incoming = spark.createDataFrame(
        [(1, "a", 9), (3, "c", 3)], "user_id LONG, isbn STRING, rating INT"
    )
    got = {
        (r["user_id"], r["isbn"]): r["rating"]
        for r in etl.upsert_keep_last(existing, incoming, ["user_id", "isbn"]).collect()
    }
    assert got == {(1, "a"): 9, (2, "b"): 7, (3, "c"): 3}


def test_duplicate_keys_detects_violations(spark):
    df = spark.createDataFrame([(1, "x"), (1, "y"), (2, "z")], "id LONG, v STRING")
    viol = etl.duplicate_keys(df, ["id"]).collect()
    assert len(viol) == 1 and viol[0]["id"] == 1 and viol[0]["count"] == 2


def test_undirected_doubling(spark):
    """U2 (FIXTURES edges_mini): every directed edge appears both ways."""
    e = spark.createDataFrame([(1, 2, 1.0), (2, 3, 2.0)], "src LONG, dst LONG, weight DOUBLE")
    got = {(r["src"], r["dst"], r["weight"]) for r in undirected(e).collect()}
    assert got == {(1, 2, 1.0), (2, 1, 1.0), (2, 3, 2.0), (3, 2, 2.0)}


def test_csv_age_empty_to_null(spark, tmp_path):
    """P6 (load_data.py:26): '' -> NULL, otherwise integer age."""
    p = tmp_path / "users.csv"
    p.write_text('User-ID,Location,Age\n1,berlin,33.0\n2,paris,\n3,"nyc, usa",19\n')
    rows = {r["user_id"]: r for r in csv_io.read_users_csv(spark, str(p)).collect()}
    assert rows[1]["age"] == 33
    assert rows[2]["age"] is None
    assert rows[3]["age"] == 19 and rows[3]["location"] == "nyc, usa"


def test_csv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "x", 5)], "user_id LONG, isbn STRING, rating INT")
    out = str(tmp_path / "out")
    csv_io.write_csv(df, out)
    back = spark.read.option("header", True).csv(out)
    assert back.count() == 1 and back.columns == ["user_id", "isbn", "rating"]


def test_corating_salted_equals_unsalted(spark):
    """J3 skew path: salting redistributes the join without changing the
    result."""
    from graph_database_application_for_recommendations_spark.operators.corating import (
        corating_edges,
    )

    rows = [(u, "b1", 8) for u in range(6)] + [(1, "b2", 9), (2, "b2", 7), (5, "b3", 6)]
    ratings = spark.createDataFrame(rows, "user_id LONG, isbn STRING, rating INT")
    plain = sorted(map(tuple, corating_edges(ratings).collect()))
    salted = sorted(map(tuple, corating_edges(ratings, salt=4).collect()))
    assert plain == salted and len(plain) > 0


def test_jsonl_roundtrip_batch_and_stream(spark, tmp_path):
    """JSONL sink -> batch source -> streaming source all agree."""
    from graph_database_application_for_recommendations_spark.sources import json_io
    from graph_database_application_for_recommendations_spark.sources.views import load_ref_tables
    from graph_database_application_for_recommendations_spark.streaming.events import run_to_memory

    docs = load_ref_tables(spark, SF_SMALL).documents
    path = str(tmp_path / "docs_jsonl")
    json_io.write_jsonl(docs, path)
    back = json_io.read_jsonl(spark, path, docs.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, docs.collect()))
    streamed = run_to_memory(
        json_io.read_jsonl_stream(spark, path, docs.schema).groupBy("lang").count(),
        "t_jsonl",
        "complete",
        str(tmp_path / "ck_jsonl"),
    )
    want = {(r["lang"], r["count"]) for r in docs.groupBy("lang").count().collect()}
    assert {(r["lang"], r["count"]) for r in streamed.collect()} == want


def test_rating_color_buckets():
    """P8 (recommender_community.py:101); a NULL rating falls through to
    green, as the reference's ``else`` does."""
    from graph_database_application_for_recommendations_spark.viz import _rating_color

    got = [_rating_color(r) for r in (1, 4, 5, 7, 8, 10, None)]
    assert got == ["red", "red", "yellow", "yellow", "green", "green", "green"]


def test_viz_export_shapes():
    """§2.9: nodes carry shape/color; edges carry rating thickness."""
    from graph_database_application_for_recommendations_spark.viz import viz_records

    gd = [
        {"userId": 1, "location": "loc", "age": 30, "isbn": "i1", "title": "t1",
         "author": "a1", "rating": 9},
        {"userId": 2, "location": "loc", "age": None, "isbn": "i1", "title": "t1",
         "author": "a1", "rating": 3},
    ]
    nodes, edges = viz_records(gd)
    n = {r["id"]: r for r in nodes}
    assert n["user_1"]["shape"] == "dot" and n["user_1"]["color"] is None
    # book node appears once per distinct color bucket of its ratings
    assert n["i1"]["shape"] == "box"
    assert {(r["src"], r["dst"], r["value"]) for r in edges} == {
        ("user_1", "i1", 9.0),
        ("user_2", "i1", 3.0),
    }


def _knn_row(target_id, t_isbn, t_title, t_rating, sim_id, similarity, s_isbn,
             s_title, s_rating):
    return dict(target_id=target_id, t_isbn=t_isbn, t_title=t_title,
                t_rating=t_rating, sim_id=sim_id, similarity=similarity,
                s_isbn=s_isbn, s_title=s_title, s_rating=s_rating)


def test_viz_export_knn_and_html_render(tmp_path):
    """§2.9 KNN neighborhood viz: user-user similarity edges carry the P9
    rescale 1+9*sim (recommender_knn.py:126); the HTML adapter emits a
    self-contained vis-network page with valid embedded JSON."""
    import json
    import re

    from graph_database_application_for_recommendations_spark.viz import (
        viz_records_knn,
        write_html,
    )

    gd = [
        _knn_row(1, "i1", "t1", 9, 2, 0.5, "i2", "t2", 3),
        _knn_row(1, "i1", "t1", 9, 3, 0.9, None, None, None),  # bookless similar user
    ]
    nodes, edges = viz_records_knn(gd)
    n = {r["id"]: r for r in nodes}
    assert n["user_3"]["shape"] == "dot"  # present despite having no books
    assert n["i1"]["color"] == "green" and n["i2"]["color"] == "red"
    e = {(r["src"], r["dst"]): r["value"] for r in edges}
    assert e[("user_1", "user_2")] == pytest.approx(1 + 0.5 * 9)
    assert e[("user_1", "user_3")] == pytest.approx(1 + 0.9 * 9)
    assert e[("user_1", "i1")] == 9.0 and e[("user_2", "i2")] == 3.0

    path = write_html(nodes, edges, str(tmp_path / "g.html"), title="t")
    html = open(path, encoding="utf-8").read()
    assert "vis-network" in html
    for blob in re.findall(r"vis\.DataSet\((.*?)\);", html):
        assert isinstance(json.loads(blob), list)  # embedded JSON is valid


def test_viz_records_match_spark_export():
    """A served page renders from the graph rows it already holds:
    ``viz_records`` / ``viz_records_knn`` give the node and edge multisets
    the reference's pyvis code adds (recommender_community.py:75-115,
    recommender_knn.py:82-159): one dot per user, one box per (book,
    colour bucket), a NULL rating as a green box with a NULL-valued edge,
    one rating edge per row (duplicate rows included), every similar user
    a dot even with no books, and user-user edges valued 1 + 9·similarity."""
    from collections import Counter

    from graph_database_application_for_recommendations_spark.viz import (
        viz_records,
        viz_records_knn,
    )

    def dot(u):
        return ("user_" + str(u), "User " + str(u), "dot", None)

    def multiset(dicts):
        return Counter(tuple(d.values()) for d in dicts)

    comm = [
        dict(userId=u, location="loc", age=a, isbn=i, title=t, author=au, rating=r)
        for u, a, i, t, au, r in [
            (1, 30, "i1", "t1", "a1", 9), (2, None, "i1", "t1", "a1", 3),
            (2, None, "i2", "t2", "a2", 6), (1, 30, "i2", "t2", "a2", 6),
            (1, 30, "i2", "t2", "a2", 6), (3, None, "i3", "t3", "a3", None),
        ]
    ]
    nodes, edges = viz_records(comm)
    assert multiset(nodes) == Counter([
        dot(1), dot(2), dot(3),
        ("i1", "t1", "box", "green"), ("i1", "t1", "box", "red"),
        ("i2", "t2", "box", "yellow"), ("i3", "t3", "box", "green"),
    ])
    assert multiset(edges) == Counter([
        ("user_1", "i1", 9.0), ("user_2", "i1", 3.0), ("user_2", "i2", 6.0),
        ("user_1", "i2", 6.0), ("user_1", "i2", 6.0), ("user_3", "i3", None),
    ])

    knn = [
        _knn_row(1, "i1", "t1", 9, 2, 0.5, "i2", "t2", 3),
        _knn_row(1, "i1", "t1", 9, 2, 0.5, "i1", "t1", 9),
        _knn_row(1, "i3", "t3", 5, 2, 0.5, "i2", "t2", 3),
        _knn_row(1, "i1", "t1", 9, 3, 0.9, None, None, None),
        _knn_row(4, None, None, None, None, None, None, None, None),
    ]
    nodes, edges = viz_records_knn(knn)
    assert multiset(nodes) == Counter([
        dot(1), dot(2), dot(3),
        ("i1", "t1", "box", "green"), ("i3", "t3", "box", "yellow"),
        ("i2", "t2", "box", "red"),
    ])
    # rating edges once per distinct (user, book, rating) row; user-user
    # edges once per similar user
    assert multiset(edges) == Counter([
        ("user_1", "i1", 9.0), ("user_1", "i3", 5.0), ("user_2", "i2", 3.0),
        ("user_2", "i1", 9.0),
        ("user_1", "user_2", 1.0 + 0.5 * 9), ("user_1", "user_3", 1.0 + 0.9 * 9),
    ])


def test_csv_etl_pipeline_end_to_end(spark, tmp_path):
    """EP2 (SURVEY §3): the reference's full ETL over Kaggle-shaped CSVs —
    filter implicit ratings, semi-join dims, FK-enforce edges — then serve
    a recommendation off the result."""
    from graph_database_application_for_recommendations_spark.operators.corating import (
        corating_edges,
    )
    from graph_database_application_for_recommendations_spark.operators.recommend import (
        recommend_books_community,
    )
    from graph_database_application_for_recommendations_spark.sources import csv_io

    (tmp_path / "Users.csv").write_text(
        "User-ID,Location,Age\n1,berlin,30\n2,paris,\n3,rome,41\n9,unused,50\n"
    )
    (tmp_path / "Books.csv").write_text(
        "ISBN,Book-Title,Book-Author,Year-Of-Publication,Publisher\n"
        "b1,T1,A1,1999,P\nb2,T2,A2,2001,P\nb3,T3,A3,2005,P\n"
    )
    (tmp_path / "Ratings.csv").write_text(
        "User-ID,ISBN,Book-Rating\n"
        "1,b1,8\n1,b2,0\n2,b1,9\n2,b2,7\n3,b1,6\n3,b3,10\n"
        "7,b1,9\n"  # user 7 doesn't exist -> FK join must drop it
        "1,missing,5\n"  # book doesn't exist -> dropped
    )
    from graph_database_application_for_recommendations_spark.operators import etl

    users = csv_io.read_users_csv(spark, str(tmp_path / "Users.csv"))
    books = csv_io.read_books_csv(spark, str(tmp_path / "Books.csv"))
    raw = csv_io.read_ratings_csv(spark, str(tmp_path / "Ratings.csv"))

    ratings = etl.filter_implicit_ratings(raw)  # P1: drops (1,b2,0)
    ratings = etl.fk_enforced_ratings(ratings, users, books)  # J9: drops user 7, book 'missing'
    assert ratings.count() == 5
    users_kept = etl.semijoin_users(users, ratings)  # J5: drops user 9
    assert {r["user_id"] for r in users_kept.collect()} == {1, 2, 3}

    co = corating_edges(ratings)  # b1 rated >=6 by 1,2,3 -> all pairs
    assert co.filter("u1 = 1 AND u2 = 2").collect()[0]["weight"] == 1

    uc = users_kept.withColumn("community", F.lit(0))
    recs = recommend_books_community(uc, ratings, books, user_id=1, k=3)
    got = {r["title"] for r in recs.collect()}
    # b2 counts as unread: user 1's rating on it was implicit (0) and P1
    # removed it — exactly the reference's ETL semantics
    assert got == {"T2", "T3"}


def test_approx_distinct_accuracy(spark):
    """HLL estimate within its advertised relative error of the exact
    distinct count."""
    from graph_database_application_for_recommendations_spark.operators import events as ev
    from graph_database_application_for_recommendations_spark.sources.views import load_ref_tables

    e = load_ref_tables(spark, SF_SMALL).events
    exact = {r["event_type"]: r["n_users"] for r in ev.distinct_users(e).collect()}
    approx = {
        r["event_type"]: r["n_users_approx"]
        for r in ev.approx_distinct_users(e, rsd=0.05).collect()
    }
    assert approx.keys() == exact.keys()
    for k in exact:
        assert abs(approx[k] - exact[k]) <= max(3, 0.15 * exact[k])


def test_asof_join_semantics(spark):
    """Backward as-of: latest right row at-or-before, NULL before any,
    equal timestamps match."""
    import datetime

    from graph_database_application_for_recommendations_spark.operators.asof import asof_join

    t = lambda s: datetime.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, 1, t(5)), (2, 1, t(10)), (3, 1, t(2)), (4, 2, t(7))],
        "event_id LONG, user_id LONG, ts TIMESTAMP",
    )
    right = spark.createDataFrame(
        [(1, t(3), 100.0), (1, t(10), 200.0), (2, t(9), 300.0)],
        "user_id LONG, ts TIMESTAMP, value DOUBLE",
    )
    got = {
        r["event_id"]: r["r_value"]
        for r in asof_join(left, right, right_cols=["value"]).collect()
    }
    assert got[3] is None  # t=2: before any right row
    assert got[1] == 100.0  # t=5: latest right is t=3
    assert got[2] == 200.0  # t=10: equal timestamp matches
    assert got[4] is None  # user 2 at t=7: right row is t=9 (after)


def test_sql_surface(spark):
    """users can query the engine with plain spark.sql after registering
    the reference-shaped views."""
    from graph_database_application_for_recommendations_spark.sources.sql import register_ref_views

    register_ref_views(spark, SF_SMALL)
    top = spark.sql(
        """
        SELECT b.author, COUNT(*) AS n
        FROM ratings r JOIN books b USING (isbn)
        WHERE r.rating >= 6
        GROUP BY b.author ORDER BY n DESC, author LIMIT 3
        """
    ).collect()
    assert len(top) == 3 and top[0]["n"] >= top[2]["n"]


def test_recommender_facade(spark):
    """EP1 dispatch parity: both algorithms serve the reference's three
    API calls and return list[dict] like Bolt records."""
    from graph_database_application_for_recommendations_spark.recommender import get_recommender
    from graph_database_application_for_recommendations_spark.plans.pipeline import run_pipeline

    pipe = run_pipeline(spark, SF_SMALL, knn_cutoff=0.4, dim=16)
    for algo in ("knn", "community"):
        rec = get_recommender(spark, SF_SMALL, algo, pipeline=pipe)
        books = rec.recommend_books(1)
        assert isinstance(books, list) and all(isinstance(b, dict) for b in books)
        if books:
            assert {"title", "author"} <= books[0].keys()
        users = rec.get_similar_users(1)
        assert len(users) <= 3
        graph = rec.get_graph_data(1)
        assert isinstance(graph, list)
    with pytest.raises(ValueError):
        get_recommender(spark, SF_SMALL, "nope", pipeline=pipe)

def test_jsonl_corrupt_record_capture(spark, tmp_path):
    """Malformed JSONL lines land in the corrupt column instead of turning
    into silent all-null rows."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from graph_database_application_for_recommendations_spark.sources import json_io

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "good line"}\n'
        "this is not json at all\n"
        '{"doc_id": 3, "text": "another good one"}\n'
    )
    schema = StructType([StructField("doc_id", LongType()), StructField("text", StringType())])
    df = json_io.read_jsonl(spark, str(p), schema, corrupt_col="_bad").cache()
    good = df.filter("_bad IS NULL")
    bad = df.filter("_bad IS NOT NULL")
    assert {r["doc_id"] for r in good.collect()} == {1, 3}
    assert [r["_bad"] for r in bad.collect()] == ["this is not json at all"]
    # default read still works and nulls the bad line
    plain = json_io.read_jsonl(spark, str(p), schema)
    assert plain.count() == 3 and plain.filter("doc_id IS NULL").count() == 1


def test_adamic_adar_hand_example(spark):
    """AA on a 3-user toy graph: shared rare book counts more than a
    shared popular one."""
    import math

    from graph_database_application_for_recommendations_spark.operators import corating

    # book P rated by everyone (deg 3), book R by users 1,2 only (deg 2)
    rows = [(1, "P", 8), (2, "P", 9), (3, "P", 7), (1, "R", 8), (2, "R", 10)]
    ratings = spark.createDataFrame(rows, "user_id LONG, isbn STRING, rating INT")
    got = {
        (r["u1"], r["u2"]): r["score"]
        for r in corating.node_similarity_adamic_adar(ratings, top_k=None).collect()
    }
    aa_p = 1.0 / math.log(3)
    aa_r = 1.0 / math.log(2)
    assert got[(1, 2)] == round(aa_p + aa_r, 6)
    assert got[(1, 3)] == round(aa_p, 6)
    assert got[(1, 2)] > got[(1, 3)]  # rare co-interest outranks popular


def test_personalized_pagerank_concentrates_on_seeds(spark):
    """PPR mass: ranks sum to ~1, and seed-set users outrank the global-
    teleport ranking's tail reshuffle (seeds get direct teleport mass)."""
    from graph_database_application_for_recommendations_spark.operators import corating
    from graph_database_application_for_recommendations_spark.plans.pagerank import pagerank
    from graph_database_application_for_recommendations_spark.sources.views import load_ref_tables

    from .conftest import SF_SMALL

    edges = (
        corating.corating_edges(load_ref_tables(spark, SF_SMALL).ratings)
        .withColumnRenamed("u1", "src")
        .withColumnRenamed("u2", "dst")
    )
    ppr = {r["node_id"]: r["rank"] for r in pagerank(edges, iters=8, sources=[1]).collect()}
    total = sum(ppr.values())
    assert abs(total - 1.0) < 1e-6  # symmetric graph, no dangling loss
    assert ppr[1] == max(ppr.values())  # the seed dominates its own walk


def test_overlap_similarity_detects_subsets(spark):
    """Overlap coefficient = 1.0 when one user's shelf is a subset of
    another's, where Jaccard dilutes."""
    from graph_database_application_for_recommendations_spark.operators import corating

    rows = [(1, b, 8) for b in ["A", "B", "C", "D"]] + [(2, "A", 9), (2, "B", 9)]
    ratings = spark.createDataFrame(rows, "user_id LONG, isbn STRING, rating INT")
    ov = {
        (r["u1"], r["u2"]): r["similarity"]
        for r in corating.node_similarity_overlap(ratings, top_k=None, cutoff=0.0).collect()
    }
    jc = {
        (r["u1"], r["u2"]): r["similarity"]
        for r in corating.node_similarity_jaccard(ratings, top_k=None, cutoff=0.0).collect()
    }
    assert ov[(1, 2)] == 1.0  # subset: 2/min(4,2)
    assert jc[(1, 2)] == 0.5  # diluted: 2/(4+2-2)


def test_eigenvector_centrality_invariants(spark):
    """Unit L2 norm, strictly positive scores (connected positive-weight
    graph), and the hub of a star graph dominates."""
    import math

    from graph_database_application_for_recommendations_spark.plans.eigenvector import (
        eigenvector_centrality,
    )

    # hub 0 over leaves 1..5 plus a (1,2) edge — the odd cycle makes the
    # graph non-bipartite, so undamped power iteration converges (a pure
    # star oscillates between hub/leaf mass forever)
    und = [(0, i) for i in range(1, 6)] + [(1, 2)]
    rows = [(a, b, 1) for a, b in und] + [(b, a, 1) for a, b in und]
    edges = spark.createDataFrame(rows, "src LONG, dst LONG, weight LONG")
    x = {r["node_id"]: r["score"] for r in eigenvector_centrality(edges, iters=30).collect()}
    assert abs(math.sqrt(sum(v * v for v in x.values())) - 1.0) < 1e-9
    assert all(v > 0 for v in x.values())
    assert x[0] == max(x.values()) and x[0] > x[1] + 1e-6
    # untouched leaves are symmetric: equal scores
    leaves = [x[i] for i in range(3, 6)]
    assert max(leaves) - min(leaves) < 1e-9
    assert x[1] > x[3]  # the extra edge raises 1 and 2 above plain leaves


def test_resample_forward_fill_semantics(spark):
    """Carried values across gaps, is_gap flags, and per-type leading
    NULLs before the type's first observation."""
    from datetime import datetime

    from graph_database_application_for_recommendations_spark.operators.events import (
        resample_forward_fill,
    )

    h = 3_600_000_000
    rows = [
        # type a: hours 0 and 3 observed -> 1,2 carried
        (1, "a", 10.0, 0), (2, "a", 30.0, 3),
        # type b: first observation at hour 2 -> hours 0,1 leading NULL
        (3, "b", 5.0, 2), (4, "b", 7.0, 3),
    ]
    ev = spark.createDataFrame(
        [(i, t, v, datetime(2024, 1, 1, hh)) for i, t, v, hh in rows],
        "event_id LONG, event_type STRING, value DOUBLE, ts TIMESTAMP",
    )
    got = {
        (r["event_type"], r["bucket_us"]): (r["value"], r["is_gap"])
        for r in resample_forward_fill(ev, minutes=60).collect()
    }
    base = min(b for (_, b) in got)
    assert len(got) == 8  # 2 types x 4 hour grid
    assert got[("a", base)] == (10.0, False)
    assert got[("a", base + h)] == (10.0, True)
    assert got[("a", base + 2 * h)] == (10.0, True)
    assert got[("a", base + 3 * h)] == (30.0, False)
    assert got[("b", base)] == (None, True)
    assert got[("b", base + h)] == (None, True)
    assert got[("b", base + 2 * h)] == (5.0, False)
    assert got[("b", base + 3 * h)] == (7.0, False)


def test_source_format_roundtrips(spark, tmp_path):
    """Source/sink format coverage beyond parquet+CSV: ORC and JSON-lines
    round-trip the documents table byte-for-byte (same rows, same
    schema-relevant values). Spark ships both natively — at 100 TB these
    are the interchange formats a training pipeline actually meets."""
    from graph_database_application_for_recommendations_spark.sources.views import (
        load_ref_tables,
    )

    docs = load_ref_tables(spark, SF_SMALL).documents.select(
        "doc_id", "text", "lang", "source"
    )
    want = sorted(map(tuple, docs.collect()))

    orc_path = str(tmp_path / "docs_orc")
    docs.write.mode("overwrite").orc(orc_path)
    got_orc = sorted(map(tuple, spark.read.orc(orc_path).select(docs.columns).collect()))
    assert got_orc == want

    json_path = str(tmp_path / "docs_jsonl")
    docs.write.mode("overwrite").json(json_path)
    got_json = sorted(
        map(
            tuple,
            spark.read.schema(docs.schema).json(json_path).select(docs.columns).collect(),
        )
    )
    assert got_json == want


def test_bench_record_fits_driver_tail_budget():
    """The driver archives only the last ~2000 stdout chars; the bench
    record must fit whole. Pin the CURRENT mix against the compaction
    ladder with worst-case-width synthetic timings (4-char 2-sig values
    like 173.4 after g-formatting) so a grown mix fails HERE, not in the
    round artifact."""
    import bench

    mix = bench.BENCH_QUERIES + [bench.PIPELINE_QUERY]
    # calibration always survives — full round-10 field set at worst width
    drift = {
        "drift_ab": 1.234,
        "drift_spread": [0.854, 1.308],
        "ab_n": 8,
        "ab_draws": 2,
        "ab_ref": "abcd1234",
    }
    timings = {name: 17.35 for name in mix}  # 2-sig -> '17' ; stress longer too
    line = bench.format_record(timings, 1734.945, 0.1, 32, 12, drift)
    assert len(line) <= bench.RECORD_BUDGET, len(line)
    import json

    rec = json.loads(line)
    assert len(rec["queries"]) == len(mix)  # every query survives compaction
    assert rec["drift_ab"] == 1.234 and rec["ab_n"] == 8
    assert rec["drift_spread"] == [0.854, 1.308] and rec["ab_ref"] == "abcd1234"
    # worst case: every value renders at max 2-sig width with a decimal
    timings = {name: 9.85 for name in mix}
    line = bench.format_record(timings, 999.985, 0.1, 32, 12, drift)
    assert len(line) <= bench.RECORD_BUDGET, len(line)
    rec = json.loads(line)
    assert len(rec["queries"]) == len(mix)
    assert rec["drift_ab"] == 1.234  # drift fields are never compacted away
    assert rec["drift_spread"] == [0.854, 1.308]


# the exact per-query names the round-10 driver record emitted
# (BENCH_r10.json), in mix order. Round-10 VERDICT item 1: the old
# compaction ladder picked the truncation width by what fit the record
# budget, so growth in never-shed fields silently renamed every query
# between rounds and zeroed the driver's round-over-round comparison.
# The names are now pinned (bench.NAME_WIDTH); this snapshot must NEVER
# change for existing queries — new bench queries append new names.
_R10_RECORD_NAMES = [
    "coratin", "node_si", "node_si~1", "node_si~2", "item_si", "eigenve",
    "ppr", "knn_top", "knn_rec", "comm_re", "recsys_", "communi",
    "rated_b", "fk_enfo", "dedup_e", "dedup_f", "dedup_m", "dedup_l",
    "dedup_r", "dedup_s", "dedup_s~1", "dedup_s~2", "dedup_e~1",
    "dedup_e~2", "corpus_", "dedup_n", "simsear", "simsear~1",
    "simsear~2", "simsear~3", "simsear~4", "simsear~5", "emb_cen",
    "emb_pca", "emb_qua", "corpus_~1", "dedup_p", "corpus_~2",
    "corpus_~3", "simsear~6", "simsear~7", "corpus_~4", "louvain",
    "pageran", "graph_k", "graph_k~1", "graph_s", "graph_c", "graph_c~1",
    "hits", "text_la", "text_tf", "text_re", "text_lm", "text_bm",
    "text_ch", "text_le", "corpus_~5", "corpus_~6", "corpus_~7",
    "corpus_~8", "corpus_~9", "corpus_~10", "corpus_~11", "text_qu",
    "multimo", "events_", "events_~1", "events_~2", "events_~3",
    "events_~4", "events_~5", "events_~6", "events_~7", "events_~8",
    "events_~9", "events_~10", "events_~11", "events_~12", "events_~13",
    "events_~14", "events_~15", "events_~16", "events_~17", "text_co",
    "emb_har", "graph_w", "corpus_~12", "corpus_~13", "corpus_~14",
    "corpus_~15", "ingest_", "multimo~1", "dedup_c", "multimo~2",
    "dedup_c~1", "text_c4", "simsear~8", "ingest_~1", "ingest_~2",
    "text_go", "ingest_~3", "corpus_~16", "text_se", "corpus_~17",
    "dedup_i", "layout_", "text_so", "graph_l", "events_~18",
    "corpus_~18", "corpus_~19", "events_~19", "pipelin",
]


def test_bench_record_names_frozen_to_r10_snapshot():
    """The CURRENT mix + the FULL drift field set must yield byte-identical
    record names to the r10-frozen snapshot, regardless of record length —
    the driver matches rounds by these names (round-10 VERDICT item 1)."""
    import json

    import bench

    mix = bench.BENCH_QUERIES + [bench.PIPELINE_QUERY]
    # existing names must be a stable prefix-preserving superset: every
    # r10 name present, in order, even if new queries were appended
    got = list(bench.record_names(mix).values())
    assert got[: len(_R10_RECORD_NAMES)] == _R10_RECORD_NAMES
    assert len(got) == len(set(got)), "record names must be unique"
    # and the names must survive formatting unchanged with full drift
    # fields at worst-case value widths (the r10 failure mode: field
    # growth pushed the ladder past the width-8 attempt)
    drift = {
        "drift_ab": 1.044,
        "drift_spread": [0.801, 1.287],
        "ab_n": 8,
        "ab_draws": 3,
        "ab_ref": "b2b57521",
    }
    timings = {name: 17.35 for name in mix}
    rec = json.loads(bench.format_record(timings, 1734.945, 0.1, 32, 12, drift))
    assert list(rec["queries"])[: len(_R10_RECORD_NAMES)] == _R10_RECORD_NAMES


def test_bench_record_carries_cpus_and_parallelism():
    import json

    import bench

    rec = json.loads(bench.format_record({"q_a": 1.0, "q_b": 2.5}, 3.5, 0.1, 8, 1, None, 16))
    assert (rec["cpus"], rec["defaultParallelism"]) == (8, 16)
    assert rec["queries"] == {"a": 1, "b": 2.5}


def test_bench_record_names_refuse_collapsing_keys():
    """``q_foo`` and ``foo`` strip to one name: the record would drop one
    timing and misalign the rest, so naming fails instead."""
    import bench

    with pytest.raises(ValueError, match="collapse"):
        bench.record_names(["q_foo", "foo"])
    with pytest.raises(ValueError, match="collapse"):
        bench.format_record({"q_foo": 1.0, "foo": 2.0}, 3.0, 0.1, 8, 1)
    # a truncation collision still gets its ~N suffix
    assert list(bench.record_names(["q_abcdefgh", "q_abcdefgi"]).values()) == [
        "abcdefg", "abcdefg~1",
    ]


def test_bench_record_over_budget_raises(monkeypatch):
    """Past the last rung of the compaction ladder the record must fail
    loudly, not be printed longer than the driver's tail keeps."""
    import bench

    timings = {f"q_{i:03d}": 12.34 for i in range(40)}
    assert len(bench.format_record(timings, 493.6, 0.1, 8, 1)) <= bench.RECORD_BUDGET
    monkeypatch.setattr(bench, "RECORD_BUDGET", 100)
    with pytest.raises(ValueError, match="RECORD_BUDGET"):
        bench.format_record(timings, 493.6, 0.1, 8, 1)


def test_ab_drift_median_of_alternating_draws(monkeypatch):
    """Round-9 VERDICT: a single A/B draw scatters ±0.2-0.3 on this box, so
    drift_ab is now the median of alternating prev/cur draws with the
    min/max envelope published, and ab_ref pins the baseline commit
    (round-9 ADVICE). Stub the runner; the real git worktree dance runs."""
    import re

    import bench

    names = [f"q{i}" for i in range(8)]
    timings = {n: float(i + 1) for i, n in enumerate(names)}
    trees, payloads = [], iter(
        [
            {n: 0.8 for n in names},  # draw 1: prev
            {n: 1.0 for n in names},  # draw 1: cur   -> ratio 0.8
            {n: 1.2 for n in names},  # draw 2: prev
            {n: 1.0 for n in names},  # draw 2: cur   -> ratio 1.2
        ]
    )

    def fake_runner(tree, subset, sf_dir, cpus):
        trees.append(tree)
        assert sorted(subset) == sorted(names)
        return next(payloads)

    monkeypatch.setattr(bench, "_ab_runner_times", fake_runner)
    monkeypatch.setenv("SPARK_GRAFT_AB_DRAWS", "2")
    monkeypatch.delenv("SPARK_GRAFT_AB", raising=False)
    out = bench._ab_drift(timings, "/root/testdata/sf0.1", 8)
    assert out is not None, "calibration refused on a live git repo"
    assert out["drift_ab"] == 1.0  # median of [0.8, 1.2]
    assert out["drift_spread"] == [0.8, 1.2]
    assert out["ab_n"] == 8 and out["ab_draws"] == 2
    assert re.fullmatch(r"[0-9a-f]{8}", out["ab_ref"])
    # alternation: prev-tree, cur-tree, prev-tree, cur-tree
    assert len(trees) == 4
    assert trees[0] == trees[2] and trees[1] == trees[3]
    assert trees[0] != trees[1]
