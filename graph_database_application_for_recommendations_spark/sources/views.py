"""Reference-shaped logical tables derived from the driver star schema.

The reference's data model (SURVEY.md §1, FIXTURES.md layer A/B) is a
bipartite User–Book rating graph:

- ``users``   (user_id BIGINT, location STRING, age INT nullable)
  — reference ``data/load_data.py:25-26`` (age '' -> NULL)
- ``books``   (isbn STRING, title STRING, author STRING, year INT, publisher STRING)
  — reference ``data/load_data.py:39-43``
- ``ratings`` (user_id BIGINT, isbn STRING, rating INT 1..10)
  — reference ``data/ratings_filtering.py:12`` (implicit 0-ratings removed) +
  ``data/load_data.py:56-59`` (one RATED edge per (user, book): MERGE upsert)

Layer-B mapping (deterministic, identical SQL semantics in Spark and
DuckDB so the driver's oracle compare stays valid):

- users    <- customer  (age from acctbal; negative balance -> NULL age)
- books    <- part      (isbn = partkey as string)
- raw_ratings <- lineitem ⋈ orders, rating = FLOOR(l_quantity)::INT % 11 in 0..10
  (0 plays the role of Kaggle's implicit rating)
- ratings  <- raw_ratings filtered rating<>0, MAX(rating) per (user_id, isbn)
  (MAX pins the reference's MERGE keep-one semantics deterministically)

Both a DataFrame-API builder (engine side) and SQL text (DuckDB oracle
prelude) are defined here so the two can never drift apart silently —
tests/test_oracle_parity.py compares them row-for-row.
"""

from __future__ import annotations

from functools import cached_property

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.serving import driver_table
from .tables import load_table

# --- SQL text (valid in both Spark SQL and DuckDB; used as oracle CTEs) ---

USERS_SQL = """
SELECT c_custkey AS user_id,
       c_mktsegment AS location,
       CASE WHEN c_acctbal < 0 THEN NULL
            ELSE CAST(FLOOR(c_acctbal) AS INT) % 80 + 18 END AS age
FROM customer
""".strip()

BOOKS_SQL = """
SELECT CAST(p_partkey AS VARCHAR(30)) AS isbn,
       p_name AS title,
       p_brand AS author,
       1990 + (CAST(p_size AS INT) % 30) AS year,
       p_type AS publisher
FROM part
""".strip()

RAW_RATINGS_SQL = """
SELECT o.o_custkey AS user_id,
       CAST(l.l_partkey AS VARCHAR(30)) AS isbn,
       CAST(FLOOR(l.l_quantity) AS INT) % 11 AS rating
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
""".strip()

RATINGS_SQL = """
SELECT user_id, isbn, MAX(rating) AS rating
FROM raw_ratings
WHERE rating <> 0
GROUP BY user_id, isbn
""".strip()

ORACLE_PRELUDE = (
    f"WITH raw_ratings AS ({RAW_RATINGS_SQL}),\n"
    f"ratings AS ({RATINGS_SQL}),\n"
    f"users AS ({USERS_SQL}),\n"
    f"books AS ({BOOKS_SQL})"
)


def oracle(sql: str) -> str:
    """Prefix an oracle query with the reference-shaped view CTEs."""
    return f"{ORACLE_PRELUDE}\n{sql.strip()}"


# --- DataFrame-API builders (engine side) ---


class RefTables:
    """Reference-shaped tables plus the raw driver tables they derive from.

    Lazy: a table's parquet footer is only touched when that table is first
    accessed, so queries never pay for sources they don't read.
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir

    def star(self, name: str) -> DataFrame:
        return load_table(self.spark, self.sf_dir, name)

    @cached_property
    def users(self) -> DataFrame:
        return build_users(self.star("customer"))

    @cached_property
    def books(self) -> DataFrame:
        return build_books(self.star("part"))

    @cached_property
    def raw_ratings(self) -> DataFrame:
        return build_raw_ratings(self.star("lineitem"), self.star("orders"))

    @cached_property
    def ratings(self) -> DataFrame:
        # The one expensive shared derivation (lineitem⋈orders + groupBy),
        # read by ~15 serving queries. ``cache()`` is the write-back step of
        # the reference's precompute-then-serve flow (SURVEY.md §3 EP3):
        # Spark's cache manager keys on the canonicalized plan, so every
        # RefTables instance in the session — and any query embedding this
        # subplan — resolves to the same InMemoryRelation instead of
        # re-running the join. ~550k slim rows at sf0.1: far below executor
        # storage at any bench scale; at 100 TB the same role is played by
        # a materialized parquet table (operators/etl.py writers).
        return build_ratings(self.raw_ratings).cache()

    @cached_property
    def driver_held(self) -> tuple[pd.DataFrame, pd.DataFrame] | None:
        """Books ``(isbn, title, author)`` and users on the driver, each
        sorted by its key (``operators.serving.driver_table``), or None
        when either is over the node-vector gate: the lookup tables of the
        recommenders, which every recommender over this instance shares."""
        books = driver_table(self.books.select("isbn", "title", "author"), "isbn")
        users = None if books is None else driver_table(self.users, "user_id")
        return None if users is None else (books, users)

    @cached_property
    def events(self) -> DataFrame:
        return self.star("events")

    @cached_property
    def documents(self) -> DataFrame:
        return self.star("documents")

    @cached_property
    def embeddings(self) -> DataFrame:
        return self.star("embeddings")


def build_users(customer: DataFrame) -> DataFrame:
    # '' -> NULL age semantics of load_data.py:26 mapped onto acctbal sign
    return customer.select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("location"),
        F.when(F.col("c_acctbal") < 0, F.lit(None).cast("int"))
        .otherwise(F.floor("c_acctbal").cast("int") % 80 + 18)
        .alias("age"),
    )


def build_books(part: DataFrame) -> DataFrame:
    return part.select(
        F.col("p_partkey").cast("string").alias("isbn"),
        F.col("p_name").alias("title"),
        F.col("p_brand").alias("author"),
        (F.lit(1990) + F.col("p_size").cast("int") % 30).alias("year"),
        F.col("p_type").alias("publisher"),
    )


def build_raw_ratings(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    # rating 0..10; 0 = "implicit feedback" the ETL filter removes (P1,
    # reference data/ratings_filtering.py:12)
    return lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey).select(
        F.col("o_custkey").alias("user_id"),
        F.col("l_partkey").cast("string").alias("isbn"),
        (F.floor("l_quantity").cast("int") % 11).alias("rating"),
    )


def build_ratings(raw_ratings: DataFrame) -> DataFrame:
    # filter implicit zeros (P1), then MERGE keep-one semantics (S4) pinned
    # deterministically as MAX per (user, book) (reference load_data.py:56-59)
    return (
        raw_ratings.filter(F.col("rating") != 0)
        .groupBy("user_id", "isbn")
        .agg(F.max("rating").alias("rating"))
    )


def load_ref_tables(spark: SparkSession, sf_dir: str) -> RefTables:
    return RefTables(spark, sf_dir)
