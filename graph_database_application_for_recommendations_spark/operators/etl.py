"""ETL operators (SURVEY.md §2.1/§2.2: S4-S7, P1, J5, J9).

The reference's ETL is three scripts + a batched Neo4j loader; on Spark it
collapses into one linear declarative job per table — no 100-row batching,
no client/server round-trips (reference ``data/load_data.py:65-91``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def filter_implicit_ratings(raw_ratings: DataFrame) -> DataFrame:
    """P1 — drop implicit (rating=0) feedback.

    Reference: ``data/ratings_filtering.py:12`` (``row[2] != '0'``).
    Catalyst pushes this predicate into the parquet scan.
    """
    return raw_ratings.filter(F.col("rating") != 0)


def semijoin_users(users: DataFrame, ratings: DataFrame) -> DataFrame:
    """J5 — keep only users that appear in ratings.

    Reference: Python set-membership filter ``data/user_books_filtering.py:22-33``.
    ``left_semi`` is the exact relational equivalent; AQE turns it into a
    broadcast when the distinct key side is small.
    """
    return users.join(ratings.select("user_id"), "user_id", "left_semi")


def semijoin_books(books: DataFrame, ratings: DataFrame) -> DataFrame:
    """J5 — keep only books that appear in ratings
    (reference ``data/user_books_filtering.py:35-46``)."""
    return books.join(ratings.select("isbn"), "isbn", "left_semi")


def fk_enforced_ratings(ratings: DataFrame, users: DataFrame, books: DataFrame) -> DataFrame:
    """J9/S5 — referential integrity by construction.

    Reference: ``MATCH (u) MATCH (b) MERGE (u)-[r:RATED]->(b)``
    (``data/load_data.py:54-61``) silently drops edges whose endpoints are
    missing; two inner joins ARE that check.
    """
    return (
        ratings.join(users.select("user_id"), "user_id", "inner")
        .join(books.select("isbn"), "isbn", "inner")
        .select("user_id", "isbn", "rating")
    )


def upsert_keep_last(existing: DataFrame, incoming: DataFrame, keys: list[str]) -> DataFrame:
    """S4 — MERGE-upsert semantics (insert-or-update by key, incoming wins).

    Reference: ``UNWIND $rows MERGE ... SET ...`` (``data/load_data.py:23-28``).
    Spark-native: union with a precedence tag + keep-first per key. On a real
    deployment this is Delta ``MERGE INTO``; plain parquet gets this
    deterministic equivalent.
    """
    tagged = existing.withColumn("_prec", F.lit(1)).unionByName(
        incoming.withColumn("_prec", F.lit(0))
    )
    w = Window.partitionBy(*keys).orderBy("_prec")
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_prec", "_rn")
    )


def duplicate_keys(df: DataFrame, keys: list[str]) -> DataFrame:
    """S6 — uniqueness-constraint validation.

    Reference: ``CREATE CONSTRAINT ... IS UNIQUE`` (``data/load_data.py:100-101``).
    Spark has no enforced constraints; this returns the violating keys
    (empty result == constraint holds).
    """
    return df.groupBy(*keys).count().filter(F.col("count") > 1)


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, status): snapshot delta between two corpus versions —
    'added' (id only in new), 'removed' (id only in old), 'changed'
    (both, canonical fingerprint differs), 'unchanged'. The table an
    incremental pipeline keys its re-processing on: only added/changed
    ids re-enter dedup/quality/packing, removed ids tombstone.

    One full outer join on the id (shuffle ∝ |old|+|new|) comparing
    canonical fingerprints (word-order/whitespace-insensitive, the
    dedup_fingerprint primitive) — no text payload moves, only hashes.
    """
    from ..functions.text import canonical_fingerprint

    o = old.select(
        F.col(id_col).alias("doc_id"),
        canonical_fingerprint(F.col(text_col)).alias("_fo"),
    )
    n = new.select(
        F.col(id_col).alias("doc_id"),
        canonical_fingerprint(F.col(text_col)).alias("_fn"),
    )
    return o.join(n, "doc_id", "outer").select(
        "doc_id",
        F.when(F.col("_fo").isNull(), F.lit("added"))
        .when(F.col("_fn").isNull(), F.lit("removed"))
        .when(F.col("_fo") != F.col("_fn"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )


def shard_assignments(
    documents: DataFrame, n_shards: int = 8, id_col: str = "doc_id"
) -> DataFrame:
    """Input rows + ``shard_id``: deterministic md5-keyed shard
    assignment (shard = md5(doc_id # 'shard') mod n) — stable across
    runs, engines and cluster sizes, unlike hash-partitioning whose
    function is engine-internal. The export contract trainers need:
    re-running the export moves nothing."""
    from ..functions.text import md5_hash32

    return documents.withColumn(
        "shard_id",
        F.pmod(md5_hash32(F.col(id_col).cast("string"), seed=0x5AD), F.lit(n_shards)).cast(
            "long"
        ),
    )


def shard_manifest(
    documents: DataFrame,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(shard_id, n_docs, n_tokens, content_xor): the per-shard manifest
    committed next to a sharded dataset export (WebDataset/TFRecord
    discipline): document count, token count, and an ORDER-FREE content
    checksum — XOR of each doc's 60-bit md5 prefix, so any re-shuffled
    but content-identical export verifies equal, any corruption or drop
    flips it, and no accumulator can overflow (unlike a modular SUM).
    Verification of a delivered shard = recompute and compare one row."""
    from ..functions.text import md5_hash60, tokens

    assigned = shard_assignments(documents, n_shards, id_col)
    return (
        assigned.select(
            "shard_id",
            F.size(tokens(F.col(text_col))).cast("long").alias("_nt"),
            md5_hash60(F.col(text_col)).alias("_h"),
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_nt").alias("n_tokens"),
            F.expr("bit_xor(_h)").alias("content_xor"),
        )
    )
