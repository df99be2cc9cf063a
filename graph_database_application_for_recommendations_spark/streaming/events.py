"""Structured Streaming over the documents corpus: sharded sequence packing.

``pack_stream`` is the streaming relaxation of ``operators/packing.py``'s
batch concatenate-and-chunk. ``q_stream_pack_totals`` replays the corpus
through it and checks the per-shard token totals against a plain-SQL
oracle.

Design notes:
- File source (parquet) with an explicit schema; ``maxFilesPerTrigger``
  gives multi-batch replays in tests, ``availableNow`` bounded runs.
- The per-shard running offset is custom state kept by
  ``applyInPandasWithState``, the Arrow-batched stateful API.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)


DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def read_documents_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming read of the documents corpus (file-source replay)."""
    reader = spark.readStream.schema(DOC_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(f"{sf_dir}/documents.[p]arquet")


PACK_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("shard", LongType()),
        StructField("n_tokens", LongType()),
        StructField("pack_id", LongType()),
        StructField("pack_offset", LongType()),
    ]
)


def pack_stream(
    docs: DataFrame, ctx_len: int = 512, n_shards: int = 8, seed: int = 7
) -> DataFrame:
    """Streaming sharded sequence packing: documents are hashed to shards
    and each shard maintains ONE piece of state — its running token offset
    — assigning (pack_id, pack_offset) coordinates in arrival order.

    This is the streaming relaxation of ``operators/packing.py``'s batch
    concatenate-and-chunk: a global deterministic order is unavailable on
    an unbounded stream, so the contract becomes per-shard arrival-order
    tiling (gapless within a shard, pack ids scoped per shard). State is
    a single LONG per shard; parallelism = shard count, the same unit a
    trainer consumes.

    Shard assignment rides the same md5 bucket as ``shuffle_corpus`` /
    ``sample_corpus`` (not xxhash64): cross-engine reproducible, so the
    per-shard totals invariant (``q_stream_pack_totals``) can be
    hash-verified against a plain-SQL oracle.
    """
    from ..functions.text import tokens as _tokens
    from ..operators.sampling import sample_bucket

    tagged = docs.select(
        "doc_id",
        F.pmod(sample_bucket(F.col("doc_id"), seed), F.lit(n_shards)).alias("shard"),
        F.size(_tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )

    def update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # GroupState.get is a PROPERTY in PySpark 4: calling it invokes
        # the returned tuple and kills the query on the first batch that
        # restores state (invisible to single-microbatch tests)
        (start,) = state.get if state.exists else (0,)
        for pdf in pdfs:
            rows = []
            for doc_id, n in zip(pdf["doc_id"], pdf["n_tokens"]):
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "shard": int(key[0]),
                        "n_tokens": int(n),
                        "pack_id": start // ctx_len,
                        "pack_offset": start % ctx_len,
                    }
                )
                start += int(n)
            if rows:
                yield pd.DataFrame(rows)
        state.update((int(start),))

    return tagged.groupBy("shard").applyInPandasWithState(
        update,
        outputStructType=PACK_SCHEMA,
        stateStructType="start LONG",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_to_memory(
    stream_df: DataFrame, name: str, output_mode: str, checkpoint_dir: str
) -> DataFrame:
    """Drive a bounded (availableNow) run into a memory sink; returns the
    materialized result as a batch DataFrame."""
    query = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return stream_df.sparkSession.table(name)
