"""Structured Streaming over the documents corpus: drive ``pack_stream``
with availableNow over a parquet file source and check the per-shard
tiling across one and several microbatches, and check that a stateless
batch operator runs unchanged on a streaming frame."""

from __future__ import annotations

import glob
import os
import tempfile

from graph_database_application_for_recommendations_spark.streaming import events as stream_ops

from .conftest import SF_SMALL


def test_streaming_sharded_packing_tiles_each_shard(spark, tmp_path):
    """Per-shard state assigns gapless arrival-order coordinates: within
    every shard, offsets tile the token stream exactly (verified by
    re-walking each shard's emitted rows), every doc appears once, and
    token counts match the batch tokenizer."""
    from graph_database_application_for_recommendations_spark.operators.textstats import (
        token_counts,
    )
    from graph_database_application_for_recommendations_spark.sources.views import (
        load_ref_tables,
    )

    docs_batch = load_ref_tables(spark, SF_SMALL).documents
    got = stream_ops.run_to_memory(
        stream_ops.pack_stream(
            stream_ops.read_documents_stream(spark, SF_SMALL), ctx_len=64, n_shards=4
        ),
        "t_pack_stream",
        "append",
        str(tmp_path / "ck_pack"),
    ).collect()
    assert len(got) == docs_batch.count()
    want_tokens = {r["doc_id"]: r["n_tokens"] for r in token_counts(docs_batch).collect()}
    by_shard = {}
    for r in got:
        assert r["n_tokens"] == want_tokens[r["doc_id"]]
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rows in by_shard.items():
        # arrival order within the shard == emitted order; re-walk the tiling
        start = 0
        for r in rows:
            assert r["pack_id"] == start // 64 and r["pack_offset"] == start % 64
            start += r["n_tokens"]


def test_streaming_pack_state_survives_multiple_microbatches(spark, tmp_path):
    """Two files, maxFilesPerTrigger=1 => the second microbatch RESTORES
    each shard's offset state (GroupState.get is a property in PySpark 4;
    calling it killed the query — caught by review, pinned here). The
    combined output must still tile every shard gaplessly."""
    import pandas as pd

    src = str(tmp_path / "docs_src")
    df1 = spark.createDataFrame(
        [(i, " ".join(["w"] * (3 + i % 5))) for i in range(20)], "doc_id LONG, text STRING"
    )
    df2 = spark.createDataFrame(
        [(100 + i, " ".join(["w"] * (2 + i % 7))) for i in range(20)], "doc_id LONG, text STRING"
    )
    df1.coalesce(1).write.mode("overwrite").parquet(src)
    df2.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("doc_id LONG, text STRING").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    got = stream_ops.run_to_memory(
        stream_ops.pack_stream(stream, ctx_len=16, n_shards=2),
        "t_pack_multibatch",
        "append",
        str(tmp_path / "ck_pack_mb"),
    ).collect()
    assert len(got) == 40
    by_shard = {}
    for r in got:
        by_shard.setdefault(r["shard"], []).append(r)
    total = 0
    for shard, rows in by_shard.items():
        start = 0
        for r in rows:
            assert r["pack_id"] == start // 16 and r["pack_offset"] == start % 16, rows
            start += r["n_tokens"]
        total += len(rows)
    assert total == 40


def test_streaming_c4_clean_is_stateless_and_matches_batch(spark, tmp_path):
    """c4_paragraph_clean is a pure per-row column program, so it works
    on a streaming frame as-is (no state, append-safe); the replayed
    stream emits exactly the batch rows."""
    from graph_database_application_for_recommendations_spark.operators.textstats import (
        c4_paragraph_clean,
    )

    good = "This is a perfectly fine sentence for the stream. And one more!"
    docs = spark.createDataFrame(
        [(1, good), (2, "no terminal punctuation here at all"), (3, good + " Third one.")],
        "doc_id long, text string",
    )
    src = str(tmp_path / "src")
    docs.write.parquet(src)
    want = sorted(map(tuple, c4_paragraph_clean(spark.read.parquet(src)).collect()))

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    out = []
    q = (
        c4_paragraph_clean(stream)
        .writeStream.foreachBatch(lambda df, _id: out.extend(map(tuple, df.collect())))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(out) == want


def test_stream_pack_totals_leaves_no_checkpoint_dir(spark):
    """q_stream_pack_totals checkpoints its availableNow run in a fresh
    temp directory; the memory sink holds the rows on the driver, so the
    directory must be gone once the query returns."""
    from graph_database_application_for_recommendations_spark import registry

    pattern = os.path.join(tempfile.gettempdir(), "ck_stream_pack_totals_*")
    before = len(glob.glob(pattern))
    rows = registry.queries()["q_stream_pack_totals"](spark, SF_SMALL).collect()
    assert rows
    assert len(glob.glob(pattern)) == before


def test_stream_pack_totals_leaves_no_temp_view(spark):
    """Each q_stream_pack_totals call names a memory-sink view; the view is
    dropped before the query returns, and the returned totals still read
    the sink's rows."""
    from graph_database_application_for_recommendations_spark import registry

    def views():
        return {
            t.name for t in spark.catalog.listTables()
            if t.name.startswith("t_stream_pack_totals_")
        }

    before = views()
    first = registry.queries()["q_stream_pack_totals"](spark, SF_SMALL)
    second = registry.queries()["q_stream_pack_totals"](spark, SF_SMALL)
    assert views() == before
    assert sorted(first.collect()) == sorted(second.collect())
    assert first.count() > 0
