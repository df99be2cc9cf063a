"""Iterative algorithm drivers + materialization pipeline (SURVEY.md §2.7).

The reference delegates these to Neo4j GDS (shared-memory, single machine);
here they are driver-side loops over DataFrame jobs — each iteration is one
declarative Spark job, with ``materialize`` or ``pin`` between iterations
to pin the round's result and truncate the logical plan (SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Row


def materialize(df: DataFrame, *, supersedes: DataFrame | None = None) -> DataFrame:
    """Iteration boundary: pin ``df``'s data and truncate its logical plan.

    Plan truncation is load-bearing, not cosmetic: logical plans are trees,
    and a Louvain sweep references the previous round's table ~5 times,
    so chaining rounds without truncation grows the plan as 5^rounds —
    analysis and plan-string generation hang long before execution would
    (observed: TreeNode.generateTreeString spinning on a toy graph).

    A bare ``localCheckpoint`` truncates but pays a slow materialization
    pass (~2x an eager cache on the FastRP round boundary — the RDD path
    skips the warm codegen'd SQL path). So: cache, run one cheap count to
    fill it, checkpoint *from* the cache (cheap re-read), then drop the
    transient cache. Measured 5.5s -> 2.9s per FastRP round at sf0.1.

    ``supersedes``: the previous round's table, released once the new one
    is pinned — keeps at most two rounds of state in storage. Safe no-op
    when the argument was never cached. When the superseded table is
    itself a prior ``materialize`` output (a localCheckpointed frame),
    plain ``unpersist`` is a no-op — it only clears CacheManager entries,
    not the checkpoint's RDD blocks — so its block-storage copy is
    dropped explicitly (``release_checkpoint``); without that, N-round
    loops accumulate N rounds of dead blocks until driver GC (ADVICE r3).
    The superseded frame must not be read again: its lineage is truncated,
    so the data is unrecoverable once the blocks are gone — which is
    exactly the ``supersedes`` contract every call site already follows.
    """
    tmp = df.cache()
    tmp.count()
    out = tmp.localCheckpoint()
    tmp.unpersist(blocking=False)
    if supersedes is not None:
        release(supersedes)
    return out


def pin(df: DataFrame, *fill: Column) -> tuple[DataFrame, Row | None]:
    """Lazy round boundary, the per-round form of :func:`materialize`:
    cache ``df``, run the one aggregate over ``fill`` on the cache when
    given (the round's only scheduled job; its Row is returned, ``None``
    without ``fill``, which schedules no job), and return the frame
    lazily checkpointed off that cache.

    The plan is truncated now: the returned frame's plan is one
    ``LogicalRDD``, so the next round's analysis does not grow with the
    round chain (3x a round on the eigenvector loop without it: 1.4 s →
    150 s by round 6 on sf0.001). The checkpoint's blocks are filled by
    the next job that reads the frame, from the retained cache, so no
    separate checkpoint pass is ever scheduled. The cache comes first
    because a bare checkpoint pass skips the codegen'd SQL path and costs
    about 2x a cache fill (``materialize``'s measurement).

    A lazy checkpoint is marked by whichever job first computes it, on
    that job's thread, an AQE ``broadcast-exchange`` thread included: the
    ``q_graph_bfs`` JVM lock cycle recorded in CHANGES.md (``FOUND:``) had
    such a thread inside ``RDD.doCheckpoint`` during BFS, whose levels are
    pins. Every lazy checkpoint in the engine outside Louvain's sweep is
    taken by this function, so a different round boundary is a change here.

    :func:`release` on the returned frame drops both its checkpoint
    blocks and the cache behind it; a frame never released keeps both
    until driver GC, which is how pins that back a returned result
    outlive the call.
    """
    tmp = df.cache()
    row = tmp.agg(*fill).first() if fill else None
    out = tmp.localCheckpoint(eager=False)
    # the cache rides on the returned object, not in a registry, so that
    # release(out) can drop it; vars() skips DataFrame.__getattr__
    vars(out)["_pinned_cache"] = tmp
    return out, row


def release(df: DataFrame) -> None:
    """Drop ``df``'s cache entry or checkpoint blocks, whichever it holds,
    and for a :func:`pin` output the cache behind its checkpoint too."""
    df.unpersist(blocking=False)
    release_checkpoint(df)
    cache = vars(df).get("_pinned_cache")
    if cache is not None:
        cache.unpersist(blocking=False)


def release_checkpoint(df: DataFrame) -> None:
    """Free the block-storage copy behind a localCheckpointed DataFrame.

    ``unpersist()`` on such a frame only touches the CacheManager (where a
    checkpoint never registers), so the MEMORY_AND_DISK blocks the
    checkpoint pinned survive until the wrapping RDD is garbage-collected
    on the driver. The blocks live on the ``LogicalRDD`` the checkpoint
    left as the frame's entire plan — unpersisting THAT rdd drops them
    now. No-op for frames that aren't checkpoint outputs.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith(".LogicalRDD"):
            rdd = plan.rdd()
            lvl = rdd.getStorageLevel()
            if lvl.useMemory() or lvl.useDisk():
                rdd.unpersist(False)
    except Exception:
        # best-effort: block release is an optimization, never a failure
        pass


#: The engine's one broadcast and driver-table budget, in bytes. Every
#: byte-sized gate asks :func:`node_vector_fits`, so 0 forces each onto its
#: shuffle or Spark branch (sites with no such branch refuse instead).
NODE_VECTOR_BUDGET_BYTES = 256 * 1024 * 1024


def node_vector_fits(n_rows: int, bytes_per_row: int = 24) -> bool:
    """Whether an ``n_rows``-row table of ``bytes_per_row``-byte rows fits
    ``NODE_VECTOR_BUDGET_BYTES`` (strictly under it): the one size rule
    behind :func:`gate_node_vector_broadcast`, the driver-held tables and
    every other byte-sized broadcast gate, since a broadcast ships its
    rows through the driver anyway."""
    return n_rows * bytes_per_row < NODE_VECTOR_BUDGET_BYTES


def gate_node_vector_broadcast(n_rows: int, what: str, bytes_per_row: int = 24):
    """Gating policy for the per-iteration |V|-row vector/label joins every
    iterative driver makes (round-8 VERDICT item 2): broadcast while the
    counted row total fits the byte budget, otherwise fall back to the
    shuffle join against the co-partitioned edge cache. Louvain carried
    this gate inline since round 3; pagerank/eigenvector/hits broadcast
    ungated — at 10⁹ nodes that is a ~24 GB broadcast per iteration, an
    executor OOM with the sane shuffle plan blocked. ``n_rows`` must be an
    actual count (every caller has one in hand); the returned callable
    carries the hygiene-sweep witness via :func:`~..functions.hints.
    gated_broadcast`. The plan sweep cannot see loop-internal joins (each
    iteration executes eagerly; only the last table's plan survives to the
    registry), so the witness is enforced at source level instead:
    ``tests/test_oracle_parity.py`` bans raw ``F.broadcast`` anywhere under
    ``plans/``."""
    from ..functions.hints import gated_broadcast

    if node_vector_fits(n_rows, bytes_per_row):
        return lambda df: gated_broadcast(
            df, f"count-gated node vector: {what}, {n_rows} rows * "
            f"{bytes_per_row} B < {NODE_VECTOR_BUDGET_BYTES} B"
        )
    return lambda df: df


def cache_wide(df: DataFrame, min_partitions: int, *partition_cols: str) -> DataFrame:
    """Cache ``df`` eagerly, re-spreading it over ``min_partitions`` if the
    executed plan landed narrower.

    Iterative algorithms re-scan their (cached) edge list every round, so
    its partition count bounds per-round parallelism — and AQE coalesces a
    few-MB aggregate output down to 1-2 partitions, which would serialize
    every sweep. Probing ``df.rdd.getNumPartitions()`` BEFORE executing is
    a trap: resolving the final AQE plan runs the whole upstream job once,
    uncached, and the subsequent cache fill runs it again. So: cache, fill,
    THEN probe (free on a finalized plan), and if too narrow, repartition
    *from the cache* (a cheap cached scan, not a recompute). A wide input —
    the 100 TB case, where repartitioning would be a full-data shuffle —
    is left exactly as it arrived.

    ``partition_cols``: hash-partition on these columns instead of round-
    robin. Worth it when every iteration aggregates or joins on exactly
    these keys: the cached table's outputPartitioning then satisfies the
    per-round ClusteredDistribution, so N rounds pay ONE setup shuffle
    instead of N per-round exchanges (and a broadcast-join probe preserves
    the partitioning through to the aggregate). The repartition is then
    unconditional (a round-robin layout never satisfies the distribution),
    so the probe-then-repartition dance is skipped: one shuffle, one cache
    fill, upstream executed exactly once as the shuffle's map side.
    """
    if partition_cols:
        wide = df.repartition(min_partitions, *partition_cols).cache()
        wide.count()
        return wide
    cached = df.cache()
    cached.count()
    if cached.rdd.getNumPartitions() >= min_partitions:
        return cached
    wide = cached.repartition(min_partitions).cache()
    wide.count()
    cached.unpersist(blocking=False)
    return wide


def estimated_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's logical-plan size estimate in bytes — catalog/file
    statistics propagated through the plan, NO job. ``None`` when the plan
    has no usable estimate (LogicalRDD/localCheckpoint report the
    conf-default sentinel, effectively +inf)."""
    try:
        # py4j maps the scala BigInt to a Python int; str() also covers a
        # JavaObject passthrough if that mapping ever changes
        size = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:  # py4j surface changed or non-SQL plan
        return None
    if size <= 0 or size >= (1 << 60):
        return None
    return size


_FIXED_WIDTH = {"boolean": 1, "tinyint": 1, "smallint": 2, "int": 4, "float": 4,
                "date": 4, "bigint": 8, "double": 8, "timestamp": 8,
                "timestamp_ntz": 8}


def row_width(df: DataFrame, var_field_bytes: int = 256) -> int:
    """Schema-derived bytes per row: fixed-width fields at their width,
    variable-width fields — string/array/binary — at ``var_field_bytes``."""
    return max(1, sum(
        _FIXED_WIDTH.get(f.dataType.simpleString(), var_field_bytes)
        for f in df.schema.fields
    ))


def estimated_row_count(df: DataFrame, var_field_bytes: int = 256) -> int | None:
    """Order-of-magnitude row estimate from the size estimate and
    :func:`row_width`. Meant for log-scaled sizing decisions (e.g. LSH
    plane counts), where a small-constant-factor error is harmless; not
    for cardinality-sensitive logic."""
    size = estimated_size_bytes(df)
    if size is None:
        return None
    return max(1, size // row_width(df, var_field_bytes))


def fanout_partitions(df: DataFrame, target_bytes: int = 1 << 20) -> int:
    """Partition count for a CPU-bound Arrow fan-out (mapInPandas kernels),
    from the catalog size estimate — replaces the pre-scan ``count()``
    sizing (VERDICT r1 item 7: at 100 TB that count is a full extra pass
    over the data before the real job). Statless plans fall back to
    defaultParallelism — never to a counting job."""
    par = df.sparkSession.sparkContext.defaultParallelism
    size = estimated_size_bytes(df)
    if size is None:
        return par
    return max(1, min(par, -(-size // target_bytes)))
