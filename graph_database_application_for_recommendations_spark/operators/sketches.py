"""Mergeable sketch summaries as maintained sidecar state: count-min
(frequency estimates) and HyperLogLog registers (distinct counts).

These complete the incremental-maintenance algebra (sidecar state kept
as per-batch deltas plus one consolidation aggregate, equal to a full
rebuild) with its two remaining monoid classes:

* count-min cells are ADDITIVE INTEGERS — the full group algebra: batch
  deltas sum, retraction works by negation, and the consolidated sketch
  is bit-identical to a single-pass build under any batching;
* HLL registers merge by MAX — a commutative idempotent monoid, NOT a
  group: union and replay-idempotence hold, but retraction is
  information-theoretically impossible (a max forgets who set it) — the
  one sidecar in the family where deletion genuinely requires a rebuild,
  and the docstrings say so rather than pretending otherwise.

Everything is md5-derived (functions.text.md5_hash32/60), so every
bucket index and register value is reproducible in ANSI SQL — both
sketch STATES are value-hash oracle-checkable, not just their estimates.

Sources (public): Cormode & Muthukrishnan, "An improved data stream
summary: the count-min sketch" (J. Algorithms 2005); Flajolet et al.,
"HyperLogLog: the analysis of a near-optimal cardinality estimation
algorithm" (AofA 2007); Heule et al., "HyperLogLog in practice"
(EDBT 2013) for the register-merge discipline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hints import gated_broadcast
from ..functions.text import md5_hash32, md5_hash60, tokens

CMS_DEPTH = 4
CMS_WIDTH = 1024
HLL_P = 10  # 2^10 registers
HLL_HASH_BITS = 60  # md5_hash60 payload width


def _cms_bucket(token: Column, row: int, width: int) -> Column:
    """Row ``row``'s bucket for a token: md5_hash32(token, seed=row+1) %
    width — seeds start at 1 because seed 0 means 'unsalted' in
    md5_hash32, and every CMS row must hash independently."""
    return md5_hash32(token, seed=row + 1) % width


def cms_delta_table(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """(row, bucket, c): a batch's count-min sketch of its token stream —
    one token explode, one posexplode over the ``depth`` per-row buckets,
    one (row, bucket) count aggregate. The sketch is bounded state
    (depth × width cells) regardless of corpus size, and cells are
    additive integers: deltas from disjoint batches consolidate by plain
    SUM into exactly the single-pass sketch (and negate for retraction,
    like every group-algebra sidecar)."""
    tok = documents.select(
        F.explode(tokens(F.col(text_col))).alias("token")
    )
    buckets = F.array(*[_cms_bucket(F.col("token"), r, width) for r in range(depth)])
    return (
        tok.select(F.posexplode(buckets).alias("row", "bucket"))
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def consolidate_cms(deltas: DataFrame) -> DataFrame:
    """(row, bucket, c) summed over any union/append of cms_delta_table
    outputs; zero-sum cells (fully retracted) drop — a missing cell reads
    as 0 at lookup, so the consolidated sketch equals the direct one."""
    return (
        deltas.groupBy("row", "bucket")
        .agg(F.sum("c").alias("c"))
        .filter(F.col("c") != 0)
    )


def cms_point_estimates(
    sketch: DataFrame,
    terms: list[str],
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """(token, est): count-min frequency estimates for a fixed term list
    — est = min over rows of the term's cell, the classic one-sided
    estimator (est ≥ true count, overshoot bounded by ‖counts‖₁·e/width
    with probability 1−e^−depth). The probe table is |terms|·depth rows
    joined against the bounded sketch — never touches the corpus."""
    spark = sketch.sparkSession
    probe = spark.createDataFrame([(t,) for t in terms], "token string").select(
        "token",
        F.posexplode(
            F.array(*[_cms_bucket(F.col("token"), r, width) for r in range(depth)])
        ).alias("row", "bucket"),
    )
    return (
        probe.join(sketch, ["row", "bucket"], "left")
        .groupBy("token")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("est"))
    )


def hll_register_table(
    df: DataFrame,
    key_col: str,
    p: int = HLL_P,
) -> DataFrame:
    """(bucket, max_rho): the HyperLogLog register state of a column —
    bucket = the low ``p`` bits of a 60-bit md5 hash, rho = 1 + the
    number of leading zeros in the remaining 60−p bits (w = 0 ⇒ the
    all-zero suffix ⇒ rho = 60−p+1). Bounded state (2^p rows), merged
    across batches by MAX (hll_merge) — idempotent and commutative, so
    replay is free; NOT invertible, so retraction requires a rebuild
    (the documented monoid/group boundary of the sidecar algebra).

    Every step is integer/string arithmetic shared with the DuckDB
    oracle: h = md5_hash60(key); bucket = h % 2^p; w = h >> p (a true
    bit shift — a double-precision division would lose bits above 2^53);
    rho via the minimal binary width of w (both engines render bin()
    without leading zeros)."""
    m = 1 << p
    suffix_bits = HLL_HASH_BITS - p
    h = md5_hash60(F.col(key_col).cast("string"))
    w = F.shiftright(h, p)
    rho = F.when(w == 0, F.lit(suffix_bits + 1)).otherwise(
        F.lit(suffix_bits + 1) - F.length(F.conv(w.cast("string"), 10, 2))
    )
    return (
        df.select((h % m).cast("long").alias("bucket"), rho.cast("long").alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_merge(deltas: DataFrame) -> DataFrame:
    """(bucket, max_rho) max-merged over any union/append of
    hll_register_table outputs — the monoid face: merge(a, b) = cellwise
    max, associative/commutative/idempotent, so the consolidated
    registers equal a single-pass build under any batching or replay."""
    return deltas.groupBy("bucket").agg(F.max("max_rho").alias("max_rho"))


BLOOM_BITS = 1 << 16
BLOOM_HASHES = 4
_BLOOM_WORD = 63  # bits packed per BIGINT word: bit 63 stays clear so
# every mask is non-negative and 1 << bit never overflows in either engine


def _bloom_positions(key: Column, num_bits: int, num_hashes: int) -> Column:
    """Array of the key's ``num_hashes`` bit positions — md5_hash32 with
    seeds 11.. (disjoint from the CMS row seeds)."""
    return F.array(
        *[md5_hash32(key, seed=11 + r) % num_bits for r in range(num_hashes)]
    )


def bloom_delta_table(
    df: DataFrame,
    key_col: str,
    num_bits: int = BLOOM_BITS,
    num_hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """(word, bits): a batch's Bloom filter over ``key_col`` (Bloom 1970,
    public), packed 63 bits per BIGINT word. The OR-monoid instance of
    the sidecar algebra: merge = cellwise bitwise OR — associative,
    commutative, IDEMPOTENT (replay/double-append free), and like HLL
    not invertible: no retraction, deletion rebuilds (or use a counting
    variant — the CMS sidecar IS one). Bounded state: num_bits/63 + 1
    words regardless of batch size; membership is one-sided (false
    positives only, rate ≈ (1 − e^{−kn/m})^k), which is exactly what an
    ingest pre-filter needs — a 'no' is definitive."""
    pos = df.select(
        F.explode(
            _bloom_positions(F.col(key_col).cast("string"), num_bits, num_hashes)
        ).alias("pos")
    )
    return (
        pos.select(
            (F.col("pos") / _BLOOM_WORD).cast("long").alias("word"),
            (F.col("pos") % _BLOOM_WORD).cast("int").alias("bit"),
        )
        .groupBy("word")
        # shiftleft with a COLUMN shift amount needs the SQL form (the
        # PySpark wrapper only takes a literal numBits)
        .agg(F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).alias("bits"))
    )


def bloom_merge(deltas: DataFrame) -> DataFrame:
    """(word, bits) OR-merged over any union/append of bloom_delta_table
    outputs — equals the single-pass filter under any batching."""
    return deltas.groupBy("word").agg(F.bit_or("bits").alias("bits"))


def bloom_maybe_contains(
    bloom: DataFrame,
    probes: DataFrame,
    key_col: str,
    num_bits: int = BLOOM_BITS,
    num_hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """(key, maybe_present): Bloom membership for every probe key —
    maybe_present is TRUE iff all ``num_hashes`` bits are set (one-sided:
    false ⇒ definitively absent). Plan shape: |probes|·k rows joined
    against the bounded word table (broadcast by size), then a per-key
    conjunction — the probe side never shuffles wider than its own keys;
    at ingest scale this is the map-side gate that keeps non-duplicate
    batches from ever joining the full fingerprint index."""
    pr = probes.select(F.col(key_col).cast("string").alias("key")).select(
        "key",
        F.explode(_bloom_positions(F.col("key"), num_bits, num_hashes)).alias("pos"),
    )
    pr = pr.select(
        "key",
        (F.col("pos") / _BLOOM_WORD).cast("long").alias("word"),
        F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_BLOOM_WORD} AS INT))").alias(
            "mask"
        ),
    )
    return (
        pr.join(
            gated_broadcast(bloom, "fixed-size: <= BLOOM_BITS/64 word rows"),
            "word",
            "left",
        )
        .groupBy("key")
        .agg(
            F.min(
                (F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("mask")) != 0).cast("int")
            ).cast("boolean").alias("maybe_present")
        )
    )
