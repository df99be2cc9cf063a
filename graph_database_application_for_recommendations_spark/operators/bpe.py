"""Distributed BPE merge training (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units" — public literature).

``build_vocabulary``/``encode_corpus`` (textstats.py) cover the frozen-
vocabulary half of the tokenizer surface; this module covers the *training*
half: learning the merge table itself from the corpus. The algorithm is the
standard word-level BPE:

1. aggregate the corpus to (word, count) once — everything after this step
   is vocabulary-sized, not corpus-sized;
2. split each word into characters plus an end-of-word marker;
3. repeatedly (a) count adjacent symbol pairs weighted by word count,
   (b) take the most frequent pair (ties by pair lexicographically —
   the determinism contract), (c) merge its non-overlapping, leftmost-first
   occurrences in every word.

Scale shape: the corpus is touched exactly once (the word-count aggregate,
map-side combinable). Each merge round then runs over the (word, symbols)
table — bounded by |vocabulary|, shuffle keyed by the pair — and the round's
argmax is a TakeOrdered(1). The merge *application* is a pure Catalyst
higher-order ``aggregate`` over each word's symbol array (JVM codegen, zero
UDFs): a left fold carrying (rebuilt-array, just-merged-flag), which yields
exactly the leftmost-first non-overlapping semantics of the reference
algorithm ("aaa" + merge(a,a) -> ["aa", "a"]).

Pair counting counts *all* adjacent positions (overlapping included), like
the classic implementation. The output merge table is a pure function of
the corpus, so it is deterministic across engines and across runs; the
cross-checked twin is a pure-Python reference implementation in
tests/test_pipeline_ops.py (SQL cannot express the data-dependent merge
recursion, so this is one of the documented rows-only operators).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hints import gated_broadcast
from ..functions.text import tokens
from ..plans import node_vector_fits, pin, release

# sentencepiece-style marker. Enforced, not assumed (ADVICE r3): words
# containing the marker are dropped from the aggregate before training —
# a corpus that used the merge separator inside a token would otherwise
# silently corrupt symbol boundaries in every round.
END_OF_WORD = "▁"


def _adjacent_pairs(sym):
    """All adjacent (left, right) symbol pairs of an array column."""
    n = F.size(sym)
    return F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.struct(
                F.element_at(sym, i).alias("left"),
                F.element_at(sym, i + 1).alias("right"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<left:string,right:string>>"))


def _apply_merge(sym, left: str, right: str):
    """Replace leftmost-first non-overlapping (left, right) runs in ``sym``
    with the concatenated symbol — a single Catalyst fold, no UDF.

    State: (out, m) where ``m`` marks "the last element of ``out`` was
    produced by a merge this round" — the guard that makes "aaa" merge to
    ["aa", "a"] instead of chain-merging overlaps.
    """
    merged = left + right
    init = F.struct(
        F.array().cast("array<string>").alias("out"), F.lit(False).alias("m")
    )

    def step(s, x):
        can = (
            (~s["m"])
            & (F.size(s["out"]) >= 1)
            & (F.element_at(s["out"], -1) == F.lit(left))
            & (x == F.lit(right))
        )
        took = F.struct(
            F.concat(
                F.slice(s["out"], 1, F.size(s["out"]) - 1), F.array(F.lit(merged))
            ).alias("out"),
            F.lit(True).alias("m"),
        )
        kept = F.struct(
            F.concat(s["out"], F.array(x)).alias("out"), F.lit(False).alias("m")
        )
        return F.when(can, took).otherwise(kept)

    return F.aggregate(sym, init, step, lambda s: s["out"])


def bpe_merges(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_merges: int = 8,
) -> DataFrame:
    """Learn the first ``num_merges`` BPE merges from the corpus:
    (rank, left, right, pair_count), rank starting at 1 in merge order.

    Ties on pair frequency break by (left, right) ascending, making the
    whole table a deterministic function of the corpus. Each round costs
    one pair-count aggregate over the vocabulary-sized symbol table plus a
    1-row TakeOrdered collect; the symbol table is re-pinned per round
    (``plans.pin``), so plans stay flat, each round's pin is released when
    superseded, and the final rounds' pins are released before returning
    — no session-lifetime storage survives the call.
    Words containing the end-of-word marker are dropped (see
    ``END_OF_WORD``); the SQL oracle twin applies the same filter.
    """
    spark = documents.sparkSession
    words = (
        documents.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .filter(~F.col("word").contains(END_OF_WORD))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    # split(limit=-1) keeps the trailing empty string Java's split drops —
    # filter it so symbols are exactly the word's characters + the marker
    sym = F.concat(
        F.filter(F.split(F.col("word"), "(?!^)"), lambda x: F.length(x) > 0),
        F.array(F.lit(END_OF_WORD)),
    )

    # Each round is ONE job (the r9 shape paid three: cache-fill count +
    # eager checkpoint + the TakeOrdered collect): the symbol table is a
    # pin with no fill, so the fill and the checkpoint's blocks ride the
    # NEXT round's TakeOrdered collect, which is the only scheduled action.
    cur, _ = pin(words.select("wc", sym.alias("sym")))
    prev: DataFrame | None = None
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, num_merges + 1):
        top = (
            cur.select(F.explode(_adjacent_pairs(F.col("sym"))).alias("p"), "wc")
            .groupBy("p.left", "p.right")
            .agg(F.sum("wc").alias("pair_count"))
            .orderBy(F.desc("pair_count"), F.asc("left"), F.asc("right"))
            .limit(1)
            .collect()
        )
        # the collect materialized this round's pin (and consumed the
        # previous round's blocks on the way) — the previous pin is dead
        if prev is not None:
            release(prev)
            prev = None
        if not top:
            break
        row = top[0]
        merges.append((rank, row["left"], row["right"], int(row["pair_count"])))
        prev = cur
        cur, _ = pin(
            cur.select("wc", _apply_merge(F.col("sym"), row["left"], row["right"]).alias("sym"))
        )
    # the returned merge table is driver data; the remaining symbol-table
    # pins are dead — drop their blocks now instead of at GC
    release(cur)
    if prev is not None:
        release(prev)
    return spark.createDataFrame(
        merges, "rank int, left string, right string, pair_count long"
    )


def bpe_segment(
    documents: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply a learned merge table to the corpus — the tokenize half of
    BPE next to the train half above: (doc_id, n_words, n_syms_before,
    n_syms_after), where n_syms_* count word symbols (chars + end marker
    before; merged subwords after).

    Scale shape: the merge folds run over the DISTINCT-word table (
    vocabulary-sized), which joins back onto the corpus' (doc, word)
    stream — broadcast under a count gate, plain shuffle equi-join
    beyond it — so the corpus itself is touched once and never carries
    symbol arrays. Each merge is the same leftmost-first
    non-overlapping Catalyst fold the trainer uses, so train and apply
    cannot drift apart. Words containing the end-of-word marker are
    dropped, matching training."""
    words_per_doc = (
        documents.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("word"))
        .filter(~F.col("word").contains(END_OF_WORD))
    )
    sym = F.concat(
        F.filter(F.split(F.col("word"), "(?!^)"), lambda x: F.length(x) > 0),
        F.array(F.lit(END_OF_WORD)),
    )
    # one corpus pass for the distinct-word table, CACHED: the count below
    # (the broadcast gate) is its fill action, and the merge folds + join
    # side then read the filled cache — the r9 shape ran the corpus
    # distinct twice, once for the gate and once under the folds
    vocab = words_per_doc.select("word").distinct().cache()
    n_vocab = vocab.count()
    seg = vocab.select("word", sym.alias("sym"))
    for left, right in merges:
        seg = seg.withColumn("sym", _apply_merge(F.col("sym"), left, right))
    seg = seg.select("word", F.size("sym").cast("long").alias("_n_after"))
    # the distinct-word table scales with the corpus's vocabulary, which
    # web-scale noisy text does NOT bound — broadcast only on an actual
    # count; over budget, the plain equi-join shuffles, the correct plan
    # there (round-10 code review: the bare "vocabulary-sized" witness was
    # evidence-free)
    if node_vector_fits(n_vocab, 64):
        seg = gated_broadcast(
            seg, "count()-gated: distinct-word rows * 64 B < 256 MB"
        )
    return (
        words_per_doc.join(
            seg,
            "word",
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("word") + 1).alias("n_syms_before"),
            F.sum("_n_after").alias("n_syms_after"),
        )
    )
