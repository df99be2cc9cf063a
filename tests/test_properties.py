"""Hypothesis property tests for operator algebra (semantic laws the
oracle compare can't express: idempotence, symmetry, bounds)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from graph_database_application_for_recommendations_spark.operators import dedup, etl, events

SLOW = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

words = st.sampled_from("alpha beta gamma delta epsilon zeta eta theta".split())
texts = st.lists(words, min_size=3, max_size=12).map(" ".join)


@given(docs=st.lists(texts, min_size=2, max_size=6, unique=True))
@SLOW
def test_jaccard_bounds_and_symmetry(spark, docs):
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id LONG, text STRING")
    rows = dedup.ngram_jaccard_pairs(df, n=2, threshold=0.0).collect()
    for r in rows:
        assert 0.0 <= r["jaccard"] <= 1.0
        assert r["doc_a"] < r["doc_b"]  # canonical orientation, no dup pairs
    # identical docs appended -> jaccard 1 with their twin
    df2 = spark.createDataFrame(
        list(enumerate(docs)) + [(100, docs[0])], "doc_id LONG, text STRING"
    )
    rows2 = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(df2, n=2, threshold=0.0).collect()
    }
    assert rows2[(0, 100)] == 1.0


@given(
    rows=st.lists(
        st.tuples(st.integers(1, 5), st.sampled_from("abc"), st.integers(1, 10)),
        min_size=1,
        max_size=12,
    )
)
@SLOW
def test_upsert_idempotent_and_total(spark, rows):
    df = spark.createDataFrame(rows, "user_id LONG, isbn STRING, rating INT")
    base = etl.upsert_keep_last(
        df.limit(0), df.dropDuplicates(["user_id", "isbn"]), ["user_id", "isbn"]
    )
    once = etl.upsert_keep_last(base, base, ["user_id", "isbn"])
    # upserting a table into itself changes nothing
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, base.collect()))
    # keys unique after upsert
    assert etl.duplicate_keys(once, ["user_id", "isbn"]).count() == 0


@given(
    left_evs=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 100)), min_size=1, max_size=10
    ),
    right_evs=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 100), st.floats(0, 10)),
        min_size=0,
        max_size=10,
    ),
)
@SLOW
def test_asof_join_matches_bruteforce(spark, left_evs, right_evs):
    """asof_join == argmax-over-filter reference implementation."""
    import datetime

    from graph_database_application_for_recommendations_spark.operators.asof import asof_join

    base = datetime.datetime(2024, 1, 1)
    t = lambda s: base + datetime.timedelta(seconds=s)
    left = spark.createDataFrame(
        [(i, k, t(s)) for i, (k, s) in enumerate(left_evs)],
        "event_id LONG, user_id LONG, ts TIMESTAMP",
    )
    right_rows = [(k, t(s), round(v, 3)) for k, s, v in right_evs]
    right = spark.createDataFrame(
        right_rows or [(0, t(0), 0.0)], "user_id LONG, ts TIMESTAMP, value DOUBLE"
    )
    if not right_rows:
        right = right.limit(0)
    got = {
        r["event_id"]: r["r_value"]
        for r in asof_join(left, right, right_cols=["value"]).collect()
    }
    # brute force in python: max-ts right row with ts <= left.ts, same key;
    # tie on equal right ts resolved by the window's last-row order, so only
    # assert value-set membership on ties
    for i, (k, s) in enumerate(left_evs):
        cands = [(rs, v) for rk, rs, v in right_evs if rk == k and rs <= s]
        if not cands:
            assert got[i] is None
        else:
            best_ts = max(rs for rs, _ in cands)
            best_vals = {round(v, 3) for rs, v in cands if rs == best_ts}
            assert got[i] in best_vals


@given(
    ts_offsets=st.lists(st.integers(0, 10_000), min_size=1, max_size=20),
)
@SLOW
def test_sessionize_partitions_events(spark, ts_offsets):
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, base + datetime.timedelta(seconds=off), 1, "click", 1.0)
        for i, off in enumerate(sorted(ts_offsets))
    ]
    df = spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE"
    )
    sessions = events.sessionize(df, gap_minutes=30).collect()
    # sessions partition the events: counts sum to total, durations >= 0
    assert sum(r["n_events"] for r in sessions) == len(rows)
    assert all(r["duration_s"] >= 0 for r in sessions)


@given(
    evs=st.lists(
        st.tuples(
            st.integers(1, 4),                      # user_id
            st.sampled_from(["click", "purchase"]),  # event_type
            st.integers(0, 7200),                    # seconds offset
        ),
        min_size=1,
        max_size=25,
    )
)
@SLOW
def test_event_conversions_matches_bruteforce(spark, evs):
    """Interval-join funnel == brute-force pair enumeration."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    t = lambda s: base + datetime.timedelta(seconds=s)
    df = spark.createDataFrame(
        [(i, u, ty, t(s)) for i, (u, ty, s) in enumerate(evs)],
        "event_id LONG, user_id LONG, event_type STRING, ts TIMESTAMP",
    )
    got = {
        (r["user_id"], r["first_event_id"], r["then_event_id"])
        for r in events.event_conversions(df, within_minutes=30).collect()
    }
    width_s = 30 * 60
    want = {
        (u1, i, j)
        for i, (u1, ty1, s1) in enumerate(evs)
        for j, (u2, ty2, s2) in enumerate(evs)
        if ty1 == "click" and ty2 == "purchase" and u1 == u2 and 0 < s2 - s1 <= width_s
    }
    assert got == want


@given(
    lengths=st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=30),
    block=st.integers(min_value=1, max_value=8),
    ctx=st.sampled_from([4, 16, 64]),
)
@SLOW
def test_pack_chunks_tiling_invariant(spark, lengths, block, ctx):
    """For ANY token lengths, block size and context: documents tile the
    stream gaplessly (each starts where the previous ended), offsets stay
    in [0, ctx), and pack_last reflects the doc's true end — the two-level
    prefix sum can never disagree with the sequential definition."""
    from graph_database_application_for_recommendations_spark.operators import packing

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in enumerate(lengths)],
        "doc_id LONG, text STRING",
    )
    rows = sorted(
        packing.pack_chunks(docs, ctx_len=ctx, block_size=block).collect(),
        key=lambda r: r["doc_id"],
    )
    start = 0
    for r, n in zip(rows, lengths):
        assert r["n_tokens"] == n
        assert r["pack_id"] == start // ctx
        assert r["pack_offset"] == start % ctx
        assert r["pack_last"] == (start + n - 1) // ctx
        start += n


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),
            st.integers(min_value=0, max_value=8),
        ).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=20,
    )
)
@SLOW
def test_pagerank_is_probability_distribution(spark, edges):
    """On any symmetric graph: ranks are positive, sum to 1 within float
    noise, and every node appearing in the edge list gets a rank."""
    from graph_database_application_for_recommendations_spark.plans.pagerank import pagerank

    sym = list({(a, b) for a, b in edges} | {(b, a) for a, b in edges})
    df = spark.createDataFrame(
        [(a, b, 1.0) for a, b in sym], "src LONG, dst LONG, weight DOUBLE"
    )
    got = {r["node_id"]: r["rank"] for r in pagerank(df, iters=5).collect()}
    assert set(got) == {n for e in sym for n in e}
    assert all(v > 0 for v in got.values())
    assert abs(sum(got.values()) - 1.0) < 1e-9


@given(
    lengths=st.lists(st.integers(min_value=1, max_value=50), min_size=1, max_size=40),
    q=st.sampled_from([0.1, 0.25, 0.5, 0.9]),
)
@settings(max_examples=8, deadline=None)
def test_length_quantile_keep_properties(spark, lengths, q):
    """Histogram-quantile filter invariants: every kept doc is at least as
    long as every dropped doc; the kept fraction is >= 1 - q; and ties at
    the threshold are all kept (no arbitrary tie splitting)."""
    import math

    from graph_database_application_for_recommendations_spark.operators.textstats import (
        length_quantile_keep,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in enumerate(lengths)],
        "doc_id LONG, text STRING",
    )
    kept = {r["doc_id"]: r["n_tokens"] for r in length_quantile_keep(docs, q=q).collect()}
    dropped = {i: n for i, n in enumerate(lengths) if i not in kept}
    assert len(kept) + len(dropped) == len(lengths)
    if kept and dropped:
        assert min(kept.values()) >= max(dropped.values())
    assert len(kept) >= len(lengths) - math.ceil(q * len(lengths)) - 0
    # tie consistency: any length present among kept docs is never dropped
    assert not (set(kept.values()) & set(dropped.values()))


@given(
    lengths=st.lists(st.integers(min_value=1, max_value=700), min_size=1, max_size=25),
    ctx=st.sampled_from([16, 64, 512]),
)
@SLOW
def test_pack_length_buckets_invariants(spark, lengths, ctx):
    """For ANY token lengths and context: bucket_len is the smallest
    power of two >= n_tokens (capped at ctx), slots stay under the
    bucket's capacity, slots within a pack are distinct, and within each
    bucket the (pack, slot) sequence is exactly doc_id order — the
    two-level rank can never disagree with the sequential definition."""
    from graph_database_application_for_recommendations_spark.operators import packing

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in enumerate(lengths)],
        "doc_id LONG, text STRING",
    )
    rows = packing.pack_length_buckets(docs, ctx_len=ctx, block_size=4).collect()
    assert len(rows) == len(lengths)
    by_bucket: dict[int, list] = {}
    for r in rows:
        n = r["n_tokens"]
        bl = r["bucket_len"]
        want = 1
        while want < min(n, ctx):
            want *= 2
        assert bl == want
        cap = ctx // bl
        assert 0 <= r["slot"] < cap
        by_bucket.setdefault(bl, []).append(r)
    for bl, rs in by_bucket.items():
        cap = ctx // bl
        rs.sort(key=lambda r: r["doc_id"])
        for rank, r in enumerate(rs):
            assert r["bucket_pack"] == rank // cap
            assert r["slot"] == rank % cap


@given(seed=st.integers(min_value=0, max_value=50))
@SLOW
def test_curriculum_order_is_a_permutation_within_deciles(spark, seed):
    """For ANY seed: positions are a dense 0..n-1 permutation within each
    decile, and the (decile, pos) pair is unique corpus-wide — the
    blocked two-level rank can't skip or duplicate a position."""
    from graph_database_application_for_recommendations_spark.operators import packing
    from graph_database_application_for_recommendations_spark.sources.views import (
        load_ref_tables,
    )

    from .conftest import SF_SMALL

    docs = load_ref_tables(spark, SF_SMALL).documents.limit(80)
    rows = packing.curriculum_order(docs, seed=seed).collect()
    assert len(rows) == 80
    by_dec: dict[int, list] = {}
    for r in rows:
        by_dec.setdefault(r["decile"], []).append(r["pos"])
    for dec, ps in by_dec.items():
        assert sorted(ps) == list(range(len(ps))), f"decile {dec} not dense"


@given(
    n=st.integers(min_value=1, max_value=14),
    edges=st.lists(
        st.tuples(st.integers(0, 13), st.integers(0, 13)), max_size=20
    ),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_greedy_first_writer_equals_sequential_greedy(spark, n, edges):
    """greedy_first_writer (parallel LFMIS rounds) equals the sequential
    definition — process ids ascending, keep a doc iff no smaller KEPT
    neighbor — on arbitrary graphs. This is the batching-invariance
    anchor: the sequential semantics IS 'one micro-batch per doc'."""
    es = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b and a < n and b < n})
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edf = (
        spark.createDataFrame(es, "a long, b long")
        if es
        else spark.createDataFrame([], "a long, b long")
    )
    got = {
        r["doc_id"]
        for r in dedup.greedy_first_writer(ids, edf).collect()
        if r["keep"]
    }
    nbrs: dict[int, set] = {}
    for a, b in es:
        nbrs.setdefault(b, set()).add(a)
    want = set()
    for i in range(n):
        if not (nbrs.get(i, set()) & want):
            want.add(i)
    assert got == want


@given(
    h=st.integers(min_value=1, max_value=24),
    w=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=1000),
    shift=st.integers(min_value=1, max_value=50),
    scale=st.integers(min_value=2, max_value=5),
)
@settings(max_examples=30, deadline=None)
def test_dhash_gradient_invariances(h, w, seed, shift, scale):
    """The integer dHash is a pure gradient signature: uniform brightness
    shifts and positive scalings leave every bit unchanged on any image
    size (the area-resize cells all share one total weight, so both
    transforms act monotonically on the compared sums); mirroring
    reverses the gradient, so bits can only come from descents."""
    import numpy as np

    from graph_database_application_for_recommendations_spark.operators.multimodal import (
        _dhash_words,
    )

    rng = np.random.RandomState(seed)
    img = rng.randint(0, 700, size=(h, w)).astype(np.int64)  # gray3 scale
    base = _dhash_words(img)
    assert _dhash_words(img + shift) == base
    assert _dhash_words(img * scale) == base
    # constant image -> no descents at all
    assert _dhash_words(np.full((h, w), 123, dtype=np.int64)) == (0, 0)


@given(
    n=st.integers(min_value=1, max_value=400),
    seed=st.integers(min_value=0, max_value=1000),
    shift=st.integers(min_value=1, max_value=50),
)
@settings(max_examples=30, deadline=None)
def test_audio_dhash_invariances(n, seed, shift):
    import numpy as np

    from graph_database_application_for_recommendations_spark.operators.multimodal import (
        _audio_dhash_words,
    )

    rng = np.random.RandomState(seed)
    s = rng.randint(0, 512, size=n).astype(np.int64)
    base = _audio_dhash_words(s)
    assert _audio_dhash_words(s + shift) == base
    assert _audio_dhash_words(s * 3) == base
    assert _audio_dhash_words(np.full(n, 7, dtype=np.int64)) == (0, 0)


@given(
    docs=st.lists(texts, min_size=4, max_size=10),
    cuts=st.lists(st.integers(0, 9), min_size=0, max_size=3),
    retract=st.booleans(),
    data=st.data(),
)
@SLOW
def test_sidecar_algebra_invariant_under_random_batching(
    spark, docs, cuts, retract, data
):
    """The group-algebra law, randomized: for ANY partition of a random
    corpus into ordered batches, sum-consolidated deltas equal the
    direct single-pass table — for token counts AND count-min cells —
    and retracting a random batch equals a direct rebuild without it."""
    from graph_database_application_for_recommendations_spark.operators.sketches import (
        cms_delta_table,
        consolidate_cms,
    )
    from graph_database_application_for_recommendations_spark.operators.textstats import (
        consolidate_token_counts,
        token_count_table,
    )

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id LONG, text STRING")
    n = len(docs)
    bounds = sorted({0, n, *[min(c, n) for c in cuts]})
    batches = [
        df.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        for lo, hi in zip(bounds, bounds[1:])
        if lo < hi
    ]
    tok_deltas, cms_deltas = None, None
    for b in batches:
        td, cd = token_count_table(b), cms_delta_table(b, width=64)
        tok_deltas = td if tok_deltas is None else tok_deltas.unionByName(td)
        cms_deltas = cd if cms_deltas is None else cms_deltas.unionByName(cd)
    assert sorted(map(tuple, consolidate_token_counts(tok_deltas).collect())) == sorted(
        map(tuple, token_count_table(df).collect())
    )
    assert sorted(map(tuple, consolidate_cms(cms_deltas).collect())) == sorted(
        map(tuple, consolidate_cms(cms_delta_table(df, width=64)).collect())
    )
    if retract and len(batches) > 1:
        kill = data.draw(st.integers(0, len(batches) - 1))
        neg = token_count_table(batches[kill]).select(
            "token", (-F.col("count")).alias("count"), (-F.col("n_docs")).alias("n_docs")
        )
        lo, hi = bounds[kill], bounds[kill + 1]
        surviving = df.filter((F.col("doc_id") < lo) | (F.col("doc_id") >= hi))
        assert sorted(
            map(tuple, consolidate_token_counts(tok_deltas.unionByName(neg)).collect())
        ) == sorted(map(tuple, token_count_table(surviving).collect()))


# ---- two-level rank bit-identity (round-8 VERDICT items 3/6) ----------------
# popularity_gini, bootstrap_ci and stratified_sample replaced single-task
# global/stratum windows with the two-level bucket-histogram rank this
# round, each claiming the composed rank is BIT-IDENTICAL to the naive
# global window. These laws pin that claim on adversarial inputs
# (duplicate counts, shared prefixes, negative ids, skewed strata) that
# the fixed-corpus oracle compare can't probe.


@given(
    items=st.lists(
        st.tuples(
            st.text(alphabet="abz019", min_size=0, max_size=5),
            st.integers(1, 4),
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[0],
    )
)
@SLOW
def test_popularity_gini_two_level_rank_matches_naive(spark, items):
    """Gini/top-decile from the two-level (count, prefix) rank must equal
    the naive global row_number() over (count, isbn) formula computed in
    plain Python."""
    from graph_database_application_for_recommendations_spark.operators.corating import (
        popularity_gini,
    )

    rows = [(u, isbn, 5) for isbn, c in items for u in range(c)]
    df = spark.createDataFrame(rows, "user_id long, isbn string, rating int")
    got = popularity_gini(df).collect()[0]
    ranked = sorted(items, key=lambda t: (t[1], t[0]))  # (count, isbn) asc
    n = len(ranked)
    tot = sum(c for _, c in ranked)
    rc = sum((i + 1) * c for i, (_, c) in enumerate(ranked))
    gini = round((2.0 * rc) / (n * tot) - (n + 1.0) / n, 6)
    topd = sum(c for _, c in ranked[n - ((n + 9) // 10):])
    assert got["n_items"] == n and got["n_interactions"] == tot
    assert got["gini"] == gini
    assert got["top_decile_share"] == round(topd / tot, 6)


@given(
    units=st.lists(
        st.tuples(st.integers(-(2**40), 2**40), st.floats(0, 1, width=32)),
        min_size=1,
        max_size=20,
        unique_by=lambda t: t[0],
    )
)
@SLOW
def test_bootstrap_ci_two_level_index_matches_naive(spark, units):
    """bootstrap_ci's two-level unit index (DIV-bucket histogram offsets +
    per-bucket row_number) must reproduce the naive replicate means: the
    md5 draw arithmetic re-run in plain Python over units sorted by id,
    including negative and far-apart ids that cross DIV buckets."""
    import hashlib

    from graph_database_application_for_recommendations_spark.operators.evaluate import (
        bootstrap_ci,
    )

    df = spark.createDataFrame(
        [(u, float(v)) for u, v in units], "unit_id long, value double"
    )
    got = bootstrap_ci(df, n_replicates=20).collect()[0]
    ordered = [v for _, v in sorted(units)]
    n = len(ordered)
    means = []
    for b in range(20):
        s = 0.0
        for j in range(n):
            h = int(hashlib.md5(f"{b}#{j}".encode()).hexdigest()[:8], 16) % n
            s += ordered[h]
        means.append(s / n)
    means.sort()
    lo = max(1, (25 * 20 + 999) // 1000)
    hi = (975 * 20 + 999) // 1000
    assert got["n_units"] == n
    assert got["ci_lo"] == round(means[lo - 1], 6)
    assert got["ci_hi"] == round(means[hi - 1], 6)


@given(
    keys=st.lists(st.integers(0, 10**6), min_size=1, max_size=30, unique=True),
    strata=st.data(),
    fraction=st.sampled_from([0.25, 0.5, 0.8]),
)
@SLOW
def test_stratified_sample_two_level_equals_naive_window(spark, keys, strata, fraction):
    """stratified_sample's two-level rank must keep EXACTLY the rows the
    naive per-stratum window kept: rank by (md5 bucket, key) per stratum,
    keep ceil(fraction*n). Reproduced in plain Python via the same md5."""
    import hashlib
    import math

    from graph_database_application_for_recommendations_spark.operators.sampling import (
        HASH_BUCKETS,
        stratified_sample,
    )

    # None is a legal stratum (round-8 ADVICE: NULL strata must sample as
    # their own group, not silently drop out of the two-level join)
    rows = [(k, strata.draw(st.sampled_from(["x", "y", None]))) for k in keys]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    got = {
        r["doc_id"]
        for r in stratified_sample(df, "lang", "doc_id", fraction, seed=3).collect()
    }
    want = set()
    for s in ("x", "y", None):
        members = [k for k, g in rows if g == s]
        if not members:
            continue
        hb = lambda k: int(
            hashlib.md5(f"{k}#3".encode()).hexdigest()[:8], 16
        ) % HASH_BUCKETS
        members.sort(key=lambda k: (hb(k), k))
        want |= set(members[: math.ceil(len(members) * fraction)])
    assert got == want


@given(
    files=st.lists(
        st.tuples(st.integers(-(2**40), 2**40), st.integers(0, 1000)),
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[0],
    ),
    target=st.sampled_from([1, 100, 1000]),
    threshold=st.sampled_from([1, 500, 1001]),
)
@SLOW
def test_compaction_plan_matches_python_replica(spark, files, target, threshold):
    """compaction_plan's first-fit binning (filter < threshold, cumsum of
    prior rows in file_id order, bin = cum DIV target) re-derived in plain
    Python — the arithmetic face of the r08 red row, pinned independently
    of any engine/oracle type seam. Includes negative file_ids (ordering)
    and zero-row files (cumsum no-ops)."""
    from graph_database_application_for_recommendations_spark.operators.layout import (
        compaction_plan,
    )

    stats = spark.createDataFrame(
        [(f, n, 0, 0, 0, 0) for f, n in files],
        "file_id long, n_rows long, min_x long, max_x long, min_y long, max_y long",
    )
    got = sorted(
        map(tuple, compaction_plan(stats, target_rows=target, small_threshold=threshold)
            .select("file_id", "n_rows", "bin_id").collect())
    )
    small = sorted((f, n) for f, n in files if n < threshold)
    want, cum = [], 0
    for f, n in small:
        want.append((f, n, cum // target))  # cum >= 0, so // == trunc-DIV
        cum += n
    assert got == sorted(want)


@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 4)),
        min_size=1,
        max_size=30,
        unique=True,
    ),
    cap=st.sampled_from([1, 2, 3, 100]),
)
@SLOW
def test_butterfly_capped_matches_python_replica(spark, pairs, cap):
    """butterfly_count with max_raters_per_book must equal the replica:
    keep the cap lowest user_ids per item, count co-pairs u1<u2 with
    shared-item weight w, butterflies = Σ w(w-1)//2 — while n_users /
    n_items stay the UNCAPPED entity counts. Probes binding/non-binding
    caps and hub items the fixed-corpus oracle face can't vary."""
    from collections import Counter

    from graph_database_application_for_recommendations_spark.operators.corating import (
        butterfly_count,
    )

    rows = [(u, f"i{i}", 8) for u, i in pairs]
    df = spark.createDataFrame(rows, "user_id long, isbn string, rating int")
    got = butterfly_count(df, max_raters_per_book=cap).collect()[0]
    by_item: dict[str, list[int]] = {}
    for u, i in pairs:
        by_item.setdefault(f"i{i}", []).append(u)
    w = Counter()
    for users in by_item.values():
        kept = sorted(users)[:cap]
        for a in range(len(kept)):
            for b in range(a + 1, len(kept)):
                w[(kept[a], kept[b])] += 1
    assert got["n_users"] == len({u for u, _ in pairs})
    assert got["n_items"] == len(by_item)
    assert got["n_copairs"] == len(w)
    assert got["n_butterflies"] == sum(c * (c - 1) // 2 for c in w.values())
    assert got["max_pair_butterflies"] == max(
        (c * (c - 1) // 2 for c in w.values()), default=0
    )


@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 5)),
        min_size=2,
        max_size=30,
        unique=True,
    ),
    cap=st.sampled_from([1, 2, 100]),
)
@SLOW
def test_linkpred_capped_matches_python_replica(spark, pairs, cap):
    """linkpred_auc with max_raters_per_book re-derived in plain Python:
    md5 item split, per-half cap of the lowest user_ids, AA scoring over
    train items of degree >=2, test-co-pair labels, exact midrank AUC.
    Probes half assignments, binding caps and degenerate single-class
    outcomes the fixed-data oracle face can't vary."""
    import hashlib
    import math
    from collections import defaultdict

    from graph_database_application_for_recommendations_spark.operators.corating import (
        linkpred_auc,
    )

    rows = [(u, f"i{i}", 8) for u, i in pairs]
    df = spark.createDataFrame(rows, "user_id long, isbn string, rating int")
    got = linkpred_auc(df, max_raters_per_book=cap).collect()[0]

    halves = defaultdict(list)  # (half, isbn) -> users
    for u, i in pairs:
        isbn = f"i{i}"
        h = int(hashlib.md5(isbn.encode()).hexdigest()[:8], 16) % 2
        halves[(h, isbn)].append(u)
    train = {k[1]: sorted(v)[:cap] for k, v in halves.items() if k[0] == 0}
    test = {k[1]: sorted(v)[:cap] for k, v in halves.items() if k[0] == 1}
    score: dict[tuple[int, int], float] = defaultdict(float)
    for users in train.values():
        if len(users) < 2:
            continue
        for a in range(len(users)):
            for b in range(a + 1, len(users)):
                score[(users[a], users[b])] += 1.0 / math.log(len(users))
    tpairs = set()
    for users in test.values():
        for a in range(len(users)):
            for b in range(a + 1, len(users)):
                tpairs.add((users[a], users[b]))
    labeled = [(round(s, 6), 1 if p in tpairs else 0) for p, s in score.items()]
    hist = defaultdict(lambda: [0, 0])
    for s, y in labeled:
        hist[s][y] += 1
    if not hist:
        # no candidate pairs at all: SQL SUM over empty is NULL on both
        # engines (the attested degenerate contract), COUNT is 0
        assert (got["n_pos"], got["n_neg"]) == (None, None)
        assert got["n_distinct_scores"] == 0 and got["auc"] is None
        return
    n_pos = sum(v[1] for v in hist.values())
    n_neg = sum(v[0] for v in hist.values())
    assert got["n_pos"] == n_pos and got["n_neg"] == n_neg
    assert got["n_distinct_scores"] == len(hist)
    if n_pos == 0 or n_neg == 0:
        assert got["auc"] is None
    else:
        cumneg, acc = 0, 0.0
        for s in sorted(hist):
            neg, pos = hist[s][0], hist[s][1]
            acc += pos * (2 * cumneg + neg)
            cumneg += neg
        assert got["auc"] == round(acc / (2.0 * n_pos * n_neg), 6)


@given(
    docs=st.lists(
        st.tuples(st.sampled_from("pq"), texts),
        min_size=2,
        max_size=10,
    ),
    top_n=st.sampled_from([1, 2, 5]),
)
@SLOW
def test_source_signatures_two_level_topk_matches_naive(spark, docs, top_n):
    """source_signatures' bucketed local top-k must select EXACTLY the
    naive per-source (tfidf desc, token asc) top-n — including tie runs
    (identical tfidf across many tokens) that straddle hash buckets."""
    import math
    from collections import Counter

    from graph_database_application_for_recommendations_spark.operators.textstats import (
        source_signatures,
    )

    rows = [(i, s, t) for i, (s, t) in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        (r["source"], r["token"]): r["tfidf"]
        for r in source_signatures(df, top_n=top_n).collect()
    }
    # naive replica in plain Python
    tf: Counter = Counter()
    tot: Counter = Counter()
    for _, s, t in rows:
        for w in t.split():
            tf[(s, w)] += 1
            tot[s] += 1
    sources = sorted(tot)
    sdf = Counter(tok for (_, tok) in set(tf))
    want = {}
    for s in sources:
        scored = [
            (round((c / tot[s]) * math.log(len(sources) / sdf[w]), 6), w)
            for (src, w), c in tf.items()
            if src == s
        ]
        scored.sort(key=lambda x: (-x[0], x[1]))
        for v, w in scored[:top_n]:
            want[(s, w)] = v
    assert got == want


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("the a of zz qqq wwww verylongtokenxx".split()),
            min_size=1,
            max_size=30,
        ).map(" ".join),
        min_size=1,
        max_size=8,
    )
)
@SLOW
def test_filter_flags_matches_python_replica(spark, docs):
    """filter_flags' integer signal counts and BIGINT cross-multiplied
    rule verdicts must equal a plain-Python replica on arbitrary token
    mixes — stopword-heavy, repeat-heavy, long/short tokens — including
    the single-token degenerate 2-gram convention."""
    from collections import Counter

    from graph_database_application_for_recommendations_spark.functions.text import (
        STOPWORDS,
    )
    from graph_database_application_for_recommendations_spark.operators.textstats import (
        FILTER_RULE_SCALE as S,
    )
    from graph_database_application_for_recommendations_spark.operators.textstats import (
        filter_flags,
    )

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in filter_flags(df).collect()}
    en = set(STOPWORDS["en"])
    for i, text in enumerate(docs):
        toks = text.lower().split()
        n = len(toks)
        total = sum(map(len, toks))
        stop = sum(t in en for t in toks)
        top = max(Counter(toks).values())
        grams = (
            [" ".join(toks[j : j + 2]) for j in range(n - 1)] if n > 1 else [toks[0]]
        )
        gc = Counter(grams)
        dup = sum(c for c in gc.values() if c > 1)
        tot_g = len(grams)
        r = got[i]
        assert (r["n_tokens"], r["total_token_len"], r["stop_hits"]) == (n, total, stop)
        assert (r["top_token_count"], r["dup_2gram_positions"], r["total_2gram_positions"]) == (
            top, dup, tot_g,
        )
        assert r["f_too_short"] == int(n < 15)
        assert r["f_too_long"] == int(n > 300)
        assert r["f_word_len"] == int(
            total * S < n * 3_000_000 or total * S > n * 10_000_000
        )
        assert r["f_stopword_floor"] == int(stop * S < n * 50_000)
        assert r["f_top_token"] == int(top * S > n * 200_000)
        assert r["f_dup_2gram"] == int(dup * S > tot_g * 300_000)
        assert r["f_any"] == int(
            any(
                r[f]
                for f in (
                    "f_too_short", "f_too_long", "f_word_len",
                    "f_stopword_floor", "f_top_token", "f_dup_2gram",
                )
            )
        )
