"""Unit tests for the training-data pipeline operators (dedup, simsearch,
multimodal). Oracle parity is covered by test_oracle_parity; these pin the
semantic properties a SQL twin can't express."""

from __future__ import annotations

import zlib

import pytest
from pyspark.sql import functions as F

from graph_database_application_for_recommendations_spark.operators import (
    dedup,
    multimodal,
    simsearch,
)
from graph_database_application_for_recommendations_spark.sources.views import load_ref_tables

from .conftest import SF_SMALL


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away home"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base.replace("lazy", "sleepy")),  # near dup of 1
        (4, "  THE  quick brown fox jumps over the lazy dog and runs far away home "),  # ws/case
        (5, "completely different text about spark query engines and shuffles at scale"),
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_dedup_exact(spark, docs_with_dups):
    got = {r["fingerprint"]: (r["keep_id"], r["n_dups"]) for r in dedup.dedup_exact(docs_with_dups).collect()}
    assert len(got) == 4  # 1+2 collapse; 3,4,5 distinct raw texts
    assert (1, 2) in got.values()


def test_dedup_fingerprint_catches_case_and_whitespace(spark, docs_with_dups):
    rows = dedup.dedup_fingerprint(docs_with_dups).collect()
    groups = {r["keep_id"]: r["group_size"] for r in rows}
    # 1, 2 and 4 share the canonical token set
    assert groups[1] == 3
    assert groups[3] == 1 and groups[5] == 1


def test_ngram_jaccard_finds_near_dup(spark, docs_with_dups):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs_with_dups, n=3, threshold=0.3).collect()
    }
    assert pairs[(1, 2)] == 1.0  # identical docs
    assert 0.3 <= pairs[(1, 3)] < 1.0  # one word changed
    assert (1, 5) not in pairs  # unrelated doc


def test_lsh_verified_composition(spark, docs_with_dups):
    """neardup_lsh_verified = exact Jaccard restricted to LSH candidates:
    every returned pair carries the TRUE jaccard (no LSH false positives),
    and at threshold 0.5 the obvious dup pairs survive."""
    got = {
        (r["doc_a"], r["doc_b"]): (r["est_jaccard"], r["jaccard"])
        for r in dedup.neardup_lsh_verified(docs_with_dups, threshold=0.5).collect()
    }
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs_with_dups, threshold=0.5).collect()
    }
    # verified results are a subset of the exact kernel's, with equal values
    for pair, (_, jac) in got.items():
        assert exact[pair] == jac
    assert got[(1, 2)][1] == 1.0  # identical docs always collide + verify


def test_jaccard_verify_pairs_matches_exact_kernel(spark, docs_with_dups):
    """Restricted verify over ALL pairs == the standalone exact kernel."""
    ids = [r["doc_id"] for r in docs_with_dups.select("doc_id").collect()]
    all_pairs = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], "doc_a LONG, doc_b LONG"
    )
    restricted = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_verify_pairs(
            docs_with_dups, all_pairs, threshold=0.1
        ).collect()
    }
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs_with_dups, threshold=0.1).collect()
    }
    assert restricted == exact


def test_jaccard_verify_pairs_leaves_no_cache_entry(spark, docs_with_dups):
    """jaccard_verify_pairs pins nothing: its engine caller hands in a
    materialized candidate list and owns that pin, so a cache of the pair
    list here would be a second, unowned copy that outlives the query."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    identity = spark._jvm.System.identityHashCode

    def entries():
        data = cm.cachedData()
        return {identity(data.apply(i)) for i in range(data.size())}

    before = entries()
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "doc_a LONG, doc_b LONG")
    dedup.jaccard_verify_pairs(docs_with_dups, pairs, threshold=0.0).collect()
    assert entries() <= before


def test_jaccard_verify_pairs_subset_semi_join_restriction(spark, docs_with_dups):
    """A strict SUBSET of the candidate pairs (so the round-10 semi-join
    pre-filter actually drops corpus docs before the shingle explode)
    yields exactly the exact kernel's values for those pairs — the
    restriction must not perturb sizes or intersections."""
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs_with_dups, threshold=0.0).collect()
    }
    subset = sorted(exact)[::2][:3]
    assert subset, "fixture must produce overlapping pairs"
    pairs = spark.createDataFrame(list(subset), "doc_a LONG, doc_b LONG")
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_verify_pairs(
            docs_with_dups, pairs, threshold=0.0
        ).collect()
    }
    assert got == {p: exact[p] for p in subset}


def test_ngram_jaccard_doc_frequency_cap(spark, docs_with_dups):
    """max_docs_per_shingle: deterministic, never raises jaccard, and a
    non-binding cap reproduces the exact result."""
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs_with_dups, threshold=0.0).collect()
    }
    loose = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            docs_with_dups, threshold=0.0, max_docs_per_shingle=100
        ).collect()
    }
    assert loose == exact  # cap above every doc-frequency: no-op
    capped_runs = [
        {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs(
                docs_with_dups, threshold=0.0, max_docs_per_shingle=2
            ).collect()
        }
        for _ in range(2)
    ]
    assert capped_runs[0] == capped_runs[1]  # deterministic under the cap
    for pair, jac in capped_runs[0].items():
        assert jac <= exact[pair] + 1e-9  # capping only loses intersections


def test_repeated_ngrams_counts_cross_doc_spans(spark):
    """8-token spans shared across docs surface with doc + occurrence
    counts; spans unique to one doc don't."""
    shared = "one two three four five six seven eight"
    rows = [
        (1, f"{shared} tail-a"),
        (2, f"head-b {shared}"),
        (3, f"{shared} and {shared}"),  # twice in one doc
        (4, "completely unrelated words that repeat nothing from the others"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r["ngram_hash"]: (r["n_docs"], r["n_occurrences"])
           for r in dedup.repeated_ngrams(df, n=8).collect()}
    import hashlib

    h = hashlib.md5(shared.encode()).hexdigest()
    assert got[h] == (3, 4)  # docs 1,2,3; doc 3 contributes two positions
    # no span from doc 4 is shared
    assert all(n_docs >= 2 for n_docs, _ in got.values())


def test_embedding_neardup_lsh_subset_of_exact(spark):
    from graph_database_application_for_recommendations_spark.sources.views import load_ref_tables

    from .conftest import SF_SMALL

    emb = load_ref_tables(spark, SF_SMALL).embeddings
    exact = {
        (r["id_a"], r["id_b"]): r["similarity"]
        for r in dedup.embedding_neardup_pairs(emb, threshold=0.3).collect()
    }
    lsh = dedup.embedding_neardup_lsh(emb, threshold=0.3).collect()
    assert len(lsh) > 0
    for r in lsh:
        assert exact[(r["id_a"], r["id_b"])] == r["similarity"]


def test_neardup_components_local_and_distributed(spark):
    """Chain a-b-c is one group under min id; d-e separate; both the local
    union-find and the forced distributed min-label loop agree."""
    pairs = spark.createDataFrame(
        [(10, 20), (20, 30), (40, 50)], "doc_a LONG, doc_b LONG"
    )
    for threshold in (5_000_000, 0):  # local path, then distributed path
        comp = {
            r["doc_id"]: r["group_id"]
            for r in dedup.neardup_components(pairs, local_max_edges=threshold).collect()
        }
        assert comp == {10: 10, 20: 10, 30: 10, 40: 40, 50: 40}


def test_neardup_components_chain_converges_with_pointer_jumping(spark):
    """A 40-edge path graph under a sweep budget far below its diameter:
    the pointer-jump step makes the distributed loop converge in
    O(log diameter) rounds, so labels still reach the fixpoint (they
    silently didn't before — ADVICE r1)."""
    n = 41
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "doc_a LONG, doc_b LONG"
    )
    comp = {
        r["doc_id"]: r["group_id"]
        for r in dedup.neardup_components(
            pairs, local_max_edges=0, max_iter=10
        ).collect()
    }
    assert comp == {i: 1 for i in range(1, n + 1)}


def test_embedding_neardup_lsh_empty_input(spark):
    """Empty embeddings: empty result, not a TypeError (ADVICE r1)."""
    empty = spark.createDataFrame([], "vec_id LONG, embedding ARRAY<FLOAT>")
    out = dedup.embedding_neardup_lsh(empty)
    assert out.count() == 0
    assert out.columns == ["id_a", "id_b", "similarity"]


def test_corpus_dedup_groups_marks_representatives(spark, docs_with_dups):
    rows = {r["doc_id"]: (r["group_id"], r["keep"])
            for r in dedup.corpus_dedup_groups(docs_with_dups, threshold=0.5).collect()}
    assert set(rows) == {1, 2, 3, 4, 5}          # every doc tagged
    assert rows[1] == (1, True)                   # group representative
    assert rows[2] == (1, False)                  # exact dup of 1
    assert all(keep == (gid == did) for did, (gid, keep) in rows.items())


def test_minhash_estimates_track_true_jaccard(spark, docs_with_dups):
    est = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in dedup.minhash_lsh_pairs(
            docs_with_dups, num_hashes=32, bands=8, threshold=0.0
        ).collect()
    }
    assert est[(1, 2)] == 1.0  # identical signatures
    assert est[(1, 4)] == 1.0  # normalization collapses case/whitespace
    if (1, 3) in est:  # near-dup may or may not collide in a band
        true_j = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs(docs_with_dups, threshold=0.0).collect()
        }[(1, 3)]
        assert est[(1, 3)] == pytest.approx(true_j, abs=0.25)


def test_simhash_near_pairs(spark, docs_with_dups):
    sig = {r["doc_id"]: r["simhash"] for r in dedup.simhash_signatures(docs_with_dups).collect()}
    assert sig[1] == sig[2] == sig[4]  # identical token sets
    ham = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_near_pairs(docs_with_dups, max_hamming=12).collect()
    }
    assert ham[(1, 2)] == 0
    assert (1, 3) in ham  # one-token change stays within hamming 12
    assert (1, 5) not in ham


def test_simsearch_lsh_recall_against_bruteforce(spark):
    emb = load_ref_tables(spark, SF_SMALL).embeddings
    queries = emb.filter(F.col("vec_id") < 20)
    exact = simsearch.topk_bruteforce(queries, emb, k=5)
    approx = simsearch.topk_hyperplane_lsh(queries, emb, k=5, num_planes=4)
    exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    approx_pairs = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    # 4 hyperplanes / 16 buckets over near-random vectors: recall is modest
    # by design; the property that matters is candidates ⊂ honest top-k scoring
    assert recall > 0.2
    assert len(approx_pairs - exact_pairs) < len(approx_pairs)  # overlap exists


def test_simsearch_ivf_recall_against_bruteforce(spark):
    from graph_database_application_for_recommendations_spark.operators.ivf import topk_ivf

    emb = load_ref_tables(spark, SF_SMALL).embeddings
    queries = emb.filter(F.col("vec_id") < 20)
    exact = simsearch.topk_bruteforce(queries, emb, k=5)
    approx = topk_ivf(queries, emb, k=5, nprobe=4)
    exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    approx_rows = approx.collect()
    approx_pairs = {(r["query_id"], r["neighbor_id"]) for r in approx_rows}
    assert len(exact_pairs & approx_pairs) / len(exact_pairs) > 0.3
    # every probed candidate's similarity is the exact cosine (re-rank is honest)
    exact_all = {
        (r["query_id"], r["neighbor_id"]): r["similarity"]
        for r in simsearch.topk_bruteforce(queries, emb, k=len(emb.collect())).collect()
    }
    for r in approx_rows:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_all:
            assert r["similarity"] == pytest.approx(exact_all[key], abs=1e-9)


def test_multimodal_feature_extraction_plumbing(spark, docs_with_dups):
    docs = docs_with_dups.withColumn("source", F.lit("s")).withColumn("lang", F.lit("en"))
    assets = multimodal.assets_from_documents(
        docs.withColumnRenamed("doc_id", "doc_id")
    )
    feats = {r["asset_id"]: r for r in multimodal.extract_features(assets).collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert set(feats) == set(texts)
    for doc_id, text in texts.items():
        raw = text.encode("utf-8")
        r = feats[doc_id]
        if doc_id % 3 == 0:  # text asset: payload IS the utf-8 bytes
            assert not r["decoded"] and r["n_bytes"] == len(raw)
            assert r["crc32"] == zlib.crc32(raw)
            assert r["first_byte"] == raw[0] and r["last_byte"] == raw[-1]
        elif doc_id % 3 == 1:  # real 8x8 P6 PPM built from the text bytes
            assert r["decoded"] and r["n_bytes"] == 203
            assert (r["width"], r["height"], r["channels"]) == (8, 8, 3)
            raster = raw[:192].ljust(192, b"\0")
            assert r["mean_value"] == pytest.approx(sum(raster) / 192, abs=1e-6)
        else:  # real 8-bit mono PCM WAV
            assert r["decoded"] and r["n_bytes"] == 300
            assert (r["channels"], r["sample_rate"], r["n_samples"]) == (1, 8000, 256)
            data = raw[:256].ljust(256, b"\0")
            assert r["mean_value"] == pytest.approx(sum(data) / 256, abs=1e-6)


def test_multimodal_stdlib_decoders():
    """Direct decode of hand-built PPM / WAV fixtures."""
    import struct

    ppm = b"P6\n# a comment\n2 2\n255\n" + bytes(range(12))
    img = multimodal._decode_image(ppm)
    assert (img["width"], img["height"], img["channels"]) == (2, 2, 3)
    assert img["mean_value"] == pytest.approx(sum(range(12)) / 12, abs=1e-6)

    data = bytes(range(100))
    wav = (
        b"RIFF" + (36 + len(data)).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + (16).to_bytes(4, "little")
        + struct.pack("<HHIIHH", 1, 2, 16000, 64000, 4, 16)
        + b"data" + len(data).to_bytes(4, "little") + data
    )
    aud = multimodal._decode_audio(wav)
    assert (aud["channels"], aud["sample_rate"]) == (2, 16000)
    assert aud["n_samples"] == len(data) // 4  # 16-bit stereo
    with pytest.raises(NotImplementedError):
        multimodal._decode_audio(b"fLaC....")


def test_multimodal_frame_sampling_and_resize(spark):
    """1->N frame expansion over temporal media; fixed-size resize output
    for images; non-matching kinds are dropped by each operator."""
    rows = [
        (1, "video", b"a" * 3000, "s", "en"),
        (2, "image", b"xyz", "s", "en"),
        (3, "text", b"plain", "s", "en"),
        (4, "audio", b"b" * 2500, "s", "en"),
    ]
    assets = spark.createDataFrame(
        rows, "asset_id LONG, kind STRING, payload BINARY, meta_source STRING, meta_lang STRING"
    )
    frames = multimodal.sample_frames(assets, every_n_bytes=1024, max_frames=8).collect()
    by_asset = {}
    for r in frames:
        by_asset.setdefault(r["asset_id"], []).append(r)
    assert set(by_asset) == {1, 4}  # temporal media expand: video frames AND audio chunks
    assert [r["frame_idx"] for r in sorted(by_asset[1], key=lambda r: r["frame_idx"])] == [0, 1, 2]
    assert bytes(by_asset[1][0]["frame_bytes"]) == b"a" * 1024
    assert [r["frame_idx"] for r in sorted(by_asset[4], key=lambda r: r["frame_idx"])] == [0, 1, 2]
    assert bytes(by_asset[4][2]["frame_bytes"]) == b"b" * 452  # 2500 - 2*1024 tail chunk

    resized = multimodal.resize_images(assets, width=4, height=4).collect()
    assert [r["asset_id"] for r in resized] == [2]
    assert resized[0]["width"] == 4 and resized[0]["height"] == 4
    assert bytes(resized[0]["payload"]) == b"xyz" + b"\0" * 13


def test_multimodal_decoder_stub_raises():
    with pytest.raises(NotImplementedError):
        multimodal._decode_image(b"\x89PNG")


def _wav(audio_fmt, channels, sample_rate, bits, block_align, data):
    import struct

    fmt = struct.pack(
        "<HHIIHH", audio_fmt, channels, sample_rate,
        sample_rate * max(1, bits // 8) * channels, block_align, bits,
    )
    return (
        b"RIFF" + (20 + len(fmt) + len(data)).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
        + b"data" + len(data).to_bytes(4, "little") + data
    )


def _png_rgb(w, h, raster):
    import struct

    def chunk(ctype, body):
        return (
            len(body).to_bytes(4, "big") + ctype + body
            + zlib.crc32(ctype + body).to_bytes(4, "big")
        )

    scan = b"".join(b"\x00" + raster[y * w * 3 : (y + 1) * w * 3] for y in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(scan))
        + chunk(b"IEND", b"")
    )


def _bmp24(w, h, raster):
    import struct

    return (
        b"BM" + struct.pack("<IHHI", 54 + len(raster), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 0, 0, 0, 0)
        + raster
    )


# Payloads that open with the magic bytes of formats the engine does not
# decode (the PNG, BMP and WAV ones are complete files). Only binary PPM
# images and PCM WAV audio are decoded; everything else takes the
# byte-feature fallback and stays out of the perceptual hashes.
_UNDECODED_PAYLOADS = {
    "png": ("image", _png_rgb(2, 2, bytes(range(12)))),
    "gif87a": ("image", b"GIF87a\x02\x00\x02\x00\x80\x00\x00" + bytes(6) + b"\x3b"),
    "gif89a": ("image", b"GIF89a\x02\x00\x02\x00\x80\x00\x00" + bytes(6) + b"\x3b"),
    "jpeg": ("image", b"\xff\xd8\xff\xc0\x00\x0b\x08\x00\x08\x00\x08\x01\x01\x11\x00\xff\xd9"),
    "bmp": ("image", _bmp24(2, 2, bytes([10, 20, 30] * 4))),
    "wav_alaw": ("audio", _wav(6, 1, 8000, 8, 1, bytes(range(64)))),
    "wav_ulaw": ("audio", _wav(7, 1, 8000, 8, 1, bytes(range(64)))),
    "wav_ima_adpcm": ("audio", _wav(0x11, 1, 8000, 4, 36, bytes(36))),
}


@pytest.mark.parametrize("fmt", sorted(_UNDECODED_PAYLOADS))
def test_undecoded_formats_give_byte_features_and_no_hash(spark, fmt):
    kind, payload = _UNDECODED_PAYLOADS[fmt]
    assets = spark.createDataFrame(
        [(1, kind, bytearray(payload), "s", "en")],
        "asset_id long, kind string, payload binary, meta_source string, meta_lang string",
    )
    (r,) = multimodal.extract_features(assets).collect()
    assert r["decoded"] is False
    assert r["n_bytes"] == len(payload) and r["crc32"] == zlib.crc32(payload)
    assert (r["first_byte"], r["last_byte"]) == (payload[0], payload[-1])
    assert [r[c] for c in ("width", "height", "channels", "sample_rate", "n_samples", "mean_value")] == [None] * 6
    hash_fn = multimodal.image_dhash if kind == "image" else multimodal.audio_dhash
    assert hash_fn(assets).count() == 0


# --- round-2 training-pipeline extensions -----------------------------------


def test_scrub_pii_redacts_and_counts(spark):
    from graph_database_application_for_recommendations_spark.operators import textstats

    rows = [
        (1, "contact bob.smith+x@example.co.uk or 10.0.0.1 or +1 (555) 123-4567 now"),
        (2, "no pii here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r["doc_id"]: r for r in textstats.scrub_pii(df).collect()}
    assert got[1]["n_emails"] == 1 and got[1]["n_ips"] == 1 and got[1]["n_phones"] == 1
    assert got[1]["clean_text"] == "contact <EMAIL> or <IP> or <PHONE> now"
    assert got[2]["clean_text"] == "no pii here at all"
    assert (got[2]["n_emails"], got[2]["n_ips"], got[2]["n_phones"]) == (0, 0, 0)


def test_hash_sample_deterministic_and_stable(spark):
    from graph_database_application_for_recommendations_spark.operators import sampling

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    s1 = {r["doc_id"] for r in sampling.hash_sample(df, "doc_id", 0.3, seed=7).collect()}
    s2 = {r["doc_id"] for r in sampling.hash_sample(df, "doc_id", 0.3, seed=7).collect()}
    assert s1 == s2  # run-to-run deterministic
    assert 0.25 < len(s1) / 2000 < 0.35  # near the asked fraction
    # membership is per-key: a smaller corpus keeps the same decisions
    half = df.filter("doc_id < 1000")
    sh = {r["doc_id"] for r in sampling.hash_sample(half, "doc_id", 0.3, seed=7).collect()}
    assert sh == {k for k in s1 if k < 1000}
    # nested fractions: a 10% sample is a subset of the 30% sample
    s10 = {r["doc_id"] for r in sampling.hash_sample(df, "doc_id", 0.1, seed=7).collect()}
    assert s10 <= s1


def test_stratified_sample_exact_per_stratum(spark):
    from graph_database_application_for_recommendations_spark.operators import sampling
    from pyspark.sql import functions as F

    df = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 4).cast("string").alias("lang")
    )
    out = sampling.stratified_sample(df, "lang", "doc_id", 0.2, seed=7)
    sizes = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert sizes == {"0": 50, "1": 50, "2": 50, "3": 50}  # ceil(250 * 0.2)
    again = sampling.stratified_sample(df, "lang", "doc_id", 0.2, seed=7)
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_stratified_sample_null_stratum_is_a_stratum(spark):
    """Round-8 ADVICE: the two-level rewrite's inner equi-join silently
    dropped NULL-strata rows the old window version sampled. NULL must
    sample as its own stratum at the exact per-stratum fraction."""
    from graph_database_application_for_recommendations_spark.operators import sampling
    from pyspark.sql import functions as F

    df = spark.range(0, 300).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, F.lit(None)).otherwise(
            (F.col("id") % 3).cast("string")
        ).alias("lang"),
    )
    out = sampling.stratified_sample(df, "lang", "doc_id", 0.2, seed=7)
    sizes = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert sizes == {None: 20, "1": 20, "2": 20}  # ceil(100 * 0.2) each


def test_bootstrap_ci_key_types_and_null_units(spark):
    """Round-8 ADVICE: double/date/timestamp unit keys raised an
    AnalysisException out of the raw DIV bucket, and NULL unit ids were
    excluded from resampling but counted in n_units/mean. Doubles must
    work (same draws as the equivalent integer key), NULL units must be
    excluded everywhere, and an unbucketable type must refuse loudly."""
    import pytest
    from graph_database_application_for_recommendations_spark.operators import evaluate
    from pyspark.sql import functions as F

    ints = spark.range(0, 40).select(
        F.col("id").alias("unit_id"), (F.col("id") % 7).cast("double").alias("value")
    )
    base = evaluate.bootstrap_ci(ints, n_replicates=25).collect()[0]
    dbls = ints.select(F.col("unit_id").cast("double").alias("unit_id"), "value")
    viadouble = evaluate.bootstrap_ci(dbls, n_replicates=25).collect()[0]
    assert base == viadouble  # same rank order -> identical deterministic draws
    # NULL unit: n_units/mean computed over the same 40 non-null units
    withnull = ints.unionByName(
        spark.createDataFrame([(None, 99.0)], "unit_id long, value double")
    )
    nulled = evaluate.bootstrap_ci(withnull, n_replicates=25).collect()[0]
    assert nulled == base
    arr = ints.select(F.array("unit_id").alias("unit_id"), "value")
    with pytest.raises(TypeError, match="order-monotonic bucket"):
        evaluate.bootstrap_ci(arr)
    # NaN unit id: Spark orders NaN after +Infinity, so it must rank LAST
    # (round-9 code review: floor(NaN)->0 ranked it first) — the result
    # must equal the same data with NaN replaced by a larger-than-all key
    withnan = dbls.unionByName(
        spark.createDataFrame([(float("nan"), 42.0)], "unit_id double, value double")
    )
    asmax = dbls.unionByName(
        spark.createDataFrame([(1.0e18, 42.0)], "unit_id double, value double")
    )
    assert (
        evaluate.bootstrap_ci(withnan, n_replicates=25).collect()
        == evaluate.bootstrap_ci(asmax, n_replicates=25).collect()
    )


def test_stratified_sample_refuses_reserved_columns(spark):
    """Round-9 code review: an input already carrying an internal column
    name would be silently rewritten — the operator must refuse."""
    import pytest
    from graph_database_application_for_recommendations_spark.operators import sampling
    from pyspark.sql import functions as F

    df = spark.range(10).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 2).cast("string").alias("lang"),
        F.lit(1).alias("_strat"),
    )
    with pytest.raises(ValueError, match="internal column names"):
        sampling.stratified_sample(df, "lang", "doc_id", 0.5)


def test_stratified_sample_gates_strata_cardinality(spark, monkeypatch):
    """Round-9 VERDICT: the offsets/totals broadcasts scale with stratum
    cardinality, un-witnessed — a caller stratifying on a high-cardinality
    key (user_id) silently forced a huge broadcast. The histogram is now
    count-gated: over budget must fail LOUDLY (pointing at hash_sample),
    and the gate must not disturb the sane-stratum result."""
    import pytest
    from graph_database_application_for_recommendations_spark import plans
    from graph_database_application_for_recommendations_spark.operators import sampling
    from pyspark.sql import functions as F

    df = spark.range(0, 400).select(
        F.col("id").alias("doc_id"), F.col("id").cast("string").alias("user_id")
    )
    # per-row strata: 400 cells * 48 B > a 1 KB budget -> loud refusal
    with monkeypatch.context() as m, pytest.raises(
        ValueError, match="high-cardinality.*hash_sample"
    ):
        m.setattr(plans, "NODE_VECTOR_BUDGET_BYTES", 1024)
        sampling.stratified_sample(df, "user_id", "doc_id", 0.2, seed=7)
    # WIDE stratum values: 4 strata x <=100 buckets stays under a 40 KB
    # budget on cell count alone (<=400*48 B), but each broadcast row
    # carries the ~300-byte stratum string — the measured-payload gate
    # must refuse where a fixed-width estimate would wave it through
    # (round-10 code review)
    wide = df.withColumn(
        "lang", F.concat(F.lit("x" * 300), (F.col("doc_id") % 4).cast("string"))
    )
    with monkeypatch.context() as m, pytest.raises(
        ValueError, match="too wide|high-cardinality"
    ):
        m.setattr(plans, "NODE_VECTOR_BUDGET_BYTES", 40_000)
        sampling.stratified_sample(wide, "lang", "doc_id", 0.2, seed=7)
    # the same budget admits a 4-stratum column (<= 400 cells is the
    # histogram bound, but 4 strata * <=100 buckets * 48 B amply fits 256MB
    # default; prove the gated path returns the exact per-stratum counts)
    sane = df.withColumn("lang", (F.col("doc_id") % 4).cast("string"))
    out = sampling.stratified_sample(sane, "lang", "doc_id", 0.2, seed=7)
    sizes = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert sizes == {"0": 20, "1": 20, "2": 20, "3": 20}


def test_popularity_gini_ignores_null_isbn(spark):
    """Round-8 ADVICE: a NULL-isbn count group entered n_items and
    n_interactions but dropped out of the bucketed rank join, skewing
    gini/top_decile_share. NULL isbns are now excluded up front — the
    result must equal the same data with the NULL rows never present."""
    from graph_database_application_for_recommendations_spark.operators import corating
    from pyspark.sql import functions as F

    clean = spark.range(0, 200).select(
        F.col("id").alias("user_id"),
        F.concat(F.lit("i"), (F.col("id") % 23).cast("string")).alias("isbn"),
        F.lit(7).alias("rating"),
    )
    dirty = clean.unionByName(
        spark.range(0, 31).select(
            (F.col("id") + 1000).alias("user_id"),
            F.lit(None).cast("string").alias("isbn"),
            F.lit(7).alias("rating"),
        )
    )
    assert (
        corating.popularity_gini(dirty).collect()
        == corating.popularity_gini(clean).collect()
    )


def test_assert_broadcastable_contract_guard(spark):
    """Round-8 ADVICE: pure caller-contract gated_broadcast sites get a
    stats-based runtime guard — a frame whose plan statistics scream
    corpus-scale must refuse, a statless/small frame passes through."""
    import pytest
    from graph_database_application_for_recommendations_spark.functions.hints import (
        assert_broadcastable,
    )

    small = spark.range(100)
    assert assert_broadcastable(small, "test") is small
    huge = spark.range(2_000_000_000)  # range carries exact size stats
    with pytest.raises(ValueError, match="contract is violated"):
        assert_broadcastable(huge, "test")
    # statless (checkpoint-shaped) frames pass: the estimate can't vouch
    statless = spark.createDataFrame([(1,)], "x int")
    assert_broadcastable(statless, "test")


def test_caller_contract_query_sides_refuse_corpus_scale(spark):
    """Round-10: the remaining pure caller-contract broadcast sites
    (range_search / hard_negatives query blocks, benchmark_contamination
    eval shingles) carry the assert_broadcastable stats guard — a
    corpus-scale frame handed where a serving-sized one is contracted
    must refuse at plan time, not OOM an executor mid-broadcast."""
    import pytest
    from graph_database_application_for_recommendations_spark.operators import simsearch
    from graph_database_application_for_recommendations_spark.operators.dedup import (
        benchmark_contamination,
    )
    from pyspark.sql import functions as F

    huge = spark.range(1, 100_000_001).select(
        F.col("id").alias("vec_id"),
        F.array((F.col("id") % 7).cast("double"), F.lit(1.0)).alias("embedding"),
    )
    tiny = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="contract is violated"):
        simsearch.range_search(huge, tiny)
    with pytest.raises(ValueError, match="contract is violated"):
        simsearch.hard_negatives(huge, tiny)
    big_docs = spark.range(1, 50_000_001).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("token stream "), F.col("id").cast("string")).alias("text"),
    )
    small_docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="contract is violated"):
        benchmark_contamination(small_docs, big_docs)


def test_benchmark_contamination_flags_shared_spans(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # exactly 8 tokens
    rows_train = [
        (1, f"prefix words here {shared} suffix tail words"),
        (2, "totally clean document with no overlap whatsoever in any span"),
    ]
    rows_bench = [(100, f"benchmark question containing {shared} inside it")]
    train = spark.createDataFrame(rows_train, "doc_id LONG, text STRING")
    bench = spark.createDataFrame(rows_bench, "doc_id LONG, text STRING")
    got = {r["doc_id"]: r for r in dedup.benchmark_contamination(train, bench, n=8).collect()}
    assert 1 in got and 2 not in got
    assert got[1]["n_overlap_ngrams"] >= 1 and got[1]["n_benchmark_docs"] == 1


def test_pack_chunks_two_level_prefix_sum_matches_single_block(spark):
    """block_size=3 forces many blocks through the distributed prefix-sum
    (block partials -> exclusive block offsets -> per-block window); the
    coordinates must be identical to the single-block plan."""
    from graph_database_application_for_recommendations_spark.operators import packing

    docs = spark.createDataFrame(
        [(i, " ".join(["tok"] * (5 + (i * 7) % 11))) for i in range(40)],
        "doc_id LONG, text STRING",
    )
    multi = packing.pack_chunks(docs, ctx_len=16, block_size=3).collect()
    single = packing.pack_chunks(docs, ctx_len=16, block_size=10_000).collect()
    key = lambda r: (r["doc_id"], r["n_tokens"], r["pack_id"], r["pack_last"], r["pack_offset"])
    assert sorted(map(key, multi)) == sorted(map(key, single))


def test_pack_chunks_coordinates_are_a_gapless_token_stream(spark):
    """Consecutive documents tile the stream: each doc starts exactly where
    the previous one ended, offsets stay < ctx, and a doc spans extra packs
    iff its token range crosses a ctx boundary."""
    from graph_database_application_for_recommendations_spark.operators import packing

    ctx = 8
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in enumerate([3, 8, 1, 13, 2, 8, 5])],
        "doc_id LONG, text STRING",
    )
    rows = sorted(packing.pack_chunks(docs, ctx_len=ctx, block_size=2).collect(),
                  key=lambda r: r["doc_id"])
    start = 0
    for r in rows:
        assert r["pack_id"] == start // ctx
        assert r["pack_offset"] == start % ctx
        assert r["pack_last"] == (start + r["n_tokens"] - 1) // ctx
        start += r["n_tokens"]


def test_mix_corpus_deterministic_and_weighted(spark):
    from graph_database_application_for_recommendations_spark.operators import packing

    df = spark.range(0, 4000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 2).cast("string")).alias("source"),
    )
    out = packing.mix_corpus(df, {"src0": 0.5, "src1": 0.1}, seed=7)
    sizes = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # hash sampling is approximate per-domain but must land near target
    assert abs(sizes["src0"] - 1000) < 150 and abs(sizes["src1"] - 200) < 100
    again = packing.mix_corpus(df, {"src0": 0.5, "src1": 0.1}, seed=7)
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(r["doc_id"] for r in again.collect())
    # membership is per-key stable: dropping rows never flips survivors
    half = packing.mix_corpus(df.filter(F.col("doc_id") < 2000), {"src0": 0.5, "src1": 0.1}, seed=7)
    kept_full = {r["doc_id"] for r in out.collect() if r["doc_id"] < 2000}
    assert {r["doc_id"] for r in half.collect()} == kept_full


def test_simsearch_pq_recall_against_bruteforce(spark):
    """PQ-ADC first pass + exact re-rank: high recall on the re-ranked
    top-k, and every reported similarity is the exact rounded cosine."""
    from graph_database_application_for_recommendations_spark.operators.pq import topk_pq

    emb = load_ref_tables(spark, SF_SMALL).embeddings
    queries = emb.filter(F.col("vec_id") < 20)
    exact = simsearch.topk_bruteforce(queries, emb, k=5)
    approx_rows = topk_pq(queries, emb, k=5, m=16, rerank=10).collect()
    exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    approx_pairs = {(r["query_id"], r["neighbor_id"]) for r in approx_rows}
    assert len(exact_pairs & approx_pairs) / len(exact_pairs) > 0.6
    exact_all = {
        (r["query_id"], r["neighbor_id"]): r["similarity"]
        for r in simsearch.topk_bruteforce(queries, emb, k=len(emb.collect())).collect()
    }
    for r in approx_rows:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_all:
            assert r["similarity"] == pytest.approx(exact_all[key], abs=1e-9)


def test_pq_encode_roundtrip_determinism(spark):
    """Codes are a pure function of (corpus, params): re-encoding yields
    identical codes, and each code indexes a real centroid."""
    from graph_database_application_for_recommendations_spark.operators.pq import (
        pq_encode,
        train_pq_codebooks,
    )

    emb = load_ref_tables(spark, SF_SMALL).embeddings
    books = train_pq_codebooks(emb, m=8, k=16)
    assert books.shape == (8, 16, 8)
    a = {r["vec_id"]: r["codes"] for r in pq_encode(emb, books).collect()}
    b = {r["vec_id"]: r["codes"] for r in pq_encode(emb, books).collect()}
    assert a == b
    assert all(len(c) == 8 and all(0 <= x < 16 for x in c) for c in a.values())


def test_remove_repeated_spans(spark):
    """Tokens covered by a cross-document 4-gram are dropped; unique text
    survives; the reassembly preserves original token order."""
    boiler = "all rights reserved by publisher"  # 5 tokens, shared
    rows = [
        (1, f"intro words here {boiler} and unique tail one"),
        (2, f"different document opening {boiler} closing remarks two"),
        (3, "completely original text with no shared spans at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r["doc_id"]: r for r in dedup.remove_repeated_spans(df, n=4, min_docs=2).collect()}
    assert got[3]["clean_text"] == rows[2][1]
    assert got[3]["n_removed_tokens"] == 0
    for d in (1, 2):
        assert boiler not in got[d]["clean_text"]
        assert got[d]["n_removed_tokens"] >= 5
    # order preserved around the removed span
    assert got[1]["clean_text"].startswith("intro words here")
    assert got[1]["clean_text"].endswith("one")


def test_approx_percentiles_bracketed_by_exact(spark):
    """Each sketch quantile must land between the exact quantiles at
    q ± 0.02 — the rank-error contract of percentile_approx."""
    from graph_database_application_for_recommendations_spark.operators.events import (
        approx_value_percentiles,
    )
    from graph_database_application_for_recommendations_spark.sources.tables import load_table

    ev = load_table(spark, SF_SMALL, "events")
    approx = {
        (r["event_type"], r["quantile"]): r["value"]
        for r in approx_value_percentiles(ev).collect()
    }
    assert approx
    for (etype, q), v in approx.items():
        lo, hi = (
            ev.filter(F.col("event_type") == etype)
            .select(
                F.expr(f"percentile(value, {max(q - 0.02, 0.0)})"),
                F.expr(f"percentile(value, {min(q + 0.02, 1.0)})"),
            )
            .first()
        )
        assert lo - 1e-6 <= v <= hi + 1e-6, (etype, q, v, lo, hi)


def test_asof_directions_tolerance_and_row_atomicity(spark):
    from graph_database_application_for_recommendations_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100, 1000000), (2, 100, 5000000), (3, 200, 1000000)],
        "lid LONG, user_id LONG, ts_us LONG",
    ).select("lid", "user_id", F.timestamp_micros("ts_us").alias("ts"))
    right = spark.createDataFrame(
        [
            (10, 100, 1000000, 1.0),   # tie with lid=1
            (11, 100, 3000000, None),  # NULL value field: must carry atomically
            (12, 100, 6500000, 3.0),
        ],
        "rid LONG, user_id LONG, ts_us LONG, value DOUBLE",
    ).select("rid", "user_id", F.timestamp_micros("ts_us").alias("ts"), "value")

    def run(**kw):
        return {
            r["lid"]: (r["r_rid"], r["r_value"])
            for r in asof_join(left, right, right_cols=["rid", "value"], **kw).collect()
        }

    back = run(direction="backward")
    assert back[1] == (10, 1.0)          # tie matches at-or-before
    assert back[2] == (11, None)         # atomic: rid 11 with ITS null value,
    assert back[3] == (None, None)       #   not rid 11 + value from rid 10
    fwd = run(direction="forward")
    assert fwd[1] == (10, 1.0)           # tie matches at-or-after too
    assert fwd[2] == (12, 3.0)
    assert fwd[3] == (None, None)
    near = run(direction="nearest")
    assert near[1] == (10, 1.0)
    assert near[2] == (12, 3.0)          # 5s: back 2s away, fwd 1.5s away
    tol = run(direction="nearest", tolerance_us=1_000_000)
    assert tol[2] == (None, None)        # both sides outside 1s tolerance
    tol2 = run(direction="backward", tolerance_us=2_500_000)
    assert tol2[2] == (11, None)         # 2s back within 2.5s tolerance


def test_interval_bin_join_exact_and_duplicate_free(spark):
    """Brute-force equivalence on a dense fixture (every pair exactly once
    — a right row meets a left row only in the right row's own bin), and
    the physical join must be a hash equi-join on the bin, never the
    BroadcastNestedLoopJoin Spark plans for a raw theta predicate."""
    import itertools

    from graph_database_application_for_recommendations_spark.operators.rangejoin import (
        interval_bin_join,
    )

    lt = [(i, i * 700_000) for i in range(50)]
    rt = [(100 + i, 150_000 + i * 530_000) for i in range(60)]
    left = spark.createDataFrame(lt, "lid LONG, us LONG").select(
        "lid", F.timestamp_micros("us").alias("ts")
    )
    right = spark.createDataFrame(rt, "rid LONG, us LONG").select(
        "rid", F.timestamp_micros("us").alias("ts")
    )
    W = 1_000_000
    out = interval_bin_join(left, right, window_us=W)
    got = sorted((r["lid"], r["rid"], r["dt_us"]) for r in out.collect())
    want = sorted(
        (lid, rid, rus - lus)
        for (lid, lus), (rid, rus) in itertools.product(lt, rt)
        if abs(rus - lus) <= W
    )
    assert got == want and len(got) == len(set((a, b) for a, b, _ in got))
    plan = out._jdf.queryExecution().executedPlan().treeString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan


def test_blas_kernels_empty_inputs(spark):
    """Empty vector tables: empty results with the right schema, no
    kernel crash (mirrors the embedding_neardup_lsh empty guard)."""
    from graph_database_application_for_recommendations_spark.operators.knn import knn_exact

    empty = spark.createDataFrame([], "vec_id LONG, embedding ARRAY<DOUBLE>")
    assert knn_exact(empty, strategy="blas").count() == 0
    assert dedup.embedding_neardup_pairs(empty, strategy="blas").count() == 0
    from graph_database_application_for_recommendations_spark.functions.blas import (
        cosine_pairs,
    )

    pairs = spark.createDataFrame([], "id_a LONG, id_b LONG")
    out = cosine_pairs(pairs, empty, "vec_id", "embedding")
    assert out.count() == 0 and out.columns == ["id_a", "id_b", "_raw"]


def test_vocabulary_deterministic_dense_ids(spark):
    from graph_database_application_for_recommendations_spark.operators.textstats import (
        build_vocabulary,
    )

    rows = [(1, "b b b a a c"), (2, "a a b d"), (3, "a")]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    v = {r["token"]: (r["token_id"], r["count"], r["n_docs"])
         for r in build_vocabulary(df).collect()}
    # a: 5 occurrences in 3 docs -> id 0; b: 4 in 2 -> id 1; then c/d tie
    # on count 1, token-ascending
    assert v["a"] == (0, 5, 3) and v["b"] == (1, 4, 2)
    assert v["c"][0] == 2 and v["d"][0] == 3
    again = {r["token"]: r["token_id"] for r in build_vocabulary(df).collect()}
    assert again == {t: i for t, (i, _, _) in v.items()}
    capped = build_vocabulary(df, max_size=2, min_count=2)
    assert {r["token"] for r in capped.collect()} == {"a", "b"}


def test_vocabulary_rank_is_two_level(spark):
    """VERDICT r6 item 3: the vocabulary id assignment must not push the
    token table itself through an unpartitioned window — only the
    (count, prefix) HISTOGRAM may cross one. Bit-equality with the global
    rank is pinned by test_vocabulary_deterministic_dense_ids; this pins
    the plan shape at vocabulary scale."""
    from graph_database_application_for_recommendations_spark.operators.textstats import (
        build_vocabulary,
    )

    rows = [(i, f"tok{i % 7} tok{i % 3} unique{i}") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    plan = build_vocabulary(df)._jdf.queryExecution().optimizedPlan()

    def walk(n):
        yield n
        s = n.children()
        for i in range(s.size()):
            yield from walk(s.apply(i))

    for node in walk(plan):
        if node.nodeName() != "Window" or not node.partitionSpec().isEmpty():
            continue
        # the unpartitioned window must sort the histogram (count, _pfx),
        # never a frame carrying the token column
        order = node.orderSpec().mkString(", ")
        assert "token" not in order, f"token-keyed unpartitioned window: {order}"
        out_attrs = node.child().output().mkString(", ")
        assert "_pfx" in out_attrs and "token" not in out_attrs.replace("token_id", "")


def test_write_sized_bounds_file_count(spark, tmp_path):
    from graph_database_application_for_recommendations_spark.sources.bucketing import (
        write_sized,
    )

    src = str(tmp_path / "src")
    spark.range(0, 50_000).repartition(32).write.parquet(src)  # many small files
    df = spark.read.parquet(src)
    out = str(tmp_path / "sized")
    n = write_sized(df, out, target_bytes=1 << 20)
    import glob

    files = glob.glob(f"{out}/*.parquet")
    assert len(files) == n and n < 32  # collapsed the 32-way fragmentation
    assert spark.read.parquet(out).count() == 50_000


def test_shuffle_corpus_is_a_permutation(spark):
    """Shard positions are dense 0..count-1 per shard, every doc appears
    exactly once, and a different seed yields a different order over the
    same membership."""
    from graph_database_application_for_recommendations_spark.operators import packing

    docs = spark.range(0, 500).select(F.col("id").alias("doc_id"))
    a = packing.shuffle_corpus(docs, n_shards=8, seed=1).collect()
    assert len(a) == 500 and len({r["doc_id"] for r in a}) == 500
    by_shard = {}
    for r in a:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(len(ps)))
    b = packing.shuffle_corpus(docs, n_shards=8, seed=2).collect()
    assert {(r["doc_id"], r["shard"], r["pos"]) for r in a} != {
        (r["doc_id"], r["shard"], r["pos"]) for r in b
    }


def test_write_training_shards_roundtrip(spark, tmp_path):
    from graph_database_application_for_recommendations_spark.operators import packing

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(200)], "doc_id LONG, text STRING"
    )
    out = str(tmp_path / "shards")
    packing.write_training_shards(docs, out, n_shards=4, seed=3)
    back = spark.read.parquet(out)
    assert back.count() == 200
    assert set(back.columns) == {"doc_id", "text", "shard", "pos"}
    # shard directories exist and partition pruning applies
    one = back.filter(F.col("shard") == 2)
    assert 0 < one.count() < 200
    plan = one._jdf.queryExecution().executedPlan().treeString()
    assert "PartitionFilters: [isnotnull(shard" in plan
    # the materialized order IS shuffle_corpus's permutation
    want = {
        (r["doc_id"], r["shard"], r["pos"])
        for r in packing.shuffle_corpus(docs, n_shards=4, seed=3).collect()
    }
    got = {(r["doc_id"], r["shard"], r["pos"]) for r in back.collect()}
    assert got == want


def test_corpus_encode_vocab_join_broadcasts(spark):
    """The corpus side of encode_corpus must never shuffle: the vocabulary
    join plans as a BroadcastHashJoin."""
    from graph_database_application_for_recommendations_spark.operators import textstats

    docs = load_ref_tables(spark, SF_SMALL).documents
    vocab = textstats.build_vocabulary(docs, max_size=1000, min_count=2)
    plan = (
        textstats.encode_corpus(docs, vocab)
        ._jdf.queryExecution()
        .executedPlan()
        .treeString()
    )
    assert "BroadcastHashJoin" in plan


def test_repetition_scores_on_crafted_docs(spark):
    """Hand-checkable Gopher repetition signals."""
    from graph_database_application_for_recommendations_spark.operators import textstats

    docs = spark.createDataFrame(
        [
            (1, "a a a a"),          # one token repeated: everything is dup
            (2, "w x y z"),          # all distinct: no duplicate 2-grams
            (3, "a b a b a b"),      # period-2: 'a b' dominates
        ],
        "doc_id LONG, text STRING",
    )
    r = {x["doc_id"]: x for x in textstats.repetition_scores(docs).collect()}
    assert r[1]["top_token_fraction"] == 1.0
    assert r[1]["top_2gram_fraction"] == 1.0  # 'a a' x3 of 3 gram slots
    assert r[1]["dup_2gram_fraction"] == 1.0
    assert r[2]["top_token_fraction"] == 0.25
    assert r[2]["dup_2gram_fraction"] == 0.0
    # 'a b a b a b': grams = ab, ba, ab, ba, ab -> top 'a b' 3/5, all dup
    assert r[3]["top_2gram_fraction"] == 0.6
    assert r[3]["dup_2gram_fraction"] == 1.0


def test_range_search_semantics(spark):
    """Radius search returns exactly the >= radius pairs the brute-force
    top-k (k=inf) would, self-pairs excluded."""
    from graph_database_application_for_recommendations_spark.operators import simsearch

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    got = {
        (r["query_id"], r["neighbor_id"]): r["similarity"]
        for r in simsearch.range_search(queries, emb, radius=0.3).collect()
    }
    want = {
        (r["query_id"], r["neighbor_id"]): r["similarity"]
        for r in simsearch.topk_bruteforce(queries, emb, k=10**9).collect()
        if r["similarity"] >= 0.3
    }
    assert got == want
    assert all(qid != nid for qid, nid in got)


def test_label_centroids_roundtrip(spark):
    """Centroid of a label equals the numpy mean of its vectors."""
    import numpy as np

    from graph_database_application_for_recommendations_spark.operators import simsearch

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    got = simsearch.label_centroids(emb).filter(F.col("label") == 0).collect()
    pdf = emb.filter(F.col("label") == 0).toPandas()
    mat = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
    for r in got:
        assert r["n_vecs"] == len(mat)
        assert abs(r["centroid"] - round(float(mat[:, r["dim"]].mean()), 6)) <= 1e-6


def test_cluster_corpus_invariants(spark):
    """k-means corpus clustering: total assignment (every vector exactly
    once), cluster ids within range, similarity bounded, assignment is the
    argmax against the trained centroids, and repeated runs agree."""
    from graph_database_application_for_recommendations_spark.operators.ivf import (
        cluster_corpus,
    )

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    n = emb.count()
    got = cluster_corpus(emb, k=8, lloyd_iters=2).collect()
    assert len(got) == n
    assert len({r["vec_id"] for r in got}) == n
    assert all(0 <= r["cluster"] < 8 for r in got)
    assert all(-1.0 - 1e-9 <= r["similarity"] <= 1.0 + 1e-9 for r in got)
    again = cluster_corpus(emb, k=8, lloyd_iters=2).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))
    # clusters are non-trivial: more than one cluster actually used
    assert len({r["cluster"] for r in got}) > 1


def test_cluster_members_equals_cluster_corpus_plus_vectors(spark):
    """cluster_members (r10: the member vector rides the assignment argmax
    so SemDeDup skips a corpus-sized re-join) must pick the IDENTICAL
    winner as cluster_corpus — the appended vector field sits after the
    tie-resolving (_sim, _nc) prefix — and carry exactly the L2-normalized
    input vector."""
    import numpy as np

    from graph_database_application_for_recommendations_spark.operators.ivf import (
        cluster_corpus,
        cluster_members,
    )

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    base = {
        r["vec_id"]: (r["cluster"], r["similarity"])
        for r in cluster_corpus(emb, k=8, lloyd_iters=2).collect()
    }
    got = cluster_members(emb, k=8, lloyd_iters=2).collect()
    assert {r["vec_id"]: (r["cluster"], r["similarity"]) for r in got} == base
    pdf = emb.toPandas().set_index("vec_id")
    for r in got:
        v = np.asarray(pdf.loc[r["vec_id"], "embedding"], dtype=np.float64)
        nv = v / (np.linalg.norm(v) or 1.0)
        assert np.allclose(np.asarray(r["_nv"]), nv, atol=1e-9)


def test_temperature_fractions_properties(spark):
    """T=1 keeps the natural distribution; higher T flattens: the largest
    domain is cut hardest, the smallest kept whole; composed with
    mix_corpus the realized counts track the temperature target."""
    from graph_database_application_for_recommendations_spark.operators.packing import (
        mix_corpus,
        temperature_fractions,
    )

    counts = {"big": 8000, "mid": 1500, "small": 500}
    t1 = temperature_fractions(counts, temperature=1.0)
    assert all(abs(v - 1.0) < 1e-12 for v in t1.values())

    t3 = temperature_fractions(counts, temperature=3.0)
    assert t3["small"] == 1.0  # most up-weighted domain keeps everything
    assert t3["big"] < t3["mid"] < 1.0
    # kept distribution ∝ n_d^(1/3): check the ratio big/small post-keep
    kept = {d: counts[d] * t3[d] for d in counts}
    want_ratio = (counts["big"] / counts["small"]) ** (1 / 3)
    got_ratio = kept["big"] / kept["small"]
    assert abs(got_ratio - want_ratio) / want_ratio < 1e-9

    # composed with mix_corpus: realized keep-rates track the fractions
    doms = ["big"] * 16 + ["mid"] * 3 + ["small"]
    docs = spark.createDataFrame(
        [(i, doms[i % 20]) for i in range(4000)], "doc_id LONG, source STRING"
    )
    kept_rows = mix_corpus(docs, t3).groupBy("source").count().collect()
    got = {r["source"]: r["count"] for r in kept_rows}
    assert got["small"] == 200  # fraction 1.0 keeps everything
    assert abs(got["big"] / 3200 - t3["big"]) < 0.05  # hash-sampling noise
    with pytest.raises(ValueError):
        temperature_fractions({}, 2.0)


def test_pca_matches_numpy_and_invariants(spark):
    """pca_fit parity with a straight numpy PCA on the collected table:
    same eigenvalues, same (sign-canonicalized) components, orthonormal,
    variance-ordered; projection = centered matmul."""
    import numpy as np

    from graph_database_application_for_recommendations_spark.operators.pca import (
        pca_fit,
        pca_project,
    )
    from graph_database_application_for_recommendations_spark.sources.views import (
        load_ref_tables,
    )

    from .conftest import SF_SMALL

    emb = load_ref_tables(spark, SF_SMALL).embeddings
    mean, comps, ev = pca_fit(emb, k=8)
    X = np.asarray(
        [r["embedding"] for r in emb.select("embedding").collect()], dtype=np.float64
    )
    ref_mean = X.mean(axis=0)
    ref_cov = np.cov(X, rowvar=False)
    ref_evals, ref_evecs = np.linalg.eigh(ref_cov)
    ref_top = np.sort(ref_evals)[::-1][:8]
    assert np.allclose(mean, ref_mean, atol=1e-9)
    assert np.allclose(ev, ref_top, atol=1e-9)
    # orthonormal rows, decreasing variance
    assert np.allclose(comps @ comps.T, np.eye(8), atol=1e-9)
    assert all(ev[i] >= ev[i + 1] - 1e-12 for i in range(7))
    # sign canonicalization: the largest-|entry| coordinate is positive
    for row in comps:
        assert row[int(np.argmax(np.abs(row)))] > 0
    # projection parity on a few rows
    got = {r["vec_id"]: np.asarray(r["proj"]) for r in pca_project(emb, k=8).collect()}
    ids = emb.select("vec_id", "embedding").collect()
    for r in ids[:10]:
        want = (np.asarray(r["embedding"]) - mean) @ comps.T
        assert np.allclose(got[r["vec_id"]], want, atol=1e-9)
    # projected variance along component 0 equals the top eigenvalue
    P = np.asarray([got[r["vec_id"]] for r in ids])
    assert np.isclose(P[:, 0].var(ddof=1), ev[0], rtol=1e-6)


def test_opq_rotation_invariants_and_recall(spark):
    """OPQ (parametric, eigenvalue allocation): the rotation is
    orthonormal and preserves dot products; on unbalanced-energy data the
    rotated layout strictly lowers PQ quantization distortion (the OPQ
    objective), and recall at a fixed budget does not regress beyond
    sampling noise."""
    import numpy as np

    from graph_database_application_for_recommendations_spark.operators.pq import (
        opq_rotation,
        pq_encode,
        rotate_vectors,
        topk_opq,
        topk_pq,
        train_pq_codebooks,
    )

    rng = np.random.default_rng(11)
    d, n = 32, 600
    # skewed spectrum in NATURAL dim order: plain PQ's first subspace
    # holds nearly all the energy — the unbalanced case eigenvalue
    # allocation exists to fix
    spectrum = np.exp(-np.arange(d) / 3.0)
    X = rng.normal(size=(n, d)) * np.sqrt(spectrum)
    emb = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(X)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    R = opq_rotation(emb, m=8)
    assert np.allclose(R @ R.T, np.eye(d), atol=1e-8)
    rot_df = rotate_vectors(emb, R)
    rot = {r["vec_id"]: np.asarray(r["embedding"]) for r in rot_df.collect()}
    for i in [0, 1, 2]:
        for j in [3, 4]:
            assert np.isclose(rot[i] @ rot[j], X[i] @ X[j], atol=1e-8)

    # distortion: reconstruction MSE of the (normalized) corpus under
    # each layout's trained codebooks — the quantity OPQ optimizes
    def mse(df, mat):
        cb = train_pq_codebooks(df, m=8, k=16, sample=600)
        codes = {r["vec_id"]: r["codes"] for r in pq_encode(df, cb).collect()}
        sub = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        errs = []
        for vid, c in codes.items():
            recon = np.concatenate([cb[j, c[j]] for j in range(8)])
            errs.append(float(((sub[vid] - recon) ** 2).sum()))
        return float(np.mean(errs))

    Xrot = np.asarray([rot[i] for i in range(n)])
    mse_pq, mse_opq = mse(emb, X), mse(rot_df, Xrot)
    assert mse_opq < mse_pq, (mse_opq, mse_pq)

    # recall non-regression at a fixed budget (soft: sampling noise)
    queries = emb.filter(F.col("vec_id") < 15)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in simsearch.topk_bruteforce(queries, emb, k=5).collect()
    }
    kw = dict(k=5, m=8, num_centroids=16, rerank=3, sample=600)
    pq_pairs = {
        (r["query_id"], r["neighbor_id"]) for r in topk_pq(queries, emb, **kw).collect()
    }
    opq_pairs = {
        (r["query_id"], r["neighbor_id"]) for r in topk_opq(queries, emb, **kw).collect()
    }
    r_pq = len(exact & pq_pairs) / len(exact)
    r_opq = len(exact & opq_pairs) / len(exact)
    assert r_opq >= r_pq - 0.08, (r_opq, r_pq)


# --- BPE merge training ------------------------------------------------------


def _py_bpe(texts: list[str], num_merges: int) -> list[tuple[int, str, str, int]]:
    """Pure-Python reference BPE (Sennrich et al. 2016): the independent
    twin for the distributed trainer. Tokenization mirrors
    functions/text.py (ASCII-flag \\s+ collapse == Java/RE2 semantics on
    this ASCII corpus); ties break by (count desc, pair asc)."""
    import re
    from collections import Counter

    from graph_database_application_for_recommendations_spark.operators.bpe import END_OF_WORD

    wc: Counter = Counter()
    for t in texts:
        norm = re.sub(r"\s+", " ", t.lower(), flags=re.ASCII).strip()
        for w in norm.split(" "):
            wc[w] += 1
    syms = {w: list(w) + [END_OF_WORD] for w in wc}
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, num_merges + 1):
        pc: Counter = Counter()
        for w, c in wc.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += c
        if not pc:
            break
        (a, b), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b, n))
        for w, s in syms.items():
            out: list[str] = []
            just = False
            for x in s:
                if not just and out and out[-1] == a and x == b:
                    out[-1] = a + b
                    just = True
                else:
                    out.append(x)
                    just = False
            syms[w] = out
    return merges


def test_bpe_merges_match_reference(spark):
    """The distributed trainer's merge table is bit-identical to the pure-
    Python reference on the real corpus — merge order, tie-breaks, and
    leftmost-first non-overlapping application included."""
    from graph_database_application_for_recommendations_spark.operators.bpe import bpe_merges

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    got = [
        (r["rank"], r["left"], r["right"], r["pair_count"])
        for r in bpe_merges(docs, num_merges=10).orderBy("rank").collect()
    ]
    texts = [r["text"] for r in docs.select("text").collect()]
    want = _py_bpe(texts, 10)
    assert got == want
    assert len(got) == 10


def test_bpe_merge_application_is_leftmost_nonoverlapping(spark):
    """'aaaa b' + merge(a,a): adjacent-pair counting sees 3 (a,a) positions,
    application collapses to [aa, aa] (leftmost-first, no chain merge)."""
    from graph_database_application_for_recommendations_spark.operators.bpe import bpe_merges

    docs = spark.createDataFrame([(1, "aaaa aaaa b")], "doc_id LONG, text STRING")
    got = [
        (r["rank"], r["left"], r["right"], r["pair_count"])
        for r in bpe_merges(docs, num_merges=2).orderBy("rank").collect()
    ]
    # round 1: (a,a) appears 3 times per 'aaaa' x 2 words = 6
    assert got[0] == (1, "a", "a", 6)
    # after merging: each 'aaaa' -> [aa, aa]; round 2's top pair is (aa, aa)
    assert got[1] == (2, "aa", "aa", 2)


def test_quantize_int8_roundtrip_error_bound(spark):
    """Symmetric int8: every reconstructed coordinate is within half a
    quantization step (scale/2) of the original, and codes stay in
    [-127, 127]."""
    from graph_database_application_for_recommendations_spark.operators.quantize import (
        dequantize_int8,
        quantize_int8_flat,
    )
    from graph_database_application_for_recommendations_spark.sources.views import (
        load_ref_tables,
    )

    emb = load_ref_tables(spark, SF_SMALL).embeddings
    flat = quantize_int8_flat(emb)
    assert flat.filter((F.col("q") > 127) | (F.col("q") < -127)).count() == 0
    orig = emb.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x")
    )
    joined = orig.join(flat, ["vec_id", "dim"])
    bad = joined.filter(
        F.abs(F.col("x") - F.col("q") * F.col("scale")) > F.col("scale") / 2 + 1e-7
    )
    assert bad.count() == 0
    # dequantize reassembles full vectors in dimension order
    deq = dequantize_int8(flat)
    row = deq.filter(F.col("vec_id") == 0).collect()[0]
    assert len(row["embedding"]) == 64


def test_decode_corpus_inverts_encode(spark):
    """With a full vocabulary (min_count=1, no size cap) the decode of the
    encode equals the normalized text exactly — the id mapping is a
    bijection on the corpus vocabulary."""
    from graph_database_application_for_recommendations_spark.operators import textstats
    from graph_database_application_for_recommendations_spark.sources.views import (
        load_ref_tables,
    )

    docs = load_ref_tables(spark, SF_SMALL).documents
    vocab = textstats.build_vocabulary(docs, min_count=1)
    dec = textstats.decode_corpus(textstats.encode_corpus(docs, vocab), vocab)
    norm = docs.select(
        "doc_id",
        F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")).alias("text"),
    )
    diff = dec.join(norm, "doc_id").filter(dec["text"] != norm["text"])
    assert diff.count() == 0
    assert dec.count() == docs.count()


def test_binary_quantization_packs_signs(spark):
    """popcount of the packed words == count of positive coordinates, and
    words stay within the 32-bit range (the cross-engine layout contract)."""
    from graph_database_application_for_recommendations_spark.operators.quantize import (
        quantize_binary_flat,
    )

    emb = load_ref_tables(spark, SF_SMALL).embeddings
    flat = quantize_binary_flat(emb)
    assert flat.filter((F.col("word") < 0) | (F.col("word") > (1 << 32) - 1)).count() == 0
    pos = emb.select(
        "vec_id",
        F.size(F.filter(F.col("embedding"), lambda x: x > 0)).alias("n_pos"),
    )
    packed = flat.groupBy("vec_id").agg(F.sum(F.bit_count("word")).alias("n_bits"))
    assert packed.join(pos, "vec_id").filter(F.col("n_bits") != F.col("n_pos")).count() == 0


def test_simsearch_binary_recall_against_bruteforce(spark):
    from graph_database_application_for_recommendations_spark.operators.quantize import (
        topk_binary,
    )

    emb = load_ref_tables(spark, SF_SMALL).embeddings
    queries = emb.filter(F.col("vec_id") < 20)
    exact = simsearch.topk_bruteforce(queries, emb, k=5)
    approx = topk_binary(queries, emb, k=5, rerank=100)
    exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    approx_pairs = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    # 64 sign bits + exact rerank of 100/500 candidates: recall should be high
    assert recall > 0.6


def test_simsearch_ivfpq_recall_against_bruteforce(spark):
    from graph_database_application_for_recommendations_spark.operators.ivfpq import (
        topk_ivfpq,
    )

    emb = load_ref_tables(spark, SF_SMALL).embeddings
    queries = emb.filter(F.col("vec_id") < 20)
    exact = simsearch.topk_bruteforce(queries, emb, k=5)
    approx = topk_ivfpq(queries, emb, k=5, nprobe=4, m=8, rerank=4)
    exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    approx_pairs = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    # nprobe=4 of ~22 cells over near-random vectors: candidates bound recall;
    # the property pinned is honest composition (overlap + exact rerank)
    assert recall > 0.15
    assert approx.groupBy("query_id").count().filter("count > 5").count() == 0


def test_split_paragraphs_overflow_raises_loudly(spark):
    """ADVICE r5: a document with >= max_paras paragraphs must RAISE
    (loud-truncation discipline), not silently drop tail content and
    hash-mismatch the paragraph oracle."""
    from graph_database_application_for_recommendations_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "\n\n".join(f"p{i}" for i in range(5)))], "doc_id long, text string"
    )
    # under the cap: all paragraphs present
    ok = dedup.split_paragraphs(docs, max_paras=8)
    assert ok.count() == 5
    with pytest.raises(Exception, match="max_paras"):
        dedup.split_paragraphs(docs, max_paras=3).collect()


def _ingest_test_docs():
    """30 docs in three id-ordered groups of 10 with planted duplicates:
    doc 3 = token-permutation of doc 1 (exact/canonical dup, in-group),
    doc 15 = permutation of doc 5 (exact dup across groups),
    doc 12 = doc 2 + one appended token (near dup across groups),
    doc 23 = doc 12 + one appended token (near dup of a DROPPED doc and
    of kept doc 2's text family — exercises the chain)."""
    base = {
        i: " ".join(f"w{i}x{j}" for j in range(20)) for i in range(30)
    }
    base[3] = " ".join(reversed(base[1].split()))
    base[15] = " ".join(reversed(base[5].split()))
    base[12] = base[2] + " extra1"
    base[23] = base[12] + " extra2"
    return [(i, base[i]) for i in range(30)]


def _spanscrub_test_docs():
    """Docs with cross-batch AND in-batch shared spans: shared0..119 has
    CDC boundaries after 19/49/64/103, so its interior chunks are the
    shareable units. doc 1 owns the span; docs 11 (batch 2) and 21
    (batch 3) embed it; docs 14 and 15 (same batch) share a second span
    with each other only (in-batch first-writer case)."""
    para = " ".join(f"shared{i}" for i in range(120))
    para2 = " ".join(f"intra{i}" for i in range(120))
    rows = []
    for i in range(30):
        base = " ".join(f"d{i}w{j}" for j in range(25))
        if i == 1:
            t = para
        elif i in (11, 21):
            t = base + " " + para + f" tail{i}"
        elif i == 14:
            t = para2
        elif i == 15:
            t = base + " " + para2 + " tailx"
        else:
            t = base
        rows.append((i, t))
    return rows

def test_ingest_neardup_decisions_batching_invariance(spark):
    """Round-5 VERDICT item 3: deciding the corpus as one batch or as
    three id-ordered micro-batches, each appending its survivors'
    (fingerprint, sig) rows to the index the next one reads, keeps the
    IDENTICAL survivor set; exact and near duplicates of standing docs
    drop without rescanning corpus text."""
    from graph_database_application_for_recommendations_spark.functions.text import (
        canonical_fingerprint,
    )
    from graph_database_application_for_recommendations_spark.operators.dedup import (
        ingest_neardup_decisions,
        minhash_signature_arrays,
    )

    docs = spark.createDataFrame(_ingest_test_docs(), "doc_id long, text string")

    def index_rows(df):
        return (
            df.select("doc_id", canonical_fingerprint(F.col("text")).alias("fingerprint"))
            .join(minhash_signature_arrays(df), "doc_id", "left")
            .select("fingerprint", "sig")
        )

    def survivors(batches):
        index, kept = index_rows(docs.limit(0)), set()
        for b in batches:
            ids = {
                r["doc_id"]
                for r in ingest_neardup_decisions(index, b).collect()
                if r["status"] == "kept"
            }
            kept |= ids
            index = index.unionByName(index_rows(b.filter(F.col("doc_id").isin(sorted(ids)))))
        return kept

    got_one = survivors([docs])
    got_multi = survivors(
        [docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 10)) for lo in (0, 10, 20)]
    )
    assert got_one == got_multi
    assert 3 not in got_one and 15 not in got_one  # canonical-fp dups
    assert 12 not in got_one  # near dup of standing doc 2 (cross batch)
    assert 23 not in got_one  # near dup in the 12-2 text family
    assert {0, 1, 2, 5} <= got_one
    assert len(got_one) == 26


def test_ingest_spanscrub_decisions_batching_invariance(spark):
    """One batch vs three id-ordered micro-batches, each adding its new
    chunk hashes to the index the next one reads, scrub every doc to the
    IDENTICAL text, and that text equals remove_cross_doc_spans over the
    whole set: the submitted-text ownership rule needs no rounds."""
    from graph_database_application_for_recommendations_spark.operators.dedup import (
        ingest_spanscrub_decisions,
        remove_cross_doc_spans,
    )

    docs = spark.createDataFrame(_spanscrub_test_docs(), "doc_id long, text string")

    def scrubbed(batches):
        index = spark.createDataFrame([], "chunk_hash string")
        out = {}
        for b in batches:
            clean, new = ingest_spanscrub_decisions(index, b, boundary_mod=16, min_tokens=2)
            out.update({r["doc_id"]: r["clean_text"] for r in clean.collect()})
            index = index.unionByName(new.select("chunk_hash"))
        return out

    got_one = scrubbed([docs])
    got_multi = scrubbed(
        [docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 10)) for lo in (0, 10, 20)]
    )
    assert len(got_one) == 30
    assert got_one == got_multi
    offline = {r["doc_id"]: r["clean_text"] for r in remove_cross_doc_spans(docs).collect()}
    assert got_one == offline
    # the embedded span's interior is gone from every later doc
    for victim in (11, 21):
        kept = set(got_one[victim].split())
        assert {i for i in range(120) if f"shared{i}" not in kept} == set(range(20, 104))
    assert "intra20" not in set(got_one[15].split())  # in-batch first-writer
    assert got_one[14] == " ".join(f"intra{i}" for i in range(120))  # owner keeps


def test_sidecar_consolidations_retract_and_merge(spark):
    """The batch faces of the sidecar algebra, without any file layer:
    a batch retracted by its negated delta leaves each group-algebra
    consolidation equal to a direct build over the surviving rows;
    count-min estimates are one-sided; HLL registers max-merged over
    batches, one of them appended twice, equal the single-pass table."""
    from functools import reduce

    from pyspark.sql import DataFrame

    from graph_database_application_for_recommendations_spark.functions.text import tokens
    from graph_database_application_for_recommendations_spark.operators.simsearch import (
        centroid_delta_table,
        consolidate_centroids,
    )
    from graph_database_application_for_recommendations_spark.operators.sketches import (
        cms_delta_table,
        cms_point_estimates,
        consolidate_cms,
        hll_merge,
        hll_register_table,
    )
    from graph_database_application_for_recommendations_spark.operators.textstats import (
        bigram_count_table,
        consolidate_bigram_counts,
        consolidate_quality_hist,
        quality_hist_table,
    )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    def retracted(table, batches, cols):
        deltas = [table(b) for b in batches]
        neg = deltas[1].select(
            *[(-F.col(c)).alias(c) if c in cols else c for c in deltas[1].columns]
        )
        return reduce(DataFrame.unionByName, deltas, neg)

    docs = spark.createDataFrame(
        [
            (i, ("the and of " * (i % 3)) + " ".join(f"tok{(i * 7 + j) % 13}" for j in range(8)),
             f"src{i % 2}")
            for i in range(30)
        ]
        # only in the retracted batch: its bigrams must drop out entirely
        + [(31, "qzqz xjxj", "src1")],
        "doc_id long, text string, source string",
    )
    batches = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    surviving = docs.filter(F.col("doc_id") % 3 != 1)
    assert rows(
        consolidate_quality_hist(retracted(quality_hist_table, batches, {"n_docs"}))
    ) == rows(quality_hist_table(surviving))
    assert rows(
        consolidate_bigram_counts(retracted(bigram_count_table, batches, {"_cnt"}))
    ) == rows(consolidate_bigram_counts(bigram_count_table(surviving)))

    emb = spark.createDataFrame(
        [(i, [float(i % 4) + 0.0625 * (i % 9), float(i % 5)]) for i in range(24)],
        "vec_id long, embedding array<double>",
    )
    cent = spark.createDataFrame([(0, [0.0, 0.0]), (1, [3.0, 3.0])], "cid long, cv array<double>")
    ebatches = [emb.filter(F.col("vec_id") % 3 == i) for i in range(3)]
    assert rows(
        consolidate_centroids(
            retracted(lambda b: centroid_delta_table(b, cent), ebatches, {"isum", "n_vecs"})
        )
    ) == rows(consolidate_centroids(centroid_delta_table(emb.filter(F.col("vec_id") % 3 != 1), cent)))

    true_counts = {
        r["token"]: r["n"]
        for r in docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    est = {
        r["token"]: r["est"]
        for r in cms_point_estimates(
            consolidate_cms(cms_delta_table(docs)), list(true_counts) + ["zz_absent"]
        ).collect()
    }
    assert all(est[t] >= n for t, n in true_counts.items())
    assert est["zz_absent"] >= 0

    uids = spark.range(3000).select((F.col("id") % 1000).alias("uid"))
    merged = reduce(
        DataFrame.unionByName,
        [hll_register_table(uids.filter(F.col("uid") % 3 == i), "uid") for i in (0, 1, 2, 0)],
    )
    assert rows(hll_merge(merged)) == rows(hll_register_table(uids, "uid"))


def test_dsir_log_ratio_is_dense_and_stream_guard_rejects_mismatch(spark):
    """ADVICE r5: the trained (b, lr) table is DENSE — exactly num_buckets
    rows, unseen buckets carrying the smoothed ratio — so a scorer that
    joins it can never drop a novel document's tokens."""
    from graph_database_application_for_recommendations_spark.operators import textstats

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")], "doc_id long, text string"
    )
    target = docs.filter(F.col("doc_id") == 1)
    B = 64
    ratio = textstats.dsir_log_ratio(docs, target, num_buckets=B)
    rows = ratio.collect()
    assert len(rows) == B and {r["b"] for r in rows} == set(range(B))
    # unseen buckets carry the smoothed default, finite and uniform
    import math

    seen_lr = {r["b"]: r["lr"] for r in rows}
    # 2 docs x 2 tokens = 4 raw tokens, 2 target tokens
    default_lr = math.log(1.0 / (2 + B)) - math.log(1.0 / (4 + B))
    unseen = [lr for b, lr in seen_lr.items() if abs(lr - default_lr) < 1e-12]
    assert len(unseen) >= B - 3  # at most 3 distinct token buckets occupied


def test_ivfpq_lut_gate_distributed_path_is_bit_equal(spark):
    """Round-5 VERDICT item 5: the query-side LUT toPandas() is size-gated.
    Forcing the beyond-gate path (max_local_queries=0) must run the Arrow
    mapInPandas LUT kernel + shuffle joins and return results bit-equal to
    the serving-sized driver path (the per-query einsum is identical), and
    its plan must contain no broadcast of the query-carrying tables."""
    from graph_database_application_for_recommendations_spark.operators.ivfpq import (
        topk_ivfpq,
    )

    emb = load_ref_tables(spark, SF_SMALL).embeddings
    queries = emb.filter(F.col("vec_id") < 10)
    kw = dict(k=5, nprobe=4, m=8, rerank=4)
    local = topk_ivfpq(queries, emb, **kw)
    dist = topk_ivfpq(queries, emb, max_local_queries=0, **kw)
    assert "MapInPandas" in dist._jdf.queryExecution().executedPlan().toString()
    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(local) == key(dist)


def test_greedy_first_writer_is_lfmis(spark):
    """The in-batch ingest resolution is the lexicographically-first
    maximal independent set: a doc killed by a DROPPED doc survives
    (path 1-2-3-4-5-6 keeps {1,3,5}), a hub kills all its larger
    neighbors, isolated docs always survive — and the multi-round
    frontier advances correctly (the path forces 3 rounds)."""
    from graph_database_application_for_recommendations_spark.operators.dedup import (
        greedy_first_writer,
    )

    ids = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)], "a long, b long"
    )
    kept = {r["doc_id"] for r in greedy_first_writer(ids, edges).collect() if r["keep"]}
    assert kept == {1, 3, 5, 7}

    star = spark.createDataFrame([(1, 2), (1, 3), (1, 4)], "a long, b long")
    ids4 = spark.createDataFrame([(i,) for i in range(1, 5)], "doc_id long")
    kept = {r["doc_id"] for r in greedy_first_writer(ids4, star).collect() if r["keep"]}
    assert kept == {1}


def _gradient(h, w):
    import numpy as np

    yy, xx = np.mgrid[0:h, 0:w]
    r = (xx * 255 // max(w - 1, 1)).astype("uint8")
    g = (yy * 255 // max(h - 1, 1)).astype("uint8")
    b = ((xx + yy) * 255 // max(h + w - 2, 1)).astype("uint8")
    return np.stack([r, g, b], axis=-1)


def _ppm(img):
    h, w, _ = img.shape
    return f"P6\n{w} {h}\n255\n".encode() + img.tobytes()


def test_image_phash_dedup_finds_neardup_ppms(spark):
    """The multimodal × dedup composition: two PPMs of almost the same
    image land within Hamming 6 of each other (the gradient bits ride the
    decoded pixels, not the bytes — the payloads differ), a genuinely
    different image pairs with neither, and the PPM pixel path agrees with
    a hand-computed dHash on a synthetic two-tone raster."""
    import numpy as np

    img = _gradient(32, 48)
    img2 = img.copy()
    img2[:2, :2] = 0  # tiny corner edit: near-dup, different payload
    img3 = img[:, ::-1].copy()  # mirrored: different gradient signs
    assets = spark.createDataFrame(
        [
            (1, "image", bytearray(_ppm(img)), "s", "en"),
            (2, "image", bytearray(_ppm(img2)), "s", "en"),
            (3, "image", bytearray(_ppm(img3)), "s", "en"),
            (4, "audio", bytearray(b"RIFFxxxx"), "s", "en"),  # ignored kind
        ],
        "asset_id long, kind string, payload binary, meta_source string, meta_lang string",
    )
    pairs = {
        (r["asset_a"], r["asset_b"]): r["hamming"]
        for r in multimodal.image_phash_pairs(assets, max_hamming=6).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= 6
    assert (1, 3) not in pairs and (2, 3) not in pairs

    # hand-checked: left half dark, right half bright -> a bit is set only
    # when the LEFT cell is brighter, which never happens, so both words
    # are zero. Mirrored (bright cols 0-3 -> scaled span [0,36)), the 9
    # resize buckets [8j, 8j+8) make cells 0-3 fully bright, cell 4 mixed
    # ([32,36) bright), cells 5-8 dark: descending steps at j=3 and j=4 ->
    # exactly two bits per row, 16 total.
    dark_bright = np.zeros((8, 8, 3), dtype=np.uint8)
    dark_bright[:, 4:] = 200
    from graph_database_application_for_recommendations_spark.operators.multimodal import (
        _decode_gray3,
        _dhash_words,
    )
    w0, w1 = _dhash_words(_decode_gray3(_ppm(dark_bright)))
    assert (w0, w1) == (0, 0)
    w0m, w1m = _dhash_words(_decode_gray3(_ppm(dark_bright[:, ::-1].copy())))
    assert bin(w0m).count("1") + bin(w1m).count("1") == 16


def test_decode_gray3_ppm_path_matches_raster():
    """The pHash pixel feed is the PPM raster's per-pixel channel sum,
    with or without a header comment line."""
    import numpy as np

    from graph_database_application_for_recommendations_spark.operators.multimodal import (
        _decode_gray3,
    )

    w, h = 6, 5
    raster = bytes((i * 53 + 7) % 256 for i in range(w * h * 3))
    want = np.frombuffer(raster, dtype=np.uint8).astype(np.int64).reshape(h, w, 3).sum(axis=2)
    got = _decode_gray3(f"P6\n{w} {h}\n255\n".encode() + raster)
    assert got.shape == (h, w) and (got == want).all()
    commented = f"P6\n# a comment\n{w} {h}\n255\n".encode() + raster
    assert (_decode_gray3(commented) == want).all()


def test_audio_dhash_finds_neardup_wavs(spark):
    """Audio face of perceptual-hash dedup: a lightly-perturbed copy of a
    WAV lands within Hamming 6, an unrelated waveform pairs with
    neither, 16-bit stereo decodes through the same sample path."""
    import math
    import struct as st

    import numpy as np

    from graph_database_application_for_recommendations_spark.operators.multimodal import (
        _WAV_HEADER,
        _decode_pcm_samples,
        audio_phash_pairs,
    )

    def wav8(samples):  # 256-byte 8-bit mono, reusing the fixture header
        return _WAV_HEADER + bytes(samples[:256]).ljust(256, b"\x80")

    base = [int(128 + 100 * math.sin(i / 6.0)) for i in range(256)]
    near = list(base)
    for i in range(0, 256, 50):
        near[i] = min(255, near[i] + 3)  # tiny clicks
    other = [int(128 + 100 * math.sin(i / 2.3 + 1)) for i in range(256)]
    assets = spark.createDataFrame(
        [
            (1, "audio", bytearray(wav8(base)), "s", "en"),
            (2, "audio", bytearray(wav8(near)), "s", "en"),
            (3, "audio", bytearray(wav8(other)), "s", "en"),
            (4, "image", bytearray(b"P6 bogus"), "s", "en"),
        ],
        "asset_id long, kind string, payload binary, meta_source string, meta_lang string",
    )
    pairs = {
        (r["asset_a"], r["asset_b"]): r["hamming"]
        for r in audio_phash_pairs(assets, max_hamming=6).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= 6
    assert (1, 3) not in pairs and (2, 3) not in pairs

    # 16-bit stereo: channel-sum sample path
    frames = [(-1000 + 37 * i, 500 - 20 * i) for i in range(16)]
    data = b"".join(st.pack("<hh", a, b) for a, b in frames)
    hdr = (
        b"RIFF" + (36 + len(data)).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + (16).to_bytes(4, "little")
        + st.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
        + b"data" + len(data).to_bytes(4, "little")
    )
    got = _decode_pcm_samples(hdr + data)
    want = np.array([a + b for a, b in frames], dtype=np.int64)
    assert (got == want).all()


def test_unimax_budgets_water_filling():
    """UniMax allocation: small domains kept whole, the rest split the
    remainder at one common level; total equals the budget when the
    budget is feasible; over-budget degenerates to everything."""
    from graph_database_application_for_recommendations_spark.operators.packing import (
        unimax_budgets,
    )

    a = unimax_budgets({"a": 10, "b": 100, "c": 1000}, 600)
    assert a == {"a": 10.0, "b": 100.0, "c": 490.0}
    assert sum(a.values()) == 600
    assert unimax_budgets({"a": 10, "b": 100, "c": 1000}, 5000) == {
        "a": 10.0, "b": 100.0, "c": 1000.0,
    }
    e = unimax_budgets({"a": 500, "b": 500, "c": 500}, 900)
    assert e == {"a": 300.0, "b": 300.0, "c": 300.0}
    with pytest.raises(ValueError):
        unimax_budgets({}, 10)


def test_decontaminate_flags_eval_overlap(spark):
    """A training doc sharing an 8-gram span with the eval set is flagged
    with the exact position count; disjoint docs are clean; duplicate
    spans in one doc each count (memorized-surface semantics)."""
    from graph_database_application_for_recommendations_spark.operators.dedup import (
        decontaminate,
    )

    leak = "the quick brown fox jumps over the lazy dog"  # 9 tokens, 2 8-grams
    train = spark.createDataFrame(
        [
            (1, leak + " indeed"),                      # shares both 8-grams + more
            (2, "completely different words " + " ".join(f"z{i}" for i in range(10))),
            (3, leak + " " + leak),                     # leaked span twice
        ],
        "doc_id long, text string",
    )
    evalset = spark.createDataFrame([(100, leak)], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in decontaminate(train, evalset, n=8).collect()}
    assert rows[1]["contaminated"] and rows[1]["eval_hits"] == 2
    assert not rows[2]["contaminated"] and rows[2]["eval_hits"] == 0
    assert rows[3]["contaminated"] and rows[3]["eval_hits"] > 2


def test_cdc_chunks_shift_robust(spark):
    """The CDC property fixed windows lack: prepending a sentence to a
    document changes ONLY the first chunk's hash — every chunk after the
    first content-defined boundary keeps its fingerprint, so cross-doc
    chunk dedup still matches the shared tail."""
    from graph_database_application_for_recommendations_spark.operators.dedup import (
        cdc_chunk_fingerprints,
    )

    base = " ".join(f"tok{i}" for i in range(200))
    docs = spark.createDataFrame(
        [(1, base), (2, "an entirely new preamble sentence " + base)],
        "doc_id long, text string",
    )
    chunks = cdc_chunk_fingerprints(docs).collect()
    h1 = {r["chunk_hash"] for r in chunks if r["doc_id"] == 1}
    h2 = {r["chunk_hash"] for r in chunks if r["doc_id"] == 2}
    shared = h1 & h2
    # all of doc 1's chunks except (at most) its first survive in doc 2
    assert len(shared) >= len(h1) - 1 and len(h1) > 3
    # within a doc, chunk indexes are dense from 0
    idx1 = sorted(r["chunk_idx"] for r in chunks if r["doc_id"] == 1)
    assert idx1 == list(range(len(idx1)))


def test_greedy_first_writer_depth_equals_budget(spark):
    """ADVICE r6 off-by-one: a duplicate chain whose depth equals
    max_iters exactly must settle (the final granted round empties
    undecided), not raise budget exhaustion."""
    from graph_database_application_for_recommendations_spark.operators.dedup import (
        greedy_first_writer,
    )

    ids = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "a long, b long")
    got = {r["doc_id"]: r["keep"] for r in greedy_first_writer(ids, edges, max_iters=4).collect()}
    assert got == {0: True, 1: False, 2: True, 3: False}


def test_remove_cross_doc_spans_scrubs_embedded_paragraph(spark):
    """VERDICT r6 item 2: a document that embeds another document's
    paragraph verbatim comes out with that span scrubbed (first-writer-
    wins: the smaller-id doc keeps it), while unique content survives
    untouched in both."""
    from graph_database_application_for_recommendations_spark.operators.dedup import (
        remove_cross_doc_spans,
    )

    # tokens shared0..119 have CDC boundaries (md5%16==0) after indexes
    # 19, 49, 64, 103 — so the span's INTERIOR chunks, [20..49], [50..64]
    # and [65..103], are both-side-bounded and must match across docs;
    # the first and last chunks fuse with each doc's surrounding prose
    para = " ".join(f"shared{i}" for i in range(120))
    own = " ".join(f"mine{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, para), (2, own + " " + para + " tail0 tail1")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in remove_cross_doc_spans(docs).collect()}
    # doc 1 (first writer) keeps everything
    assert got[1]["clean_text"] == para and got[1]["n_removed_tokens"] == 0
    kept2 = set(got[2]["clean_text"].split())
    assert all(f"mine{i}" in kept2 for i in range(30))
    missing = {i for i in range(120) if f"shared{i}" not in kept2}
    assert missing == set(range(20, 104))
    assert got[2]["n_removed_tokens"] == len(missing)


def test_remove_cross_doc_spans_keeps_unique_docs_intact(spark):
    """Documents sharing no chunk are byte-identical after the scrub
    (normalized), and internal repeats within the OWNER doc survive."""
    from graph_database_application_for_recommendations_spark.operators.dedup import (
        remove_cross_doc_spans,
    )

    rep = " ".join(f"r{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, rep + " " + rep), (2, " ".join(f"u{i}" for i in range(15)))],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in remove_cross_doc_spans(docs).collect()}
    assert got[1]["clean_text"] == rep + " " + rep  # internal repeat kept
    assert got[1]["n_removed_tokens"] == 0
    assert got[2]["n_removed_tokens"] == 0


def test_scrub_spans_against_index_uses_index_only(spark):
    """Ingest-time span scrub: an incoming doc embedding a STANDING
    chunk loses it; chunks shared only between incoming docs are kept
    (per-doc decisions against the index alone — the batching-invariant
    contract); the standing corpus participates only via chunk hashes."""
    from graph_database_application_for_recommendations_spark.operators.dedup import (
        cdc_chunk_fingerprints,
        scrub_spans_against_index,
    )

    # shared0..119 has CDC boundaries after 19, 49, 64, 103 (see
    # test_remove_cross_doc_spans_scrubs_embedded_paragraph)
    para = " ".join(f"shared{i}" for i in range(120))
    standing = spark.createDataFrame([(1, para)], "doc_id long, text string")
    idx = cdc_chunk_fingerprints(standing).select("chunk_hash")

    own = " ".join(f"mine{i}" for i in range(30))
    intra = " ".join(f"dup{i}" for i in range(60))  # shared between 11 and 12 only
    incoming = spark.createDataFrame(
        [(11, own + " " + para + " tail0 tail1"), (12, intra), (13, intra + " more0")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in scrub_spans_against_index(idx, incoming).collect()}
    kept11 = set(got[11]["clean_text"].split())
    assert {i for i in range(120) if f"shared{i}" not in kept11} == set(range(20, 104))
    assert all(f"mine{i}" in kept11 for i in range(30))
    # intra-batch duplication is NOT this operator's business
    assert got[12]["n_removed_tokens"] == 0 and got[13]["n_removed_tokens"] == 0
    assert got[12]["clean_text"] == intra


def test_c4_paragraph_clean_rules(spark):
    """C4 §2.2 heuristics on crafted pages: terminal-punctuation rule,
    5-word minimum, javascript line drop, lorem-ipsum / curly-brace page
    kill, 3-sentence survival threshold."""
    from graph_database_application_for_recommendations_spark.operators.textstats import (
        c4_paragraph_clean,
    )

    good = "This is a perfectly normal sentence for testing. It even has words!"
    short = "Too short here."  # 3 words < 5
    nopunct = "this paragraph never terminates with punctuation at all"
    js = "Please enable javascript to view this page properly."
    docs = spark.createDataFrame(
        [
            (1, good + "\n\n" + short + "\n\n" + nopunct + "\n\n" + js),
            (2, good + " Extra sentence number three arrives here."),
            (3, good.replace(".", "") + " lorem ipsum dolor sit amet."),
            (4, "function f() { return 1; } " + good),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in c4_paragraph_clean(docs).collect()}
    assert got[1]["clean_text"] == good
    assert got[1]["n_kept"] == 1 and got[1]["n_dropped"] == 3
    assert not got[1]["keep_doc"]  # only 2 sentences survive
    assert got[2]["keep_doc"] and got[2]["n_sentences"] == 3
    assert not got[3]["keep_doc"]  # lorem ipsum page
    assert not got[4]["keep_doc"]  # curly-brace page


def test_containment_catches_nested_dup_jaccard_misses(spark):
    """Broder containment vs resemblance: a short doc fully embedded in
    a long one scores containment 1.0 but Jaccard far below threshold —
    the asymmetric-duplication face."""
    from graph_database_application_for_recommendations_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    small = " ".join(f"w{i}" for i in range(20))
    big = small + " " + " ".join(f"x{i}" for i in range(400))
    docs = spark.createDataFrame([(1, small), (2, big)], "doc_id long, text string")
    cont = containment_pairs(docs, threshold=0.6, max_docs_per_shingle=None).collect()
    assert len(cont) == 1 and cont[0]["containment"] == 1.0
    jac = ngram_jaccard_pairs(docs, threshold=0.5, max_docs_per_shingle=None).collect()
    assert jac == []  # Jaccard ~18/420 — invisible to resemblance dedup


def test_line_repetition_scores_crafted(spark):
    """Gopher line-dedup fractions on a crafted page: 4 line positions,
    one line duplicated (2 positions), exact char accounting; a page of
    all-distinct lines scores 0."""
    from graph_database_application_for_recommendations_spark.operators.textstats import (
        line_repetition_scores,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta\nunique one\nalpha beta\n\n  \nfinal line"),
            (2, "a\nbb\nccc"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in line_repetition_scores(docs).collect()}
    assert got[1]["n_lines"] == 4
    assert got[1]["dup_line_fraction"] == 0.5  # 2 of 4 positions
    dup_chars = 2 * len("alpha beta")
    tot_chars = dup_chars + len("unique one") + len("final line")
    assert got[1]["dup_line_char_fraction"] == round(dup_chars / tot_chars, 6)
    assert got[2]["dup_line_fraction"] == 0.0 and got[2]["n_lines"] == 3


def test_semantic_decontaminate_flags_nearest_eval(spark):
    from graph_database_application_for_recommendations_spark.operators.dedup import (
        semantic_decontaminate,
    )

    ev = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    tr = spark.createDataFrame(
        [(1, [2.0, 0.0, 0.0]), (2, [0.0, 0.0, 5.0]), (3, [1.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    got = {r["doc_id"]: r for r in semantic_decontaminate(tr, ev, threshold=0.9).collect()}
    assert got[1]["contaminated"] and got[1]["max_eval_sim"] == 1.0
    assert not got[2]["contaminated"] and got[2]["max_eval_sim"] == 0.0
    assert not got[3]["contaminated"] and got[3]["max_eval_sim"] == 0.707107


def test_semantic_decontaminate_guards_the_projected_frame(spark):
    """Round-9 ADVICE: the stats guard sat on the FULL evalset, so a
    small benchmark carrying wide metadata columns exceeded the 256 MB
    plan estimate and aborted spuriously. The guard now sits on the
    single-vector projection (Catalyst stats propagate through Project):
    wide-metadata eval builds fine, a genuinely corpus-scale eval still
    refuses."""
    import pytest
    from graph_database_application_for_recommendations_spark.operators.dedup import (
        semantic_decontaminate,
    )
    from pyspark.sql import functions as F

    tr = spark.createDataFrame(
        [(1, [2.0, 0.0])], "vec_id long, embedding array<double>"
    )
    # ~412 B/row estimated across 700k rows (> 256 MB full-frame), but the
    # projected vector column estimates ~8 B/row (~5.6 MB) — must build
    wide = spark.range(1, 700_001).select(
        F.col("id").alias("vec_id"),
        F.array((F.col("id") % 7).cast("double"), F.lit(1.0)).alias("embedding"),
        *[F.lit("m" * 50).alias(f"meta{i}") for i in range(40)],
    )
    semantic_decontaminate(tr, wide)  # plan-time guard: no execution needed
    # projection itself corpus-scale (~800 MB estimated): still refuses
    huge = spark.range(1, 100_000_001).select(
        F.col("id").alias("vec_id"),
        F.array((F.col("id") % 7).cast("double"), F.lit(1.0)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="contract is violated"):
        semantic_decontaminate(tr, huge)


def test_gopher_quality_signals_rules(spark):
    """Each Gopher App-A rule discriminates on a crafted page: bullet and
    ellipsis line fractions count trimmed non-empty lines, symbols count
    '#' and non-overlapping '...', alpha/stop-word ratios come off the
    normalized token stream, and the pass verdict is the conjunction."""
    from graph_database_application_for_recommendations_spark.operators.textstats import (
        gopher_quality_signals,
    )

    body = "the cat sat on of that have with a mat and more words here "
    good = (body * 5).strip()  # 70 words, all alpha, plenty of stopwords
    bullets = "- one line here\n* second bullet\nplain third line"
    ellipses = "first line...\nsecond line\nthird keeps going…"
    symbols = good + " # ## ... ..."
    digits = " ".join(["123 456"] * 40)
    docs = spark.createDataFrame(
        [(1, good), (2, bullets), (3, ellipses), (4, symbols), (5, digits)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in gopher_quality_signals(docs, min_words=10).collect()
    }
    g = got[1]
    assert g["gopher_pass"] and g["n_words"] == 70
    assert g["bullet_line_fraction"] == 0.0 and g["symbol_word_ratio"] == 0.0
    assert g["alpha_word_ratio"] == 1.0 and g["n_required_stopwords"] >= 2
    b = got[2]
    assert b["bullet_line_fraction"] == round(2 / 3, 6)
    e = got[3]
    assert e["ellipsis_line_fraction"] == round(2 / 3, 6)
    s = got[4]
    # 3 '#' chars + 2 '...' occurrences over 70 + 4 appended words
    assert s["symbol_word_ratio"] == round(5 / 74, 6)
    assert not s["gopher_pass"]
    d = got[5]
    assert d["alpha_word_ratio"] == 0.0 and d["n_required_stopwords"] == 0
    assert not d["gopher_pass"]


def test_mmr_rerank_diversifies(spark):
    """MMR vs plain top-k on a crafted corpus: two near-identical highly
    relevant vectors and one moderately relevant orthogonal one — plain
    top-2 takes the redundant pair, MMR(lam=0.5) swaps the duplicate for
    the diverse vector; rank 1 is always the pure relevance argmax, and
    lam=1 degrades MMR to plain top-k order."""
    from graph_database_application_for_recommendations_spark.operators.simsearch import (
        mmr_rerank,
        topk_bruteforce,
    )

    rows = [
        (0, [1.0, 0.0, 0.0]),    # query
        (1, [0.9, 0.1, 0.0]),    # relevant
        (2, [0.9, 0.11, 0.0]),   # near-duplicate of 1
        (3, [0.5, 0.0, 0.5]),    # diverse, less relevant
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") == 0)
    plain = [
        r["neighbor_id"]
        for r in topk_bruteforce(q, emb, k=2).orderBy("similarity", ascending=False).collect()
    ]
    assert plain == [1, 2]
    mmr = {
        r["rank"]: r["neighbor_id"]
        for r in mmr_rerank(q, emb, k=2, pool=3, lam=0.5, lam_c=0.5).collect()
    }
    assert mmr[1] == 1 and mmr[2] == 3  # duplicate displaced
    degraded = {
        r["rank"]: r["neighbor_id"]
        for r in mmr_rerank(q, emb, k=3, pool=3, lam=1.0, lam_c=0.0).collect()
    }
    assert [degraded[i] for i in (1, 2, 3)] == [1, 2, 3]


def test_quality_drift_report_flags_shifted_source(spark):
    """A source whose batch slice shifts quality (stopword-stuffed docs)
    scores a larger KL than a source whose batch is distribution-typical;
    identical batch == baseline scores ~0."""
    from graph_database_application_for_recommendations_spark.operators.textstats import (
        quality_drift_report,
    )

    base = [
        (i, "plain words here without stopwords at all", "steady") for i in range(20)
    ] + [
        (100 + i, "plain words here without stopwords at all", "shifty") for i in range(20)
    ]
    docs = spark.createDataFrame(base, "doc_id long, text string, source string")
    # batch: steady keeps the same text; shifty suddenly ships stopword soup
    batch = spark.createDataFrame(
        [(200 + i, "plain words here without stopwords at all", "steady") for i in range(5)]
        + [(300 + i, "the and of the and of the and of", "shifty") for i in range(5)],
        "doc_id long, text string, source string",
    )
    got = {r["source"]: r for r in quality_drift_report(batch, docs).collect()}
    assert got["shifty"]["kl"] > got["steady"]["kl"] >= 0.0
    same = {r["source"]: r["kl"] for r in quality_drift_report(docs, docs).collect()}
    assert all(abs(v) < 0.01 for v in same.values())


def test_rrf_fuse_promotes_consensus(spark):
    """RRF fundamentals on crafted lists: a doc ranked mid-list by BOTH
    retrievers outranks one ranked first by a single list
    (1/(c+2)+1/(c+2) > 1/(c+1)); single-list docs still surface."""
    from graph_database_application_for_recommendations_spark.operators.simsearch import (
        rrf_fuse,
    )

    a = spark.createDataFrame(
        [(1, 10, 0.9), (1, 20, 0.8), (1, 30, 0.7)],
        "query_id long, neighbor_id long, similarity double",
    )
    b = spark.createDataFrame(
        [(1, 40, 0.95), (1, 20, 0.85), (1, 50, 0.75)],
        "query_id long, neighbor_id long, similarity double",
    )
    got = {r["rank"]: r["neighbor_id"] for r in rrf_fuse(a, b, k=5, c=60).collect()}
    assert got[1] == 20  # consensus doc (rank 2 in both) wins
    assert set(got.values()) == {10, 20, 30, 40, 50}


def test_span_corruption_roundtrip_and_conventions(spark):
    """Span-corruption invariants: sentinels are dense 0..n-1 in input
    order, the target carries exactly the masked tokens plus the final
    sentinel, and splicing the target's spans back into the corrupted
    input reconstructs the normalized original text."""
    import re

    from graph_database_application_for_recommendations_spark.operators.textstats import (
        span_corruption,
    )

    rows = [(i, " ".join(f"w{i}x{j}" for j in range(20))) for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in span_corruption(docs, mask_percent=40).collect()}
    originals = dict(rows)
    reconstructed_any = 0
    for doc_id, r in got.items():
        sents = re.findall(r"<extra_id_(\d+)>", r["corrupted_text"])
        assert [int(s) for s in sents] == list(range(r["n_masked"]))
        # parse targets: '<extra_id_k> tok tok ... <extra_id_n>'
        spans = {}
        parts = re.split(r"<extra_id_(\d+)>", r["targets"])
        for k, chunk in zip(parts[1::2], parts[2::2]):
            if chunk.strip():
                spans[int(k)] = chunk.strip()
        text = r["corrupted_text"]
        for k, chunk in spans.items():
            text = text.replace(f"<extra_id_{k}>", chunk, 1)
        assert text == originals[doc_id]
        reconstructed_any += r["n_masked"]
    assert reconstructed_any > 0  # masking actually fired somewhere


def test_multiprobe_lsh_recall_dominates_single_probe(spark):
    """Multi-probe's whole point: at a fixed table count its recall
    against the exact top-k is >= the single-probe retriever's (the
    probe set strictly contains the single-probe buckets)."""
    from graph_database_application_for_recommendations_spark.operators.simsearch import (
        ann_recall,
        topk_bruteforce,
        topk_hyperplane_lsh,
        topk_hyperplane_lsh_multiprobe,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    kw = dict(k=10, num_planes=4, num_tables=2, seed=123, dim=64)
    exact = topk_bruteforce(q, emb, k=10)
    r1 = {r["query_id"]: r["recall"] for r in ann_recall(exact, topk_hyperplane_lsh(q, emb, **kw)).collect()}
    rm = {r["query_id"]: r["recall"] for r in ann_recall(exact, topk_hyperplane_lsh_multiprobe(q, emb, **kw)).collect()}
    assert all(rm[qid] >= r1[qid] for qid in r1)
    assert sum(rm.values()) > sum(r1.values())  # strictly better somewhere


def test_duplication_profile_accounts_tokens(spark):
    """Crafted corpus: source A carries one duplicated pair (the longer
    text), source B none — doc and token fractions match hand counts,
    and keepers are not counted as duplicates."""
    from graph_database_application_for_recommendations_spark.operators.dedup import (
        duplication_profile,
    )

    long = " ".join(f"w{j}" for j in range(10))
    docs = spark.createDataFrame(
        [
            (1, long, "A"),
            (2, long + " ", "A"),   # canonical dup of 1 (whitespace)
            (3, "unique text here", "A"),
            (4, "other words", "B"),
        ],
        "doc_id long, text string, source string",
    )
    got = {r["source"]: r for r in duplication_profile(docs).collect()}
    a = got["A"]
    assert (a["n_docs"], a["n_dup_docs"]) == (3, 1)
    assert a["n_tokens"] == 10 + 10 + 3 and a["n_dup_tokens"] == 10
    assert a["dup_token_fraction"] == round(10 / 23, 6)
    b = got["B"]
    assert b["n_dup_docs"] == 0 and b["dup_token_fraction"] == 0.0


def test_length_quantiles_by_source_exact_ranks(spark):
    """percentile_disc semantics by hand: 10 docs of lengths 1..10 in one
    source — p50 = 5th smallest = 5, p90 = 9th = 9; a single-doc source
    returns its own length for every quantile."""
    from graph_database_application_for_recommendations_spark.operators.textstats import (
        length_quantiles_by_source,
    )

    rows = [(i, " ".join(["w"] * i), "big") for i in range(1, 11)]
    rows.append((100, "a b c", "tiny"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {(r["source"], r["q"]): r["n_tokens_at_q"]
           for r in length_quantiles_by_source(docs).collect()}
    assert got[("big", 0.5)] == 5 and got[("big", 0.9)] == 9
    assert got[("tiny", 0.5)] == 3 and got[("tiny", 0.9)] == 3


def test_weighted_jaccard_distinguishes_repetition_mass(spark):
    """The bag metric's reason to exist: a doc and its 3x-repeated copy
    score far below 1.0 on weighted Jaccard (mass differs) while SET
    n-gram Jaccard calls them near-identical; true duplicates score 1.0;
    the per-token cap blocks a stop-gram hub."""
    from graph_database_application_for_recommendations_spark.operators.dedup import (
        ngram_jaccard_pairs,
        weighted_jaccard_pairs,
    )

    base = " ".join(f"w{j}" for j in range(12))
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, (base + " ") * 3)],
        "doc_id long, text string",
    )
    wj = {
        (r["doc_a"], r["doc_b"]): r["wjaccard"]
        for r in weighted_jaccard_pairs(
            docs, threshold=0.0, max_docs_per_token=None
        ).collect()
    }
    assert wj[(1, 2)] == 1.0
    assert wj[(1, 3)] < 0.45  # ~10/(10+32-10): repetition mass visible
    sj = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, n=3, threshold=0.0, max_docs_per_shingle=None
        ).collect()
    }
    assert sj[(1, 3)] > 0.8  # set resemblance is blind to the repetition


def test_icws_estimates_track_weighted_jaccard(spark):
    """Ioffe's theorem, empirically: identical bags agree on every
    sample (est 1.0); a 3x-repeated copy's ICWS agreement at 64 hashes
    lands within 0.25 of its exact weighted Jaccard; disjoint docs never
    become candidates."""
    from graph_database_application_for_recommendations_spark.operators.dedup import (
        icws_est_pairs,
        weighted_jaccard_pairs,
    )

    base = " ".join(f"w{j}" for j in range(12))
    other = " ".join(f"z{j}" for j in range(12))
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, (base + " ") * 3), (4, other)],
        "doc_id long, text string",
    )
    est = {
        (r["doc_a"], r["doc_b"]): r["est_wjaccard"]
        for r in icws_est_pairs(docs, num_hashes=64, threshold=0.0).collect()
    }
    assert est[(1, 2)] == 1.0
    exact = {
        (r["doc_a"], r["doc_b"]): r["wjaccard"]
        for r in weighted_jaccard_pairs(
            docs, threshold=0.0, max_docs_per_token=None
        ).collect()
    }
    assert abs(est[(1, 3)] - exact[(1, 3)]) < 0.25
    assert not any(4 in p for p in est)  # disjoint: no sample collision


def test_morton_key_bit_interleave(spark):
    """morton_key(3, 5): x bits {0,1} -> z bits {1,3}; y bits {0,2} ->
    z bits {0,4}; z = 2+8+1+16 = 27. Plus the locality sanity that makes
    Z-order work: the 2x2 cell block {(0,0),(0,1),(1,0),(1,1)} maps to
    the contiguous z range 0..3."""
    from pyspark.sql import functions as F

    from graph_database_application_for_recommendations_spark.operators.layout import (
        morton_key,
    )

    grid = spark.createDataFrame(
        [(3, 5)] + [(x, y) for x in (0, 1) for y in (0, 1)], "x long, y long"
    )
    z = {
        (r["x"], r["y"]): r["z"]
        for r in grid.select("x", "y", morton_key(F.col("x"), F.col("y"), 8).alias("z")).collect()
    }
    assert z[(3, 5)] == 27
    assert sorted(z[(x, y)] for x in (0, 1) for y in (0, 1)) == [0, 1, 2, 3]


def test_zorder_key_wide_span_does_not_overflow(spark):
    """Round-7 ADVICE: a key span beyond 2^(63-bits) used to wrap BIGINT
    in the multiply-then-DIV bucketizer and silently misbucket. The
    wide-span branch must keep buckets in [0, 2^bits) and monotonic;
    the in-contract branch stays the exact formula (min->0, max->255)."""
    from graph_database_application_for_recommendations_spark.operators.layout import (
        zorder_key,
    )

    wide = spark.createDataFrame(
        [(0, 0, 0), (1, 2**60, 5), (2, 2**61, 9), (3, 2**62, 11)],
        "rid long, x long, y long",
    )
    rows = {r["rid"]: r for r in zorder_key(wide, "x", "y", bits=8).collect()}
    xs = [rows[i]["xb"] for i in range(4)]
    assert all(0 <= b < 256 for b in xs), xs
    assert xs == sorted(xs) and xs[0] < xs[-1]  # monotone, spread
    narrow = spark.createDataFrame(
        [(0, 0, 0), (1, 1023, 1023)], "rid long, x long, y long"
    )
    nr = {r["rid"]: r for r in zorder_key(narrow, "x", "y", bits=8).collect()}
    assert (nr[0]["xb"], nr[1]["xb"]) == (0, 255)


def test_zorder_bucketizer_matches_oracle_case_cross_engine(spark):
    """Round-8 ADVICE: the oracle's bk CTE now mirrors zorder_key's
    span-branched CASE. The attested events data never leaves the exact
    branch, so pin BOTH branches cross-engine here: engine buckets must
    equal the registry CASE formula run by DuckDB on the same rows —
    narrow span (exact multiply-first) AND a 2^62 span (divide-first)."""
    import duckdb
    from graph_database_application_for_recommendations_spark.operators.layout import (
        zorder_key,
    )

    nb, bits = 256, 8
    exact_max_span = 1 << (63 - bits)
    for rows in (
        [(0, 0, 0), (1, 1023, 7), (2, 512, 1023)],  # narrow: exact branch
        [(0, 0, 0), (1, 2**60, 5), (2, 2**61, 9), (3, 2**62, 11)],  # wide
    ):
        df = spark.createDataFrame(rows, "rid long, x long, y long")
        got = sorted(
            (r["rid"], r["xb"], r["yb"])
            for r in zorder_key(df, "x", "y", bits=bits).collect()
        )
        vals = ", ".join(f"({r}, {x}, {y})" for r, x, y in rows)
        want = sorted(
            map(
                tuple,
                duckdb.connect().execute(
                    f"""
            WITH base(rid, x, y) AS (VALUES {vals}),
            bnd AS (SELECT MIN(x) AS minx, MAX(x) AS maxx,
                           MIN(y) AS miny, MAX(y) AS maxy FROM base)
            SELECT rid,
              (CASE WHEN (maxx - minx + 1) <= {exact_max_span}
                    THEN (x - minx) * {nb} // (maxx - minx + 1)
                    ELSE (x - minx) // (((maxx - minx + 1) + {nb - 1}) // {nb})
               END) AS xb,
              (CASE WHEN (maxy - miny + 1) <= {exact_max_span}
                    THEN (y - miny) * {nb} // (maxy - miny + 1)
                    ELSE (y - miny) // (((maxy - miny + 1) + {nb - 1}) // {nb})
               END) AS yb
            FROM base, bnd
            """
                ).fetchall(),
            )
        )
        assert got == want


def test_layout_pruning_zorder_beats_linear_on_uniform_grid(spark):
    """On a uniform 2^7 x 2^7 grid, a quarter-rectangle predicate under the
    linear (x-major) layout must scan every block (each block spans the
    full y range), while Z-order bounds both dims per block and scans ~1/4
    of them. rows_matched is layout-invariant by construction."""
    from graph_database_application_for_recommendations_spark.operators.layout import (
        layout_pruning,
        layout_zonemaps,
    )

    n = 128
    grid = spark.range(n * n).selectExpr(
        "id DIV 128 AS x", "id % 128 AS y", "id AS rid"
    )
    rep = {
        r["layout"]: r.asDict()
        for r in layout_pruning(
            grid, "x", "y", "rid", bits=7, rows_per_block=512
        ).collect()
    }
    lin, zo = rep["linear"], rep["zorder"]
    assert lin["rows_matched"] == zo["rows_matched"] == 64 * 64
    assert lin["n_blocks"] == zo["n_blocks"] == n * n // 512
    # x-major blocks: 512 consecutive rows = 4 full x-columns -> y spans all
    assert lin["avg_y_span"] == 128.0
    # x prunes linear to its x-half; the y predicate prunes NOTHING inside
    # it (every surviving block still spans all 128 y values)
    assert lin["blocks_scanned"] == lin["n_blocks"] // 2
    assert zo["blocks_scanned"] * 2 <= lin["blocks_scanned"]
    assert zo["rows_scanned"] < lin["rows_scanned"]
    zm = layout_zonemaps(grid, "x", "y", "rid", bits=7, rows_per_block=512)
    total = sum(r["n_rows"] for r in zm.collect())
    assert total == 2 * n * n  # both layouts account for every row


def test_readability_hand_computed(spark):
    """'the cat sat. the dog ran!' -> W=6, S=2, Y=6 (one vowel group per
    word): flesch = 206.835 - 1.015*3 - 84.6*1 = 119.19, fk = 0.39*3 +
    11.8*1 - 15.59 = -2.62. A vowel-less word still counts 1 syllable,
    and a doc with no words is dropped."""
    from graph_database_application_for_recommendations_spark.operators.textstats import (
        readability,
    )

    docs = spark.createDataFrame(
        [(1, "the cat sat. the dog ran!"), (2, "tv hmm."), (3, "  ")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r.asDict() for r in readability(docs).collect()}
    assert set(rows) == {1, 2}
    r1 = rows[1]
    assert (r1["n_words"], r1["n_sentences"], r1["n_syllables"]) == (6, 2, 6)
    assert abs(r1["flesch"] - 119.19) < 1e-9
    assert abs(r1["fk_grade"] - (-2.62)) < 1e-9
    assert rows[2]["n_syllables"] == 2  # 'tv' floors at 1, 'hmm' at 1


def test_session_paths_sliding_trigrams(spark):
    """A 5-event session yields 3 sliding trigrams; a gap splits the
    session and kills the paths that would span it; 2-event sessions
    yield none."""
    import datetime as dt

    from graph_database_application_for_recommendations_spark.operators.events import (
        session_paths,
    )

    t0 = dt.datetime(2024, 1, 1)
    mk = lambda i, mins, typ: (i, t0 + dt.timedelta(minutes=mins), 1, typ)
    rows = [
        mk(1, 0, "a"), mk(2, 1, "b"), mk(3, 2, "a"), mk(4, 3, "b"), mk(5, 4, "a"),
        # next session: 100-minute gap > 30
        mk(6, 104, "c"), mk(7, 105, "c"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {r["path"]: r["n_occurrences"] for r in session_paths(ev, 30).collect()}
    assert got == {"a>b>a": 2, "b>a>b": 1}


def test_min_k_prob_flags_memorized_text(spark):
    """Docs made of corpus-dominant bigrams keep a high bottom-k% mean;
    a doc of corpus-rare transitions scores far lower. n_lowest is the
    exact integer ceil(n*k/100)."""
    from graph_database_application_for_recommendations_spark.operators.textstats import (
        min_k_prob_scores,
    )

    common = "the cat sat on the mat and the cat sat again"
    docs = spark.createDataFrame(
        [(i, common) for i in range(9)] + [(9, "xq zx qj wq kv vz")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r.asDict() for r in min_k_prob_scores(docs, k_pct=20).collect()}
    assert rows[0]["min_k_score"] > rows[9]["min_k_score"] + 1.0
    for r in rows.values():
        assert r["n_lowest"] == (r["n_bigrams"] * 20 + 99) // 100


def test_min_k_prob_count_reconstructed_positions_equal_positional_form(spark):
    """The round-10 shape reconstructs the per-position stream from the
    pinned (doc, bigram) counts with a sequence-explode; because tied
    positions carry equal log-probs, the selected bottom-k% multiset —
    and so every output value — must equal the r9 positional original,
    rebuilt here inline."""
    from pyspark.sql import Window
    from graph_database_application_for_recommendations_spark.operators.textstats import (
        _char_bigrams,
        min_k_prob_scores,
    )

    docs = spark.createDataFrame(
        [
            (i, ("sphinx of black quartz " * (i % 3 + 1)) + "ooo" * (i % 4))
            for i in range(1, 31)
        ],
        "doc_id LONG, text STRING",
    )
    got = sorted(map(tuple, min_k_prob_scores(docs, k_pct=20).collect()))
    grams = _char_bigrams(docs, "doc_id", "text")
    big = grams.groupBy("bigram").agg(F.count(F.lit(1)).alias("_cnt"))
    pre = big.groupBy(F.substring("bigram", 1, 1).alias("_c1")).agg(
        F.sum("_cnt").alias("_tot")
    )
    model = big.join(
        pre, F.substring(big["bigram"], 1, 1) == pre["_c1"]
    ).select("bigram", F.log2(F.col("_cnt") / F.col("_tot")).alias("_lp"))
    w_doc = Window.partitionBy("doc_id")
    w_rnk = Window.partitionBy("doc_id").orderBy("_lp", "bigram")
    ranked = (
        grams.join(model, "bigram")
        .withColumn("_r", F.row_number().over(w_rnk))
        .withColumn("_n", F.count(F.lit(1)).over(w_doc))
    )
    want = sorted(
        map(
            tuple,
            ranked.where(F.col("_r") <= F.expr("(_n * 20 + 99) DIV 100"))
            .groupBy("doc_id")
            .agg(
                F.max("_n").alias("n_bigrams"),
                F.count(F.lit(1)).alias("n_lowest"),
                F.round(F.avg("_lp"), 6).alias("min_k_score"),
            )
            .collect(),
        )
    )
    assert got == want


def test_isotropy_closed_form_cases(spark):
    """Four copies of one direction -> mean pairwise cosine exactly 1.0;
    the balanced set {e1,-e1,e2,-e2} sums to zero -> (0-n)/(n(n-1)) =
    -1/3. Zero vectors are excluded."""
    from graph_database_application_for_recommendations_spark.operators.simsearch import (
        isotropy_report,
    )

    same = spark.createDataFrame(
        [(i, [3.0, 4.0]) for i in range(4)] + [(9, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    r = isotropy_report(same).collect()[0]
    assert (r["n_vectors"], r["dim"]) == (4, 2)
    assert r["mean_norm"] == 5.0
    assert r["mean_pairwise_cosine"] == 1.0
    balanced = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [-1.0, 0.0]), (3, [0.0, 1.0]), (4, [0.0, -1.0])],
        "vec_id long, embedding array<double>",
    )
    r2 = isotropy_report(balanced).collect()[0]
    assert abs(r2["mean_pairwise_cosine"] - (-1.0 / 3.0)) < 1e-6


def test_source_js_divergence_closed_forms(spark):
    """Identical distributions -> 0; disjoint-support pairs share no
    token (absent: their JS is exactly 1 by the decomposition's disjoint
    term); a one-common-token pair matches the hand-derived value."""
    import math

    from graph_database_application_for_recommendations_spark.operators.textstats import (
        source_js_divergence,
    )

    docs = spark.createDataFrame(
        [
            (1, "x x y", "A"),
            (2, "x x y", "B"),
            (3, "q r q", "C"),   # disjoint from A/B
            (4, "x z z", "D"),   # shares only 'x' with A/B
        ],
        "doc_id long, text string, source string",
    )
    got = {
        (r["source_a"], r["source_b"]): r["js_divergence"]
        for r in source_js_divergence(docs).collect()
    }
    assert got[("A", "B")] == 0.0
    assert ("A", "C") not in got and ("B", "C") not in got
    expect = (
        (2 / 3) / 2 * math.log2(2 * (2 / 3) / (2 / 3 + 1 / 3))
        + (1 / 3) / 2 * math.log2(2 * (1 / 3) / (2 / 3 + 1 / 3))
        + (1 - 2 / 3) / 2
        + (1 - 1 / 3) / 2
    )
    assert abs(got[("A", "D")] - round(expect, 6)) < 1e-9


def test_binary_auc_midrank_and_calibration_bins(spark):
    """AUC: perfect separation -> 1.0; constant score -> 0.5; the tie
    case [.9+, .8-, .8+, .1-] gives U = 2 + (0.5 + 1) = 3.5 over 4 pairs
    -> 0.875. Calibration: score 1.0 joins the top bin."""
    from graph_database_application_for_recommendations_spark.operators.evaluate import (
        binary_auc,
        calibration_table,
    )

    mk = lambda rows: spark.createDataFrame(rows, "score double, label int")
    assert binary_auc(mk([(0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)])).collect()[0][
        "auc"
    ] == 1.0
    assert binary_auc(mk([(0.5, 1), (0.5, 0), (0.5, 1), (0.5, 0)])).collect()[0][
        "auc"
    ] == 0.5
    r = binary_auc(mk([(0.9, 1), (0.8, 0), (0.8, 1), (0.1, 0)])).collect()[0]
    assert r["auc"] == 0.875 and r["n_distinct_scores"] == 3
    cal = {
        row["bin"]: row.asDict()
        for row in calibration_table(
            mk([(1.0, 1), (0.95, 1), (0.05, 0), (0.32, 1)])
        ).collect()
    }
    assert cal[9]["n"] == 2 and cal[0]["n"] == 1 and cal[3]["pos_rate"] == 1.0


def test_zonemap_sidecar_merge_equals_single_pass(spark):
    """Consolidating per-sub-batch stats rows (any batching) must equal
    the single-pass stats table — the (MIN, MAX, SUM) monoid; scan
    decisions use closed [lo, hi] overlap."""
    from pyspark.sql import functions as F

    from graph_database_application_for_recommendations_spark.operators.layout import (
        consolidate_zonemaps,
        zonemap_delta_table,
        zonemap_scan_decisions,
    )

    rows = [(i, i * 10, i % 4, i % 3) for i in range(60)]  # (id, x, y, batch)
    df = spark.createDataFrame(rows, "rid long, x long, y long, b long")
    fcol = F.expr("x DIV 100")
    single = zonemap_delta_table(df, "x", "y", fcol)
    deltas = None
    for i in range(3):
        d = zonemap_delta_table(df.filter(F.col("b") == i), "x", "y", fcol)
        deltas = d if deltas is None else deltas.unionByName(d)
    merged = consolidate_zonemaps(deltas)
    a = {r["file_id"]: r.asDict() for r in single.collect()}
    m = {r["file_id"]: r.asDict() for r in merged.collect()}
    assert a == m
    dec = {
        r["file_id"]: r["scanned"]
        for r in zonemap_scan_decisions(merged, 100, 299, 0, 10).collect()
    }
    assert dec == {0: False, 1: True, 2: True, 3: False, 4: False, 5: False}


def test_confusion_matrix_and_compaction_plan(spark):
    """Confusion shares sum to 1 per true class with the diagonal as
    recall; compaction packs small files first-fit in id order with
    bins cut at the cumulative target."""
    from graph_database_application_for_recommendations_spark.operators.evaluate import (
        confusion_matrix,
    )
    from graph_database_application_for_recommendations_spark.operators.layout import (
        compaction_plan,
    )

    pred = spark.createDataFrame(
        [(1, "en"), (2, "en"), (3, "de"), (4, "en")], "doc_id long, pred string"
    )
    truth = spark.createDataFrame(
        [(1, "en"), (2, "en"), (3, "en"), (4, "de")], "doc_id long, label string"
    )
    cm = {
        (r["true_label"], r["pred_label"]): (r["n"], r["share_of_true"])
        for r in confusion_matrix(pred, truth).collect()
    }
    assert cm[("en", "en")] == (2, 0.666667) and cm[("en", "de")] == (1, 0.333333)
    assert cm[("de", "en")] == (1, 1.0)

    stats = spark.createDataFrame(
        [(0, 400), (1, 900), (2, 300), (3, 450), (4, 200)],
        "file_id long, n_rows long",
    )
    plan = {r["file_id"]: r["bin_id"] for r in compaction_plan(stats, 1000, 500).collect()}
    # small files 0,2,3,4 (900 excluded); cum-before: 0,400,700,1150
    assert plan == {0: 0, 2: 0, 3: 0, 4: 1}


def test_matryoshka_recall_curve(spark):
    """A 1-dim prefix that collapses distinct neighborhoods scores below
    the full-dim row, which is exactly 1.0 by construction; when the
    prefix already determines the geometry (zero tail), every truncation
    is perfect."""
    from graph_database_application_for_recommendations_spark.operators.simsearch import (
        matryoshka_recall,
    )

    tricky = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 10.0]),
            (2, [1.0, 0.0, 0.0, -10.0]),
            (3, [0.9, 0.0, 0.0, 10.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    r = {
        row["dim"]: row["mean_recall"]
        for row in matryoshka_recall(tricky, dims=(1, 4), k=1).collect()
    }
    assert r[4] == 1.0 and r[1] < 1.0
    flat_tail = spark.createDataFrame(
        [(i, [float(i), float(i % 3), 0.0, 0.0]) for i in range(1, 7)],
        "vec_id long, embedding array<double>",
    )
    r2 = {
        row["dim"]: row["mean_recall"]
        for row in matryoshka_recall(flat_tail, dims=(2, 4), k=2).collect()
    }
    assert r2 == {2: 1.0, 4: 1.0}


def test_dedup_keep_best_and_kanon(spark):
    """keep_best keeps the highest-scoring duplicate (not the smallest
    id), ranks missing scores last; the k-anonymity report counts
    under-k quasi-identifier groups exactly."""
    from graph_database_application_for_recommendations_spark.operators.dedup import (
        dedup_keep_best,
    )
    from graph_database_application_for_recommendations_spark.operators.diagnostics import (
        k_anonymity_report,
    )

    docs = spark.createDataFrame(
        [(1, "aa"), (2, "aa"), (3, "bb"), (4, "aa")], "doc_id long, text string"
    )
    quality = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (4, 0.9)], "doc_id long, score double"
    )  # doc 3 unscored; 2 and 4 tie -> smaller id wins
    kept = {r["keep_id"]: r for r in dedup_keep_best(docs, quality).collect()}
    assert set(kept) == {2, 3}
    assert kept[2]["n_dups"] == 3 and kept[2]["keep_score"] == 0.9
    assert kept[3]["keep_score"] is None

    users = spark.createDataFrame(
        [("a", 30)] * 5 + [("a", 31)] * 2 + [(None, None)], "loc string, age int"
    )
    r = k_anonymity_report(users, ["loc", "age"], k=5).collect()[0]
    assert (r["n_groups"], r["n_risky_groups"], r["n_risky_rows"]) == (3, 2, 3)
    assert r["risky_fraction"] == 0.375


def test_time_split_report_cold_users(spark):
    """Users appearing only after the cutoff are cold-start; a user with
    history on both sides is not."""
    import datetime as dt

    from graph_database_application_for_recommendations_spark.operators.events import (
        time_split_report,
    )

    t = lambda day: dt.datetime(2024, 1, day, tzinfo=dt.timezone.utc)
    rows = [
        (1, t(1), 10), (2, t(2), 10), (3, t(20), 10),   # train era: user 10 only
        (5, t(23), 20),                                   # user 20 only post-cutoff
        (6, t(25), 10), (7, t(26), 20),
    ]
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    cutoff = int(dt.datetime(2024, 1, 22, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    r = time_split_report(ev, cutoff).collect()[0]
    assert (r["n_train"], r["n_test"]) == (3, 3)
    assert (r["n_train_users"], r["n_test_users"], r["n_cold_users"]) == (1, 2, 1)
    assert r["cold_fraction"] == 0.5


def test_encoding_noise_and_interarrival(spark):
    """Mojibake/control/replacement chars are each counted; clean text
    scores 0. Inter-arrival buckets are exact bit-length log2 floors."""
    import datetime as dt

    from graph_database_application_for_recommendations_spark.operators.events import (
        interarrival_profile,
    )
    from graph_database_application_for_recommendations_spark.operators.textstats import (
        encoding_noise_scores,
    )

    docs = spark.createDataFrame(
        [
            (1, "clean text here"),
            (2, "cafÃ© broken"),        # 'Ã©' mojibake pair
            (3, "bad�char and\x01ctrl"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r.asDict() for r in encoding_noise_scores(docs).collect()}
    assert rows[1]["noise_ratio"] == 0.0
    assert rows[2]["n_mojibake"] == 1 and rows[2]["noise_ratio"] > 0
    assert rows[3]["n_replacement"] == 1 and rows[3]["n_control"] == 1

    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    ev = spark.createDataFrame(
        [
            (1, t0, 1, "a"),
            (2, t0 + dt.timedelta(seconds=5), 1, "a"),    # gap 5s -> bucket 2
            (3, t0 + dt.timedelta(seconds=5), 1, "a"),    # gap 0 -> bucket -1
            (4, t0 + dt.timedelta(seconds=1029), 1, "a"), # gap 1024s -> bucket 10
        ],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    got = {
        (r["event_type"], r["gap_bucket"]): r["n"]
        for r in interarrival_profile(ev).collect()
    }
    assert got == {("a", 2): 1, ("a", -1): 1, ("a", 10): 1}


def test_mad_anomalies_and_cross_source_dups(spark):
    """MAD flags the outlier a constant-heavy distribution hides from
    nothing (and median/MAD ignore the outlier's own pull); the
    cross-source matrix counts planted shared texts once per distinct
    text. The registered production binding returns 0 rows — this test
    is the evidence the detector would catch violations."""
    import datetime as dt

    from graph_database_application_for_recommendations_spark.operators.dedup import (
        cross_source_dup_matrix,
    )
    from graph_database_application_for_recommendations_spark.operators.events import (
        value_anomalies_mad,
    )

    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    rows = [(i, t0, 1, "a", float(v)) for i, v in enumerate([10, 11, 9, 12, 8, 10, 500])]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out = value_anomalies_mad(ev, k=3.5).collect()
    assert [r["event_id"] for r in out] == [6]
    assert out[0]["robust_z"] > 100

    docs = spark.createDataFrame(
        [
            (1, "shared text", "A"), (2, "shared text", "B"),
            (3, "shared text", "B"),          # same text again: counted once
            (4, "other shared", "A"), (5, "other shared", "C"),
            (6, "unique", "C"),
        ],
        "doc_id long, text string, source string",
    )
    got = {
        (r["source_a"], r["source_b"]): r["n_shared_texts"]
        for r in cross_source_dup_matrix(docs).collect()
    }
    assert got == {("A", "B"): 1, ("A", "C"): 1}


def test_percentile_fusion_rank_semantics(spark):
    """_percentile_rank is cume_dist (ties share the inclusive rank);
    fusion averages the three ranks. The top-ranked doc on every signal
    fuses to 1.0."""
    from graph_database_application_for_recommendations_spark.operators.textstats import (
        _percentile_rank,
    )

    df = spark.createDataFrame(
        [(1, 0.1), (2, 0.5), (3, 0.5), (4, 0.9)], "doc_id long, v double"
    )
    pr = {r["doc_id"]: r["pr"] for r in _percentile_rank(df, "v", "pr").collect()}
    assert pr == {1: 0.25, 2: 0.75, 3: 0.75, 4: 1.0}


def test_implicit_training_samples_contract(spark):
    """Negatives never collide with a user's positives, at most k per
    user, no duplicate (user, item) pairs, and the draw is reproducible
    run to run."""
    from graph_database_application_for_recommendations_spark.operators.recommend import (
        implicit_training_samples,
    )

    # sub-threshold ratings contribute nothing: catalog = positive items
    rows = [(u, f"i{i}", 8) for u in range(5) for i in range(u + 1)] + [
        (u, f"i{i}", 2) for u in range(5) for i in range(20)
    ]
    ratings = spark.createDataFrame(rows, "user_id long, isbn string, rating int")
    out = implicit_training_samples(ratings, k=3).collect()
    pos = {(r["user_id"], r["isbn"]) for r in out if r["label"] == 1}
    neg = [(r["user_id"], r["isbn"]) for r in out if r["label"] == 0]
    assert not (set(neg) & pos)
    assert len(set(neg)) == len(neg)
    from collections import Counter

    per_user = Counter(u for u, _ in neg)
    assert all(c <= 3 for c in per_user.values())
    again = implicit_training_samples(ratings, k=3).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_holdout_hitrate_planted_structure(spark):
    """Users co-rating the same 4-item block always recover the held-out
    item (HR@k = 1.0); single-positive users are excluded from the
    eligible set."""
    from graph_database_application_for_recommendations_spark.operators.recommend import (
        holdout_hitrate,
    )

    # 9 users over one 8-item block: holdout picks vary per user (an
    # item held out by EVERY user would vanish from all train sets and
    # be unrecommendable — the 4-item version of this fixture did
    # exactly that), so each held-out item keeps co-occurrence edges
    rows = [(u, f"i{i}", 8) for u in range(1, 10) for i in range(8)]
    rows += [(99, "lonely", 8)]  # one positive: not eligible
    ratings = spark.createDataFrame(rows, "user_id long, isbn string, rating int")
    r = holdout_hitrate(ratings, k=2).collect()[0]
    assert r["n_users"] == 9
    assert r["n_hits"] == 9 and r["hit_rate"] == 1.0
    assert r["ndcg"] == 1.0  # every hit at rank 1: gain 1/log2(2)


def test_hourly_periodicity_extremes(spark):
    """All 24 events in one hour: chi2 = (24-1)^2/1 + 23*1 = 552 with
    e = 1; a perfectly uniform day scores 0."""
    import datetime as dt

    from graph_database_application_for_recommendations_spark.operators.events import (
        hourly_periodicity,
    )

    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    burst = [(i, t0 + dt.timedelta(minutes=i), 1, "burst") for i in range(24)]
    flat = [(100 + h, t0 + dt.timedelta(hours=h), 1, "flat") for h in range(24)]
    ev = spark.createDataFrame(
        burst + flat, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {r["event_type"]: r.asDict() for r in hourly_periodicity(ev).collect()}
    assert got["burst"]["chi2"] == 552.0
    assert got["burst"]["peak_hour"] == 0 and got["burst"]["peak_share"] == 1.0
    assert got["flat"]["chi2"] == 0.0 and got["flat"]["peak_share"] == round(1 / 24, 6)


def test_corpus_datasheet_hand_counts(spark):
    """4 docs, 2 sources, 2 langs, one whitespace-variant duplicate pair
    (canonical fingerprints match), one short doc: every cell checks by
    hand; entropy of a 3:1 lang split = 0.811278 bits."""
    from graph_database_application_for_recommendations_spark.operators.diagnostics import (
        corpus_datasheet,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma", "A", "en"),
            (2, "alpha  beta   gamma", "A", "en"),   # canonical dup of 1
            (3, " ".join(f"w{i}" for i in range(60)), "A", "en"),
            (4, "tiny", "B", "de"),
        ],
        "doc_id long, text string, source string, lang string",
    )
    r = corpus_datasheet(docs, short_doc_tokens=50).collect()[0]
    assert (r["n_docs"], r["n_sources"], r["n_langs"]) == (4, 2, 2)
    assert r["n_tokens"] == 3 + 3 + 60 + 1
    assert r["dup_doc_fraction"] == 0.25
    assert r["short_doc_fraction"] == 0.75
    assert r["top_source_share"] == 0.75
    assert r["lang_entropy_bits"] == 0.811278


def test_midrank_tie_semantics(spark):
    """Midranks share the mean of tied positions: [1,2,2,3] ->
    [1, 2.5, 2.5, 4] — the Spearman rank convention."""
    from graph_database_application_for_recommendations_spark.operators.textstats import (
        _midrank,
    )

    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 2.0), (4, 3.0)], "doc_id long, v double"
    )
    got = {r["doc_id"]: r["r"] for r in _midrank(df, "v", "r").collect()}
    assert got == {1: 1.0, 2: 2.5, 3: 2.5, 4: 4.0}


def test_bootstrap_ci_contract(spark):
    """Constant-valued units give a zero-width CI at the constant;
    a mixed population's CI straddles its mean; results are exactly
    reproducible (md5 draws, no RNG)."""
    from graph_database_application_for_recommendations_spark.operators.evaluate import (
        bootstrap_ci,
    )

    const = spark.createDataFrame(
        [(i, 1.0) for i in range(40)], "unit_id long, value double"
    )
    r = bootstrap_ci(const, n_replicates=50).collect()[0]
    assert (r["mean"], r["ci_lo"], r["ci_hi"]) == (1.0, 1.0, 1.0)

    mixed = spark.createDataFrame(
        [(i, float(i % 2)) for i in range(40)], "unit_id long, value double"
    )
    a = bootstrap_ci(mixed, n_replicates=50).collect()[0]
    b = bootstrap_ci(mixed, n_replicates=50).collect()[0]
    assert a == b
    assert a["ci_lo"] < a["mean"] == 0.5 < a["ci_hi"]


def test_join_size_audit_hand_counts(spark):
    """{a:2,b:1} x {a:3,c:4}: only 'a' joins -> 6 rows, max 6, top
    share 1.0; disjoint keys -> 0 rows with NULL share."""
    from graph_database_application_for_recommendations_spark.operators.diagnostics import (
        join_size_audit,
    )

    left = spark.createDataFrame([("a",), ("a",), ("b",)], "k string")
    right = spark.createDataFrame([("a",)] * 3 + [("c",)] * 4, "k string")
    r = join_size_audit(left, right, ["k"]).collect()[0]
    assert (r["n_left"], r["n_right"]) == (3, 7)
    assert (r["join_rows"], r["max_key_rows"], r["top_keys_share"]) == (6, 6, 1.0)
    disjoint = join_size_audit(
        left, spark.createDataFrame([("z",)], "k string"), ["k"]
    ).collect()[0]
    assert disjoint["join_rows"] == 0 and disjoint["top_keys_share"] is None


def test_butterfly_count_complete_biclique(spark):
    """K_{3,3} positive bipartite graph: every user pair shares w=3
    items -> C(3,2)=3 butterflies x 3 pairs = 9 total; formula equals
    brute-force 2x2 enumeration."""
    from graph_database_application_for_recommendations_spark.operators.corating import (
        butterfly_count,
    )

    rows = [(u, f"b{i}", 8) for u in (1, 2, 3) for i in range(3)]
    ratings = spark.createDataFrame(rows, "user_id long, isbn string, rating int")
    r = butterfly_count(ratings).collect()[0]
    assert (r["n_users"], r["n_items"], r["n_copairs"]) == (3, 3, 3)
    assert r["n_butterflies"] == 9 and r["max_pair_butterflies"] == 3


def test_butterfly_count_fanout_cap_bounds_pairs(spark):
    """Round-7 VERDICT item 3: the cap must actually bound the co-pair
    blowup. One hot item with 40 raters = C(40,2)=780 exact co-pairs;
    with max_raters_per_book=5 the join sees only the 5 lowest user_ids
    -> exactly C(5,2)=10 co-pairs, while the bipartite side counts
    (n_users/n_items) stay exact."""
    from graph_database_application_for_recommendations_spark.operators.corating import (
        butterfly_count,
    )

    ratings = spark.createDataFrame(
        [(u, "hot", 9) for u in range(40)], "user_id long, isbn string, rating int"
    )
    exact = butterfly_count(ratings).collect()[0]
    assert exact["n_copairs"] == 780 and exact["n_butterflies"] == 0
    capped = butterfly_count(ratings, max_raters_per_book=5).collect()[0]
    assert capped["n_copairs"] == 10  # C(5,2), not C(40,2)
    assert (capped["n_users"], capped["n_items"]) == (40, 1)
    # salted path produces the identical exact result (pure plan change)
    salted = butterfly_count(ratings, salt=4).collect()[0]
    assert salted.asDict() == exact.asDict()


def test_popularity_gini_extremes(spark):
    """Equal counts -> gini 0; one item holding ~everything -> gini near
    1; top-decile share matches the hand split."""
    from graph_database_application_for_recommendations_spark.operators.corating import (
        popularity_gini,
    )

    flat = spark.createDataFrame(
        [(u, f"i{u % 10}", 5) for u in range(100)], "user_id long, isbn string, rating int"
    )
    r = popularity_gini(flat).collect()[0]
    assert r["gini"] == 0.0 and r["top_decile_share"] == 0.1
    skewed = spark.createDataFrame(
        [(u, "hit", 5) for u in range(991)]
        + [(1, f"tail{i}", 5) for i in range(9)],
        "user_id long, isbn string, rating int",
    )
    r2 = popularity_gini(skewed).collect()[0]
    assert r2["n_items"] == 10 and r2["gini"] > 0.85
    assert r2["top_decile_share"] == 0.991


def test_stickiness_report_hand_counts(spark):
    """2 users x 2 days: user 1 active both days, user 2 one day ->
    avg_dau = 1.5, mau = 2, stickiness = 0.75."""
    import datetime as dt

    from graph_database_application_for_recommendations_spark.operators.events import (
        stickiness_report,
    )

    t = lambda day, h: dt.datetime(2024, 1, day, h, tzinfo=dt.timezone.utc)
    ev = spark.createDataFrame(
        [
            (1, t(1, 9), 1), (2, t(1, 10), 1),   # u1 twice on day 1
            (3, t(2, 9), 1), (4, t(2, 10), 2),
        ],
        "event_id long, ts timestamp, user_id long",
    )
    r = stickiness_report(ev).collect()[0]
    assert (r["n_days"], r["avg_dau"], r["mau"], r["stickiness"]) == (2, 1.5, 2, 0.75)


def test_source_signatures_distinctive_terms(spark):
    """A token unique to one source tops its signature; a token shared
    by every source has idf 0 and never appears."""
    from graph_database_application_for_recommendations_spark.operators.textstats import (
        source_signatures,
    )

    docs = spark.createDataFrame(
        [
            (1, "common alpha alpha", "A"),
            (2, "common beta", "B"),
            (3, "common gamma gamma gamma", "C"),
        ],
        "doc_id long, text string, source string",
    )
    got = {
        r["source"]: [r["token"]]
        for r in source_signatures(docs, top_n=1).collect()
    }
    assert got == {"A": ["alpha"], "B": ["beta"], "C": ["gamma"]}
    all_rows = source_signatures(docs, top_n=5).collect()
    assert not any(r["token"] == "common" and r["tfidf"] > 0 for r in all_rows)


def test_filter_flags_degenerate_docs(spark):
    """Empty and single-token docs take deterministic integer paths: ''
    tokenizes to one empty token (len 0 -> word_len fails), a lone
    stopword clears the floor exactly (1e6 >= 5e4), and a pure-repeat
    doc fails top_token and dup_2gram with dup positions == total."""
    from graph_database_application_for_recommendations_spark.operators.textstats import (
        filter_flags,
    )

    docs = spark.createDataFrame(
        [(1, ""), (2, "a"), (3, "the " * 20)], "doc_id long, text string"
    )
    r = {x["doc_id"]: x.asDict() for x in filter_flags(docs).collect()}
    assert (r[1]["n_tokens"], r[1]["total_token_len"]) == (1, 0)
    assert (r[1]["f_too_short"], r[1]["f_word_len"], r[1]["f_any"]) == (1, 1, 1)
    assert (r[2]["stop_hits"], r[2]["f_stopword_floor"]) == (1, 0)
    assert r[3]["dup_2gram_positions"] == r[3]["total_2gram_positions"] == 19
    assert (r[3]["f_top_token"], r[3]["f_dup_2gram"]) == (1, 1)


def test_butterfly_count_empty_graph_is_zero_row(spark):
    """No positive ratings -> the coalesce path emits one all-zero row
    instead of NULLs or an empty frame."""
    from graph_database_application_for_recommendations_spark.operators.corating import (
        butterfly_count,
    )

    low = spark.createDataFrame(
        [(1, "x", 2), (2, "x", 3)], "user_id long, isbn string, rating int"
    )
    r = butterfly_count(low).collect()[0]
    assert tuple(r) == (0, 0, 0, 0, 0)
