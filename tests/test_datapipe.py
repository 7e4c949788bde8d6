"""Datapipe operator tests over the driver's synthetic documents/embeddings."""

import pytest
from pyspark.sql import functions as F

from carbon_clickhouse_spark.datapipe.dedup import (
    exact_duplicates,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)
from carbon_clickhouse_spark.datapipe.multimodal import (
    attach_fake_payload,
    extract_image_features,
    sample_frames,
)
from carbon_clickhouse_spark.datapipe.similarity import (
    brute_force_topk,
    cosine_dup_pairs,
    lsh_bucketed_pairs,
)
from carbon_clickhouse_spark.datapipe.text import (
    fingerprint,
    language_id,
    quality_features,
    rolling_fingerprints,
    token_count,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def test_exact_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "different text")],
        ["doc_id", "text"],
    )
    got = exact_duplicates(df).collect()
    assert len(got) == 1
    assert got[0].keeper_id == 1 and got[0].doc_ids == [1, 2]


def test_minhash_identical_docs_always_pair(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "completely unrelated words about spark query engines and shuffles"),
        ],
        ["doc_id", "text"],
    )
    pairs = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(df).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs
    sigs = minhash_signatures(df).collect()
    s = {r.doc_id: [r[f"sig_{i}"] for i in range(8)] for r in sigs}
    assert s[1] == s[2] != s[3]


def test_dedup_against_reference(spark):
    """Cross-corpus incremental dedup: new docs sharing any LSH band
    bucket with the reference are flagged; novel docs survive; flags
    are deterministic under repartition."""
    from carbon_clickhouse_spark.datapipe.dedup import (
        dedup_against_reference,
    )

    ref = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "completely unrelated words about spark query engines and shuffles"),
        ],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            # exact copy of ref 1
            (10, "the quick brown fox jumps over the lazy dog again and again"),
            # novel content
            (11, "metrics rollup retention precision windows aggregate functions"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["dup"] for r in dedup_against_reference(new, ref).collect()}
    assert got == {10: 1, 11: 0}
    got2 = {
        r["doc_id"]: r["dup"]
        for r in dedup_against_reference(new.repartition(5), ref.repartition(3)).collect()
    }
    assert got2 == got
    # empty reference: nothing flagged
    got3 = {
        r["doc_id"]: r["dup"]
        for r in dedup_against_reference(new, ref.filter("doc_id < 0")).collect()
    }
    assert got3 == {10: 0, 11: 0}
    # shared-scan path: one parent corpus split by id, bucket table
    # computed once and passed in as filtered views — flags identical
    # to the two-call form (r12 optimization contract)
    from carbon_clickhouse_spark.datapipe.dedup import minhash_buckets

    parent = new.unionByName(ref)
    buckets = minhash_buckets(parent).localCheckpoint(eager=False)
    got4 = {
        r["doc_id"]: r["dup"]
        for r in dedup_against_reference(
            new,
            ref,
            new_buckets=buckets.filter("doc_id >= 10"),
            ref_buckets=buckets.filter("doc_id < 10"),
        ).collect()
    }
    assert got4 == got
    # guard: supplying BOTH precomputed bucket tables
    # together with non-default hashing params is a caller bug — the
    # params describe how buckets are BUILT and would be silently ignored
    with pytest.raises(ValueError, match="hashing params are ignored"):
        dedup_against_reference(
            new,
            ref,
            num_hashes=4,
            new_buckets=buckets.filter("doc_id >= 10"),
            ref_buckets=buckets.filter("doc_id < 10"),
        )
    # ...but with only the reference side precomputed the params build
    # the new side, so a reference table hashed with the same
    # non-default params is a valid call: same flags as building both
    # sides with those params
    both4 = {
        r["doc_id"]: r["dup"]
        for r in dedup_against_reference(new, ref, num_hashes=4).collect()
    }
    ref4 = {
        r["doc_id"]: r["dup"]
        for r in dedup_against_reference(
            new,
            ref,
            num_hashes=4,
            ref_buckets=minhash_buckets(ref, num_hashes=4),
        ).collect()
    }
    assert ref4 == both4 == got


def test_ngram_jaccard(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g x"),
            (3, "z y x w v u t s"),
        ],
        ["doc_id", "text"],
    )
    got = {(r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard_pairs(df, threshold=0.3).collect()}
    assert (1, 2) in got and got[(1, 2)] > 0.4
    assert (1, 3) not in got


def test_simhash_near_dups(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank"),
            (2, "the quick brown fox jumps over the lazy dog near the river banks"),
            (3, "unrelated document discussing catalyst optimizer rules and codegen"),
        ],
        ["doc_id", "text"],
    )
    sigs = {r.doc_id: r.simhash for r in simhash(df).collect()}
    ham12 = bin(sigs[1] ^ sigs[2]).count("1")
    ham13 = bin(sigs[1] ^ sigs[3]).count("1")
    assert ham12 < ham13
    pairs = {(r.doc_a, r.doc_b) for r in simhash_pairs(df, max_hamming=14).collect()}
    assert (1, 2) in pairs


def test_text_features(docs):
    feats = quality_features(docs).select(
        "doc_id", "n_char", "n_tokens", "stopword_ratio"
    )
    rows = feats.collect()
    assert len(rows) == docs.count()
    assert all(r.n_tokens > 0 for r in rows)
    langs = language_id(docs).select("lang_pred").distinct().collect()
    assert {r.lang_pred for r in langs} <= {"en", "es", "de", "fr", "und"}


def test_fingerprints(spark):
    df = spark.createDataFrame([(1, "A  b\tc"), (2, "a b c")], ["doc_id", "text"])
    fps = df.select(fingerprint("text").alias("fp")).collect()
    assert fps[0].fp == fps[1].fp
    rf = rolling_fingerprints(df, window=2).collect()
    assert all(r.window_hash is not None for r in rf)


def test_brute_force_topk(embs):
    qs = embs.filter(F.col("vec_id") < 3)
    got = brute_force_topk(embs, qs, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2}
    for rows in by_q.values():
        assert [r.rank for r in sorted(rows, key=lambda x: x.rank)] == [1, 2, 3, 4, 5]
        cos = [r.cosine for r in sorted(rows, key=lambda x: x.rank)]
        assert cos == sorted(cos, reverse=True)
        assert all(-1.001 <= c <= 1.001 for c in cos)


def test_cosine_pairs_and_lsh(embs):
    small = embs.filter(F.col("vec_id") < 60)
    exact = {
        (r.id_a, r.id_b)
        for r in cosine_dup_pairs(small, threshold=0.8).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in lsh_bucketed_pairs(small, threshold=0.8).collect()
    }
    # LSH returns a subset of the exact pairs (no false positives
    # post-verification), and self-pairs never appear
    assert approx <= exact
    assert all(a < b for a, b in exact)


def test_lsh_plane_scaling(embs):
    from carbon_clickhouse_spark.datapipe.similarity import derive_num_planes

    # planes ~ log2(n / bucket): constant expected bucket size as n grows
    assert derive_num_planes(100) == 8
    assert derive_num_planes(1_000_000) == 13
    assert derive_num_planes(10**9) == 23
    small = embs.filter(F.col("vec_id") < 60)
    exact = {
        (r.id_a, r.id_b) for r in cosine_dup_pairs(small, threshold=0.8).collect()
    }
    few = {
        (r.id_a, r.id_b)
        for r in lsh_bucketed_pairs(
            small, threshold=0.8, num_planes=4, num_tables=6
        ).collect()
    }
    many = {
        (r.id_a, r.id_b)
        for r in lsh_bucketed_pairs(
            small, threshold=0.8, num_planes=16, num_tables=2
        ).collect()
    }
    # never false positives at either setting; coarser buckets + more
    # tables must not lose recall relative to fine buckets + few tables
    assert few <= exact and many <= exact
    assert len(few) >= len(many)


def test_multimodal_plumbing(docs):
    media = attach_fake_payload(docs.limit(50))
    feats = extract_image_features(media, fake=True).collect()
    assert len(feats) == 50
    assert all(r.width >= 64 and r.height >= 64 for r in feats)
    assert all(r.n_bytes > 0 for r in feats)
    frames = sample_frames(media).collect()
    assert len(frames) >= 50
    assert all(r.frame_bytes is not None for r in frames)


def test_multimodal_real_decode_unknown_format_raises(docs):
    # payload without a netpbm/BMP container still raises without fake
    media = attach_fake_payload(docs.limit(1))
    with pytest.raises(Exception):
        extract_image_features(media, fake=False).collect()


def test_multimodal_decode_rejects_lookalike_magic():
    from carbon_clickhouse_spark.datapipe.multimodal import decode_image

    # document text starting with 'BM' or a netpbm-ish header must NOT
    # be claimed by the real decoders (structural validation), and
    # signed netpbm dimensions are rejected too
    for payload in [
        b"BMW is a car maker based in Munich, founded 1916." * 3,
        b"P6\n-8 -1\n255\n" + bytes(24),
        b"P5\n3 0\n255\n",
    ]:
        with pytest.raises(NotImplementedError):
            decode_image(payload)
        n = len(payload)
        w, h, m = decode_image(payload, fake=True)
        assert (w, h) == (64 + n % 577, 64 + (n * 31) % 577)


def test_multimodal_real_ppm_decode(docs, spark):
    from carbon_clickhouse_spark.datapipe.multimodal import (
        attach_ppm_payload,
        decode_image,
    )

    # hand-built P6 with comments in the header: 2x2 RGB, known mean
    ppm = b"P6\n# a comment\n2 2\n255\n" + bytes(range(12))
    w, h, mean = decode_image(ppm)
    assert (w, h) == (2, 2)
    assert mean == sum(range(12)) / 12
    # P5 grayscale
    pgm = b"P5\n3 1\n255\n" + bytes([10, 20, 30])
    assert decode_image(pgm) == (3, 1, 20.0)
    # distributed path over real generated PPMs
    media = attach_ppm_payload(docs.limit(20))
    feats = extract_image_features(media).collect()
    assert len(feats) == 20
    assert all(r.width == 8 and 1 <= r.height <= 64 for r in feats)


def test_multimodal_real_bmp_and_wav_decode(spark):
    import struct

    from carbon_clickhouse_spark.datapipe.multimodal import (
        _parse_wav,
        decode_image,
        extract_audio_features,
    )

    # minimal 2x2 24-bit BMP: 54-byte header + 2 rows of 8 bytes
    # (6 pixel bytes + 2 padding each)
    rows = bytes([100] * 6 + [0, 0]) + bytes([200] * 6 + [0, 0])
    header = (
        b"BM" + struct.pack("<IHHI", 54 + len(rows), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(rows), 0, 0, 0, 0)
    )
    w, h, mean = decode_image(header + rows)
    assert (w, h) == (2, 2)
    assert mean == sum(rows) / len(rows)

    # minimal PCM16 mono WAV: 4 samples at 8000 Hz
    samples = struct.pack("<4h", 100, -100, 200, -200)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(samples)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(samples)) + samples
    )
    info = _parse_wav(wav)
    assert info["n_channels"] == 1 and info["sample_rate"] == 8000
    assert info["n_samples"] == 4 and info["bits_per_sample"] == 16
    assert info["duration_s"] == 4 / 8000
    assert info["mean_abs_sample"] == 150.0

    media = spark.createDataFrame(
        [(1, "audio", bytearray(wav), ("wav", len(wav)))],
        "doc_id long, media_type string, payload binary, "
        "meta struct<format:string,n_bytes:bigint>",
    )
    out = extract_audio_features(media).collect()
    assert out[0].sample_rate == 8000 and out[0].n_samples == 4


def test_ivf_topk_recall(embs):
    from carbon_clickhouse_spark.datapipe.similarity import ivf_topk

    qs = embs.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(embs, qs, k=10).collect()
    approx = ivf_topk(embs, qs, k=10, n_lists=8, n_probe=4).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert set(approx_sets) == set(exact_sets)
    recalls = [
        len(approx_sets[q] & exact_sets[q]) / len(exact_sets[q])
        for q in exact_sets
    ]
    # probing half the lists should recover well over half the true
    # neighbors on this data
    assert sum(recalls) / len(recalls) >= 0.5
    # every approx rank list is internally consistent
    by_q = {}
    for r in approx:
        by_q.setdefault(r.query_id, []).append(r)
    for rows in by_q.values():
        ranks = sorted(r.rank for r in rows)
        assert ranks == list(range(1, len(rows) + 1))


def test_repetition_signals(spark):
    from carbon_clickhouse_spark.datapipe.text import repetition_signals

    rows = [
        (1, "a a a b"),            # top token 3/4, bigram "a a" 2/3
        (2, "x"),                  # single token: no bigrams
        (3, "one two three four"), # all distinct
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_signals(df).collect()}
    assert got[1].n_tokens == 4 and got[1].n_distinct == 2
    assert got[1].top_token_frac == 0.75
    assert got[1].top_bigram_frac == round(2 / 3, 4)
    assert got[1].mean_token_len == 1.0
    assert got[2].n_tokens == 1 and got[2].top_bigram_frac is None
    assert got[3].distinct_ratio == 1.0 and got[3].top_token_frac == 0.25


def test_embedding_stats(spark):
    from carbon_clickhouse_spark.datapipe.similarity import embedding_stats

    rows = [
        (1, [3.0, 4.0], 0),   # norm 5
        (2, [6.0, 8.0], 0),   # norm 10
        (3, [1.0, 0.0], 1),   # norm 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {r.grp: r for r in embedding_stats(df).collect()}
    assert got[0].n_vecs == 2
    assert abs(got[0].avg_sq_norm - 62.5) < 1e-9
    assert abs(got[0].min_norm - 5.0) < 1e-9
    assert abs(got[0].max_norm - 10.0) < 1e-9
    assert got[1].n_vecs == 1 and abs(got[1].avg_sq_norm - 1.0) < 1e-9


def test_knn_label_vote(embs):
    from carbon_clickhouse_spark.datapipe.similarity import knn_label_vote

    qs = embs.filter(F.col("vec_id") < 10)
    out = knn_label_vote(embs, qs, k=5).collect()
    assert len(out) == 10
    for r in out:
        assert 1 <= r.n_votes <= 5
        assert r.is_match == (1 if r.own_label == r.pred_label else 0)
    # the vote must equal a hand count over the brute-force neighbors
    nn = brute_force_topk(embs, qs, k=5).collect()
    labels = {r.vec_id: r.label for r in embs.select("vec_id", "label").collect()}
    by_q = {}
    for r in nn:
        by_q.setdefault(r.query_id, []).append(labels[r.neighbor_id])
    for r in out:
        votes = by_q[r.query_id]
        best = max(set(votes), key=lambda l: (votes.count(l), -l))
        assert r.pred_label == best
        assert r.n_votes == votes.count(best)


def test_connected_cluster_pipeline(docs):
    """End-to-end: LSH pairs -> components -> every edge endpoint
    shares its partner's cluster."""
    from carbon_clickhouse_spark.datapipe.cluster import connected_components

    edges = minhash_lsh_pairs(docs)
    comp = {r.node: r.cluster_id for r in connected_components(edges).collect()}
    for e in edges.collect():
        assert comp[e.doc_a] == comp[e.doc_b]
        assert comp[e.doc_a] <= min(e.doc_a, e.doc_b)


def test_benchmark_contamination(spark):
    from carbon_clickhouse_spark.datapipe.contamination import (
        benchmark_ngram_contamination,
    )

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over"),  # 4 grams, 3 contaminated
            (2, "completely novel text here now"),  # 3 grams, 0 contaminated
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in benchmark_ngram_contamination(corpus, bench).collect()}
    assert got[1].n_ngrams == 4 and got[1].n_matched == 3
    assert got[1].overlap == 0.75
    assert got[2].n_matched == 0 and got[2].overlap == 0.0


def test_pii_scrub(spark):
    from carbon_clickhouse_spark.datapipe.contamination import pii_scrub

    rows = [
        (1, "mail a.b+c@example.co.uk or x@y.io, call 415-555-0100, host 10.0.0.1"),
        (2, "no pii at all"),
        (3, "phone (212) 555-1234 and 1.2.3.4"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in pii_scrub(df).collect()}
    assert (got[1].n_emails, got[1].n_ips, got[1].n_phones) == (2, 1, 1)
    assert "<EMAIL>" in got[1].text_clean and "<IP>" in got[1].text_clean
    assert "415" not in got[1].text_clean
    assert (got[2].n_emails, got[2].n_ips, got[2].n_phones) == (0, 0, 0)
    assert got[2].text_clean == "no pii at all"
    assert got[3].n_phones == 1 and got[3].n_ips == 1


def test_tfidf_top_terms(spark):
    from carbon_clickhouse_spark.datapipe.contamination import tfidf_top_terms

    rows = [
        (1, "apple apple banana"),
        (2, "banana cherry"),
        (3, "cherry cherry cherry date"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tfidf_top_terms(df, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # rank ordering is deterministic: score desc then term asc
    for doc_id, rs in by_doc.items():
        assert [r.rank for r in sorted(rs, key=lambda r: r.rank)] == list(
            range(1, len(rs) + 1)
        )
    # 'apple' appears in 1 of 3 docs with tf=2 -> top term of doc 1
    top1 = min(by_doc[1], key=lambda r: r.rank)
    assert top1.term == "apple" and top1.tf == 2 and top1.df == 1


def test_stratified_sample_deterministic_and_rate(docs):
    from carbon_clickhouse_spark.datapipe.pack import hash_bucket, stratified_sample

    kept1 = {r.doc_id for r in stratified_sample(docs, F.lit(40)).select("doc_id").collect()}
    kept2 = {r.doc_id for r in stratified_sample(docs, F.lit(40)).select("doc_id").collect()}
    assert kept1 == kept2  # no RNG: identical across runs
    n = docs.count()
    assert 0.25 * n < len(kept1) < 0.55 * n  # ~40% of 500
    # buckets cover [0, 100)
    b = docs.select(hash_bucket("doc_id").alias("b")).agg(
        F.min("b"), F.max("b")
    ).first()
    assert b[0] >= 0 and b[1] < 100


def test_pack_contiguous_assignment(docs):
    from carbon_clickhouse_spark.datapipe.pack import pack_contiguous
    from carbon_clickhouse_spark.datapipe.text import token_count

    toks = docs.select(
        "doc_id", "source", token_count("text").cast("long").alias("n_tokens")
    )
    out = pack_contiguous(toks, budget=512).collect()
    by_src = {}
    for r in sorted(out, key=lambda r: (r.source, r.doc_id)):
        by_src.setdefault(r.source, []).append(r)
    for rows in by_src.values():
        cum = 0
        seen_pos = {}
        for r in rows:
            assert r.seq_id == cum // 512  # exclusive-cumsum chunking
            cum += r.n_tokens
            seen_pos.setdefault(r.seq_id, 0)
            seen_pos[r.seq_id] += 1
            assert r.seq_pos == seen_pos[r.seq_id]  # dense 1..n per seq


def test_paragraph_dedup_family(spark):
    from carbon_clickhouse_spark.datapipe.text import (
        duplicate_paragraphs,
        remove_duplicate_paragraphs,
        split_paragraphs,
    )

    docs = spark.createDataFrame(
        [
            (1, "Common boilerplate.\n\nUnique one."),
            (2, "Common   boilerplate.\n\nAnother unique.\n\nCommon boilerplate."),
            (3, "Totally distinct."),
        ],
        "doc_id long, text string",
    )
    paras = split_paragraphs(docs).collect()
    # whitespace-normalized: doc 2's double-space copy hashes equal
    assert ("Common boilerplate." in {r.paragraph for r in paras})
    dups = duplicate_paragraphs(docs).collect()
    assert len(dups) == 1
    d = dups[0]
    assert (d.n_docs, d.n_occurrences, d.survivor_doc, d.survivor_idx) == (2, 3, 1, 0)

    rewritten = {r.doc_id: r.text for r in remove_duplicate_paragraphs(docs).collect()}
    assert rewritten[1] == "Common boilerplate.\n\nUnique one."
    assert rewritten[2] == "Another unique."
    assert rewritten[3] == "Totally distinct."


def test_paragraph_dedup_preserves_row_set(spark):
    """A doc made ENTIRELY of non-survivor duplicates (and an empty
    doc) must come back with text='' — not vanish from the corpus."""
    from carbon_clickhouse_spark.datapipe.text import (
        remove_duplicate_paragraphs,
    )

    docs = spark.createDataFrame(
        [
            (1, "dup one.\n\ndup two."),
            (2, "dup one.\n\ndup two."),  # all paragraphs lose keep-first
            (3, ""),  # empty input doc
            (4, "   \n\n  "),  # whitespace-only
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.text for r in remove_duplicate_paragraphs(docs).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[1] == "dup one.\n\ndup two."
    assert out[2] == ""
    assert out[3] == ""
    assert out[4] == ""


def test_line_dedup_cross_doc_threshold(spark):
    """remove_duplicate_lines: a line is boilerplate only when it
    recurs in min_docs DIFFERENT documents; intra-doc repeats alone
    survive, and removal keeps the (doc_id, line_idx)-first copy."""
    from carbon_clickhouse_spark.datapipe.text import (
        remove_duplicate_lines,
    )

    docs = spark.createDataFrame(
        [
            (1, "unique a\nshared line\nunique b"),
            (2, "shared line\nunique c\nshared line"),
            # intra-doc repeat only: both copies stay
            (3, "solo repeat\nsolo repeat\nunique d"),
            # whitespace-trimmed forms match: "  shared line  " == hit
            (4, "  shared line  \nunique e"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.text for r in remove_duplicate_lines(docs).collect()}
    assert out[1] == "unique a\nshared line\nunique b"  # keep-first
    assert out[2] == "unique c"  # both copies lose
    assert out[3] == "solo repeat\nsolo repeat\nunique d"
    assert out[4] == "unique e"


def test_line_dedup_blank_lines_and_row_set(spark):
    """Blank/short lines are structure, not boilerplate — exempt even
    when every doc has them; fully-boilerplate docs come back with
    text='' (the corpus row set is preserved)."""
    from carbon_clickhouse_spark.datapipe.text import (
        remove_duplicate_lines,
    )

    docs = spark.createDataFrame(
        [
            (1, "dup\n\ntail one"),
            (2, "dup\n\ntail two"),
            (3, "dup"),  # single boilerplate line, loses keep-first
            (4, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.text for r in remove_duplicate_lines(docs).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[1] == "dup\n\ntail one"
    assert out[2] == "\ntail two"  # blank line kept, dup removed
    assert out[3] == ""
    assert out[4] == ""  # empty line is exempt, but '' reassembles to ''


def test_line_dedup_min_docs_and_min_chars(spark):
    from carbon_clickhouse_spark.datapipe.text import (
        remove_duplicate_lines,
    )

    docs = spark.createDataFrame(
        [(1, "ab\ncommon"), (2, "ab\ncommon"), (3, "ab\ncommon")],
        "doc_id long, text string",
    )
    # min_docs=4: nothing recurs widely enough
    out = {
        r.doc_id: r.text
        for r in remove_duplicate_lines(docs, min_docs=4).collect()
    }
    assert out == {1: "ab\ncommon", 2: "ab\ncommon", 3: "ab\ncommon"}
    # min_chars=3 exempts the 2-char line from dedup entirely
    out = {
        r.doc_id: r.text
        for r in remove_duplicate_lines(docs, min_chars=3).collect()
    }
    assert out == {1: "ab\ncommon", 2: "ab", 3: "ab"}


def test_line_dedup_randomized_vs_reference(spark):
    """Randomized corpora against a pure-Python reference of the
    documented semantics (cross-doc threshold, keep-first by
    (doc_id, line_idx), space-trim equality, short-line exemption) —
    one Spark job per corpus, collision-heavy line pool."""
    import random

    from carbon_clickhouse_spark.datapipe.text import (
        remove_duplicate_lines,
    )

    def reference(docs, min_docs=2, min_chars=1):
        occ = {}
        lines = {i: t.split("\n") for i, t in docs.items()}
        for i in sorted(lines):
            for idx, ln in enumerate(lines[i]):
                tl = ln.strip(" ")
                if len(tl) >= min_chars:
                    occ.setdefault(tl, []).append((i, idx))
        out = {}
        for i, lns in lines.items():
            kept = []
            for idx, ln in enumerate(lns):
                tl = ln.strip(" ")
                if len(tl) < min_chars:
                    kept.append(ln)
                    continue
                lst = occ[tl]
                if (
                    len({d for d, _ in lst}) < min_docs
                    or min(lst) == (i, idx)
                ):
                    kept.append(ln)
            out[i] = "\n".join(kept)
        return out

    rng = random.Random(13)
    pool = ["alpha beta", "gamma", "delta eps", "zeta", "  alpha beta  ",
            "", " ", "eta theta iota"]
    for trial in range(5):
        docs = {}
        for i in range(rng.randint(2, 12)):
            n = rng.randint(1, 8)
            docs[i] = "\n".join(rng.choice(pool) for _ in range(n))
        df = spark.createDataFrame(
            list(docs.items()), "doc_id long, text string"
        )
        got = {
            r.doc_id: r.text for r in remove_duplicate_lines(df).collect()
        }
        assert got == reference(docs), f"trial {trial}: {docs}"


def test_domain_filtering(spark):
    from carbon_clickhouse_spark.datapipe.text import (
        extract_domain,
        filter_blocked_domains,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "https://Example.COM:8080/page"),
            (2, "http://sub.spam.example.org/x?y=1"),
            (3, "https://ok.net/a"),
            (4, "https://spam.example.org/direct"),
        ],
        "doc_id long, url string",
    )
    doms = {r.doc_id: r.d for r in df.select("doc_id", extract_domain("url").alias("d")).collect()}
    assert doms == {
        1: "example.com", 2: "sub.spam.example.org",
        3: "ok.net", 4: "spam.example.org",
    }
    kept = {r.doc_id for r in filter_blocked_domains(df, ["spam.example.org"]).collect()}
    assert kept == {1, 3}
    kept2 = {r.doc_id for r in filter_blocked_domains(df, ["spam.example.org"], include_subdomains=False).collect()}
    assert kept2 == {1, 2, 3}


def test_chunk_documents(spark):
    from carbon_clickhouse_spark.datapipe.pack import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),   # 10 tokens
            (2, "one two"),                                # short: 1 chunk
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, max_tokens=4, overlap=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.chunk, r.n_tokens))
    # doc 1: starts 0,3,6 -> three windows of 4 with 1-token overlap
    # cover all 10 tokens; no trailing window that would only repeat
    # the previous overlap
    chunks = [c for _, c, _ in sorted(by_doc[1])]
    assert chunks == [
        "t0 t1 t2 t3",
        "t3 t4 t5 t6",
        "t6 t7 t8 t9",
    ]
    assert [n for _, _, n in sorted(by_doc[1])] == [4, 4, 4]
    # consecutive chunks share exactly the overlap token
    assert chunks[0].split()[-1] == chunks[1].split()[0]
    assert by_doc[2] == [(0, "one two", 2)]
    # zero-UDF: the plan has no Python stages
    plan = chunk_documents(docs, 4, 1)._jdf.queryExecution().executedPlan().toString()
    assert "InPandas" not in plan and "EvalPython" not in plan


def test_semantic_dedup(spark):
    """SemDeDup greedy keep-first: within a cluster, near-identical
    vectors collapse to the lowest id; distinct vectors survive."""
    import math

    from carbon_clickhouse_spark.datapipe.similarity import semantic_dedup

    def unit(angle):
        return [float(math.cos(angle)), float(math.sin(angle)), 0.0, 0.0]

    rows = [
        (1, unit(0.00)),          # group A representative
        (2, unit(0.01)),          # ~A (cos > 0.9999)
        (3, unit(0.02)),          # ~A
        (10, unit(1.50)),         # group B representative
        (11, unit(1.51)),         # ~B
        (20, unit(3.00)),         # lone vector
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    out = semantic_dedup(
        emb, n_clusters=3, threshold=0.999, sample_limit=100
    ).collect()
    by_id = {r.id: r for r in out}
    assert len(by_id) == 6
    assert by_id[1].keep and by_id[10].keep and by_id[20].keep
    assert not by_id[2].keep and by_id[2].dup_of == 1
    assert not by_id[3].keep and by_id[3].dup_of == 1
    assert not by_id[11].keep and by_id[11].dup_of == 10
    # survivors of the same near-dup group share a cluster
    assert by_id[2].cluster_id == by_id[1].cluster_id


def test_prepare_corpus_pipeline(spark):
    """The composed preparation chain: gates, exact + near dedup,
    decontamination, PII scrub, and the per-stage audit trail."""
    from carbon_clickhouse_spark.datapipe.prepare import (
        CorpusPrepConfig,
        prepare_corpus,
    )

    base = (
        "the cat sat on the mat and the dog sat on the rug while the "
        "bird sang in the tree and the sun rose over the hill"
    )
    near = base.replace("sun rose", "sun set")  # near-dup of base
    bench_hit = (
        "the quick brown fox jumps over the lazy dog every single day "
        "of the long warm summer in the old quiet town"
    )
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),                      # exact dup of 1
            (3, near),                      # near dup of 1
            (4, "tiny text"),               # fails min_tokens
            (5, bench_hit),                 # contaminated
            (6, "contact me at bob@example.com because a ship is "
                "in a harbor and a crew is on a deck while a wave "
                "is under a bow and a star is above a mast"),
                                            # survives; email scrubbed
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(bench_hit,)], "text string")
    cfg = CorpusPrepConfig(
        min_tokens=5,
        benchmark=bench,
        max_contamination=0.5,
        minhash_hashes=8,
        minhash_band=2,
    )
    kept, audit = prepare_corpus(docs, cfg)
    kept_rows = {r.doc_id: r for r in kept.collect()}
    stages = {(r.doc_id, r.stage) for r in audit.collect()}
    assert (2, "exact_dup") in stages
    assert (3, "near_dup") in stages
    assert (4, "quality") in stages
    assert (5, "contaminated") in stages
    assert set(kept_rows) == {1, 6}
    assert "bob@example.com" not in kept_rows[6].text
    assert kept_rows[6].n_emails == 1


def test_write_corpus_shards(spark, tmp_path):
    from carbon_clickhouse_spark.datapipe.pack import write_corpus_shards

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(50)], "doc_id long, text string"
    )
    root = str(tmp_path / "shards")
    write_corpus_shards(docs, root, n_shards=4)
    back = spark.read.parquet(root)
    assert back.count() == 50
    shards = {r.shard for r in back.select("shard").distinct().collect()}
    assert shards <= set(range(4)) and len(shards) > 1
    # deterministic: re-writing yields identical membership
    import pyspark.sql.functions as SF

    first = {(r.doc_id, r.shard) for r in back.collect()}
    write_corpus_shards(docs, root, n_shards=4)
    again = {
        (r.doc_id, r.shard)
        for r in spark.read.parquet(root).collect()
    }
    assert first == again
    del SF


def test_clean_text_and_nfc(spark):
    from carbon_clickhouse_spark.datapipe.text import (
        clean_text,
        nfc_normalize,
    )

    raw = "a\u200bb \u00a0 c\x07d  e\tf\ncaf\u0065\u0301"
    df = spark.createDataFrame([(1, raw)], "doc_id long, text string")
    out = df.select(clean_text("text").alias("t")).first().t
    # zero-width gone, NBSP -> space then run-collapsed, BEL stripped,
    # double space collapsed, single tab/newline preserved
    assert out == "ab cd e\tf\ncafe\u0301"
    nfc = nfc_normalize(df).first().text
    assert "caf\u00e9" in nfc  # e + combining acute composed


def test_train_valid_split(spark):
    from carbon_clickhouse_spark.datapipe.text import train_valid_split

    docs = spark.createDataFrame(
        [(i,) for i in range(2000)], "doc_id long"
    )
    out = train_valid_split(docs, valid_pct=10.0)
    frac = out.filter("split = 'valid'").count() / 2000
    assert 0.06 < frac < 0.14
    # deterministic: identical assignment on re-run / repartition
    again = {
        (r.doc_id, r.split)
        for r in train_valid_split(docs.repartition(7), 10.0).collect()
    }
    first = {(r.doc_id, r.split) for r in out.collect()}
    assert first == again


# ---------------------------------------------------------------------------
# substring-level dedup (winnowing)
# ---------------------------------------------------------------------------

def test_winnow_fingerprints_basic(spark):
    from carbon_clickhouse_spark.datapipe.substr import winnow_fingerprints

    df = spark.createDataFrame(
        [
            (1, "abcdefghijklmnopqrstuvwxyz0123456789"),
            (2, "xy"),          # shorter than k: no fingerprints
            (3, "abcdefg"),     # >= k but < k+w-1: no full window
            (4, "abcdefgh"),    # exactly k+w-1: exactly one window
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(df, k=5, w=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 2 not in by_doc and 3 not in by_doc
    assert len(by_doc[4]) == 1
    n = len("abcdefghijklmnopqrstuvwxyz0123456789")
    for r in by_doc[1]:
        assert 0 <= r.fp_pos <= n - 5
        assert len(r.h) == 32
    # winnowing density: selected positions are sparse but non-empty
    assert 1 <= len(by_doc[1]) < n - 5 + 1


def test_winnowing_guarantee_property(spark):
    """Any shared substring of length >= k+w-1 across two docs must
    yield at least one shared fingerprint hash (Schleimer et al. 2003
    correctness property), regardless of its alignment in each doc."""
    from carbon_clickhouse_spark.datapipe.substr import winnow_fingerprints

    k, w = 5, 4
    shared = "THE-QUOTED-COMMON-PASSAGE-IS-THIS"  # len 33 >= k+w-1 = 8
    rows = []
    for i, (pre, post) in enumerate(
        [("", ""), ("left pad ", " right"), ("x" * 7, ""), ("", "y" * 11)]
    ):
        rows.append((i, pre + shared + post))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(df, k=k, w=w).collect()
    per_doc = {}
    for r in fps:
        per_doc.setdefault(r.doc_id, set()).add(r.h)
    common = set.intersection(*per_doc.values())
    assert common, "winnowing guarantee violated: no shared fingerprint"


def test_duplicate_spans_detects_and_merges(spark):
    from carbon_clickhouse_spark.datapipe.substr import duplicate_spans

    boiler = "All rights reserved worldwide under the license terms."
    df = spark.createDataFrame(
        [
            (1, "Unique intro one. " + boiler + " Unique tail one."),
            (2, "Other beginning here. " + boiler + " Other ending."),
            (3, "Totally unrelated content with nothing repeated at all here."),
        ],
        "doc_id long, text string",
    )
    spans = duplicate_spans(df, k=10, w=4).collect()
    by_doc = {}
    for r in spans:
        by_doc.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    assert 3 not in by_doc
    # both copies of the boilerplate are covered by exactly one merged
    # span each, inside the duplicated region (winnowing trims edges by
    # < k+w chars on either side)
    for doc_id, prefix in ((1, "Unique intro one. "), (2, "Other beginning here. ")):
        assert len(by_doc[doc_id]) == 1
        s, e = by_doc[doc_id][0]
        # the merged span lies fully inside the duplicated passage:
        # k-grams straddling the distinct prefix/suffix hash uniquely
        assert len(prefix) <= s < e <= len(prefix) + len(boiler)
    # spans are disjoint and sorted per doc
    for sp in by_doc.values():
        sp.sort()
        for (s1, e1), (s2, e2) in zip(sp, sp[1:]):
            assert e1 < s2


def test_remove_duplicate_spans_keep_first(spark):
    from carbon_clickhouse_spark.datapipe.substr import remove_duplicate_spans

    boiler = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ-abcdefghijklmnop"
    df = spark.createDataFrame(
        [
            (1, "first copy: " + boiler),
            (2, "second copy: " + boiler + " trailing"),
            (3, "no duplicates in this row at all, plain text only"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.text for r in remove_duplicate_spans(df, k=10, w=4).collect()}
    assert set(out) == {1, 2, 3}
    # keep-first: doc 1 keeps its copy verbatim, doc 2 loses (most of) it
    assert out[1] == "first copy: " + boiler
    assert out[3] == "no duplicates in this row at all, plain text only"
    assert len(out[2]) < len("second copy: " + boiler + " trailing")
    assert boiler not in out[2]


def test_winnow_fingerprints_plan_zero_shuffle(spark):
    """The per-char hashing + window-min stage must stay a per-row
    array expression: no Exchange, no Python stage before explode."""
    from carbon_clickhouse_spark.datapipe.substr import winnow_fingerprints

    df = spark.createDataFrame([(1, "x" * 60)], "doc_id long, text string")
    plan = winnow_fingerprints(df, k=8, w=4)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan and "InPandas" not in plan


def test_token_unit_winnowing(spark):
    from carbon_clickhouse_spark.datapipe.substr import (
        duplicate_spans,
        remove_duplicate_spans,
        winnow_fingerprints,
    )

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [
            (1, "alpha beta " + boiler),
            (2, boiler + " gamma delta epsilon"),
            (3, "totally different words everywhere nothing shared here"),
        ],
        "doc_id long, text string",
    )
    k, w = 4, 3  # guarantee: >= 6 shared tokens surface
    fps = winnow_fingerprints(df, k=k, w=w, unit="token").collect()
    per_doc = {}
    for r in fps:
        per_doc.setdefault(r.doc_id, set()).add(r.h)
    assert per_doc[1] & per_doc[2], "shared token passage must fingerprint"
    spans = duplicate_spans(df, k=k, w=w, unit="token").collect()
    by_doc = {}
    for r in spans:
        by_doc.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    assert 3 not in by_doc
    # doc 1's span sits after its 2 unique lead tokens; offsets are
    # token indices, bounded by the doc's token count
    n1 = len(("alpha beta " + boiler).split())
    (s, e), = by_doc[1]
    assert 2 <= s < e <= n1
    out = {r.doc_id: r.text for r in
           remove_duplicate_spans(df, k=k, w=w, unit="token").collect()}
    assert set(out) == {1, 2, 3}
    # keep-first: doc 1 (smaller doc_id) keeps the passage, doc 2 cut
    assert boiler in out[1]
    assert boiler not in out[2]
    assert out[2].startswith(out[2].split()[0])  # rejoined tokens
    assert "gamma delta epsilon" in out[2]  # unique tail survives


def test_winnow_bad_unit_raises(spark):
    from carbon_clickhouse_spark.datapipe.substr import winnow_fingerprints

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="unit"):
        winnow_fingerprints(df, unit="byte")


def test_prepare_corpus_substring_stage(spark):
    from carbon_clickhouse_spark.datapipe.prepare import (
        CorpusPrepConfig,
        prepare_corpus,
    )

    boiler = " ".join(f"legal{i} boilerplate{i}" for i in range(8))
    # no within-document repeats: the pass cuts those too (Lee et al.
    # min_count counts every occurrence), which would mark extra docs
    docs = spark.createDataFrame(
        [
            (1, " ".join(f"alpha{i}" for i in range(10)) + " " + boiler),
            (2, " ".join(f"beta{i}" for i in range(10)) + " " + boiler),
            (3, " ".join(f"plain{i}" for i in range(20))),
        ],
        "doc_id long, text string",
    )
    cfg = CorpusPrepConfig(
        min_tokens=5, exact_dedup=True, near_dedup=False,
        scrub_pii=False, substring_dedup=True,
        substr_k=4, substr_w=1, substr_unit="token",
    )
    kept, audit = prepare_corpus(docs, cfg)
    texts = {r.doc_id: r.text for r in kept.select("doc_id", "text").collect()}
    assert set(texts) == {1, 2, 3}
    # keep-first: doc 1 keeps the boilerplate, doc 2 loses it
    assert "legal0 boilerplate0" in texts[1]
    assert "legal0 boilerplate0" not in texts[2]
    assert "beta0" in texts[2]
    stages = {(r.doc_id, r.stage) for r in audit.collect()}
    assert (2, "substr_cut") in stages
    assert (1, "substr_cut") not in stages


# ---------------------------------------------------------------------------
# DSIR importance resampling
# ---------------------------------------------------------------------------

def _dsir_corpora(spark):
    target = spark.createDataFrame(
        [(i, "the theory of quantum physics explains particle behavior")
         for i in range(8)],
        "doc_id long, text string",
    )
    source_rows = []
    for i in range(40):
        if i % 4 == 0:
            source_rows.append(
                (i, "quantum physics theory and particle experiments today")
            )
        else:
            source_rows.append(
                (i, f"buy cheap pills{i} now discount offer{i} click here win")
            )
    source = spark.createDataFrame(source_rows, "doc_id long, text string")
    return target, source


def test_dsir_weights_favor_target_like_docs(spark):
    from carbon_clickhouse_spark.datapipe.importance import (
        importance_log_ratios,
        importance_weights,
    )

    target, source = _dsir_corpora(spark)
    ratios = importance_log_ratios(target, source, n=2, num_buckets=1 << 12)
    w = {
        r.doc_id: r.log_weight
        for r in importance_weights(source, ratios).collect()
    }
    assert set(w) == set(range(40))
    sci = [w[i] for i in range(40) if i % 4 == 0]
    spam = [w[i] for i in range(40) if i % 4 != 0]
    assert min(sci) > max(spam)


def test_dsir_resample_deterministic_and_biased(spark):
    from carbon_clickhouse_spark.datapipe.importance import (
        importance_log_ratios,
        importance_resample,
    )

    target, source = _dsir_corpora(spark)
    ratios = importance_log_ratios(target, source, n=2, num_buckets=1 << 12)
    sel = importance_resample(source, ratios, n_select=10)
    ids = {r.doc_id for r in sel.collect()}
    assert len(ids) == 10
    # the 10 science docs dominate the selection
    assert sum(1 for i in ids if i % 4 == 0) >= 8
    # bit-for-bit deterministic under repartitioning
    again = {
        r.doc_id
        for r in importance_resample(
            source.repartition(7), ratios, n_select=10
        ).collect()
    }
    assert ids == again


def test_dsir_empty_and_short_docs(spark):
    from carbon_clickhouse_spark.datapipe.importance import (
        importance_log_ratios,
        importance_weights,
        ngram_buckets,
    )

    docs = spark.createDataFrame(
        [(1, ""), (2, "single"), (3, "two words")],
        "doc_id long, text string",
    )
    # bigrams: doc 1 and 2 have none, doc 3 has one
    occ = ngram_buckets(docs, n=2).groupBy("doc_id").count().collect()
    assert {r.doc_id: r["count"] for r in occ} == {3: 1}
    target, source = _dsir_corpora(spark)
    ratios = importance_log_ratios(target, source)
    w = {r.doc_id: r.log_weight
         for r in importance_weights(docs, ratios).collect()}
    # a ratio frame without the schema stamp is rejected, not
    # silently mis-bucketed
    import pyspark.sql.functions as SF
    with pytest.raises(ValueError, match="stamp"):
        importance_weights(docs, ratios.select("bucket",
            (SF.col("log_ratio") * 1.0).alias("log_ratio")))
    assert w[1] == 0.0 and w[2] == 0.0


# ---------------------------------------------------------------------------
# hashed-linear quality classifier
# ---------------------------------------------------------------------------

def test_quality_classifier_separates(spark):
    from carbon_clickhouse_spark.datapipe.classifier import (
        filter_by_quality,
        score_documents,
        train_quality_classifier,
    )

    pos = spark.createDataFrame(
        [(i, "carefully researched encyclopedia article with citations "
             f"and references volume{i}") for i in range(12)],
        "doc_id long, text string",
    )
    neg = spark.createDataFrame(
        [(i, f"click here buy now cheap deal{i} winner prize{i} claim fast")
         for i in range(12)],
        "doc_id long, text string",
    )
    model = train_quality_classifier(
        pos, neg, n=1, num_buckets=1 << 10, iters=15, lr=4.0
    )
    test = spark.createDataFrame(
        [
            (100, "encyclopedia article with careful citations and references"),
            (101, "cheap prize winner click now claim the deal fast"),
            (102, ""),
        ],
        "doc_id long, text string",
    )
    s = {r.doc_id: r.quality_score
         for r in score_documents(test, model).collect()}
    assert set(s) == {100, 101, 102}
    assert s[100] > 0.5 > s[101]
    assert 0.0 < s[102] < 1.0  # featureless doc gets sigmoid(bias)
    kept = filter_by_quality(test, model, threshold=0.5).collect()
    assert {r.doc_id for r in kept} == {100}
    assert all(hasattr(r, "quality_score") for r in kept)


def test_quality_classifier_deterministic(spark):
    from carbon_clickhouse_spark.datapipe.classifier import (
        score_documents,
        train_quality_classifier,
    )

    pos = spark.createDataFrame(
        [(i, f"alpha beta gamma delta{i}") for i in range(6)],
        "doc_id long, text string",
    )
    neg = spark.createDataFrame(
        [(i, f"zeta eta theta iota{i}") for i in range(6)],
        "doc_id long, text string",
    )
    m1 = train_quality_classifier(pos, neg, n=1, num_buckets=256, iters=5)
    m2 = train_quality_classifier(
        pos.repartition(5), neg.repartition(3), n=1, num_buckets=256, iters=5
    )
    assert abs(m1.bias - m2.bias) < 1e-12
    w1 = {r.bucket: r.weight for r in m1.weights.collect()}
    w2 = {r.bucket: r.weight for r in m2.weights.collect()}
    assert set(w1) == set(w2)
    assert all(abs(w1[b] - w2[b]) < 1e-9 for b in w1)
    s1 = {r.doc_id: r.quality_score for r in score_documents(pos, m1).collect()}
    s2 = {r.doc_id: r.quality_score for r in score_documents(pos, m2).collect()}
    assert all(abs(s1[d] - s2[d]) < 1e-9 for d in s1)


def test_prepare_corpus_gopher_and_lm_stages(spark):
    """Round-5 additions to the composed chain: the Gopher rule gate
    and CCNet-style perplexity banding, each with its audit stage."""
    from carbon_clickhouse_spark.datapipe.prepare import (
        CorpusPrepConfig,
        prepare_corpus,
    )

    fluent = ("the cat sat on the mat and the dog ran to the tree "
              "while the bird sang of the hill and the sun") * 2
    gibberish = "zq wv pk xj qn " * 12
    bullets = "\n".join(f"- item {i} of the list" for i in range(40))
    docs = spark.createDataFrame(
        [(1, fluent), (2, gibberish), (3, bullets)],
        "doc_id long, text string",
    )
    ref = spark.createDataFrame([(fluent,)], "text string")
    cfg = CorpusPrepConfig(
        min_tokens=5,
        gopher=True,
        gopher_thresholds={"min_words": 10, "min_stop_hits": 1},
        lm_reference=ref,
        lm_keep_bands=("head",),
        exact_dedup=False,
        near_dedup=False,
        scrub_pii=False,
    )
    kept, audit = prepare_corpus(docs, cfg)
    stages = {(r.doc_id, r.stage) for r in audit.collect()}
    # bullets doc fails the Gopher bullet-line rule; gibberish has no
    # stopwords -> also gopher; fluent survives everything (its
    # perplexity is the corpus minimum -> 'head' band)
    assert (3, "gopher") in stages
    kept_ids = {r.doc_id for r in kept.collect()}
    assert kept_ids == {1}


def test_pq_encode_shape_and_determinism(embs):
    from carbon_clickhouse_spark.datapipe.similarity import (
        pq_encode,
        train_pq_codebooks,
    )

    books = train_pq_codebooks(embs, m=8, n_codes=32, iters=4)
    assert books.shape[0] == 8 and books.shape[2] == 8  # d=64 -> dsub=8
    enc1 = {r.id: tuple(r.codes) for r in pq_encode(embs, books).collect()}
    enc2 = {r.id: tuple(r.codes) for r in pq_encode(embs, books).collect()}
    assert enc1 == enc2
    assert len(enc1) == embs.count()
    for codes in enc1.values():
        assert len(codes) == 8
        assert all(0 <= c < 32 for c in codes)


def test_pq_topk_recall(embs):
    from carbon_clickhouse_spark.datapipe.similarity import (
        brute_force_topk,
        pq_topk,
    )

    qs = embs.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(embs, qs, k=10).collect()
    approx = pq_topk(embs, qs, k=10, m=16).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        assert r.neighbor_id != r.query_id
    assert set(approx_sets) == set(exact_sets)
    recalls = [
        len(approx_sets[q] & exact_sets[q]) / len(exact_sets[q])
        for q in exact_sets
    ]
    # 256-way codebooks over 500 vectors quantize nearly losslessly;
    # demand strong recall, not perfection (PQ is approximate)
    assert sum(recalls) / len(recalls) >= 0.7


def test_ann_query_side_cap(embs):
    """r11 (r10 verdict minor note): the driver-side query
    materialization in pq_topk / ivfpq_topk is bounded — a
    corpus-sized query frame fails fast with a clear error instead
    of OOMing the driver; the cap is overridable."""
    import pytest as _pytest

    from carbon_clickhouse_spark.datapipe.similarity import (
        ivfpq_topk,
        pq_topk,
    )

    with _pytest.raises(ValueError, match="max_queries"):
        pq_topk(embs, embs, k=2, m=16, max_queries=10)
    with _pytest.raises(ValueError, match="max_queries"):
        ivfpq_topk(embs, embs, k=2, m=16, max_queries=10)
    # raising the cap admits the same frame
    out = pq_topk(
        embs, embs.filter(F.col("vec_id") < 3), k=2, m=16, max_queries=3
    )
    assert out.count() > 0


def test_pq_topk_jvm_scoring_plan(embs):
    """The ADC scan must stay JVM-side: no Python eval in the scoring
    stage (the one Arrow stage is the corpus encode)."""
    from carbon_clickhouse_spark.datapipe.similarity import (
        pq_encode,
        pq_topk,
        train_pq_codebooks,
    )

    qs = embs.filter(F.col("vec_id") < 2)
    books = train_pq_codebooks(embs, m=8, n_codes=32, iters=2)
    enc = pq_encode(embs, books)
    enc.persist()
    try:
        enc.count()
        plan = pq_topk(
            embs, qs, codebooks=books, k=5, encoded=enc
        )._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    finally:
        enc.unpersist()


def test_deterministic_shuffle(docs):
    from carbon_clickhouse_spark.datapipe.pack import deterministic_shuffle

    out = deterministic_shuffle(docs, key="doc_id", seed=7, n_shards=8)
    rows1 = [
        (r.shard, r.order_key, r.doc_id)
        for r in out.select("shard", "order_key", "doc_id").collect()
    ]
    # permutation: every doc exactly once
    assert sorted(r[2] for r in rows1) == sorted(
        r.doc_id for r in docs.select("doc_id").collect()
    )
    # layout-independent: a different input partitioning gives the
    # identical global order
    out2 = deterministic_shuffle(
        docs.repartition(13), key="doc_id", seed=7, n_shards=8
    )
    rows2 = [
        (r.shard, r.order_key, r.doc_id)
        for r in out2.select("shard", "order_key", "doc_id").collect()
    ]
    assert sorted(rows1) == sorted(rows2)
    # a new seed is a new permutation
    out3 = deterministic_shuffle(docs, key="doc_id", seed=8, n_shards=8)
    order3 = [r.doc_id for r in out3.select("doc_id").collect()]
    order1_sorted_read = [
        r.doc_id
        for r in out.orderBy("shard", "order_key", "doc_id")
        .select("doc_id")
        .collect()
    ]
    assert order3 != order1_sorted_read
    # shards cover the full range and are int-typed
    shards = {r.shard for r in out.select("shard").distinct().collect()}
    assert shards <= set(range(8)) and len(shards) > 1


def test_ivfpq_topk_recall(embs):
    from carbon_clickhouse_spark.datapipe.similarity import (
        brute_force_topk,
        ivfpq_topk,
    )

    qs = embs.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(embs, qs, k=10).collect()
    approx = ivfpq_topk(
        embs, qs, k=10, n_lists=8, n_probe=4, m=16
    ).collect()
    es, aps = {}, {}
    for r in exact:
        es.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in approx:
        aps.setdefault(r.query_id, set()).add(r.neighbor_id)
        assert r.neighbor_id != r.query_id
    assert set(aps) == set(es)
    recalls = [len(aps[q] & es[q]) / len(es[q]) for q in es]
    # two stacked approximations (IVF routing + PQ codes): still most
    # of the true neighborhood on this data
    assert sum(recalls) / len(recalls) >= 0.5


def test_progressive_jpeg_dc_decode():
    """SOF2 successive-approximation DC decode (T.81 Annex G): first
    DC scan at Al=1 + refinement + skipped AC scan reconstruct the
    exact block mean, including odd/negative-DC values where the
    arithmetic-shift + OR-refinement sign rule matters."""
    from carbon_clickhouse_spark.datapipe.multimodal import (
        decode_image,
        encode_jpeg_gray_blocks,
        encode_jpeg_gray_blocks_progressive,
    )

    for vals in ([0, 255, 128, 1, 254], [127], [129, 127, 130, 126]):
        p = encode_jpeg_gray_blocks_progressive(vals)
        w, h, mean = decode_image(p)
        assert (w, h) == (8, 8 * len(vals))
        assert mean == pytest.approx(sum(vals) / len(vals), abs=1e-9)
        # progressive and baseline encodings of the same image decode
        # to the identical mean
        bw, bh, bmean = decode_image(encode_jpeg_gray_blocks(vals))
        assert (bw, bh, bmean) == (w, h, mean)

    # truncated progressive stream: None from the parser, so
    # decode_image falls to the dims-only path (SOF2 header intact)
    from carbon_clickhouse_spark.datapipe.multimodal import (
        _parse_jpeg_progressive_exact,
    )

    p = encode_jpeg_gray_blocks_progressive([10, 200, 30])
    assert _parse_jpeg_progressive_exact(p[:40]) is None
    w, h, mean = decode_image(p[: len(p) - len(p) // 3])
    assert (w, h) == (8, 24) and mean is None


def test_lsh_params_calibration():
    from carbon_clickhouse_spark.datapipe.dedup import lsh_params

    import pytest as _pytest

    # MMDS worked example: 16 hashes targeting ~0.5 -> 4 bands of 4
    # (inflection (1/4)^(1/4) ~ 0.707) vs 8x2 ((1/8)^(1/2) ~ 0.354):
    # 0.5 sits between; 8 bands of 2 is closer (|0.354-0.5| < |0.707-0.5|)
    bands, band_size, infl = lsh_params(16, 0.5)
    assert (bands, band_size) == (8, 2)
    assert infl == _pytest.approx((1 / 8) ** 0.5)
    # high threshold -> few wide bands
    bands, band_size, _ = lsh_params(16, 0.9)
    assert (bands, band_size) == (2, 8)
    # the collision probability at the returned inflection sits near
    # the S-curve midpoint for a spread of configurations
    for n, t in ((8, 0.3), (12, 0.6), (64, 0.8)):
        b, r, s = lsh_params(n, t)
        assert b * r == n
        prob = 1 - (1 - s ** r) ** b
        assert 0.3 < prob < 0.75  # near the curve's midpoint
    with _pytest.raises(ValueError):
        lsh_params(8, 1.5)


def test_readability_features(spark):
    """Flesch/FK against a hand computation; empty and NULL texts
    yield NULLs, never a zero division; plan stays UDF-free."""
    from carbon_clickhouse_spark.datapipe.text import readability_features

    df = spark.createDataFrame(
        [
            (1, "The cat sat. It was happy!"),
            (2, ""),
            (3, None),
            (4, "   "),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in readability_features(df).collect()}
    r1 = rows[1]
    # sentences = 2, words = 6, syllables = 1+1+1+1+1+2 = 7
    assert r1["n_sentences"] == 2 and r1["n_syllables"] == 7
    wps, spw = 6 / 2, 7 / 6
    assert r1["flesch_reading_ease"] == round(
        206.835 - 1.015 * wps - 84.6 * spw, 4
    )
    assert r1["fk_grade"] == round(0.39 * wps + 11.8 * spw - 15.59, 4)
    for d in (2, 3, 4):
        assert rows[d]["flesch_reading_ease"] is None
        assert rows[d]["n_sentences"] is None

    plan = (
        readability_features(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert "Exchange" not in plan  # zero-shuffle column pass


def test_ivf_topk_empty_corpus(spark):
    """r11 empty-input probe: an empty embeddings table returns an
    empty result with the brute_force_topk schema instead of an
    obscure numpy axis error from the centroid trainer."""
    from carbon_clickhouse_spark.datapipe.similarity import ivf_topk

    e0 = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    )
    out = ivf_topk(e0, e0, k=3)
    assert out.count() == 0
    assert out.schema.simpleString() == (
        "struct<query_id:bigint,neighbor_id:bigint,"
        "cosine:double,rank:bigint>"
    )


def test_mask_contaminated_spans(spark):
    """Span-level decontamination: exactly the tokens covered by a
    benchmark 3-gram mask; everything else survives. Hand-built:
    the benchmark phrase 'what is two plus two' plants two
    overlapping 3-grams; a doc quoting it mid-sentence masks only
    the quoted span (5 tokens), a clean doc masks nothing, a
    sub-n doc can never match, an empty doc is (0, 0, NULL, '')."""
    from carbon_clickhouse_spark.datapipe.contamination import (
        mask_contaminated_spans,
    )

    bench = spark.createDataFrame(
        [(1, "what is two plus two")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (10, "the question what is two plus two appeared here"),
            (11, "a perfectly clean document with no overlap at all"),
            (12, "two plus"),           # < n tokens: no grams
            (13, ""),                   # empty
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in mask_contaminated_spans(corpus, bench, n=3).collect()
    }
    r = got[10]
    # tokens 2..6 (0-based) covered by the three benchmark 3-grams
    assert (r.n_tokens, r.n_masked, r.masked_frac) == (9, 5, 0.5556)
    s = "<CONTAMINATED>"
    assert r.text_masked == f"the question {s} {s} {s} {s} {s} appeared here"
    r = got[11]
    assert (r.n_masked, r.masked_frac) == (0, 0.0)
    assert r.text_masked.startswith("a perfectly clean")
    r = got[12]
    assert (r.n_tokens, r.n_masked) == (2, 0)
    assert r.text_masked == "two plus"
    r = got[13]
    assert (r.n_tokens, r.n_masked, r.masked_frac, r.text_masked) == (
        0, 0, None, "")


def test_url_canonicalize_and_dedup(spark):
    """Crawl first-pass URL dedup: case/www/default-port/tracking-
    param/param-order/trailing-slash/fragment variants of one page
    all collapse to one canonical form; the lowest doc_id survives
    and duplicates point at it. Distinct pages stay distinct
    (non-default port, different param VALUE)."""
    from carbon_clickhouse_spark.datapipe.text import (
        canonical_url,
        url_dedup,
    )

    rows = [
        (1, "http://example.com/a?b=1"),
        (2, "HTTP://WWW.Example.com:80/a/?utm_source=x&b=1#frag"),
        (3, "http://example.com/a?b=1&gclid=zzz"),
        (4, "http://example.com:8080/a?b=1"),     # non-default port
        (5, "http://example.com/a?b=2"),          # different value
        (6, "https://example.com/a?b=1"),         # different scheme
        (7, None),                                # NULL url passes
        (8, "http://example.com/a?c=9&b=1"),      # param order
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r.doc_id: r for r in url_dedup(df).collect()}
    assert got[2].canonical_url == "http://example.com/a?b=1"
    assert got[1].keep and got[1].dup_of is None
    assert not got[2].keep and got[2].dup_of == 1
    assert not got[3].keep and got[3].dup_of == 1
    assert got[4].keep and got[4].canonical_url == "http://example.com:8080/a?b=1"
    assert got[5].keep and got[6].keep
    assert got[7].keep and got[7].dup_of is None
    assert got[8].keep  # ?b=1&c=9 is a DIFFERENT page than ?b=1
    assert got[8].canonical_url == "http://example.com/a?b=1&c=9"


def test_canonical_url_fuzz_equivalence_classes(spark):
    """Seeded fuzz over canonical_url's equivalence classes: for 200
    random base URLs, every generated variant (scheme/host case,
    www., default port, tracking params, param order, trailing
    slashes, fragment) must collapse to its base's canonical form,
    and two DIFFERENT bases must never collide (distinct host/path/
    param-value construction guarantees distinct canonicals)."""
    import random

    from carbon_clickhouse_spark.datapipe.text import canonical_url

    rng = random.Random(97)
    rows = []
    for b in range(200):
        scheme = rng.choice(["http", "https"])
        host = f"h{b}.example.org"
        path = f"/p{b}/x" if b % 3 else f"/p{b}"
        params = [f"a={b}", f"z={b % 7}"][: 1 + b % 2]
        base = f"{scheme}://{host}{path}"
        if params:
            base += "?" + "&".join(sorted(params))
        for v in range(4):
            s = scheme.upper() if v % 2 else scheme
            h = ("WWW." + host.upper()) if v == 1 else (
                "www." + host if v == 2 else host)
            port = (":80" if scheme == "http" else ":443") if v == 3 else ""
            p = path + ("/" if v % 2 else "")
            q = list(params)
            if v % 2:
                q.append(f"utm_campaign=c{v}")
            if v == 3:
                q.append("gclid=g")
            rng.shuffle(q)
            url = f"{s}://{h}{port}{p}"
            if q:
                url += "?" + "&".join(q)
            if v == 2:
                url += "#frag"
            rows.append((b, url))
    df = spark.createDataFrame(rows, "base long, url string")
    out = df.select(
        "base", canonical_url("url").alias("c")
    ).collect()
    by_base = {}
    for r in out:
        by_base.setdefault(r.base, set()).add(r.c)
    # every variant of a base collapses to ONE canonical form
    bad = {b: cs for b, cs in by_base.items() if len(cs) != 1}
    assert not bad, list(bad.items())[:3]
    # distinct bases never collide
    all_canon = [next(iter(cs)) for cs in by_base.values()]
    assert len(set(all_canon)) == len(all_canon)
