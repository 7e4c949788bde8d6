"""Deduplication operators for training-data pipelines.

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard near-dup detection,
all as shuffles over compact keys — the shapes that survive 100 TB:

- exact: hash-groupBy on a normalized fingerprint (one shuffle on a
  16-byte key, never on the text itself)
- MinHash/LSH: per-doc signature (narrow), band -> bucket shuffle,
  pair join only inside buckets (candidate set ~linear, not O(n^2))
- n-gram Jaccard: rare-shingle blocking bounds the candidate pairs
- SimHash: 64-bit signature per doc; near-dups share bands of bits

md5 is used as the hash family everywhere (seeded by suffixing) so
results are engine-independent and oracle-checkable; lexicographic min
over md5 hex is a valid uniform min-hash.
"""

from __future__ import annotations

import inspect
import logging

from pyspark.sql import DataFrame, functions as F

from ..materialize import materialize
from .text import fingerprint, tokens

logger = logging.getLogger(__name__)


def _banded_candidate_pairs(
    buckets: DataFrame,
    max_bucket_size: int | None = None,
    sig_col: str | None = None,
    label: str = "lsh",
) -> DataFrame:
    """Distinct candidate pairs from a banded bucket table
    ``(doc_id, band, bucket[, sig])`` — the shared pair generator for
    MinHash-LSH and SimHash banding, with the skew guard both need at
    corpus scale.

    ``max_bucket_size=None`` (the exact default) self-joins every
    bucket: O(|bucket|^2) pairs per bucket, correct but explosive when
    a boilerplate/empty-document signature puts 10^5+ docs in ONE
    bucket (the classic 100 TB near-dedup failure). With a cap set,
    bucket sizes are pre-counted and over-cap buckets take the
    degenerate-bucket shortcut: every member is mutually a candidate,
    so star edges to the bucket's min doc_id (O(|bucket|) rows)
    preserve exactly the connectivity that downstream
    :func:`..cluster.connected_components` / survivor anti-joins
    consume — and every non-hub member still appears as ``doc_b``,
    keeping loser-side anti-join semantics. Capped-bucket counts are
    logged, never silently truncated.

    When ``sig_col`` is given the output carries ``sig_a``/``sig_b``
    so the caller can verify (e.g. exact hamming distance).
    """
    key = ["band", "bucket"]
    sig = [sig_col] if sig_col else []

    def _sel(side: str, suffix: str):
        cols = [F.col(f"{side}.doc_id").alias(f"doc_{suffix}")]
        if sig_col:
            cols.append(F.col(f"{side}.{sig_col}").alias(f"sig_{suffix}"))
        return cols

    if max_bucket_size is None:
        # r12 optimization (guide §1.2 "don't compute things twice"):
        # Spark plans the two sides of a self-join independently, so
        # joining the raw bucket lineage would run the whole
        # shingle/signature pipeline (a Python stage + the md5
        # signature groupBy) TWICE. Materialize the bucket table once
        # (lazy local checkpoint — the capped path below already does
        # this) and self-join the materialized rows.
        buckets = materialize(buckets)
        a, b = buckets.alias("a"), buckets.alias("b")
        return (
            a.join(b, key)
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(*_sel("a", "a"), *_sel("b", "b"))
            .distinct()
        )
    if max_bucket_size < 2:
        raise ValueError("max_bucket_size must be >= 2")
    # compute the banding once: sizes feeds both the count job and the
    # routing join
    buckets = materialize(buckets)
    sizes = (
        buckets.groupBy(*key)
        .agg(
            F.count("*").alias("_bsz"),
            # struct min = min by doc_id (unique per bucket), dragging
            # the hub's signature along for the verify step
            F.min(F.struct("doc_id", *sig)).alias("_hub"),
        )
    )
    sizes = materialize(sizes)
    n_over = sizes.filter(F.col("_bsz") > max_bucket_size).count()
    if n_over:
        logger.warning(
            "%s: %d bucket(s) over max_bucket_size=%d routed through the "
            "degenerate-bucket star shortcut (star-to-min-id edges, not "
            "all pairs)",
            label,
            n_over,
            max_bucket_size,
        )
    bk = buckets.join(sizes, key)
    small = bk.filter(F.col("_bsz") <= max_bucket_size)
    a, b = small.alias("a"), small.alias("b")
    pairs_small = (
        a.join(b, key)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(*_sel("a", "a"), *_sel("b", "b"))
    )
    big = bk.filter(
        (F.col("_bsz") > max_bucket_size)
        & (F.col("doc_id") != F.col("_hub.doc_id"))
    )
    star_cols = [F.col("_hub.doc_id").alias("doc_a")]
    if sig_col:
        star_cols.append(F.col(f"_hub.{sig_col}").alias("sig_a"))
    star_cols.append(F.col("doc_id").alias("doc_b"))
    if sig_col:
        star_cols.append(F.col(sig_col).alias("sig_b"))
    pairs_big = big.select(*star_cols)
    return pairs_small.unionByName(pairs_big).distinct()


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", min_group: int = 2
) -> DataFrame:
    """Groups of byte-identical (after whitespace/case normalize)
    documents: (fingerprint, keeper_id, n_docs, doc_ids).

    ``min_group=1`` returns every group (the keeper assignment view);
    the default 2 returns only actual duplicate groups.
    """
    return (
        df.select(F.col(id_col).alias("doc_id"), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count("*").cast("long").alias("n_docs"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .filter(F.col("n_docs") >= min_group)
    )


def shingles(text_col, k: int = 3):
    """k-word shingles (distinct) from whitespace tokens."""
    toks = tokens(text_col)
    n = F.size(toks)
    return F.array_distinct(
        F.when(n >= k, F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        )).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def exploded_shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """(doc_id, shingle) rows — distinct k-shingles per doc.

    Arrow-batched mapInPandas: Spark's higher-order array lambdas run
    interpreted (no codegen), so Python string slicing beats the
    expression form ~4x here; the distinct-set semantics match
    :func:`shingles` exactly.
    """
    import re

    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", df.schema[id_col].dataType),
            T.StructField("shingle", T.StringType()),
        ]
    )
    ws = re.compile(r"\s+")

    join = " ".join

    def run(batches):
        for pdf in batches:
            ids, shs = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = [t for t in ws.split((text or "").strip()) if t]
                if len(toks) >= k:
                    # zip-of-offsets + map(join): ~30% faster than
                    # per-position slicing (no list slice per shingle)
                    uniq = dict.fromkeys(
                        map(join, zip(*(toks[i:] for i in range(k))))
                    )
                else:
                    uniq = {join(toks): None}
                for s in uniq:
                    ids.append(doc_id)
                    shs.append(s)
            yield pd.DataFrame({"doc_id": ids, "shingle": shs})

    return df.select(id_col, text_col).mapInPandas(run, schema)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    k: int = 3,
) -> DataFrame:
    """(doc_id, sig_0..sig_{n-1}): min over shingles of
    md5(shingle || ':' || seed) per seed — engine-portable MinHash.

    Single pass: explode shingles once, compute all seeds inside one
    partial-aggregating groupBy (shuffles only doc_id + N 32-char
    minima, never the shingles). The per-column array_min(transform())
    form re-evaluated the shingle array per signature — ~8x slower.
    """
    sh = exploded_shingles(df, text_col, id_col, k)
    aggs = [
        F.min(F.md5(F.concat(F.col("shingle"), F.lit(f":{s}")))).alias(f"sig_{s}")
        for s in range(num_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    k: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH over the MinHash
    signature: docs sharing any band land in the same bucket.

    Returns distinct (doc_a, doc_b) with doc_a < doc_b. The bucket
    join is an equi-join on the band hash — shuffle on a short key,
    never a cross join. ``max_bucket_size`` routes over-cap buckets
    through the star shortcut (see :func:`_banded_candidate_pairs`) —
    set it on real corpora, where one boilerplate bucket can
    otherwise emit O(|bucket|^2) pairs.
    """
    buckets = minhash_buckets(
        df, text_col, id_col, num_hashes, band_size, k
    )
    return _banded_candidate_pairs(
        buckets, max_bucket_size, label="minhash_lsh_pairs"
    )


def minhash_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    k: int = 3,
) -> DataFrame:
    """The banded LSH bucket table ``(doc_id, band, bucket)`` —
    shared by the self-join pair generator and the cross-corpus
    semi-join dedup."""
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, k)
    bands = []
    for b in range(num_hashes // band_size):
        parts = [F.col(f"sig_{b * band_size + i}") for i in range(band_size)]
        bands.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("|", *parts)).alias("bucket"),
            )
        )
    return sigs.select(
        "doc_id", F.explode(F.array(*bands)).alias("bb")
    ).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def dedup_against_reference(
    new_docs: DataFrame,
    ref_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    k: int = 3,
    new_buckets: DataFrame | None = None,
    ref_buckets: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dedup of a NEW corpus against an EXISTING
    reference corpus (crawl N+1 vs crawl N): a new doc is a duplicate
    candidate iff any of its LSH band buckets is occupied by any
    reference doc.  Returns every new doc id with a ``dup`` int flag;
    compose ``.filter(F.col("dup") == 0)`` + join for the survivors.

    Scale shape: because ANY occupied bucket marks the whole bucket's
    new members, no pair is ever materialized — the reference side
    reduces to its DISTINCT (band, bucket) keys and the check is one
    left-semi join on short keys.  Unlike the self-join path this is
    inherently skew-safe (a boilerplate bucket costs its member count,
    not its square), so it needs no ``max_bucket_size`` guard.

    When both corpora are slices of ONE table (e.g. an id-range split
    of a single crawl), pass precomputed ``new_buckets`` /
    ``ref_buckets``: compute :func:`minhash_buckets` once over the
    parent, ``localCheckpoint(eager=False)`` it, and hand in filtered
    views — the table scan and the Python shingle/signature stage then
    run once instead of once per side.  The bucket values are per-doc
    (independent of the rest of the corpus), so a filtered view of the
    parent's bucket table is exactly the per-side bucket table.

    The hashing parameters (``text_col``/``num_hashes``/``band_size``/
    ``k``) describe how buckets are BUILT. With ONE side's buckets
    supplied they build the other side, so they must match the ones the
    supplied table was hashed with. With BOTH supplied they are unused,
    so passing any that differs from this function's defaults is a
    caller bug (the tables were hashed under other parameters than
    requested) and raises instead of silently returning wrong dup
    flags.
    """
    if new_buckets is not None and ref_buckets is not None:
        defaults = inspect.signature(dedup_against_reference).parameters
        given = {
            "text_col": text_col,
            "num_hashes": num_hashes,
            "band_size": band_size,
            "k": k,
        }
        if any(v != defaults[p].default for p, v in given.items()):
            raise ValueError(
                "dedup_against_reference: hashing params are ignored when "
                "both bucket tables are supplied — build the bucket tables "
                "with those params instead of passing both"
            )
    new_b = (
        new_buckets
        if new_buckets is not None
        else minhash_buckets(new_docs, text_col, id_col, num_hashes, band_size, k)
    )
    ref_b = (
        ref_buckets
        if ref_buckets is not None
        else minhash_buckets(ref_docs, text_col, id_col, num_hashes, band_size, k)
    )
    ref_keys = ref_b.select("band", "bucket").distinct()
    dup_ids = (
        new_b.join(ref_keys, ["band", "bucket"], "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("dup", F.lit(1))
    )
    return (
        new_docs.select(F.col(id_col).alias("doc_id"))
        .distinct()
        .join(dup_ids, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("dup", F.lit(0)).cast("int").alias("dup")
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int = 10,
) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard, with rare-shingle
    blocking: only docs sharing a shingle that occurs in at most
    ``max_shingle_df`` docs become candidates (bounds the join
    fan-out; frequent shingles can't create O(n^2) pairs).
    """
    # the shingle set feeds doc-sets and the blocking join: checkpoint
    # so the mapInPandas shingling runs once, not per branch
    sh = materialize(exploded_shingles(df, text_col, id_col, k))
    # per-doc shingle set: bounded by document length, shuffles once on
    # doc_id — carries both the size and the exact-intersection payload.
    # Materialized (r12): both pair sides (sa/sb) attach it, and Spark
    # plans each join side independently — without the checkpoint the
    # groupBy ran TWICE over the shingle table
    doc_sets = (
        sh.groupBy("doc_id")
        .agg(
            F.collect_list("shingle").alias("shs"),
            F.count("*").cast("long").alias("n_sh"),
        )
    )
    doc_sets = materialize(doc_sets)
    # blocking: document frequency via a COUNT-ONLY agg (no arrays for
    # hot shingles), filter to rare, and shrink the exploded shingles
    # to rare ones BEFORE any self-join — a shingle in 10^6 docs never
    # reaches the pair generator, so fan-out per shingle is bounded by
    # max_shingle_df^2 instead of df^2
    rare = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df_"))
        .filter((F.col("df_") >= 2) & (F.col("df_") <= max_shingle_df))
        .select("shingle")
    )
    # materialized (r12): the candidate generator self-joins rsh, and
    # each side would otherwise re-run the rare-shingle DF aggregation
    # and the blocking join — the same one-time materialization the
    # minhash bucket table gets
    rsh = materialize(sh.join(rare, "shingle"))
    cand = (
        rsh.alias("x")
        .join(rsh.alias("y"), "shingle")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # exact Jaccard over the FULL shingle sets (blocking only limited
    # which pairs are scored, never the score): intersect the two
    # per-doc arrays — two bounded-array joins, no all-shingle self-join
    sa = doc_sets.select(
        F.col("doc_id").alias("doc_a"), F.col("shs").alias("shs_a"), F.col("n_sh").alias("n_a")
    )
    sb = doc_sets.select(
        F.col("doc_id").alias("doc_b"), F.col("shs").alias("shs_b"), F.col("n_sh").alias("n_b")
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "n_inter", F.size(F.array_intersect("shs_a", "shs_b")).cast("long")
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 60) -> DataFrame:
    """SimHash fingerprint: per-token md5 -> first 15 hex chars as a
    60-bit int; signature bit b set when the weighted majority of
    token hashes have bit b set (every occurrence votes).

    One Arrow ``mapInPandas`` pass, ZERO shuffle: the fingerprint is
    per-document, so nothing needs to cross the wire at any corpus
    size. The previous expression form (explode + 60 conditional sums
    in one groupBy) was correct but paid one Exchange of 60-bit rows
    AND ~1 s of Catalyst optimization for its 120-expression plan on
    every fresh construction; this form is bit-identical
    (parity-measured on sf0.1) and ~3x faster end-to-end. numpy does
    the bit unpacking/voting; token hashing chunks at 64k tokens so a
    pathological document can't balloon the vote matrix.
    """
    import hashlib
    import re

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", df.schema[id_col].dataType),
            T.StructField("simhash", T.LongType()),
        ]
    )
    ws = re.compile(r"\s+")
    shifts = np.arange(bits, dtype=np.uint64)
    # first 15 hex chars of the md5 = top 60 bits of the first 8
    # bytes (always 60, independent of ``bits``, matching the JVM
    # conv(substring(md5,1,15),16,10) form; votes use its low bits).
    # Plain-int shift: numpy would refuse >> on ints >= 2^63.
    drop = 4
    chunk = 65536
    md5 = hashlib.md5
    one = np.uint64(1)

    def run(batches):
        for pdf in batches:
            ids, sigs = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = [t for t in ws.split((text or "").strip()) if t]
                if not toks:
                    continue
                votes = np.zeros(bits, dtype=np.int64)
                for lo in range(0, len(toks), chunk):
                    part = toks[lo : lo + chunk]
                    hs = np.fromiter(
                        (
                            int.from_bytes(
                                md5(t.encode("utf-8")).digest()[:8], "big"
                            )
                            >> drop
                            for t in part
                        ),
                        dtype=np.uint64,
                        count=len(part),
                    )
                    b = (hs[:, None] >> shifts) & one
                    votes += 2 * b.sum(axis=0, dtype=np.int64) - len(part)
                sig = int(
                    ((votes > 0).astype(np.uint64) << shifts).sum(
                        dtype=np.uint64
                    )
                )
                ids.append(doc_id)
                sigs.append(sig)
            yield pd.DataFrame({"doc_id": ids, "simhash": sigs})

    return df.select(id_col, text_col).mapInPandas(run, schema)


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 6,
    bits: int = 60,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the signature into ``bands``
    chunks (pigeonhole: hamming <= max_hamming guarantees an equal
    band when bands > max_hamming... choose bands accordingly), bucket
    join, verify exact hamming distance.

    ``max_bucket_size`` caps the per-bucket fan-out exactly like
    :func:`minhash_lsh_pairs` (near-identical corpora collapse into
    one band key per band); star edges are still hamming-verified
    against the hub, so every emitted pair honors ``max_hamming``.
    NOTE the capped mode is a recall trade-off specific to SimHash's
    verify step: in an over-cap bucket, a member pair within
    ``max_hamming`` of each other but both beyond it from the hub is
    not emitted (the uncapped path emits it). Candidate
    CONNECTIVITY is preserved like the MinHash case only when the
    downstream consumer treats unverified star edges as candidates;
    with the hamming filter it is an approximation — size the cap
    well above expected duplicate-group cardinality, or use
    :func:`minhash_lsh_pairs` (verification-free candidates) when
    exact capped semantics matter."""
    sigs = simhash(df, text_col, id_col, bits)
    width = bits // bands
    banded = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftright(F.col("simhash"), i * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias("key"),
                )
                for i in range(bands)
            ])
        ).alias("bb"),
    ).select(
        "doc_id", "simhash", "bb.band", F.col("bb.key").alias("bucket")
    )
    pairs = _banded_candidate_pairs(
        banded, max_bucket_size, sig_col="simhash", label="simhash_pairs"
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def lsh_params(
    num_hashes: int, threshold: float
) -> tuple[int, int, float]:
    """Pick the banding for a target Jaccard threshold: among the
    divisor splits ``num_hashes = bands * band_size``, choose the one
    whose S-curve inflection ``(1/bands)^(1/band_size)`` (Leskovec/
    Rajaraman/Ullman, Mining of Massive Datasets §3.4.3) lands
    closest to ``threshold`` — at that similarity a pair's collision
    probability ``1 - (1 - s^band_size)^bands`` crosses ~1/2, so
    pairs above the threshold are mostly kept and pairs below mostly
    dropped. Returns ``(bands, band_size, inflection)`` — feed
    ``band_size`` (and ``num_hashes``) to :func:`minhash_lsh_pairs`.
    Deterministic ties resolve toward more bands (higher recall)."""
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    if num_hashes < 1:
        raise ValueError("num_hashes must be >= 1")
    best = None
    for band_size in range(1, num_hashes + 1):
        if num_hashes % band_size:
            continue
        bands = num_hashes // band_size
        inflection = (1.0 / bands) ** (1.0 / band_size)
        err = abs(inflection - threshold)
        # ties -> more bands (smaller band_size): recall over cost
        key = (err, band_size)
        if best is None or key < best[0]:
            best = (key, (bands, band_size, inflection))
    return best[1]
