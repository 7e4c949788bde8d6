"""Data selection via hashed n-gram importance resampling (DSIR).

Xie et al., "Data Selection for Language Models via Importance
Resampling" (NeurIPS 2023, arXiv:2302.03169): estimate target and
source (raw-corpus) distributions over HASHED n-gram buckets, score
each raw document with the log importance ratio
``sum_b count_b(doc) * log(p_target(b) / p_source(b))``, and sample
the training set with probability proportional to the ratio —
selecting raw-web documents that look like the high-quality target
(e.g. Wikipedia + books) without training a classifier.

Scale shape:

- n-gram bucketing is per-row column expressions (``transform`` over
  ``sequence`` + ``xxhash64 % B``): zero UDFs, text never shuffles —
  only ``(doc_id, bucket)`` int pairs leave the row.
- the two corpus distributions are one hash aggregation each over
  int buckets (map-side partial agg); the log-ratio table is at most
  ``num_buckets`` rows — broadcast-joined to score documents.
- resampling is the Efraimidis–Spirakis weighted reservoir
  (exponential race), RNG-FREE: the uniform draw is a bit-mix of
  ``doc_id``, so the same inputs select the same sample on any
  cluster, any partitioning, any rerun.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..materialize import materialize


def ngram_buckets(
    df: DataFrame,
    n: int = 2,
    num_buckets: int = 1 << 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
    keep_empty: bool = False,
) -> DataFrame:
    """One row per n-gram occurrence: ``(doc_id, bucket)``.
    Tokens are lowercased words; n-grams are joined with a space and
    hashed into ``num_buckets`` (DSIR's hashing trick: fixed-size
    distributions regardless of vocabulary).

    ``portable=False`` (default) hashes with ``xxhash64`` — the fast
    JVM path. ``portable=True`` hashes with md5's first 60 bits (the
    same engine-independent family the MinHash/SimHash operators use),
    so an external engine can reproduce the buckets exactly — the
    oracle-checked mode."""
    if n < 1:
        raise ValueError("n must be >= 1")
    # CPU-bound tokenize+hash scales with cores, not input bytes: a
    # small corpus file arrives as ONE scan partition, so fan out to
    # the cluster's parallelism before the per-gram work (the same
    # guard fixture_features uses — measured 7.4 s -> 1.7 s for the
    # 266k-gram sf0.1 corpus on local[32]). At production scale scans
    # carry >= defaultParallelism partitions and this is a no-op; the
    # shuffle moves only (doc_id, text), once, before the explode
    # multiplies rows.
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        df = df.repartition(par)
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    last = F.size(toks) - F.lit(n)

    def bucket_of(i):
        gram = F.array_join(F.slice(toks, i + 1, F.lit(n)), " ")
        if portable:
            h = F.conv(F.substring(F.md5(gram), 1, 15), 16, 10).cast("long")
        else:
            h = F.xxhash64(gram)
        return F.pmod(h, F.lit(num_buckets))

    grams = F.when(
        last >= 0,
        F.transform(F.sequence(F.lit(0), last), bucket_of),
    ).otherwise(F.array().cast("array<bigint>"))
    # explode_outer when the caller needs every doc represented (a
    # NULL-bucket row for gram-less docs): scoring then needs no
    # second scan + backfill join over the doc list
    ex = F.explode_outer if keep_empty else F.explode
    return df.select(
        F.col(id_col).alias("doc_id"), ex(grams).alias("bucket")
    )


def importance_log_ratios(
    target: DataFrame,
    source: DataFrame,
    n: int = 2,
    num_buckets: int = 1 << 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """Per-bucket ``log p_target(b) - log p_source(b)`` for every
    bucket observed in either corpus: ``(bucket, log_ratio)``. At
    most ``num_buckets`` rows — broadcastable by construction.

    Plan shape (r12 optimization): BOTH corpora's bucket counts come
    out of ONE ``groupBy("bucket")`` over the side-labeled union —
    one Exchange instead of two plus a full-outer SortMergeJoin —
    and the ≤ ``num_buckets``-row count table is materialized
    (lazy ``localCheckpoint``) before anything derives from it. The
    old form re-ran the full corpus tokenize+aggregate lineage once
    per CONSUMER (the join, each unseen-mass scalar, and again for
    every downstream reference to the ratio table): ~20 parquet
    scans / 46 Exchanges in the resample plan, now 3 scans / a
    handful of Exchanges. Values are bit-identical: a bucket absent
    from one corpus has ``cnt = 0`` there, and
    ``log((0 + 1) / denom)`` IS the old ``logp_unseen`` term
    (same longs, same IEEE division and log); an entirely gram-less
    corpus keeps the old NULL ratios via the ``total > 0`` guard
    (NULL denominator, exactly like the old ``first()`` over an
    empty distribution)."""
    t_occ = ngram_buckets(target, n, num_buckets, text_col, id_col, portable)
    s_occ = ngram_buckets(source, n, num_buckets, text_col, id_col, portable)
    counts = (
        t_occ.select("bucket", F.lit(1).alias("__is_t"))
        .unionByName(s_occ.select("bucket", F.lit(0).alias("__is_t")))
        .groupBy("bucket")
        .agg(
            F.sum("__is_t").alias("cnt_t"),
            F.sum(F.lit(1) - F.col("__is_t")).alias("cnt_s"),
        )
    )
    counts = materialize(counts)
    denoms = counts.agg(
        F.sum("cnt_t").alias("t_total"),
        F.sum("cnt_s").alias("s_total"),
    )
    b = F.lit(num_buckets)
    t_denom = F.when(F.col("t_total") > 0, F.col("t_total") + b)
    s_denom = F.when(F.col("s_total") > 0, F.col("s_total") + b)
    return counts.crossJoin(F.broadcast(denoms)).select(
        "bucket",
        (
            F.log((F.col("cnt_t") + 1) / t_denom)
            - F.log((F.col("cnt_s") + 1) / s_denom)
        ).alias(
            "log_ratio",
            # hash-space stamp in the SCHEMA (no job to read it):
            # scoring must bucket with the same (n, num_buckets)
            # or every lookup silently misses — consumers read
            # this instead of trusting their own defaults
            metadata={"n": n, "num_buckets": num_buckets, "portable": portable},
        ),
    )


def _ratio_params(log_ratios: DataFrame) -> tuple[int, int, bool]:
    """Read the (n, num_buckets, portable) stamp off a ratio table's
    schema; raises on a frame built outside
    ``importance_log_ratios``."""
    for f in log_ratios.schema.fields:
        if f.name == "log_ratio" and "num_buckets" in (f.metadata or {}):
            return (
                int(f.metadata["n"]),
                int(f.metadata["num_buckets"]),
                bool(f.metadata.get("portable", False)),
            )
    raise ValueError(
        "log_ratios must come from importance_log_ratios "
        "(missing the hash-space stamp on the log_ratio column)"
    )


def importance_weights(
    docs: DataFrame,
    log_ratios: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    exact_decimal: bool = False,
) -> DataFrame:
    """Per-document DSIR score: ``(doc_id, log_weight)`` =
    sum of its n-gram buckets' log-ratios (occurrence-weighted).
    Documents with no n-grams score 0. One explode + broadcast join
    + one groupBy on doc_id; text stays in place.

    The n-gram order, bucket count, and hash family are read off the
    ratio table's schema stamp — they cannot drift from how the
    ratios were built.

    ``exact_decimal`` accumulates the per-bucket log-ratios in
    DECIMAL(28,12) — partition-order-independent and bit-identical
    across engines (the oracle-checked mode; the plain double sum is
    marginally faster)."""
    n, num_buckets, portable = _ratio_params(log_ratios)
    # keep_empty: a gram-less doc keeps a NULL-bucket row, so ONE
    # aggregation covers every doc — no second doc-list scan and no
    # backfill join
    occ = ngram_buckets(
        docs, n, num_buckets, text_col, id_col, portable, keep_empty=True
    )
    term = F.coalesce(F.col("log_ratio"), F.lit(0.0))
    if exact_decimal:
        term = term.cast("decimal(28,12)")
    scored = occ.join(F.broadcast(log_ratios), "bucket", "left")
    return scored.groupBy("doc_id").agg(
        F.coalesce(F.sum(term).cast("double"), F.lit(0.0)).alias(
            "log_weight"
        )
    )


def importance_resample(
    docs: DataFrame,
    log_ratios: DataFrame,
    n_select: int,
    temperature: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    exact_decimal: bool = False,
) -> DataFrame:
    """Select ``n_select`` documents with probability ~ importance
    weight, WITHOUT replacement, deterministically: the
    Efraimidis–Spirakis exponential race — key = ln(u) / w with
    u = uniform(0,1), take the n largest keys — where u derives from
    a hash of ``doc_id`` so the sample is reproducible bit-for-bit
    (``xxhash64``, or md5's first 60 bits when the ratio table was
    built ``portable`` — then an external engine reproduces the exact
    sample). ``temperature`` flattens (<1) or sharpens (>1) the
    weights, per DSIR's practical smoothing. Returns the selected
    rows with ``log_weight`` attached.

    The top-n is a ``sort + limit`` — Spark executes it as per-
    partition TakeOrdered + a single merge of n-row heads, not a full
    shuffle sort."""
    _n, _b, portable = _ratio_params(log_ratios)
    w = importance_weights(
        docs, log_ratios, text_col, id_col, exact_decimal=exact_decimal
    )
    if portable:
        h = F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
        ).cast("long")
    else:
        h = F.xxhash64(F.col("doc_id"))
    # u in (0,1): 53 mantissa-safe bits of the id hash
    u = (
        F.pmod(h, F.lit(1 << 53)).cast("double") + F.lit(0.5)
    ) / F.lit(float(1 << 53))
    # ln(key) = ln(u) / w, w = exp(temperature * log_weight); in log
    # space: ln(u) * exp(-temperature * log_weight) — finite for any
    # weight, monotone in the true key
    race = F.log(u) * F.exp(-F.lit(temperature) * F.col("log_weight"))
    ranked = w.withColumn("__race", race)
    chosen = (
        # doc_id tiebreak: a race-key collision (astronomically rare
        # but possible) must not make the selected set depend on
        # partition order
        ranked.orderBy(F.col("__race").desc(), F.col("doc_id").asc())
        .limit(n_select)
        .select(
            F.col("doc_id").alias("__sel_id"),
            "log_weight",
        )
    )
    return docs.join(
        F.broadcast(chosen), F.col(id_col) == F.col("__sel_id"), "inner"
    ).drop("__sel_id")
