"""ClickHouse aggregate-function parity: ``topK``, ``sumMap``,
``histogram`` — the aggregates a graphite/CH analyst reaches for
beyond plain sum/avg (public semantics: ClickHouse docs, aggregate
functions reference).

Spark-first shapes:

- :func:`top_k` (exact): two partial-aggregating shuffles — a
  (group, value) count then a per-group window — never a global
  sort. Exact mode is the oracle-checkable default; its cost is the
  distinct (group, value) cardinality, which is the honest price of
  exactness.
- :func:`top_k_sketch` (SpaceSaving, Metwally et al. 2005): when the
  distinct cardinality itself is the problem (10^9 URLs per group),
  each partition keeps a k*oversample-slot summary in one Arrow pass
  and only the tiny summaries shuffle. Merged counts are upper
  bounds (the SpaceSaving guarantee: any value with true frequency
  > n/slots survives; reported count >= true count). Result set can
  vary with partitioning for near-tied tails — documented, and the
  guarantee itself is what the tests assert.
- :func:`sum_map`: key/value array columns explode via ``zip_with``
  into (group, key) partial sums — the map never materializes per
  row, and exact DECIMAL sums keep it engine-portable.
- :func:`histogram_fixed`: explicit-bound fixed-width bins as one
  pure-column expression + one groupBy; identical IEEE double math
  on any engine, so even the bucket edges hash-match an oracle.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from ..materialize import materialize


def top_k(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    k: int = 10,
    weight_col: str | None = None,
) -> DataFrame:
    """EXACT per-group top-k values by frequency (ClickHouse
    ``topK(k)(col)`` without its sketch error): returns
    ``(*group_cols, value, cnt, rnk)`` with rnk 1..k, ties broken by
    value ascending so results are total-order deterministic.

    ``weight_col`` gives ``topKWeighted(k)(col, weight)``: rows rank
    by summed integer weight instead of row count (CH weights are
    UInt64; a long column keeps the sums exact and hashable)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    # NULL values are skipped, matching ClickHouse aggregate-function
    # semantics (and keeping parity with top_k_sketch, whose merge
    # protocol reserves NULL for its min-row sentinel)
    cnt_agg = (
        F.sum(F.col(weight_col).cast("long"))
        if weight_col
        else F.count("*")
    )
    counted = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*group_cols, F.col(value_col).alias("value"))
        .agg(cnt_agg.cast("long").alias("cnt"))
    )
    w = Window.partitionBy(*group_cols).orderBy(
        F.col("cnt").desc(), F.col("value").asc()
    )
    return (
        counted.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .withColumn("rnk", F.col("rnk").cast("int"))
    )


def top_k_sketch(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    k: int = 10,
    oversample: int = 4,
    weight_col: str | None = None,
) -> DataFrame:
    """Approximate heavy hitters via per-partition SpaceSaving
    summaries (Metwally et al. 2005, the algorithm behind ClickHouse
    ``topK``): each partition keeps ``k * oversample`` slots per
    group in one Arrow pass; only the summaries (<= slots rows per
    group per partition) shuffle to a final merge.

    Merge follows the mergeable-summaries construction (Agarwal et
    al. 2012): a value absent from a partition's summary may have
    occurred up to that summary's MINIMUM slot count there, so the
    merged upper bound adds each absent summary's min — emitted as
    one min-row per (group, partition) and folded back with a
    broadcast join. Guarantees asserted in tests:
    ``cnt_lower <= true count <= cnt_upper`` for every returned
    value, and any value with true frequency > n_group / slots is
    present. Near-tied tail members may differ with partitioning —
    use :func:`top_k` when exactness matters and the (group, value)
    cardinality is affordable.

    ``weight_col`` gives the ``topKWeighted`` sketch: SpaceSaving
    folds the row's integer weight instead of 1 (the published
    generalization — eviction/overestimation bounds carry unchanged,
    in summed-weight units). Negative weights raise (CH weights are
    UInt64).
    """
    import pandas as pd
    from pyspark.sql import types as T

    if k < 1 or oversample < 1:
        raise ValueError("k and oversample must be >= 1")
    slots = k * oversample
    gcols = list(group_cols)
    # NULLs are skipped (CH semantics) — and must be: the merge
    # protocol uses NULL __v as the min-row sentinel, so a NULL data
    # value would corrupt __m_total and vanish from the result
    wcols = (
        [F.col(weight_col).cast("long").alias("__w")]
        if weight_col
        else []
    )
    src = df.filter(F.col(value_col).isNotNull()).select(
        *gcols, F.col(value_col).cast("string").alias("__v"), *wcols
    )
    fields = [src.schema[c] for c in gcols]
    part_schema = T.StructType(
        fields
        + [
            T.StructField("__v", T.StringType()),  # NULL = min-row
            T.StructField("__adj", T.LongType()),  # count - partition min
            T.StructField("__low", T.LongType()),  # count - overestimate
        ]
    )

    def summarize(batches):
        state: dict = {}  # group key -> {value: (count, err)}
        for pdf in batches:
            groups = [pdf[c].to_numpy() for c in gcols]
            vals = pdf["__v"].to_numpy()
            ws = pdf["__w"].to_numpy() if weight_col else None
            for j in range(len(pdf)):
                gk = tuple(g[j] for g in groups)
                s = state.setdefault(gk, {})
                v = vals[j]
                if ws is None:
                    w = 1
                else:
                    if pd.isna(ws[j]):
                        continue  # NULL weight: no contribution,
                        # matching the exact path's sum-skips-NULL
                    w = int(ws[j])
                    if w < 0:
                        raise ValueError(
                            "top_k_sketch: negative weight "
                            f"{w} for value {v!r}"
                        )
                if v in s:
                    c, e = s[v]
                    s[v] = (c + w, e)
                elif len(s) < slots:
                    s[v] = (w, 0)
                else:
                    # evict the minimum: new value inherits its count
                    # as the overestimation bound
                    mv = min(s, key=lambda x: s[x][0])
                    mc, _ = s.pop(mv)
                    s[v] = (mc + w, mc)
        rows = {c: [] for c in gcols}
        out_v, out_adj, out_low = [], [], []
        for gk, s in state.items():
            m = min(c for c, _ in s.values()) if len(s) == slots else 0
            for v, (c, e) in s.items():
                for name, gv in zip(gcols, gk):
                    rows[name].append(gv)
                out_v.append(v)
                out_adj.append(c - m)
                out_low.append(c - e)
            # the min-row: an absent value may have occurred up to m
            # times in this partition
            for name, gv in zip(gcols, gk):
                rows[name].append(gv)
            out_v.append(None)
            out_adj.append(m)
            out_low.append(0)
        yield pd.DataFrame(
            {**rows, "__v": out_v, "__adj": out_adj, "__low": out_low}
        )

    parts = materialize(src.mapInPandas(summarize, part_schema))
    mins = parts.filter(F.col("__v").isNull()).groupBy(*gcols).agg(
        F.sum("__adj").alias("__m_total")
    )
    merged = _ns_join(
        parts.filter(F.col("__v").isNotNull())
        .groupBy(*gcols, "__v")
        .agg(
            F.sum("__adj").alias("__adj"),
            F.sum("__low").alias("cnt_lower"),
        ),
        F.broadcast(mins),
        gcols,
    ).withColumn("cnt_upper", F.col("__adj") + F.col("__m_total"))
    w = Window.partitionBy(*gcols).orderBy(
        F.col("cnt_upper").desc(), F.col("__v").asc()
    )
    return (
        merged.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            *gcols,
            F.col("__v").alias("value"),
            "cnt_lower",
            "cnt_upper",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def map_aggregate(
    df: DataFrame,
    group_cols: Sequence[str],
    keys_col: str,
    values_col: str,
    how: str = "sum",
    sum_type: str = "decimal(28,6)",
) -> DataFrame:
    """The ClickHouse ``*Map`` aggregate-combinator family —
    ``sumMap`` / ``minMap`` / ``maxMap`` / ``avgMap``: per group,
    aggregate values per key across rows of parallel key/value
    arrays. Returns exploded rows ``(*group_cols, key, total)`` — the
    canonical relational form (collect to a map at the response edge
    if needed).

    One explode + one partial-aggregating groupBy; sums (and avg
    numerators) run in DECIMAL so results are exact and
    partition-order-independent (double sums would not hash-match
    across engines). ``avg`` returns DOUBLE: the exact decimal sum is
    cast once and IEEE-divided by the count — both steps are
    identically rounded on any engine, whereas a decimal division
    would pre-round at Spark's result scale and miss the oracle in
    the last digit. ``min``/``max`` keep DOUBLE, not ``sum_type``:
    extrema are order-independent without decimal, and a
    decimal(28,6) cast would quantize them (values differing below
    1e-6 would collapse). Rows whose key/value arrays differ in
    length raise (ClickHouse *Map errors on unequal sizes; silent
    zip-padding would fabricate NULL keys or swallow values)."""
    aggs = {
        "sum": lambda c: F.sum(c),
        "min": lambda c: F.min(c),
        "max": lambda c: F.max(c),
        "avg": lambda c: F.sum(c).cast("double") / F.count(c),
    }
    if how not in aggs:
        raise ValueError(
            f"how={how!r} not one of {sorted(aggs)} "
            "(the CH sumMap/minMap/maxMap/avgMap family)"
        )
    df = df.filter(
        # assert_true raises on a mismatched row and returns NULL
        # otherwise; the isNull() keeps the check referenced so the
        # optimizer cannot prune it
        F.assert_true(
            F.size(F.col(keys_col)) == F.size(F.col(values_col)),
            F.lit("sum_map: keys/values arrays differ in length"),
        ).isNull()
    )
    pair = F.explode(
        F.zip_with(
            F.col(keys_col),
            F.col(values_col),
            lambda k, v: F.struct(k.alias("key"), v.alias("val")),
        )
    ).alias("kv")
    return (
        df.select(*group_cols, pair)
        .select(
            *group_cols,
            F.col("kv.key").alias("key"),
            # decimal exactness is only needed where values are
            # SUMMED; min/max must not be quantized to sum_type's
            # 6-decimal scale
            F.col("kv.val")
            .cast(sum_type if how in ("sum", "avg") else "double")
            .alias("val"),
        )
        .groupBy(*group_cols, "key")
        .agg(aggs[how](F.col("val")).alias("total"))
    )


def sum_map(
    df: DataFrame,
    group_cols: Sequence[str],
    keys_col: str,
    values_col: str,
    sum_type: str = "decimal(28,6)",
) -> DataFrame:
    """ClickHouse ``sumMap(keys, values)`` — see
    :func:`map_aggregate` (this is its ``how="sum"`` case, kept as
    the named entry point the graded query and docs reference)."""
    return map_aggregate(
        df, group_cols, keys_col, values_col, "sum", sum_type
    )


def sum_map_filtered(
    df: DataFrame,
    group_cols: Sequence[str],
    keys_col: str,
    values_col: str,
    keys: Sequence,
    sum_type: str = "decimal(28,6)",
) -> DataFrame:
    """ClickHouse ``sumMapFiltered(keys)(k, v)``: :func:`sum_map`
    restricted to an explicit key list. One codegen ``isin`` filter
    between the explode and the partial aggregation — non-matching
    pairs never reach the shuffle, which at a skewed key universe is
    the entire point of the CH variant."""
    out = map_aggregate(
        df, group_cols, keys_col, values_col, "sum", sum_type
    )
    # map_aggregate ends in groupBy(...).agg(); Catalyst pushes this
    # filter below the aggregation to the exploded pair stream
    return out.filter(F.col("key").isin(list(keys)))


def uniq_sketch(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    lg_k: int = 12,
    sketch_col: str = "uniq_state",
) -> DataFrame:
    """ClickHouse ``uniqState`` analogue: one mergeable
    Apache-DataSketches HLL state per group (Spark-native
    ``hll_sketch_agg`` — JVM-side, partial-aggregating, ~2^lg_k bytes
    per group regardless of cardinality). Store these per
    day/partition and fold with :func:`uniq_merge` instead of
    re-scanning history — the AggregatingMergeTree pattern."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(F.col(value_col).cast("string"), lg_k).alias(
            sketch_col
        )
    )


def uniq_merge(
    sketches: DataFrame,
    group_cols: Sequence[str],
    sketch_col: str = "uniq_state",
    out_col: str = "uniq",
) -> DataFrame:
    """ClickHouse ``uniqMerge``: fold stored HLL states across a
    coarser grouping and estimate — states shuffle (bytes, not
    values), never the underlying data."""
    return sketches.groupBy(*group_cols).agg(
        F.hll_sketch_estimate(
            F.hll_union_agg(F.col(sketch_col), True)
        ).alias(out_col)
    )


def histogram_fixed(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    bins: int,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Fixed-width histogram with EXPLICIT bounds (the deterministic
    sibling of ClickHouse's adaptive ``histogram(bins)``, whose bin
    edges depend on data order): bucket = floor((v - lo) * bins /
    (hi - lo)), clamped to [0, bins-1]; values outside [lo, hi)
    clamp into the edge buckets. Pure column expression + one
    groupBy; IEEE double math, so an oracle reproduces it exactly."""
    if bins < 1 or not hi > lo:
        raise ValueError("need bins >= 1 and hi > lo")
    v = F.col(value_col).cast("double")
    # NULL/NaN rows are excluded (greatest/least skip NULL arguments,
    # which would otherwise silently funnel them into bucket 0)
    df = df.filter(v.isNotNull() & ~F.isnan(v))
    raw = F.floor((v - F.lit(float(lo))) * bins / F.lit(float(hi - lo)))
    bucket = F.least(F.lit(bins - 1), F.greatest(F.lit(0), raw)).cast("int")
    lo_edge = F.lit(float(lo)) + F.col("bucket") * F.lit((hi - lo) / bins)
    return (
        df.select(*group_cols, bucket.alias("bucket"))
        .groupBy(*group_cols, "bucket")
        .agg(F.count("*").cast("long").alias("cnt"))
        .withColumn("bucket_lo", F.round(lo_edge, 6))
    )


def uniq_up_to(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    n: int = 5,
    out_col: str = "uniq_up_to",
) -> DataFrame:
    """ClickHouse ``uniqUpTo(N)(col)``: exact distinct count per
    group when it is <= N, else N+1 — the cheap "are there more than
    N distinct values?" gadget (public semantics: CH
    aggregate-functions reference). NULL values are skipped.

    Spark shape: a distinct count saturated with ``least`` — Spark's
    distinct aggregate rewrites to a two-phase (expand + partial agg)
    plan, so the per-group state is the distinct set only up to the
    shuffle, same honest cost as exact ``top_k``. When the distinct
    cardinality itself is the problem, use :func:`uniq_sketch`; this
    exists for the exact-threshold semantics (alerting on "more than
    N distinct errors" must not fire on sketch error).
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    return df.groupBy(*group_cols).agg(
        F.least(
            F.count_distinct(F.col(value_col)), F.lit(n + 1).cast("long")
        ).alias(out_col)
    )


def arg_extrema(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    arg_col: str,
) -> DataFrame:
    """ClickHouse ``argMin(arg, val)`` / ``argMax(arg, val)`` with
    DETERMINISTIC tie-breaking: among rows sharing the group-min
    value the smallest ``arg`` wins (for argMax, the largest) — CH
    returns "the first encountered", which depends on read order and
    cannot be oracle-checked; a total order can. Returns
    ``(*group_cols, arg_min, arg_max)``.

    One partial-aggregating groupBy: min/max over a two-field struct
    — value leads, arg breaks ties — stays in JVM codegen, no window,
    no second pass. NULL values are SKIPPED like the CH aggregate,
    but via a ``when(v.isNotNull(), pair)`` projection rather than a
    row filter: min/max ignore NULL structs, so an all-NULL group
    still EMITS its row with NULL arg_min/arg_max (CH keeps the group
    with a default result; a row filter would silently drop it and
    any downstream inner join would lose the whole group). NaN needs
    no special case — both engines order NaN above every number, so
    it loses min and wins max identically."""
    v, a = F.col(value_col), F.col(arg_col)
    pair = F.when(
        v.isNotNull(), F.struct(v.alias("v"), a.alias("a"))
    )
    return df.groupBy(*group_cols).agg(
        F.min(pair)["a"].alias("arg_min"),
        F.max(pair)["a"].alias("arg_max"),
    )


def avg_weighted(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    weight_col: str,
    sum_type: str = "decimal(28,6)",
) -> DataFrame:
    """ClickHouse ``avgWeighted(x, w)``: sum(x*w)/sum(w) per group.
    The numerator accumulates in DECIMAL (value cast once, then
    multiplied by the weight) so it is partition-order independent
    and engine-exact; the final division is one IEEE double op —
    the same exact-sum-then-divide shape as :func:`map_aggregate`'s
    avg. Returns ``(*group_cols, avg_weighted double)``."""
    num = F.sum(
        F.col(value_col).cast(sum_type) * F.col(weight_col)
    ).cast("double")
    den = F.sum(F.col(weight_col)).cast("double")
    return df.groupBy(*group_cols).agg(
        (num / den).alias("avg_weighted")
    )


def quantile_exact_weighted(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    weight_col: str,
    q: float = 0.5,
    out_col: str = "quantile",
) -> DataFrame:
    """ClickHouse ``quantileExactWeighted(q)(x, w)``: equal values
    merge their (integer) weights, values sort ascending, and the
    result is the first value whose cumulative weight EXCEEDS
    ``(sum(w) - 1) * q`` — the hash-map + prefix-scan algorithm from
    the CH aggregate-functions reference, exactly. Returns
    ``(*group_cols, out_col)``.

    Shape: one (group, value) partial-agg shuffle merges duplicate
    values, then a single window pass (cumulative + total weight over
    the same partitioning) and a min — no per-group collect, no
    second shuffle (the window reuses the groupBy's hash
    partitioning on the leading key)."""
    gv = df.groupBy(*group_cols, value_col).agg(
        F.sum(F.col(weight_col).cast("long")).alias("__w")
    )
    win = Window.partitionBy(*group_cols).orderBy(value_col)
    tot = Window.partitionBy(*group_cols)
    gv = gv.select(
        *group_cols,
        F.col(value_col),
        F.sum("__w").over(win).alias("__cw"),
        F.sum("__w").over(tot).alias("__tw"),
    )
    hit = gv.filter(
        F.col("__cw").cast("double")
        > (F.col("__tw").cast("double") - 1.0) * F.lit(float(q))
    )
    return hit.groupBy(*group_cols).agg(
        F.min(value_col).alias(out_col)
    )


def group_uniq_array(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    max_size: int | None = None,
    out_col: str = "uniq_values",
) -> DataFrame:
    """ClickHouse ``groupUniqArray([max_size])(x)`` with a
    deterministic twist: the distinct set is returned SORTED (CH's
    set order is arbitrary; a sorted array hash-matches an oracle).
    ``max_size`` keeps the smallest N after sorting — a defined
    truncation, where CH's is arbitrary-subset. Returns
    ``(*group_cols, out_col array)``.

    collect_set is a partial-aggregating JVM aggregate (the set
    merges map-side); the sort is per-result-row, not a shuffle."""
    arr = F.sort_array(F.collect_set(F.col(value_col)))
    if max_size is not None:
        arr = F.slice(arr, 1, int(max_size))
    return df.groupBy(*group_cols).agg(arr.alias(out_col))


def group_array_sorted(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    n: int,
    out_col: str = "sorted_values",
) -> DataFrame:
    """ClickHouse ``groupArraySorted(N)(x)``: the N smallest values
    per group, ascending. Returns ``(*group_cols, out_col array)``.

    Scale shape: a bare ``sort_array(collect_list(...))[:N]`` would
    hold EVERY group value in aggregation state — unbounded. Instead
    a rank window prunes to N rows per group FIRST (one Exchange,
    in-partition sort, whole-stage codegen), and only those N collect
    — state bounded by N like CH's own heap accumulator. Ties keep
    duplicates (row_number, value order), matching CH. NULLs are
    skipped (CH aggregates skip NULL)."""
    if n < 1:
        raise ValueError("n must be >= 1")
    gcols = list(group_cols)
    v = F.col(value_col)
    w = Window.partitionBy(*gcols).orderBy(value_col)
    pruned = (
        df.filter(v.isNotNull())
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(n))
    )
    return pruned.groupBy(*gcols).agg(
        F.sort_array(F.collect_list(v)).alias(out_col)
    )


def group_array_last(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    n: int,
    order_col: str,
    out_col: str = "last_values",
) -> DataFrame:
    """ClickHouse ``groupArrayLast(N)(x)`` (r12): the LAST ``n``
    values per group in arrival order. CH's arrival order is storage
    order, which a distributed scan cannot honor, so — exactly as
    :func:`group_array_sorted` and ``deltaSum`` do — the
    deterministic form orders by an explicit ``order_col``: keep the
    n highest ``order_col`` rows, emit their values ascending by
    ``order_col`` (the encounter order of the survivors). NULL
    values are skipped via the AGGREGATE, not a row pre-filter, so
    an all-NULL group keeps its key with an EMPTY array (CH's empty
    state emits []; the sumWithOverflow r12 discipline). The rank
    window orders non-NULL values first, so aggregation state stays
    bounded by ``n`` rows per group; one Exchange."""
    if n < 1:
        raise ValueError("n must be >= 1")
    gcols = list(group_cols)
    v = F.col(value_col)
    w = Window.partitionBy(*gcols).orderBy(
        v.isNull().asc(), F.col(order_col).desc()
    )
    marked = df.withColumn(
        "__keep", v.isNotNull() & (F.row_number().over(w) <= int(n))
    )
    arr = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(
                    F.col("__keep"),
                    F.struct(F.col(order_col).alias("o"), v.alias("v")),
                )
            )
        ),
        lambda s: s["v"],
    )
    return marked.groupBy(*gcols).agg(arr.alias(out_col))


def any_heavy(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    out_col: str = "heavy",
) -> DataFrame:
    """ClickHouse ``anyHeavy(x)`` (r12): heavy-hitters 'pick a
    frequently occurring value'. Below a true majority CH's answer is
    block-order dependent, so the deterministic contract implemented
    here is the part CH documents as guaranteed: 'if there is a value
    that occurs in more than half of the cases in each of the query
    execution threads, this value is returned' — the exact majority
    element over non-NULL values, NULL when no strict majority exists
    (and for all-NULL groups, which keep their key). Count ties can't
    involve a majority, so the tie rule never fires; largest value is
    pinned anyway. Two bounded Exchanges: per-(group, value) counts,
    then one max over the reduced count rows."""
    gcols = list(group_cols)
    per = df.groupBy(*gcols, F.col(value_col).alias("__v")).agg(
        F.count(value_col).alias("__c")  # count(col): NULLs -> 0
    )
    cand = F.when(
        F.col("__v").isNotNull(),
        F.struct(F.col("__c").alias("c"), F.col("__v").alias("v")),
    )
    best = per.groupBy(*gcols).agg(
        F.sum("__c").alias("__n"), F.max(cand).alias("__b")
    )
    return best.select(
        *gcols,
        F.when(
            F.col("__b").getField("c") * 2 > F.col("__n"),
            F.col("__b").getField("v"),
        ).alias(out_col),
    )


def group_concat(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    order_col: str,
    sep: str = ",",
    limit: int | None = None,
    out_col: str = "concat",
) -> DataFrame:
    """ClickHouse ``groupConcat(sep[, limit])(x)`` (24.7+):
    concatenate the group's values, optionally only the first
    ``limit``. CH concatenates in storage order, which a distributed
    scan cannot honor — the deterministic form orders by an explicit
    ``order_col`` (the groupArraySorted / deltaSum discipline), and
    ``limit`` takes the first N in that order. NULL values skip via
    the aggregate (CH's rule), so an all-NULL group keeps its key
    with the empty string. One Exchange; per-group state is the
    collected pair list (with ``limit``, the rank window bounds it
    to ``limit`` rows per group before collection)."""
    if limit is not None and limit < 1:
        raise ValueError("limit must be >= 1")
    v = F.col(value_col)
    src = df
    keep = v.isNotNull()
    if limit is not None:
        w = Window.partitionBy(*group_cols).orderBy(
            v.isNull().asc(), F.col(order_col).asc()
        )
        src = df.withColumn("__rn", F.row_number().over(w))
        keep = keep & (F.col("__rn") <= int(limit))
    s = F.when(
        keep,
        F.struct(
            F.col(order_col).alias("o"),
            v.cast("string").alias("v"),
        ),
    )
    arr = F.array_sort(F.collect_list(s))
    return src.groupBy(*group_cols).agg(
        F.array_join(
            F.transform(arr, lambda x: x["v"]), sep
        ).alias(out_col)
    )


def group_array_sample(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    order_col: str,
    max_size: int,
    seed: int = 0,
    out_col: str = "sample",
) -> DataFrame:
    """ClickHouse ``groupArraySample(max_size[, seed])(x)`` (r12): a
    fixed-size pseudo-random sample per group. CH's reservoir is row-
    order dependent; the engine-portable deterministic form keeps the
    ``max_size`` SMALLEST md5 hashes of (seed, ``order_col``) — a
    uniform sample under the usual hash-as-random-oracle reading,
    reproducible on any engine (DuckDB computes the identical md5
    string), stable under re-partitioning. Values emit in hash order
    (the pinned sample order). NULL values skip via the aggregate;
    an all-NULL group keeps its key with []. The rank window orders
    non-NULL first so per-group state stays bounded by ``max_size``;
    one Exchange."""
    if max_size < 1:
        raise ValueError("max_size must be >= 1")
    v = F.col(value_col)
    h = F.md5(
        F.concat_ws("|", F.lit(int(seed)), F.col(order_col).cast("string"))
    )
    # value tie-break keeps the draw deterministic even when
    # order_col repeats (duplicate order values share a hash)
    w = Window.partitionBy(*group_cols).orderBy(
        v.isNull().asc(), h.asc(), v.asc()
    )
    marked = df.withColumn("__h", h).withColumn(
        "__keep", v.isNotNull() & (F.row_number().over(w) <= int(max_size))
    )
    arr = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(
                    F.col("__keep"),
                    F.struct(F.col("__h").alias("h"), v.alias("v")),
                )
            )
        ),
        lambda s: s["v"],
    )
    return marked.groupBy(*group_cols).agg(arr.alias(out_col))


def group_array_insert_at(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    pos_col: str,
    size: int,
    default,
    out_col: str = "slots",
) -> DataFrame:
    """ClickHouse ``groupArrayInsertAt(default, size)(x, pos)``: a
    fixed-length array with each value placed at its position and
    ``default`` in unfilled slots. CH keeps whichever value arrives
    first on a position collision (row-order dependent) — the
    deterministic form keeps the MINIMUM value per position.
    Positions outside [0, size) raise, as CH does for a fixed size.
    Plan: per-(group, pos) min (partial-aggregating), then one
    map-build per group — two bounded Exchanges, the second over
    rows already reduced to <= size per group."""
    if size < 1:
        raise ValueError("size must be >= 1")
    gcols = list(group_cols)
    p = F.col(pos_col).cast("int")
    # NULL position or NULL value = no insert (but the row still
    # anchors its group, so an all-NULL group keeps its key with an
    # all-default array); a real out-of-range position raises
    checked = (
        F.when(p.isNull(), F.lit(None).cast("int"))
        .when((p >= 0) & (p < size), p)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"groupArrayInsertAt: position out of"
                        f" [0, {size}): "
                    ),
                    F.col(pos_col).cast("string"),
                )
            )
        )
    )
    per = df.groupBy(*gcols, checked.alias("__p")).agg(
        F.min(value_col).alias("__v")
    )
    m = F.map_from_entries(
        F.collect_list(
            F.when(
                F.col("__p").isNotNull() & F.col("__v").isNotNull(),
                F.struct(F.col("__p"), F.col("__v")),
            )
        )
    )
    filled = per.groupBy(*gcols).agg(m.alias("__m"))
    arr = F.transform(
        F.sequence(F.lit(0), F.lit(size - 1)),
        lambda i: F.coalesce(
            F.element_at(F.col("__m"), i), F.lit(default)
        ),
    )
    return filled.select(*gcols, arr.alias(out_col))


def single_value_or_null(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    out_col: str = "single_value",
) -> DataFrame:
    """ClickHouse ``singleValueOrNull(x)`` (r12): the group's value
    when EXACTLY one distinct non-NULL value occurs, else NULL — the
    'is this column constant here' aggregate. NULLs skip (CH
    aggregate-NULL rule); an all-NULL group keeps its key with NULL
    (the sumWithOverflow r12 discipline). One partial-agg pass:
    count_distinct + min share the Exchange."""
    v = F.col(value_col)
    return df.groupBy(*group_cols).agg(
        F.when(F.count_distinct(v) == 1, F.min(v)).alias(out_col)
    )


#: sparkbar glyph ramp (U+2581..U+2588), index 1..8; 0 = space
_SPARKBAR_GLYPHS = " ▁▂▃▄▅▆▇█"


def sparkbar(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
    width: int,
    min_x: int | None = None,
    max_x: int | None = None,
    out_col: str = "sparkbar",
) -> DataFrame:
    """ClickHouse ``sparkbar(width[, min_x, max_x])(x, y)`` (r12): a
    unicode bar-chart string per group — ``width`` buckets over the
    x range, bucket height = sum(y), drawn with the eight block
    glyphs (empty bucket = space).

    Deterministic closed form (CH's own glyph rounding is not
    documented; these rules are pinned here and replayed verbatim by
    the oracle): with explicit or per-group observed ``[min_x,
    max_x]``, bucket(x) = least(width-1, floor((x - min_x) * width /
    (max_x - min_x + 1))) over integer x; height level =
    ceil(sum_y * 8 / max_positive_sum) clamped to [1, 8] for a
    positive sum, space for an empty or non-positive bucket; a
    single-valued x-range puts everything in bucket 0. NULL x or y
    rows are skipped. Two chained partial aggs on (group, bucket)
    then (group) — bounded state, no window over raw rows."""
    if width < 1:
        raise ValueError("width must be >= 1")
    gcols = list(group_cols)
    x, y = F.col(x_col), F.col(y_col)
    base = df.filter(x.isNotNull() & y.isNotNull()).select(
        *gcols, x.cast("long").alias("__x"),
        # DECIMAL bucket sums: partition-order independent (a double
        # sum's last ulp could flip a ceil at a level boundary)
        y.cast("decimal(28,6)").alias("__y"),
    )
    wb = Window.partitionBy(*gcols)
    lo = (
        F.lit(int(min_x)) if min_x is not None else F.min("__x").over(wb)
    )
    hi = (
        F.lit(int(max_x)) if max_x is not None else F.max("__x").over(wb)
    )
    span = hi - lo + F.lit(1)
    bucket = F.least(
        F.lit(int(width) - 1),
        F.floor((F.col("__x") - lo) * int(width) / span),
    ).cast("int")
    per_bucket = (
        base.withColumn("__b", bucket)
        .filter((F.col("__b") >= 0) & (F.col("__b") < int(width)))
        .groupBy(*gcols, "__b")
        .agg(F.sum("__y").alias("__s"))
    )
    glyphs = F.lit(_SPARKBAR_GLYPHS)
    # exact decimal sums cast ONCE to double, then one IEEE
    # multiply/divide/ceil — identically rounded on any engine
    mp = F.max(
        F.when(F.col("__s") > 0, F.col("__s"))
    ).over(Window.partitionBy(*gcols)).cast("double")
    level = F.when(
        F.col("__s") > 0,
        F.least(
            F.lit(8),
            F.ceil(F.col("__s").cast("double") * 8 / mp),
        ),
    ).otherwise(F.lit(0)).cast("int")
    chars = per_bucket.select(
        *gcols, "__b", F.substring(glyphs, level + 1, 1).alias("__c")
    )
    # assemble width chars: missing buckets render as spaces
    filled = chars.groupBy(*gcols).agg(
        F.map_from_arrays(
            F.collect_list("__b"), F.collect_list("__c")
        ).alias("__m")
    )
    bar = F.concat_ws(
        "",
        F.transform(
            F.sequence(F.lit(0), F.lit(int(width) - 1)),
            lambda i: F.coalesce(F.col("__m")[i], F.lit(" ")),
        ),
    )
    return filled.select(*gcols, bar.alias(out_col))


def sum_count(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    sum_type: str = "decimal(28,6)",
) -> DataFrame:
    """ClickHouse ``sumCount(x)``: (sum, count) in one pass —
    trivial, included for inventory completeness; the sum
    accumulates in DECIMAL so it is engine-exact and
    partition-order independent. Returns
    ``(*group_cols, sum decimal, cnt long)``; NULLs skipped like
    the CH tuple aggregate."""
    v = F.col(value_col)
    return df.filter(v.isNotNull()).groupBy(*group_cols).agg(
        F.sum(v.cast(sum_type)).alias("sum"),
        F.count(v).alias("cnt"),
    )


def sum_with_overflow(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    out_col: str = "sum_overflow",
) -> DataFrame:
    """ClickHouse ``sumWithOverflow(x)`` (r11): sum in the ARGUMENT's
    integer type with two's-complement wraparound — int64 here. The
    sum accumulates EXACTLY in DECIMAL(38,0) (order-independent,
    mergeable; |sum| <= rows * 2^63 stays inside 38 digits up to
    ~10^19 rows) and wraps once at the end:
    ``pmod(s + 2^63, 2^64) - 2^63`` — the same closed form an oracle
    replays in HUGEINT, so the result is hash-exact instead of
    depending on per-engine native overflow order. NULLs skip via
    the aggregate itself (NOT a row pre-filter), so a group whose
    values are ALL NULL keeps its key with a NULL sum — CH GROUP BY
    keeps the key and ``sumWithOverflow(Nullable)`` yields NULL
    there; a pre-filter dropped the key entirely (ADVICE r11).
    Returns ``(*group_cols, out_col long)``; one partial-agg pass."""
    from decimal import Decimal

    v = F.col(value_col)
    s = F.sum(v.cast("long").cast("decimal(38,0)"))
    # 2^63 / 2^64 exceed the long literal range: Decimal literals
    two63 = F.lit(Decimal(2**63))
    two64 = F.lit(Decimal(2**64))
    # NULL sum (all-NULL group) propagates: pmod(NULL+c, c) is NULL
    wrapped = F.pmod(s + two63, two64) - two63
    return df.groupBy(*group_cols).agg(
        wrapped.cast("long").alias(out_col)
    )


def group_array_intersect(
    df: DataFrame,
    group_cols: Sequence[str],
    array_col: str,
    out_col: str = "intersect_values",
) -> DataFrame:
    """ClickHouse ``groupArrayIntersect(arr)``: the intersection of
    all array values per group, returned SORTED (CH's set order is
    arbitrary; a sorted array hash-matches an oracle). Rows with a
    NULL array are skipped (no CH state update); an empty
    intersection is an empty array, and a group whose every row had
    a NULL array drops (no state — CH emits nothing either).

    Scale shape: never collects arrays into aggregation state —
    elements explode DISTINCT-per-row, one (group, element) count
    pass, and an element survives iff it appeared in EVERY row
    (count == group row count). The totals side is two ints per
    group — tiny for any realistic group-key cardinality — but its
    size is bounded by GROUP cardinality, not contingency size, so
    the survivor join carries no explicit broadcast hint: AQE
    broadcasts it when the runtime size fits and falls back to a
    shuffle join past the ceiling instead of blowing the driver at
    10^8+ groups. Two bounded-key shuffles, rows never re-read."""
    gcols = list(group_cols)
    arr = F.col(array_col)
    base = df.filter(arr.isNotNull()).select(
        *gcols, F.array_distinct(arr).alias("__a")
    )
    totals = base.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("__rows")
    )
    elems = base.select(
        *gcols, F.explode("__a").alias("__e")
    ).groupBy(*gcols, "__e").agg(F.count(F.lit(1)).alias("__c"))
    survivors = elems.join(totals, gcols).filter(
        F.col("__c") == F.col("__rows")
    )
    got = survivors.groupBy(*gcols).agg(
        F.sort_array(F.collect_list("__e")).alias(out_col)
    )
    # groups whose rows shared NO element still exist -> empty array
    empty = F.array().cast(
        got.schema[out_col].dataType
    )
    return (
        totals.join(got, gcols, "left")
        .select(
            *gcols,
            F.coalesce(F.col(out_col), empty).alias(out_col),
        )
    )


def _merge_centroids(v, w, bins):
    """Greedy closest-pair centroid merge (the streaming parallel
    decision tree compaction, Ben-Haim & Tom-Tov 2010 — the algorithm
    behind ClickHouse ``histogram(N)``): while more than ``bins``
    centroids remain, merge the adjacent pair with the smallest gap
    (leftmost on ties — deterministic) into its weighted mean.
    ``v`` sorted ascending, ``w`` positive; returns (v, w) lists.

    Heap over adjacent gaps with lazy invalidation (a per-slot stamp
    retires stale entries): O(D log D) for D input centroids, where
    the scan-for-minimum loop would be O(D^2) — at 20k distinct
    values per group that is the difference between milliseconds and
    seconds. The (gap, left-index, stamp) key reproduces the scan's
    leftmost-on-ties choice exactly (indices never reorder)."""
    import heapq

    n = len(v)
    if n <= bins:
        return list(v), list(w)
    v, w = list(v), list(w)
    nxt = list(range(1, n)) + [-1]
    prv = [-1] + list(range(n - 1))
    stamp = [0] * n
    alive = [True] * n
    heap = [(v[i + 1] - v[i], i, 0) for i in range(n - 1)]
    heapq.heapify(heap)
    remaining = n
    while remaining > bins:
        gap, i, st = heapq.heappop(heap)
        j = nxt[i]
        if not alive[i] or st != stamp[i] or j == -1:
            continue  # stale entry
        wm = w[i] + w[j]
        v[i] = (v[i] * w[i] + v[j] * w[j]) / wm
        w[i] = wm
        alive[j] = False
        nxt[i] = nxt[j]
        if nxt[j] != -1:
            prv[nxt[j]] = i
        remaining -= 1
        stamp[i] += 1
        if nxt[i] != -1:
            heapq.heappush(heap, (v[nxt[i]] - v[i], i, stamp[i]))
        p = prv[i]
        if p != -1:
            stamp[p] += 1
            heapq.heappush(heap, (v[i] - v[p], p, stamp[p]))
    out_v, out_w = [], []
    i = 0
    while i != -1 and not alive[i]:
        i = nxt[i]  # unreachable: slot 0 never dies, kept for safety
    while i != -1:
        out_v.append(v[i])
        out_w.append(w[i])
        i = nxt[i]
    return out_v, out_w


def histogram_adaptive(
    df: DataFrame,
    value_col: str,
    bins: int,
    group_cols: Sequence[str] = (),
    exact: bool = True,
    oversample: int = 4,
    buckets: int | None = None,
) -> DataFrame:
    """ClickHouse ``histogram(N)(x)``: ADAPTIVE bins via greedy
    centroid merging, unlike :func:`histogram_fixed`'s explicit
    bounds. Returns ``(*group_cols, bin int, lower, upper, height)``
    — CH's (lower, upper, height) triples: bin edges are midpoints
    between neighboring centroids, the outer edges are the group's
    true min/max, height is the centroid's accumulated weight.

    ``exact=True`` (default): values first collapse to an exact
    (group, value, count) aggregate — one JVM partial-agg shuffle,
    like :func:`top_k`'s exact mode — then ONE deterministic greedy
    merge per group runs over the distinct values (Arrow, leftmost
    tie-break), so the result is bit-identical under any partitioning.
    Cost is the distinct cardinality (the honest price of
    determinism); CH itself merges per-block and is order-dependent.

    ``exact=False``: the mergeable-summaries shape — each partition
    compacts its values to ``bins * oversample`` centroids in one
    Arrow pass, only summaries shuffle, and the per-group final merge
    compacts to ``bins``. Output then depends on partitioning for
    near-tied gaps (exactly as CH's depends on block order); the
    invariants the tests assert — total height equals the row count,
    edges equal min/max, at most N bins — hold regardless.

    ``exact=False, buckets=P``: the DETERMINISTIC sketch — partial
    summaries are computed per VALUE-DERIVED bucket
    (``pmod(floor(v*4096), P)``) instead of per physical partition,
    so the two-level merge tree (bucket compaction to
    ``bins*oversample``, then the final merge to ``bins``) is a pure
    function of the data under ANY partitioning and replays exactly
    in another engine. Each bucket collapses to its exact distinct
    values first (one JVM partial-agg shuffle on (group, bucket,
    value)), so the single-task distinct-cardinality cost of
    ``exact=True`` splits ~P ways — the audit/oracle mode that is
    also the parallel one. Requires ``|v|*4096 < 2^62`` (the floor
    stays in long range; metric-scale values by construction).

    NULL/NaN values are skipped (CH aggregate semantics).
    """
    import pandas as pd
    from pyspark.sql import types as T

    if bins < 1 or oversample < 1:
        raise ValueError("bins and oversample must be >= 1")
    if exact and buckets is not None:
        raise ValueError(
            "buckets selects the deterministic SKETCH layout; "
            "pass exact=False with it (exact mode is already "
            "deterministic)"
        )
    gcols = list(group_cols)
    src = df.filter(
        F.col(value_col).isNotNull() & ~F.isnan(F.col(value_col))
    ).select(*gcols, F.col(value_col).cast("double").alias("__v"))
    gfields = [src.schema[c] for c in gcols]
    out_schema = T.StructType(
        gfields
        + [
            T.StructField("bin", T.IntegerType()),
            T.StructField("lower", T.DoubleType()),
            T.StructField("upper", T.DoubleType()),
            T.StructField("height", T.DoubleType()),
        ]
    )

    def finalize(rows_v, rows_w, lo, hi):
        v, w = _merge_centroids(rows_v, rows_w, bins)
        out = []
        for i in range(len(v)):
            lower = lo if i == 0 else (v[i - 1] + v[i]) / 2.0
            upper = hi if i == len(v) - 1 else (v[i] + v[i + 1]) / 2.0
            out.append((i, lower, upper, float(w[i])))
        return out

    if exact:
        counted = src.groupBy(*gcols, "__v").agg(
            F.count(F.lit(1)).cast("double").alias("__w")
        )

        def merge_group(key, pdf):
            pdf = pdf.sort_values("__v")
            v = pdf["__v"].to_list()
            w = pdf["__w"].to_list()
            rows = finalize(v, w, v[0], v[-1])
            return pd.DataFrame(
                {
                    **{c: [k] * len(rows) for c, k in zip(gcols, key)},
                    "bin": [r[0] for r in rows],
                    "lower": [r[1] for r in rows],
                    "upper": [r[2] for r in rows],
                    "height": [r[3] for r in rows],
                }
            )

        grouped = counted.groupBy(*gcols) if gcols else counted.groupBy(F.lit(1).alias("__g"))
        if not gcols:
            def merge_all(key, pdf):  # noqa: ANN001
                return merge_group((), pdf)
            return grouped.applyInPandas(merge_all, out_schema)
        return grouped.applyInPandas(merge_group, out_schema)

    # sketch path: bounded per-partition summaries, then final merge
    part_schema = T.StructType(
        gfields
        + [
            T.StructField("__v", T.DoubleType()),
            T.StructField("__w", T.DoubleType()),
            T.StructField("__lo", T.DoubleType()),
            T.StructField("__hi", T.DoubleType()),
        ]
    )
    cap = bins * oversample

    if buckets is not None:
        if buckets < 1:
            raise ValueError("buckets must be >= 1")
        # deterministic two-level merge: exact distinct counts per
        # (group, value-bucket, value) in the JVM, one compaction per
        # bucket, then the shared final merge per group
        bucketed = (
            src.withColumn(
                "__b",
                F.pmod(F.floor(F.col("__v") * 4096), F.lit(buckets)),
            )
            .groupBy(*gcols, "__b", "__v")
            .agg(F.count(F.lit(1)).cast("double").alias("__w"))
        )

        def compact_bucket(key, pdf):
            pdf = pdf.sort_values("__v")
            v = pdf["__v"].to_list()
            w = pdf["__w"].to_list()
            mv, mw = _merge_centroids(v, w, cap)
            gk = key[: len(gcols)]
            return pd.DataFrame(
                {
                    **{c: [k] * len(mv) for c, k in zip(gcols, gk)},
                    "__v": mv,
                    "__w": mw,
                    "__lo": [v[0]] * len(mv),
                    "__hi": [v[-1]] * len(mv),
                }
            )

        parts = bucketed.groupBy(*gcols, "__b").applyInPandas(
            compact_bucket, part_schema
        )
    else:
        parts = None  # set below by the partition-local summarize

    def summarize(batches):
        state: dict = {}  # group -> (values dict v->w, lo, hi)
        for pdf in batches:
            groups = [pdf[c].to_numpy() for c in gcols]
            vals = pdf["__v"].to_numpy()
            for j in range(len(pdf)):
                gk = tuple(g[j] for g in groups)
                vs, lo, hi = state.get(gk, ({}, None, None))
                x = float(vals[j])
                vs[x] = vs.get(x, 0.0) + 1.0
                lo = x if lo is None or x < lo else lo
                hi = x if hi is None or x > hi else hi
                if len(vs) > 2 * cap:
                    sv = sorted(vs)
                    mv, mw = _merge_centroids(
                        sv, [vs[s] for s in sv], cap
                    )
                    vs = dict(zip(mv, mw))
                state[gk] = (vs, lo, hi)
        for gk, (vs, lo, hi) in state.items():
            sv = sorted(vs)
            mv, mw = _merge_centroids(sv, [vs[s] for s in sv], cap)
            yield pd.DataFrame(
                {
                    **{c: [k] * len(mv) for c, k in zip(gcols, gk)},
                    "__v": mv,
                    "__w": mw,
                    "__lo": [lo] * len(mv),
                    "__hi": [hi] * len(mv),
                }
            )

    if parts is None:
        parts = src.mapInPandas(summarize, part_schema)

    def merge_final(key, pdf):
        # (v, w) sort: bucket centroids arrive in arbitrary row order,
        # and exactly-tied v from different buckets must line up the
        # same way every run (and in the oracle's ORDER BY v, w)
        pdf = pdf.sort_values(["__v", "__w"])
        rows = finalize(
            pdf["__v"].to_list(),
            pdf["__w"].to_list(),
            float(pdf["__lo"].min()),
            float(pdf["__hi"].max()),
        )
        return pd.DataFrame(
            {
                **{c: [k] * len(rows) for c, k in zip(gcols, key)},
                "bin": [r[0] for r in rows],
                "lower": [r[1] for r in rows],
                "upper": [r[2] for r in rows],
                "height": [r[3] for r in rows],
            }
        )

    if not gcols:
        def merge_final_all(key, pdf):  # noqa: ANN001
            return merge_final((), pdf)
        return parts.groupBy(F.lit(1).alias("__g")).applyInPandas(
            merge_final_all, out_schema
        )
    return parts.groupBy(*gcols).applyInPandas(merge_final, out_schema)


def group_array_moving(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    order_cols: Sequence[str],
    k: int | None = None,
    how: str = "sum",
    out_col: str = "moving",
    sum_type: str = "decimal(28,6)",
) -> DataFrame:
    """ClickHouse ``groupArrayMovingSum([k])(x)`` /
    ``groupArrayMovingAvg([k])(x)``: per group, the ORDERED array of
    moving-window aggregates — element i covers rows
    ``max(0, i-k+1) .. i`` in ``order_cols`` order (the whole prefix
    when ``k`` is None). CH's MovingAvg divides by the WINDOW SIZE
    ``k`` even for the leading elements (its documented quirk), and by
    the full element count when unbounded — replicated exactly.

    Accumulation runs in DECIMAL (exact, order-independent), each
    element cast to double once at the end — the same engine-portable
    shape as :func:`map_aggregate`. ``order_cols`` must be a total
    order within each group (add a tiebreak) or the array layout is
    engine-dependent.

    Plan: one window pass over the (group, order) sort + one groupBy
    whose ``collect_list`` reassembles under ``array_sort`` of
    (order, value) structs — both share the same hash partitioning on
    the group key, so Catalyst plans a single Exchange."""
    if how not in ("sum", "avg"):
        raise ValueError("how must be 'sum' or 'avg'")
    if k is not None and k < 1:
        raise ValueError("k must be >= 1 (or None for unbounded)")
    gcols = list(group_cols)
    ocols = list(order_cols)
    w = (
        Window.partitionBy(*gcols)
        .orderBy(*[F.col(c) for c in ocols])
        .rowsBetween(
            Window.unboundedPreceding if k is None else -(k - 1), 0
        )
    )
    mv = F.sum(F.col(value_col).cast(sum_type)).over(w).cast("double")
    if how == "avg":
        # CH MovingAvg's divisor is the window size k for EVERY
        # element (leading ones included — its documented quirk), and
        # with no k the TOTAL group row count N (docs example:
        # [1,2,4,7] -> prefix_sum/4), NOT the prefix length. The
        # whole-partition count window shares the group-key
        # partitioning, so no extra Exchange.
        den = (
            F.count(F.lit(1))
            .over(Window.partitionBy(*gcols))
            .cast("double")
            if k is None
            else F.lit(float(k))
        )
        mv = mv / den
    step = df.select(*gcols, *ocols, mv.alias("__mv"))
    pair = F.struct(
        *[F.col(c) for c in ocols], F.col("__mv").alias("__mv")
    )
    return step.groupBy(*gcols).agg(
        F.transform(
            F.array_sort(F.collect_list(pair)), lambda x: x["__mv"]
        ).alias(out_col)
    )


def interval_length_sum(
    df: DataFrame,
    group_cols: Sequence[str],
    start_col: str,
    end_col: str,
    out_col: str = "interval_length_sum",
) -> DataFrame:
    """ClickHouse ``intervalLengthSum(start, end)``: per group, the
    total length of the UNION of the [start, end] intervals —
    overlaps counted once. The classic sweep as pure window algebra:
    in (start, end) order, a row's new contribution is
    ``max(0, end - max(start, max_prev_end))`` where
    ``max_prev_end`` is the running max of earlier rows' ends; summed
    per group. One Exchange on the group key; the final groupBy
    reuses its partitioning. Zero-or-negative-length intervals
    contribute nothing."""
    gcols = list(group_cols)
    prev = (
        Window.partitionBy(*gcols)
        .orderBy(F.col(start_col), F.col(end_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pmax = F.max(F.col(end_col)).over(prev)
    contrib = F.greatest(
        F.lit(0).cast("double"),
        (
            F.col(end_col)
            - F.greatest(F.col(start_col), F.coalesce(pmax, F.col(start_col)))
        ).cast("double"),
    )
    return (
        df.select(*gcols, contrib.alias("__c"))
        .groupBy(*gcols)
        .agg(
            # per-row contributions are deterministic; the cross-row
            # sum must be too — quantize to decimal (exact,
            # partition-order independent), one cast back at the end
            F.sum(F.col("__c").cast("decimal(28,6)"))
            .cast("double")
            .alias(out_col)
        )
    )


def max_intersections(
    df: DataFrame,
    group_cols: Sequence[str],
    start_col: str,
    end_col: str,
    out_col: str = "max_intersections",
) -> DataFrame:
    """ClickHouse ``maxIntersections(start, end)``: per group, the
    maximum number of simultaneously-overlapping [start, end)
    intervals. Sweep-line as windows: explode each interval into a
    (+1 at start, -1 at end) event, order by (time, delta) — ends
    sort before starts at the same instant, the half-open convention
    CH uses — and take the max running sum. One explode (2 rows per
    interval) + one Exchange."""
    gcols = list(group_cols)
    ev = df.select(
        *gcols,
        F.explode(
            F.array(
                F.struct(
                    F.col(start_col).cast("double").alias("t"),
                    F.lit(1).alias("d"),
                ),
                F.struct(
                    F.col(end_col).cast("double").alias("t"),
                    F.lit(-1).alias("d"),
                ),
            )
        ).alias("e"),
    ).select(*gcols, F.col("e.t").alias("__t"), F.col("e.d").alias("__d"))
    run = (
        Window.partitionBy(*gcols)
        .orderBy(F.col("__t"), F.col("__d"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        ev.select(*gcols, F.sum("__d").over(run).alias("__depth"))
        .groupBy(*gcols)
        .agg(F.max("__depth").cast("int").alias(out_col))
    )


def max_intersections_position(
    df: DataFrame,
    group_cols: Sequence[str],
    start_col: str,
    end_col: str,
    out_col: str = "max_intersections_position",
    depth_col: str = "max_intersections",
) -> DataFrame:
    """ClickHouse ``maxIntersectionsPosition(start, end)`` (r11): the
    POSITION where :func:`max_intersections`' maximum depth is FIRST
    reached — necessarily a start event, so it is the earliest sweep
    time whose running depth equals the group maximum. Same sweep,
    same (time, delta) order (ends before starts at equal instants,
    CH's half-open convention); one extra whole-partition max window
    sharing the sweep's Exchange. Returns ``(*group_cols, depth_col,
    out_col)`` — both numbers in one pass."""
    gcols = list(group_cols)
    ev = df.select(
        *gcols,
        F.explode(
            F.array(
                F.struct(
                    F.col(start_col).cast("double").alias("t"),
                    F.lit(1).alias("d"),
                ),
                F.struct(
                    F.col(end_col).cast("double").alias("t"),
                    F.lit(-1).alias("d"),
                ),
            )
        ).alias("e"),
    ).select(*gcols, F.col("e.t").alias("__t"), F.col("e.d").alias("__d"))
    run = (
        Window.partitionBy(*gcols)
        .orderBy(F.col("__t"), F.col("__d"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    whole = Window.partitionBy(*gcols)
    depth = ev.select(
        *gcols, "__t", F.sum("__d").over(run).alias("__depth")
    ).withColumn("__mx", F.max("__depth").over(whole))
    return (
        depth.filter(F.col("__depth") == F.col("__mx"))
        .groupBy(*gcols)
        .agg(
            F.max("__mx").cast("int").alias(depth_col),
            F.min("__t").alias(out_col),
        )
    )


def stat_moments(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    y_col: str | None = None,
    scale: int = 1000,
) -> DataFrame:
    """ClickHouse ``skewPop(x)`` / ``kurtPop(x)`` — and, given
    ``y_col``, ``covarPop(x, y)`` / ``corr(x, y)`` — per group, with
    ENGINE-EXACT accumulation: the value quantizes half-up to
    ``round(x*scale)`` int64 (the :mod:`..datapipe.similarity`
    convention every PCA/ANN oracle uses), raw power sums accumulate
    in DECIMAL(38,0) (exact, partition-order independent, one JVM
    partial-agg shuffle), and only the FINAL moment algebra runs in
    IEEE doubles — a fixed expression tree another engine replays
    bit-for-bit. Skewness, kurtosis, and correlation are invariant
    under the affine quantization up to the grid error; covariance
    scales by ``scale * y_scale`` — callers wanting CH's raw-double
    covariance divide once (documented trade: CH's own double
    accumulators are block-order dependent and cannot be
    hash-checked).

    ``y_col`` must be integral (exact as-is); kurtPop is the
    NON-excess ratio m4/m2^2, matching CH. Groups with zero variance
    return NULL skew/kurt (0/0), like CH's nan — filtered by neither.

    At 100 TB: one partial-aggregating groupBy, five decimal sums per
    row; nothing else moves."""
    gcols = list(group_cols)
    base = df.filter(
        F.col(value_col).isNotNull() & ~F.isnan(F.col(value_col))
    )
    if y_col is not None:
        # one population for every output: rows with NULL y drop
        # entirely (counting them in __n but not __sy would divide
        # the y moments by the wrong n — CH covarPop skips the pair)
        base = base.filter(F.col(y_col).isNotNull())
    got = base.groupBy(*gcols).agg(
        *stat_moment_aggs(value_col, y_col, scale)
    )
    return got.select(*gcols, *stat_moment_finals(y_col is not None))


def stat_moment_aggs(
    value_col: str, y_col: str | None, scale: int
) -> list:
    """The exact DECIMAL(38,0) power-sum aggregate expressions shared
    verbatim by :func:`stat_moments` and the streaming twin — the
    replay-parity contract needs the quantization and sums to stay
    bit-identical between them."""
    q = (
        F.round(F.col(value_col).cast("double") * scale)
        .cast("long")
        .cast("decimal(38,0)")
    )
    aggs = [
        F.count(F.lit(1)).alias("__n"),
        F.sum(q).alias("__s1"),
        F.sum(q * q).alias("__s2"),
        F.sum(q * q * q).alias("__s3"),
        F.sum((q * q) * (q * q)).alias("__s4"),
    ]
    if y_col is not None:
        y = F.col(y_col).cast("decimal(38,0)")
        aggs += [
            F.sum(y).alias("__sy"),
            F.sum(y * y).alias("__sy2"),
            F.sum(q * y).alias("__sxy"),
        ]
    return aggs


def stat_moment_finals(has_y: bool) -> list:
    """The moment-algebra output columns over the exact sum columns
    ``__n/__s1..__s4`` (+ ``__sy/__sy2/__sxy``) — one fixed IEEE
    expression tree, shared verbatim by :func:`stat_moments` and the
    streaming twin so the oracle replay covers both."""
    n = F.col("__n").cast("double")
    s1 = F.col("__s1").cast("double")
    s2 = F.col("__s2").cast("double")
    s3 = F.col("__s3").cast("double")
    s4 = F.col("__s4").cast("double")
    mean = s1 / n
    m2 = s2 / n - mean * mean
    m3 = s3 / n - F.lit(3.0) * mean * (s2 / n) + F.lit(2.0) * (
        mean * mean * mean
    )
    m4 = (
        s4 / n
        - F.lit(4.0) * mean * (s3 / n)
        + F.lit(6.0) * (mean * mean) * (s2 / n)
        - F.lit(3.0) * ((mean * mean) * (mean * mean))
    )
    # ANSI mode throws on division by an EXACT double zero, so a
    # zero-variance group must short-circuit to nan (what CH and any
    # IEEE engine produce for these 0/0 forms) instead of erroring
    nan = F.lit(float("nan"))
    out = [
        F.when(m2 == 0.0, nan)
        .otherwise(m3 / (m2 * F.sqrt(m2)))
        .alias("skew_pop"),
        F.when(m2 == 0.0, nan)
        .otherwise(m4 / (m2 * m2))
        .alias("kurt_pop"),
    ]
    if has_y:
        sy = F.col("__sy").cast("double")
        sy2 = F.col("__sy2").cast("double")
        sxy = F.col("__sxy").cast("double")
        meany = sy / n
        m2y = sy2 / n - meany * meany
        cov = sxy / n - mean * meany
        out += [
            cov.alias("covar_pop"),
            F.when((m2 == 0.0) | (m2y == 0.0), nan)
            .otherwise(cov / F.sqrt(m2 * m2y))
            .alias("corr_pop"),
        ]
    return out


def stat_moments_samp(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    scale: int = 1000,
) -> DataFrame:
    """ClickHouse ``skewSamp(x)`` / ``kurtSamp(x)`` per group — the
    SAMPLE variants (r11): CH keeps the POPULATION central moments
    m3/m4 and swaps only the denominator variance for
    ``varSamp = n*m2/(n-1)`` (AggregateFunctionsStatisticsSimple:
    getSkewSamp = moment3 / varSamp^1.5, getKurtSamp =
    moment4 / varSamp^2 — the docs' 'unbiased estimate' phrasing
    notwithstanding, the code is this exact form, replicated here
    verbatim). Same engine-exact construction as
    :func:`stat_moments`: half-up quantized int64 values, exact
    DECIMAL(38,0) power sums (mergeable — the same cells stream), a
    fixed IEEE finals tree; the skew/kurt ratios are quantization-
    scale invariant (scale^3/scale^3, scale^4/scale^4). ``n = 1``
    (varSamp 0/0) and zero sample variance yield nan, matching CH.
    Returns ``(*group_cols, n_rows, skew_samp, kurt_samp)``; one
    partial-agg Exchange."""
    gcols = list(group_cols)
    base = df.filter(
        F.col(value_col).isNotNull() & ~F.isnan(F.col(value_col))
    )
    got = base.groupBy(*gcols).agg(
        *stat_moment_aggs(value_col, None, scale)
    )
    n = F.col("__n").cast("double")
    s1 = F.col("__s1").cast("double")
    s2 = F.col("__s2").cast("double")
    s3 = F.col("__s3").cast("double")
    s4 = F.col("__s4").cast("double")
    mean = s1 / n
    m2 = s2 / n - mean * mean
    m3 = s3 / n - F.lit(3.0) * mean * (s2 / n) + F.lit(2.0) * (
        mean * mean * mean
    )
    m4 = (
        s4 / n
        - F.lit(4.0) * mean * (s3 / n)
        + F.lit(6.0) * (mean * mean) * (s2 / n)
        - F.lit(3.0) * ((mean * mean) * (mean * mean))
    )
    nan = F.lit(float("nan"))
    var_samp = F.when(n == 1.0, nan).otherwise(
        m2 * n / (n - F.lit(1.0))
    )
    return got.select(
        *gcols,
        F.col("__n").alias("n_rows"),
        F.when((n == 1.0) | (m2 == 0.0), nan)
        .otherwise(m3 / (var_samp * F.sqrt(var_samp)))
        .alias("skew_samp"),
        F.when((n == 1.0) | (m2 == 0.0), nan)
        .otherwise(m4 / (var_samp * var_samp))
        .alias("kurt_samp"),
    )


def largest_triangle_three_buckets(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
    n_out: int,
    order_cols: Sequence[str] | None = None,
    y_scale: int = 1000,
) -> DataFrame:
    """ClickHouse ``largestTriangleThreeBuckets(n)(x, y)``
    (Steinarsson 2013, the downsampling algorithm behind it): per
    group, pick ``n_out`` points that preserve the series' visual
    shape — first and last always kept, the middle split into
    ``n_out - 2`` equal buckets, each bucket contributing the point
    with the LARGEST TRIANGLE area against the previously selected
    point and the next bucket's average. Returns
    ``(*group_cols, rnk int, x, y)`` — the selected original rows in
    order.

    Engine-exact determinism (CH's own output depends on its float
    bucket math and read order): bucket boundaries use integer floor
    division ``1 + k*(N-2) // (n_out-2)``, the selection metric
    quantizes x to int64 as-is (x must be integral — epoch seconds)
    and y half-up to ``round(y*y_scale)`` int64, bucket averages are
    exact-int sums over one IEEE division, the area is a fixed
    double expression tree, and ties take the leftmost point — so an
    oracle replays the pick bit-for-bit and the OUTPUT rows carry the
    untouched original y.

    Sequentially dependent per group (each pick feeds the next
    triangle), so the fold is one Arrow task per group over the
    collected series — the same bounded-state shape as CH's own
    array-returning aggregate; groups hash-partition, nothing
    collects to the driver. ``n_out >= N`` returns every point;
    ``n_out == 2`` just the endpoints; ``n_out < 2`` raises."""
    import pandas as pd
    from pyspark.sql import types as T

    if n_out < 2:
        raise ValueError("n_out must be >= 2")
    gcols = list(group_cols)
    ocols = list(order_cols) if order_cols else [x_col]
    src = df.filter(
        F.col(y_col).isNotNull() & ~F.isnan(F.col(y_col))
    ).select(
        *gcols,
        F.col(x_col).cast("long").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
        F.round(F.col(y_col).cast("double") * y_scale)
        .cast("long")
        .alias("__q"),
        *[F.col(c).alias(f"__o{i}") for i, c in enumerate(ocols)],
    )
    gfields = [src.schema[c] for c in gcols]
    out_schema = T.StructType(
        gfields
        + [
            T.StructField("rnk", T.IntegerType()),
            T.StructField("x", T.LongType()),
            T.StructField("y", T.DoubleType()),
        ]
    )
    okeys = [f"__o{i}" for i in range(len(ocols))]

    def pick(xs, qs, nb):
        n = len(xs)
        if nb >= n:
            return list(range(n))
        if nb == 2:
            return [0, n - 1]
        sel = [0]
        m = n - 2
        b = nb - 2
        for k in range(b):
            lo = 1 + (k * m) // b
            hi = 1 + ((k + 1) * m) // b
            # next anchor: bucket k+1's average (nonempty: m >= b
            # here, so consecutive floor boundaries always differ);
            # the last middle bucket anchors on the final point
            if k < b - 1:
                nlo, nhi = hi, 1 + ((k + 2) * m) // b
            else:
                nlo, nhi = n - 1, n
            cnt = nhi - nlo
            ax = float(sum(xs[nlo:nhi])) / cnt
            ay = float(sum(qs[nlo:nhi])) / cnt
            p = sel[-1]
            px, py = float(xs[p]), float(qs[p])
            best_i, best_a = lo, -1.0
            for i in range(lo, hi):
                a = abs(
                    (px - ax) * (float(qs[i]) - py)
                    - (px - float(xs[i])) * (ay - py)
                )
                if a > best_a:
                    best_i, best_a = i, a
            sel.append(best_i)
        sel.append(n - 1)
        return sel

    def run(key, pdf):
        pdf = pdf.sort_values(okeys, kind="mergesort")
        xs = pdf["__x"].to_list()
        qs = pdf["__q"].to_list()
        ys = pdf["__y"].to_list()
        sel = pick(xs, qs, n_out)
        return pd.DataFrame(
            {
                **{c: [k] * len(sel) for c, k in zip(gcols, key)},
                "rnk": list(range(1, len(sel) + 1)),
                "x": [xs[i] for i in sel],
                "y": [ys[i] for i in sel],
            }
        )

    if not gcols:
        def run_all(key, pdf):  # noqa: ANN001
            return run((), pdf)
        return src.groupBy(F.lit(1).alias("__g")).applyInPandas(
            run_all, out_schema
        )
    return src.groupBy(*gcols).applyInPandas(run, out_schema)


def largest_triangle_three_buckets_partitioned(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
    n_out: int,
    partition_col: str,
    per_partition: int | None = None,
    order_cols: Sequence[str] | None = None,
    y_scale: int = 1000,
) -> DataFrame:
    """The 100 TB shape for :func:`largest_triangle_three_buckets`
    (the SCALING.md mitigation, shipped): the plain operator is one
    Arrow task per SERIES — inherent to the sequential pick loop —
    which is honestly linear in series length. This composition
    bounds the task state instead: downsample each time PARTITION of
    a series to ``per_partition`` candidates (stage 1: one Arrow task
    per (series, partition) — a month of one series, never the whole
    history), then re-pick ``n_out`` over the concatenated candidates
    (stage 2: at most ``partitions * per_partition`` rows per task,
    a constant independent of row count). Returns the same
    ``(*group_cols, rnk, x, y)`` contract.

    Exactness envelope: when ``per_partition`` covers every partition
    row, stage 1 is the identity and the composition EQUALS the
    global pick bit-for-bit (the regression test pins this); when it
    truncates, each stage-2 bucket picks from stage-1 survivors —
    first/last of every partition always survive stage 1 (the LTTB
    endpoint rule), so partition boundaries and the global endpoints
    are never lost, and the pick drifts at most within a bucket (the
    documented Steinarsson composition trade).

    ``partition_col``'s sort order must agree with ``x`` (a
    ``yyyyMM`` month string does): stage 2 orders candidates by
    ``(partition, rnk)`` — the deterministic series order stage 1
    emits — because the original tie-break columns no longer exist
    after stage 1. ``per_partition`` defaults to ``n_out``."""
    if per_partition is None:
        per_partition = n_out
    if per_partition < 2:
        raise ValueError("per_partition must be >= 2")
    gcols = list(group_cols)
    stage1 = largest_triangle_three_buckets(
        df,
        gcols + [partition_col],
        x_col,
        y_col,
        per_partition,
        order_cols=order_cols,
        y_scale=y_scale,
    )
    return largest_triangle_three_buckets(
        stage1,
        gcols,
        "x",
        "y",
        n_out,
        order_cols=[partition_col, "rnk"],
        y_scale=y_scale,
    )


def bounding_ratio(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
    out_col: str = "bounding_ratio",
) -> DataFrame:
    """ClickHouse ``boundingRatio(x, y)``: the slope between the
    leftmost and rightmost points of the group —
    ``(y_at_max_x - y_at_min_x) / (max_x - min_x)``. One struct
    min/max partial aggregation (JVM codegen, one shuffle), one IEEE
    division; ties on x resolve DETERMINISTICALLY to the smallest y
    at the left end and the largest at the right (CH's pick is
    read-order dependent and cannot be hash-checked). NULL x or y
    rows are skipped; a group whose x-range is zero (single point, or
    every row sharing one x) returns nan — under ANSI mode an exact
    0/0 double division would otherwise kill the query."""
    gcols = list(group_cols)
    x, y = F.col(x_col), F.col(y_col)
    pair = F.struct(x.alias("x"), y.alias("y"))
    got = (
        df.filter(x.isNotNull() & y.isNotNull())
        .groupBy(*gcols)
        .agg(F.min(pair).alias("__f"), F.max(pair).alias("__l"))
    )
    dx = (
        F.col("__l")["x"].cast("double")
        - F.col("__f")["x"].cast("double")
    )
    dy = (
        F.col("__l")["y"].cast("double")
        - F.col("__f")["y"].cast("double")
    )
    ratio = F.when(dx == 0.0, F.lit(float("nan"))).otherwise(dy / dx)
    return got.select(*gcols, ratio.alias(out_col))


def two_sample_tests(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    index_col: str,
    scale: int = 1000,
) -> DataFrame:
    """ClickHouse ``studentTTest`` / ``welchTTest`` /
    ``mannWhitneyUTest`` / ``kolmogorovSmirnovTest`` STATISTICS per
    group: ``index_col`` (0/1) splits each group into the two
    samples. Returns ``(*group_cols, t_student, t_welch, dof_welch,
    u_stat, z_u, ks_d)``. ``ks_d`` is the KS D statistic —
    max |ECDF0 - ECDF1| over the pooled values, computed as an exact
    integer maximum (``|cum0*n1 - cum1*n0|`` per distinct value, in
    DECIMAL) over one IEEE division, so it hash-gates like the rest.

    Engine-exact construction (CH's own float accumulators are
    block-order dependent and return approximate p-values):

    - values quantize half-up to ``round(v*scale)`` int64; per-sample
      count / sum / sum-of-squares accumulate in DECIMAL(38,0) — the
      t statistics are then fixed IEEE expression trees over exact
      integers (Student: pooled variance; Welch: per-sample variances
      + Welch–Satterthwaite dof). t and z are scale-invariant, so the
      quantization only touches the grid error.
    - the Mann–Whitney rank sum uses midrank ties and accumulates in
      HALF-RANK integer units: per distinct value,
      ``2*avgrank = 2*cum_before + cnt + 1`` is an integer, so
      ``R1*2 = sum(n1 * (2*cum_before + cnt + 1))`` is an exact
      DECIMAL sum under any partitioning. ``u_stat`` is sample 1's U;
      ``z_u`` applies the tie-corrected normal approximation
      ``(U - n1*n2/2) / sqrt(n1*n2/12 * ((n+1) - sum(t^3-t)/(n*(n-1))))``
      with no continuity correction.

    p-values are deliberately NOT returned: both engines' erf /
    incomplete-beta differ in the last ulp (measured — the same
    reason entropy is not oracle-gated here), and a p-value that
    cannot be hash-checked belongs in the caller's stats library.
    Plan: two partial-agg shuffles (per-sample moments; per-value
    rank table) sharing the group-key partitioning, one broadcast-size
    join of the per-group results."""
    gcols = list(group_cols)
    base = two_sample_base(df, gcols, value_col, index_col, scale)
    # FUSED single pipeline (r12 optimization, guide §2.3/§2.4): the
    # per-sample moment sums are derivable from the SAME per-value
    # cell table the rank/KS statistics fold over — n0 = Σc0,
    # s0 = Σ q·c0, ss0 = Σ q²·c0 — and as exact integer/DECIMAL(38,0)
    # arithmetic those are bit-identical to the row-level sums the
    # two-pass form computed (sums of identical integers, merely
    # grouped by value first). Folding them into the rank table's
    # final aggregation removes the second full-data pass, its
    # shuffle, and the per-group join: 1 scan + 2 Exchanges + 0 joins
    # (was 2 scans, 3 Exchanges, 1 broadcast join).
    # two_sample_moment_aggs()/two_sample_t_finals() remain the
    # streaming twin's incremental-state contract (bit-parity with
    # this operator is pinned by the replay tests).
    per_v = two_sample_value_cells(base, gcols)
    half = _two_sample_rank_half(per_v, gcols, keep_q=True)
    qd = F.col("__q").cast("decimal(38,0)")
    c0d = F.col("__c0").cast("decimal(38,0)")
    c1d = (F.col("__c") - F.col("__c0")).cast("decimal(38,0)")
    agg = half.groupBy(*gcols).agg(
        *_two_sample_rank_aggs(),
        # all-sample-1 groups: sum over zero c0 weights yields 0 where
        # the row-level conditional sum yielded NULL — both are inside
        # the n<2 degenerate guard, so the emitted statistics agree
        F.sum("__c0").alias("__n0"),
        F.sum(F.col("__c") - F.col("__c0")).alias("__n1"),
        F.sum(qd * c0d).alias("__s0b"),
        F.sum(qd * c1d).alias("__s1b"),
        F.sum(qd * qd * c0d).alias("__ss0b"),
        F.sum(qd * qd * c1d).alias("__ss1b"),
    )
    # an absent sample must yield NULL sums (as the row-level
    # conditional sums did), not 0: under ANSI mode the t-tree's
    # divisions are hoisted as common subexpressions OUTSIDE the
    # degenerate-guard CaseWhen, and 0/0 errors where NULL/0 is NULL
    dnull = F.lit(None).cast("decimal(38,0)")
    agg = agg.select(
        "*",
        F.when(F.col("__n0") > 0, F.col("__s0b")).otherwise(dnull).alias("__s0"),
        F.when(F.col("__n1") > 0, F.col("__s1b")).otherwise(dnull).alias("__s1"),
        F.when(F.col("__n0") > 0, F.col("__ss0b")).otherwise(dnull).alias("__ss0"),
        F.when(F.col("__n1") > 0, F.col("__ss1b")).otherwise(dnull).alias("__ss1"),
    )
    return agg.select(
        *gcols, *two_sample_t_finals(), *_two_sample_rank_select()
    )


def two_sample_base(
    df: DataFrame,
    gcols: Sequence[str],
    value_col: str,
    index_col: str,
    scale: int,
) -> DataFrame:
    """The shared quantize-and-label projection both
    :func:`two_sample_tests` and the streaming twin start from — the
    replay-parity contract needs the quantization (and the
    sample-label filter) bit-identical between them."""
    q = (
        F.round(F.col(value_col).cast("double") * scale)
        .cast("long")
    )
    idx = F.col(index_col).cast("int")
    return df.filter(
        F.col(value_col).isNotNull()
        & ~F.isnan(F.col(value_col))
        # rows whose index is not a sample label are IGNORED — an
        # unfiltered NULL/2 would enter the pooled ranks (rn1 counts
        # "everything not sample 0") while the t-statistics only see
        # i == 1, silently computing U and t over different populations
        & idx.isin(0, 1)
    ).select(*gcols, q.alias("__q"), idx.alias("__i"))


def two_sample_moment_aggs() -> list:
    """Exact per-sample DECIMAL(38,0) moment aggregates over the
    :func:`two_sample_base` columns — mergeable summaries, shared
    verbatim by the batch operator and
    :mod:`..streaming.twosample`'s native incremental aggregation."""
    qd = F.col("__q").cast("decimal(38,0)")
    return [
        F.count(F.when(F.col("__i") == 0, F.lit(1))).alias("__n0"),
        F.count(F.when(F.col("__i") == 1, F.lit(1))).alias("__n1"),
        F.sum(F.when(F.col("__i") == 0, qd)).alias("__s0"),
        F.sum(F.when(F.col("__i") == 1, qd)).alias("__s1"),
        F.sum(F.when(F.col("__i") == 0, qd * qd)).alias("__ss0"),
        F.sum(F.when(F.col("__i") == 1, qd * qd)).alias("__ss1"),
    ]


def two_sample_t_finals() -> list:
    """The t-statistic output columns (Student t / Welch t / Welch
    dof, degenerate guards included) over the exact moment sums —
    one fixed IEEE tree, shared verbatim by batch and streaming so
    the replay-parity test can assert bitwise equality."""
    n0 = F.col("__n0").cast("double")
    n1 = F.col("__n1").cast("double")
    s0 = F.col("__s0").cast("double")
    s1 = F.col("__s1").cast("double")
    ss0 = F.col("__ss0").cast("double")
    ss1 = F.col("__ss1").cast("double")
    m0 = s0 / n0
    m1 = s1 / n1
    v0 = (ss0 / n0 - m0 * m0) * (n0 / (n0 - F.lit(1.0)))
    v1 = (ss1 / n1 - m1 * m1) * (n1 / (n1 - F.lit(1.0)))
    sp2 = (
        (n0 - F.lit(1.0)) * v0 + (n1 - F.lit(1.0)) * v1
    ) / (n0 + n1 - F.lit(2.0))
    t_student = (m0 - m1) / (
        F.sqrt(sp2) * F.sqrt(F.lit(1.0) / n0 + F.lit(1.0) / n1)
    )
    se0 = v0 / n0
    se1 = v1 / n1
    t_welch = (m0 - m1) / F.sqrt(se0 + se1)
    dof_welch = ((se0 + se1) * (se0 + se1)) / (
        (se0 * se0) / (n0 - F.lit(1.0))
        + (se1 * se1) / (n1 - F.lit(1.0))
    )
    # degenerate inputs — a sample with < 2 rows, or two constant
    # samples — hit exact-zero divisors, which ANSI mode turns into a
    # query-killing error; short-circuit them to nan (the statistic
    # genuinely does not exist there, and nan is what CH emits)
    nan = F.lit(float("nan"))
    degenerate = (
        F.col("__n0").isNull()
        | F.col("__n1").isNull()
        | (n0 < 2.0)
        | (n1 < 2.0)
    )
    zero_var = (v0 == 0.0) & (v1 == 0.0)
    return [
        F.when(degenerate | zero_var, nan)
        .otherwise(t_student)
        .alias("t_student"),
        F.when(degenerate | zero_var, nan)
        .otherwise(t_welch)
        .alias("t_welch"),
        F.when(degenerate | zero_var, nan)
        .otherwise(dof_welch)
        .alias("dof_welch"),
    ]


def two_sample_value_cells(
    base: DataFrame, gcols: Sequence[str]
) -> DataFrame:
    """The per-distinct-value rank table ``(*gcols, __q, __c, __c0)``
    — counts per quantized value and per sample-0 — from a
    :func:`two_sample_base` frame. Mergeable counts (bounded by the
    number of DISTINCT values per group, not rows): the batch
    operator derives U/z/KS from it, and the streaming twin maintains
    it as running native-agg state."""
    return base.groupBy(*gcols, "__q").agg(
        F.count(F.lit(1)).alias("__c"),
        F.count(F.when(F.col("__i") == 0, F.lit(1))).alias("__c0"),
    )


def two_sample_rank_finals(
    per_v: DataFrame, gcols: Sequence[str]
) -> DataFrame:
    """Mann-Whitney U / tie-corrected z / Kolmogorov-Smirnov D from a
    :func:`two_sample_value_cells` table — shared verbatim by batch
    and the streaming twin's snapshot finalization, so replaying a
    stream reproduces the batch statistics bit-for-bit."""
    half = _two_sample_rank_half(per_v, gcols)
    ranks = half.groupBy(*gcols).agg(*_two_sample_rank_aggs())
    return ranks.select(*gcols, *_two_sample_rank_select())


def _two_sample_rank_half(
    per_v: DataFrame, gcols: Sequence[str], keep_q: bool = False
) -> DataFrame:
    """The windowed midrank/ECDF projection over a
    :func:`two_sample_value_cells` table — factored so the fused
    batch operator (which also folds the moment sums over the same
    rows) and :func:`two_sample_rank_finals` share it verbatim.
    ``keep_q`` carries the quantized value through for the fused
    moment sums."""
    w = (
        Window.partitionBy(*gcols)
        .orderBy("__q")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_inc = (
        Window.partitionBy(*gcols)
        .orderBy("__q")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy(*gcols)
    cum_before = F.coalesce(F.sum("__c").over(w), F.lit(0))
    cum0 = F.sum("__c0").over(w_inc)
    cum1 = F.sum(F.col("__c") - F.col("__c0")).over(w_inc)
    tot0 = F.sum("__c0").over(w_all)
    tot1 = F.sum(F.col("__c") - F.col("__c0")).over(w_all)
    return per_v.select(
        *gcols,
        *(["__q"] if keep_q else []),
        F.col("__c"),
        F.col("__c0"),
        (F.lit(2) * cum_before + F.col("__c") + F.lit(1)).alias("__r2"),
        # |F0(v) - F1(v)| scaled by n0*n1: an exact integer per
        # distinct value (decimal casts beat the int64 wrap, as for
        # the rank sum); D = max / (n0*n1), one IEEE division
        F.abs(
            cum0.cast("decimal(38,0)") * tot1
            - cum1.cast("decimal(38,0)") * tot0
        ).alias("__ksn"),
    )


def _two_sample_rank_aggs() -> list:
    """The rank/KS aggregates over a :func:`_two_sample_rank_half`
    frame — one list, shared by the fused batch pipeline and
    :func:`two_sample_rank_finals`."""
    return [
        # cast BEFORE the multiply: c0 * r2 in int64 wraps around
        # ~4e9-row groups (r2 ~ 2N), exactly the scale the exactness
        # contract exists for
        F.sum(
            F.col("__c0").cast("decimal(38,0)") * F.col("__r2")
        ).alias("__r1x2"),
        F.sum(
            (
                F.col("__c").cast("decimal(38,0)")
                * F.col("__c")
                * F.col("__c")
                - F.col("__c")
            )
        ).alias("__ties"),
        F.sum("__c0").alias("__mn0"),
        F.sum(F.col("__c") - F.col("__c0")).alias("__mn1"),
        F.max("__ksn").alias("__ksn_max"),
    ]


def _two_sample_rank_select() -> list:
    """The U/z/KS output columns over the :func:`_two_sample_rank_aggs`
    sums — one fixed IEEE tree, shared by the fused batch pipeline
    and :func:`two_sample_rank_finals`."""
    rn0 = F.col("__mn0").cast("double")
    rn1 = F.col("__mn1").cast("double")
    nn = rn0 + rn1
    u1 = (
        F.col("__r1x2").cast("double") / F.lit(2.0)
        - rn0 * (rn0 + F.lit(1.0)) / F.lit(2.0)
    )
    mu = rn0 * rn1 / F.lit(2.0)
    sigma2 = (
        rn0 * rn1 / F.lit(12.0)
    ) * (
        (nn + F.lit(1.0))
        - F.col("__ties").cast("double") / (nn * (nn - F.lit(1.0)))
    )
    # the nn < 2 guard must come FIRST: sigma2's tie-correction term
    # divides by nn*(nn-1), and even testing sigma2 == 0 evaluates it
    # (Or short-circuits left-to-right, so the cheap guard runs first)
    nan_mw = F.lit(float("nan"))
    return [
        u1.alias("u_stat"),
        F.when((nn < 2.0) | (sigma2 == 0.0), nan_mw)
        .otherwise((u1 - mu) / F.sqrt(sigma2))
        .alias("z_u"),
        # KS D: exact integer max over the pooled distinct values,
        # one division; an empty sample has no ECDF -> nan
        F.when((rn0 == 0.0) | (rn1 == 0.0), nan_mw)
        .otherwise(F.col("__ksn_max").cast("double") / (rn0 * rn1))
        .alias("ks_d"),
    ]


def rank_corr(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
    via_cells: bool | None = None,
    probe_rows: int = 100_000,
) -> DataFrame:
    """ClickHouse ``rankCorr(x, y)`` per group: Spearman's rank
    correlation with midrank (average-rank) ties — Pearson over the
    two rank vectors. Returns ``(*group_cols, rank_corr)``.

    Engine-exact construction (CH's own accumulator materializes and
    sorts both arrays in one state — read-order independent but
    single-threaded; this is the distributed equivalent): midranks
    accumulate in HALF-RANK integer units — for a row, ``2*midrank =
    2*(rank-1) + cnt_eq + 1`` where ``rank`` is the min-rank and
    ``cnt_eq`` the tie-class size, both integers — so the five power
    sums over (rx2, ry2) are exact DECIMAL(38,0) under any
    partitioning, and the Pearson expression is one fixed IEEE tree
    over them (the half-unit scaling cancels). NULL/NaN pairs are
    skipped (one side NULL drops the pair — both rank vectors must
    cover the same rows or the correlation is over mismatched
    populations). A group where either variable is constant has zero
    rank variance -> nan, not an ANSI 0/0 error.

    Plan: ONE Exchange on the group key serves both rank windows
    (same partitioning, two sort orders) and the final partial agg —
    no joins, no per-group collect. The window sort is O(n log n)
    per group (2.9x at 10x data in the SCALING spot-check) — for
    rows >> distinct values, ``via_cells`` routes through
    :func:`rank_corr_cells` + :func:`rank_corr_finals` instead:
    state collapses to the DISTINCT (x, y) joint-value table (the
    streaming twin's mergeable summary), midranks derive from the
    marginals, and the identical DECIMAL sums feed the identical
    IEEE tree, so both forms are BIT-identical (pinned by
    test_rank_corr_via_cells_bitwise) — the flat-shape escape hatch.

    ROUTING (r11, verdict #2): ``via_cells=None`` (the default)
    decides automatically — a bounded probe reads at most
    ``probe_rows`` rows (CollectLimit: only enough partitions to
    fill the limit, never a full scan) and counts distinct (x, y)
    pairs; if the sample is big enough to be informative (>= 1000
    rows) and at most half its pairs are distinct, the repeating-
    domain shape is in play and the cells route wins, else the
    window route. Because both routes are bit-identical, the probe
    is a pure COST choice — a wrong guess can only cost time, never
    change a value — but it does launch one small eager job at plan-
    build time; callers on a hot path pass ``via_cells=True/False``
    explicitly to skip it.

    PROBE-FREE FAST PATHS (r12, verdict #3 / ADVICE r11): before
    probing, the auto route consults (1) the session conf
    ``spark.carbonClickhouseSpark.rankCorr.route`` (``cells`` /
    ``window`` / ``auto``) — a deployment-wide hint that skips the
    eager job entirely — and (2) a per-plan memo keyed by the
    analyzed plan's ``semanticHash`` + columns, so re-running the
    same rank_corr (bench repeats, retried stages, dashboards
    re-issuing a query) probes at most ONCE per session and the
    route is DETERMINISTIC within it (the probe's CollectLimit
    sample is partition-order dependent; the memo pins the first
    decision). Reference parity:
    ClickHouse ``rankCorr`` (AggregateFunctionRankCorrelation);
    carbon-clickhouse itself has no query layer (README: queries are
    issued to ClickHouse), so the CH aggregate surface is the
    contract, as for the rest of this module."""
    gcols = list(group_cols)
    if via_cells is None:
        via_cells = _rank_corr_route(df, x_col, y_col, probe_rows)
    if via_cells:
        return rank_corr_finals(
            rank_corr_cells(df, gcols, x_col, y_col), gcols
        )
    x, y = F.col(x_col), F.col(y_col)
    base = df.filter(
        x.isNotNull() & ~F.isnan(x.cast("double"))
        & y.isNotNull() & ~F.isnan(y.cast("double"))
    ).select(*gcols, x.alias("__x"), y.alias("__y"))

    def _rank2(col: str):
        w_rank = Window.partitionBy(*gcols).orderBy(col)
        w_ties = (
            Window.partitionBy(*gcols)
            .orderBy(col)
            .rangeBetween(Window.currentRow, Window.currentRow)
        )
        return (
            F.lit(2) * (F.rank().over(w_rank) - F.lit(1))
            + F.count(F.lit(1)).over(w_ties)
            + F.lit(1)
        ).cast("long")

    ranked = base.select(
        *gcols,
        _rank2("__x").alias("__rx2"),
        _rank2("__y").alias("__ry2"),
    )
    rx = F.col("__rx2").cast("decimal(38,0)")
    ry = F.col("__ry2").cast("decimal(38,0)")
    agg = ranked.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(rx).alias("__sx"),
        F.sum(ry).alias("__sy"),
        F.sum(rx * rx).alias("__sxx"),
        F.sum(ry * ry).alias("__syy"),
        F.sum(rx * ry).alias("__sxy"),
    )
    n = F.col("__n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    sxy = F.col("__sxy").cast("double")
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    nan = F.lit(float("nan"))
    out = F.when((vx == 0.0) | (vy == 0.0), nan).otherwise(
        (n * sxy - sx * sy) / (F.sqrt(vx) * F.sqrt(vy))
    )
    return agg.select(*gcols, out.alias("rank_corr"))


_RANK_CORR_ROUTE_CONF = "spark.carbonClickhouseSpark.rankCorr.route"
# per-plan route memo: (analyzed-plan semanticHash, x, y, probe_rows)
# -> via_cells. Bounded; cleared wholesale rather than LRU-evicted —
# route decisions are three machine words, correctness never depends
# on a hit, and a stale entry can only re-pick a still-valid route.
_rank_corr_route_memo: dict[tuple, bool] = {}
_RANK_CORR_MEMO_MAX = 256


def _rank_corr_route(
    df: DataFrame, x_col: str, y_col: str, probe_rows: int
) -> bool:
    """Route decision for ``via_cells=None`` (r12): session-conf
    hint, then per-plan memo, then the bounded probe. The memo keys
    on the ANALYZED plan's ``semanticHash`` (stable across repeated
    builds of the same logical query — exactly the bench/dashboard
    repeat shape) so the eager probe job runs at most once per
    distinct input per session; on Spark Connect (no ``_jdf``) the
    memo degrades to probing each call, same as r11."""
    try:
        hint = (
            df.sparkSession.conf.get(_RANK_CORR_ROUTE_CONF, "auto")
            or "auto"
        ).lower()
    except Exception:
        hint = "auto"
    if hint == "cells":
        return True
    if hint == "window":
        return False
    key = None
    try:
        key = (
            df.select(x_col, y_col)
            ._jdf.queryExecution()
            .analyzed()
            .semanticHash(),
            x_col,
            y_col,
            int(probe_rows),
        )
    except Exception:
        key = None
    if key is not None and key in _rank_corr_route_memo:
        return _rank_corr_route_memo[key]
    route = _rank_corr_probe(df, x_col, y_col, probe_rows)
    if key is not None:
        if len(_rank_corr_route_memo) >= _RANK_CORR_MEMO_MAX:
            _rank_corr_route_memo.clear()
        _rank_corr_route_memo[key] = route
    return route


def _rank_corr_probe(
    df: DataFrame, x_col: str, y_col: str, probe_rows: int
) -> bool:
    """Bounded-cost route probe for :func:`rank_corr`: True (take the
    cells route) when a <=``probe_rows`` sample has >= 1000 rows and
    at most half of its (x, y) pairs are distinct. ``limit`` compiles
    to CollectLimit — Spark reads partitions only until the limit
    fills, so the probe never scans the full input; ``count_distinct``
    skips NULL pairs, matching the operator's own pair filter. Purely
    a cost decision: both routes are bit-identical."""
    row = (
        df.select(x_col, y_col)
        .limit(int(probe_rows))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col(x_col), F.col(y_col)).alias("d"),
        )
        .collect()[0]
    )
    return row["n"] >= 1000 and row["d"] * 2 <= row["n"]


def rank_corr_cells(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Joint value-pair cell table ``(*gcols, __x, __y, __c)`` for
    :func:`rank_corr_finals` — the mergeable summary the streaming
    twin maintains (state bounded by DISTINCT (x, y) pairs, not
    rows). NULL/NaN filtering matches :func:`rank_corr` exactly."""
    gcols = list(group_cols)
    x, y = F.col(x_col), F.col(y_col)
    return (
        df.filter(
            x.isNotNull() & ~F.isnan(x.cast("double"))
            & y.isNotNull() & ~F.isnan(y.cast("double"))
        )
        .groupBy(*gcols, x.alias("__x"), y.alias("__y"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )


def rank_corr_finals(
    cells: DataFrame, gcols: Sequence[str]
) -> DataFrame:
    """Spearman from a :func:`rank_corr_cells` snapshot: midranks
    derive from the x and y MARGINALS of the joint cells (every row
    sharing a value shares its midrank, so the per-row half-rank
    sums collapse to cell-weighted sums — exactly the quantities
    :func:`rank_corr` accumulates, in the same DECIMAL types), and
    the final Pearson tree is shared, so a streaming snapshot
    finalizes BIT-identically to the batch operator.

    Group keys ride ONE ``struct`` column through the marginal joins
    (r11): struct equality is null-safe, so a NULL group key stays
    its own group exactly as the window route and CH GROUP BY keep
    it — a name-equality join dropped it and made the two rank_corr
    routes disagree on NULL keys — and both joins and the final
    aggregate share the struct key's hash partitioning."""
    glist = list(gcols)
    key = F.struct(*[F.col(c) for c in glist]) if glist else F.lit(0)
    kcells = cells.select(key.alias("__gk"), "__x", "__y", "__c")

    def _marginal(col: str, out: str) -> DataFrame:
        # per distinct value: 2*midrank = 2*cum_before + cnt + 1
        m = kcells.groupBy("__gk", col).agg(
            F.sum("__c").alias("__cnt")
        )
        w = (
            Window.partitionBy("__gk")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return m.select(
            "__gk",
            col,
            (
                F.lit(2)
                * F.coalesce(F.sum("__cnt").over(w), F.lit(0))
                + F.col("__cnt")
                + F.lit(1)
            ).cast("long").alias(out),
        )

    ranked = (
        kcells.join(_marginal("__x", "__rx2"), ["__gk", "__x"])
        .join(_marginal("__y", "__ry2"), ["__gk", "__y"])
        .select("__gk", "__c", "__rx2", "__ry2")
    )
    c = F.col("__c").cast("decimal(38,0)")
    rx = F.col("__rx2").cast("decimal(38,0)")
    ry = F.col("__ry2").cast("decimal(38,0)")
    agg = ranked.groupBy("__gk").agg(
        F.sum(c).alias("__n"),
        F.sum(c * rx).alias("__sx"),
        F.sum(c * ry).alias("__sy"),
        F.sum(c * rx * rx).alias("__sxx"),
        F.sum(c * ry * ry).alias("__syy"),
        F.sum(c * rx * ry).alias("__sxy"),
    )
    gsel = [F.col("__gk").getField(c2).alias(c2) for c2 in glist]
    n = F.col("__n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    sxy = F.col("__sxy").cast("double")
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    nan = F.lit(float("nan"))
    out = F.when((vx == 0.0) | (vy == 0.0), nan).otherwise(
        (n * sxy - sx * sy) / (F.sqrt(vx) * F.sqrt(vy))
    )
    return agg.select(*gsel, out.alias("rank_corr"))


def theils_u(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """ClickHouse ``theilsU(x, y)`` per group — the uncertainty
    coefficient as CH computes it (TheilsUData::getResult):
    ``h_a = sum_a (n_a/n) ln(n_a/n)``, ``dep = sum_ab (n_ab/n)
    ln(n_ab/n_b)``, result ``(dep - h_a) / h_a`` — NEGATIVE of the
    textbook U(x|y) (CH's documented example returns -0.3019...),
    kept verbatim for drop-in parity. Returns
    ``(*group_cols, n_rows, theils_u)``.

    Determinism: cell counts and marginals are exact integers (the
    :func:`contingency_stats` scaffolding); each entropy TERM is one
    fixed IEEE expression (division + ln + multiply) quantized to
    DECIMAL(28,12) before summing — the :mod:`..datapipe.lm`
    convention for transcendental folds: the exact decimal sum is
    partition-order INDEPENDENT, and the quantization absorbs
    last-ulp ln() differences between engines, so no fold order needs
    pinning at all. The final algebra is one IEEE tree; callers
    hash-gating across engines should round the result (the oracle
    rounds to 6), never gate the raw transcendental. Groups with
    n < 2 or zero x-entropy (single x value) return nan like CH.

    Plan: one partial-agg shuffle to the (group, x, y) cell table —
    the only pass over the data — then marginals as window sums over
    the same partitioning and one per-group sum bounded by the
    contingency-table size, not the row count."""
    gcols = list(group_cols)
    return theils_u_finals(
        contingency_cells(df, gcols, x_col, y_col), gcols
    )


def theils_u_finals(
    cells: DataFrame, gcols: Sequence[str]
) -> DataFrame:
    """Theil's U from a :func:`contingency_cells` table (the SAME
    cell shape the contingency family and its streaming twin use) —
    identical whether the cells came from one batch pass or a
    streaming state snapshot.

    r12 optimization (guide §2.4), the :func:`contingency_finals`
    rewrite applied here too: marginals and the group total come off
    ONE sorted collected cell array (bounded by the contingency-table
    size) instead of three window passes plus a row_number lead
    marker — 2 Exchanges, no window sorts. Terms are the identical
    IEEE trees quantized to DECIMAL(28,12); both the dep and h_a
    sums are exact decimal folds (order-free), and the h_a term is
    emitted exactly once per x class — on the cell that leads its x
    class in the sorted array, the same cell row_number picked — so
    results are bit-identical."""
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("__x").cast("string").alias("x"),
                F.col("__y").cast("string").alias("y"),
                F.col("__o").alias("o"),
            )
        )
    )
    agg0 = cells.groupBy(*gcols).agg(arr.alias("__cells"))
    cells_a = F.col("__cells")
    zero = F.lit(0).cast("long")
    n_l = F.aggregate(cells_a, zero, lambda a, s: a + s["o"])
    n = n_l.cast("double")

    def marg(field, cell):
        return F.aggregate(
            cells_a,
            zero,
            lambda a2, s2: a2
            + F.when(s2[field] == cell[field], s2["o"]).otherwise(zero),
        )

    def per_cell(c, i):
        o = c["o"].cast("double")
        nb = marg("y", c).cast("double")
        na = marg("x", c).cast("double")
        dep_t = ((o / n) * F.log(o / nb)).cast("decimal(28,12)")
        # the h_a fold runs over DISTINCT x marginals: emit the
        # marginal term once, on the cell that LEADS its x class in
        # the sorted array (i == 0 or a different x right before it);
        # non-lead cells add an exact decimal zero, which the
        # order-free exact sum treats identically to the window
        # form's NULL-skip
        lead = F.when(i == F.lit(0), F.lit(True)).otherwise(
            F.element_at(cells_a, i)["x"] != c["x"]
        )
        ha_t = F.when(
            lead, ((na / n) * F.log(na / n)).cast("decimal(28,12)")
        ).otherwise(F.lit(0).cast("decimal(28,12)"))
        return F.struct(dep_t.alias("d"), ha_t.alias("h"))

    terms = F.transform(cells_a, per_cell)
    # accumulator DECIMAL(37,12): the step sum types as (38,12) — no
    # precision-loss rescale — and the cast back to (37,12) keeps
    # scale 12, so every addition is exact; the fold equals
    # F.sum(decimal(28,12)) bit-for-bit (terms are O(1)-magnitude,
    # nowhere near the 10^25 integral-digit capacity)
    dzero = F.lit(0).cast("decimal(37,12)")
    agg = agg0.select(
        *gcols,
        F.aggregate(
            terms,
            dzero,
            lambda a3, t3: (a3 + t3["d"]).cast("decimal(37,12)"),
        ).alias("__dep"),
        F.aggregate(
            terms,
            dzero,
            lambda a4, t4: (a4 + t4["h"]).cast("decimal(37,12)"),
        ).alias("__ha"),
        n_l.alias("__nn"),
    )
    dep = F.col("__dep").cast("double")
    ha = F.col("__ha").cast("double")
    nan = F.lit(float("nan"))
    out = F.when(
        (F.col("__nn") < 2) | (ha == 0.0), nan
    ).otherwise((dep - ha) / ha)
    return agg.select(
        *gcols,
        F.col("__nn").cast("long").alias("n_rows"),
        out.alias("theils_u"),
    )


def corr_matrix(
    df: DataFrame,
    group_cols: Sequence[str],
    value_cols: Sequence[str],
    scale: int = 1000,
) -> DataFrame:
    """ClickHouse ``corrMatrix(x1, ..., xn)`` /
    ``covarPopMatrix(x1, ..., xn)`` per group, in long form: one row
    per unordered column pair ``(i <= j)`` with
    ``(*group_cols, x_name, y_name, covar_pop, corr_pop)`` — the
    row set a SQL oracle can hash, carrying exactly the numbers CH
    packs into its Array(Array(Float64)) result.

    Engine-exact like :func:`stat_moments` (same quantization, same
    conventions): every column quantizes half-up to ``round(v*scale)``
    int64; the n + per-column sums + per-pair cross sums all
    accumulate in DECIMAL(38,0) in ONE partial-agg pass (no per-pair
    rescan — n(n+1)/2 cross sums ride a single groupBy); the final
    covariance/correlation algebra is a fixed IEEE tree per pair.
    Rows with a NULL or NaN in ANY column drop (one population for
    every pair — CH's matrix aggregates skip the whole tuple, and
    mixed populations would make the matrix inconsistent).
    ``covar_pop`` is in the quantized grid (scale^2); ``corr_pop`` is
    scale-free. Zero-variance columns yield nan correlations."""
    gcols = list(group_cols)
    vcols = list(value_cols)
    if len(vcols) < 2:
        raise ValueError("corr_matrix needs at least two columns")
    agg = (
        df.filter(corr_matrix_filter(vcols))
        .groupBy(*gcols)
        .agg(*corr_matrix_aggs(vcols, scale))
    )
    return corr_matrix_finals(agg, gcols, vcols)


def corr_matrix_filter(value_cols: Sequence[str]):
    """Row predicate shared by :func:`corr_matrix` and the streaming
    twin: rows with NULL/NaN in ANY column drop (one population for
    every pair)."""
    if len(value_cols) < 2:
        raise ValueError("corr_matrix needs at least two columns")
    cond = None
    for c in value_cols:
        cc = F.col(c).isNotNull() & ~F.isnan(F.col(c).cast("double"))
        cond = cc if cond is None else (cond & cc)
    return cond


def corr_matrix_aggs(value_cols: Sequence[str], scale: int = 1000):
    """The mergeable aggregate expressions (count + per-column sums +
    n(n+1)/2 cross sums, all DECIMAL(38,0)) shared by
    :func:`corr_matrix` and :func:`..streaming.moments.
    streaming_corr_matrix` — the bit-for-bit replay-parity contract
    lives on both twins quantizing and summing identically."""
    vcols = list(value_cols)
    if len(vcols) < 2:
        raise ValueError("corr_matrix needs at least two columns")
    qs = {
        c: F.round(F.col(c).cast("double") * scale)
        .cast("long")
        .cast("decimal(38,0)")
        for c in vcols
    }
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(vcols):
        aggs.append(F.sum(qs[c]).alias(f"__s{i}"))
        aggs.append(F.sum(qs[c] * qs[c]).alias(f"__ss{i}"))
    for i in range(len(vcols)):
        for j in range(i + 1, len(vcols)):
            aggs.append(
                F.sum(qs[vcols[i]] * qs[vcols[j]]).alias(f"__x{i}_{j}")
            )
    return aggs


def corr_matrix_finals(
    agg: DataFrame,
    group_cols: Sequence[str],
    value_cols: Sequence[str],
    keep_n: bool = False,
) -> DataFrame:
    """Long-form pair rows from a :func:`corr_matrix_aggs` summary —
    the fixed IEEE finishing tree both twins share verbatim.
    ``keep_n`` adds the running row count as ``n_rows`` (the
    streaming twin's monotone version stamp)."""
    gcols = list(group_cols)
    vcols = list(value_cols)
    n = F.col("__n").cast("double")
    nan = F.lit(float("nan"))

    def pair_row(i: int, j: int):
        si = F.col(f"__s{i}").cast("double")
        sj = F.col(f"__s{j}").cast("double")
        if i == j:
            sxy = F.col(f"__ss{i}").cast("double")
        else:
            sxy = F.col(f"__x{i}_{j}").cast("double")
        mi = si / n
        mj = sj / n
        cov = sxy / n - mi * mj
        vi = F.col(f"__ss{i}").cast("double") / n - mi * mi
        vj = F.col(f"__ss{j}").cast("double") / n - mj * mj
        corr = F.when((vi == 0.0) | (vj == 0.0), nan).otherwise(
            cov / F.sqrt(vi * vj)
        )
        return F.struct(
            F.lit(vcols[i]).alias("x_name"),
            F.lit(vcols[j]).alias("y_name"),
            cov.alias("covar_pop"),
            corr.alias("corr_pop"),
        )

    pairs = [
        pair_row(i, j)
        for i in range(len(vcols))
        for j in range(i, len(vcols))
    ]
    head = [F.col("__n").alias("n_rows")] if keep_n else []
    exploded = agg.select(
        *gcols, *head, F.explode(F.array(*pairs)).alias("__p")
    )
    return exploded.select(
        *gcols,
        *([F.col("n_rows")] if keep_n else []),
        F.col("__p.x_name").alias("x_name"),
        F.col("__p.y_name").alias("y_name"),
        F.col("__p.covar_pop").alias("covar_pop"),
        F.col("__p.corr_pop").alias("corr_pop"),
    )


def anova_f(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    level_col: str,
    scale: int = 1000,
) -> DataFrame:
    """ClickHouse ``analysisOfVariance(value, level)`` per group:
    one-way ANOVA, returning the F statistic plus the degrees of
    freedom ``(k - 1, n - k)``. Returns
    ``(*group_cols, f_stat, df_between, df_within)`` — the p-value is
    deliberately not emitted (incomplete-beta differs between engines
    in the last ulp; the established two_sample_tests policy).

    Engine-exact: values quantize half-up to ``round(v*scale)``
    int64; per-level count/sum/sum-of-squares accumulate in
    DECIMAL(38,0) (one partial-agg shuffle). The between-group sum
    ``sum_l s_l^2/n_l`` is the one order-sensitive IEEE piece, so it
    folds SEQUENTIALLY over the levels in level order — F.aggregate
    over the sorted collected level array here, list_reduce in the
    oracle — the contingency_stats chi-square discipline. F is
    scale-invariant (both numerator and denominator scale by
    scale^2), so quantization only touches the grid error. Guards:
    fewer than 2 levels, n <= k, or zero within-group variance
    return nan, never an ANSI 0/0.

    Plan: one partial-agg shuffle to the per-level table (bounded by
    level cardinality), one per-group fold over the collected
    levels."""
    gcols = list(group_cols)
    return anova_finals(
        anova_cells(df, gcols, value_col, level_col, scale), gcols
    )


def anova_cells(
    df: DataFrame,
    gcols: Sequence[str],
    value_col: str,
    level_col: str,
    scale: int = 1000,
) -> DataFrame:
    """Per-level exact moment table ``(*gcols, __l, __nl, __sl,
    __ssl)`` — the mergeable summary shared by :func:`anova_f` and
    the streaming twin (state bounded by level cardinality)."""
    q = (
        F.round(F.col(value_col).cast("double") * scale)
        .cast("long")
        .cast("decimal(38,0)")
    )
    base = df.filter(
        F.col(value_col).isNotNull()
        & ~F.isnan(F.col(value_col))
        & F.col(level_col).isNotNull()
    )
    return base.groupBy(
        *gcols, F.col(level_col).alias("__l")
    ).agg(
        F.count(F.lit(1)).alias("__nl"),
        F.sum(q).alias("__sl"),
        F.sum(q * q).alias("__ssl"),
    )


def anova_finals(
    per_l: DataFrame, gcols: Sequence[str]
) -> DataFrame:
    """F statistic + dof from an :func:`anova_cells` table —
    identical whether the cells came from one batch pass or a
    streaming state snapshot (the between-group fold stays pinned
    in level order)."""
    gcols = list(gcols)
    cell = F.struct(
        F.col("__l").cast("string").alias("l"),
        (
            (F.col("__sl") * F.col("__sl")).cast("double")
            / F.col("__nl").cast("double")
        ).alias("t"),
    )
    agg = per_l.select(
        *gcols,
        cell.alias("__cell"),
        "__nl",
        "__sl",
        "__ssl",
    ).groupBy(*gcols).agg(
        F.aggregate(
            F.array_sort(F.collect_list("__cell")),
            F.lit(0.0),
            lambda acc, s: acc + s["t"],
        ).alias("__b"),
        F.count(F.lit(1)).alias("__k"),
        F.sum("__nl").alias("__n"),
        F.sum("__sl").alias("__s"),
        F.sum("__ssl").alias("__ss"),
    )
    n = F.col("__n").cast("double")
    k = F.col("__k").cast("double")
    s = F.col("__s").cast("double")
    ss = F.col("__ss").cast("double")
    b = F.col("__b")
    ssb = b - (s * s) / n
    ssw = ss - b
    f_stat = (ssb / (k - F.lit(1.0))) / (ssw / (n - k))
    nan = F.lit(float("nan"))
    bad = (
        (F.col("__k") < 2)
        | (F.col("__n") <= F.col("__k"))
        | (ssw == 0.0)
    )
    return agg.select(
        *gcols,
        F.when(bad, nan).otherwise(f_stat).alias("f_stat"),
        (F.col("__k") - 1).cast("long").alias("df_between"),
        (F.col("__n") - F.col("__k")).cast("long").alias("df_within"),
    )


def mean_z_test(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    index_col: str,
    pop_var_0: float,
    pop_var_1: float,
    scale: int = 1000,
) -> DataFrame:
    """ClickHouse ``meanZTest(pop_var_x, pop_var_y, conf)(v, i)``
    STATISTIC per group: ``z = (m0 - m1) / sqrt(var0/n0 + var1/n1)``
    with KNOWN population variances (given in RAW value units — the
    quantized mean difference is descaled once, so callers pass the
    variances they know). Returns ``(*group_cols, z_stat)``;
    p-value and confidence bounds are not emitted (erf policy, see
    :func:`two_sample_tests`).

    Shares :func:`two_sample_base` / :func:`two_sample_moment_aggs`
    verbatim — exact DECIMAL sums, one fixed IEEE tree, nan for an
    empty sample or non-positive variance term."""
    if pop_var_0 < 0 or pop_var_1 < 0:
        raise ValueError("population variances must be >= 0")
    gcols = list(group_cols)
    base = two_sample_base(df, gcols, value_col, index_col, scale)
    mom = base.groupBy(*gcols).agg(*two_sample_moment_aggs())
    n0 = F.col("__n0").cast("double")
    n1 = F.col("__n1").cast("double")
    m0 = F.col("__s0").cast("double") / n0
    m1 = F.col("__s1").cast("double") / n1
    se = (
        F.lit(float(pop_var_0)) / n0 + F.lit(float(pop_var_1)) / n1
    )
    z = ((m0 - m1) / F.lit(float(scale))) / F.sqrt(se)
    nan = F.lit(float("nan"))
    bad = (
        (F.col("__n0") == 0)
        | (F.col("__n1") == 0)
        | (se <= 0.0)
    )
    return mom.select(
        *gcols, F.when(bad, nan).otherwise(z).alias("z_stat")
    )


def simple_linear_regression(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
    x_scale: int = 1,
    y_scale: int = 1000,
) -> DataFrame:
    """ClickHouse ``simpleLinearRegression(x, y)`` per group: ordinary
    least squares, returning slope ``k = (n*Sxy - Sx*Sy) /
    (n*Sxx - Sx^2)`` and intercept ``b = (Sy - k*Sx)/n``. Returns
    ``(*group_cols, k, b)`` — in the QUANTIZED coordinate system
    (x*x_scale, y*y_scale); the defaults keep x raw (epoch seconds
    are already integral) and y in the round(v*1000) grid every other
    exact aggregate here uses, so ``k`` is scaled by
    ``y_scale/x_scale`` and ``b`` by ``y_scale`` — callers divide
    once, the documented trade for a hash-gateable result (CH's own
    double accumulators are block-order dependent).

    The four sums accumulate EXACTLY in DECIMAL(38,0) (one JVM
    partial-agg shuffle, partition-order independent); the finals are
    one fixed IEEE tree. A group with zero x-variance returns nan for
    both (vertical line), not an ANSI 0/0 error. NULL/NaN pairs are
    skipped."""
    gcols = list(group_cols)
    x, y = F.col(x_col), F.col(y_col)
    base = df.filter(
        x.isNotNull() & ~F.isnan(x.cast("double"))
        & y.isNotNull() & ~F.isnan(y.cast("double"))
    )
    qx = (
        F.round(x.cast("double") * x_scale)
        .cast("long")
        .cast("decimal(38,0)")
    )
    qy = (
        F.round(y.cast("double") * y_scale)
        .cast("long")
        .cast("decimal(38,0)")
    )
    agg = base.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(qx).alias("__sx"),
        F.sum(qy).alias("__sy"),
        F.sum(qx * qx).alias("__sxx"),
        F.sum(qx * qy).alias("__sxy"),
    )
    n = F.col("__n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxx = F.col("__sxx").cast("double")
    sxy = F.col("__sxy").cast("double")
    vx = n * sxx - sx * sx
    k = (n * sxy - sx * sy) / vx
    nan = F.lit(float("nan"))
    return agg.select(
        *gcols,
        F.when(vx == 0.0, nan).otherwise(k).alias("k"),
        F.when(vx == 0.0, nan)
        .otherwise((sy - k * sx) / n)
        .alias("b"),
    )


def entropy_agg(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
) -> DataFrame:
    """ClickHouse ``entropy(x)`` per group: Shannon entropy of the
    value distribution, ``-sum (c_v/n) log2(c_v/n)`` over the
    distinct-value counts (CH uses log2). Returns
    ``(*group_cols, entropy)``.

    Counts are exact integers (one partial-agg shuffle to the
    distinct-value table — bounded by cardinality, not rows); each
    term is one fixed IEEE expression quantized to DECIMAL(28,12)
    before the order-free exact sum (the :func:`theils_u` /
    lm_perplexity convention), so the result is a pure function of
    the data under any partitioning. Gate-side callers round (the
    oracle rounds to 6) — the transcendental itself is never
    hash-gated raw. NULL values are skipped like the CH aggregate."""
    gcols = list(group_cols)
    return entropy_finals(
        entropy_cells(df, gcols, value_col), gcols
    )


def entropy_cells(
    df: DataFrame, gcols: Sequence[str], value_col: str
) -> DataFrame:
    """The exact distinct-value count table ``(*gcols, __v, __c)`` —
    the mergeable summary shared by :func:`entropy_agg` and the
    streaming twin (:mod:`..streaming.entropy`)."""
    v = F.col(value_col)
    return (
        df.filter(v.isNotNull())
        .groupBy(*gcols, v.alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )


def entropy_finals(
    per_v: DataFrame, gcols: Sequence[str]
) -> DataFrame:
    """Shannon entropy from an :func:`entropy_cells` table —
    identical whether the cells came from one batch pass or a
    streaming state snapshot.

    r13 (guide §2.4): the per-group total used to be a
    ``Window.partitionBy(gcols)`` sum, which plans a per-partition
    SORT of the whole cell table — and unlike the bounded
    contingency/theils domains, the value domain here is unbounded,
    so the sort grows with distinct values at 100 TB. The total is
    one row per group, so it is now a second aggregate joined back
    (null-safe on the group key — a NULL group is its own group).
    The join is not force-broadcast: the group key's cardinality is
    the caller's, so AQE picks broadcast from the measured size. Only
    the no-group total, exactly one row, is broadcast.
    ``p``, the per-term quantization and the exact sum are the same
    expressions over the same doubles — bit-identical results, zero
    Windows/Sorts in the plan."""
    gcols = list(gcols)
    totals = per_v.groupBy(*gcols).agg(F.sum("__c").alias("__n"))
    if gcols:
        t = totals
        for i, c in enumerate(gcols):
            t = t.withColumnRenamed(c, f"__g{i}")
        cond = None
        for i, c in enumerate(gcols):
            e = per_v[c].eqNullSafe(F.col(f"__g{i}"))
            cond = e if cond is None else (cond & e)
        cells = per_v.join(t, cond).drop(
            *[f"__g{i}" for i in range(len(gcols))]
        )
    else:
        cells = per_v.crossJoin(F.broadcast(totals))
    p = F.col("__c").cast("double") / F.col("__n").cast("double")
    term = (-(p * F.log2(p))).cast("decimal(28,12)")
    agg = (
        cells.select(*gcols, term.alias("__t"))
        .groupBy(*gcols)
        .agg(F.sum("__t").alias("__h"))
    )
    return agg.select(
        *gcols, F.col("__h").cast("double").alias("entropy")
    )


def categorical_information_value(
    df: DataFrame,
    group_cols: Sequence[str],
    category_cols: Sequence[str],
    tag_col: str,
) -> DataFrame:
    """ClickHouse ``categoricalInformationValue(cat1, ..., catN,
    tag)`` per group: for each 0/1 category indicator, the weight-of-
    evidence term ``(P(cat|tag=1) - P(cat|tag=0)) *
    ln(P(cat|tag=1) / P(cat|tag=0))`` — the CH-documented formula
    over the four exact counts (category hits among events /
    non-events, total events / non-events). Returns one row per
    group with ``iv_<cat>`` columns (CH returns the same values as
    an array, one slot per category argument).

    Counts are exact (one partial-agg pass, every indicator counted
    in the same groupBy); each IV is one fixed IEEE tree. A category
    with zero hits on either side (or a group missing a tag class)
    returns nan — ln(0) forms don't exist, and nan is deterministic
    where CH's ±inf propagation is library-version dependent.
    NULL tags are skipped; NULL indicators count as 0."""
    gcols = list(group_cols)
    cats = list(category_cols)
    tag = F.col(tag_col).cast("int")
    base = df.filter(tag.isin(0, 1)).select(
        *gcols,
        tag.alias("__tag"),
        *[
            F.when(F.col(c).cast("int") == 1, F.lit(1))
            .otherwise(F.lit(0))
            .alias(f"__c{i}")
            for i, c in enumerate(cats)
        ],
    )
    aggs = [
        F.sum(F.col("__tag")).alias("__ev"),
        F.sum(F.lit(1) - F.col("__tag")).alias("__no"),
    ]
    for i in range(len(cats)):
        aggs += [
            F.sum(F.col(f"__c{i}") * F.col("__tag")).alias(f"__e{i}"),
            F.sum(
                F.col(f"__c{i}") * (F.lit(1) - F.col("__tag"))
            ).alias(f"__x{i}"),
        ]
    agg = base.groupBy(*gcols).agg(*aggs)
    ev = F.col("__ev").cast("double")
    no = F.col("__no").cast("double")
    nan = F.lit(float("nan"))
    out = []
    for i, c in enumerate(cats):
        e = F.col(f"__e{i}").cast("double")
        x = F.col(f"__x{i}").cast("double")
        pe = e / ev
        px = x / no
        iv = (pe - px) * F.log(pe / px)
        out.append(
            F.when(
                (F.col("__ev") == 0)
                | (F.col("__no") == 0)
                | (F.col(f"__e{i}") == 0)
                | (F.col(f"__x{i}") == 0),
                nan,
            )
            .otherwise(iv)
            .alias(f"iv_{c}")
        )
    return agg.select(*gcols, *out)


def _with_group_tmax(base: DataFrame, gcols: Sequence[str]) -> DataFrame:
    """Attach the per-group maximum time as ``__tmax`` via a tiny
    aggregate + join-back instead of an unordered window. The window
    form materializes every group's rows in one task's window buffer
    — 2.0x at 10x data in the r10 spot-check — while this shape keeps
    the big side in streaming partial aggregation and joins back one
    row per group (1.4x at 10x, and faster at 1x). No broadcast hint:
    the maxima table is bounded by GROUP cardinality, so AQE decides
    (the group_array_intersect r10 precedent). Downstream arithmetic
    is unchanged — same t_max, same quantized terms, same order-free
    decimal sums — so results stay bit-identical (extra-registry
    oracles re-verify).

    The join key is ONE ``struct(*gcols)`` column (``__gkey``), which
    buys two things at once (r11 ADVICE fix): (1) NULL-SAFETY —
    struct equality compares NULL fields as equal, so NULL group keys
    survive the join-back exactly as the window form (own partition)
    and ClickHouse GROUP BY (own group) keep them, where a plain
    name-equality join silently dropped them; (2) CO-PARTITIONING —
    the join's hashpartitioning(__gkey) is the same distribution the
    callers' downstream ``groupBy("__gkey")`` needs, so the whole
    family stays at two bounded Exchanges (an ``eqNullSafe``
    condition-join would rewrite the keys to coalesce/isnull pairs
    and double the big-side shuffles to four). Callers group by
    ``__gkey`` and unpack via :func:`_gkey_select`. Pinned by the
    NULL-group-key parity test + the fused plan-shape test."""
    key = F.struct(*[F.col(c) for c in gcols]) if gcols else F.lit(0)
    keyed = base.select(key.alias("__gkey"), "__v", "__t")
    tmax = keyed.groupBy("__gkey").agg(F.max("__t").alias("__tmax"))
    return keyed.join(tmax, ["__gkey"])


def _gkey_select(gcols: Sequence[str]) -> list:
    """Unpack the :func:`_with_group_tmax` struct key back into the
    caller's named group columns for the final select."""
    return [F.col("__gkey").getField(c).alias(c) for c in gcols]


def _ns_join(
    a: DataFrame, b: DataFrame, cols: Sequence[str], how: str = "inner"
) -> DataFrame:
    """NULL-SAFE equi-join on ``cols`` keeping one copy of the keys
    (r11): ClickHouse GROUP BY keeps NULL keys as their own group, so
    any join reassembling per-group pieces must match NULL = NULL —
    a name-equality join silently drops those groups (the decayed-
    family ADVICE class). Used where per-group result fragments are
    tiny (AQE broadcasts them); big-side joins use the struct-key
    shape instead (:func:`_with_group_tmax`) to keep co-partitioning."""
    bb = b
    for c in cols:
        bb = bb.withColumnRenamed(c, f"__nsj_{c}")
    cond = None
    for c in cols:
        eq = a[c].eqNullSafe(bb[f"__nsj_{c}"])
        cond = eq if cond is None else cond & eq
    joined = a.join(bb, cond, how) if cond is not None else a.crossJoin(bb)
    return joined.drop(*[f"__nsj_{c}" for c in cols])


def exponential_moving_average(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    time_col: str,
    half_decay: float,
) -> DataFrame:
    """ClickHouse ``exponentialMovingAverage(x)(value, time)`` per
    group: each value weighs in at ``2^(-(t_max - t_i)/x)`` relative
    to the LATEST point, and the decayed sum is normalized by the
    unit-step geometric series ``1/(1 - 2^(-1/x))`` — exactly CH's
    ExponentiallySmoothedAverage state (decay to the max time seen,
    divide by sumWeights). Returns ``(*group_cols, ema)``.

    CH's own fold is IEEE-order dependent (block order changes the
    last ulp); this twin is ORDER-FREE instead of order-pinned: each
    term ``v_i * 2^(-dt/x)`` is one fixed IEEE expression quantized
    to DECIMAL(28,12) before an exact decimal sum (the lm_perplexity
    convention), so any partitioning gives the identical result and
    an oracle replays it without a recursive fold. Exponents are
    ``<= 0`` — anchoring at t_max means no overflow at any time
    range, and a weight underflowing the quantization contributes an
    honest 0. NULL/NaN values and NULL times are skipped.

    Plan: t_max via :func:`_with_group_tmax` (tiny per-group
    aggregate joined back — no window buffer), then one partial-agg
    Exchange. Reference: the CH aggregate is the query-side contract
    (carbon-clickhouse delegates querying to CH, README
    'graphite-clickhouse')."""
    if half_decay <= 0:
        raise ValueError("half_decay must be positive")
    gcols = list(group_cols)
    v = F.col(value_col).cast("double")
    t = F.col(time_col).cast("double")
    base = _with_group_tmax(
        df.filter(
            F.col(value_col).isNotNull() & ~F.isnan(v) & t.isNotNull()
        ).select(*gcols, v.alias("__v"), t.alias("__t")),
        gcols,
    )
    tmax = F.col("__tmax")
    weight = F.pow(
        F.lit(2.0), (F.col("__t") - tmax) / F.lit(float(half_decay))
    )
    term = (F.col("__v") * weight).cast("decimal(28,12)")
    agg = (
        base.select("__gkey", term.alias("__term"))
        .groupBy("__gkey")
        .agg(F.sum("__term").alias("__sum"))
    )
    norm = 1.0 - 2.0 ** (-1.0 / float(half_decay))
    return agg.select(
        *_gkey_select(gcols),
        (F.col("__sum").cast("double") * F.lit(norm)).alias("ema"),
    )


def exponential_time_decayed_avg(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    time_col: str,
    decay: float,
) -> DataFrame:
    """ClickHouse ``exponentialTimeDecayedAvg(x)(v, t)`` evaluated at
    the group's LATEST point: ``sum(v_i * e^(-(t_max - t_i)/x)) /
    sum(e^(-(t_max - t_i)/x))`` — the aggregate form of CH's window
    function at its final frame (the table-side number a dashboard
    wants; the per-row running series belongs to the render facade's
    exponentialMovingAverage, query/render.py). Returns
    ``(*group_cols, decayed_avg)``.

    Same determinism contract as :func:`exponential_moving_average`:
    numerator and denominator terms each quantize to DECIMAL(28,12)
    before exact sums, exponents anchored at t_max so they never
    overflow, one IEEE division at the end. A group whose weights all
    underflow the quantization returns nan (0/0 guarded), not an
    ANSI error. Plan: t_max from a tiny per-group aggregate joined
    back (no window buffer — see :func:`_with_group_tmax`), then one
    partial-agg Exchange."""
    if decay <= 0:
        raise ValueError("decay must be positive")
    gcols = list(group_cols)
    v = F.col(value_col).cast("double")
    t = F.col(time_col).cast("double")
    base = _with_group_tmax(
        df.filter(
            F.col(value_col).isNotNull() & ~F.isnan(v) & t.isNotNull()
        ).select(*gcols, v.alias("__v"), t.alias("__t")),
        gcols,
    )
    tmax = F.col("__tmax")
    weight = F.exp((F.col("__t") - tmax) / F.lit(float(decay)))
    num_t = (F.col("__v") * weight).cast("decimal(28,12)")
    den_t = weight.cast("decimal(28,12)")
    agg = (
        base.select(
            "__gkey", num_t.alias("__num"), den_t.alias("__den")
        )
        .groupBy("__gkey")
        .agg(F.sum("__num").alias("__n"), F.sum("__den").alias("__d"))
    )
    den = F.col("__d").cast("double")
    nan = F.lit(float("nan"))
    return agg.select(
        *_gkey_select(gcols),
        F.when(den == 0.0, nan)
        .otherwise(F.col("__n").cast("double") / den)
        .alias("decayed_avg"),
    )


def exponential_smoothing(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    time_col: str,
    half_decay: float,
    decay: float,
) -> DataFrame:
    """Fused :func:`exponential_moving_average` +
    :func:`exponential_time_decayed_avg` in ONE pass: both
    aggregates share the :func:`_with_group_tmax` anchor and the
    final partial-agg Exchange, so computing them together costs one
    big-side pass instead of two — the plan a dashboard query wants.
    Returns
    ``(*group_cols, ema, decayed_avg)``; term-level semantics are
    IDENTICAL to the two single operators (same quantized terms,
    same finals), pinned by a unit test."""
    if half_decay <= 0 or decay <= 0:
        raise ValueError("decay parameters must be positive")
    gcols = list(group_cols)
    v = F.col(value_col).cast("double")
    t = F.col(time_col).cast("double")
    base = _with_group_tmax(
        df.filter(
            F.col(value_col).isNotNull() & ~F.isnan(v) & t.isNotNull()
        ).select(*gcols, v.alias("__v"), t.alias("__t")),
        gcols,
    )
    tmax = F.col("__tmax")
    w_ema = F.pow(
        F.lit(2.0), (F.col("__t") - tmax) / F.lit(float(half_decay))
    )
    w_avg = F.exp((F.col("__t") - tmax) / F.lit(float(decay)))
    agg = (
        base.select(
            "__gkey",
            (F.col("__v") * w_ema).cast("decimal(28,12)").alias("__e"),
            (F.col("__v") * w_avg).cast("decimal(28,12)").alias("__n"),
            w_avg.cast("decimal(28,12)").alias("__d"),
        )
        .groupBy("__gkey")
        .agg(
            F.sum("__e").alias("__es"),
            F.sum("__n").alias("__ns"),
            F.sum("__d").alias("__ds"),
        )
    )
    norm = 1.0 - 2.0 ** (-1.0 / float(half_decay))
    den = F.col("__ds").cast("double")
    nan = F.lit(float("nan"))
    return agg.select(
        *_gkey_select(gcols),
        (F.col("__es").cast("double") * F.lit(norm)).alias("ema"),
        F.when(den == 0.0, nan)
        .otherwise(F.col("__ns").cast("double") / den)
        .alias("decayed_avg"),
    )


def exponential_time_decayed(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    time_col: str,
    decay: float,
) -> DataFrame:
    """The rest of ClickHouse's ``exponentialTimeDecayed*`` family at
    the group's latest point: ``Sum`` (decayed value sum), ``Count``
    (decayed row count — the weight sum), ``Max`` (max decayed
    value), alongside the ``Avg`` :func:`exponential_time_decayed_avg`
    ships separately. Returns ``(*group_cols, decayed_sum,
    decayed_count, decayed_max)``.

    Same determinism contract as the avg: weights anchored at t_max
    (exponents <= 0, never overflow), every term one fixed IEEE
    expression quantized to DECIMAL(28,12) — sums become order-free
    exact decimal folds, and the max picks among quantized terms so
    both engines agree even when two raw terms differ in the last
    ulp. Plan: t_max via :func:`_with_group_tmax` (tiny aggregate
    joined back, no window buffer), then one partial-agg Exchange.

    STREAMING ANCHOR CONTRACT (pinned, r9 verdict #4): this family
    has NO incremental streaming twin by design. The decayed terms
    are anchored to the group's GLOBAL t_max; a later batch raising
    t_max retroactively rescales every previously accumulated term
    by ``e^((old_max - new_max)/x)``, and applying that correction to
    the stored DECIMAL(28,12) sums would compound quantization error
    batch by batch — the stored state would no longer equal the batch
    operator on the same data. The supported streaming form is
    SNAPSHOT-RECOMPUTE: run this batch operator over the data seen so
    far — EXECUTABLE as :func:`..streaming.snapshot.snapshot_stream`
    (foreachBatch lands each micro-batch in an idempotent per-batch
    parquet directory and recomputes over the accumulation); each
    snapshot is then bit-identical to a batch run at that moment by
    construction, pinned by tests/test_streaming_snapshot.py.
    Contrast streaming_corr_matrix / streaming_stat_moments, whose
    power sums are anchor-free and fold incrementally."""
    if decay <= 0:
        raise ValueError("decay must be positive")
    gcols = list(group_cols)
    v = F.col(value_col).cast("double")
    t = F.col(time_col).cast("double")
    base = _with_group_tmax(
        df.filter(
            F.col(value_col).isNotNull() & ~F.isnan(v) & t.isNotNull()
        ).select(*gcols, v.alias("__v"), t.alias("__t")),
        gcols,
    )
    tmax = F.col("__tmax")
    weight = F.exp((F.col("__t") - tmax) / F.lit(float(decay)))
    vterm = (F.col("__v") * weight).cast("decimal(28,12)")
    wterm = weight.cast("decimal(28,12)")
    agg = (
        base.select(
            "__gkey", vterm.alias("__vt"), wterm.alias("__wt")
        )
        .groupBy("__gkey")
        .agg(
            F.sum("__vt").alias("__s"),
            F.sum("__wt").alias("__c"),
            F.max("__vt").alias("__m"),
        )
    )
    return agg.select(
        *_gkey_select(gcols),
        F.col("__s").cast("double").alias("decayed_sum"),
        F.col("__c").cast("double").alias("decayed_count"),
        F.col("__m").cast("double").alias("decayed_max"),
    )


def group_bit_ops(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
) -> DataFrame:
    """ClickHouse ``groupBitAnd`` / ``groupBitOr`` / ``groupBitXor``
    per group — Spark's native bitwise aggregates, included for
    inventory completeness (bit-exact by definition, NULLs skipped
    on both engines). Returns ``(*group_cols, bit_and, bit_or,
    bit_xor)``; one partial-agg pass."""
    v = F.col(value_col).cast("long")
    return df.filter(v.isNotNull()).groupBy(*group_cols).agg(
        F.bit_and(v).alias("bit_and"),
        F.bit_or(v).alias("bit_or"),
        F.bit_xor(v).alias("bit_xor"),
    )


def variance_family(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    y_col: str | None = None,
    scale: int = 1000,
) -> DataFrame:
    """ClickHouse ``varPop`` / ``varSamp`` / ``stddevPop`` /
    ``stddevSamp`` (+ ``covarSamp`` given ``y_col``) per group with
    ENGINE-EXACT accumulation — the :func:`stat_moments` conventions
    (half-up ``round(v*scale)`` quantization, DECIMAL(38,0) power
    sums, one fixed IEEE finishing tree), so results are in the
    quantized grid (variance scales by scale^2). Returns
    ``(*group_cols, var_pop, var_samp, stddev_pop, stddev_samp
    [, covar_samp])``. n < 2 makes the sample forms nan (0/0),
    never an ANSI error."""
    gcols = list(group_cols)
    base = df.filter(
        F.col(value_col).isNotNull() & ~F.isnan(F.col(value_col))
    )
    if y_col is not None:
        # NaN y would ANSI-kill the straight-to-DECIMAL cast below,
        # the same failure class as zero-magnitude embeddings —
        # filter it exactly like value_col (CH skips the pair too)
        yd = F.col(y_col).cast("double")
        base = base.filter(yd.isNotNull() & ~F.isnan(yd))
    q = (
        F.round(F.col(value_col).cast("double") * scale)
        .cast("long")
        .cast("decimal(38,0)")
    )
    aggs = [
        F.count(F.lit(1)).alias("__n"),
        F.sum(q).alias("__s1"),
        F.sum(q * q).alias("__s2"),
    ]
    if y_col is not None:
        y = F.col(y_col).cast("decimal(38,0)")
        aggs += [
            F.sum(y).alias("__sy"),
            F.sum(q * y).alias("__sxy"),
        ]
    agg = base.groupBy(*gcols).agg(*aggs)
    n = F.col("__n").cast("double")
    s1 = F.col("__s1").cast("double")
    s2 = F.col("__s2").cast("double")
    mean = s1 / n
    var_pop = s2 / n - mean * mean
    nan = F.lit(float("nan"))
    var_samp = F.when(F.col("__n") < 2, nan).otherwise(
        (s2 - s1 * s1 / n) / (n - F.lit(1.0))
    )
    out = [
        var_pop.alias("var_pop"),
        var_samp.alias("var_samp"),
        F.sqrt(var_pop).alias("stddev_pop"),
        F.when(F.col("__n") < 2, nan)
        .otherwise(F.sqrt((s2 - s1 * s1 / n) / (n - F.lit(1.0))))
        .alias("stddev_samp"),
    ]
    if y_col is not None:
        sy = F.col("__sy").cast("double")
        sxy = F.col("__sxy").cast("double")
        out.append(
            F.when(F.col("__n") < 2, nan)
            .otherwise((sxy - s1 * sy / n) / (n - F.lit(1.0)))
            .alias("covar_samp")
        )
    return agg.select(*gcols, *out)


def contingency_stats(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """ClickHouse ``cramersV(x, y)`` / ``cramersVBiasCorrected`` /
    ``contingency(x, y)`` per group, engine-exact. Returns
    ``(*group_cols, chi_sq, cramers_v, cramers_v_bc,
    contingency_coef)``.

    The chi-square sum is the order-sensitive piece: cell terms are
    IEEE doubles, so the sum is folded SEQUENTIALLY over the cells in
    ``(x, y)`` order — ``F.aggregate`` over the sorted collected cell
    array here, ``list_reduce`` over the same ordering in the oracle —
    making the result a pure function of the data. Empty cells
    contribute their expected count ``e = r*c/n``; summing those
    directly would mean materializing the full r-x-c grid, but
    ``sum_empty(e) = n - sum_observed(e)``, so each OBSERVED cell
    folds ``(o-e)^2/e - e`` and the group adds ``+ n`` once. Cell
    counts and the r/c/n marginals are exact integers (DECIMAL
    products against the int64 wrap); every division is one fixed
    IEEE tree. Groups with a single row or column value return nan
    for Cramer's V (zero degrees of freedom), not an ANSI error.

    Plan: one partial-agg shuffle to the (group, x, y) cell table —
    the only pass over the data — then marginals as window sums and
    one per-group fold over the collected cells (bounded by the
    CONTINGENCY-TABLE size, not the row count: the same envelope CH's
    own hash-table accumulator has)."""
    gcols = list(group_cols)
    return contingency_finals(
        contingency_cells(df, gcols, x_col, y_col), gcols
    )


def contingency_cells(
    df: DataFrame, gcols: Sequence[str], x_col: str, y_col: str
) -> DataFrame:
    """The exact contingency cell table ``(*gcols, __x, __y, __o)``
    — mergeable counts bounded by the table size, shared by the
    batch operator and :mod:`..streaming.contingency`'s running
    native-agg state (the replay-parity contract needs the NULL
    filter and grouping bit-identical between them)."""
    x, y = F.col(x_col), F.col(y_col)
    return (
        df.filter(x.isNotNull() & y.isNotNull())
        .groupBy(*gcols, x.alias("__x"), y.alias("__y"))
        .agg(F.count(F.lit(1)).alias("__o"))
    )


def contingency_finals(
    cells: DataFrame, gcols: Sequence[str]
) -> DataFrame:
    """chi-square / Cramer's V (plain + bias-corrected) / contingency
    coefficient from a :func:`contingency_cells` table — the pinned
    sequential chi-square fold plus the shared final algebra;
    identical whether the cells came from one batch pass or a
    streaming state snapshot.

    r12 optimization (guide §2.4): the fold already collects every
    cell of the bounded contingency table per group, so the
    marginals, the group total and the distinct-class counts are read
    off that SAME sorted array (O(cells) higher-order folds per cell,
    bounded by the table size the fold already assumes) instead of
    three differently-keyed window passes plus two count_distincts —
    dropping the plan from 4 Exchanges + 3 window sorts + an Expand
    to 2 Exchanges. Cell terms, fold order and the final IEEE trees
    are unchanged expression-for-expression, so results are
    bit-identical (distinct classes are counted on the canonical
    string forms the fold always sorted by — injective for the
    atomic types a contingency dimension can be)."""
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("__x").cast("string").alias("x"),
                F.col("__y").cast("string").alias("y"),
                F.col("__o").alias("o"),
            )
        )
    )
    agg0 = cells.groupBy(*gcols).agg(arr.alias("__cells"))
    cells_a = F.col("__cells")
    zero = F.lit(0).cast("long")
    n_l = F.aggregate(cells_a, zero, lambda a, s: a + s["o"])

    def marg(field, cell):
        # exact integer marginal of the cell's row/column class
        return F.aggregate(
            cells_a,
            zero,
            lambda a2, s2: a2
            + F.when(s2[field] == cell[field], s2["o"]).otherwise(zero),
        )

    def term(cell):
        # identical IEEE tree to the window form: exact DECIMAL
        # product of the integer marginals, one double division
        e = (
            marg("x", cell).cast("decimal(38,0)") * marg("y", cell)
        ).cast("double") / n_l.cast("double")
        o = cell["o"].cast("double")
        return (o - e) * (o - e) / e - e

    agg = agg0.select(
        *gcols,
        F.aggregate(
            cells_a, F.lit(0.0), lambda acc, c: acc + term(c)
        ).alias("__tsum"),
        n_l.alias("__nn"),
        F.size(
            F.array_distinct(F.transform(cells_a, lambda s: s["x"]))
        ).cast("long").alias("__rx"),
        F.size(
            F.array_distinct(F.transform(cells_a, lambda s: s["y"]))
        ).cast("long").alias("__ry"),
    )
    n = F.col("__nn").cast("double")
    rx = F.col("__rx").cast("double")
    ry = F.col("__ry").cast("double")
    chi2 = F.col("__tsum") + n
    nan = F.lit(float("nan"))
    dof = F.least(rx - F.lit(1.0), ry - F.lit(1.0))
    cramers = F.when(dof == 0.0, nan).otherwise(
        F.sqrt(chi2 / (n * dof))
    )
    # Bergsma 2013 bias correction (the formula behind CH's
    # cramersVBiasCorrected): phi2+ = max(0, chi2/n - (r-1)(c-1)/(n-1)),
    # r~ = r - (r-1)^2/(n-1), c~ likewise, V = sqrt(phi2+ / min(r~-1, c~-1))
    phi2c = F.greatest(
        F.lit(0.0),
        chi2 / n
        - ((rx - F.lit(1.0)) * (ry - F.lit(1.0))) / (n - F.lit(1.0)),
    )
    rt = rx - ((rx - F.lit(1.0)) * (rx - F.lit(1.0))) / (n - F.lit(1.0))
    ct = ry - ((ry - F.lit(1.0)) * (ry - F.lit(1.0))) / (n - F.lit(1.0))
    doft = F.least(rt - F.lit(1.0), ct - F.lit(1.0))
    cramers_bc = F.when(
        (n == 1.0) | (doft <= 0.0), nan
    ).otherwise(F.sqrt(phi2c / doft))
    conting = F.sqrt(chi2 / (chi2 + n))
    return agg.select(
        *gcols,
        chi2.alias("chi_sq"),
        cramers.alias("cramers_v"),
        cramers_bc.alias("cramers_v_bc"),
        conting.alias("contingency_coef"),
    )
