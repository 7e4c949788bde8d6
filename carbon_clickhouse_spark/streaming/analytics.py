"""Continuous windowed aggregation over the live point stream —
watermarked event-time rollup the reference deployment gets only
after ClickHouse merges parts.

The reference's read path is eventually-consistent on
GraphiteMergeTree merges; this operator computes the same per-
``(path, bucket)`` aggregates AS THE DATA ARRIVES with Structured
Streaming's native windowed aggregation:

- event time = the metric timestamp (not arrival time), so replayed
  or out-of-order chunks land in their true buckets;
- a watermark bounds state: points later than ``late_allowance``
  behind the stream's max event time are dropped from the live agg
  (they still reach the durable points table through the normal K1
  path — this is the dashboard's hot view, not the store);
- append output mode emits a bucket exactly once, when the watermark
  passes its end — downstream readers see only finalized buckets.

Semantics match ``operators.rollup`` for the four GraphiteMergeTree
functions (avg/sum/max/min); the first-match rule selection happens
at read time exactly like the batch path, so one stream serves any
rule set.

Scale shape: one shuffle on (path, window) with partial aggregation
map-side; state per key is one row of four numbers, bounded by
(active series x windows inside the watermark), and the watermark
expires state — a week of 10M series at 1-minute buckets never
accumulates beyond ``late_allowance`` worth of windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def continuous_rollup(
    points: DataFrame,
    precision_s: int = 60,
    late_allowance: str = "10 minutes",
    time_col: str = "time",
) -> DataFrame:
    """Live per-(path, bucket) aggregates from a STREAMING points
    frame (path string, value double, ``time_col`` long epoch
    seconds). Returns a streaming frame
    ``(path, time, avg, sum, max, min, cnt)`` with ``time`` the
    bucket start — feed to ``writeStream`` (append mode)."""
    ts = F.timestamp_seconds(F.col(time_col)).alias("__ts")
    win = F.window("__ts", f"{int(precision_s)} seconds")
    return (
        points.select("path", "value", ts)
        .withWatermark("__ts", late_allowance)
        .groupBy("path", win)
        .agg(
            F.avg("value").alias("avg"),
            F.sum("value").alias("sum"),
            F.max("value").alias("max"),
            F.min("value").alias("min"),
            F.count(F.lit(1)).alias("cnt"),
            F.max_by("value", F.col("__ts")).alias("last"),
        )
        .select(
            "path",
            F.unix_timestamp(F.col("window.start")).alias("time"),
            "avg",
            "sum",
            "max",
            "min",
            "cnt",
            "last",
        )
    )


def serve_rollup_avg(
    finalized: DataFrame,
    raw_points: DataFrame,
    time_from: int,
    time_until: int,
    step: int,
    precision_s: int = 60,
    paths: list[str] | None = None,
) -> DataFrame:
    """Average-consolidated merged read at a coarser ``step`` (a
    multiple of the tier precision) — the serving shape behind the
    render facade's ``maxDataPoints``: history buckets re-aggregate
    EXACTLY (sum-of-sums / sum-of-cnts equals the average of the
    underlying raw points), only raw points past the horizon are
    touched. Output: ``(path, time, value)`` on the ``step`` grid.
    """
    if step % precision_s:
        raise ValueError(
            f"step {step} must be a multiple of tier precision {precision_s}"
        )
    from_aligned = time_from - (time_from % step)
    horizon = rollup_horizon(finalized, precision_s)
    if horizon is None:
        horizon = from_aligned
    # split on the STEP grid: a coarse bucket must come whole from one
    # tier (raw covers the tail fine buckets the tier also has — fine,
    # the values agree)
    horizon = min(max(horizon - (horizon % step), from_aligned), time_until)

    hist = _month_pruned(finalized, from_aligned, horizon)
    hist = hist.filter(
        (F.col("time") >= from_aligned) & (F.col("time") < horizon)
    )
    hot = raw_points.filter(
        (F.col("time") >= horizon) & (F.col("time") < time_until)
    )
    if paths is not None:
        hist = hist.filter(F.col("path").isin(paths))
        hot = hot.filter(F.col("path").isin(paths))
    coarse = (F.col("time") - (F.col("time") % step)).alias("time")
    hist = (
        hist.select("path", coarse, "sum", "cnt")
        .groupBy("path", "time")
        .agg((F.sum("sum") / F.sum("cnt")).alias("value"))
    )
    hot = (
        hot.select("path", coarse, "value")
        .groupBy("path", "time")
        .agg(F.avg("value").alias("value"))
    )
    return hist.unionByName(hot)


def tier_precision(root: str) -> int | None:
    """Bucket width recorded by the launcher beside the tier
    (``rollup_hot/_precision`` — "_"-prefixed, invisible to parquet
    readers). None when the sidecar is absent."""
    return _tier_sidecar_int(root, "_precision")


def _tier_sidecar_int(root: str, name: str) -> int | None:
    import os

    try:
        with open(os.path.join(root, "rollup_hot", name)) as fh:
            return int(fh.read().strip())
    except (FileNotFoundError, ValueError):
        return None


def rebuild_rollup_tier(
    spark,
    root: str,
    precision_s: int | None = None,
    up_to: int | None = None,
    months: list[str] | None = None,
) -> int:
    """Batch refresh of ``<root>/rollup_hot`` from the durable points
    table — the maintenance pass that folds LATE arrivals (points past
    the stream's ``late_allowance``, which reached the store but not
    their already-finalized bucket) back into the serving tier.

    ``precision_s`` defaults to the tier's recorded ``_precision``
    sidecar — a refresh can't silently re-bucket a 300 s tier at 60 s
    because the operator forgot a flag (explicit argument wins).

    **Incremental by month**: the points table is month-partitioned
    and every point carries an arrival-time ``version`` stamp, so a
    refresh only recomputes the months that received points since the
    previous refresh (``version >= `` the ``_refreshed_ver`` sidecar —
    inclusive, so a point whose files land just after a refresh's scan
    but carry the same arrival-second stamp is re-selected next cycle
    rather than silently missed; the cost is that a quiet cycle
    re-verifies the month(s) holding the boundary-version points —
    bounded by one chunk's month spread, and re-rebuilding a month is
    idempotent). All other months' tier rows are carried over
    verbatim; the points scan is partition-pruned to the selected
    months. The tier itself is month-partitioned (the launcher appends
    it through ``layout.write_table``): an incremental refresh
    rewrites ONLY the touched months' partitions
    (``layout.rewrite_table``), leaving untouched months
    byte-identical on disk; a legacy unpartitioned tier moves into
    the partitioned layout on its next append or full rewrite.
    A bucket never straddles a month boundary when
    ``precision_s`` divides 86400 (UTC months start on day
    boundaries); otherwise — or on the first refresh, or when the
    points table lacks the month/version columns — the refresh falls
    back to the full rebuild. ``months`` pins the selection explicitly
    (e.g. the months a compaction cycle touched); an explicit list is
    a targeted repair and does not advance the version watermark.

    Recomputed buckets are strictly below ``up_to`` (default: the
    tier's horizon at call time) with the exact aggregate set the
    stream writes. The commit runs under the same per-table lock the
    streaming ``foreachBatch`` appender takes, and any bucket the
    stream finalized at/after ``up_to`` in the meantime is carried
    over verbatim — the refresh never deletes a bucket it did not
    recompute. Returns the number of recomputed bucket rows. Run it
    BEFORE any physical rollup compaction of the points table in the
    same cycle (``--compact`` does) so the tier aggregates raw points,
    not already-collapsed ones; after a refresh, ``serve_rollup``
    history equals a batch rollup over the store, late points
    included.
    """
    import os

    from ..schemas import read_table
    from ..operators.layout import month_of, rewrite_table, table_lock

    if precision_s is None:
        precision_s = tier_precision(root) or 60
    tier_path = os.path.join(root, "rollup_hot")
    pts = read_table(spark, root, "points")
    if pts is None:
        return 0  # no points stored yet
    explicit_months = months is not None
    trackable = (
        "month" in pts.columns
        and "version" in pts.columns
        and 86400 % int(precision_s) == 0
    )
    refreshed_ver = _tier_sidecar_int(root, "_refreshed_ver")
    new_ver: int | None = None
    if not explicit_months and trackable and refreshed_ver is not None:
        # one bounded job over the fresh slice: the month list (a few
        # short strings) and the next version watermark
        row = (
            pts.filter(F.col("version") >= refreshed_ver)
            .agg(
                F.collect_set("month").alias("ms"),
                F.max("version").alias("mv"),
            )
            .collect()[0]
        )
        if not row["ms"]:
            return 0  # nothing arrived since the last refresh
        # keep the NATIVE-typed values (partition inference may read
        # month= as int) so the isin below partition-prunes exactly
        months, new_ver = sorted(row["ms"]), int(row["mv"])
    elif not explicit_months:
        months = None  # full rebuild (first refresh / untrackable)
        if trackable:
            row = pts.agg(F.max("version").alias("mv")).collect()[0]
            new_ver = None if row["mv"] is None else int(row["mv"])

    if up_to is None:
        t = read_table(spark, root, "rollup_hot")
        up_to = rollup_horizon(t, precision_s) if t is not None else None
    if up_to is None:
        row = pts.agg(F.max("time").alias("m")).collect()[0]
        if row["m"] is None:
            return 0
        up_to = (int(row["m"]) // precision_s) * precision_s + precision_s
    rebuilt = _tier_rebuild_frame(pts, precision_s, up_to, months).persist()
    tier_cols = rebuilt.columns
    try:
        n = rebuilt.count()  # materialize once; the write reuses it
        with table_lock(tier_path):
            t = read_table(spark, root, "rollup_hot")
            if t is not None and months is not None and "month" in t.columns:
                # incremental refresh of a month-partitioned tier:
                # dynamic partition overwrite replaces ONLY the
                # touched months' partitions — untouched months stay
                # byte-identical ON DISK, not merely value-identical.
                # Carried over within the touched months: buckets the
                # stream finalized past our snapshot (appends hold the
                # same lock, so nothing lands mid-overwrite).
                carry = t.filter(
                    (F.col("time") >= up_to) & F.col("month").isin(months)
                ).select(*tier_cols)
                rewrite_table(rebuilt.unionByName(carry), tier_path)
            else:
                # full rebuild (or a legacy unpartitioned tier being
                # migrated): carried over verbatim as rows — buckets
                # past up_to and, on an incremental run, every bucket
                # of an untouched month — then the WHOLE tier is
                # rewritten in the month-partitioned layout
                out = rebuilt
                if t is not None:
                    old = t.select(*tier_cols)
                    keep = F.col("time") >= up_to
                    if months is not None:
                        # string-typed list: the month rule yields
                        # strings even when the partition column read
                        # back as int
                        keep = keep | ~month_of(old).isin(
                            [str(m) for m in months]
                        )
                    out = rebuilt.unionByName(old.filter(keep))
                rewrite_table(out, tier_path, whole=True)
            # the overwrite clears the directory: restore the
            # precision sidecar (and advance the version watermark)
            # for the next maintenance cycle
            with open(os.path.join(tier_path, "_precision"), "w") as fh:
                fh.write(str(int(precision_s)))
            if new_ver is not None:
                with open(
                    os.path.join(tier_path, "_refreshed_ver"), "w"
                ) as fh:
                    fh.write(str(new_ver))
            elif explicit_months and refreshed_ver is not None:
                # targeted repair: keep the existing watermark
                with open(
                    os.path.join(tier_path, "_refreshed_ver"), "w"
                ) as fh:
                    fh.write(str(refreshed_ver))
    finally:
        rebuilt.unpersist()
    return n


def _month_pruned(tier: DataFrame, t0: int, t1: int) -> DataFrame:
    """Partition-prune a month-partitioned tier read to the request
    window (no-op for legacy unpartitioned tiers). Spark can't derive
    the month partitions from an epoch-time predicate, so enumerate
    them — same move as query/finder.read_series on the points table.
    """
    if "month" not in tier.columns or t1 <= t0:
        return tier
    from ..query.finder import _months_between

    months = _months_between(t0, t1)
    if months is None:
        return tier
    return tier.filter(F.col("month").isin(months))


def _tier_rebuild_frame(
    pts: DataFrame,
    precision_s: int,
    up_to: int,
    months: list | None,
) -> DataFrame:
    """The tier recompute aggregation: per-(path, bucket) stream
    aggregate set over the points below ``up_to``, scan pruned to the
    selected month partitions (``months=None`` = all)."""
    src = pts
    if months is not None:
        # partition-pruned: only the touched months' files are read
        src = pts.filter(F.col("month").isin(months))
    bucket = (F.col("time") - (F.col("time") % precision_s)).alias("time")
    return (
        src.filter(F.col("time") < up_to)
        .select("path", bucket, F.col("time").alias("__t"), "value")
        .groupBy("path", "time")
        .agg(
            F.avg("value").alias("avg"),
            F.sum("value").alias("sum"),
            F.max("value").alias("max"),
            F.min("value").alias("min"),
            F.count(F.lit(1)).alias("cnt"),
            F.max_by("value", F.col("__t")).alias("last"),
        )
    )


def rollup_horizon(finalized: DataFrame, precision_s: int = 60) -> int | None:
    """First bucket start NOT yet finalized: append mode emits a
    window only once the watermark passes its end, and emission is
    monotone in window end — so every bucket strictly below
    ``max(time) + precision`` is present if its series had points.
    None when nothing has finalized yet.

    On a month-partitioned tier the max bucket time lives in the max
    month partition (bucket time determines the month), so the scan
    prunes to that single partition — the partition value itself comes
    from directory names, not data pages."""
    t = finalized
    if "month" in t.columns:
        m = t.agg(F.max("month").alias("m")).collect()[0]["m"]
        if m is None:
            return None
        t = t.filter(F.col("month") == m)
    row = t.agg(F.max("time").alias("m")).collect()[0]
    return None if row["m"] is None else int(row["m"]) + int(precision_s)


def serve_rollup(
    finalized: DataFrame,
    raw_points: DataFrame,
    time_from: int,
    time_until: int,
    rules=None,
    precision_s: int = 60,
    paths: list[str] | None = None,
    exact_decimal: bool = False,
    round_avg_to: int | None = None,
) -> DataFrame:
    """Merged history+hot read over the continuous-rollup tier — the
    serving path the reference deployment gets from GraphiteMergeTree
    merged parts + fresh parts in one SELECT.

    Buckets below the finalized horizon are answered from the
    ``finalized`` table (a column pick per the first-match rollup
    rule: zero recomputation, the 100 TB win — history reads touch
    pre-aggregated rows, not raw points); buckets at/after the
    horizon aggregate the durable raw points table on the fly with
    the SAME batch :func:`..operators.rollup.rollup` semantics, so for
    a bucket-aligned ``time_from`` the merged result equals a full
    batch rollup over identical data. An unaligned ``time_from``
    serves the leading bucket WHOLE from history (finalized buckets
    are indivisible — a batch rollup over points clipped mid-bucket
    would emit a partial leading bucket instead). Output:
    ``(path, time, value)``, ``time`` bucket-aligned.

    Caveats inherited from the hot view: a point arriving later than
    the stream's ``late_allowance`` reaches the durable store but not
    its already-finalized bucket, so history reads through this path
    exclude it until a batch re-rollup/compaction refreshes the tier
    — by design (see module docstring), but a consistency difference
    vs reading raw points.
    """
    from ..operators.rollup import DEFAULT_RULES, rollup, rule_function_col

    rules = rules or DEFAULT_RULES
    # the whole read runs on the bucket grid: align time_from down so
    # the leading bucket's points (finalized into an indivisible
    # bucket) can't vanish from both tiers, and split hist/hot at a
    # grid point so the tiers never overlap
    from_aligned = time_from - (time_from % precision_s)
    horizon = rollup_horizon(finalized, precision_s)
    if horizon is None:
        horizon = from_aligned  # nothing finalized: serve all from raw
    horizon = min(max(horizon, from_aligned), time_until)

    hist = _month_pruned(finalized, from_aligned, horizon)
    hist = hist.filter(
        (F.col("time") >= from_aligned) & (F.col("time") < horizon)
    )
    hot = raw_points.filter(
        (F.col("time") >= horizon) & (F.col("time") < time_until)
    )
    if paths is not None:
        hist = hist.filter(F.col("path").isin(paths))
        hot = hot.filter(F.col("path").isin(paths))

    fn = rule_function_col(F.col("path"), rules)
    value = (
        F.when(fn == F.lit("sum"), F.col("sum"))
        .when(fn == F.lit("min"), F.col("min"))
        .when(fn == F.lit("max"), F.col("max"))
        .when(fn == F.lit("last"), F.col("last"))
        .otherwise(F.col("avg"))
    )
    hist = hist.select("path", "time", value.alias("value"))
    # exact_decimal/round_avg_to apply to the freshly-aggregated hot
    # tier; hist values are STORED (computed once by the stream), so
    # they are already partition-order independent by construction
    hot = rollup(
        hot, rules, precision_s=precision_s,
        exact_decimal=exact_decimal, round_avg_to=round_avg_to,
    )
    return hist.unionByName(hot)
