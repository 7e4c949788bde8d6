"""Background-merge emulation: periodic compaction jobs.

ClickHouse merges parts in the background, applying
ReplacingMergeTree dedup and GraphiteMergeTree rollup as it goes; the
reference's tables rely on that. Parquet has no background process, so
the engine offers the read-time views (``dedup.replacing_latest``,
``rollup.rollup``) plus these explicit compaction jobs — run them on a
schedule and the read views become no-ops over already-merged data.

At 100 TB: compact per month-partition (the write partitioning), so
each run touches one partition's files and rewrites them sorted by
``(path, time)`` — the same incremental unit ClickHouse merges.

Overwrite strategy (object-store-safe): stage the merged data to a
scratch location, then rewrite ONLY the touched month partitions with
Spark's dynamic partition overwrite — the ``replaceWhere`` equivalent
without Delta. No whole-table directory rename (impossible on S3/GCS)
and the table root never disappears; the commit granularity is one
month partition. For a non-partitioned table the final step is a
plain committed overwrite of the table files — readers can see the
swap mid-commit there; at scale, prefer month-partitioned layouts (or
a transactional table format) for anything compacted while being read.
Since every engine table is written by ``layout.write_table``, only
the date-less legacy ``tree`` table is flat; index/tagged are flat only
in roots written by older builds — before round 7, or bulk-loaded by
``pipeline.ingest_and_store``, which wrote them flat until it moved
onto ``write_table`` — and the first append migrates those.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import replacing_latest
from .layout import _fs_and_path
from .rollup import DEFAULT_RULES, rollup


def compact_replacing(
    spark: SparkSession,
    table_path: str,
    keys: list[str],
    months: list[str] | None = None,
    version_col: str = "version",
) -> list[str]:
    """Rewrite an index/tagged table keeping only the max-version row
    per key (A3 applied physically). Returns the months compacted.

    ``months=None`` on a month-partitioned table selects
    INCREMENTALLY: only months with files written since their
    recorded post-rewrite mtime (the ``_replaced_at`` sidecar) —
    replacing-dedup output only changes when new rows land, so an
    untouched month's rewrite would be a no-op. Dedup keys include
    ``date``, and a key's rows always share their month(date)
    partition, so per-month dedup equals global dedup. First run (no
    sidecar) compacts everything; explicit ``months`` pins the
    selection (and skips the sidecar update like the rollup twin)."""
    import json as _json
    import time as _time

    df = spark.read.parquet(table_path)
    if "month" not in df.columns:
        merged = replacing_latest(df, keys, version_col)
        _atomic_overwrite(spark, merged, table_path)
        return []
    explicit = months is not None
    if months is None:
        side = _read_sidecar(table_path, "_replaced_at")
        cur = _month_mtimes(spark, table_path)
        if side is None:
            months = sorted(cur)
        else:
            recorded = side.get("mtimes") or {}
            months = sorted(
                m
                for m, ms in cur.items()
                if m not in recorded or ms > int(recorded[m])
            )
    if months:
        part = df.filter(F.col("month").isin(list(months)))
        merged = replacing_latest(part, keys, version_col)
        # partition-scoped overwrite: untouched months never rewrite
        _atomic_overwrite(
            spark, merged, table_path, month_partitioned=True
        )
    if not explicit:
        side = _read_sidecar(table_path, "_replaced_at")
        mtimes = dict((side or {}).get("mtimes") or {})
        for month, ms in _month_mtimes(spark, table_path).items():
            if month in months or month not in mtimes:
                mtimes[month] = ms
        with open(os.path.join(table_path, "_replaced_at"), "w") as fh:
            _json.dump({"ts": int(_time.time()), "mtimes": mtimes}, fh)
    return list(months)


def compact_rollup(
    spark: SparkSession,
    points_path: str,
    rules=DEFAULT_RULES,
    now: int | None = None,
    months: list[str] | None = None,
) -> list[str]:
    """Downsample aged points per the rollup rules (A4 applied
    physically). Bucket value semantics follow the rules' functions;
    version collapses to 0 in each bucket. Returns the months
    compacted.

    ``months=None`` selects INCREMENTALLY on a month-partitioned
    table: only months that received files since the previous run
    (appends / late points, by filesystem mtime) or whose data newly
    crossed a retention age boundary in the meantime
    (:func:`months_needing_rollup`) — every other partition's rollup
    output is provably identical to last cycle's, so rewriting it
    would be the O(corpus)-per-cycle maintenance job this engine
    refuses elsewhere too (see ``rebuild_rollup_tier``). The first
    run (no ``_rolled_at`` sidecar) compacts everything. Pass an
    explicit list to pin the selection.

    Month-partitioned tables compact one partition at a time and the
    rolled rows KEEP their partition's month (ClickHouse merges never
    move rows between partitions) — re-deriving month from the bucketed
    time would let a boundary bucket escape into a partition this run
    did not select, merging into (and dynamic-overwriting) a month it
    has no business touching."""
    import json as _json
    import time as _time

    df = spark.read.parquet(points_path)
    if "month" not in df.columns:
        rolled = _rolled_points(df, rules, now)
        _atomic_overwrite(spark, rolled, points_path)
        return []
    explicit = months is not None
    if months is None:
        months = months_needing_rollup(
            spark, points_path, rules, now=now
        )
    for month in months:
        part = df.filter(F.col("month") == month)
        out = _rolled_points(part, rules, now).withColumn("month", F.lit(month))
        _atomic_overwrite(spark, out, points_path, month_partitioned=True)
    # sidecar: per-month max file mtime AFTER this run's rewrite (so
    # the rewrite's own files don't re-select the month forever), the
    # run timestamp (for age-boundary sweeps), and the rules
    # fingerprint (a rules change invalidates every month's output).
    # Like the partition overwrite itself, this assumes the compact
    # cycle owns the table while it runs (the CLI/merger contract) —
    # an append racing the overwrite could be clobbered regardless.
    # EXPLICIT months skip the update entirely (like the replacing
    # twin): a partial run must not advance the global age-boundary
    # watermark `ts`/`fp`, or an UNSELECTED month whose points crossed
    # a retention boundary in the meantime falls out of the
    # (last_ts - age, now - age] sweep forever — and a partial run's
    # rewritten mtimes would otherwise mask a concurrent full
    # selection anyway.
    if not explicit:
        prev = _read_rollup_sidecar(points_path)
        mtimes = dict(prev.get("mtimes") or {}) if prev else {}
        for month, ms in _month_mtimes(spark, points_path).items():
            if month in months or month not in mtimes:
                mtimes[month] = ms
        with open(os.path.join(points_path, "_rolled_at"), "w") as fh:
            _json.dump(
                {
                    # the age REFERENCE this run rolled against — the
                    # boundary-sweep check compares the next run's
                    # reference to it, so both must be on the same clock
                    "ts": int(now if now is not None else _time.time()),
                    "fp": _rules_fingerprint(rules),
                    "mtimes": mtimes,
                },
                fh,
            )
    return list(months)


def _rules_fingerprint(rules) -> str:
    import hashlib

    return hashlib.md5(repr(tuple(rules)).encode()).hexdigest()[:16]


def _read_rollup_sidecar(points_path: str) -> dict | None:
    return _read_sidecar(points_path, "_rolled_at")


def _read_sidecar(table_path: str, name: str) -> dict | None:
    import json as _json

    try:
        with open(os.path.join(table_path, name)) as fh:
            d = _json.load(fh)
        return d if isinstance(d, dict) and "ts" in d else None
    except (FileNotFoundError, ValueError):
        return None


def _month_mtimes(spark: SparkSession, points_path: str) -> dict[str, int]:
    """{month: max file modification time (ms)} via the Hadoop FS API
    — storage-portable (mtimes exist on HDFS and object stores)."""
    fs, root = _fs_and_path(spark, points_path)
    out: dict[str, int] = {}
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("month=")):
            continue
        out[name.split("=", 1)[1]] = max(
            (f.getModificationTime() for f in fs.listStatus(st.getPath())),
            default=0,
        )
    return out


def months_needing_rollup(
    spark: SparkSession,
    points_path: str,
    rules=DEFAULT_RULES,
    now: int | None = None,
) -> list[str]:
    """Months whose physical rollup output can differ from the last
    ``compact_rollup`` run: (a) partitions with files written since
    then (mtime > the ``_rolled_at`` sidecar — appends and late
    points), (b) partitions whose timestamp range intersects a
    retention-age boundary sweep ``(last_run - age, now - age]`` for
    any rule age > 0 (points newly old enough for a coarser bucket).
    All months when the sidecar is absent, unreadable, or written by
    a DIFFERENT rule set (fingerprint mismatch — a rules change can
    alter every month's output). The listing runs through the Hadoop
    FileSystem API (modification times exist on HDFS and object
    stores alike), so the selection is storage-portable like the
    overwrite itself."""
    import calendar
    import time as _time

    side = _read_rollup_sidecar(points_path)
    cur = _month_mtimes(spark, points_path)
    all_months = sorted(cur)
    if side is None or side.get("fp") != _rules_fingerprint(rules):
        return all_months
    last_run = int(side["ts"])
    recorded = side.get("mtimes") or {}
    now = int(now if now is not None else _time.time())
    ages = sorted(
        {
            ret.age_s
            for rule in rules
            for ret in rule.retentions
            if ret.age_s > 0
        }
    )
    out = []
    for month in all_months:
        if month not in recorded or cur[month] > int(recorded[month]):
            out.append(month)  # new files since the recorded rewrite
            continue
        y, m = int(month[:4]), int(month[4:6])
        m_start = calendar.timegm((y, m, 1, 0, 0, 0))
        m_end = calendar.timegm(
            (y + (m == 12), m % 12 + 1, 1, 0, 0, 0)
        )
        for a in ages:
            # timestamps newly crossing `a` since the last run:
            # t in (lo, hi] — empty when the clock hasn't advanced
            lo, hi = last_run - a, now - a
            if hi <= lo:
                continue
            if lo < m_end and m_start <= hi:
                out.append(month)
                break
    return out


def _rolled_points(df: DataFrame, rules, now: int | None) -> DataFrame:
    rolled = rollup(df, rules, now=now)
    return rolled.select(
        "path",
        "value",
        "time",
        F.to_date(F.timestamp_seconds("time")).alias("date"),
        F.lit(0).cast("long").alias("version"),
    )


def _hadoop_delete(spark: SparkSession, path: str) -> None:
    """Recursive delete through the Hadoop FileSystem API — works on
    any supported filesystem (local, HDFS, object stores), unlike
    shutil."""
    fs, p = _fs_and_path(spark, path)
    fs.delete(p, True)


class _conf_override:
    """Temporarily set a Spark SQL conf, restoring on exit."""

    def __init__(self, spark: SparkSession, key: str, value: str) -> None:
        self.spark, self.key, self.value = spark, key, value

    def __enter__(self):
        try:
            self.prev = self.spark.conf.get(self.key)
        except Exception:
            self.prev = None
        self.spark.conf.set(self.key, self.value)

    def __exit__(self, *exc):
        if self.prev is None:
            self.spark.conf.unset(self.key)
        else:
            self.spark.conf.set(self.key, self.prev)


def _atomic_overwrite(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    month_partitioned: bool = False,
    derive_month: bool = False,
    dynamic: bool = True,
) -> None:
    """Stage-then-overwrite without directory renames.

    1. write the merged data to a staging dir (Spark forbids
       overwriting a path that feeds the same job, and we must not
       drop the live table before the merge is durable)
    2. month-partitioned tables: dynamic partition overwrite replaces
       ONLY the staged months — untouched history is never rewritten
       or deleted (``replaceWhere`` semantics on plain parquet);
       ``dynamic=False`` keeps the partitioned LAYOUT but replaces the
       whole table (a full rebuild / layout migration)
    3. unpartitioned tables: committed whole-table overwrite (files
       swap at job commit; no rmtree/rename of the root)

    ``derive_month=True`` adds the month column from ``date`` (rollup
    output drops it); otherwise the existing column partitions.
    """
    staging = path.rstrip("/") + "._compacting"
    sort_cols = [c for c in ("path", "time") if c in df.columns]

    def _sorted(w: DataFrame) -> DataFrame:
        # month leads when the write is month-partitioned: the file
        # writer requires ordering by the partition column and would
        # otherwise add its own (unstable) sort on top of ours
        cols = (
            ["month"] + sort_cols
            if month_partitioned and sort_cols
            else sort_cols
        )
        return w.sortWithinPartitions(*cols) if cols else w

    try:
        writer = df
        if month_partitioned:
            if derive_month:
                writer = df.withColumn("month", F.date_format("date", "yyyyMM"))
            (
                _sorted(writer)
                .write.mode("overwrite")
                .partitionBy("month")
                .parquet(staging)
            )
            staged = spark.read.parquet(staging)
            with _conf_override(
                spark,
                "spark.sql.sources.partitionOverwriteMode",
                "dynamic" if dynamic else "static",
            ):
                (
                    _sorted(staged)
                    .write.mode("overwrite")
                    .partitionBy("month")
                    .parquet(path)
                )
        else:
            _sorted(writer).write.mode("overwrite").parquet(staging)
            spark.read.parquet(staging).write.mode("overwrite").parquet(path)
    finally:
        _hadoop_delete(spark, staging)
