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

The rewrite is ``layout.rewrite_table``: the merged rows are staged,
then ONLY the touched month partitions are replaced (dynamic partition
overwrite, the ``replaceWhere`` equivalent without Delta). The table
root never disappears and the commit granularity is one month
partition. A flat table from an older build is rewritten whole, which
moves its rows into ``month=`` partitions, as its first append would;
only the date-less legacy ``tree`` table stays flat, and its rewrite is
a committed whole-table overwrite that readers can see mid-commit.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import read_table
from .dedup import replacing_latest
from .layout import _fs_and_path, rewrite_table
from .rollup import DEFAULT_RULES, rollup


def _open(spark: SparkSession, table_path: str) -> DataFrame | None:
    # the table's declared schema: no inference job per merge cycle
    return read_table(spark, *os.path.split(table_path.rstrip("/")))


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

    df = _open(spark, table_path)
    if df is None:
        return []
    if "month" not in df.columns:
        merged = replacing_latest(df, keys, version_col)
        rewrite_table(merged, table_path, whole=True)
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
        # partition-scoped overwrite: untouched months never rewrite
        rewrite_table(replacing_latest(part, keys, version_col), table_path)
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

    df = _open(spark, points_path)
    if df is None:
        return []
    if "month" not in df.columns:
        rewrite_table(_rolled_points(df, rules, now), points_path, whole=True)
        return []
    explicit = months is not None
    if months is None:
        months = months_needing_rollup(
            spark, points_path, rules, now=now
        )
    for month in months:
        part = df.filter(F.col("month") == month)
        out = _rolled_points(part, rules, now).withColumn("month", F.lit(month))
        rewrite_table(out, points_path)
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
