"""The engine's one table writer: appends, staged rewrites, layout
probing and the one-time flat->partitioned migration.

The reference's uploaders write into tables declared ``PARTITION BY
toYYYYMM(Date)`` (README index DDL); the engine mirrors that as
``month=`` parquet partitions. This module is the only code that knows
the stored layout — the month rule (:func:`month_of`), the ``month=``
partitioning, the ``(path, time)`` sort, the flat-layout guard and the
staged overwrite:

* :func:`write_table` appends (or plainly overwrites) one table. Every
  engine table goes through it: points, points_reverse, index, tagged,
  the legacy series tables, the continuous-rollup tier and the
  dropped-line audit, from the batch writer, the bulk loader, the
  streaming micro-batch and the self-metrics collector alike.
* :func:`rewrite_table` replaces a table's content with a merged frame
  — the background-merge rewrites of compaction and the rollup-tier
  refresh.

A frame that carries none of ``month``/``date``/``time`` (the legacy
``tree`` table) is written flat.

Roots written by older builds may hold flat tables. Spark's parquet
reader, pointed at a directory that mixes flat data files with
``month=`` partition directories, silently returns ONLY the
partitioned rows (partition discovery wins and the flat files are
never listed). An unguarded partitioned append onto a legacy table
therefore hides all pre-upgrade history from every reader with no
error.

The guard here is the missing probe: before a partitioned append,
:func:`prepare_partitioned_append` classifies the target's layout and

* ``missing`` / ``partitioned`` — append partitioned, nothing to do;
* ``flat`` — migrate ONCE (rewrite the flat rows into their
  ``month=`` partitions, then delete the flat files), after which the
  table is a normal partitioned table forever;
* ``mixed`` — the damage case (an unguarded pre-fix append already
  happened, or a migration crashed mid-way): the still-hidden flat
  files are folded into partitions the same way, RECOVERING the
  hidden rows;
* flat with no month-bearing column — cannot be month-partitioned;
  the caller is told to write flat to match (legacy ``tree``-shaped
  tables, whose engine-derived frames are equally date-less, so the
  appended files share the stored schema — a date-CARRYING frame
  aimed at a date-less store is a schema mismatch no layout choice
  fixes, and behaves exactly as it did before partitioning existed).

A whole-table rewrite of a flat table (``rewrite_table(..., whole=True)``)
moves its rows into ``month=`` partitions by the same rule.

Crash-safety: the migration appends the partitioned copies first and
deletes the flat originals second, so a crash in between leaves a
mixed directory whose PARTITIONED side already holds every row — no
read ever sees less than the full history. A re-run of the guard would
re-append the leftover flat files, duplicating series rows; that is
the ReplacingMergeTree-tolerated failure mode (duplicate inserts,
collapsed by ``replacing_latest`` / ``compact_replacing`` at read or
merge time — uploader retries in the reference duplicate rows the same
way, ``uploader/upload.go`` retry loop), strictly better than the
silent loss it replaces. A rewrite stages the merged rows first and
commits them per month partition second, so a crash leaves the
un-merged (correct, just un-compacted) table.

At 100 TB: the probe is one ``listStatus`` RPC per table per process
(memoized after the first ``partitioned`` answer), and the migration
cost is one read+write of the legacy table — paid once at upgrade,
never per batch.
"""

from __future__ import annotations

import os
import threading
from collections import defaultdict

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "write_table",
    "rewrite_table",
    "month_of",
    "delete_path",
    "table_lock",
    "table_layout",
    "prepare_partitioned_append",
    "migrate_flat_to_partitioned",
    "forget_layout",
]

# tables confirmed month-partitioned (or freshly created) this process:
# their layout can only stay partitioned, so skip the per-batch RPC.
# _KNOWN_FLAT memoizes the opposite verdict — a stored date-less flat
# table stays flat, and re-probing (plus re-pinning the batch frame)
# every micro-batch would tax the hot path for nothing
_KNOWN_PARTITIONED: set[str] = set()
_KNOWN_FLAT: set[str] = set()
_KNOWN_LOCK = threading.Lock()


def _memo_key(path: str) -> str:
    return os.path.abspath(path) if "://" not in path else path


# One writer at a time per TABLE DIRECTORY, process-wide: with several
# protocol pipelines appending to the same four-table root (__main__
# runs one StreamingQuery per enabled front, all feeding one root —
# the reference's single writeChan, carbon/app.go:193), concurrent
# append jobs to the SAME path race on the Hadoop committer's shared
# `_temporary` staging dir — the first commit deletes the other job's
# staged files, silently losing a batch. Different tables still write
# in parallel; only same-table writes serialize. On a real cluster the
# equivalent fix is a concurrency-safe committer (e.g. a manifest
# committer / Delta's optimistic protocol); this lock is the
# single-process guarantee.
_TABLE_WRITE_LOCKS: dict[str, threading.Lock] = defaultdict(threading.Lock)
_TABLE_WRITE_LOCKS_GUARD = threading.Lock()


def table_lock(path: str) -> threading.Lock:
    """The process-wide write lock of one table directory. Taken by
    :func:`write_table`; the maintenance rewrites (compaction,
    rollup-tier refreshes) hold it around their read and
    :func:`rewrite_table` so they never interleave with an append.
    A plain ``Lock``: never hold it around a :func:`write_table` call."""
    with _TABLE_WRITE_LOCKS_GUARD:
        return _TABLE_WRITE_LOCKS[_memo_key(path)]


def forget_layout(path: str) -> None:
    """Drop a table's memoized layout verdict. Called when a probe
    finds the directory MISSING (see :func:`table_layout`) or a
    partitioned append FAILS — either way the stored layout may no
    longer be what the memo remembers (an out-of-band
    delete-and-recreate is invisible to a process-lifetime memo), so
    the next append must re-probe instead of trusting it."""
    key = _memo_key(path)
    with _KNOWN_LOCK:
        _KNOWN_PARTITIONED.discard(key)
        _KNOWN_FLAT.discard(key)


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _is_data_file(name: str) -> bool:
    # skip commit markers / sidecars (_SUCCESS, _replaced_at,
    # _rolled_at, _refreshed_ver, _migrating...) and checksums
    return not name.startswith(("_", "."))


def table_layout(spark: SparkSession, path: str) -> str:
    """Classify a table directory: ``missing`` | ``flat`` |
    ``partitioned`` | ``mixed`` (flat data files AND ``month=`` dirs
    side by side — the layout Spark reads HALF of)."""
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        # a memoized table observed MISSING was deleted out of band:
        # whatever recreates it may pick any layout, so the stale
        # memo must not short-circuit the next append's probe
        forget_layout(path)
        return "missing"
    has_flat = False
    has_part = False
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("month="):
            has_part = True
        elif st.isFile() and _is_data_file(name):
            has_flat = True
    if has_flat and has_part:
        return "mixed"
    if has_part:
        return "partitioned"
    if has_flat:
        return "flat"
    # empty dir (e.g. only _SUCCESS): treat as missing — nothing to
    # lose (and equally memo-invalidating: the data was removed)
    forget_layout(path)
    return "missing"


def _flat_data_files(spark: SparkSession, path: str) -> list[str]:
    fs, jpath = _fs_and_path(spark, path)
    return [
        st.getPath().toString()
        for st in fs.listStatus(jpath)
        if st.isFile() and _is_data_file(st.getPath().getName())
    ]


def _sort_cols(df: DataFrame) -> tuple[str, ...]:
    # the table's primary key (the CH ORDER BY): rows sorted by it
    # within each file let parquet min/max stats skip data
    return ("path", "time") if "time" in df.columns else ("path",)


def month_of(df: DataFrame) -> Column | None:
    """The one month rule of the stored layout: the frame's own
    ``month`` when it has one (compaction pins each partition's month),
    else ``yyyyMM`` of ``date``, else ``yyyyMM`` of ``time`` (the
    date-less rollup tier). None when the frame has none of them: it
    is written flat (the legacy ``tree`` table)."""
    if "month" in df.columns:
        return F.col("month")
    if "date" in df.columns:
        return F.date_format("date", "yyyyMM")
    if "time" in df.columns:
        return F.date_format(F.timestamp_seconds("time"), "yyyyMM")
    return None


def _write(
    df: DataFrame,
    path: str,
    mode: str,
    partitioned: bool = True,
    overwrite: str | None = None,
) -> None:
    # partitioned: month= directories by the month rule, rows sorted by
    # month first (the file writer requires ordering by the partition
    # column and would otherwise add its own sort on top of ours);
    # ``overwrite`` is the per-write partitionOverwriteMode, so the
    # session conf is never touched
    month = month_of(df) if partitioned else None
    if month is None:
        df.sortWithinPartitions(*_sort_cols(df)).write.mode(mode).parquet(path)
        return
    if "month" not in df.columns:
        df = df.withColumn("month", month)
    writer = df.sortWithinPartitions("month", *_sort_cols(df)).write.mode(mode)
    if overwrite is not None:
        writer = writer.option("partitionOverwriteMode", overwrite)
    writer.partitionBy("month").parquet(path)


def delete_path(spark: SparkSession, path: str) -> None:
    """Recursive delete through the Hadoop FileSystem API — works on
    any supported filesystem (local, HDFS, object stores)."""
    fs, jpath = _fs_and_path(spark, path)
    fs.delete(jpath, True)


def migrate_flat_to_partitioned(spark: SparkSession, path: str) -> bool:
    """Fold a table's top-level flat parquet files into ``month=``
    partitions (by :func:`month_of`, the rule every writer uses).
    Returns False — caller must write flat to match — when the flat
    rows carry no month-bearing column.

    Reads the flat files BY EXPLICIT PATH (``spark.read.parquet(path)``
    on a mixed dir would return only the partitioned rows — the very
    bug this migration exists to fix), appends their partitioned
    copies, then deletes the originals."""
    flat = _flat_data_files(spark, path)
    if not flat:
        return True
    df = spark.read.parquet(*flat)
    if month_of(df) is None:
        return False
    _write(df, path, "append")
    fs, _ = _fs_and_path(spark, path)
    jvm = spark._jvm
    for f in flat:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f), False)
    return True


def prepare_partitioned_append(
    spark: SparkSession, path: str, pin: DataFrame | None = None
) -> tuple[bool, DataFrame | None]:
    """Make ``path`` safe for a ``month=``-partitioned append.

    Returns ``(ok, pinned)``: ``ok`` is True when the partitioned
    append may proceed (table missing, already partitioned, or just
    migrated) and False when the existing table is flat without a
    month-bearing column (:func:`month_of`) — the caller must then
    append flat to match the stored layout.

    ``pin`` is the frame the caller is about to write. When a
    migration is actually needed, the frame's lazy plan may itself
    read the table being migrated (the A2 anti-join references the
    stored index/tagged files), and the migration DELETES the flat
    files those plans point at — so the frame is materialized and its
    lineage cut via ``localCheckpoint(eager=True)`` BEFORE the
    migration touches anything, and the pinned replacement comes back
    as ``pinned`` (None when no migration ran: the common case costs
    nothing)."""
    key = _memo_key(path)
    with _KNOWN_LOCK:
        if key in _KNOWN_PARTITIONED:
            return True, None
        if key in _KNOWN_FLAT:
            return False, None
    layout = table_layout(spark, path)
    ok = True
    pinned = None
    if layout in ("flat", "mixed"):
        # schema probe BEFORE the (expensive) pin: a date-less legacy
        # table cannot be month-partitioned, so there is nothing to
        # migrate and no reason to materialize the batch frame
        flat = _flat_data_files(spark, path)
        if flat and month_of(spark.read.parquet(*flat)) is None:
            ok = False
        else:
            if pin is not None:
                pinned = pin.localCheckpoint(eager=True)
            ok = migrate_flat_to_partitioned(spark, path)
    with _KNOWN_LOCK:
        (_KNOWN_PARTITIONED if ok else _KNOWN_FLAT).add(key)
    return ok, pinned


def write_table(df: DataFrame, path: str, mode: str = "append") -> DataFrame:
    """Write one engine table: ``month=``-partitioned by
    :func:`month_of`, flat when the frame has no month-bearing column
    (the legacy ``tree`` table).

    Holds :func:`table_lock` for the write. An append first runs
    :func:`prepare_partitioned_append` with the frame as ``pin``, so a
    legacy flat table is migrated (or, when date-less, matched flat)
    instead of being hidden. A failed write drops the memoized layout
    (the directory may be in any state) and re-raises.

    Emptiness is the caller's: a partitioned write of an empty frame
    leaves a ``_SUCCESS``-only directory. Returns the frame as written
    — the pinned copy when a migration ran, whose lineage no longer
    reads the files the migration deleted."""
    partitioned = month_of(df) is not None
    with table_lock(path):
        if partitioned and mode == "append":
            partitioned, pinned = prepare_partitioned_append(
                df.sparkSession, path, pin=df
            )
            if pinned is not None:
                df = pinned
        try:
            _write(df, path, mode, partitioned)
        except Exception:
            forget_layout(path)
            raise
    return df


def rewrite_table(df: DataFrame, path: str, whole: bool = False) -> None:
    """Replace a stored table's rows with ``df``, a merge of what it
    holds (compaction, the rollup-tier refresh), without a directory
    rename (impossible on S3/GCS):

    1. write ``df`` to ``<path>._compacting`` — Spark forbids
       overwriting a path that feeds the same job, and the live table
       must not be dropped before the merge is durable;
    2. overwrite ``path`` from the staged copy (read back with the
       frame's schema: no inference job) through the same partitioned
       writer. The overwrite replaces only the months the frame holds
       (dynamic partition overwrite — ``replaceWhere`` semantics on
       plain parquet: untouched history is never rewritten or
       deleted), or the whole table when ``whole`` (a full rebuild, or
       a flat legacy table moving into ``month=`` partitions). A flat
       frame (no month-bearing column) is a committed whole-table
       overwrite; readers can see that swap mid-commit;
    3. delete the staging directory.

    The overwrite mode is a per-write option: the session conf is never
    touched. Takes no lock: the callers hold :func:`table_lock` around
    their read and this rewrite."""
    spark = df.sparkSession
    month = month_of(df)
    if month is not None and "month" not in df.columns:
        df = df.withColumn("month", month)
    staging = path.rstrip("/") + "._compacting"
    try:
        _write(df, staging, "overwrite", overwrite="static")
        staged = spark.read.schema(df.schema).parquet(staging)
        _write(
            staged, path, "overwrite",
            overwrite="static" if whole else "dynamic",
        )
    except Exception:
        # a finished rewrite keeps the memoized layout true (a dated
        # flat table, the only one that changes layout, is never
        # memoized flat); a failed one may leave any layout
        forget_layout(path)
        raise
    finally:
        delete_path(spark, staging)
