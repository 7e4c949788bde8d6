"""Deduplication operators A1-A3 (SURVEY §2.4).

- A1 per-batch series dedup: ``dropDuplicates`` / groupBy inside the
  derivation operators.
- A2 cross-batch exists-cache: the reference keeps a sharded in-memory
  map of already-uploaded series (``uploader/cached.go``,
  ``uploader/cmap.go``). The 100 TB-safe Spark form is an anti-join
  against the existing index/tagged table before append (or a Delta
  ``MERGE WHEN NOT MATCHED`` where Delta is available).
- A3 ReplacingMergeTree read semantics: keep the max-Version row per
  sort key (``README.md:50,61``). Queries against index/tagged tables
  must go through :func:`replacing_latest` (or aggregate versions
  away), exactly as ClickHouse queries must tolerate pre-merge
  duplicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def new_series_only(incoming: DataFrame, existing: DataFrame, keys: list[str]) -> DataFrame:
    """A2: rows of ``incoming`` whose ``keys`` are absent from
    ``existing`` — left-anti join, the distributed exists-cache.

    At scale the right side is the (pruned) index table; partition
    pruning on ``date`` keeps the join small, and AQE picks
    broadcast when the pruned side fits.
    """
    return incoming.join(existing.select(*keys), on=keys, how="left_anti")


def new_series_only_hashed(
    incoming: DataFrame, existing: DataFrame, keys: list[str]
) -> DataFrame:
    """A2 variant with P14's memory trick: the anti-join runs on
    ``xxhash64(keys)`` (8 bytes) instead of the full key tuple — the
    distributed analogue of the reference's cityhash64 exists-cache
    keys (``uploader/hash.go:9-25``). Hash collisions can only SKIP a
    new series (a benign false-positive 'already exists'), mirroring
    the reference's accepted trade-off.
    """
    h = F.xxhash64(*keys)
    return (
        incoming.withColumn("__h", h)
        .join(existing.select(h.alias("__h")).distinct(), "__h", "left_anti")
        .drop("__h")
    )


def replacing_latest(df: DataFrame, keys: list[str], version_col: str = "version") -> DataFrame:
    """A3: ReplacingMergeTree(Version) view — last version wins.

    Uses max_by-style aggregation when the payload is the whole row
    (single shuffle, partial aggregation map-side) instead of a window
    + filter (which would sort whole partitions).
    """
    payload = [c for c in df.columns if c not in keys]
    agg = [F.max_by(c, F.col(version_col)).alias(c) for c in payload if c != version_col]
    agg.append(F.max(version_col).alias(version_col))
    cols = df.columns
    return df.groupBy(*keys).agg(*agg).select(*cols)


def replacing_latest_window(
    df: DataFrame, keys: list[str], version_col: str = "version"
) -> DataFrame:
    """Window-based variant of :func:`replacing_latest` (kept for
    parity testing; prefer the aggregate form in production plans)."""
    w = Window.partitionBy(*keys).orderBy(F.col(version_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
