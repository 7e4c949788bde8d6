"""Batch ingest pipeline: points -> the four-table contract (K1-K6).

The reference writes one chunk file and symlinks it into per-table
uploader dirs (``writer/link.go:13-66``); each uploader derives its
table shape from the same bytes. Here one DataFrame is the chunk and
the derivations share it — in streaming this runs inside a single
``foreachBatch`` so the micro-batch is the transactional unit
(K3/K6 semantics for free).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.dedup import new_series_only
from .operators.filters import drop_rule_predicate, ignored_patterns_predicate
from .operators.index import build_index
from .operators.layout import delete_path, table_layout, write_table
from .operators.tagged import build_tagged
from .functions.paths import path_reverse
from .schemas import REPLACING_KEYS, read_table


@dataclass
class IngestConfig:
    """Mirror of the reference's receiver/uploader options we honor."""

    drop_future_seconds: int | None = None
    drop_past_seconds: int | None = None
    drop_longer_than: int | None = None
    ignored_patterns: list[str] = field(default_factory=list)  # F6
    ignored_tagged_metrics: list[str] = field(default_factory=list)  # F7
    disable_daily_index: bool = False
    now: int | None = None
    # legacy uploader types (uploader/uploader.go:48-60): any of
    # "tree", "series", "series-reverse" — a config still naming the
    # pre-index tables gets them derived and written alongside the
    # modern four
    legacy_tables: tuple[str, ...] = ()
    tree_date: str | None = None  # type=tree [upload.*] date option


def derive_tables(points: DataFrame, config: IngestConfig | None = None) -> dict[str, DataFrame]:
    """One canonical points batch -> {points, points_reverse, index, tagged}."""
    config = config or IngestConfig()

    keep = drop_rule_predicate(
        now=config.now,
        drop_future_seconds=config.drop_future_seconds,
        drop_past_seconds=config.drop_past_seconds,
        drop_longer_than=config.drop_longer_than,
    )
    points = points.filter(keep)

    # F6 blacklist applies to the points tables (uploader/points.go:56-58)
    points_out = points.filter(ignored_patterns_predicate(config.ignored_patterns))

    tables = {
        "points": points_out,
        "points_reverse": points_out.withColumn("path", path_reverse("path")),
        "index": build_index(points, disable_daily=config.disable_daily_index),
        "tagged": build_tagged(points, ignored_metrics=config.ignored_tagged_metrics),
    }
    if config.legacy_tables:
        from .operators.index import build_series, build_tree

        if "tree" in config.legacy_tables:
            tables["tree"] = build_tree(points, tree_date=config.tree_date)
        if "series" in config.legacy_tables:
            tables["series"] = build_series(points)
        if "series-reverse" in config.legacy_tables:
            tables["series_reverse"] = build_series(points, reverse=True)
    return tables


def write_tables(
    tables: dict[str, DataFrame],
    root: str,
    mode: str = "append",
    existing_index: DataFrame | None = None,
    existing_tagged: DataFrame | None = None,
) -> None:
    """Persist the table set as month-partitioned parquet.

    Layout (SURVEY §1.4, written by ``operators.layout.write_table``):
    partition by ``month(date)`` mirroring ClickHouse ``PARTITION BY
    toYYYYMM(Date)``; rows sorted within partitions by ``(path, time)``
    so parquet min/max stats provide data skipping along the primary
    key, like the CH ORDER BY key. The date-less legacy ``tree`` table
    is written flat.

    ``existing_index/tagged`` enable the A2 exists-cache: only series
    not already present are appended.
    """
    tables = dict(tables)
    if existing_index is not None:
        tables["index"] = new_series_only(
            tables["index"], existing_index, REPLACING_KEYS["index"]
        )
    if existing_tagged is not None:
        tables["tagged"] = new_series_only(
            tables["tagged"], existing_tagged, REPLACING_KEYS["tagged"]
        )

    # the four tables, then the legacy tree/series tables (index-shaped:
    # series rows, no points) when the config derived them
    for name in ("points", "points_reverse", *REPLACING_KEYS):
        df = tables.get(name)
        if df is None:
            continue
        path = os.path.join(root, name)
        # a PARTITIONED write of an EMPTY frame leaves a directory
        # holding only _SUCCESS, which an inferring reader
        # (spark.read.parquet without a schema) cannot open — an empty table simply does not materialize
        # (readers treat a missing table dir as empty). With
        # mode='overwrite' that must still TRUNCATE an existing table
        # (a kept previous state would turn the truncation into a lie)
        if not df.head(1):
            spark = df.sparkSession
            if mode == "overwrite" and table_layout(spark, path) != "missing":
                delete_path(spark, path)
            continue
        write_table(df, path, mode)


def write_tables_bucketed(
    tables: dict[str, DataFrame],
    buckets: int = 256,
    name_prefix: str = "graphite",
    mode: str = "overwrite",
) -> dict[str, str]:
    """Catalog-managed variant of :func:`write_tables`: the two points
    tables are bucketed by ``path`` and sorted by ``(path, time)``, so
    every downstream per-series stage — rollup's groupBy, render
    window transforms, as-of alignment, series reads — is
    co-partitioned AT READ TIME: zero Exchange, zero re-sort (verified
    in ``tests/test_operators.py::test_bucketed_points_shuffle_free``).

    This is the Spark analogue of ClickHouse's ORDER BY key locality
    across queries, not just within files. At 100 TB the bucket count
    sizes the parallelism floor: 4096 buckets x ~25 GB/bucket keeps
    per-task state bounded while saturating a 1000-executor cluster.

    Requires a persistent catalog (Hive metastore / Glue) for the
    bucketing metadata to outlive the session; with Spark's default
    in-memory catalog this demonstrates the plan shape in-session.
    Returns {logical name: catalog table name}.
    """
    out: dict[str, str] = {}
    for name in ("points", "points_reverse"):
        tbl = f"{name_prefix}_{name}"
        (
            tables[name]
            .withColumn("month", F.date_format("date", "yyyyMM"))
            .write.mode(mode)
            .bucketBy(buckets, "path")
            .sortBy("path", "time")
            .saveAsTable(tbl)
        )
        out[name] = tbl
    for name in ("index", "tagged"):
        tbl = f"{name_prefix}_{name}"
        tables[name].write.mode(mode).saveAsTable(tbl)
        out[name] = tbl
    return out


def ingest_and_store(
    points: DataFrame,
    root: str,
    config: IngestConfig | None = None,
) -> None:
    """Bulk-load ingest order: write the points table ONCE, then
    derive reverse/index/tagged from the freshly stored parquet.

    Recomputing a long points lineage per derived table costs 4x the
    upstream work (and caching 100 TB is not an option); re-reading the
    just-written columnar points is a pruned scan of exactly the
    columns each derivation needs. This is the batch analogue of the
    reference's chunk file feeding every uploader
    (``writer/link.go:13-66``).

    Bulk loads into a fresh ``root`` (points appends; the derived
    tables rebuild from the stored points). For incremental streaming
    use ``streaming.ingest`` (which persists each micro-batch).
    """
    config = config or IngestConfig()
    spark = points.sparkSession

    keep = drop_rule_predicate(
        now=config.now,
        drop_future_seconds=config.drop_future_seconds,
        drop_past_seconds=config.drop_past_seconds,
        drop_longer_than=config.drop_longer_than,
    )
    kept = points.filter(keep).filter(
        ignored_patterns_predicate(config.ignored_patterns)
    )
    write_table(kept, os.path.join(root, "points"))
    # derived tables rebuild from the full stored points (bulk-load
    # semantics; idempotent w.r.t. the replacing-dedup read views)

    stored = read_table(spark, root, "points").drop("month")
    # builders, not frames: planning build_index/build_tagged is itself
    # ~0.15 s of driver work each, which the pool overlaps with the
    # other tables' writes
    derived = {
        "points_reverse": lambda: stored.withColumn("path", path_reverse("path")),
        "index": lambda: build_index(stored, disable_daily=config.disable_daily_index),
        "tagged": lambda: build_tagged(
            stored, ignored_metrics=config.ignored_tagged_metrics
        ),
    }

    def _write_derived(name):
        path = os.path.join(root, name)
        write_table(derived[name](), path, "overwrite")
        # an empty derived table (say, no tagged series) does not
        # materialize, as in write_tables: its partitioned write left
        # a _SUCCESS-only directory an inferring reader cannot open.
        # A listing, not an emptiness job
        if table_layout(spark, path) == "missing":
            delete_path(spark, path)

    # the three derived tables scan the same stored points independently
    # — submit them as concurrent jobs (Spark's scheduler interleaves
    # their stages; on a cluster this keeps executors saturated instead
    # of serializing three small jobs)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        futures = [pool.submit(_write_derived, name) for name in derived]
        for f in futures:
            f.result()


def register_clickhouse_views(
    spark,
    root: str,
    suffix: str = "",
    names: dict[str, str] | None = None,
    zero_timestamp_points: bool = False,
) -> list[str]:
    """Temp views over a stored four-table root with the reference's
    ClickHouse table and column names, so the SQL a carbon-clickhouse
    deployment runs against ClickHouse (e.g. the e2e verify queries,
    ``tests/plain/test.toml:109-189``) works in ``spark.sql`` nearly
    verbatim:

    - ``graphite`` / ``graphite_reverse``: (Path, Value, Time, Date,
      Timestamp) — Timestamp is the version column, exactly what the
      RowBinary uploader writes (``sinks/clickhouse.POINTS_COLUMNS``)
    - ``graphite_index``: (Date, Level, Path, Version)
    - ``graphite_tagged``: (Date, Tag1, Path, Tags, Version)
    - ``graphite_tree`` / ``graphite_series`` (+``_reverse``) when the
      legacy tables exist in the root

    Returns the view names registered. ``suffix`` disambiguates
    concurrent roots in one session. ``names`` overrides individual
    view names (default name -> deployment name): the reference's
    table names are chosen per deployment in carbon-clickhouse.conf
    (e.g. the e2e configs call the tagged table ``graphite_tags``),
    so the views must be nameable to match the SQL a deployment
    actually runs. ``zero_timestamp_points`` renders the points
    views' Timestamp as 0, matching what a ``zero-timestamp = true``
    uploader actually writes to ClickHouse (the parquet store keeps
    the real arrival version; zeroing is an upload-time transform,
    ``sinks/clickhouse.encode_partition``). Views are lazy: queries
    prune columns/partitions through them like direct reads.
    """
    ts = (
        "CAST(0 AS BIGINT) AS Timestamp"
        if zero_timestamp_points
        else "version AS Timestamp"
    )
    specs = {
        "graphite": (
            "points",
            "path AS Path, value AS Value, time AS Time, "
            f"date AS Date, {ts}",
        ),
        "graphite_reverse": (
            "points_reverse",
            "path AS Path, value AS Value, time AS Time, "
            f"date AS Date, {ts}",
        ),
        "graphite_index": (
            "index",
            "date AS Date, level AS Level, path AS Path, "
            "version AS Version",
        ),
        "graphite_tagged": (
            "tagged",
            "date AS Date, tag1 AS Tag1, path AS Path, tags AS Tags, "
            "version AS Version",
        ),
        "graphite_tree": ("tree", "level AS Level, path AS Path"),
        "graphite_series": (
            "series",
            "date AS Date, level AS Level, path AS Path, "
            "version AS Version",
        ),
        "graphite_series_reverse": (
            "series_reverse",
            "date AS Date, level AS Level, path AS Path, "
            "version AS Version",
        ),
    }
    registered = []
    for view, (table, cols) in specs.items():
        df = read_table(spark, root, table)
        if df is None:
            continue
        name = (names or {}).get(view, view) + suffix
        df.selectExpr(*cols.split(", ")).createOrReplaceTempView(name)
        registered.append(name)
    return registered
