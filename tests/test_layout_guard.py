"""Legacy flat-layout append guard (upgrade-path correctness).

Pre-round-7 builds wrote index/tagged as FLAT parquet; round 7
switched the appending writers to ``month=`` partitioning, but the
bulk loader (``pipeline.ingest_and_store``) still wrote index/tagged
flat, and the batch writer the legacy ``series`` tables, until every
engine table write moved into one writer, ``operators.layout.write_table``.
Spark's parquet reader, given a directory mixing flat data files with
partition directories, silently returns ONLY the partitioned rows —
so an unguarded partitioned append onto a legacy table loses all
pre-upgrade history from every read. These tests pin the guard:
probe-and-migrate before the first partitioned append
(``operators/layout.py``), through every caller of the writer — the
batch writer (``pipeline.write_tables``), the bulk loader, the
streaming micro-batch (``streaming/ingest.py``) and the self-metrics
collector flush — and that the bulk loader's tables are born
partitioned.
"""

import os
import time

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from carbon_clickhouse_spark.operators import layout as layout_mod
from carbon_clickhouse_spark.operators.layout import (
    migrate_flat_to_partitioned,
    prepare_partitioned_append,
    table_layout,
    write_table,
)
from carbon_clickhouse_spark.pipeline import (
    IngestConfig,
    derive_tables,
    ingest_and_store,
    write_tables,
)
from carbon_clickhouse_spark.schemas import read_table
from carbon_clickhouse_spark.sources.plain import parse_plain_lines

NOW1 = 1625478240
NOW2 = 1625478300


def _points(spark, lines, now):
    return parse_plain_lines(
        spark.createDataFrame([(l,) for l in lines], "line string"), now=now
    )


def _reset_memo():
    # the probe memoizes per-path; tmp paths are unique per test but a
    # deliberate bypass (mixed-dir setup) must not inherit a stale entry
    with layout_mod._KNOWN_LOCK:
        layout_mod._KNOWN_PARTITIONED.clear()
        layout_mod._KNOWN_FLAT.clear()


def _top_level_flat_files(root, name):
    d = os.path.join(root, name)
    return [
        f
        for f in os.listdir(d)
        if os.path.isfile(os.path.join(d, f)) and not f.startswith(("_", "."))
    ]


def test_table_layout_classification(spark, tmp_path):
    _reset_memo()
    assert table_layout(spark, str(tmp_path / "nope")) == "missing"

    flat = str(tmp_path / "flat")
    spark.range(3).write.parquet(flat)
    assert table_layout(spark, flat) == "flat"

    part = str(tmp_path / "part")
    spark.range(3).withColumn("month", F.lit("202107")).write.partitionBy(
        "month"
    ).parquet(part)
    assert table_layout(spark, part) == "partitioned"

    # mixed: drop a flat file into the partitioned root
    spark.range(2).write.mode("append").parquet(part)
    assert table_layout(spark, part) == "mixed"

    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_text("")
    assert table_layout(spark, str(empty)) == "missing"


def test_batch_append_to_legacy_flat_index_keeps_history(spark, tmp_path):
    """The confirmed r7 repro: flat legacy table + partitioned append
    used to hide the flat rows. With the guard, the full history stays
    visible and the table ends up cleanly partitioned."""
    _reset_memo()
    root = str(tmp_path)
    t1 = derive_tables(
        _points(spark, ["legacy.host1.cpu 1.0 %d" % NOW1], now=NOW1),
        IngestConfig(now=NOW1),
    )
    # simulate the pre-r7 writer: flat parquet, no month column
    t1["index"].write.parquet(os.path.join(root, "index"))
    assert table_layout(spark, os.path.join(root, "index")) == "flat"
    legacy_paths = {
        r["path"] for r in spark.read.parquet(os.path.join(root, "index")).collect()
    }
    assert legacy_paths  # sanity: legacy history exists

    t2 = derive_tables(
        _points(spark, ["fresh.host2.mem 2.0 %d" % NOW2], now=NOW2),
        IngestConfig(now=NOW2),
    )
    write_tables(t2, root, mode="append")

    got = spark.read.parquet(os.path.join(root, "index"))
    paths = {r["path"] for r in got.collect()}
    assert legacy_paths <= paths, "pre-upgrade history must survive the append"
    assert any(p.startswith("fresh.") for p in paths)
    # and the table is now a clean partitioned layout, not mixed
    assert table_layout(spark, os.path.join(root, "index")) == "partitioned"
    assert _top_level_flat_files(root, "index") == []


def test_mixed_dir_recovery(spark, tmp_path):
    """A table already damaged by an unguarded pre-fix append (mixed
    dir, flat rows invisible) is RECOVERED by the next guarded append."""
    _reset_memo()
    path = str(tmp_path / "index")
    flat_df = spark.createDataFrame(
        [("old.a", "2021-07-05")], "path string, date string"
    ).withColumn("date", F.to_date("date"))
    part_df = spark.createDataFrame(
        [("new.b", "2021-07-06")], "path string, date string"
    ).withColumn("date", F.to_date("date"))

    flat_df.write.parquet(path)
    # the unguarded r7 behavior: partitioned append straight onto flat
    part_df.withColumn("month", F.date_format("date", "yyyyMM")).write.mode(
        "append"
    ).partitionBy("month").parquet(path)
    assert table_layout(spark, path) == "mixed"
    # the bug being recovered from: only the partitioned row is visible
    assert {r["path"] for r in spark.read.parquet(path).collect()} == {"new.b"}

    assert prepare_partitioned_append(spark, path)[0]
    assert table_layout(spark, path) == "partitioned"
    assert {r["path"] for r in spark.read.parquet(path).collect()} == {
        "old.a",
        "new.b",
    }


def test_dateless_flat_table_appends_flat(spark, tmp_path):
    """Legacy tree-shaped tables (no date column) cannot be month-
    partitioned: the guard says no and the writer matches the flat
    layout instead of hiding the history."""
    _reset_memo()
    path = str(tmp_path / "tree")
    spark.createDataFrame([("a.b",)], "path string").write.parquet(path)
    assert prepare_partitioned_append(spark, path)[0] is False
    assert table_layout(spark, path) == "flat"


def test_migrate_flat_to_partitioned_unit(spark, tmp_path):
    _reset_memo()
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [("a", "2021-07-05"), ("b", "2021-08-01")], "path string, date string"
    ).withColumn("date", F.to_date("date"))
    df.write.parquet(path)
    assert migrate_flat_to_partitioned(spark, path)
    assert table_layout(spark, path) == "partitioned"
    got = spark.read.parquet(path)
    assert {
        str(r["month"]) for r in got.select("month").collect()
    } == {"202107", "202108"}
    assert got.count() == 2


def test_empty_overwrite_truncates_existing_table(spark, tmp_path):
    """ADVICE r7: an empty frame with mode='overwrite' used to no-op,
    silently keeping the previous table contents."""
    _reset_memo()
    root = str(tmp_path)
    t1 = derive_tables(
        _points(spark, ["keep.me.not 1.0 %d" % NOW1], now=NOW1),
        IngestConfig(now=NOW1),
    )
    write_tables(t1, root, mode="overwrite")
    assert spark.read.parquet(os.path.join(root, "points")).count() > 0

    # empty batch (everything filtered): overwrite must truncate
    empty = derive_tables(
        _points(spark, [], now=NOW2), IngestConfig(now=NOW2)
    )
    write_tables(empty, root, mode="overwrite")
    assert not os.path.exists(os.path.join(root, "points")) or not [
        f
        for f in os.listdir(os.path.join(root, "points"))
        if not f.startswith(("_", "."))
    ]


def test_streaming_append_to_legacy_flat_index(spark, tmp_path):
    """End-to-end on the streaming writer: a legacy flat index table
    receives a streaming micro-batch append and keeps its history."""
    from carbon_clickhouse_spark.streaming.ingest import (
        StreamConfig,
        file_landing_source,
        start_plain_ingest,
    )

    _reset_memo()
    root = str(tmp_path / "tables")
    os.makedirs(root)
    t1 = derive_tables(
        _points(spark, ["legacy.stream.cpu 1.0 %d" % NOW1], now=NOW1),
        IngestConfig(now=NOW1),
    )
    t1["index"].write.parquet(os.path.join(root, "index"))
    legacy_paths = {
        r["path"] for r in spark.read.parquet(os.path.join(root, "index")).collect()
    }

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "c1.txt").write_text("fresh.stream.mem 2.0 %d\n" % NOW2)
    cfg = StreamConfig(
        root=root,
        chunk_interval="1 second",
        ingest=IngestConfig(now=NOW2),
    )
    q = start_plain_ingest(spark, file_landing_source(spark, str(landing)), cfg)
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            try:
                got = {
                    r["path"]
                    for r in spark.read.parquet(
                        os.path.join(root, "index")
                    ).collect()
                }
                if any(p.startswith("fresh.") for p in got):
                    break
            except Exception:
                pass
            time.sleep(0.5)
    finally:
        q.stop()

    got = {
        r["path"] for r in spark.read.parquet(os.path.join(root, "index")).collect()
    }
    assert legacy_paths <= got, "streaming append must not hide legacy rows"
    assert any(p.startswith("fresh.") for p in got)
    assert table_layout(spark, os.path.join(root, "index")) == "partitioned"


def test_flat_no_date_verdict_is_memoized(spark, tmp_path):
    """A date-less flat table's False verdict memoizes: subsequent
    calls neither re-probe nor pin the batch frame (the per-batch
    localCheckpoint a pre-fix build paid on the hot path)."""
    _reset_memo()
    path = str(tmp_path / "tree")
    spark.createDataFrame([("a.b",)], "path string").write.parquet(path)
    pin = spark.createDataFrame(
        [("x", "2021-07-05")], "path string, date string"
    ).withColumn("date", F.to_date("date"))
    ok, pinned = prepare_partitioned_append(spark, path, pin=pin)
    assert ok is False and pinned is None  # schema probe beats the pin
    key = os.path.abspath(path)
    assert key in layout_mod._KNOWN_FLAT
    # second call answers from the memo even if the dir vanished
    import shutil

    shutil.rmtree(path)
    ok2, _ = prepare_partitioned_append(spark, path, pin=pin)
    assert ok2 is False


def test_missing_probe_invalidates_stale_memo(spark, tmp_path):
    """Out-of-band delete-and-recreate (r8 verdict note): the memo is
    process-lifetime, so a table deleted and recreated FLAT by an
    external actor used to keep its stale 'partitioned' entry and the
    next append skipped the probe — mixing the dir and hiding the flat
    rows. Any probe that observes the missing window now drops the
    memo entry, so the recreate is re-probed, migrated, and the full
    history stays visible."""
    import shutil

    _reset_memo()
    path = str(tmp_path / "index")
    part_df = spark.createDataFrame(
        [("old.a", "2021-07-05")], "path string, date string"
    ).withColumn("date", F.to_date("date"))
    part_df.withColumn("month", F.date_format("date", "yyyyMM")).write.partitionBy(
        "month"
    ).parquet(path)
    assert prepare_partitioned_append(spark, path)[0]
    key = os.path.abspath(path)
    assert key in layout_mod._KNOWN_PARTITIONED  # memoized

    # out-of-band: table dir deleted; any probe during the missing
    # window (here: an explicit layout check, in production the
    # overwrite-truncation probe or a failed write) drops the memo
    shutil.rmtree(path)
    assert table_layout(spark, path) == "missing"
    assert key not in layout_mod._KNOWN_PARTITIONED

    # ...and recreated FLAT by an older build / hand copy
    flat_df = spark.createDataFrame(
        [("legacy.b", "2021-07-06")], "path string, date string"
    ).withColumn("date", F.to_date("date"))
    flat_df.write.parquet(path)

    # next guarded append re-probes, migrates, keeps the full history
    ok, _ = prepare_partitioned_append(spark, path)
    assert ok
    new_df = spark.createDataFrame(
        [("fresh.c", "2021-07-07")], "path string, date string"
    ).withColumn("date", F.to_date("date"))
    new_df.withColumn("month", F.date_format("date", "yyyyMM")).write.mode(
        "append"
    ).partitionBy("month").parquet(path)
    assert table_layout(spark, path) == "partitioned"
    assert {r["path"] for r in spark.read.parquet(path).collect()} == {
        "legacy.b",
        "fresh.c",
    }


def test_failed_partitioned_write_invalidates_memo(spark, tmp_path, monkeypatch):
    """A failed write through write_table re-raises and drops the memo
    entry via forget_layout, so the next batch re-probes instead of
    trusting a verdict the failed write may have invalidated."""
    _reset_memo()
    path = str(tmp_path / "t")
    key = os.path.abspath(path)
    with layout_mod._KNOWN_LOCK:
        layout_mod._KNOWN_PARTITIONED.add(key)
        layout_mod._KNOWN_FLAT.add(key)

    def boom(self, *args, **kwargs):
        raise OSError("disk gone")

    monkeypatch.setattr(DataFrameWriter, "parquet", boom)
    df = spark.createDataFrame(
        [("a.b", "2021-07-05")], "path string, date string"
    ).withColumn("date", F.to_date("date"))
    with pytest.raises(OSError, match="disk gone"):
        write_table(df, path)
    with layout_mod._KNOWN_LOCK:
        assert key not in layout_mod._KNOWN_PARTITIONED
        assert key not in layout_mod._KNOWN_FLAT


def test_bulk_loaded_root_is_born_partitioned(spark, tmp_path, monkeypatch):
    """ingest_and_store writes all four tables month-partitioned, so a
    following exists-cache append runs no migration (the bulk loader
    used to leave index/tagged flat, and the first append migrated)."""
    _reset_memo()
    root = str(tmp_path)
    ingest_and_store(
        _points(
            spark,
            ["bulk.host1.cpu 1.0 %d" % NOW1, "cpu;host=h1 2.0 %d" % NOW1],
            now=NOW1,
        ),
        root,
        IngestConfig(now=NOW1),
    )
    names = ("points", "points_reverse", "index", "tagged")
    for name in names:
        assert table_layout(spark, os.path.join(root, name)) == "partitioned", name

    def no_migration(*args, **kwargs):
        raise AssertionError("bulk-loaded root needed a migration")

    monkeypatch.setattr(layout_mod, "migrate_flat_to_partitioned", no_migration)
    write_tables(
        derive_tables(
            _points(
                spark,
                ["tail.host2.mem 3.0 %d" % NOW2, "mem;host=h2 4.0 %d" % NOW2],
                now=NOW2,
            ),
            IngestConfig(now=NOW2),
        ),
        root,
        existing_index=read_table(spark, root, "index"),
        existing_tagged=read_table(spark, root, "tagged"),
    )
    for name in names:
        assert table_layout(spark, os.path.join(root, name)) == "partitioned", name
    index_paths = {r["path"] for r in read_table(spark, root, "index").collect()}
    assert {"bulk.host1.cpu", "tail.host2.mem"} <= index_paths


def test_bulk_load_without_tagged_series_stays_compactable(spark, tmp_path):
    """A bulk load with no tagged series leaves no _SUCCESS-only
    tagged directory (the partitioned write of an empty frame): every
    table read_table opens can also be opened by compaction's
    inferring reader."""
    from carbon_clickhouse_spark.operators.compaction import compact_replacing
    from carbon_clickhouse_spark.schemas import REPLACING_KEYS

    _reset_memo()
    root = str(tmp_path)
    ingest_and_store(
        _points(spark, ["plain.only.cpu 1.0 %d" % NOW1], now=NOW1),
        root,
        IngestConfig(now=NOW1),
    )
    for name in ("index", "tagged"):
        if read_table(spark, root, name) is not None:
            compact_replacing(spark, os.path.join(root, name), REPLACING_KEYS[name])
    assert {r["path"] for r in read_table(spark, root, "index").collect()} >= {
        "plain.only.cpu"
    }


def test_batch_series_append_onto_stream_partitioned_series(spark, tmp_path):
    """The stream writes the legacy ``series`` table month-partitioned;
    a write_tables append of the same table must keep that layout (it
    used to append flat, leaving a mixed directory whose reads returned
    only the old row)."""
    _reset_memo()
    root = str(tmp_path)
    path = os.path.join(root, "series")
    old = derive_tables(
        _points(spark, ["old.s 1.0 %d" % NOW1], now=NOW1),
        IngestConfig(now=NOW1, legacy_tables=("series",)),
    )["series"]
    # the streaming writer's layout for a date-carrying series table
    old.withColumn("month", F.date_format("date", "yyyyMM")).write.partitionBy(
        "month"
    ).parquet(path)
    assert table_layout(spark, path) == "partitioned"

    write_tables(
        derive_tables(
            _points(spark, ["new.s 2.0 %d" % NOW2], now=NOW2),
            IngestConfig(now=NOW2, legacy_tables=("series",)),
        ),
        root,
    )
    assert table_layout(spark, path) == "partitioned"
    assert {r["path"] for r in read_table(spark, root, "series").collect()} == {
        "old.s",
        "new.s",
    }


def test_collector_flush_onto_legacy_flat_points(spark, tmp_path):
    """A self-metrics collector's local flush is a points append like
    any other: onto a legacy flat points table it migrates first, so
    the flat history stays readable."""
    from carbon_clickhouse_spark.streaming.collector import SelfMetricsCollector

    _reset_memo()
    root = str(tmp_path)
    path = os.path.join(root, "points")
    derive_tables(
        _points(spark, ["legacy.flat.cpu 1.0 %d" % NOW1], now=NOW1),
        IngestConfig(now=NOW1),
    )["points"].write.parquet(path)
    assert table_layout(spark, path) == "flat"

    col = SelfMetricsCollector(
        spark, path, prefix="carbon.agents.h", flush_every=1000,
        flush_interval_s=9999,
    )
    col.add("metricsReceived", 3.0)
    col.flush()

    assert table_layout(spark, path) == "partitioned"
    assert {r["path"] for r in read_table(spark, root, "points").collect()} == {
        "legacy.flat.cpu",
        "carbon.agents.h.tcp.metricsReceived",
    }
