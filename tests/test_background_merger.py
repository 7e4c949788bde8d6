"""BackgroundMerger: ClickHouse-style continuous merges driven by the
streaming pipeline — cadence, month tracking, physical effect on the
four tables, and insert/merge lock exclusion."""

import os
import time

import pytest
from pyspark.sql import functions as F

from carbon_clickhouse_spark.pipeline import IngestConfig
from carbon_clickhouse_spark.streaming.ingest import (
    StreamConfig,
    file_landing_source,
    start_plain_ingest,
)
from carbon_clickhouse_spark.streaming.merger import BackgroundMerger


def test_cadence_and_pending_months(spark, tmp_path):
    """observe() fires every N batches; months accumulate between
    firings and reset after."""
    import datetime

    fired = []

    class Probe(BackgroundMerger):
        def _run_cycle(self, spark, months):
            fired.append(months)
            with self._lock:
                self.cycles += 1

    m = Probe(str(tmp_path), every_batches=3, synchronous=True)
    d1 = datetime.date(2021, 7, 5)
    d2 = datetime.date(2021, 8, 1)
    m.observe(spark, [d1])
    m.observe(spark, None)  # un-probed batch still counts toward cadence
    assert fired == []
    m.observe(spark, [d1, d2])
    assert fired == [["202107", "202108"]]
    assert m.cycles == 1
    # pending reset: next window starts empty
    m.observe(spark, None)
    m.observe(spark, None)
    m.observe(spark, None)
    assert fired[1] is None  # no months observed -> merge all partitions


def test_rejects_bad_cadence(tmp_path):
    with pytest.raises(ValueError):
        BackgroundMerger(str(tmp_path), every_batches=0)


def test_streaming_with_background_merges(spark, tmp_path):
    """End-to-end: duplicate-heavy waves through the ingest stream with
    an every-batch synchronous merger — the points table is physically
    rolled up (one row per (path, hour bucket)) and the index table
    holds one max-version row per key, while results stay correct."""
    from carbon_clickhouse_spark.operators.rollup import Retention, RollupRule

    landing = tmp_path / "landing"
    landing.mkdir()
    root = str(tmp_path / "tables")

    # 1-hour buckets from age 0 so the rollup visibly collapses rows
    rules = (RollupRule("", "avg", (Retention(0, 3600),)),)
    merger = BackgroundMerger(
        root, every_batches=1, rules=rules, now=1625478400, synchronous=True
    )
    cfg = StreamConfig(
        root=root,
        chunk_interval="500 milliseconds",
        ingest=IngestConfig(now=1625478400),
        audit_dropped=False,
        merger=merger,
    )
    # two samples inside the same hour for the same path -> avg
    (landing / "w1.txt").write_text(
        "m.cpu 10 1625400000\nm.cpu 30 1625400060\nm.mem 5 1625400000\n"
    )
    q = start_plain_ingest(spark, file_landing_source(spark, str(landing)), cfg)
    try:
        q.processAllAvailable()
        # second wave: same series again (exists-cache + replacing
        # merge keep index stable), new points in the same hour
        (landing / "w2.txt").write_text("m.cpu 50 1625400120\n")
        q.processAllAvailable()
        assert q.exception() is None
    finally:
        q.stop()
    merger.close()
    assert merger.cycles >= 2

    pts = spark.read.parquet(f"{root}/points")
    rows = {r["path"]: r for r in pts.collect()}
    # physically merged: one row per (path, bucket)
    assert pts.count() == 2
    # avg(avg(10,30), 50) = 35: incremental merges re-aggregate the
    # already-rolled row — GraphiteMergeTree's documented lossy avg
    # semantics when a collapsed part merges with new rows
    assert rows["m.cpu"]["value"] == pytest.approx(35.0)
    assert rows["m.cpu"]["time"] == 1625400000  # bucket-aligned
    assert rows["m.mem"]["value"] == pytest.approx(5.0)
    # month partition column survives the rewrite
    assert os.path.isdir(f"{root}/points/month=202107")

    idx = spark.read.parquet(f"{root}/index")
    keys = idx.select("date", "level", "path")
    assert keys.count() == keys.distinct().count()


def test_async_merge_thread_joins_on_close(spark, tmp_path):
    """The async path actually runs in a thread and close() waits."""
    import datetime

    started = []

    class Slow(BackgroundMerger):
        def _run_cycle(self, spark, months):
            started.append(months)
            time.sleep(0.5)
            with self._lock:
                self.cycles += 1

    m = Slow(str(tmp_path), every_batches=1)
    m.observe(spark, [datetime.date(2021, 7, 5)])
    # busy pool: a firing while the cycle runs is skipped, months kept
    m.observe(spark, [datetime.date(2021, 9, 1)])
    m.close()
    assert m.cycles == 1
    assert started == [["202107"]]
    # the skipped month is still pending for the next firing
    m.observe(spark, None)
    m.close()
    assert m.cycles == 2
    assert started[1] == ["202109"]


def test_multi_month_skew_merge_isolation(spark, tmp_path):
    """Month-selection policy under skew: one month receives 100x the
    points of another. The merger rewrites ONLY the months the firing
    batches touched — the idle month's files stay byte-identical — and
    concurrent readers during the hot-month rewrite always see a
    complete table (the idle month intact, the hot month at either its
    pre- or post-merge state, never partial)."""
    import datetime
    import threading

    from carbon_clickhouse_spark.operators.rollup import Retention, RollupRule

    root = str(tmp_path / "tables")
    pts_path = f"{root}/points"
    hot_n, idle_n = 20_000, 200
    jul, jun = 1_625_400_000, 1_622_592_000  # 2021-07 / 2021-06

    def rows(base, n, month):
        return [
            (f"skew.p{i % 50}", float(i % 97), base + 3 * i,
             datetime.date.fromtimestamp(base), 0, month)
            for i in range(n)
        ]

    spark.createDataFrame(
        rows(jul, hot_n, "202107") + rows(jun, idle_n, "202106"),
        "path string, value double, time long, date date, version long, month string",
    ).write.partitionBy("month").parquet(pts_path)

    idle_dir = f"{pts_path}/month=202106"
    before = {
        f: (os.path.getsize(f"{idle_dir}/{f}"), os.path.getmtime(f"{idle_dir}/{f}"))
        for f in os.listdir(idle_dir)
    }

    rules = (RollupRule("", "avg", (Retention(0, 3600),)),)
    merger = BackgroundMerger(
        root, every_batches=1, rules=rules, now=jul + 10 * 86400,
    )

    stop = threading.Event()
    idle_counts, hot_counts, errors = [], [], []

    def reader():
        from carbon_clickhouse_spark.operators.layout import table_lock

        while not stop.is_set():
            try:
                # idle month: LOCK-FREE — untouched partitions must
                # stay readable and complete throughout the merge
                idle_counts.append(spark.read.parquet(idle_dir).count())
                # hot month: under the table lock, the documented
                # consistent-read contract while a partition swaps
                # (lock-free readers racing the rewrite may see a
                # transient retryable FILE_NOT_EXIST, never stale data)
                with table_lock(pts_path):
                    hot_counts.append(
                        spark.read.parquet(pts_path)
                        .filter(F.col("month") == "202107")
                        .count()
                    )
            except Exception as e:  # noqa: BLE001
                errors.append(repr(e))

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    # fire: the batch touched ONLY July (the hot month)
    merger.observe(spark, [datetime.date(2021, 7, 5)])
    merger.close(timeout=300)
    stop.set()
    t.join(timeout=30)

    assert merger.cycles == 1
    assert not errors, errors[:3]
    # hot month physically rolled up: 50 paths x 1h buckets << 20k rows
    post = spark.read.parquet(pts_path).filter(F.col("month") == "202107").count()
    assert post < hot_n / 10
    # isolation: every concurrent read saw the idle month complete and
    # the hot month at exactly pre- or post-merge state
    assert idle_counts and set(idle_counts) == {idle_n}
    assert set(hot_counts) <= {hot_n, post}, sorted(set(hot_counts))
    # idle month untouched: same files, same bytes, same mtimes
    after = {
        f: (os.path.getsize(f"{idle_dir}/{f}"), os.path.getmtime(f"{idle_dir}/{f}"))
        for f in os.listdir(idle_dir)
    }
    assert after == before
