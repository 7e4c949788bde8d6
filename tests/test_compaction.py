"""Compaction jobs: physical ReplacingMergeTree / rollup application."""

import datetime as dt

from pyspark.sql import functions as F

from carbon_clickhouse_spark.operators.compaction import (
    compact_replacing,
    compact_rollup,
)
from carbon_clickhouse_spark.operators.rollup import Retention, RollupRule

D = dt.date(2021, 7, 5)


def test_compact_replacing(spark, tmp_path):
    path = str(tmp_path / "index")
    df = spark.createDataFrame(
        [
            (D, 4, "a.b", 1),
            (D, 4, "a.b", 9),  # newer version wins
            (D, 4, "c.d", 3),
        ],
        "date date, level int, path string, version long",
    )
    df.write.parquet(path)
    compact_replacing(spark, path, ["date", "level", "path"])
    got = {(r.path, r.version) for r in spark.read.parquet(path).collect()}
    assert got == {("a.b", 9), ("c.d", 3)}


def test_compact_rollup(spark, tmp_path):
    path = str(tmp_path / "points")
    df = spark.createDataFrame(
        [
            ("m.avg", 1.0, 1000, D, 5),
            ("m.avg", 3.0, 1010, D, 6),
            ("m.sum", 2.0, 1000, D, 5),
            ("m.sum", 4.0, 1010, D, 5),
        ],
        "path string, value double, time long, date date, version long",
    )
    df.withColumn("month", F.date_format("date", "yyyyMM")).write.partitionBy(
        "month"
    ).parquet(path)
    rules = (
        RollupRule(r"\.sum$", "sum", (Retention(0, 60),)),
        RollupRule("", "avg", (Retention(0, 60),)),
    )
    compact_rollup(spark, path, rules, now=10000)
    got = {
        (r.path, r.time): r.value for r in spark.read.parquet(path).collect()
    }
    assert got == {("m.avg", 960): 2.0, ("m.sum", 960): 6.0}


def test_compact_rollup_month_scoped_preserves_other_months(spark, tmp_path):
    """Incremental (months=[...]) compaction rewrites ONLY the selected
    month partitions — dynamic partition overwrite, never a whole-table
    swap."""
    import glob

    path = str(tmp_path / "points")
    d_jul, d_aug = dt.date(2021, 7, 5), dt.date(2021, 8, 5)
    t_jul, t_aug = 1625478240, 1628156640
    df = spark.createDataFrame(
        [
            ("m.avg", 1.0, t_jul, d_jul, 0),
            ("m.avg", 3.0, t_jul + 10, d_jul, 0),
            ("m.avg", 7.0, t_aug, d_aug, 0),
            ("m.avg", 9.0, t_aug + 10, d_aug, 0),
        ],
        "path string, value double, time long, date date, version long",
    )
    df.withColumn("month", F.date_format("date", "yyyyMM")).write.partitionBy(
        "month"
    ).parquet(path)
    aug_files_before = sorted(glob.glob(path + "/month=202108/*.parquet"))

    rules = (RollupRule("", "avg", (Retention(0, 60),)),)
    compact_rollup(spark, path, rules, now=t_aug + 100, months=["202107"])

    # July rolled up to one 60s bucket; August rows byte-identical
    got = {(r.path, r.time): r.value for r in spark.read.parquet(path).collect()}
    jul_bucket = t_jul - t_jul % 60
    assert got[("m.avg", jul_bucket)] == 2.0
    assert got[("m.avg", t_aug)] == 7.0 and got[("m.avg", t_aug + 10)] == 9.0
    assert sorted(glob.glob(path + "/month=202108/*.parquet")) == aug_files_before
    # no staging debris
    assert glob.glob(str(tmp_path) + "/*._compacting") == []


def test_compact_replacing_month_scoped(spark, tmp_path):
    """compact_replacing on a month-partitioned table with months=[...]
    merges the selected month and leaves the rest alone."""
    path = str(tmp_path / "tagged")
    d_jul, d_aug = dt.date(2021, 7, 5), dt.date(2021, 8, 5)
    df = spark.createDataFrame(
        [
            (d_jul, "env=p", "a?env=p", 1, "202107"),
            (d_jul, "env=p", "a?env=p", 9, "202107"),  # newer version wins
            (d_aug, "env=p", "a?env=p", 2, "202108"),
            (d_aug, "env=p", "a?env=p", 5, "202108"),
        ],
        "date date, tag1 string, path string, version long, month string",
    )
    df.write.partitionBy("month").parquet(path)
    compact_replacing(
        spark, path, ["date", "tag1", "path"], months=["202107"]
    )
    got = spark.read.parquet(path)
    jul = got.filter(F.col("month") == "202107").collect()
    aug = got.filter(F.col("month") == "202108").collect()
    assert [r.version for r in jul] == [9]
    assert sorted(r.version for r in aug) == [2, 5]  # untouched


def test_ingest_and_store_bulk(spark, tmp_path):
    from carbon_clickhouse_spark.pipeline import IngestConfig, ingest_and_store
    from carbon_clickhouse_spark.sources.plain import parse_plain_lines

    lines = spark.createDataFrame(
        [
            ("a.b.c 1.5 1625478240",),
            ("x;env=p 2.5 1625478300",),
        ],
        ["line"],
    )
    points = parse_plain_lines(lines, now=1625478400)
    root = str(tmp_path / "t")
    ingest_and_store(points, root, IngestConfig(now=1625478400))
    pts = spark.read.parquet(f"{root}/points")
    assert pts.count() == 2
    rev = {r.path for r in spark.read.parquet(f"{root}/points_reverse").collect()}
    assert rev == {"c.b.a", "x?env=p"}
    idx = spark.read.parquet(f"{root}/index")
    # 'a.b.c' appears as the tree row (20003) and the daily row (3);
    # the reversed form 'c.b.a' carries the +10000/+30000 levels
    assert idx.filter(idx.path == "a.b.c").count() == 2
    assert idx.filter(idx.path == "c.b.a").count() == 2
    tg = spark.read.parquet(f"{root}/tagged")
    assert {r.tag1 for r in tg.collect()} == {"__name__=x", "env=p"}


def test_compact_rollup_incremental_month_selection(spark, tmp_path):
    """Auto month selection: the first run compacts everything and
    records per-month post-rewrite mtimes; an immediately repeated
    run (same `now`, no new files) compacts NOTHING; a file appended
    to one month re-selects exactly that month; a rules change
    re-selects everything."""
    import time as _time

    from carbon_clickhouse_spark.operators.compaction import (
        compact_rollup,
        months_needing_rollup,
    )
    from carbon_clickhouse_spark.operators.rollup import (
        Retention,
        RollupRule,
    )

    rules = (
        RollupRule("", "avg", (Retention(0, 1), Retention(3600, 60))),
    )
    jun, jul = 1_622_505_600, 1_625_097_600
    path = str(tmp_path / "points")

    def _write(rows, mode):
        (
            spark.createDataFrame(
                rows, "path string, value double, time long, version long"
            )
            .withColumn("date", F.to_date(F.timestamp_seconds("time")))
            .withColumn(
                "month", F.date_format(F.timestamp_seconds("time"), "yyyyMM")
            )
            .write.mode(mode)
            .partitionBy("month")
            .parquet(path)
        )

    _write(
        [("c.a", 1.0, jun + 30, 1), ("c.a", 2.0, jul + 30, 1)],
        "overwrite",
    )
    now = int(_time.time())
    done1 = compact_rollup(spark, path, rules=rules, now=now)
    assert sorted(done1) == ["202106", "202107"]  # first run: all
    # quiet cycle, clock unmoved: nothing qualifies
    assert months_needing_rollup(spark, path, rules, now=now) == []
    done2 = compact_rollup(spark, path, rules=rules, now=now)
    assert done2 == []

    # a late point lands in June only
    _time.sleep(1.1)  # parquet mtimes are second-granular on some FS
    _write([("c.a", 9.0, jun + 31, 2)], "append")
    sel = months_needing_rollup(spark, path, rules, now=now)
    assert sel == ["202106"]
    done3 = compact_rollup(spark, path, rules=rules, now=now)
    assert done3 == ["202106"]
    assert compact_rollup(spark, path, rules=rules, now=now) == []
    # the June data actually compacted (both points in one 60s bucket)
    got = spark.read.parquet(path).filter(F.col("month") == "202106")
    assert got.count() == 1 and got.collect()[0]["value"] == 5.0

    # different rules -> full re-selection
    rules2 = (
        RollupRule("", "max", (Retention(0, 1), Retention(3600, 60))),
    )
    assert months_needing_rollup(spark, path, rules2, now=now) == [
        "202106", "202107",
    ]


def test_compact_rollup_age_boundary_sweep(spark, tmp_path):
    """A month with NO new files still re-selects when a retention
    age boundary swept across its timestamps since the last run."""
    import time as _time

    from carbon_clickhouse_spark.operators.compaction import (
        compact_rollup,
        months_needing_rollup,
    )
    from carbon_clickhouse_spark.operators.rollup import (
        Retention,
        RollupRule,
    )

    jun = 1_622_505_600  # 2021-06
    age = 3600
    rules = (
        RollupRule("", "avg", (Retention(0, 1), Retention(age, 60))),
    )
    path = str(tmp_path / "points")
    (
        spark.createDataFrame(
            [("s.a", 1.0, jun + 100, 1)],
            "path string, value double, time long, version long",
        )
        .withColumn("date", F.to_date(F.timestamp_seconds("time")))
        .withColumn(
            "month", F.date_format(F.timestamp_seconds("time"), "yyyyMM")
        )
        .write.mode("overwrite")
        .partitionBy("month")
        .parquet(path)
    )
    # first run "before" the point ages past the boundary
    t1 = jun + 100 + age - 50
    assert compact_rollup(spark, path, rules=rules, now=t1) == ["202106"]
    # clock moves past the point's age boundary: (t1-age, t2-age]
    # covers jun+100 -> the month re-selects with no new files
    t2 = jun + 100 + age + 50
    assert months_needing_rollup(spark, path, rules, now=t2) == ["202106"]
    assert compact_rollup(spark, path, rules=rules, now=t2) == ["202106"]
    # and then goes quiet again
    assert months_needing_rollup(spark, path, rules, now=t2) == []


def test_compact_replacing_incremental_month_selection(spark, tmp_path):
    """Replacing compaction auto-selects months with new files since
    their recorded post-rewrite mtime: first run = all, quiet cycle =
    none, an appended duplicate re-selects exactly its month, and the
    idle month's files stay byte-identical on disk."""
    import glob
    import hashlib
    import time as _time

    from carbon_clickhouse_spark.operators.compaction import (
        compact_replacing,
    )

    path = str(tmp_path / "index")
    jun, jul = "2021-06-05", "2021-07-05"

    def _write(rows, mode):
        (
            spark.createDataFrame(
                rows, "date string, level int, path string, version long"
            )
            .select(
                F.col("date").cast("date").alias("date"),
                "level", "path", "version",
            )
            .withColumn("month", F.date_format("date", "yyyyMM"))
            .write.mode(mode)
            .partitionBy("month")
            .parquet(path)
        )

    _write(
        [(jun, 1, "a.b", 1), (jun, 1, "a.b", 2), (jul, 1, "a.c", 1)],
        "overwrite",
    )
    keys = ["date", "level", "path"]
    done1 = compact_replacing(spark, path, keys)
    assert sorted(done1) == ["202106", "202107"]
    assert spark.read.parquet(path).count() == 2  # jun deduped to v2
    assert compact_replacing(spark, path, keys) == []  # quiet cycle

    def _snap(month):
        return {
            f.rsplit("/", 1)[-1]: hashlib.md5(open(f, "rb").read()).hexdigest()
            for f in glob.glob(f"{path}/month={month}/*.parquet")
        }

    jul_before = _snap("202107")
    _time.sleep(1.1)  # second-granular mtimes on some filesystems
    _write([(jun, 1, "a.b", 3)], "append")
    done2 = compact_replacing(spark, path, keys)
    assert done2 == ["202106"]
    assert _snap("202107") == jul_before  # idle month byte-identical
    got = {
        (str(r["date"]), r["path"]): r["version"]
        for r in spark.read.parquet(path).collect()
    }
    assert got == {(jun, "a.b"): 3, (jul, "a.c"): 1}
    assert compact_replacing(spark, path, keys) == []


def test_compact_rollup_explicit_months_skip_sidecar(spark, tmp_path):
    """An EXPLICIT partial compact_rollup must not advance the global
    age-boundary watermark: a month left out of the explicit run whose
    points crossed a retention boundary since the last FULL run still
    re-selects afterwards (ADVICE r7: the unconditional sidecar write
    made such a month un-rolled forever)."""
    from carbon_clickhouse_spark.operators.compaction import (
        months_needing_rollup,
    )
    from carbon_clickhouse_spark.operators.rollup import (
        Retention,
        RollupRule,
    )

    jun = 1_622_505_600  # 2021-06
    jul = 1_625_097_600  # 2021-07
    age = 3600
    rules = (
        RollupRule("", "avg", (Retention(0, 1), Retention(age, 60))),
    )
    path = str(tmp_path / "points")
    (
        spark.createDataFrame(
            [("s.a", 1.0, jun + 100, 1), ("s.b", 2.0, jul + 100, 1)],
            "path string, value double, time long, version long",
        )
        .withColumn("date", F.to_date(F.timestamp_seconds("time")))
        .withColumn(
            "month", F.date_format(F.timestamp_seconds("time"), "yyyyMM")
        )
        .write.mode("overwrite")
        .partitionBy("month")
        .parquet(path)
    )
    # full run BEFORE the jun point ages past the boundary
    t0 = jun + 100 + age - 50
    assert compact_rollup(spark, path, rules=rules, now=t0) == [
        "202106",
        "202107",
    ]
    # explicit partial run on jul only, AFTER jun's point crossed the
    # boundary — must leave the sidecar watermark at t0
    t1 = jun + 100 + age + 50
    assert compact_rollup(
        spark, path, rules=rules, now=t1, months=["202107"]
    ) == ["202107"]
    # the next incremental selection still sweeps from t0 and finds jun
    t2 = t1 + 10
    assert "202106" in months_needing_rollup(spark, path, rules, now=t2)
    assert "202106" in compact_rollup(spark, path, rules=rules, now=t2)
    # and only then goes quiet
    assert months_needing_rollup(spark, path, rules, now=t2) == []


def test_rewrites_leave_the_session_conf_alone(spark, tmp_path, monkeypatch):
    """Compaction and the rollup-tier refresh pick their partition
    overwrite mode per write: none of them sets or unsets a session
    conf (the background merger runs them on the stream's own session)."""
    from pyspark.sql.conf import RuntimeConfig

    from carbon_clickhouse_spark.streaming.analytics import rebuild_rollup_tier

    root = str(tmp_path)
    jun, jul = 1_622_505_600, 1_625_097_600

    def _points(rows, mode):
        (
            spark.createDataFrame(
                rows, "path string, value double, time long, version long"
            )
            .withColumn("date", F.to_date(F.timestamp_seconds("time")))
            .withColumn("month", F.date_format("date", "yyyyMM"))
            .write.mode(mode)
            .partitionBy("month")
            .parquet(f"{root}/points")
        )

    _points([("c.a", 1.0, jun + 30, 1), ("c.a", 2.0, jul + 30, 1)], "overwrite")
    spark.createDataFrame(
        [(dt.date(2021, 6, 5), 1, "c.a", 1), (dt.date(2021, 6, 5), 1, "c.a", 2)],
        "date date, level int, path string, version long",
    ).withColumn("month", F.date_format("date", "yyyyMM")).write.partitionBy(
        "month"
    ).parquet(f"{root}/index")

    calls = []
    for name in ("set", "unset"):
        real = getattr(RuntimeConfig, name)

        def spy(self, *args, _real=real, _name=name):
            calls.append((_name, args))
            return _real(self, *args)

        monkeypatch.setattr(RuntimeConfig, name, spy)

    horizon = jul + 3600
    assert rebuild_rollup_tier(spark, root, precision_s=60, up_to=horizon) == 2
    _points([("c.a", 9.0, jun + 31, 2)], "append")
    # incremental: the late June month plus the boundary-version month
    assert rebuild_rollup_tier(spark, root, up_to=horizon) == 2
    compact_replacing(
        spark, f"{root}/index", ["date", "level", "path"], months=["202106"]
    )
    compact_rollup(
        spark, f"{root}/points",
        (RollupRule("", "avg", (Retention(0, 60),)),),
        now=horizon, months=["202106"],
    )
    assert calls == []
    assert [r.version for r in spark.read.parquet(f"{root}/index").collect()] == [2]
