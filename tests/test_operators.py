"""Operator unit tests: paths, index, tagged, dedup, rollup, filters."""

import datetime as dt

from pyspark.sql import functions as F

from carbon_clickhouse_spark.functions.paths import (
    ancestor_prefixes,
    normalize_double_dot,
    path_level,
    path_reverse,
)
from carbon_clickhouse_spark.operators.dedup import (
    new_series_only,
    replacing_latest,
    replacing_latest_window,
)
from carbon_clickhouse_spark.operators.filters import (
    drop_rule_predicate,
    ignored_patterns_predicate,
)
from carbon_clickhouse_spark.operators.index import build_index
from carbon_clickhouse_spark.operators.rollup import (
    DEFAULT_RULES,
    Retention,
    RollupRule,
    rollup,
)
from carbon_clickhouse_spark.operators.tagged import build_tagged

D = dt.date(2021, 7, 5)


def _points(spark, rows):
    return spark.createDataFrame(
        rows, "path string, value double, time long, date date, version long"
    )


def test_path_exprs(spark):
    # vectors: receiver/plain_test.go:113-121 (double dot),
    # helper/RowBinary/reverse_test.go (segment reverse)
    df = spark.createDataFrame(
        [("hello..world",), ("..hello..world..",), (".....",), ("hello.world",)],
        ["p"],
    )
    got = df.select(normalize_double_dot(F.col("p")).alias("n")).collect()
    assert [r.n for r in got] == ["hello.world", ".hello.world.", ".", "hello.world"]

    df2 = spark.createDataFrame(
        [("a1.b2.c3",), ("a1",), ("cpu.load?env=test",)], ["p"]
    )
    got2 = df2.select(
        path_reverse("p").alias("r"), path_level("p").alias("l")
    ).collect()
    assert got2[0].r == "c3.b2.a1" and got2[0].l == 3
    assert got2[1].r == "a1" and got2[1].l == 1
    # tagged paths never reverse (helper/RowBinary/reader.go:125-127)
    assert got2[2].r == "cpu.load?env=test"

    got3 = df2.select(ancestor_prefixes("p").alias("a")).collect()
    assert got3[0].a == ["a1.", "a1.b2."]
    assert got3[1].a == []


def test_build_index_golden(spark):
    # golden from tests/plain/test.toml:109-120
    pts = _points(spark, [("test.host1.cpu.loadavg", 10.2, 1625478240, D, 7)])
    rows = {
        (str(r.date), r.level, r.path): r.version
        for r in build_index(pts).collect()
    }
    assert set(rows) == {
        ("1970-02-12", 20001, "test."),
        ("1970-02-12", 20002, "test.host1."),
        ("1970-02-12", 20003, "test.host1.cpu."),
        ("1970-02-12", 20004, "test.host1.cpu.loadavg"),
        ("1970-02-12", 30004, "loadavg.cpu.host1.test"),
        ("2021-07-05", 4, "test.host1.cpu.loadavg"),
        ("2021-07-05", 10004, "loadavg.cpu.host1.test"),
    }
    assert all(v == 7 for v in rows.values())


def test_build_index_no_daily_and_tagged_excluded(spark):
    pts = _points(
        spark,
        [
            ("a.b", 1.0, 1625478240, D, 1),
            ("name?env=test", 1.0, 1625478240, D, 1),
        ],
    )
    rows = {(r.level, r.path) for r in build_index(pts, disable_daily=True).collect()}
    assert rows == {(20001, "a."), (20002, "a.b"), (30002, "b.a")}


def test_build_tagged_golden(spark):
    # golden from tests/plain/test.toml:136-141
    pts = _points(
        spark,
        [
            ("cpu.loadavg?env=test&host=host1", 2.1, 1625478240, D, 3),
            ("test.host1.cpu.loadavg", 10.2, 1625478240, D, 3),  # untagged: skipped
        ],
    )
    rows = build_tagged(pts).collect()
    expected_tags = ["__name__=cpu.loadavg", "env=test", "host=host1"]
    assert sorted((r.tag1, r.path) for r in rows) == [
        ("__name__=cpu.loadavg", "cpu.loadavg?env=test&host=host1"),
        ("env=test", "cpu.loadavg?env=test&host=host1"),
        ("host=host1", "cpu.loadavg?env=test&host=host1"),
    ]
    assert all(sorted(r.tags) == expected_tags for r in rows)


def test_build_tagged_ignored_metrics(spark):
    # F7: uploader/tagged.go:145-165 — only __name__ row for ignored names
    pts = _points(spark, [("cpu.loadavg?env=test&host=host1", 2.1, 1625478240, D, 3)])
    rows = build_tagged(pts, ignored_metrics=["cpu.loadavg"]).collect()
    assert [(r.tag1) for r in rows] == ["__name__=cpu.loadavg"]
    assert sorted(rows[0].tags) == ["__name__=cpu.loadavg", "env=test", "host=host1"]


def test_replacing_latest(spark):
    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("b", 5, 30)], "k string, v int, version long"
    )
    for impl in (replacing_latest, replacing_latest_window):
        got = {(r.k, r.v, r.version) for r in impl(df, ["k"]).collect()}
        assert got == {("a", 2, 20), ("b", 5, 30)}


def test_new_series_only(spark):
    inc = spark.createDataFrame([("a", 1), ("b", 2)], "path string, version int")
    ex = spark.createDataFrame([("a",)], "path string")
    got = new_series_only(inc, ex, ["path"]).collect()
    assert [(r.path, r.version) for r in got] == [("b", 2)]


def test_rollup_rules(spark):
    # rules mirror tests/clickhouse/rollup/rollup.xml: .sum$ -> sum,
    # .max$ -> max, .min$ -> min, default avg; first match wins
    pts = _points(
        spark,
        [
            ("m.sum", 1.0, 100, D, 0),
            ("m.sum", 2.0, 110, D, 0),
            ("m.max", 1.0, 100, D, 0),
            ("m.max", 5.0, 110, D, 0),
            ("m.avg", 1.0, 100, D, 0),
            ("m.avg", 3.0, 110, D, 0),
            ("m.avg", 100.0, 260, D, 0),
        ],
    )
    got = {
        (r.path, r.time): r.value
        for r in rollup(pts, precision_s=60).collect()
    }
    assert got == {
        ("m.sum", 60): 3.0,
        ("m.max", 60): 5.0,
        ("m.avg", 60): 2.0,
        ("m.avg", 240): 100.0,
    }


def test_rollup_age_based_precision(spark):
    rules = (
        RollupRule("", "avg", (Retention(0, 60), Retention(1000, 600))),
    )
    now = 10000
    pts = _points(
        spark,
        [
            ("m", 1.0, 9500, D, 0),   # age 500 -> 60s buckets
            ("m", 3.0, 9510, D, 0),
            ("m", 5.0, 8000, D, 0),   # age 2000 -> 600s buckets
            ("m", 7.0, 8100, D, 0),
        ],
    )
    got = {(r.path, r.time): r.value for r in rollup(pts, rules, now=now).collect()}
    assert got == {("m", 9480): 2.0, ("m", 7800): 6.0}


def test_rollup_function_only_pattern_inherits_retention(spark):
    """GraphiteMergeTree resolves function and retention from
    INDEPENDENT first matches: a function-only ``\\.sum$`` pattern must
    inherit the default rule's retentions, not fall back to raw
    precision."""
    rules = (
        RollupRule(r"\.sum$", "sum"),  # function only — no retentions
        RollupRule("", "avg", (Retention(0, 60),)),
    )
    pts = _points(
        spark,
        [
            ("m.sum", 1.0, 100, D, 0),
            ("m.sum", 2.0, 110, D, 0),
            ("m.avg", 4.0, 100, D, 0),
            ("m.avg", 6.0, 110, D, 0),
        ],
    )
    got = {(r.path, r.time): r.value for r in rollup(pts, rules, now=200).collect()}
    # .sum rows summed AND bucketed at the default rule's 60s precision
    assert got == {("m.sum", 60): 3.0, ("m.avg", 60): 5.0}


def test_rollup_retention_only_pattern_inherits_function(spark):
    """Retention-only pattern: function comes from the next
    function-bearing match (the default's avg)."""
    rules = (
        RollupRule(r"^hf\.", None, (Retention(0, 10),)),  # retention only
        RollupRule("", "avg", (Retention(0, 60),)),
    )
    pts = _points(
        spark,
        [
            ("hf.m", 2.0, 101, D, 0),
            ("hf.m", 4.0, 109, D, 0),
            ("other", 2.0, 101, D, 0),
            ("other", 4.0, 119, D, 0),
        ],
    )
    got = {(r.path, r.time): r.value for r in rollup(pts, rules, now=200).collect()}
    assert got == {("hf.m", 100): 3.0, ("other", 60): 3.0}


def test_rollup_default_rules_keep_raw_precision(spark):
    """DEFAULT_RULES literally mirror rollup.xml: precision 1 at age 0
    — no downsampling, function still per-pattern."""
    pts = _points(spark, [("m.sum", 1.0, 100, D, 0), ("m.sum", 2.0, 160, D, 0)])
    got = {(r.path, r.time): r.value for r in rollup(pts, DEFAULT_RULES, now=200).collect()}
    assert got == {("m.sum", 100): 1.0, ("m.sum", 160): 2.0}


def test_drop_rules(spark):
    df = _points(
        spark,
        [
            ("ok", 1.0, 1000, D, 0),
            ("future", 1.0, 2000, D, 0),
            ("past", 1.0, 10, D, 0),
            ("toolongname", 1.0, 1000, D, 0),
        ],
    )
    keep = drop_rule_predicate(
        now=1000, drop_future_seconds=100, drop_past_seconds=500, drop_longer_than=8
    )
    assert {r.path for r in df.filter(keep).collect()} == {"ok"}


def test_ignored_patterns(spark):
    # uploader/filter_test.go semantics: glob *, tagged exempt
    df = spark.createDataFrame(
        [("a1.b2.x.c3",), ("a1.b2.x.d4",), ("other.path",), ("a1.b2?x=1",)],
        ["path"],
    )
    keep = ignored_patterns_predicate(["a1.b2.*.c3"])
    assert {r.path for r in df.filter(keep).collect()} == {
        "a1.b2.x.d4",
        "other.path",
        "a1.b2?x=1",
    }


def test_build_tree_legacy(spark):
    from carbon_clickhouse_spark.operators.index import build_tree

    pts = _points(
        spark,
        [
            ("a.b.c", 1.0, 100, D, 5),
            ("name?env=x", 1.0, 100, D, 5),  # tagged skipped
        ],
    )
    rows = {(r.level, r.path) for r in build_tree(pts).collect()}
    assert rows == {(3, "a.b.c"), (2, "a.b."), (1, "a.")}
    dated = build_tree(pts, tree_date="1970-02-12").collect()
    assert all(str(r.date) == "1970-02-12" for r in dated)


def test_build_series_legacy(spark):
    from carbon_clickhouse_spark.operators.index import build_series

    pts = _points(
        spark,
        [
            ("a.b", 1.0, 100, D, 5),
            ("a.b", 2.0, 160, D, 9),
            ("name?env=x", 1.0, 100, D, 5),
        ],
    )
    rows = [(str(r.date), r.level, r.path, r.version) for r in build_series(pts).collect()]
    assert rows == [("2021-07-05", 2, "a.b", 9)]
    rev = build_series(pts, reverse=True).collect()
    assert [r.path for r in rev] == ["b.a"]


def test_rollup_hot_key_skew(spark):
    """A single hot path carrying 50% of all points must neither skew
    the aggregate nor change results: rollup's groupBy key includes
    the time bucket AND the plan keeps map-side partial aggregation,
    so each task pre-collapses its slice of the hot series to one row
    per bucket before the shuffle — reduce-side input per key is
    bounded by the task count, not the point count (with AQE skew
    handling on top for residual imbalance; see SCALING.md)."""
    from pyspark.sql import functions as F

    n_hot = 20_000
    hot = spark.range(n_hot).select(
        F.lit("hot.metric.sum").alias("path"),
        (F.col("id") % 7 + 1.0).alias("value"),
        (F.lit(1_000_000) + F.col("id") % 600).cast("long").alias("time"),
        F.lit(D).alias("date"),
        F.lit(0).alias("version"),
    )
    cold = spark.range(n_hot).select(
        F.concat(F.lit("cold.m"), F.col("id") % 500, F.lit(".sum")).alias("path"),
        F.lit(1.0).alias("value"),
        (F.lit(1_000_000) + F.col("id") % 600).cast("long").alias("time"),
        F.lit(D).alias("date"),
        F.lit(0).alias("version"),
    )
    pts = hot.unionAll(cold).repartition(16)

    out = rollup(pts, precision_s=600)

    # partial + final aggregate pair in the physical plan: the
    # map-side combine is what makes the hot key scale-safe
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2, plan

    rows = {(r.path, r.time): r.value for r in out.collect()}
    # hot series: one bucket, sum over all 20k points
    hot_expect = float(sum((i % 7) + 1 for i in range(n_hot)))
    assert rows[("hot.metric.sum", 999_600)] + rows[
        ("hot.metric.sum", 1_000_200)
    ] == hot_expect
    # every cold series aggregated independently and correctly
    assert rows[("cold.m0.sum", 999_600)] + rows[("cold.m0.sum", 1_000_200)] == 40.0
    assert len(rows) == 2 + 2 * 500


def test_bucketed_points_shuffle_free(spark):
    """write_tables_bucketed: per-series stages over the bucketed
    points table run with ZERO Exchange — the bucket layout satisfies
    the clustering every (path, ...) groupBy/window asks for — and
    results are identical to the plain-parquet path."""
    from pyspark.sql import functions as F

    from carbon_clickhouse_spark.pipeline import (
        IngestConfig,
        derive_tables,
        write_tables_bucketed,
    )

    pts = _points(
        spark,
        [(f"m.{i % 20}.sum", float(i % 7), 1_000_000 + i, D, 0) for i in range(2000)],
    )
    names = write_tables_bucketed(
        derive_tables(pts, IngestConfig()), buckets=4, name_prefix="t_bkt"
    )
    stored = spark.table(names["points"])

    agg = rollup(stored, precision_s=600)
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan

    from pyspark.sql.window import Window

    win = stored.select(
        "path",
        "time",
        F.sum("value").over(Window.partitionBy("path").orderBy("time")).alias("cum"),
    )
    planw = win._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in planw, planw

    expect = {
        (r.path, r.time): r.value for r in rollup(pts, precision_s=600).collect()
    }
    got = {(r.path, r.time): r.value for r in agg.collect()}
    assert got == expect
    for name in names.values():
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_rules_from_xml():
    """The reference's own rollup.xml parses into RollupRules."""
    import os

    import pytest

    from carbon_clickhouse_spark.operators.rollup import rules_from_xml

    ref = "/root/reference/tests/clickhouse/rollup/rollup.xml"
    if not os.path.exists(ref):  # pragma: no cover - sandbox layout
        pytest.skip("reference rollup.xml not available")
    got = rules_from_xml(ref)
    assert [(r.pattern, r.function) for r in got] == [
        (r"\.sum$", "sum"), (r"\.min$", "min"), (r"\.max$", "max"), ("", "avg"),
    ]
    assert all(r.retentions == (Retention(0, 1),) for r in got)


_ROLLUP_XML = (
    "<graphite_rollup>"
    "<pattern><regexp>^m\\.</regexp>"
    "<retention><age>0</age><precision>60</precision></retention>"
    "<retention><age>2592000</age><precision>3600</precision></retention>"
    "</pattern>"
    "<pattern><regexp>\\.count$</regexp><function>sum</function></pattern>"
    "<default><function>avg</function>"
    "<retention><age>0</age><precision>60</precision></retention></default>"
    "</graphite_rollup>"
)


def test_rules_from_xml_text():
    """ClickHouse graphite_rollup XML text parses into RollupRules:
    document order, trailing default, retention-only and
    function-only patterns, server-config wrapper tolerated."""
    from carbon_clickhouse_spark.operators.rollup import rules_from_xml_text

    r = rules_from_xml_text(_ROLLUP_XML)
    assert r[0].function is None and len(r[0].retentions) == 2
    assert r[1].function == "sum" and r[1].retentions == ()
    assert r[2].pattern == "" and r[2].function == "avg"
    wrapped = f"<clickhouse>{_ROLLUP_XML}</clickhouse>"
    assert rules_from_xml_text(wrapped) == r


def test_rules_from_xml_reads_path_and_names_a_missing_one(tmp_path):
    """A --rollup-conf path is read as a file; a mistyped one raises
    FileNotFoundError naming it instead of being parsed as XML."""
    import pytest

    from carbon_clickhouse_spark.operators.rollup import (
        rules_from_xml,
        rules_from_xml_text,
    )

    conf = tmp_path / "rollup.xml"
    conf.write_text(_ROLLUP_XML)
    assert rules_from_xml(str(conf)) == rules_from_xml_text(_ROLLUP_XML)
    missing = str(tmp_path / "rolup.xml")
    with pytest.raises(FileNotFoundError, match="rolup.xml"):
        rules_from_xml(missing)
