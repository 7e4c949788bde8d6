"""The stored-table contract: every table the engine writes under a
root opens through ``schemas.read_table`` with the same columns, types
and rows as schema inference, on the flat and the month-partitioned
layout, without running a Spark job."""

import os

import pytest
from pyspark.sql import functions as F

from carbon_clickhouse_spark.schemas import CONTRACT, read_table

BASE = 1_625_478_000
LINES = [
    "test.host1.cpu.loadavg 10.2 1625478240",
    "test.host2.cpu.loadavg 5.5 1625478300",
    "cpu.loadavg;env=test;host=host1 2.1 1625478240",
    "way.too.far.future 1.0 9999999999",  # dropped by the future rule
]


def _write_stream_batch(spark, tmp, root):
    """One plain-protocol micro-batch with the dropped-line audit on."""
    from carbon_clickhouse_spark.pipeline import IngestConfig
    from carbon_clickhouse_spark.streaming.ingest import (
        StreamConfig,
        file_landing_source,
        start_plain_ingest,
    )

    landing = os.path.join(tmp, "landing")
    os.makedirs(landing)
    with open(os.path.join(landing, "chunk1.txt"), "w") as fh:
        fh.write("\n".join(LINES) + "\n")
    q = start_plain_ingest(
        spark,
        file_landing_source(spark, landing),
        StreamConfig(
            root=root,
            chunk_interval="500 milliseconds",
            ingest=IngestConfig(now=BASE + 400, drop_future_seconds=3600),
            audit_dropped=True,
        ),
    )
    try:
        q.processAllAvailable()
        assert q.exception() is None
    finally:
        q.stop()


@pytest.fixture(scope="module")
def stored(spark, tmp_path_factory):
    """{(root, table)} written by the engine's own writers."""
    from carbon_clickhouse_spark.pipeline import (
        IngestConfig,
        derive_tables,
        ingest_and_store,
        write_tables,
    )
    from carbon_clickhouse_spark.query.events import EventsStore
    from carbon_clickhouse_spark.sources.plain import parse_plain_lines
    from carbon_clickhouse_spark.streaming.analytics import rebuild_rollup_tier

    tmp = str(tmp_path_factory.mktemp("contract"))
    pts = parse_plain_lines(
        spark.createDataFrame([(l,) for l in LINES[:3]], ["line"]), now=BASE
    )
    batch = os.path.join(tmp, "batch")
    write_tables(
        derive_tables(
            pts,
            IngestConfig(legacy_tables=("tree", "series", "series-reverse")),
        ),
        batch,
    )
    bulk = os.path.join(tmp, "bulk")
    ingest_and_store(pts, bulk)
    live = os.path.join(tmp, "live")
    _write_stream_batch(spark, tmp, live)
    EventsStore(spark, os.path.join(live, "events")).add(
        "deploy", tags="web prod", when=BASE
    )
    assert rebuild_rollup_tier(spark, live, precision_s=60) > 0
    return [
        (root, name)
        for root in (batch, bulk, live)
        for name in sorted(os.listdir(root))
        if not name.startswith("_")
    ]


def _other_layout(spark, root, name, out_root):
    """The same rows in the other layout: a partitioned table written
    flat, a flat one partitioned by month."""
    df = spark.read.parquet(os.path.join(root, name))
    out = os.path.join(out_root, name)
    if "month" in df.columns:
        df.drop("month").write.parquet(out)
    else:
        month = (
            F.date_format("date", "yyyyMM")
            if "date" in df.columns
            else F.lit("197001")
        )
        df.withColumn("month", month).write.partitionBy("month").parquet(out)
    return out_root


def _rows(df):
    return sorted(df.collect(), key=repr)


def test_every_written_table_is_in_the_contract(stored):
    names = {name for _root, name in stored}
    assert names == set(CONTRACT)


def test_read_table_matches_inference_on_both_layouts(spark, stored, tmp_path):
    for root, name in stored:
        copy = str(tmp_path / f"{os.path.basename(root)}-{name}")
        for r in (root, _other_layout(spark, root, name, copy)):
            inferred = spark.read.parquet(os.path.join(r, name))
            declared = read_table(spark, r, name)
            assert declared.dtypes == inferred.dtypes, (r, name)
            assert _rows(declared) == _rows(inferred), (r, name)
            assert declared.count() > 0, (r, name)


def test_read_table_opens_without_a_job(spark, stored):
    sc = spark.sparkContext
    for root, name in stored:
        group = f"contract-open-{name}-{os.path.basename(root)}"
        sc.setJobGroup(group, "read_table open")
        try:
            read_table(spark, root, name)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        if CONTRACT[name] is None:
            # tree is opened by inference: its job shows the count is live
            assert len(jobs) == 1, name
        else:
            assert jobs == [], name


def test_read_table_missing_and_success_only(spark, tmp_path):
    for name, schema in CONTRACT.items():
        assert read_table(spark, str(tmp_path), name) is None
        if schema is None:
            continue
        os.makedirs(tmp_path / name)
        (tmp_path / name / "_SUCCESS").write_text("")
        df = read_table(spark, str(tmp_path), name)
        assert df.count() == 0
        assert df.columns == schema.fieldNames()
