"""EVERY verify block of the reference's e2e suites — tests/plain,
tests/plain-nodaily, tests/tls — run against the ClickHouse-dialect
view layer and diffed line-by-line against the golden outputs,
mirroring what cmd/e2e-test/e2etesting.go:113-155,230-259 does over a
live ClickHouse (POST query -> TSV -> tabs-to-spaces -> line compare).

The blocks are parsed from the reference's own test.toml files at run
time, so new verify blocks upstream would flow in unchanged. The only
dialect edit is arraySort -> array_sort; table names route through
``register_clickhouse_views(names=...)`` because the reference names
its tables per deployment config (these suites call the tagged table
``graphite_tags``).

The tls suite's transport (mTLS to ClickHouse) is exercised separately
by the chsim e2e tests (tests/test_ch_e2e.py); here its verify SQL and
goldens run like the others — identical table contract, different
wire.
"""

import datetime
import os
import re
import tomllib

import pytest

REF = "/root/reference/tests"
SCENARIOS = ["plain", "plain-nodaily", "tls"]

if not os.path.isdir(REF):  # pragma: no cover - sandbox layout
    pytest.skip(
        "reference e2e suites (tests/*/test.toml) not available",
        allow_module_level=True,
    )


def _load(scen):
    with open(os.path.join(REF, scen, "test.toml"), "rb") as fh:
        return tomllib.load(fh)["test"]


def _fmt(v):
    """One value as ClickHouse's default (TSV) text format renders it:
    floats shortest-round-trip with integral values printed bare,
    arrays as ['a','b'], dates ISO."""
    if isinstance(v, float):
        return str(int(v)) if v == int(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join("'" + str(x) + "'" for x in v) + "]"
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


@pytest.fixture(scope="module")
def roots(spark, tmp_path_factory):
    """Each scenario's input lines ingested through the full pipeline
    and stored — one root per scenario, view-registered lazily by the
    test body."""
    from carbon_clickhouse_spark.pipeline import (
        IngestConfig,
        derive_tables,
        write_tables,
    )
    from carbon_clickhouse_spark.sources.plain import parse_plain_lines

    out = {}
    for scen in SCENARIOS:
        t = _load(scen)
        lines = spark.createDataFrame([(l,) for l in t["input"]], ["line"])
        points = parse_plain_lines(lines, now=1625478400)
        # honor the scenario's own deployment config (both the
        # nodaily and tls suites set disable-daily-index = true)
        with open(
            os.path.join(REF, scen, t.get("config_template",
                                          "carbon-clickhouse.conf.tpl"))
        ) as fh:
            tpl = fh.read()
        cfg = IngestConfig(
            now=1625478400,
            disable_daily_index=bool(
                re.search(r"disable-daily-index\s*=\s*true", tpl)
            ),
        )
        root = str(tmp_path_factory.mktemp(scen.replace("-", "_")))
        write_tables(derive_tables(points, cfg), root)
        out[scen] = root
    return out


def _cases():
    return [
        pytest.param(scen, i, v, id=f"{scen}-verify{i}")
        for scen in SCENARIOS
        for i, v in enumerate(_load(scen)["verify"])
    ]


@pytest.mark.parametrize("scen,i,verify", _cases())
def test_reference_verify_block(spark, roots, scen, i, verify):
    from carbon_clickhouse_spark.pipeline import register_clickhouse_views

    suffix = "_" + scen.replace("-", "_")
    register_clickhouse_views(
        spark,
        roots[scen],
        suffix=suffix,
        names={"graphite_tagged": "graphite_tags"},
    )
    q = verify["query"].replace("arraySort", "array_sort")
    q = re.sub(r"\bFROM (graphite\w*)", rf"FROM \1{suffix}", q)
    rows = spark.sql(q).collect()
    got = [" ".join(_fmt(v) for v in r) for r in rows]
    assert got == list(verify["output"]), (scen, verify["query"])


def test_plain_suite_full_stack_over_live_tcp(spark, tmp_path):
    """The reference harness's exact loop for tests/plain, full stack:
    input lines sent over a REAL TCP socket -> receiver lands chunks
    -> micro-batch four-table pipeline -> every verify block diffed
    against its golden lines through the CH-dialect views
    (e2etesting.go:208-259 with Spark standing in for ClickHouse).
    The deployment config's zero-timestamp = true is honored at the
    view (what the uploader writes to the graphite tables)."""
    import time

    from carbon_clickhouse_spark.pipeline import (
        IngestConfig,
        register_clickhouse_views,
    )
    from carbon_clickhouse_spark.streaming.ingest import (
        StreamConfig,
        file_landing_source,
        start_plain_ingest,
    )
    from carbon_clickhouse_spark.streaming.receivers import (
        PlainLineReceiver,
        send_lines,
    )

    t = _load("plain")
    landing = str(tmp_path / "landing")
    root = str(tmp_path / "tables")
    rx = PlainLineReceiver(landing, flush_interval=0.1).start()
    try:
        send_lines("127.0.0.1", rx.port, list(t["input"]), chunk=61)
        deadline = time.time() + 10
        while time.time() < deadline and not os.listdir(landing):
            time.sleep(0.1)
        assert os.listdir(landing), "receiver landed no chunk files"
        q = start_plain_ingest(
            spark,
            file_landing_source(spark, landing),
            StreamConfig(
                root=root,
                chunk_interval="500 milliseconds",
                ingest=IngestConfig(now=1625478400),
                audit_dropped=False,
            ),
        )
        try:
            n_in = len(t["input"])
            deadline = time.time() + 120
            while time.time() < deadline:
                try:
                    if spark.read.parquet(f"{root}/points").count() >= n_in:
                        break
                except Exception:
                    pass
                time.sleep(0.5)
            assert q.exception() is None, q.exception()
        finally:
            q.stop()
    finally:
        rx.stop()

    register_clickhouse_views(
        spark,
        root,
        suffix="_livetcp",
        names={"graphite_tagged": "graphite_tags"},
        zero_timestamp_points=True,  # tests/plain conf.tpl:29,36
    )
    for verify in t["verify"]:
        q_sql = verify["query"].replace("arraySort", "array_sort")
        q_sql = re.sub(r"\bFROM (graphite\w*)", r"FROM \1_livetcp", q_sql)
        rows = spark.sql(q_sql).collect()
        got = [" ".join(_fmt(v) for v in r) for r in rows]
        assert got == list(verify["output"]), verify["query"]
