"""Graphite-web-compatible query facade tests: target-expression
parser, store resolution, and the live /metrics/find + /render HTTP
endpoints over a real four-table root."""

import json
import urllib.error
import urllib.request
from urllib.parse import quote
from datetime import date as dt_date

import pytest

from carbon_clickhouse_spark.query.api import (
    Call,
    GraphiteStore,
    RenderApi,
    evaluate_target,
    parse_target,
    _seconds,
)


def test_parse_target_grammar():
    assert parse_target("my.metric.*") == "my.metric.*"
    c = parse_target("scale(derivative(a.b.c), 10)")
    assert c == Call("scale", [Call("derivative", ["a.b.c"]), 10])
    c = parse_target("summarize(a.*, '1h', 'avg')")
    assert c == Call("summarize", ["a.*", "1h", "avg"])
    c = parse_target("aliasByNode(sumSeriesWithWildcards(dc.*.cpu, 1), 0)")
    assert c == Call(
        "aliasByNode", [Call("sumSeriesWithWildcards", ["dc.*.cpu", 1]), 0]
    )
    assert parse_target("scale(a, -0.5)") == Call("scale", ["a", -0.5])
    with pytest.raises(ValueError):
        parse_target("f(a,")
    with pytest.raises(ValueError):
        parse_target("")


def test_seconds_intervals():
    assert _seconds("1h") == 3600
    assert _seconds("30min") == 1800
    assert _seconds("-2d") == -172800
    assert _seconds(90) == 90
    with pytest.raises(ValueError):
        _seconds("1fortnight")


@pytest.fixture(scope="module")
def store(spark):
    import datetime as dt

    from carbon_clickhouse_spark.pipeline import IngestConfig, derive_tables
    from carbon_clickhouse_spark.sources.plain import parse_plain_lines

    base = 1_625_478_000
    lines = []
    for host in ("h1", "h2"):
        for i in range(4):
            lines.append(f"dc.{host}.cpu {i + (2 if host == 'h2' else 0)} {base + 60 * i}")
    df = spark.createDataFrame([(l,) for l in lines], ["line"])
    pts = parse_plain_lines(df, now=base)
    t = derive_tables(pts, IngestConfig(now=base + 3600))
    return GraphiteStore(t["index"].cache(), t["points"].cache())


def test_store_find_and_series(store):
    assert store.find("dc.*") == [("dc.h1", False), ("dc.h2", False)]
    assert store.find("dc.*.cpu") == [("dc.h1.cpu", True), ("dc.h2.cpu", True)]
    s = store.series("dc.*.cpu", 1_625_478_000, 1_625_479_000)
    assert s.count() == 8


def test_evaluate_nested(store):
    t0, t1 = 1_625_478_000, 1_625_479_000
    out = evaluate_target(
        parse_target("sumSeries(dc.*.cpu)"), store, t0, t1
    ).collect()
    got = {r.time: r.value for r in out}
    # h1: 0..3, h2: 2..5 -> sums 2, 4, 6, 8
    assert got == {
        1_625_478_000: 2.0, 1_625_478_060: 4.0,
        1_625_478_120: 6.0, 1_625_478_180: 8.0,
    }
    top = evaluate_target(
        parse_target("highestMax(dc.*.cpu, 1)"), store, t0, t1
    ).collect()
    assert {r.path for r in top} == {"dc.h2.cpu"}
    scaled = evaluate_target(
        parse_target("scale(derivative(dc.h1.cpu), 10)"), store, t0, t1
    ).collect()
    assert sorted(r.value for r in scaled if r.value is not None) == [10.0] * 3


def test_interval_string_args(store):
    """Graphite's quoted-interval forms must evaluate, not 400:
    integralByInterval(s, '1h'), movingAverage(s, '5min'),
    movingMedian(s, '2min')."""
    t0, t1 = 1_625_478_000, 1_625_479_000
    out = evaluate_target(
        parse_target("integralByInterval(dc.h1.cpu, '1h')"), store, t0, t1
    ).collect()
    got = {r.time: r.value for r in out}
    # values 0,1,2,3 at 60s spacing, one 1h bucket -> running sum
    assert got == {
        1_625_478_000: 0.0, 1_625_478_060: 1.0,
        1_625_478_120: 3.0, 1_625_478_180: 6.0,
    }
    # graphite-web 1.1 movingWindow contract (r11): the value at each
    # point aggregates the PRECEDING window, current point excluded;
    # the first point has no preview data here -> None
    out = evaluate_target(
        parse_target("movingAverage(dc.h1.cpu, '2min')"), store, t0, t1
    ).collect()
    assert {r.time: r.value for r in out} == {
        1_625_478_000: None, 1_625_478_060: 0.0,
        1_625_478_120: 0.5, 1_625_478_180: 1.5,
    }
    # integer form: preceding-N-points window
    out = evaluate_target(
        parse_target("movingSum(dc.h1.cpu, 2)"), store, t0, t1
    ).collect()
    assert {r.time: r.value for r in out} == {
        1_625_478_000: None, 1_625_478_060: 0.0,
        1_625_478_120: 1.0, 1_625_478_180: 3.0,
    }
    out = evaluate_target(
        parse_target("movingMedian(dc.h1.cpu, '2min')"), store, t0, t1
    ).collect()
    assert {r.time: r.value for r in out} == {
        1_625_478_000: None, 1_625_478_060: 0.0,
        1_625_478_120: 0.5, 1_625_478_180: 1.5,
    }


def test_until_inclusive(store):
    """graphite-web treats 'until' as inclusive: a window ending
    exactly on the last datapoint's timestamp must include it."""
    s = store.series("dc.h1.cpu", 1_625_478_000, 1_625_478_180)
    times = sorted(r.time for r in s.collect())
    assert times == [
        1_625_478_000, 1_625_478_060, 1_625_478_120, 1_625_478_180,
    ]


def test_http_endpoints(store):
    api = RenderApi(store).start()
    try:
        def get(path):
            with urllib.request.urlopen(
                f"http://127.0.0.1:{api.port}{path}"
            ) as resp:
                return resp.status, json.loads(resp.read())

        status, found = get("/metrics/find?query=dc.*.cpu")
        assert status == 200
        assert [(f["id"], f["leaf"]) for f in found] == [
            ("dc.h1.cpu", 1), ("dc.h2.cpu", 1),
        ]

        status, series = get(
            "/render?target=sumSeries(dc.*.cpu)"
            "&from=1625478000&until=1625479000&format=json"
        )
        assert status == 200
        assert len(series) == 1 and series[0]["target"] == "sumSeries"
        assert [v for v, _ in series[0]["datapoints"]] == [2.0, 4.0, 6.0, 8.0]

        # two targets in one request
        status, series = get(
            "/render?target=dc.h1.cpu&target=dc.h2.cpu"
            "&from=1625478000&until=1625479000"
        )
        assert {s["target"] for s in series} == {"dc.h1.cpu", "dc.h2.cpu"}

        # malformed target -> 400 with an error body, server survives
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(
                f"http://127.0.0.1:{api.port}/render?target=bogusFn(a"
            )
        assert ei.value.code == 400
        status, _ = get("/metrics/find?query=dc.*")
        assert status == 200
    finally:
        api.stop()


def test_serve_api_over_stored_root(spark, tmp_path):
    """__main__.serve_api: the query facade over a freshly stored
    four-table root answers find + render like graphite-web expects."""
    import datetime as dt

    from carbon_clickhouse_spark.__main__ import serve_api
    from carbon_clickhouse_spark.pipeline import (
        IngestConfig,
        derive_tables,
        write_tables,
    )
    from carbon_clickhouse_spark.sources.plain import parse_plain_lines

    base = 1_625_478_000
    lines = [f"svc.a.req {i} {base + 60 * i}" for i in range(3)]
    df = spark.createDataFrame([(l,) for l in lines], ["line"])
    root = str(tmp_path / "tables")
    write_tables(
        derive_tables(parse_plain_lines(df, now=base), IngestConfig()), root
    )

    api = serve_api(root, spark)
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{api.port}/render?target=svc.a.req"
            f"&from={base - 1}&until={base + 600}"
        ) as resp:
            series = json.loads(resp.read())
        assert series[0]["target"] == "svc.a.req"
        assert [v for v, _ in series[0]["datapoints"]] == [0.0, 1.0, 2.0]
    finally:
        api.stop()


def test_serve_api_sees_rows_appended_after_start(spark, tmp_path):
    """A served root answers as it is at each request: a series
    appended with write_tables after serve_api started is found by
    /metrics/find and rendered by /render (the reference's rows are
    readable as soon as their upload lands)."""
    from carbon_clickhouse_spark.__main__ import serve_api
    from carbon_clickhouse_spark.pipeline import (
        IngestConfig,
        derive_tables,
        write_tables,
    )
    from carbon_clickhouse_spark.sources.plain import parse_plain_lines

    base = 1_625_478_000
    root = str(tmp_path / "tables")

    def append(lines):
        df = spark.createDataFrame([(l,) for l in lines], ["line"])
        write_tables(
            derive_tables(parse_plain_lines(df, now=base), IngestConfig()),
            root,
        )

    def get(path):
        with urllib.request.urlopen(
            f"http://127.0.0.1:{api.port}{path}"
        ) as resp:
            return json.loads(resp.read())

    def rendered():
        series = get(
            f"/render?target=a.b.*&from={base - 1}&until={base + 600}"
        )
        return {
            s["target"]: [v for v, _ in s["datapoints"] if v is not None]
            for s in series
        }

    append([f"a.b.c 1 {base}", f"a.b.e 2 {base + 60}"])
    api = serve_api(root, spark)
    try:
        assert rendered() == {"a.b.c": [1.0], "a.b.e": [2.0]}
        append([f"a.b.d 3 {base + 120}"])
        assert rendered() == {"a.b.c": [1.0], "a.b.d": [3.0], "a.b.e": [2.0]}
        found = get("/metrics/find?query=a.b.*")
        assert [(f["id"], f["leaf"]) for f in found] == [
            ("a.b.c", 1), ("a.b.d", 1), ("a.b.e", 1),
        ]
        # the served store object stays the one opened at start
        assert isinstance(api.store, GraphiteStore)
    finally:
        api.stop()


@pytest.fixture(scope="module")
def tagged_store(spark):
    from carbon_clickhouse_spark.pipeline import IngestConfig, derive_tables
    from carbon_clickhouse_spark.sources.plain import parse_plain_lines

    base = 1_625_478_000
    lines = [
        f"cpu.load;host=h{i};env={'prod' if i % 2 else 'dev'} {i} {base + 60 * i}"
        for i in range(4)
    ]
    df = spark.createDataFrame([(l,) for l in lines], ["line"])
    pts = parse_plain_lines(df, now=base)
    t = derive_tables(pts, IngestConfig(now=base + 3600))
    from carbon_clickhouse_spark.query.api import GraphiteStore

    return GraphiteStore(
        t["index"].cache(), t["points"].cache(), tagged=t["tagged"].cache()
    )


def test_series_by_tag_and_autocomplete(tagged_store):
    t0, t1 = 1_625_477_000, 1_625_479_000
    out = evaluate_target(
        parse_target("seriesByTag('env=prod', '__name__=cpu.load')"),
        tagged_store, t0, t1,
    ).collect()
    assert sorted({r.path for r in out}) == [
        "cpu.load?env=prod&host=h1",
        "cpu.load?env=prod&host=h3",
    ]
    # full term grammar: != / =~ / !=~ post-filter the Tags array
    neg = evaluate_target(
        parse_target("seriesByTag('env=prod', 'host!=h1')"),
        tagged_store, t0, t1,
    ).collect()
    assert {r.path for r in neg} == {"cpu.load?env=prod&host=h3"}
    rex = evaluate_target(
        parse_target("seriesByTag('host=~h[12]')"), tagged_store, t0, t1
    ).collect()
    assert sorted({r.path for r in rex}) == [
        "cpu.load?env=dev&host=h2",
        "cpu.load?env=prod&host=h1",
    ]
    assert tagged_store.tag_names() == ["__name__", "env", "host"]
    assert tagged_store.tag_values("env") == ["dev", "prod"]
    assert tagged_store.tag_values("host", prefix="h1") == ["h1"]

    api = RenderApi(tagged_store).start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{api.port}/tags/autoComplete/values?tag=env"
        ) as resp:
            assert json.loads(resp.read()) == ["dev", "prod"]
        with urllib.request.urlopen(
            f"http://127.0.0.1:{api.port}/tags/autoComplete/tags?tagPrefix=ho"
        ) as resp:
            assert json.loads(resp.read()) == ["host"]
    finally:
        api.stop()


def test_find_series_endpoint(tagged_store):
    assert tagged_store.find_series(["env=prod"]) == [
        "cpu.load?env=prod&host=h1",
        "cpu.load?env=prod&host=h3",
    ]
    api = RenderApi(tagged_store).start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{api.port}/tags/findSeries"
            "?expr=env=prod&expr=host!=h3"
        ) as resp:
            assert json.loads(resp.read()) == ["cpu.load?env=prod&host=h1"]
    finally:
        api.stop()


from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=300, deadline=None)
@given(s=st.text(max_size=80))
def test_parse_target_fuzz_never_hangs_or_leaks(s):
    """The /render target parser faces the network: arbitrary input
    either parses or raises ValueError — no hangs, no other
    exception types (IndexError/RecursionError would 500)."""
    try:
        parse_target(s)
    except ValueError:
        pass


def test_full_stack_tcp_to_render(spark, tmp_path):
    """Capstone switch-over e2e: a carbon client sends plain lines to
    the LIVE TCP front; the micro-batch pipeline lands the four
    tables; the graphite-web API answers /render for the series —
    the reference's whole deployment (carbon-clickhouse + ClickHouse +
    graphite-web) in one engine."""
    import socket
    import time as t_mod

    from carbon_clickhouse_spark.__main__ import serve_api
    from carbon_clickhouse_spark.pipeline import IngestConfig
    from carbon_clickhouse_spark.streaming.ingest import (
        StreamConfig,
        file_landing_source,
        start_plain_ingest,
    )
    from carbon_clickhouse_spark.streaming.receivers import PlainLineReceiver

    land = str(tmp_path / "landing")
    root = str(tmp_path / "tables")
    rx = PlainLineReceiver(land, flush_interval=0.1).start()
    q = start_plain_ingest(
        spark,
        file_landing_source(spark, land),
        StreamConfig(
            root=root,
            chunk_interval="500 milliseconds",
            ingest=IngestConfig(now=1_625_478_400, drop_future_seconds=3600),
            audit_dropped=False,
        ),
    )
    api = None
    try:
        with socket.create_connection(("127.0.0.1", rx.port)) as sock:
            sock.sendall(
                b"e2e.tcp.metric 1.5 1625478240\n"
                b"e2e.tcp.metric 2.5 1625478300\n"
            )
        deadline = t_mod.time() + 60
        while t_mod.time() < deadline:
            q.processAllAvailable()
            import os as os_mod

            if os_mod.path.exists(f"{root}/points"):
                try:
                    if spark.read.parquet(f"{root}/points").count() >= 2:
                        break
                except Exception:
                    pass
            t_mod.sleep(0.25)
        assert q.exception() is None

        api = serve_api(root, spark)
        with urllib.request.urlopen(
            f"http://127.0.0.1:{api.port}/render?target=e2e.tcp.metric"
            "&from=1625478000&until=1625479000"
        ) as resp:
            series = json.loads(resp.read())
        assert series[0]["target"] == "e2e.tcp.metric"
        assert [v for v, _ in series[0]["datapoints"]] == [1.5, 2.5]
    finally:
        rx.stop()
        q.stop()
        if api is not None:
            api.stop()


def test_debug_dropped_endpoint(spark, store):
    """/debug/receive/<proto>/dropped/ parity (carbon/app.go:265-353,
    receiver/base.go:88-110): text/plain, sorted rcv/name/timestamp/
    value lines from the audit table, sliced per protocol front."""
    dropped = spark.createDataFrame(
        [
            ("way.too.future", 1.5, 9_999_999_999, dt_date(2021, 7, 5), 1_625_478_400, "tcp"),
            ("ancient.metric", 2.0, 100, dt_date(1970, 1, 1), 1_625_478_401, "tcp"),
            ("udp.drop", -0.25, 50, dt_date(1970, 1, 1), 1_625_478_402, "udp"),
        ],
        "path string, value double, time long, date date, version long, protocol string",
    )
    s = GraphiteStore(store.index, store.points, dropped=dropped)
    assert s.dropped_lines("tcp") == [
        "rcv:1625478400\tname:way.too.future\ttimestamp:9999999999\tvalue:1.5",
        "rcv:1625478401\tname:ancient.metric\ttimestamp:100\tvalue:2",
    ]
    assert s.dropped_lines("udp") == [
        "rcv:1625478402\tname:udp.drop\ttimestamp:50\tvalue:-0.25",
    ]
    assert s.dropped_lines("pickle") == []
    # store without an audit table -> empty, not an error
    assert store.dropped_lines("tcp") == []

    api = RenderApi(s).start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{api.port}/debug/receive/tcp/dropped/"
        ) as resp:
            assert resp.status == 200
            assert resp.headers["Content-Type"] == "text/plain"
            body = resp.read().decode()
        assert body.splitlines() == s.dropped_lines("tcp")
        with urllib.request.urlopen(
            f"http://127.0.0.1:{api.port}/debug/receive/grpc/dropped/"
        ) as resp:
            assert resp.read() == b""
    finally:
        api.stop()


def test_render_max_data_points(store):
    api = RenderApi(store).start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{api.port}/render?target=dc.h1.cpu"
            "&from=1625478000&until=1625478240&maxDataPoints=2"
        ) as resp:
            series = json.loads(resp.read())
        # 4 minutely points consolidated into 2 buckets of avg
        assert len(series[0]["datapoints"]) == 2
        assert [v for v, _ in series[0]["datapoints"]] == [0.5, 2.5]
    finally:
        api.stop()


def test_post_render_and_expand(store):
    api = RenderApi(store).start()
    try:
        body = (
            "target=sumSeries(dc.*.cpu)&from=1625478000&until=1625479000"
        ).encode()
        req = urllib.request.Request(
            f"http://127.0.0.1:{api.port}/render", data=body, method="POST"
        )
        with urllib.request.urlopen(req) as resp:
            series = json.loads(resp.read())
        assert [v for v, _ in series[0]["datapoints"]] == [2.0, 4.0, 6.0, 8.0]

        with urllib.request.urlopen(
            f"http://127.0.0.1:{api.port}/metrics/expand?query=dc.*"
        ) as resp:
            assert json.loads(resp.read()) == {"results": ["dc.h1", "dc.h2"]}
    finally:
        api.stop()


def test_grafana_discovery_endpoints(store):
    """Grafana's graphite datasource probes /version, /functions, and
    /metrics/index.json on setup; all three must answer."""
    api = RenderApi(store).start()
    try:
        base = f"http://127.0.0.1:{api.port}"
        with urllib.request.urlopen(base + "/version") as r:
            assert r.status == 200
            assert r.read() == b"1.1.10"
        with urllib.request.urlopen(base + "/functions") as r:
            funcs = json.loads(r.read())
        assert "sumSeries" in funcs and "seriesByTag" in funcs
        assert "aggregate" in funcs and "consolidateBy" in funcs
        assert funcs["scale"]["name"] == "scale"
        assert funcs["scale"]["params"][0]["type"] == "seriesList"
        with urllib.request.urlopen(base + "/metrics/index.json") as r:
            idx = json.loads(r.read())
        assert idx == ["dc.h1.cpu", "dc.h2.cpu"]
    finally:
        api.stop()


def test_render_output_formats(store):
    """graphite-web's csv / raw / pickle render formats."""
    import pickle as _pickle

    api = RenderApi(store).start()
    try:
        base = f"http://127.0.0.1:{api.port}"
        qs = "?target=dc.h1.cpu&from=1625478000&until=1625478180"
        with urllib.request.urlopen(base + "/render" + qs + "&format=csv") as r:
            assert r.headers["Content-Type"] == "text/csv"
            lines = r.read().decode().strip().split("\n")
        assert lines[0] == "dc.h1.cpu,2021-07-05 09:40:00,0"
        assert len(lines) == 4

        with urllib.request.urlopen(base + "/render" + qs + "&format=raw") as r:
            raw = r.read().decode().strip()
        head, vals = raw.split("|")
        assert head == "dc.h1.cpu,1625478000,1625478240,60"
        assert vals == "0,1,2,3"

        with urllib.request.urlopen(
            base + "/render" + qs + "&format=pickle"
        ) as r:
            data = _pickle.loads(r.read())
        assert data == [{
            "name": "dc.h1.cpu", "start": 1625478000, "end": 1625478240,
            "step": 60, "values": [0.0, 1.0, 2.0, 3.0],
        }]
    finally:
        api.stop()


def test_parse_time_forms():
    from carbon_clickhouse_spark.query.api import _parse_time

    now = 1704153600  # 2024-01-02 00:00:00 UTC
    assert _parse_time(None, 7, now) == 7
    assert _parse_time("now", 0, now) == now
    assert _parse_time("-1h", 0, now) == now - 3600
    assert _parse_time("today", 0, now) == 1704153600
    assert _parse_time("yesterday", 0, now) == 1704067200
    assert _parse_time("12:30_20240101", 0, now) == 1704112200
    assert _parse_time("20240101", 0, now) == 1704067200
    assert _parse_time("1704067200", 0, now) == 1704067200


def test_series_suffix_glob_uses_reverse_index(spark):
    """A leading-wildcard glob resolves through the reverse index
    (prefix scan on reversed paths) and returns the same series."""
    from carbon_clickhouse_spark.pipeline import IngestConfig, derive_tables
    from carbon_clickhouse_spark.sources.plain import parse_plain_lines

    base = 1_625_478_000
    lines = [f"dc.h{h}.cpu.user {h} {base}" for h in (1, 2)] + [
        f"dc.h1.mem.used 5 {base}"
    ]
    df = spark.createDataFrame([(l,) for l in lines], ["line"])
    t = derive_tables(parse_plain_lines(df, now=base), IngestConfig(now=base))
    store = GraphiteStore(t["index"].cache(), t["points"].cache())
    assert store._suffix_heavy("*.*.cpu.user")
    assert not store._suffix_heavy("dc.*.cpu.*")
    s = store.series("*.*.cpu.user", base - 1, base + 1)
    assert sorted({r.path for r in s.collect()}) == [
        "dc.h1.cpu.user", "dc.h2.cpu.user",
    ]


def test_render_sort_by_total_orders_series(store):
    """sortBy* must order the series list in the /render response
    (the handler keeps the frame's row order for sorted targets)."""
    api = RenderApi(store).start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{api.port}/render?target=sortByTotal(dc.*.cpu)"
            "&from=1625478000&until=1625479000"
        ) as resp:
            series = json.loads(resp.read())
        assert [s["target"] for s in series] == ["dc.h2.cpu", "dc.h1.cpu"]
        # per-series datapoints stay time-ordered
        times = [t for _, t in series[0]["datapoints"]]
        assert times == sorted(times)
    finally:
        api.stop()


def test_render_protobuf_format(store):
    """format=protobuf emits the carbonapi v2 MultiFetchResponse wire
    shape; verified by decoding with the generic protobuf field
    walker the OTLP source uses."""
    import struct

    from carbon_clickhouse_spark.sources.otlp import _fields

    api = RenderApi(store).start()
    try:
        url = (
            f"http://127.0.0.1:{api.port}/render?target=dc.h1.cpu"
            "&from=1625478000&until=1625478180&format=protobuf"
        )
        with urllib.request.urlopen(url) as r:
            assert r.headers["Content-Type"] == "application/protobuf"
            body = r.read()
        metrics = [p for f, wt, p in _fields(body) if f == 1 and wt == 2]
        assert len(metrics) == 1
        got = {}
        for f, wt, p in _fields(metrics[0]):
            got.setdefault(f, []).append((wt, p))
        assert got[1][0][1].decode() == "dc.h1.cpu"
        assert got[2][0][1] == 1625478000  # startTime
        assert got[3][0][1] == 1625478240  # stopTime (exclusive)
        assert got[4][0][1] == 60          # stepTime
        vals = struct.unpack("<4d", got[5][0][1])
        assert vals == (0.0, 1.0, 2.0, 3.0)
        assert got[6][0][1] == b"\x00\x00\x00\x00"  # none absent
    finally:
        api.stop()


def test_render_msgpack_format(store):
    """format=msgpack carries the same dict list as pickle, verified
    by an independent mini MessagePack decoder (spec: msgpack.org)."""
    import struct

    def unpack(b, i=0):
        c = b[i]
        i += 1
        if c <= 0x7F:
            return c, i
        if c >= 0xE0:
            return c - 256, i
        if 0xA0 <= c <= 0xBF:
            n = c & 0x1F
            return b[i : i + n].decode(), i + n
        if 0x90 <= c <= 0x9F:
            out = []
            for _ in range(c & 0x0F):
                v, i = unpack(b, i)
                out.append(v)
            return out, i
        if 0x80 <= c <= 0x8F:
            d = {}
            for _ in range(c & 0x0F):
                k, i = unpack(b, i)
                v, i = unpack(b, i)
                d[k] = v
            return d, i
        if c == 0xC0:
            return None, i
        if c == 0xCB:
            return struct.unpack(">d", b[i : i + 8])[0], i + 8
        if c == 0xCD:
            return struct.unpack(">H", b[i : i + 2])[0], i + 2
        if c == 0xCE:
            return struct.unpack(">I", b[i : i + 4])[0], i + 4
        if c == 0xDC:
            n = struct.unpack(">H", b[i : i + 2])[0]
            i += 2
            out = []
            for _ in range(n):
                v, i = unpack(b, i)
                out.append(v)
            return out, i
        raise AssertionError(f"unexpected msgpack byte {c:#x}")

    api = RenderApi(store).start()
    try:
        url = (
            f"http://127.0.0.1:{api.port}/render?target=dc.h1.cpu"
            "&from=1625478000&until=1625478180&format=msgpack"
        )
        with urllib.request.urlopen(url) as r:
            assert r.headers["Content-Type"] == "application/x-msgpack"
            body = r.read()
        data, end = unpack(body)
        assert end == len(body)
        assert data == [{
            "name": "dc.h1.cpu", "pathExpression": "dc.h1.cpu",
            "start": 1625478000, "end": 1625478240, "step": 60,
            "values": [0.0, 1.0, 2.0, 3.0],
        }]
    finally:
        api.stop()


def test_msgpack_encoder_edge_values():
    from carbon_clickhouse_spark.query.api import _msgpack_pack

    # spot-check encodings against the spec's examples
    assert _msgpack_pack(None) == b"\xc0"
    assert _msgpack_pack(127) == b"\x7f"
    assert _msgpack_pack(-1) == b"\xff"
    assert _msgpack_pack(128) == b"\xcc\x80"
    assert _msgpack_pack(65536) == b"\xce\x00\x01\x00\x00"
    assert _msgpack_pack(-129) == b"\xd1\xff\x7f"
    import struct

    assert _msgpack_pack(1.5) == b"\xcb" + struct.pack(">d", 1.5)
    assert _msgpack_pack("abc") == b"\xa3abc"
    assert _msgpack_pack([1, "a"]) == b"\x92\x01\xa1a"
    assert _msgpack_pack({"k": 1}) == b"\x81\xa1k\x01"
    long_list = list(range(20))
    enc = _msgpack_pack(long_list)
    assert enc[:3] == b"\xdc\x00\x14"


def test_find_pickle_format(store):
    """format=pickle on /metrics/find returns the remote-finder node
    dicts graphite-web federates over."""
    import pickle as _pickle

    api = RenderApi(store).start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{api.port}/metrics/find"
            "?query=dc.*.cpu&format=pickle"
        ) as r:
            assert r.headers["Content-Type"] == "application/pickle"
            nodes = _pickle.loads(r.read())
        assert [(n["metric_path"], n["isLeaf"]) for n in nodes] == [
            ("dc.h1.cpu", True), ("dc.h2.cpu", True),
        ]
        assert all(isinstance(n["intervals"], list) for n in nodes)
    finally:
        api.stop()


def test_render_carbonapi_v3_pb_format(store):
    """format=carbonapi_v3_pb emits the v3 MultiFetchResponse wire
    shape (values packed with NaN gaps, path/consolidation metadata);
    decoded with the generic protobuf field walker."""
    import math
    import struct

    from carbon_clickhouse_spark.sources.otlp import _fields

    api = RenderApi(store).start()
    try:
        url = (
            f"http://127.0.0.1:{api.port}/render?target=dc.h1.cpu"
            "&from=1625478000&until=1625478180&format=carbonapi_v3_pb"
        )
        with urllib.request.urlopen(url) as r:
            assert (
                r.headers["Content-Type"] == "application/x-carbonapi-v3-pb"
            )
            body = r.read()
        metrics = [p for f, wt, p in _fields(body) if f == 1 and wt == 2]
        assert len(metrics) == 1
        got = {}
        for f, wt, p in _fields(metrics[0]):
            got.setdefault(f, []).append((wt, p))
        assert got[1][0][1].decode() == "dc.h1.cpu"          # name
        assert got[2][0][1].decode() == "dc.h1.cpu"          # pathExpression
        assert got[3][0][1].decode() == "average"            # consolidationFunc
        assert got[4][0][1] == 1625478000                    # startTime
        assert got[5][0][1] == 1625478240                    # stopTime (excl)
        assert got[6][0][1] == 60                            # stepTime
        vals = struct.unpack("<4d", got[9][0][1])
        assert vals == (0.0, 1.0, 2.0, 3.0)
        assert not any(math.isnan(v) for v in vals)
        assert got[10][0][1] == 1625478000 and got[11][0][1] == 1625478240
    finally:
        api.stop()


def test_render_format_v3_nan_gaps():
    """A gap in the grid encodes as NaN in v3 (v2 uses isAbsent)."""
    import math
    import struct

    from carbon_clickhouse_spark.query.api import render_format
    from carbon_clickhouse_spark.sources.otlp import _fields

    series = [
        {"target": "a", "datapoints": [[1.0, 60], [2.0, 120], [4.0, 240]]}
    ]  # step=60, t=180 missing
    body, ctype = render_format(series, "carbonapi_v3_pb")
    assert ctype == "application/x-carbonapi-v3-pb"
    (metric,) = [p for f, wt, p in _fields(body) if f == 1]
    got = {f: p for f, wt, p in _fields(metric)}
    vals = struct.unpack("<4d", got[9])
    assert vals[0] == 1.0 and vals[1] == 2.0
    assert math.isnan(vals[2]) and vals[3] == 4.0


def test_cache_dump_endpoint(spark, tmp_path):
    """Reference /debug/upload/<table>/cache/ (carbon/app.go:234-240):
    ingest -> dump shows the series as days:path version lines ->
    SIGHUP-style reset -> dump empty."""
    import time as _time

    from carbon_clickhouse_spark.pipeline import IngestConfig, derive_tables
    from carbon_clickhouse_spark.sources.plain import parse_plain_lines
    from carbon_clickhouse_spark.streaming.exists_cache import (
        ExistsCacheControl,
    )

    now = int(_time.time())
    base = now - 300
    lines = [f"svc.a.req {i} {base + 60 * i}" for i in range(3)]
    lines.append(f"svc.b.req?env=prod 1 {base}")
    df = spark.createDataFrame([(l,) for l in lines], ["line"])
    t = derive_tables(
        parse_plain_lines(df, now=base, zero_version=False),
        IngestConfig(now=now),
    )
    ctl = ExistsCacheControl(str(tmp_path / "exists_cache.epoch"))
    store = GraphiteStore(
        t["index"].cache(), t["points"], tagged=t["tagged"].cache(),
        cache_ctl=ctl,
    )
    api = RenderApi(store).start()
    try:
        def get(path):
            with urllib.request.urlopen(
                f"http://127.0.0.1:{api.port}{path}"
            ) as resp:
                return resp.status, resp.read().decode()

        days = (dt_date.fromtimestamp(base) - dt_date(1970, 1, 1)).days
        status, body = get("/debug/upload/graphite_index/cache/")
        assert status == 200
        assert f"{days}:svc.a.req {base}" in body.splitlines()
        assert "svc.b.req" not in body  # tagged series aren't indexed

        status, body = get("/debug/upload/tagged/cache/")
        assert status == 200
        assert any(
            l.startswith(f"{days}:svc.b.req?env=prod ")
            for l in body.splitlines()
        )

        # no cache for the points uploader -> 404 like an unregistered
        # reference handler
        with pytest.raises(urllib.error.HTTPError) as ei:
            get("/debug/upload/graphite/cache/")
        assert ei.value.code == 404

        # SIGHUP reset: every key becomes unseen; versions written
        # before the reset no longer count as cached
        ctl.reset()
        status, body = get("/debug/upload/graphite_index/cache/")
        assert status == 200 and body == ""
        status, body = get("/debug/upload/tagged/cache/")
        assert status == 200 and body == ""
    finally:
        api.stop()


def test_maxdatapoints_serves_from_hot_rollup_tier(spark, tmp_path):
    """A plain-path /render with maxDataPoints reads history from the
    pre-aggregated rollup tier: a bucket whose tier row deliberately
    differs from the raw points proves the consolidated response came
    from the tier, while post-horizon buckets aggregate raw points;
    function targets and raw (no-mdp) requests keep raw semantics."""
    base = 1_625_400_000
    idx = spark.createDataFrame(
        [("hr.a", 20002)], "path string, level int"
    )
    pts = spark.createDataFrame(
        [("hr.a", base, 10.0), ("hr.a", base + 30, 30.0),
         ("hr.a", base + 600, 7.0)],
        "path string, time long, value double",
    ).select("path", "time", "value")
    # tier: bucket `base` stored with sum=100/cnt=2 (differs from the
    # raw 10+30 on purpose); horizon = base+120
    fin = spark.createDataFrame(
        [("hr.a", base, 50.0, 100.0, 60.0, 40.0, 2, 60.0)],
        "path string, time long, avg double, sum double, max double, "
        "min double, cnt long, last double",
    )
    store = GraphiteStore(
        idx, pts, rollup_hot=fin, rollup_precision=60
    )
    api = RenderApi(store).start()
    try:
        def get(path):
            with urllib.request.urlopen(
                f"http://127.0.0.1:{api.port}{path}"
            ) as resp:
                return json.loads(resp.read())

        t0, t1 = base, base + 1200
        # (t1-t0)//20 = 60s step = the tier grid
        s = get(
            f"/render?target=hr.a&from={t0}&until={t1}"
            "&maxDataPoints=20&format=json"
        )
        got = {t: v for v, t in s[0]["datapoints"]}
        assert got[base] == 50.0        # tier value, not raw avg 20.0
        assert got[base + 600] == 7.0   # hot tier from raw points
        # no maxDataPoints -> raw points, tier untouched
        s2 = get(f"/render?target=hr.a&from={t0}&until={t1}&format=json")
        got2 = {t: v for v, t in s2[0]["datapoints"]}
        assert got2[base] == 10.0 and got2[base + 30] == 30.0
        # a function target falls back to raw + post-consolidation
        s3 = get(
            f"/render?target=scale(hr.a,1)&from={t0}&until={t1}"
            "&maxDataPoints=20&format=json"
        )
        got3 = {t: v for v, t in s3[0]["datapoints"]}
        assert got3[base] == 20.0  # raw avg of 10,30
    finally:
        api.stop()


def test_seriesbytag_serves_from_hot_rollup_tier(spark, tmp_path):
    """A seriesByTag /render with maxDataPoints answers history from
    the pre-aggregated tier end-to-end: tagged canonical names are
    ordinary tier paths. The tier bucket deliberately differs from the
    raw points (tier value in the response proves no raw re-average),
    and the plan assert shows the raw-points scan is pushdown-clipped
    to time >= horizon — history never touches raw points."""
    base = 1_625_400_000
    path = "cpu.load?env=prod&host=h1"
    root = str(tmp_path / "sbt")
    spark.createDataFrame(
        [(path, base, 10.0), (path, base + 30, 30.0),
         (path, base + 600, 7.0)],
        "path string, time long, value double",
    ).write.parquet(f"{root}/points")
    spark.createDataFrame(
        [("2021-07-04", "env=prod", path,
          ["__name__=cpu.load", "env=prod", "host=h1"], 1),
         ("2021-07-04", "host=h1", path,
          ["__name__=cpu.load", "env=prod", "host=h1"], 1),
         ("2021-07-04", "__name__=cpu.load", path,
          ["__name__=cpu.load", "env=prod", "host=h1"], 1)],
        "date string, tag1 string, path string, tags array<string>, "
        "version long",
    ).write.parquet(f"{root}/tagged")
    # tier bucket `base` stored with sum=100/cnt=2 (raw avg would be
    # 20); horizon = base + 60
    spark.createDataFrame(
        [(path, base, 50.0, 100.0, 60.0, 40.0, 2, 60.0)],
        "path string, time long, avg double, sum double, max double, "
        "min double, cnt long, last double",
    ).write.parquet(f"{root}/rollup_hot")

    idx = spark.createDataFrame([("cpu.load", 2)], "path string, level int")
    store = GraphiteStore(
        idx,
        spark.read.parquet(f"{root}/points"),
        tagged=spark.read.parquet(f"{root}/tagged"),
        rollup_hot=spark.read.parquet(f"{root}/rollup_hot"),
        rollup_precision=60,
    )
    api = RenderApi(store).start()
    try:
        def get(p):
            with urllib.request.urlopen(
                f"http://127.0.0.1:{api.port}{p}"
            ) as resp:
                return json.loads(resp.read())

        t0, t1 = base, base + 1200
        target = urllib.parse.quote("seriesByTag('env=prod')")
        s = get(
            f"/render?target={target}&from={t0}&until={t1}"
            "&maxDataPoints=20&format=json"
        )
        got = {t: v for v, t in s[0]["datapoints"]}
        assert got[base] == 50.0        # tier value, not raw avg 20.0
        assert got[base + 600] == 7.0   # post-horizon: raw points
        # no maxDataPoints -> raw read path, tier untouched
        s2 = get(f"/render?target={target}&from={t0}&until={t1}&format=json")
        got2 = {t: v for v, t in s2[0]["datapoints"]}
        assert got2[base] == 10.0 and got2[base + 30] == 30.0

        # plan assert: the raw-points side of the merged read is
        # pushdown-clipped at the horizon — below it only the tier's
        # parquet is scanned
        df = store.series_consolidated([path], t0, t1, 60)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert f"GreaterThanOrEqual(time,{base + 60})" in plan, plan
    finally:
        api.stop()


def test_render_max_data_points_honors_consolidate_by(store):
    """graphite-web: consolidateBy changes WHICH function squeezes
    the series into maxDataPoints buckets ('by default, average');
    cumulative is its documented sum alias. Same 4 minutely points
    (0,1,2,3) as test_render_max_data_points: max -> [1, 3],
    cumulative/sum -> [1, 5]."""
    api = RenderApi(store).start()
    try:
        base = (
            f"http://127.0.0.1:{api.port}/render?"
            "from=1625478000&until=1625478240&maxDataPoints=2"
        )
        with urllib.request.urlopen(
            base + "&target=consolidateBy(dc.h1.cpu,'max')"
        ) as resp:
            series = json.loads(resp.read())
        assert [v for v, _ in series[0]["datapoints"]] == [1.0, 3.0]
        with urllib.request.urlopen(
            base + "&target=cumulative(dc.h1.cpu)"
        ) as resp:
            series = json.loads(resp.read())
        assert [v for v, _ in series[0]["datapoints"]] == [1.0, 5.0]
    finally:
        api.stop()


def test_metrics_find_completer_and_nodelist(store):
    """graphite-web /metrics/find formats beyond treejson:
    'completer' returns {'metrics': [{path, name, is_leaf}]} with a
    trailing dot on branch paths and string is_leaf flags (plus a
    '*' entry under wildcards=1); 'nodelist' returns the unique node
    names at the query position."""
    api = RenderApi(store).start()
    try:
        base = f"http://127.0.0.1:{api.port}/metrics/find"
        with urllib.request.urlopen(
            base + "?query=dc.*&format=completer"
        ) as r:
            got = json.loads(r.read())
        assert {m["name"] for m in got["metrics"]} >= {"h1"}
        for m in got["metrics"]:
            assert m["is_leaf"] in ("0", "1")
            if m["is_leaf"] == "0":
                assert m["path"].endswith(".")
        with urllib.request.urlopen(
            base + "?query=dc.*&format=completer&wildcards=1"
        ) as r:
            got = json.loads(r.read())
        assert got["metrics"][-1] == {"name": "*"}
        with urllib.request.urlopen(
            base + "?query=dc.*&format=nodelist"
        ) as r:
            got = json.loads(r.read())
        assert "h1" in got["nodes"] == sorted(got["nodes"])
    finally:
        api.stop()


def test_tags_autocomplete_expr_and_limit(tagged_store):
    """graphite-web /tags/autoComplete with expr filters: values of
    one tag restricted to series matching the expressions, and the
    tag-key list of matching series; limit caps both (upstream
    default 100)."""
    api = RenderApi(tagged_store).start()
    try:
        base = f"http://127.0.0.1:{api.port}/tags/autoComplete"
        with urllib.request.urlopen(
            base + "/values?tag=host&expr=env%3Dprod"
        ) as r:
            got = json.loads(r.read())
        assert got == ["h1", "h3"]
        with urllib.request.urlopen(
            base + "/values?tag=host&expr=env%3Dprod&limit=1"
        ) as r:
            assert json.loads(r.read()) == ["h1"]
        with urllib.request.urlopen(
            base + "/tags?expr=env%3Ddev"
        ) as r:
            got = json.loads(r.read())
        assert got == ["__name__", "env", "host"]
        # the 'name' spelling resolves to the stored __name__ tag
        with urllib.request.urlopen(
            base + "/values?tag=name&expr=host%3Dh1"
        ) as r:
            assert json.loads(r.read()) == ["cpu.load"]
    finally:
        api.stop()


def test_render_area_between_two_targets(store):
    """areaBetween must come back as TWO same-named targets (upstream
    renames its pair but keeps them separate series), never one
    merged series with interleaved datapoints."""
    api = RenderApi(store).start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{api.port}/render?"
            "target=areaBetween(dc.*.cpu)"
            "&from=1625478000&until=1625478240&format=json"
        ) as r:
            out = json.loads(r.read())
        assert len(out) == 2
        assert {s["target"] for s in out} == {"areaBetween(dc.*.cpu)"}
        lens = [len(s["datapoints"]) for s in out]
        assert lens[0] == lens[1]  # one series each, not interleaved
    finally:
        api.stop()


_TWICE_BASE = 1_625_478_000


@pytest.fixture(scope="module")
def twice_root(spark, tmp_path_factory):
    """A stored root holding every series twice: two uncompacted
    write_tables appends, neither given an exists cache, so the index
    and tagged tables carry each series' rows twice (points at
    different times). Plain series ``srv.sortBy.sNN`` and
    ``srv.plain.m``, tagged ``req;dc=dc1;host=hN``."""
    from carbon_clickhouse_spark.pipeline import (
        IngestConfig,
        derive_tables,
        write_tables,
    )
    from carbon_clickhouse_spark.sources.plain import parse_plain_lines

    base = _TWICE_BASE
    root = str(tmp_path_factory.mktemp("twice") / "tables")
    for part in (0, 1):
        lines = [
            f"srv.sortBy.s{i:02d} {i * 10 + j} {base + 60 * (4 * part + j)}"
            for i in range(12)
            for j in range(4)
        ] + [
            f"srv.plain.m {j} {base + 60 * (4 * part + j)}" for j in range(4)
        ] + [
            f"req;dc=dc1;host=h{h} {h + j} {base + 60 * (4 * part + j)}"
            for h in range(3)
            for j in range(4)
        ]
        df = spark.createDataFrame([(l,) for l in lines], ["line"])
        write_tables(
            derive_tables(parse_plain_lines(df, now=base), IngestConfig()),
            root,
        )
    return root


def _get_json(api, path):
    with urllib.request.urlopen(f"http://127.0.0.1:{api.port}{path}") as r:
        return json.loads(r.read())


def _ungrouped_job_ids(spark) -> list[int]:
    """Ids of the Spark jobs run outside any job group, read through
    the status store. A /render handler thread runs outside any
    group; a streaming query runs its batches in its own group."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return spark.sparkContext.statusTracker().getJobIdsForGroup(None)


def test_resolvers_list_a_twice_written_series_once(spark, twice_root):
    """find (on the driver), find_series, tag_values, tag_names and
    all_metrics deduplicate: a series whose index and tagged rows were
    written twice is listed once."""
    store = GraphiteStore.open(spark, twice_root)
    names = [f"srv.sortBy.s{i:02d}" for i in range(12)]
    assert store.find("srv.sortBy.*") == [(n, True) for n in names]
    assert store.find("srv.*") == [
        ("srv.plain", False), ("srv.sortBy", False),
    ]
    tagged = [f"req?dc=dc1&host=h{h}" for h in range(3)]
    assert store.find_series(["dc=dc1"]) == tagged
    assert store.tag_values("host") == ["h0", "h1", "h2"]
    assert store.tag_values("host", exprs=["dc=dc1"]) == ["h0", "h1", "h2"]
    assert store.tag_names() == ["__name__", "dc", "host"]
    assert store.tag_names(exprs=["dc=dc1"]) == ["__name__", "dc", "host"]
    assert store.all_metrics() == ["srv.plain.m"] + names
    # the suffix-heavy glob resolves through the reverse index rows
    assert sorted(
        {r.path for r in store.series("*.sortBy.s03", 0, 2**31).collect()}
    ) == ["srv.sortBy.s03"]


def test_render_series_in_name_order_unless_sorted_by_a_call(
    spark, twice_root
):
    """/render lists series in name order, the order an
    orderBy("path", "time") of the evaluated frame gives, unless a
    sortBy* CALL orders them: 'sortBy' inside a metric name must not
    keep the frame's own (shuffled) row order."""
    from carbon_clickhouse_spark.__main__ import serve_api

    t0, t1 = _TWICE_BASE - 1, _TWICE_BASE + 600
    store = GraphiteStore.open(spark, twice_root)
    api = serve_api(twice_root, spark)
    try:
        for target in (
            "srv.sortBy.*",
            "movingAverage(srv.sortBy.*, 2)",
            "seriesByTag('dc=dc1')",
        ):
            frame = evaluate_target(parse_target(target), store, t0, t1)
            want = [
                r.path
                for r in frame.select("path")
                .distinct()
                .orderBy("path")
                .collect()
            ]
            got = _get_json(
                api, f"/render?target={quote(target)}&from={t0}&until={t1}"
            )
            assert [s["target"] for s in got] == want, target
            for s in got:
                times = [t for _v, t in s["datapoints"]]
                assert times == sorted(times)
        # a real sortBy call keeps the frame's order: largest total first
        got = _get_json(
            api,
            f"/render?target=sortByTotal(srv.sortBy.*)&from={t0}&until={t1}",
        )
        assert [s["target"] for s in got] == [
            f"srv.sortBy.s{i:02d}" for i in reversed(range(12))
        ]
    finally:
        api.stop()


def test_render_area_between_keeps_first_timestamp_order(spark, tmp_path):
    """areaBetween's two same-named targets come back in the order an
    orderBy("path", "time") of its frame gives: the series whose
    points start first goes first, whatever the names."""
    from carbon_clickhouse_spark.pipeline import (
        IngestConfig,
        derive_tables,
        write_tables,
    )
    from carbon_clickhouse_spark.sources.plain import parse_plain_lines

    base = _TWICE_BASE
    # a.b.late sorts first by name but starts a minute after a.b.zearly
    lines = [f"a.b.late {j} {base + 60 * (j + 1)}" for j in range(3)] + [
        f"a.b.zearly {10 + j} {base + 60 * j}" for j in range(3)
    ]
    df = spark.createDataFrame([(l,) for l in lines], ["line"])
    root = str(tmp_path / "tables")
    write_tables(
        derive_tables(parse_plain_lines(df, now=base), IngestConfig()), root
    )
    store = GraphiteStore.open(spark, root)
    frame = evaluate_target(
        parse_target("areaBetween(a.b.*)"), store, base - 1, base + 600
    )
    want = []
    for r in frame.orderBy("path", "time").collect():
        if r["__series"] not in want:
            want.append(r["__series"])
    api = RenderApi(store).start()
    try:
        got = _get_json(
            api,
            f"/render?target=areaBetween(a.b.*)&from={base - 1}"
            f"&until={base + 600}",
        )
    finally:
        api.stop()
    assert want == ["a.b.zearly", "a.b.late"]
    assert {s["target"] for s in got} == {"areaBetween(a.b.*)"}
    assert [s["datapoints"][0][0] for s in got] == [10.0, 0.0]


def test_requests_run_the_fewest_spark_jobs(spark, twice_root):
    """Glob resolution collects without a dedup shuffle (one job), and
    the /render finish sorts on the driver: a glob target runs its
    find and one result job, a consolidated literal target its
    shuffle and result jobs only."""
    from carbon_clickhouse_spark.__main__ import serve_api

    t0, t1 = _TWICE_BASE - 1, _TWICE_BASE + 600
    requests = {
        "find": ("/metrics/find?query=srv.sortBy.*", 1),
        "render_glob": (
            f"/render?target=srv.sortBy.*&from={t0}&until={t1}", 2
        ),
        "render_one": (
            f"/render?target=srv.plain.m&from={t0}&until={t1}"
            "&maxDataPoints=3",
            2,
        ),
    }
    api = serve_api(twice_root, spark)
    try:
        for kind, (path, most) in requests.items():
            _get_json(api, path)  # warm
            before = max(_ungrouped_job_ids(spark), default=-1)
            _get_json(api, path)
            jobs = sum(j > before for j in _ungrouped_job_ids(spark))
            assert 1 <= jobs <= most, (kind, jobs)
    finally:
        api.stop()
