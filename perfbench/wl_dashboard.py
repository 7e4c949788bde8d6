"""``dashboard``: Grafana-style panel refreshes against ``/render``.

One HTTP client in a closed loop against ``__main__.serve_api`` over
a four-table root. (Grafana fires a dashboard's panels in parallel,
but with two clients each latency also held the wait behind the other
client's request, which made runs unsteady; see README.md.) The root
holds a day of 5-minute history for 700 series, bulk loaded through
the public batch path; the last hour lands as a separate append, so
recent-range reads see the small-file tail a live store has before
compaction. Seven request types cycle in a seeded order and the time
window slides per cycle, so no two requests are the same and a
response cache could not fake a gain.

An operation is one request. The traced run adds the write side of
the same live store: a streaming ingest probe and the write-path
layers alone (stream_probe.py).
"""

from __future__ import annotations

import os
import statistics
import time
import urllib.error
import urllib.request

import pyarrow.parquet as pq

import check_dashboard
import gen
from harness import median, put_op_stats, put_spark_counters
from metrics import REQUEST_TYPES

CYCLE = len(REQUEST_TYPES)
#: Warm-up cycles before the window, one request at a time (README.md,
#: "drift_ratio").
WARM_ROUNDS = 3

#: Per-layer metrics this workload does not take (reported as 0).
NOT_EXERCISED = ("leg.",)


def _get(url: str) -> tuple[int, bytes]:
    try:
        with urllib.request.urlopen(url, timeout=120) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


def build_root(spark, raw: str, root: str, tr, log) -> None:
    """History through ``ingest_and_store``; the last hour as a
    separate ``write_tables`` append with the exists cache."""
    from pyspark.sql import functions as F

    from carbon_clickhouse_spark.pipeline import derive_tables, ingest_and_store, write_tables

    pts = spark.read.parquet(raw)
    tail_start = gen.DASH_DAY + 86400 - 3600
    t0 = time.perf_counter()
    with tr.span("pipeline.ingest_and_store"):
        ingest_and_store(pts.filter(F.col("time") < tail_start), root)
    t1 = time.perf_counter()
    with tr.span("pipeline.write_tables"):
        write_tables(
            derive_tables(pts.filter(F.col("time") >= tail_start)),
            root,
            existing_index=spark.read.parquet(os.path.join(root, "index")),
            existing_tagged=spark.read.parquet(os.path.join(root, "tagged")),
        )
    log(f"dashboard: history stored in {t1 - t0:.2f}s, tail appended in {time.perf_counter() - t1:.2f}s")


def closed_loop(url: str, requests: list, seconds=None) -> list[tuple]:
    """One client: each request goes out when the previous response has
    been read. With ``seconds`` the loop stops at the first cycle
    boundary after that long, so every window holds whole cycles of
    seven: the same request mix whatever the seed and the host speed.
    Without, it runs the whole sequence. Returns
    ``[(index, latency_ms, status, body)]``."""
    deadline = None if seconds is None else time.perf_counter() + seconds
    done = []
    for i, r in enumerate(requests):
        if deadline is not None and i % CYCLE == 0 and time.perf_counter() >= deadline:
            return done
        t0 = time.perf_counter()
        status, body = _get(url + r.path)
        done.append((i, (time.perf_counter() - t0) * 1000.0, status, body))
    if deadline is not None:
        raise RuntimeError("request sequence exhausted")
    return done


def run(ctx):
    from carbon_clickhouse_spark.__main__ import serve_api

    spark, tr, m = ctx.spark, ctx.tracer, ctx.metrics
    t_setup = time.perf_counter()
    base = os.path.join(ctx.tmp, "dashboard")
    raw = os.path.join(base, "raw.parquet")
    root = os.path.join(base, "tables")
    os.makedirs(base)
    pq.write_table(gen.dashboard_points(ctx.seed), raw)
    build_root(spark, raw, root, tr, ctx.log)
    api = serve_api(root, spark)
    try:
        url = f"http://{api.host}:{api.port}"
        warm = closed_loop(url, gen.dashboard_requests(ctx.seed + 1_000_003, CYCLE * WARM_ROUNDS))
        setup_s = ctx.session_s + (time.perf_counter() - t_setup)
        ctx.log("dashboard: warm requests ms " + " ".join(f"{ms:.0f}" for _i, ms, _s, _b in warm))

        reqs = gen.dashboard_requests(ctx.seed, 2_000)
        t0 = time.perf_counter()
        done = closed_loop(url, reqs, ctx.seconds)
        wall = time.perf_counter() - t0
        lat = [ms for _i, ms, _s, _b in done]
        by_kind = {}
        for i, ms, _s, _b in done:
            by_kind.setdefault(reqs[i].kind, []).append(ms)
        latency_ms = statistics.geometric_mean([median(by_kind[k]) for k in REQUEST_TYPES])
        ctx.log(f"dashboard: {len(done)} requests in {wall:.2f}s")

        m.put("setup_s", setup_s, "s")
        m.put("latency_ms", latency_ms, "ms")

        # correctness, outside the timed window
        failures = check_dashboard.check(raw, [(reqs[i], s, b) for i, _ms, s, b in done])
        for why in failures[:10]:
            ctx.log(f"dashboard: {why}")

        if ctx.trace:
            put_op_stats(m, lat, 0.0, latency_ms)
            for kind in REQUEST_TYPES:
                m.put(f"query.request.{kind}_ms", median(by_kind[kind]), "ms")
            _replay(ctx, api, url, reqs[: CYCLE * 3])
    finally:
        api.stop()
    if ctx.trace:
        import stream_probe

        if not stream_probe.measure(ctx, ctx.seconds):
            failures.append("streamed tables do not hold the rows sent")
    return not failures, len(done), len(failures)


def _replay(ctx, api, url, reqs):
    """Sequential replay of a few cycles, one request at a time, so
    each request's Spark jobs can be attributed to it; then the same
    work as direct calls on the served GraphiteStore."""
    from carbon_clickhouse_spark.query.api import evaluate_target, parse_target

    m, tr, store = ctx.metrics, ctx.tracer, api.store
    windows, per_kind = [], {}
    for r in reqs:
        lo = ctx.counters.mark()
        with tr.span("query.http", kind=r.kind):
            _get(url + r.path)
        w = ctx.counters.window(lo, ctx.counters.mark())
        windows.append(w)
        per_kind.setdefault(r.kind, []).append(w)
    put_spark_counters(m, windows)
    for kind, ws in per_kind.items():
        m.put(f"query.request.{kind}.jobs", median(w["jobs"] for w in ws), "count")
        m.put(f"query.request.{kind}.input_rows", median(w["input_rows"] for w in ws), "count")

    direct = {}
    for r in reqs:
        if r.kind == "find":
            with tr.span("query.find", kind=r.kind) as s:
                store.find(r.arg["query"])
        elif r.kind == "tag_values":
            with tr.span("query.tag_values", kind=r.kind) as s:
                store.tag_values("host", r.arg["valuePrefix"])
        else:
            with tr.span("query.parse_target", kind=r.kind):
                expr = parse_target(r.arg["target"])
            with tr.span("query.evaluate_target", kind=r.kind) as s:
                evaluate_target(expr, store, r.t0, r.t1, {}).collect()
        direct.setdefault(r.kind, []).append((s["end"] - s["start"]) * 1000.0)
    m.put("query.parse_target_ms", median(tr.durations_ms("query.parse_target")), "ms")
    m.put("query.find_ms", median(tr.durations_ms("query.find")), "ms")
    m.put("query.evaluate_target_ms", median(tr.durations_ms("query.evaluate_target")), "ms")
    http = {}
    for s in tr.spans:
        if s["name"] == "query.http":
            http.setdefault(s["kind"], []).append((s["end"] - s["start"]) * 1000.0)
    m.put(
        "query.http_overhead_ms",
        median(median(http[k]) - median(direct[k]) for k in http),
        "ms",
    )
