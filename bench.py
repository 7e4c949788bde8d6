"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default: the
cores this process may run on) and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "jobs": {name: n}, "sf": ...}.

Usage: python bench.py [leg ...]
  No legs: every BENCH_QUERIES leg, then the storage, ingest and
  streaming sections. With legs: only those BENCH_QUERIES legs are
  timed; the line keeps its keys, with ``queries``/``jobs`` limited to
  the named legs and the two points/s fields null.
  env SPARK_GRAFT_BENCH_REPEATS=N   best of N per leg (default 4)

Each query materializes via the noop sink (full compute, no driver
collect) so the timing covers scan -> transform -> shuffle, not
result serialization.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    "points_ingest",
    "points_reverse",
    "index_table",
    "tagged_table",
    "series_dedup",
    "rollup_all",
    "read_series",
    "tpch_q1",
    "top_revenue_orders",
    "dedup_exact",
    "text_features",
    "token_counts",
    "minhash_lsh_pairs",
    "simhash",
    "ann_topk",
    "cosine_pairs",
    "multimodal_features",
    # round-6 operators: the newest, most plan-subtle code gets timed
    # legs so a perf regression there is visible round-over-round
    "window_funnel",
    "sequence_count",
    "top_event_types",
    "quantile_sketch",
    # round-7: the adaptive-histogram centroid merge (Arrow per-group)
    # and the multi-aggregate join plan
    "histogram_adaptive",
    "ch_agg_breadth",
    # round-8: the deterministic bucketed sketch (the 100 TB
    # histogram path), the moment aggregates' decimal power sums, and
    # the LTTB per-series pick fold
    "histogram_adaptive_sketch",
    "stat_moments",
    "lttb_downsample",
    "two_sample_tests",
    "contingency_stats",
    # round-9: Spearman over exact half-rank sums (single Exchange)
    # and the entropy-fold contingency sibling
    "rank_corr",
    "theils_u",
    "exp_smoothing",
    # the n(n+1)/2-cross-sums single pass — the most plan-subtle of
    # the round-9 partial-agg family
    "corr_matrix",
    # round-12: the SpaceSaving two-level merge (per-partition Arrow
    # summaries + min-row broadcast fold), newly graded
    "top_k_sketch",
    # round-12 session 2: anyHeavy's reduced-row max + the portable
    # md5 sample window + groupConcat in one null-safe-joined plan
    "ch_agg_breadth2",
]


def _host_provenance() -> dict:
    """Host-state fields recorded with every run: bench totals on this
    box drift ~25% together after a VM reboot with identical plans
    (SCALING.md 'Bench note'), so the JSON carries enough context to
    tell host variance from a real regression."""
    prov: dict = {}
    try:
        with open("/proc/uptime") as fh:
            prov["uptime_s"] = round(float(fh.read().split()[0]))
    except OSError:
        pass
    try:
        prov["loadavg_1m"] = round(os.getloadavg()[0], 2)
    except OSError:
        pass
    return prov


def _max_job_id(sc) -> int:
    """Highest Spark job id submitted so far (-1 before the first).

    Job ids are app-wide and monotonically increasing, so the delta
    across a timed run counts the jobs it submitted. The id MAX is
    robust to the UI's retained-jobs eviction (a full bench submits
    well past spark.ui.retainedJobs=1000, where a length delta would
    undercount). Only jobs outside any job group are visible here,
    which :func:`_time_leg` checks before it counts."""
    ids = sc.statusTracker().getJobIdsForGroup(None) or []
    return max(ids) if ids else -1


def _time_leg(sc, run, repeats: int) -> tuple[float, int]:
    """Best-of-``repeats`` wall seconds of ``run(i)`` (``i`` is the
    repeat index) plus the Spark JOB COUNT of the last repeat (wall
    time on one host drifts ~25% whole-host between runs; the job count
    is the load-independent structural signal — eager probes, extra
    broadcasts and AQE stage materializations all show up in it and it
    does not move with host noise).

    The first repeat pays one-time plan compilation and stage warmup;
    the rest sample steady-state throughput."""
    if sc.getLocalProperty("spark.jobGroup.id") is not None:
        raise RuntimeError(
            "a Spark job group is set: its jobs are invisible to the "
            "leg's job count; clear the group before timing"
        )
    best = None
    for i in range(repeats):
        jobs_before = _max_job_id(sc)
        t0 = time.perf_counter()
        run(i)
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 3), _max_job_id(sc) - jobs_before


def _noop(df) -> None:
    """Full compute through the noop sink; nothing is collected."""
    df.write.format("noop").mode("overwrite").save()


def main(argv: list[str] | None = None) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    legs = sys.argv[1:] if argv is None else argv
    unknown = [leg for leg in legs if leg not in BENCH_QUERIES]
    if unknown:
        raise SystemExit(
            f"bench.py: unknown leg(s): {' '.join(unknown)} "
            "(legs are the names in bench.BENCH_QUERIES)"
        )
    # the host shows multi-second noise spikes, so several steady
    # samples beat one
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "4"))

    import __spark_entry__ as entry
    from carbon_clickhouse_spark.session import get_spark

    spark = get_spark(app_name="ccs-bench")
    sc = spark.sparkContext
    # headline set spans both the graded window and the extra registry
    qs = {**entry.queries(), **entry.extra_queries()}

    # warm the JVM/session (scan metadata, codegen) outside the clock
    spark.read.parquet(f"{sf_dir}/events.parquet").count()

    timings: dict[str, float] = {}
    leg_jobs: dict[str, int] = {}
    for name in legs or BENCH_QUERIES:
        fn = qs[name]
        timings[name], leg_jobs[name] = _time_leg(
            sc, lambda _: _noop(fn(spark, sf_dir)), repeats
        )

    pps = stream_pps = None
    if not legs:
        _time_stored(spark, sf_dir, repeats, timings, leg_jobs)
        # the reference's KPI: ingest throughput. points_ingest parses
        # 2 lines per event (plain + tagged), so points/s = 2n / t.
        n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
        pps = round(2 * n_events / timings["points_ingest"])
        # sustained STREAMING ingest: land line files, run the
        # foreachBatch four-table pipeline until drained
        stream_pps = _stream_throughput(spark, sf_dir)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": timings,
                # additive r13 field (r12 verdict #2): per-leg Spark
                # job count of the last timing repeat — the
                # load-independent structural signal that separates
                # host noise from a real plan regression
                "jobs": leg_jobs,
                "ingest_points_per_sec": pps,
                "streaming_points_per_sec": stream_pps,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "host": _host_provenance(),
            }
        )
    )


def _time_stored(spark, sf_dir: str, repeats: int, timings, jobs) -> None:
    """Storage path: write the four-table contract, then time the read
    queries a graphite-web-shaped client would issue against it."""
    import shutil
    import tempfile

    import __spark_entry__ as entry
    from carbon_clickhouse_spark.pipeline import IngestConfig, ingest_and_store
    from carbon_clickhouse_spark.query.finder import find_metrics, read_series
    from carbon_clickhouse_spark.schemas import read_table

    sc = spark.sparkContext
    root = tempfile.mkdtemp(prefix="ccs_bench_")
    try:
        # steady state is what a continuously-writing deployment sees;
        # at least three timed writes, each into its own root (with
        # only two, one slow-I/O run landed as the reported number —
        # measured 3.8 s vs a 1.4-1.8 s steady state)
        n = max(3, repeats)

        def store(i):
            pts = entry._events_points(spark, sf_dir)
            ingest_and_store(pts, os.path.join(root, f"w{i}"), IngestConfig())

        timings["store_tables"], jobs["store_tables"] = _time_leg(sc, store, n)
        for i in range(n - 1):
            shutil.rmtree(os.path.join(root, f"w{i}"), ignore_errors=True)
        last = os.path.join(root, f"w{n - 1}")

        stored_points = read_table(spark, last, "points")
        stored_index = read_table(spark, last, "index")
        timings["stored_find_metrics"], jobs["stored_find_metrics"] = _time_leg(
            sc, lambda _: _noop(find_metrics(stored_index, "ev.u1*.*")), repeats
        )
        timings["stored_read_series"], jobs["stored_read_series"] = _time_leg(
            sc,
            lambda _: _noop(
                read_series(
                    stored_points,
                    ["ev.u1.click", "ev.u2.view", "ev.u3.error"],
                    1704067200,
                    1706745600,
                    precision_s=3600,
                )
            ),
            repeats,
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _assert_healthy(query) -> None:
    """Fail loudly if the streaming query swallowed an exception —
    a dead query would otherwise silently understate throughput."""
    exc = query.exception()
    if exc is not None:
        raise RuntimeError(f"streaming query failed: {exc}")


def _stream_throughput(spark, sf_dir: str) -> int:
    """End-to-end streaming rate: protocol lines -> parse -> drop
    rules -> four tables, through the real foreachBatch pipeline."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    import __spark_entry__ as entry_mod
    from carbon_clickhouse_spark import benchmeter
    from carbon_clickhouse_spark.pipeline import IngestConfig
    from carbon_clickhouse_spark.schemas import read_table
    from carbon_clickhouse_spark.streaming.ingest import (
        StreamConfig,
        file_landing_source,
        start_plain_ingest,
    )

    base = tempfile.mkdtemp(prefix="ccs_stream_")
    landing = os.path.join(base, "landing")
    root = os.path.join(base, "tables")
    os.makedirs(landing)
    try:
        ev = entry_mod._t(spark, sf_dir, "events")
        sec = entry_mod._sec(ev)
        lines = ev.select(
            F.concat(
                entry_mod._plain_path(),
                F.lit(" "),
                F.col("value").cast("string"),
                F.lit(" "),
                sec.cast("string"),
            ).alias("value")
        )
        n = lines.count()

        # warm-up wave: a small batch of chunks through the SAME query
        # and root, so the measured wave reports SUSTAINED throughput —
        # table-write plans compiled, stored tables present, the A2
        # anti-join active — not the one-time streaming-machinery
        # startup. Several chunk files per wave, like the reference's
        # rotating writer: micro-batch parallelism follows file count.
        warm_each = min(n, 20000)
        n_warm = 2 * warm_each
        lines.limit(warm_each).repartition(8).write.mode("overwrite").text(
            os.path.join(landing, "warm")
        )
        cfg = StreamConfig(
            root=root,
            chunk_interval="500 milliseconds",
            ingest=IngestConfig(),
            audit_dropped=False,
            exists_cache=True,
        )
        q = start_plain_ingest(
            spark,
            file_landing_source(spark, os.path.join(landing, "*")),
            cfg,
        )
        try:
            # drain cleanly: blocks until every landed file is processed
            # and committed (no parquet-count polling inside the run —
            # those driver jobs steal cores from the micro-batch, and
            # stop()-mid-batch left stack traces in the bench log)
            q.processAllAvailable()
            # second warm wave: now stored tables exist, so this one
            # compiles the A2 anti-join plan variant too
            lines.limit(warm_each).repartition(8).write.mode("overwrite").text(
                os.path.join(landing, "warm2")
            )
            q.processAllAvailable()
            _assert_healthy(q)

            # measured load: full line waves staged OUTSIDE the
            # watched glob, renamed in atomically, then drained — no
            # chunk is visible before the clock starts, and the
            # backlog is deep enough that per-trigger fixed cost
            # (offset log, commit, trigger alignment) amortizes the
            # way it does under continuous arrival. Best of two
            # rounds, same as the query timings: a single round is at
            # the mercy of transient host noise.
            waves = 2
            rounds = int(os.environ.get("SPARK_GRAFT_BENCH_STREAM_ROUNDS", "3"))
            best_pps = 0.0
            for r in range(rounds):
                for i in range(waves):
                    lines.repartition(16).write.mode("overwrite").text(
                        os.path.join(base, f"staged_{r}_{i}")
                    )
                seen_batches = {p["batchId"] for p in q.recentProgress}
                t_wave = time.perf_counter()
                for i in range(waves):
                    os.rename(
                        os.path.join(base, f"staged_{r}_{i}"),
                        os.path.join(landing, f"wave_{r}_{i}"),
                    )
                q.processAllAvailable()
                wall_s = time.perf_counter() - t_wave
                _assert_healthy(q)
                # sustained rate = rows / time the engine spent in
                # data-carrying triggers. Under continuous arrival
                # batches run back-to-back (processing time >> trigger
                # interval), so idle empty triggers — including the
                # extra one processAllAvailable waits for to confirm
                # the drain — are measurement artifacts, not engine
                # time. Progress publication RACES processAllAvailable
                # return (the r4 bench died to this), so poll briefly
                # for the wave's data-carrying entry, then degrade to
                # the wall-clock bracket instead of dividing by zero.
                busy_s = benchmeter.busy_seconds(q.recentProgress, seen_batches)
                deadline = time.monotonic() + 5.0
                while busy_s <= 0 and time.monotonic() < deadline:
                    time.sleep(0.2)
                    busy_s = benchmeter.busy_seconds(
                        q.recentProgress, seen_batches
                    )
                if busy_s <= 0:
                    print(
                        "bench: no data-carrying progress visible; "
                        f"falling back to wall clock ({wall_s:.2f}s)",
                        file=sys.stderr,
                    )
                best_pps = max(
                    best_pps,
                    benchmeter.throughput_pps(waves * n, busy_s, wall_s),
                )
        finally:
            q.stop()
        written = read_table(spark, root, "points").count()
        expect = rounds * waves * n + n_warm
        if written != expect:
            raise RuntimeError(
                f"streaming bench wrote {written} points, expected {expect}"
            )
        return round(best_pps)
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
