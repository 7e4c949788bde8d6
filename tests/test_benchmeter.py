"""Bench-harness self-tests.

Two driver rounds lost their performance evidence to harness bugs
(r2: NTZ crash, r4: ZeroDivisionError at bench.py when
``recentProgress`` had no visible data-carrying batch). These tests
pin the measurement arithmetic against the exact progress shapes that
killed those rounds, pin the one leg timer's job count, and smoke-run
bench.py itself at sf0.001 so a broken harness fails pytest, not a
benchmark run. The A/B harness (tools/scale_ab.py) is checked against
the query registry without Spark.
"""

import json
import os
import subprocess
import sys

import pytest

import bench
from carbon_clickhouse_spark import benchmeter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _p(batch_id, rows, trigger_ms):
    return {
        "batchId": batch_id,
        "numInputRows": rows,
        "durationMs": {"triggerExecution": trigger_ms},
    }


class TestBusySeconds:
    def test_normal_wave(self):
        prog = [_p(1, 0, 40), _p(2, 1000, 900), _p(3, 1000, 1100), _p(4, 0, 30)]
        assert benchmeter.busy_seconds(prog, {1}) == pytest.approx(2.0)

    def test_empty_progress(self):
        # recentProgress may be empty right after query start
        assert benchmeter.busy_seconds([], set()) == 0.0

    def test_all_empty_batches(self):
        # only idle triggers visible -> 0.0, not a crash
        prog = [_p(5, 0, 35), _p(6, 0, 28)]
        assert benchmeter.busy_seconds(prog, set()) == 0.0

    def test_missing_last_batch_r4_shape(self):
        """The r4 crash: the wave drained in ONE deep batch whose
        progress event had not been published when the driver read
        recentProgress — every visible entry was already seen or
        empty, so the busy sum was 0."""
        prog = [_p(10, 40000, 5000), _p(11, 0, 30)]
        seen = {10, 11}  # both were counted before the wave landed
        assert benchmeter.busy_seconds(prog, seen) == 0.0

    def test_malformed_entry_skipped(self):
        prog = [{"batchId": 1}, _p(2, 500, 250), {"numInputRows": 3}]
        assert benchmeter.busy_seconds(prog, set()) == pytest.approx(0.25)


class TestThroughputPps:
    def test_prefers_busy_time(self):
        assert benchmeter.throughput_pps(1000, 2.0, 10.0) == 500.0

    def test_wall_fallback_when_busy_zero(self):
        # the r4 shape: busy invisible -> wall bracket, NOT a crash
        assert benchmeter.throughput_pps(1000, 0.0, 4.0) == 250.0

    def test_both_zero_is_zero_not_crash(self):
        assert benchmeter.throughput_pps(1000, 0.0, 0.0) == 0.0

    def test_zero_rows(self):
        assert benchmeter.throughput_pps(0, 1.0, 1.0) == 0.0


class TestTimeLeg:
    def test_counts_the_jobs_of_the_last_repeat(self, spark):
        sc = spark.sparkContext
        calls = []

        def run(i):
            calls.append(i)
            sc.parallelize(range(4), 2).count()
            sc.parallelize(range(4), 2).count()

        best, jobs = bench._time_leg(sc, run, 3)
        assert calls == [0, 1, 2]
        assert jobs == 2
        assert best >= 0

    def test_refuses_a_job_group(self, spark):
        # jobs in a non-default group are invisible to _max_job_id, so
        # the count would read 0 instead of failing
        sc = spark.sparkContext
        sc.setJobGroup("bench-guard", "job-group guard test")
        try:
            with pytest.raises(RuntimeError, match="job group"):
                bench._time_leg(sc, lambda _: None, 1)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert sc.getLocalProperty("spark.jobGroup.id") is None


def test_unknown_leg_exits_before_any_session(monkeypatch):
    from carbon_clickhouse_spark import session

    def no_session(*a, **k):
        raise AssertionError("bench started a Spark session")

    monkeypatch.setattr(session, "get_spark", no_session)
    with pytest.raises(SystemExit) as exc:
        bench.main(["tpch_q1", "no_such_leg"])
    assert exc.value.code not in (0, None)
    assert "no_such_leg" in str(exc.value.code)
    assert "tpch_q1" not in str(exc.value.code)


def _run_bench(*legs):
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_BENCH_REPEATS="1",
        SPARK_GRAFT_BENCH_STREAM_ROUNDS="1",
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), *legs],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    json_lines = [
        ln for ln in proc.stdout.splitlines() if ln.startswith("{")
    ]
    assert json_lines, proc.stdout[-2000:]
    return json.loads(json_lines[-1])


@pytest.mark.slow
def test_bench_smoke_sf0001():
    """Run the real bench.py end-to-end at sf0.001 with one repeat /
    one streaming round; it must exit 0 and print one parseable JSON
    line with all its fields. Then once more with two legs named: the
    same keys, with queries/jobs limited to those legs."""
    out = _run_bench()
    assert out["metric"] == "headline_queries_total_runtime"
    assert out["value"] > 0
    assert out["queries"]
    assert out["ingest_points_per_sec"] > 0
    assert out["streaming_points_per_sec"] > 0

    legs = _run_bench("points_ingest", "tpch_q1")
    assert legs.keys() == out.keys()
    assert set(legs["queries"]) == {"points_ingest", "tpch_q1"}
    assert set(legs["jobs"]) == {"points_ingest", "tpch_q1"}
    assert legs["value"] > 0


def _load_scale_ab():
    import importlib.util

    path = os.path.join(REPO, "tools", "scale_ab.py")
    spec = importlib.util.spec_from_file_location("scale_ab", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod, path


def test_scale_ab_pairs_name_shipped_queries():
    """The A/B table must follow the query registry: a renamed or
    deleted query turns this red instead of breaking the harness at
    run time. Pair names are checked on the source, because a
    duplicated key in a dict literal silently drops the first pair."""
    import ast

    import __spark_entry__ as entry

    mod, path = _load_scale_ab()
    with open(path) as fh:
        tree = ast.parse(fh.read())
    (table,) = [
        node.value
        for node in tree.body
        if isinstance(node, ast.Assign)
        and [t.id for t in node.targets if isinstance(t, ast.Name)] == ["PAIRS"]
    ]
    names = [k.value for k in table.keys]
    assert len(names) == len(set(names)) == len(mod.PAIRS)

    shipped = {*entry.queries().values(), *entry.extra_queries().values()}
    for name, (_old, new) in mod.PAIRS.items():
        assert new in shipped, f"{name}: {new.__name__} is not a registered query"
