"""Unit tests for the benchmark's pure logic (no Spark).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import harness  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402


# --- percentile selection ---------------------------------------------------


def test_tail_needs_ten_samples_beyond():
    # 19 samples: the median (rank 10) has 9 beyond it -> no tail
    assert harness.tail_percentile(list(range(19))) is None
    # 20 samples: rank 10 leaves 10 beyond -> the median qualifies
    assert harness.tail_percentile(list(range(20))) == (50.0, 9.0)


def test_tail_picks_highest_supported_percentile():
    xs = list(range(1, 101))  # 100 samples
    # p90 = rank 90 leaves 10 beyond; p95 leaves only 5
    assert harness.tail_percentile(xs) == (90.0, 90.0)
    xs = list(range(1, 1001))
    assert harness.tail_percentile(xs) == (99.0, 990.0)


def test_percentile_nearest_rank():
    assert harness.percentile([5, 1, 3], 50) == 3
    assert harness.percentile([5, 1, 3], 100) == 5
    with pytest.raises(ValueError):
        harness.percentile([], 50)


def test_drift_ratio():
    assert harness.drift_ratio([10, 10, 10, 10]) == 1.0
    assert harness.drift_ratio([20, 20, 10, 10, 10, 10, 10, 10]) == 0.5


# --- generators -------------------------------------------------------------


def test_line_stream_is_deterministic_per_seed():
    def chunks(seed):
        s = gen.LineStream(seed, gen.ingest_universe(seed, 500), 200)
        return [s.history().files] + [s.next_chunk().files for _ in range(3)]

    assert chunks(7) == chunks(7)
    assert chunks(7) != chunks(8)


def test_line_stream_counts():
    universe = gen.ingest_universe(3, 1000)
    assert len({s.path for s in universe}) == 1000
    tagged = sum(1 for s in universe if s.tags)
    assert 150 <= tagged <= 250  # about 20%
    stream = gen.LineStream(3, universe, 2000)
    hist = stream.history()
    assert len(hist.valid) == 1000 and len(hist.files) == 4
    c = stream.next_chunk()
    lines = [ln for f in c.files for ln in f.splitlines()]
    assert len(lines) == c.lines == 2000
    assert len(c.files) == 4
    assert len(c.valid) == 2000 - 10  # 0.5% malformed
    churned = [s for s, _v, _t in c.valid if "churn" in s.path]
    assert len(churned) == 20  # 1% new series


def test_expected_tables_counts_index_and_tags():
    exp = gen.ExpectedTables()
    a = gen.Series("a.b.c", "a.b.c")
    d = gen.Series("a.b.d", "a.b.d")
    t = gen.Series("cpu;dc=x", "cpu?dc=x", ["__name__=cpu", "dc=x"])
    exp.add(a, gen.DAY0)
    exp.add(a, gen.DAY0 + 5)  # same series, same day: no new index rows
    exp.add(d, gen.DAY0)
    exp.add(t, gen.DAY0)
    assert exp.points == 4
    # per leaf: tree + reverse tree + daily + reverse daily; shared
    # ancestors 'a.' and 'a.b.'
    assert exp.index_rows == 2 * 4 + 2
    assert exp.tagged_rows == 2


def test_analytics_tables_deterministic():
    a = gen.analytics_tables(5, 0.001)
    b = gen.analytics_tables(5, 0.001)
    c = gen.analytics_tables(6, 0.001)
    assert set(a) == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["events"].equals(c["events"])
    assert a["events"].num_rows == 1000
    assert a["orders"].num_rows == 1500


def test_dashboard_points_and_requests():
    pts = gen.dashboard_points(1)
    n_series = len(gen.dashboard_series())
    assert n_series == 700
    assert pts.num_rows == n_series * 288
    r1 = gen.dashboard_requests(4, 70)
    assert [r.path for r in r1] == [r.path for r in gen.dashboard_requests(4, 70)]
    # every cycle of seven covers every type once
    for i in range(0, 70, 7):
        assert sorted(r.kind for r in r1[i : i + 7]) == sorted(metrics.REQUEST_TYPES)
    assert len({r.path for r in r1}) == len(r1)


# --- metric names -----------------------------------------------------------


def test_metric_names_and_units():
    names = [n for n, _u in metrics.END_TO_END + metrics.PER_LAYER]
    assert len(names) == len(set(names))
    for n, unit in metrics.END_TO_END + metrics.PER_LAYER:
        assert harness.METRIC_NAME.fullmatch(n), n
        assert len(n) <= 64 and n[0].isalnum(), n
        assert 0 < len(unit) <= 16, unit
    assert 1 <= len(metrics.PER_LAYER) <= 128


def test_benchmark_json_matches_catalogue():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(metrics.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(metrics.PER_LAYER)
    import run

    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_metrics_reject_bad_names_and_values():
    m = harness.Metrics()
    with pytest.raises(ValueError):
        m.put("bad name", 1.0, "ms")
    with pytest.raises(ValueError):
        m.put("x", math.nan, "ms")


# --- oracle digests ---------------------------------------------------------


def test_digest_ignores_row_and_column_order():
    a = oracle.digest(["k", "v"], [(1, "x"), (2, "y")])
    b = oracle.digest(["v", "k"], [("y", 2), ("x", 1)])
    assert a == b and a[0] == 2


def test_digest_float_and_null_canonicalization():
    base = oracle.digest(["v"], [(1.5,), (None,), (math.nan,)])
    assert base == oracle.digest(["v"], [(math.nan,), (1.5,), (None,)])
    # exact floats: a last-digit difference is a different result
    assert base != oracle.digest(["v"], [(1.5000000000000002,), (None,), (math.nan,)])
    # null and NaN are distinct, and a float is not its integer
    assert oracle.digest(["v"], [(None,)]) != oracle.digest(["v"], [(math.nan,)])
    assert oracle.digest(["v"], [(3.0,)]) != oracle.digest(["v"], [(3,)])


def test_frame_digest_matches_row_digest():
    pd = pytest.importorskip("pandas")
    df = pd.DataFrame({"b": [2.5, 1.0], "a": ["x", None]})
    assert oracle.frame_digest(df) == oracle.digest(["b", "a"], [(2.5, "x"), (1.0, None)])
