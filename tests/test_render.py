"""Graphite render-function layer tests."""

from carbon_clickhouse_spark.query.render import (
    derivative,
    moving_average,
    non_negative_derivative,
    offset,
    per_second,
    scale,
    summarize,
)


def _series(spark, rows):
    return spark.createDataFrame(rows, "path string, time long, value double")


def test_derivatives(spark):
    s = _series(
        spark,
        [("m", 10, 100.0), ("m", 20, 103.0), ("m", 30, 101.0), ("m", 40, 111.0)],
    )
    d = {r.time: r.value for r in derivative(s).collect()}
    assert d == {10: None, 20: 3.0, 30: -2.0, 40: 10.0}
    nn = {r.time: r.value for r in non_negative_derivative(s).collect()}
    assert nn == {10: None, 20: 3.0, 30: None, 40: 10.0}
    ps = {r.time: r.value for r in per_second(s).collect()}
    assert ps == {10: None, 20: 0.3, 30: None, 40: 1.0}


def test_moving_average(spark):
    s = _series(spark, [("m", t, float(t)) for t in (1, 2, 3, 4)])
    ma = {r.time: r.value for r in moving_average(s, points=2).collect()}
    assert ma == {1: 1.0, 2: 1.5, 3: 2.5, 4: 3.5}


def test_summarize_scale_offset(spark):
    s = _series(spark, [("m", 10, 1.0), ("m", 70, 3.0), ("m", 80, 5.0)])
    sm = {r.time: r.value for r in summarize(s, 60, "sum").collect()}
    assert sm == {0: 1.0, 60: 8.0}
    sc = {r.time: r.value for r in scale(s, 2.0).collect()}
    assert sc == {10: 2.0, 70: 6.0, 80: 10.0}
    of = {r.time: r.value for r in offset(s, -1.0).collect()}
    assert of == {10: 0.0, 70: 2.0, 80: 4.0}


def test_integral_and_group_by_node(spark):
    from carbon_clickhouse_spark.query.render import group_by_node, integral

    s = _series(
        spark,
        [
            ("a.u1.x", 10, 1.0),
            ("a.u1.x", 20, 2.0),
            ("a.u1.y", 10, 5.0),
            ("a.u2.x", 10, 7.0),
        ],
    )
    it = {(r.path, r.time): r.value for r in integral(s).collect()}
    assert it[("a.u1.x", 20)] == 3.0
    gb = {(r.path, r.time): r.value for r in group_by_node(s, 1, "sum").collect()}
    assert gb == {("u1", 10): 6.0, ("u1", 20): 2.0, ("u2", 10): 7.0}


def test_point_transforms(spark):
    from carbon_clickhouse_spark.query.render import (
        absolute,
        clamp,
        invert,
        logarithm,
        remove_above_value,
        remove_below_value,
        time_shift,
    )

    s = _series(spark, [("m", 10, -4.0), ("m", 20, 0.0), ("m", 30, 100.0)])
    assert {r.time: r.value for r in absolute(s).collect()} == {
        10: 4.0, 20: 0.0, 30: 100.0,
    }
    assert {r.time: r.value for r in time_shift(s, 3600).collect()} == {
        3610: -4.0, 3620: 0.0, 3630: 100.0,
    }
    lg = {r.time: r.value for r in logarithm(s, 10.0).collect()}
    assert lg[10] is None and lg[20] is None and abs(lg[30] - 2.0) < 1e-12
    iv = {r.time: r.value for r in invert(s).collect()}
    assert iv == {10: -0.25, 20: None, 30: 0.01}
    ra = {r.time: r.value for r in remove_above_value(s, 50.0).collect()}
    assert ra == {10: -4.0, 20: 0.0, 30: None}
    rb = {r.time: r.value for r in remove_below_value(s, 0.0).collect()}
    assert rb == {10: None, 20: 0.0, 30: 100.0}
    cl = {r.time: r.value for r in clamp(s, -1.0, 50.0).collect()}
    assert cl == {10: -1.0, 20: 0.0, 30: 50.0}


def test_keep_last_value(spark):
    from carbon_clickhouse_spark.query.render import keep_last_value

    rows = [
        ("m", 1, None),       # leading gap: stays NULL
        ("m", 2, 5.0),
        ("m", 3, None),       # gap of 3 > limit=2:
        ("m", 4, None),       #   NOTHING fills (graphite-web 1.1 is
        ("m", 5, None),       #   all-or-nothing per gap, r12)
        ("m", 6, 7.0),
        ("m", 7, None),       # trailing gap of 1 <= limit: fills
    ]
    s = spark.createDataFrame(rows, "path string, time long, value double")
    unlimited = {r.time: r.value for r in keep_last_value(s).collect()}
    assert unlimited == {1: None, 2: 5.0, 3: 5.0, 4: 5.0, 5: 5.0, 6: 7.0, 7: 7.0}
    limited = {r.time: r.value for r in keep_last_value(s, limit=2).collect()}
    assert limited == {1: None, 2: 5.0, 3: None, 4: None, 5: None, 6: 7.0, 7: 7.0}
    # limit >= gap length: the whole gap bridges
    limit3 = {r.time: r.value for r in keep_last_value(s, limit=3).collect()}
    assert limit3 == {1: None, 2: 5.0, 3: 5.0, 4: 5.0, 5: 5.0, 6: 7.0, 7: 7.0}


def test_as_percent(spark):
    from carbon_clickhouse_spark.query.render import as_percent

    s = _series(
        spark,
        [("a", 10, 1.0), ("b", 10, 3.0), ("a", 20, 2.0), ("b", 20, 2.0)],
    )
    pct = {(r.path, r.time): r.value for r in as_percent(s).collect()}
    assert pct == {
        ("a", 10): 25.0, ("b", 10): 75.0, ("a", 20): 50.0, ("b", 20): 50.0,
    }


def test_highest(spark):
    from carbon_clickhouse_spark.query.render import highest

    rows = []
    for p, vals in {"a": [1, 9], "b": [5, 5], "c": [2, 3], "d": [8, 0]}.items():
        rows += [(p, 10 * (i + 1), float(v)) for i, v in enumerate(vals)]
    s = _series(spark, rows)
    top_max = {r.path for r in highest(s, 2, "max").collect()}
    assert top_max == {"a", "d"}
    top_avg = {r.path for r in highest(s, 2, "avg").collect()}
    assert top_avg == {"a", "b"}          # avgs: a=5, b=5, c=2.5, d=4 (tie a<b)
    top_cur = {r.path for r in highest(s, 2, "current").collect()}
    assert top_cur == {"a", "b"}          # last values: a=9, b=5, c=3, d=0


def test_top_k_family_on_ties_and_nulls(spark):
    """highest*/lowest*/mostDeviant/limit on tied stats (path breaks
    the tie), null values, an all-null series (a null stat sorts last
    for highest, first for lowest), duplicate points, and a null path
    (it may take a slot but keeps no rows)."""
    from carbon_clickhouse_spark.query import render

    rows = [
        ("a", 10, 5.0), ("a", 20, 1.0), ("a", 20, 1.0),
        ("b", 10, 1.0), ("b", 20, 5.0),
        ("c", 10, 5.0), ("c", 20, None),
        ("d", 10, None), ("d", 20, None),
        ("e", 10, 3.0), ("e", 20, 3.0),
        (None, 10, 9.0), (None, 20, 9.0),
    ]
    s = _series(spark, rows)

    def kept(df):
        return sorted(
            ((r.path, r.time, r.value) for r in df.collect()),
            key=lambda r: tuple((v is not None, v) for v in r),
        )

    def rows_of(*paths):
        return kept(s.filter(s.path.isin(list(paths))))

    # max: null path 9, then a/b/c tie at 5 -> a
    assert kept(render.highest(s, 2, "max")) == rows_of("a")
    assert kept(render.limit_series(s, 2, "max")) == rows_of("a")
    # avg over non-null values: null path 9, c 5, b 3, e 3, a 7/3
    assert kept(render.highest(s, 3, "avg")) == rows_of("b", "c")
    # current: c's trailing null is skipped (5); the b/c tie -> b
    assert kept(render.highest(s, 2, "current")) == rows_of("b")
    # ascending: the all-null d first, then a (min avg), then e/b tie
    assert kept(render.lowest(s, 2, "avg")) == rows_of("a", "d")
    assert kept(render.lowest(s, 3, "max")) == rows_of("a", "d", "e")
    # population variance: b 4, a 32/9, the rest 0 (d coalesced)
    assert kept(render.most_deviant(s, 2)) == rows_of("a", "b")
    # more slots than paths keeps every non-null-path row
    assert kept(render.highest(s, 7, "median")) == rows_of(*"abcde")


def test_stdev(spark):
    from carbon_clickhouse_spark.query.render import stdev

    s = _series(spark, [("m", 10, 2.0), ("m", 20, 4.0), ("m", 30, 4.0)])
    sd = {r.time: r.value for r in stdev(s, points=3).collect()}
    assert sd[10] == 0.0
    assert sd[20] == 1.0                  # pop stddev of (2,4)
    assert abs(sd[30] - (8.0 / 9.0) ** 0.5) < 1e-12


def test_linear_regression(spark):
    from carbon_clickhouse_spark.query.render import linear_regression

    # y = 2x + 1 at t = 0,10,20 -> slope 2, intercept 1 (t rebased)
    s = _series(spark, [("m", 100, 1.0), ("m", 110, 21.0), ("m", 120, 41.0)])
    row = linear_regression(s).collect()[0]
    assert abs(row.slope - 2.0) < 1e-12
    assert abs(row.intercept - 1.0) < 1e-12
    # constant series -> slope 0, intercept = the constant
    c = _series(spark, [("c", 0, 5.0), ("c", 10, 5.0)])
    r2 = linear_regression(c).collect()[0]
    assert r2.slope == 0.0 and abs(r2.intercept - 5.0) < 1e-12


def test_combine_series(spark):
    from carbon_clickhouse_spark.query.render import combine_series

    s = _series(
        spark,
        [("a", 10, 1.0), ("b", 10, 3.0), ("a", 20, 2.0), ("b", 20, 6.0)],
    )
    for func, exp in (
        ("sum", {10: 4.0, 20: 8.0}),
        ("avg", {10: 2.0, 20: 4.0}),
        ("max", {10: 3.0, 20: 6.0}),
        ("min", {10: 1.0, 20: 2.0}),
    ):
        rows = combine_series(s, func).collect()
        assert {r.time: r.value for r in rows} == exp
        assert all(r.path == f"{func}Series" for r in rows)


def test_diff_divide_series(spark):
    from carbon_clickhouse_spark.query.render import diff_series, divide_series

    a = _series(spark, [("a", 10, 6.0), ("a", 20, 8.0), ("a", 30, 1.0)])
    b = _series(spark, [("b", 10, 2.0), ("b", 20, 0.0)])
    d = {r.time: r.value for r in diff_series(a, b).collect()}
    assert d == {10: 4.0, 20: 8.0, 30: 1.0}      # missing subtrahend -> 0
    q = {r.time: r.value for r in divide_series(a, b).collect()}
    assert q == {10: 3.0, 20: None, 30: None}    # /0 and /missing -> NULL


def test_changed_exclude_grep_alias(spark):
    from carbon_clickhouse_spark.query.render import (
        alias_by_node,
        changed,
        exclude,
        grep,
    )

    s = _series(
        spark,
        [("x.y.z", 10, 1.0), ("x.y.z", 20, 1.0), ("x.y.z", 30, 2.0),
         ("q.r.s", 10, 5.0)],
    )
    ch = {(r.path, r.time): r.value for r in changed(s).collect()}
    assert ch[("x.y.z", 10)] == 0.0
    assert ch[("x.y.z", 20)] == 0.0
    assert ch[("x.y.z", 30)] == 1.0
    assert {r.path for r in exclude(s, "^x\\.").collect()} == {"q.r.s"}
    assert {r.path for r in grep(s, "^x\\.").collect()} == {"x.y.z"}
    al = {r.path for r in alias_by_node(s, 1, 2).collect()}
    assert al == {"y.z", "r.s"}


def test_n_percentile(spark):
    from carbon_clickhouse_spark.query.render import n_percentile

    s = _series(spark, [("m", t, float(v)) for t, v in ((10, 1), (20, 2), (30, 3), (40, 4))])
    out = {r.time: r.value for r in n_percentile(s, 50).collect()}
    # graphite's rank-based _getPercentile (r12): k=4, n=50 ->
    # fractionalRank 2.5 -> rank 3 -> sorted[2] = 3 (the interpolated
    # 2.5 was an upstream deviation on even counts)
    assert out == {10: 3.0, 20: 3.0, 30: 3.0, 40: 3.0}


def test_exponential_moving_average(spark):
    from carbon_clickhouse_spark.query.render import exponential_moving_average

    s = _series(spark, [("m", 10, 0.0), ("m", 20, 11.0), ("m", 30, 11.0)])
    out = {r.time: r.value for r in exponential_moving_average(s, 10).collect()}
    a = 2.0 / 11.0
    assert out[10] == 0.0
    assert abs(out[20] - a * 11.0) < 1e-12
    assert abs(out[30] - (a * 11.0 + (1 - a) * out[20])) < 1e-12
    # constant series: EMA is the constant
    c = _series(spark, [("c", t, 5.0) for t in (1, 2, 3)])
    cv = {r.time: r.value for r in exponential_moving_average(c, 10).collect()}
    assert cv == {1: 5.0, 2: 5.0, 3: 5.0}


def test_holt_forecast(spark):
    from carbon_clickhouse_spark.query.render import holt_forecast

    # constant series: forecast equals the constant from point 2 on
    c = _series(spark, [("c", t, 7.0) for t in (1, 2, 3, 4)])
    out = {r.time: r.forecast for r in holt_forecast(c).collect()}
    assert out[1] is None
    assert out[2] == 7.0 and out[3] == 7.0 and out[4] == 7.0
    # rising series: forecasts trail below the actual values but rise
    r = _series(spark, [("r", t, float(10 * t)) for t in (1, 2, 3, 4, 5)])
    f = {x.time: x.forecast for x in holt_forecast(r).collect()}
    assert f[1] is None and f[2] == 10.0
    assert f[3] > f[2] and f[4] > f[3] and f[5] > f[4]


def test_series_selection_family(spark):
    from carbon_clickhouse_spark.query.render import (
        alias_sub,
        average_above,
        average_below,
        current_above,
        filter_series,
        maximum_above,
        minimum_below,
        offset_to_zero,
    )

    rows = [
        ("a", 10, 1.0), ("a", 20, 3.0),      # avg 2, max 3, min 1, cur 3
        ("b", 10, 10.0), ("b", 20, 20.0),    # avg 15, max 20, min 10, cur 20
        ("c", 10, -5.0), ("c", 20, 5.0),     # avg 0, max 5, min -5, cur 5
    ]
    s = spark.createDataFrame(rows, ["path", "time", "value"])

    paths = lambda df: {r.path for r in df.select("path").distinct().collect()}
    assert paths(average_above(s, 1.0)) == {"a", "b"}
    assert paths(average_below(s, 1.0)) == {"c"}
    assert paths(current_above(s, 4.0)) == {"b", "c"}
    assert paths(maximum_above(s, 4.0)) == {"b", "c"}
    assert paths(minimum_below(s, 0.0)) == {"c"}
    # full series preserved, not just the stat rows
    assert average_above(s, 1.0).count() == 4
    # boundary ops
    assert paths(filter_series(s, "avg", ">=", 15.0)) == {"b"}

    renamed = paths(alias_sub(s, r"^([ab])$", r"host_$1"))
    assert renamed == {"host_a", "host_b", "c"}

    z = {(r.path, r.time): r.value for r in offset_to_zero(s).collect()}
    assert z[("a", 10)] == 0.0 and z[("a", 20)] == 2.0
    assert z[("c", 10)] == 0.0 and z[("c", 20)] == 10.0


def test_null_and_count_family(spark):
    from carbon_clickhouse_spark.query.render import (
        count_series,
        is_non_null,
        range_of_series,
        transform_null,
    )

    s = spark.createDataFrame(
        [("a", 10, 1.0), ("a", 20, None), ("b", 10, 5.0)],
        "path string, time long, value double",
    )
    tn = {(r.path, r.time): r.value for r in transform_null(s, -1.0).collect()}
    assert tn[("a", 20)] == -1.0 and tn[("a", 10)] == 1.0
    nn = {(r.path, r.time): r.value for r in is_non_null(s).collect()}
    assert nn == {("a", 10): 1.0, ("a", 20): 0.0, ("b", 10): 1.0}
    cs = {r.time: r.value for r in count_series(s).collect()}
    assert cs == {10: 2.0, 20: 1.0}
    ro = {r.time: r.value for r in range_of_series(s).collect()}
    assert ro[10] == 4.0


def test_multiply_delay_slice(spark):
    from carbon_clickhouse_spark.query.render import (
        delay,
        multiply_series,
        time_slice,
    )

    s = _series(
        spark,
        [("a", 10, 2.0), ("a", 20, 3.0), ("b", 10, -4.0), ("b", 20, 0.0)],
    )
    mp = {r.time: r.value for r in multiply_series(s).collect()}
    assert mp == {10: -8.0, 20: 0.0}
    dl = {(r.path, r.time): r.value for r in delay(s, 1).collect()}
    assert dl == {
        ("a", 10): None, ("a", 20): 2.0, ("b", 10): None, ("b", 20): -4.0,
    }
    ts = time_slice(s, 15, 20).collect()
    assert {r.time for r in ts} == {20}


def test_moving_family(spark):
    from carbon_clickhouse_spark.query.render import moving

    s = _series(spark, [("m", t, v) for t, v in ((1, 5.0), (2, 1.0), (3, 3.0), (4, 9.0))])
    med = {r.time: r.value for r in moving(s, "median", 3).collect()}
    assert med == {1: 5.0, 2: 3.0, 3: 3.0, 4: 3.0}
    mx = {r.time: r.value for r in moving(s, "max", 2).collect()}
    assert mx == {1: 5.0, 2: 5.0, 3: 3.0, 4: 9.0}
    sm = {r.time: r.value for r in moving(s, "sum", 2).collect()}
    assert sm == {1: 5.0, 2: 6.0, 3: 4.0, 4: 12.0}


def test_combine_with_wildcards(spark):
    from carbon_clickhouse_spark.query.render import combine_with_wildcards

    s = _series(
        spark,
        [
            ("dc1.hostA.cpu", 10, 1.0),
            ("dc1.hostB.cpu", 10, 2.0),
            ("dc2.hostA.cpu", 10, 10.0),
        ],
    )
    out = {
        (r.path, r.time): r.value
        for r in combine_with_wildcards(s, "sum", 1).collect()
    }
    assert out == {("dc1.cpu", 10): 3.0, ("dc2.cpu", 10): 10.0}
    avg = {
        r.path: r.value for r in combine_with_wildcards(s, "avg", 0, 1).collect()
    }
    assert avg == {"cpu": 13.0 / 3}


def test_integral_by_interval_and_limit(spark):
    from carbon_clickhouse_spark.query.render import (
        integral_by_interval,
        limit_series,
        sort_by_name,
    )

    s = _series(
        spark,
        [("m", 10, 1.0), ("m", 20, 2.0), ("m", 30, 3.0), ("m", 40, 4.0)],
    )
    ii = {r.time: r.value for r in integral_by_interval(s, 20).collect()}
    # buckets [0,20): t=10; [20,40): t=20,30; [40,60): t=40
    assert ii == {10: 1.0, 20: 2.0, 30: 5.0, 40: 4.0}

    two = _series(spark, [("hi", 1, 100.0), ("lo", 1, 1.0), ("mid", 1, 50.0)])
    kept = {r.path for r in limit_series(two, 2, "max").collect()}
    assert kept == {"hi", "mid"}
    ordered = [r.path for r in sort_by_name(two).collect()]
    assert ordered == ["hi", "lo", "mid"]


def test_alias_by_tags(spark):
    from carbon_clickhouse_spark.query.render import alias_by_tags

    s = _series(
        spark,
        [
            ("cpu.load?env=prod&host=h1", 10, 1.0),
            ("cpu.load?env=dev&host=h2", 10, 2.0),
        ],
    )
    out = {r.path: r.value for r in alias_by_tags(s, "host", "env").collect()}
    assert out == {"h1.prod": 1.0, "h2.dev": 2.0}
    named = {r.path for r in alias_by_tags(s, "__name__", "host").collect()}
    assert named == {"cpu.load.h1", "cpu.load.h2"}
