"""Graphite-web-compatible query facade: /metrics/find + /render.

The reference is ingest-only — queries are served by its companion
stack (graphite-clickhouse + graphite-web/carbonapi speaking the
Graphite HTTP API). For a user switching to this engine, this module
is that last mile: the SAME URLs and JSON shapes graphite-web emits,
evaluated against the four-table parquet contract with the render
library (``query/render.py``) as the function vocabulary.

- ``parse_target`` parses the Graphite target expression grammar
  (``func(arg, ...)`` nesting, quoted strings, numbers, path globs —
  the grammar carbonapi documents publicly).
- ``GraphiteStore`` resolves globs via the index and reads series
  via ``finder.read_series``.
- ``RenderApi`` is a threaded HTTP front (same lifecycle shape as
  ``streaming/receivers.py``): ``/metrics/find?query=`` and
  ``/render?target=&from=&until=&format=json``.

Driver-side evaluation keeps Spark's plans lazy end-to-end; only the
final ``collect`` for the JSON response materializes (a render
response is one metric's window — bounded by construction).
"""

from __future__ import annotations

import json
import re
import threading
import time as _time
from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from . import render
from .finder import match_metrics, read_series

#: ceiling for render functions that expand per-series driver work
#: (aliasQuery / useSeriesAbove / applyByNode): a glob matching 50k
#: series must not launch 50k sub-evaluations. graphite-web errors on
#: oversized selectors too. Override via the env var or assign the
#: module attribute.
MAX_DRIVER_SERIES = int(__import__("os").environ.get("CCS_RENDER_MAX_SERIES", "500"))


def _guard_series(n: int, fn: str) -> None:
    if n > MAX_DRIVER_SERIES:
        raise ValueError(
            f"{fn}: selector expands to {n} series, over the "
            f"max-series ceiling {MAX_DRIVER_SERIES} "
            "(CCS_RENDER_MAX_SERIES); narrow the glob"
        )


# --- target expression parser ---------------------------------------


@dataclass
class Call:
    name: str
    args: list


def _unparse(expr) -> str:
    """Best-effort inverse of :func:`parse_target` for labeling
    (graphite names some results after the argument EXPRESSION, e.g.
    areaBetween's ``'areaBetween(%s)' % series.pathExpression``).
    Quoted strings parse to plain ``str`` so they re-emit bare — fine
    for the path/call expressions these labels are built from."""
    if isinstance(expr, Call):
        return f"{expr.name}({','.join(_unparse(a) for a in expr.args)})"
    return str(expr)


def parse_target(s: str):
    """Parse one Graphite target expression -> nested Call / str
    (path glob) / float / int. Raises ValueError on malformed input."""
    expr, rest = _parse_expr(s.strip(), 0)
    if s[rest:].strip():
        raise ValueError(f"trailing input at {rest}: {s[rest:]!r}")
    return expr


def _parse_expr(s: str, i: int):
    n = len(s)
    while i < n and s[i].isspace():
        i += 1
    if i >= n:
        raise ValueError("empty expression")
    if s[i] in "'\"":
        quote = s[i]
        j = s.index(quote, i + 1)
        return s[i + 1 : j], j + 1
    m = re.match(r"-?\d+\.\d+(?:[eE][-+]?\d+)?|-?\d+(?:[eE][-+]?\d+)?", s[i:])
    if m and (i + m.end() >= n or s[i + m.end()] in ",) "):
        text = m.group(0)
        val = float(text) if any(c in text for c in ".eE") else int(text)
        return val, i + m.end()
    m = re.match(r"[A-Za-z_][A-Za-z0-9_]*\s*\(", s[i:])
    if m:
        name = s[i : i + m.end() - 1].strip()
        j = i + m.end()
        args = []
        while True:
            while j < n and s[j].isspace():
                j += 1
            if j < n and s[j] == ")":
                return Call(name, args), j + 1
            arg, j = _parse_expr(s, j)
            args.append(arg)
            while j < n and s[j].isspace():
                j += 1
            if j >= n:
                raise ValueError("unterminated call")
            if s[j] == ",":
                j += 1
            elif s[j] == ")":
                return Call(name, args), j + 1
            else:
                raise ValueError(f"unexpected {s[j]!r} at {j}")
    # bare path glob: everything up to an unnested , or )
    j = i
    while j < n and s[j] not in ",)":
        j += 1
    path = s[i:j].strip()
    if not path:
        raise ValueError(f"expected expression at {i}")
    return path, j


# --- function registry ----------------------------------------------

# graphite name -> (callable(series_df, *args)); multi-series
# combiners that take TWO series exprs are dispatched explicitly in
# _evaluate. Names follow graphite-web's public vocabulary.
_FUNCS = {
    "scale": render.scale,
    "offset": render.offset,
    "absolute": render.absolute,
    "invert": render.invert,
    "logarithm": render.logarithm,
    "derivative": render.derivative,
    "nonNegativeDerivative": lambda df, mv=None: (
        render.non_negative_derivative(
            df, None if mv is None else float(mv)
        )
    ),
    "perSecond": lambda df, mv=None: render.per_second(
        df, None if mv is None else float(mv)
    ),
    "integral": render.integral,
    "integralByInterval": lambda df, iv: render.integral_by_interval(
        df, _seconds(iv)
    ),
    # movingAverage/Median/Min/Max/Sum and movingWindow are DISPATCH
    # forms (preview fetch + exclusive preceding-points window, the
    # graphite-web 1.1 movingWindow contract) — see evaluate_target
    "stdev": lambda df, points=5, tol=0.1: render.stdev(
        df, int(points), float(tol)
    ),
    # timeShift is a DISPATCH form (shifts the fetch window with the
    # graphite sign convention) — see evaluate_target
    # at-style start/end (upstream parses with parseATTime; the end
    # defaults to 'now')
    "timeSlice": lambda df, a, b="now": render.time_slice(
        df,
        _parse_time(str(a), 0, int(_time.time())),
        _parse_time(str(b), int(_time.time()), int(_time.time())),
    ),
    "delay": render.delay,
    "keepLastValue": render.keep_last_value,
    "transformNull": render.transform_null,
    "isNonNull": render.is_non_null,
    "removeAboveValue": render.remove_above_value,
    "removeBelowValue": render.remove_below_value,
    "clamp": render.clamp,
    "offsetToZero": render.offset_to_zero,
    "changed": render.changed,
    "summarize": lambda df, iv, fn="sum": render.summarize(
        df, _seconds(iv), fn
    ),
    "sumSeries": lambda df: render.combine_series(df, "sum"),
    "averageSeries": lambda df: render.combine_series(df, "avg"),
    "maxSeries": lambda df: render.combine_series(df, "max"),
    "minSeries": lambda df: render.combine_series(df, "min"),
    "multiplySeries": render.multiply_series,
    "countSeries": render.count_series,
    "rangeOfSeries": render.range_of_series,
    "sumSeriesWithWildcards": lambda df, *pos: render.combine_with_wildcards(
        df, "sum", *[int(p) for p in pos]
    ),
    "averageSeriesWithWildcards": lambda df, *pos: render.combine_with_wildcards(
        df, "avg", *[int(p) for p in pos]
    ),
    "groupByNode": lambda df, node, fn="avg": render.group_by_node(
        df, int(node), fn
    ),
    "highestMax": lambda df, n=1: render.highest(df, int(n), "max"),
    "highestCurrent": lambda df, n=1: render.highest(df, int(n), "current"),
    "highestAverage": lambda df, n=1: render.highest(df, int(n), "avg"),
    "limit": lambda df, n: render.limit_series(df, int(n)),
    "averageAbove": render.average_above,
    "averageBelow": render.average_below,
    "currentAbove": render.current_above,
    "currentBelow": render.current_below,
    "maximumAbove": render.maximum_above,
    "minimumBelow": render.minimum_below,
    "exclude": render.exclude,
    "grep": render.grep,
    "aliasByNode": lambda df, *nodes: render.alias_by_node(
        df, *[int(x) for x in nodes]
    ),
    "aliasSub": render.alias_sub,
    "aliasByTags": lambda df, *tags: render.alias_by_tags(df, *tags),
    "alias": lambda df, name: df.select(
        F.lit(name).alias("path"), "time", "value"
    ),
    "nPercentile": render.n_percentile,
    "sortByName": lambda df, natural=False, reverse=False: (
        render.sort_by_name(df, _boolish(natural), _boolish(reverse))
    ),
    # exponentialMovingAverage is a DISPATCH form (preview fetch +
    # SMA seed, the functions.rst formula) — see evaluate_target
    "squareRoot": render.square_root,
    "pow": render.pow_values,
    "exp": render.exp_values,
    "sigmoid": render.sigmoid,
    "logit": render.logit,
    "round": lambda df, p=0: render.round_values(df, int(p)),
    # graphite-web registers python-side `roundFunction` under both
    # names; targets written with the internal name must evaluate
    "roundFunction": lambda df, p=0: render.round_values(df, int(p)),
    # periodic-gap compression: this engine stores sparse rows (a gap
    # IS the absence of a row) and the response regularizer re-derives
    # start/stop/step from the data, so dropping null rows is exactly
    # graphite-web's recalculated-step behavior
    "compressPeriodicGaps": lambda df: df.filter(
        F.col("value").isNotNull()
    ),
    "minMax": render.min_max,
    "scaleToSeconds": lambda df, s: render.scale_to_seconds(df, int(s)),
    "lowestAverage": lambda df, n=1: render.lowest(df, int(n), "avg"),
    "lowestCurrent": lambda df, n=1: render.lowest(df, int(n), "current"),
    "lowestMax": lambda df, n=1: render.lowest(df, int(n), "max"),
    "maximumBelow": render.maximum_below,
    "minimumAbove": render.minimum_above,
    "sortByTotal": lambda df: render.sort_by_stat(df, "total", True),
    "sortByMaxima": lambda df: render.sort_by_stat(df, "max", True),
    "sortByMinima": lambda df: render.sort_by_stat(
        df, "min", False, positive_max_only=True
    ),
    "removeAbovePercentile": render.remove_above_percentile,
    "removeBelowPercentile": render.remove_below_percentile,
    "percentileOfSeries": lambda df, n, interp=False: (
        render.percentile_of_series(df, float(n), _boolish(interp))
    ),
    "stddevSeries": render.stddev_series,
    "substr": lambda df, a=0, b=0: render.substr_path(df, int(a), int(b)),
    "aliasByMetric": render.alias_by_metric,
    "unique": render.unique,
    "interpolate": lambda df, limit=None: render.interpolate(
        df, None if limit is None else int(limit)
    ),
    # newer graphite-web accepts an xFilesFactor third arg; the
    # parquet store has no gap-filled buckets for it to act on, so it
    # is accepted and ignored rather than 400ing dashboards
    "aggregate": lambda df, fn="sum", xff=None: render.aggregate_series(
        df, str(fn), None if xff is None else float(xff)
    ),
    "groupByNodes": lambda df, fn, *nodes: render.group_by_nodes(
        df, fn, *[int(n) for n in nodes]
    ),
    "groupByTags": lambda df, fn, *tags: render.group_by_tags(df, fn, *tags),
    "linearRegression": render.linear_regression_series,
    "averageOutsidePercentile": render.average_outside_percentile,
    "removeBetweenPercentile": render.remove_between_percentile,
    "cactiStyle": render.cacti_style,
    "aggregateLine": lambda df, fn="avg": render.aggregate_line(df, fn),
    "aggregateWithWildcards": lambda df, fn, *pos: (
        render.combine_with_wildcards(df, fn, *[int(p) for p in pos])
    ),
    "add": render.offset,
    "group": lambda df: df,
    "powSeries": render.pow_series,
    "filterSeries": lambda df, fn, op, th: render.filter_series(
        df, str(fn), str(op), float(th)
    ),
    "removeEmptySeries": lambda df, xff=0.0: render.remove_empty_series(
        df, float(xff)
    ),
    "sortBy": lambda df, fn="average", rev=False: render.sort_by(
        df, str(fn), _boolish(rev)
    ),
    "highest": lambda df, n=1, fn="average": render.highest(
        df, int(n), {"average": "avg"}.get(str(fn), str(fn))
    ),
    "lowest": lambda df, n=1, fn="average": render.lowest(
        df, int(n), {"average": "avg"}.get(str(fn), str(fn))
    ),
    "legendValue": lambda df, *vts: render.legend_value(
        df, *[str(v) for v in vts]
    ),
    "mostDeviant": lambda df, n=1: render.most_deviant(df, int(n)),
    "multiplySeriesWithWildcards": lambda df, *pos: (
        render.combine_with_wildcards(df, "multiply", *[int(p) for p in pos])
    ),
}

# presentation-only functions graphite-web accepts that do not change
# the data: accepted as identity so dashboards round-trip unchanged
for _name in (
    "color", "lineWidth", "dashed", "secondYAxis", "stacked", "alpha",
    "drawAsInfinite",
):
    _FUNCS.setdefault(_name, lambda df, *a: df)

#: combiners whose graphite signature is (*seriesLists): every arg is
#: a series expression; the evaluator unions them before applying
_VARIADIC_SERIES = frozenset((
    "sumSeries", "averageSeries", "maxSeries", "minSeries",
    "multiplySeries", "countSeries", "rangeOfSeries", "stddevSeries",
    "group", "unique", "powSeries",
))

#: functions evaluated by special dispatch rather than the registry
_DISPATCH_FORMS = (
    "seriesByTag", "consolidateBy", "constantLine", "threshold", "time",
    "timeFunction", "smartSummarize", "fallbackSeries", "diffSeries",
    "divideSeries", "asPercent", "timeStack", "weightedAverage",
    "hitcount", "identity", "mapSeries", "reduceSeries",
    "holtWintersForecast", "holtWintersConfidenceBands",
    "holtWintersAberration", "holtWintersConfidenceArea",
    "divideSeriesLists", "applyByNode", "aggregateSeriesLists",
    "sumSeriesLists", "diffSeriesLists", "multiplySeriesLists",
    "cumulative", "setXFilesFactor", "xFilesFactor", "sinFunction",
    "randomWalkFunction", "randomWalk", "verticalLine",
    "useSeriesAbove", "aliasQuery", "events",
    "timeShift", "movingAverage", "movingMedian", "movingMin",
    "movingMax", "movingSum", "movingWindow",
    "exponentialMovingAverage", "areaBetween",
)

#: moving* forms sharing the graphite-web 1.1 movingWindow contract:
#: value at point i aggregates the PRECEDING window (current point
#: excluded), bootstrapped by a preview fetch before the requested
#: start. Maps facade name -> render func key ('avg' = moving_average).
_MOVING_FORMS = {
    "movingAverage": "avg",
    "movingMedian": "median",
    "movingMin": "min",
    "movingMax": "max",
    "movingSum": "sum",
}


def _shift_seconds(v) -> int:
    """graphite-web timeShift sign convention (functions.rst
    timeShift: 'If no sign is given, a minus sign ( - ) is implied
    which will shift the metric back in time. If a plus sign ( + ) is
    given, the metric will be shifted forward in time.'): returns the
    FETCH-WINDOW delta — negative = read an earlier window (back in
    time), positive = a later one."""
    if isinstance(v, (int, float)):
        return -int(v)
    s = str(v).strip()
    if s.startswith("+"):
        return _seconds(s[1:])
    if s.startswith("-"):
        return _seconds(s)
    return -_seconds(s)


def function_index() -> dict:
    """graphite-web ``/functions`` JSON: name -> descriptor. Grafana
    reads ``name`` and ``params`` to build its query editor; the
    param metadata here is the generic seriesList signature (the
    facade parses arbitrary args at evaluation time), which is the
    subset Grafana requires to enable a function."""
    out = {}
    for name in sorted(set(_FUNCS) | set(_DISPATCH_FORMS)):
        out[name] = {
            "name": name,
            "function": f"{name}(seriesList)",
            "description": "",
            "module": "graphite.render.functions",
            "group": "Transform",
            "params": [
                {"name": "seriesList", "type": "seriesList",
                 "required": True}
            ],
        }
    return out


#: graphite-web attime.getUnitString prefix table (r12): 'min' must
#: precede 'mon' the way upstream orders its startswith chain, so
#: 'minutes' -> minutes and 'months'/'mon' -> months (30 days, the
#: parseTimeOffset convention). Accepts every spelling the docs use
#: ('1hour', '30minutes', '7days', '2weeks', '1month', '1year').
_UNIT_PREFIX_S = (
    ("min", 60),
    ("mon", 2592000),
    ("s", 1),
    ("h", 3600),
    ("d", 86400),
    ("w", 604800),
    ("y", 31536000),
)


def _boolish(v) -> bool:
    """graphite target booleans arrive as bare tokens ('true'/'1') —
    one parse for every boolean argument."""
    return str(v).lower() in ("true", "1")


def _unit_seconds(unit: str) -> int:
    for prefix, sec in _UNIT_PREFIX_S:
        if unit.startswith(prefix):
            return sec
    raise ValueError(f"bad interval unit {unit!r}")


def _seconds(v) -> int:
    """'1h'/'30min'/'1hour'/'7days'/number -> seconds (graphite
    attime interval syntax, prefix-matched like upstream)."""
    if isinstance(v, (int, float)):
        return int(v)
    m = re.fullmatch(r"(-?\d+)([a-z]+)?", v.strip())
    if not m:
        raise ValueError(f"bad interval {v!r}")
    n, unit = int(m.group(1)), m.group(2) or "s"
    return n * _unit_seconds(unit)


def _go_float(v: float) -> str:
    """Format a float the way Go's ``%#v`` prints float64 (the
    reference's dropped-line value field): integral values without a
    decimal point, others via repr (matches Go's shortest-round-trip
    form for the exponent ranges that matter here)."""
    import math

    if math.isfinite(v) and v == int(v) and abs(v) < 1e15:
        return str(int(v))
    return repr(v)


def _movwin(p) -> dict:
    """Graphite moving* windowSize: a number = last-N-points frame, a
    quoted interval string ('5min') = trailing time window."""
    if isinstance(p, str) and not p.lstrip("-").isdigit():
        return {"window_s": _seconds(p)}
    return {"points": int(p)}


class GraphiteStore:
    """Glob -> series resolution over the four-table contract."""

    def __init__(
        self,
        index: DataFrame,
        points: DataFrame,
        rules=None,
        tagged: DataFrame | None = None,
        dropped: DataFrame | None = None,
        events: object | None = None,
        cache_ctl=None,
        rollup_hot: DataFrame | None = None,
        rollup_precision: int | None = None,
    ):
        self.index = index
        self.points = points
        self.rules = rules
        self.tagged = tagged
        self.dropped = dropped
        #: query.events.EventsStore (optional): /events/ endpoints +
        #: the events(*tags) render form
        self.events = events
        #: streaming.exists_cache.ExistsCacheControl (optional): its
        #: reset_version() scopes the /debug/upload cache dump
        self.cache_ctl = cache_ctl
        #: continuous-rollup serving tier (optional): maxDataPoints
        #: consolidation of plain-path targets reads pre-aggregated
        #: buckets from it instead of re-averaging raw points
        self.rollup_hot = rollup_hot
        self.rollup_precision = rollup_precision
        self._source = None  # (spark, root) when opened from a root

    #: the stored tables a root-backed store opens on first use
    _TABLES = ("index", "points", "tagged", "dropped", "rollup_hot")

    @classmethod
    def open(cls, spark, root: str) -> "GraphiteStore":
        """The store over a stored table root. Each table opens through
        ``schemas.read_table`` on first use, so a request pays only for
        the tables it reads; the exists-cache epoch file is the
        launcher's, beside the root."""
        import os

        from ..streaming.analytics import tier_precision
        from ..streaming.exists_cache import ExistsCacheControl
        from .events import EventsStore

        store = cls(
            None,
            None,
            events=EventsStore(spark, os.path.join(root, "events")),
            cache_ctl=ExistsCacheControl(
                os.path.normpath(
                    os.path.join(root, os.pardir, "exists_cache.epoch")
                )
            ),
            rollup_precision=tier_precision(root),
        )
        for name in cls._TABLES:
            delattr(store, name)
        store._source = (spark, root)
        return store

    def __getattr__(self, name: str):
        # reached only for a table a root-backed store has not opened yet
        source = self.__dict__.get("_source")
        if source is None or name not in self._TABLES:
            raise AttributeError(name)
        from ..schemas import read_table

        df = None
        if name != "rollup_hot" or self.rollup_precision:
            df = read_table(*source, name)
        setattr(self, name, df)
        return df

    def reopen(self) -> "GraphiteStore":
        """The same root re-opened, so rows appended since are seen; a
        store built from frames is returned as is."""
        return self if self._source is None else self.open(*self._source)

    def series_consolidated(
        self, glob: str | list[str], t0: int, t1: int, step: int
    ) -> DataFrame | None:
        """Average-consolidated series at ``step`` from the hot-rollup
        tier (history = pre-aggregated buckets, only post-horizon raw
        points re-aggregate). None when the tier can't serve this
        request (no tier, or ``step`` off the tier's grid) — caller
        falls back to raw fetch + post-consolidation. ``glob`` may be
        an already-resolved path list (the seriesByTag route: tagged
        canonical names are ordinary tier paths)."""
        if (
            self.rollup_hot is None
            or not self.rollup_precision
            or step % self.rollup_precision
        ):
            return None
        from ..streaming.analytics import serve_rollup_avg

        if isinstance(glob, list):
            paths = glob
        elif not any(c in glob for c in "*?[{"):
            paths = [glob]
        else:
            paths = [p for p, leaf in self.find(glob) if leaf]
        return serve_rollup_avg(
            self.rollup_hot, self.points, t0, t1 + 1, step,
            precision_s=self.rollup_precision, paths=paths,
        )

    def cache_dump(self, table: str, limit: int = 100_000) -> list[str] | None:
        """The reference's ``/debug/upload/<table>/cache/`` dump
        (``carbon/app.go:234-240``, ``uploader.DebugCacheDumper``,
        ``cached.go:15-17``): the exists-cache contents as sorted
        ``<days>:<path> <version>`` lines — the same ``days:name`` key
        shape the uploaders cache on (``uploader/series.go:57``,
        ``uploader/index.go:177-182``).

        This engine's durable exists-cache IS the stored table plus
        the last reset time: a series is "cached" iff an index/tagged
        row exists with version newer than the last SIGHUP reset
        (``ExistsCacheControl.reset``), so the dump filters on
        ``version > reset_version()``. Returns None for a table
        without a cache (points — the reference only caches the
        series-shaped uploaders).
        """
        from ..schemas import REVERSE_LEVEL_OFFSET, TREE_LEVEL_OFFSET

        name = table.removeprefix("graphite_")
        if name in ("index", "tree", "series"):
            df = self.index
            if df is None:
                return []
            # full-name rows only (the cache key is the series name):
            # daily rows carry the real date; nodaily stores fall back
            # to tree-level full names (prefix rows end with '.')
            daily = df.filter(F.col("level") < REVERSE_LEVEL_OFFSET)
            tree = df.filter(
                (F.col("level") > TREE_LEVEL_OFFSET)
                & (F.col("level") < TREE_LEVEL_OFFSET + 10000)
                & ~F.col("path").endswith(".")
            )
            df = daily if daily.take(1) else tree
        elif name == "tagged":
            df = self.tagged
            if df is None:
                return []
        else:
            return None
        reset_v = self.cache_ctl.reset_version() if self.cache_ctl else 0
        if reset_v:
            # rows versioned at/before the reset are evicted; a store
            # never reset shows everything (version may be 0 in
            # batch-derived tables)
            df = df.filter(F.col("version") > reset_v)
        rows = (
            df
            .groupBy("date", "path")
            .agg(F.min("version").alias("version"))
            .select(
                F.datediff(F.col("date"), F.lit("1970-01-01")).alias("days"),
                "path",
                "version",
            )
            .orderBy("path", "days")
            .limit(limit)
            .collect()
        )
        return [f"{r['days']}:{r['path']} {r['version']}" for r in rows]

    def dropped_lines(self, protocol: str, limit: int = 1000) -> list[str]:
        """Last-``limit`` audited drops for one protocol front, in the
        reference's DroppedHandler line shape (``receiver/base.go:88-
        110``): ``rcv:<now>\\tname:<path>\\ttimestamp:<t>\\tvalue:<v>``,
        sorted — its ring buffer (droppedListSize=1000) generalized to
        the durable audit table. A row written before the protocol
        column existed reads a null protocol and serves every front."""
        if self.dropped is None:
            return []
        rows = (
            self.dropped.filter(
                F.col("protocol").isNull() | (F.col("protocol") == protocol)
            )
            .select("path", "value", "time", "version")
            .orderBy(F.col("version").desc(), F.col("time").desc())
            .limit(limit)
            .collect()
        )
        return sorted(
            f"rcv:{r['version']}\tname:{r['path']}"
            f"\ttimestamp:{r['time']}\tvalue:{_go_float(r['value'])}"
            for r in rows
        )

    def all_metrics(self) -> list[str]:
        """graphite-web ``/metrics/index.json``: every leaf metric
        name, sorted. Served from the tree-level index rows (leaf =
        no trailing dot), the same date-independent scan find()
        uses."""
        from ..schemas import TREE_LEVEL_OFFSET

        rows = (
            self.index.filter(
                (F.col("level") > TREE_LEVEL_OFFSET)
                & (F.col("level") < TREE_LEVEL_OFFSET + 10000)
                & ~F.col("path").endswith(".")
            )
            .select("path")
            .distinct()
            .collect()
        )
        return sorted(r["path"] for r in rows)

    def find(self, glob: str) -> list[tuple[str, bool]]:
        """[(path, is_leaf)] — trailing-dot index rows are branches."""
        out = set()
        for r in match_metrics(self.index, glob).collect():
            p = r["path"]
            if p.endswith("."):
                out.add((p[:-1], False))
            else:
                out.add((p, True))
        return sorted(out)

    @staticmethod
    def _suffix_heavy(glob: str) -> bool:
        """graphite-clickhouse's reverse heuristic: wildcard in the
        first node, literal last node -> the REVERSE index turns the
        suffix match into a prefix scan."""
        wild = set("*?[{")
        segs = glob.split(".")
        return any(c in wild for c in segs[0]) and not any(
            c in wild for c in segs[-1]
        )

    def series(self, glob: str, t0: int, t1: int) -> DataFrame:
        if not any(c in glob for c in "*?[{"):
            # literal path: no index resolution needed — read_series
            # matches stored series exactly (a missing or branch-only
            # name simply reads no points). Saves one driver find()
            # job per literal render target.
            paths = [glob]
        elif self._suffix_heavy(glob):
            from .finder import find_metrics_reverse

            paths = sorted(
                r["path"]
                for r in find_metrics_reverse(self.index, glob).collect()
            )
        else:
            paths = [p for p, leaf in self.find(glob) if leaf]
        # graphite-web's 'until' is INCLUSIVE; read_series filters
        # time < until, so widen by one second at the facade edge
        return read_series(
            self.points, paths, t0, t1 + 1, rules=self.rules
        ).select("path", "time", "value")

    def series_by_tag(self, terms: list[str], t0: int, t1: int) -> DataFrame:
        """graphite-web ``seriesByTag('k=v', ...)`` with the full term
        grammar (``=``, ``!=``, ``=~``, ``!=~``). The first equality
        term drives the indexed tag1 scan (the CH ORDER BY key);
        every other term post-filters the Tags array — the same
        split graphite-clickhouse makes."""
        paths = self.find_series(terms)
        return read_series(
            self.points, paths, t0, t1 + 1, rules=self.rules
        ).select("path", "time", "value")

    def find_series(self, terms: list[str]) -> list[str]:
        """Resolve seriesByTag terms to the matching canonical paths
        (the /tags/findSeries endpoint)."""
        if self.tagged is None:
            raise ValueError("store has no tagged table")
        df = self._tagged_matching(terms)
        return sorted(
            r["path"] for r in df.select("path").distinct().collect()
        )

    def _tagged_matching(self, terms: list[str]):
        """Tagged rows matching seriesByTag-grammar terms — the
        shared scan behind /tags/findSeries and the expr-filtered
        autocomplete endpoints: first equality term drives the
        indexed tag1 prefix, the rest post-filter the Tags array."""
        parsed = []  # (key, op, value)
        for t in terms:
            m = re.fullmatch(r"\s*([^!=~]+?)\s*(!=~|=~|!=|=)\s*(.*)", t)
            if not m:
                raise ValueError(f"bad seriesByTag term {t!r}")
            # graphite-web's metric-name tag is 'name'
            # (seriesByTag("name=cpu") in functions.rst); the stored
            # canonical form is '__name__' — same translation
            # graphite-clickhouse applies
            key = m.group(1)
            if key == "name":
                key = "__name__"
            parsed.append((key, m.group(2), m.group(3)))
        eq_idx = next((i for i, p in enumerate(parsed) if p[1] == "="), None)
        if eq_idx is not None:
            k0, _, v0 = parsed.pop(eq_idx)
            df = self.tagged.filter(F.col("tag1") == f"{k0}={v0}")
        else:
            df = self.tagged
        for k, op, v in parsed:
            val = F.array_join(
                F.filter(
                    F.transform(
                        F.col("tags"),
                        lambda tg: F.when(
                            tg.startswith(k + "="),
                            F.substring(tg, len(k) + 2, 1 << 20),
                        ),
                    ),
                    lambda x: x.isNotNull(),
                ),
                "",
            )
            if op == "=":
                cond = val == v
            elif op == "!=":
                cond = val != v
            elif op == "=~":
                cond = val.rlike(v)
            else:  # !=~
                cond = ~val.rlike(v)
            df = df.filter(cond)
        return df

    def tag_names(
        self,
        prefix: str = "",
        exprs: list[str] | None = None,
        limit: int | None = None,
    ) -> list[str]:
        """Distinct tag keys (autocomplete). ``exprs`` restricts to
        series matching seriesByTag-grammar terms (graphite-web's
        /tags/autoComplete/tags?expr=...); ``limit`` caps the sorted
        result (upstream defaults to 100)."""
        if self.tagged is None:
            return []
        if exprs:
            src = self._tagged_matching(exprs)
            keys = src.select(
                F.explode(
                    F.transform(
                        F.col("tags"),
                        lambda tg: F.split_part(
                            tg, F.lit("="), F.lit(1)
                        ),
                    )
                ).alias("k")
            ).distinct()
        else:
            keys = self.tagged.select(
                F.split_part(F.col("tag1"), F.lit("="), F.lit(1)).alias("k")
            ).distinct()
        if prefix:
            keys = keys.filter(F.col("k").startswith(prefix))
        out = sorted(r["k"] for r in keys.collect())
        return out[:limit] if limit else out

    def tag_values(
        self,
        tag: str,
        prefix: str = "",
        exprs: list[str] | None = None,
        limit: int | None = None,
    ) -> list[str]:
        """Distinct values of one tag key (autocomplete). The tag1
        scan prefix-matches the CH ORDER BY key, same as
        graphite-clickhouse. ``exprs`` restricts to series matching
        seriesByTag-grammar terms (/tags/autoComplete/values?expr=);
        ``limit`` caps the sorted result."""
        if self.tagged is None:
            return []
        if tag == "name":
            tag = "__name__"
        if exprs:
            src = self._tagged_matching(exprs)
            vals = (
                src.select(
                    F.explode(
                        F.filter(
                            F.transform(
                                F.col("tags"),
                                lambda tg: F.when(
                                    tg.startswith(tag + "="),
                                    F.substring(
                                        tg, len(tag) + 2, 10_000
                                    ),
                                ),
                            ),
                            lambda x: x.isNotNull(),
                        )
                    ).alias("v")
                ).distinct()
            )
        else:
            vals = (
                self.tagged.filter(F.col("tag1").startswith(tag + "="))
                .select(
                    F.substring(
                        F.col("tag1"), len(tag) + 2, 10_000
                    ).alias("v")
                )
                .distinct()
            )
        if prefix:
            vals = vals.filter(F.col("v").startswith(prefix))
        out = sorted(r["v"] for r in vals.collect())
        return out[:limit] if limit else out


def evaluate_target(
    expr, store: GraphiteStore, t0: int, t1: int, ctx: dict | None = None
) -> DataFrame:
    """Nested Call/glob -> DataFrame(path, time, value). ``ctx``
    accumulates request-level hints (consolidateBy) the /render
    handler applies after evaluation."""
    if isinstance(expr, str):
        return store.series(expr, t0, t1)
    if not isinstance(expr, Call):
        raise ValueError(f"not a series expression: {expr!r}")
    if expr.name == "seriesByTag":
        return store.series_by_tag([str(a) for a in expr.args], t0, t1)
    if expr.name == "events":
        from .events import events_series

        return events_series(
            store.events.df() if store.events is not None else None,
            [str(a) for a in expr.args],
            t0,
            t1,
            spark=store.points.sparkSession,
        )
    if expr.name == "consolidateBy":
        # data passes through; the hint drives maxDataPoints
        if ctx is not None and len(expr.args) > 1:
            ctx["consolidate"] = str(expr.args[1])
        return evaluate_target(expr.args[0], store, t0, t1, ctx)
    if expr.name == "cumulative":
        # graphite: alias for consolidateBy(series, 'sum')
        if ctx is not None:
            ctx["consolidate"] = "sum"
        return evaluate_target(expr.args[0], store, t0, t1, ctx)
    if expr.name in ("setXFilesFactor", "xFilesFactor"):
        # the parquet store has no gap-filled buckets for the factor
        # to act on at evaluation time; record the hint and pass data
        # through so dashboards round-trip
        if ctx is not None and len(expr.args) > 1:
            ctx["xFilesFactor"] = float(expr.args[1])
        return evaluate_target(expr.args[0], store, t0, t1, ctx)
    if expr.name in ("constantLine", "threshold"):
        # generator: a flat series over the request window (graphite
        # emits start/mid/end points)
        value = float(expr.args[0])
        label = (
            str(expr.args[1])
            if expr.name == "threshold" and len(expr.args) > 1
            else str(expr.args[0])
        )
        spark = store.points.sparkSession
        return spark.createDataFrame(
            [(label, t, value) for t in (t0, (t0 + t1) // 2, t1)],
            "path string, time long, value double",
        )
    if expr.name in ("time", "timeFunction", "identity"):
        # generator: value == timestamp on the given step grid
        label = str(expr.args[0]) if expr.args else "time"
        step = int(expr.args[1]) if len(expr.args) > 1 else 60
        spark = store.points.sparkSession
        return spark.range(t0, t1 + 1, step).select(
            F.lit(label).alias("path"),
            F.col("id").alias("time"),
            F.col("id").cast("double").alias("value"),
        )
    if expr.name == "hitcount":
        # bucket boundaries anchor at the window end like graphite-web
        # (alignToFrom=true anchors at from instead)
        inner = evaluate_target(expr.args[0], store, t0, t1, ctx)
        iv = _seconds(expr.args[1]) if len(expr.args) > 1 else 60
        align_from = len(expr.args) > 2 and str(
            expr.args[2]
        ).lower() in ("true", "1")
        return render.hitcount(
            inner, iv, anchor=(t0 if align_from else t1)
        )
    if expr.name == "smartSummarize":
        inner = evaluate_target(expr.args[0], store, t0, t1, ctx)
        iv = _seconds(expr.args[1])
        fn = str(expr.args[2]) if len(expr.args) > 2 else "sum"
        return render.smart_summarize(inner, iv, fn, origin=t0)
    if expr.name == "summarize" and len(expr.args) > 3:
        # functions.rst summarize alignToFrom: 'By default, buckets
        # are calculated by rounding to the nearest interval...
        # Setting alignToFrom to true will instead create buckets
        # starting at the from time' — the epoch-grid registry entry
        # handles the default; the aligned form anchors at t0
        inner = evaluate_target(expr.args[0], store, t0, t1, ctx)
        iv = _seconds(expr.args[1])
        fn = str(expr.args[2]) if len(expr.args) > 2 else "sum"
        if str(expr.args[3]).lower() in ("true", "1"):
            return render.smart_summarize(inner, iv, fn, origin=t0)
        return render.summarize(inner, iv, fn)
    if expr.name == "fallbackSeries":
        a = evaluate_target(expr.args[0], store, t0, t1, ctx)
        if a.take(1):
            return a
        return evaluate_target(expr.args[1], store, t0, t1, ctx)
    if expr.name in (
        "holtWintersForecast",
        "holtWintersConfidenceBands",
        "holtWintersConfidenceArea",
        "holtWintersAberration",
    ):
        # graphite bootstraps the seasonal model on extra history
        # before the window (default 7d), then trims to the request
        boot = _seconds(expr.args[2]) if len(expr.args) > 2 else 604800
        inner = evaluate_target(expr.args[0], store, t0 - boot, t1, ctx)
        delta = float(expr.args[1]) if len(expr.args) > 1 else 3.0
        if expr.name == "holtWintersForecast":
            out = render.holt_winters_forecast(inner)
        elif expr.name in (
            "holtWintersConfidenceBands",
            # the Area form differs only in fill rendering — the data
            # series are the same upper/lower bands
            "holtWintersConfidenceArea",
        ):
            out = render.holt_winters_confidence_bands(inner, delta)
        else:
            out = render.holt_winters_aberration(inner, delta)
        return out.filter(F.col("time") >= t0)
    if expr.name == "weightedAverage":
        a = evaluate_target(expr.args[0], store, t0, t1, ctx)
        b = evaluate_target(expr.args[1], store, t0, t1, ctx)
        return render.weighted_average(
            a, b, *[int(n) for n in expr.args[2:]]
        )
    if expr.name == "reduceSeries":
        # reduceSeries(mapSeries(expr, *mapNodes), 'fn', reduceNode,
        # 'm1', 'm2'): within each mapNodes group, pair the series
        # whose reduceNode segment equals m1 with the m2 series and
        # apply fn per timestamp. functions.rst pins the output alias:
        # 'the resulting series names would become:
        # devices.dev1.load.reduce.asPercent' — the nodes BEFORE
        # reduceNode plus '.reduce.<function>'.
        inner_call = expr.args[0]
        if not (
            isinstance(inner_call, Call) and inner_call.name == "mapSeries"
        ):
            raise ValueError("reduceSeries expects mapSeries(...) input")
        df = evaluate_target(inner_call.args[0], store, t0, t1, ctx)
        map_nodes = [int(n) for n in inner_call.args[1:]]
        fn = str(expr.args[1])
        reduce_node = int(expr.args[2])
        m1, m2 = str(expr.args[3]), str(expr.args[4])
        segs = F.split(F.col("path"), r"\.")
        key = F.concat_ws(".", *[segs.getItem(n) for n in map_nodes])
        seg_r = segs.getItem(reduce_node)
        reduced_name = F.concat(
            F.array_join(F.slice(segs, 1, reduce_node), "."),
            F.lit(f".reduce.{fn}"),
        )
        base = df.select(
            key.alias("k"), seg_r.alias("r"),
            reduced_name.alias("rp"), "time", "value",
        )
        a = base.filter(F.col("r") == m1).select(
            "k", "rp", "time", F.col("value").alias("va")
        )
        b = base.filter(F.col("r") == m2).select(
            "k", "time", F.col("value").alias("vb")
        )
        j = a.join(b, ["k", "time"], "left")
        if fn == "diffSeries":
            v = F.col("va") - F.coalesce(F.col("vb"), F.lit(0.0))
        elif fn == "divideSeries":
            v = F.when(
                F.col("vb").isNotNull() & (F.col("vb") != 0),
                F.col("va") / F.col("vb"),
            )
        elif fn == "asPercent":
            v = F.when(
                F.col("vb").isNotNull() & (F.col("vb") != 0),
                F.col("va") * 100 / F.col("vb"),
            )
        else:
            raise ValueError(f"unsupported reduce function {fn!r}")
        return j.select(
            F.col("rp").alias("path"), "time", v.alias("value")
        )
    if expr.name == "mapSeries":
        # bare mapSeries without a reduce = identity on the data
        return evaluate_target(expr.args[0], store, t0, t1, ctx)
    if expr.name == "divideSeriesLists":
        # pairwise division: series paired by sorted path order
        # (graphite pairs the two lists positionally)
        a = evaluate_target(expr.args[0], store, t0, t1, ctx)
        b = evaluate_target(expr.args[1], store, t0, t1, ctx)
        return render.divide_series_lists(a, b)
    if expr.name in (
        "aggregateSeriesLists", "sumSeriesLists", "diffSeriesLists",
        "multiplySeriesLists",
    ):
        a = evaluate_target(expr.args[0], store, t0, t1, ctx)
        b = evaluate_target(expr.args[1], store, t0, t1, ctx)
        alias_fn = {
            "sumSeriesLists": ("sum", "sumSeries"),
            "diffSeriesLists": ("diff", "diffSeries"),
            "multiplySeriesLists": ("multiply", "multiplySeries"),
        }
        if expr.name in alias_fn:
            func, label = alias_fn[expr.name]
        else:
            func = str(expr.args[2]) if len(expr.args) > 2 else "sum"
            label = f"{func}Series"
        return render.aggregate_series_lists(a, b, func, label)
    if expr.name == "powSeries" and len(expr.args) > 1:
        # graphite folds in LIST order (arg order, then fetch order
        # within a glob): tag each evaluated argument with its index
        # so the fold is argument-ordered, not path-ordered (r12)
        frames = []
        for i, a in enumerate(expr.args):
            frames.append(
                evaluate_target(a, store, t0, t1, ctx).withColumn(
                    "__arg", F.lit(i)
                )
            )
        u = frames[0]
        for f in frames[1:]:
            u = u.unionByName(f)
        return render.pow_series(u, order_col="__arg")
    if expr.name == "sinFunction":
        # generator: amplitude * sin(t) on the step grid
        label = str(expr.args[0]) if expr.args else "sin"
        amp = float(expr.args[1]) if len(expr.args) > 1 else 1.0
        step = int(expr.args[2]) if len(expr.args) > 2 else 60
        spark = store.points.sparkSession
        return spark.range(t0, t1 + 1, step).select(
            F.lit(label).alias("path"),
            F.col("id").alias("time"),
            (F.lit(amp) * F.sin(F.col("id").cast("double"))).alias("value"),
        )
    if expr.name in ("randomWalkFunction", "randomWalk"):
        # generator: graphite emits random(-0.5, 0.5) cumulative steps;
        # here the step stream is a DETERMINISTIC hash of (name, t) —
        # same shape, reproducible across runs (no RNG in the plan)
        label = str(expr.args[0]) if expr.args else "randomWalk"
        step = int(expr.args[1]) if len(expr.args) > 1 else 60
        spark = store.points.sparkSession
        delta = (
            F.pmod(
                F.xxhash64(F.lit(label), F.col("id")), F.lit(10_000)
            ).cast("double")
            / 10_000.0
            - 0.5
        )
        from pyspark.sql import Window as _W

        walk = F.sum(delta).over(
            _W.orderBy("id").rowsBetween(_W.unboundedPreceding, 0)
        )
        return spark.range(t0, t1 + 1, step).select(
            F.lit(label).alias("path"),
            F.col("id").alias("time"),
            walk.alias("value"),
        )
    if expr.name == "verticalLine":
        # marker at one timestamp: graphite draws a vertical line and
        # returns a 2-point series [1.0, 1.0] at [ts, ts]
        now = int(_time.time())
        ts = _parse_time(str(expr.args[0]), t1, now)
        label = str(expr.args[1]) if len(expr.args) > 1 else str(expr.args[0])
        if not (t0 <= ts <= t1):
            raise ValueError("verticalLine timestamp outside render window")
        spark = store.points.sparkSession
        return spark.createDataFrame(
            [(label, ts, 1.0), (label, ts, 1.0)],
            "path string, time long, value double",
        )
    if expr.name == "useSeriesAbove":
        # substitute metric names for series whose max exceeds the
        # threshold: max > value -> fetch sub(search, replace, path).
        # The winner set is series-cardinality (bounded driver edge,
        # same as every facade name resolution).
        inner = evaluate_target(expr.args[0], store, t0, t1, ctx)
        value = float(expr.args[1])
        search, replace = str(expr.args[2]), str(expr.args[3])
        stats = (
            inner.groupBy("path")
            .agg(F.max("value").alias("mx"))
            .filter(F.col("mx") > value)
            .select("path")
            .collect()
        )
        new_paths = sorted(
            re.sub(search, replace, r["path"]) for r in stats
        )
        _guard_series(len(new_paths), "useSeriesAbove")
        if not new_paths:
            spark = store.points.sparkSession
            return spark.createDataFrame(
                [], "path string, time long, value double"
            )
        frames = [store.series(p, t0, t1) for p in new_paths]
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out
    if expr.name == "aliasQuery":
        # rename each series via a second query: sub(search, replace,
        # path) evaluates as a target; its LAST value formats newName.
        # The per-path sub-targets are BUILT in a loop (lazy — no
        # jobs), then their last values resolve in ONE union +
        # max_by(value, time) GROUP BY job, not one limit(1).collect()
        # job per series; the relabel is a single map projection.
        inner = evaluate_target(expr.args[0], store, t0, t1, ctx)
        search, replace = str(expr.args[1]), str(expr.args[2])
        new_name = str(expr.args[3])
        paths = sorted(
            r["path"] for r in inner.select("path").distinct().collect()
        )
        _guard_series(len(paths), "aliasQuery")
        qframes = []
        for p in paths:
            q = re.sub(search, replace, p)
            qdf = evaluate_target(parse_target(q), store, t0, t1, ctx)
            qframes.append(
                qdf.filter(F.col("value").isNotNull()).select(
                    F.lit(p).alias("src"), "time", "value"
                )
            )
        allq = qframes[0]
        for f in qframes[1:]:
            allq = allq.unionByName(f)
        last = {
            r["src"]: r["lv"]
            for r in allq.groupBy("src")
            .agg(F.max_by("value", "time").alias("lv"))
            .collect()
        }
        labels = {}
        for p in paths:
            if p not in last:
                q = re.sub(search, replace, p)
                raise ValueError(f"aliasQuery: no values for query {q!r}")
            labels[p] = new_name % last[p]
        mapping = F.create_map(
            *[F.lit(x) for kv in labels.items() for x in kv]
        )
        return inner.select(
            mapping[F.col("path")].alias("path"), "time", "value"
        )
    if expr.name == "applyByNode":
        # evaluate a target template once per distinct node prefix:
        # applyByNode(dc.*.cpu, 1, 'sumSeries(%.cpu)') — '%' expands
        # to the node-0..node path prefix of each group
        glob = expr.args[0]
        if not isinstance(glob, str):
            raise ValueError("applyByNode needs a path glob first arg")
        node = int(expr.args[1])
        template = str(expr.args[2])
        # optional 4th arg: rename each result, '%' expanding to the
        # node prefix (graphite-web 1.1 newName.replace('%', node))
        new_name = str(expr.args[3]) if len(expr.args) > 3 else None
        prefixes = sorted(
            {
                ".".join(p.split(".")[: node + 1])
                for p, leaf in store.find(glob)
            }
        )
        _guard_series(len(prefixes), "applyByNode")
        frames = []
        for pre in prefixes:
            df_pre = evaluate_target(
                parse_target(template.replace("%", pre)),
                store, t0, t1, ctx,
            )
            if new_name is not None:
                df_pre = df_pre.select(
                    F.lit(new_name.replace("%", pre)).alias("path"),
                    "time",
                    "value",
                )
            frames.append(df_pre)
        if not frames:
            raise ValueError(f"applyByNode: no series match {glob!r}")
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out
    if expr.name == "linearRegression" and len(expr.args) > 1:
        # linearRegression(series, startSourceAt, endSourceAt): fit
        # on the at-style SOURCE window, draw the fitted line over
        # the request window (functions.rst: 'source of the second
        # argument... useful for filtering out a recent change')
        wall = int(_time.time())
        s0 = _parse_time(str(expr.args[1]), t0, wall)
        s1 = (
            _parse_time(str(expr.args[2]), t1, wall)
            if len(expr.args) > 2
            else t1
        )
        src = evaluate_target(expr.args[0], store, s0, s1, ctx)
        fit = render.linear_regression_fit(src)
        req = evaluate_target(expr.args[0], store, t0, t1, ctx)
        val = (
            F.col("slope")
            * (F.col("time") - F.col("anchor")).cast("double")
            + F.col("intercept")
        )
        return req.join(F.broadcast(fit), "path").select(
            "path", "time", val.alias("value")
        )
    if expr.name == "areaBetween":
        # graphite-web 1.1: asserts exactly 2 series and renames BOTH
        # to 'areaBetween(%s)' % upper.pathExpression (the fill range
        # reads as one legend entry); the data passes through. The
        # original path rides along as __series so the response
        # assembly emits TWO same-named targets (as upstream does)
        # instead of merging their points into one garbled series.
        inner = evaluate_target(expr.args[0], store, t0, t1, ctx)
        paths = sorted(
            r["path"] for r in inner.select("path").distinct().collect()
        )
        if len(paths) != 2:
            raise ValueError(
                f"areaBetween series argument must reference exactly"
                f" 2 series (got {len(paths)})"
            )
        label = f"areaBetween({_unparse(expr.args[0])})"
        return inner.select(
            F.lit(label).alias("path"),
            "time",
            "value",
            F.col("path").alias("__series"),
        )
    if expr.name == "timeStack":
        # overlay N window-shifted copies of the inner expression
        # (graphite's day-over-day comparison); each copy evaluates
        # over its own shifted window and is labeled like graphite:
        # timeShift(<name>, <interval>, <i>)
        inner = expr.args[0]
        raw_iv = expr.args[1] if len(expr.args) > 1 else "1d"
        iv = abs(_seconds(raw_iv))
        s_i = int(expr.args[2]) if len(expr.args) > 2 else 0
        e_i = int(expr.args[3]) if len(expr.args) > 3 else 7
        if e_i <= s_i:
            raise ValueError("timeStack: end <= start")
        frames = []
        for i in range(s_i, e_i):
            df_i = evaluate_target(inner, store, t0 - i * iv, t1 - i * iv, ctx)
            frames.append(
                df_i.select(
                    F.concat(
                        F.lit("timeShift("),
                        F.col("path"),
                        F.lit(f",{raw_iv},{i})"),
                    ).alias("path"),
                    (F.col("time") + F.lit(i * iv)).alias("time"),
                    "value",
                )
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out
    if expr.name == "timeShift":
        # graphite-web 1.1: shift the FETCH window itself (back in
        # time by default), then stamp the shifted data onto the
        # requested timestamps — evaluating the inner expression over
        # [t0, t1] and relabeling times would leave the window empty.
        # The optional resetEnd/alignDST args are ACCEPTED and inert:
        # restamping confines data to [t0, t1] (= resetEnd's effect),
        # and the session TZ is pinned UTC, where alignDST is a no-op
        delta = _shift_seconds(
            expr.args[1] if len(expr.args) > 1 else "1d"
        )
        df = evaluate_target(expr.args[0], store, t0 + delta, t1 + delta, ctx)
        return df.select(
            "path", (F.col("time") - F.lit(delta)).alias("time"), "value"
        )
    if expr.name == "exponentialMovingAverage":
        # functions.rst exponentialMovingAverage: constant =
        # 2/(windowSize+1); 'The first period EMA uses a simple
        # moving average of the preceding windowSize points' — so the
        # fetch extends back by the window (60 s step assumed for the
        # points form, as for moving*), the bootstrap's simple average
        # seeds the recursion, and the first emitted point carries it.
        # Alignment matches the 1.1 IMPLEMENTATION (r12, ADVICE r11):
        # the value at T-step folds into the output at T and emitted
        # values round to 6 decimals — see render.ema_holt
        p = expr.args[1] if len(expr.args) > 1 else 10
        kw = _movwin(p)
        preview = kw.get("window_s") or kw["points"] * 60
        window_pts = kw.get("points") or max(1, kw["window_s"] // 60)
        df = evaluate_target(expr.args[0], store, t0 - preview, t1, ctx)
        return render.ema_holt(
            df, window=window_pts, emit_from=t0, ema_seed="sma"
        ).select("path", "time", F.col("ema").alias("value"))
    if expr.name in _MOVING_FORMS or expr.name == "movingWindow":
        # graphite-web 1.1 movingWindow: the value at each point
        # aggregates the PRECEDING window (series[i-wp:i] — current
        # point excluded), with a preview fetch before the requested
        # start standing in for upstream's bootstrap re-fetch; points
        # before t0 are trimmed after the window runs. The preview for
        # the points form assumes the 60 s native step (documented —
        # upstream reads the true step from the bootstrap response).
        p = expr.args[1] if len(expr.args) > 1 else 5
        fn = (
            str(expr.args[2]) if expr.name == "movingWindow" and len(expr.args) > 2
            else _MOVING_FORMS.get(expr.name, "avg")
        )
        kw = _movwin(p)
        preview = kw.get("window_s") or kw["points"] * 60
        # evaluate the inner expression BEFORE resolving the
        # xFilesFactor so an inner setXFilesFactor lands its ctx hint
        # first (upstream evaluates arguments before reading the
        # requestContext default); a local ctx stands in when the
        # caller passed none so the hint has somewhere to land
        inner_ctx = ctx if ctx is not None else {}
        df = evaluate_target(
            expr.args[0], store, t0 - preview, t1, inner_ctx
        )
        # xFilesFactor: movingWindow's 4th arg, the named moving*
        # forms' 3rd (movingAverage(s, w, xff) — graphite-web 1.1
        # signatures); the setXFilesFactor hint applies when the
        # call carries none. Windows with too many nulls emit None.
        xff = None
        if expr.name == "movingWindow" and len(expr.args) > 3:
            xff = float(expr.args[3])
        elif expr.name in _MOVING_FORMS and len(expr.args) > 2:
            xff = float(expr.args[2])
        elif "xFilesFactor" in inner_ctx:
            xff = float(inner_ctx["xFilesFactor"])
        if fn in ("avg", "average"):
            out = render.moving_average(df, exclusive=True, xff=xff, **kw)
        else:
            out = render.moving(df, fn, exclusive=True, xff=xff, **kw)
        return out.filter(F.col("time") >= F.lit(t0))
    # two-series combiners dispatch on BOTH args
    if expr.name in ("diffSeries", "divideSeries", "asPercent"):
        a = evaluate_target(expr.args[0], store, t0, t1, ctx)
        if len(expr.args) == 1 and expr.name == "asPercent":
            return render.as_percent(a)
        if expr.name == "asPercent" and isinstance(
            expr.args[1], (int, float)
        ):
            # asPercent(seriesList, total) with a CONSTANT total
            # (functions.rst: 'a constant may be passed')
            tot = float(expr.args[1])
            pct = (
                F.lit(None).cast("double")
                if tot == 0
                else F.col("value") * 100 / F.lit(tot)
            )
            return a.select("path", "time", pct.alias("value"))
        # asPercent's documented None total: with nodes, each series
        # is a percent of ITS OWN node group's sum (the bare token
        # parses as the string 'None')
        none_total = expr.name == "asPercent" and (
            expr.args[1] is None or str(expr.args[1]) == "None"
        )
        b = (
            a
            if none_total
            else evaluate_target(expr.args[1], store, t0, t1, ctx)
        )
        if expr.name == "diffSeries":
            return render.diff_series(a, b)
        if expr.name == "divideSeries":
            return render.divide_series(a, b)
        if len(expr.args) > 2:
            # asPercent(seriesList, totalList, *nodes): series pair
            # up BY NODE KEY — each dividend divides by the total
            # sum of the series sharing its selected path segments
            # (functions.rst's node-grouped form)
            segs = F.split(F.col("path"), r"\.")
            key = F.concat_ws(
                ".",
                *[
                    render._node_item(segs, int(n))
                    for n in expr.args[2:]
                ],
            )
            tk = (
                b.select(key.alias("__k"), "time", "value")
                .groupBy("__k", "time")
                .agg(F.sum("value").alias("__tot"))
            )
            ak = a.select(key.alias("__k"), "path", "time", "value")
            pct = F.when(
                F.col("__tot").isNotNull() & (F.col("__tot") != 0),
                F.col("value") * 100 / F.col("__tot"),
            )
            return ak.join(tk, ["__k", "time"], "left").select(
                "path", "time", pct.alias("value")
            )
        # asPercent(seriesList, totalList): each dividend series as a
        # percent of the total's per-timestamp sum, KEEPING its own
        # path (routing through divide_series merged all dividends
        # into one relabeled series — wrong for a wildcard dividend)
        total = b.groupBy("time").agg(F.sum("value").alias("__tot"))
        pct = F.when(
            F.col("__tot").isNotNull() & (F.col("__tot") != 0),
            F.col("value") * 100 / F.col("__tot"),
        )
        return (
            a.join(total, "time", "left")
            .select("path", "time", pct.alias("value"))
        )
    fn = _FUNCS.get(expr.name)
    if fn is None:
        raise ValueError(f"unsupported function {expr.name!r}")
    if expr.name in _VARIADIC_SERIES and len(expr.args) > 1:
        # graphite signature (*seriesLists): every arg is a series
        # expression — union them, then apply the combiner once
        frames = [
            evaluate_target(a, store, t0, t1, ctx) for a in expr.args
        ]
        df = frames[0]
        for f in frames[1:]:
            df = df.unionByName(f)
        return fn(df)
    df = evaluate_target(expr.args[0], store, t0, t1, ctx)
    return fn(df, *expr.args[1:])


def _grid(pts: list) -> tuple[int, int, int, list]:
    """Regularize [value, time] pairs to (start, stop, step, values):
    step = the smallest positive gap (parquet series carry no
    whisper-style step metadata), stop exclusive = last + step, gaps
    filled with None — the shape graphite-web's raw/pickle formats
    assume."""
    times = [t for _, t in pts]
    diffs = sorted(
        {b - a for a, b in zip(times, times[1:]) if b - a > 0}
    )
    step = diffs[0] if diffs else 60
    start, last = times[0], times[-1]
    have = {t: v for v, t in pts}
    values = [have.get(t) for t in range(start, last + step, step)]
    return start, last + step, step, values


def render_format(series: list, fmt: str) -> tuple[bytes, str]:
    """Non-JSON /render output formats graphite-web serves: ``csv``
    (one line per point, UTC timestamps), ``raw``
    (``name,start,stop,step|v1,v2,...``), ``pickle`` and ``msgpack``
    (the list of {name,start,end,step,values} dicts its remote-fetch
    path reads), plus the go-graphite carbonapi v2/v3 protobuf wire
    formats.
    """
    if fmt == "csv":
        import datetime as _dt

        lines = []
        for s in series:
            for v, t in s["datapoints"]:
                ts = _dt.datetime.fromtimestamp(
                    t, _dt.timezone.utc
                ).strftime("%Y-%m-%d %H:%M:%S")
                val = "" if v is None else _go_float(float(v))
                lines.append(f"{s['target']},{ts},{val}")
        return ("\n".join(lines) + "\n").encode(), "text/csv"
    if fmt == "raw":
        lines = []
        for s in series:
            if not s["datapoints"]:
                continue
            start, stop, step, values = _grid(s["datapoints"])
            vals = ",".join(
                "None" if v is None else _go_float(float(v))
                for v in values
            )
            lines.append(f"{s['target']},{start},{stop},{step}|{vals}")
        return ("\n".join(lines) + "\n").encode(), "text/plain"
    if fmt == "pickle":
        import pickle

        out = []
        for s in series:
            if not s["datapoints"]:
                continue
            start, stop, step, values = _grid(s["datapoints"])
            out.append(
                {
                    "name": s["target"],
                    "start": start,
                    "end": stop,
                    "step": step,
                    "values": values,
                }
            )
        return pickle.dumps(out, protocol=2), "application/pickle"
    if fmt in ("protobuf", "carbonapi_v2_pb"):
        # go-graphite carbonapi v2 wire format (public .proto):
        # MultiFetchResponse{ repeated FetchResponse metrics = 1 }
        # FetchResponse{ name=1, startTime=2, stopTime=3, stepTime=4,
        #                repeated double values=5 (packed),
        #                repeated bool isAbsent=6 (packed) }
        import struct

        body = b""
        for s in series:
            if not s["datapoints"]:
                continue
            start, stop, step, values = _grid(s["datapoints"])
            vals = struct.pack(
                f"<{len(values)}d",
                *[0.0 if v is None else float(v) for v in values],
            )
            absent = bytes(1 if v is None else 0 for v in values)
            fr = (
                _pb_ld(1, s["target"].encode("utf-8"))
                + _pb_vi(2, start)
                + _pb_vi(3, stop)
                + _pb_vi(4, step)
                + _pb_ld(5, vals)
                + _pb_ld(6, absent)
            )
            body += _pb_ld(1, fr)
        return body, "application/protobuf"
    if fmt == "carbonapi_v3_pb":
        # go-graphite carbonapi v3 wire format (public
        # protocol/carbonapi_v3_pb/carbonapi_v3_pb.proto):
        # FetchResponse{ name=1, pathExpression=2,
        #   consolidationFunc=3, startTime=4, stopTime=5, stepTime=6,
        #   xFilesFactor=7 (float), highPrecisionTimestamps=8,
        #   repeated double values=9 (packed; absent = NaN),
        #   requestStartTime=10, requestStopTime=11,
        #   repeated string appliedFunctions=12 }
        # wrapped in MultiFetchResponse{ repeated metrics = 1 }
        import math
        import struct

        body = b""
        for s in series:
            if not s["datapoints"]:
                continue
            start, stop, step, values = _grid(s["datapoints"])
            vals = struct.pack(
                f"<{len(values)}d",
                *[math.nan if v is None else float(v) for v in values],
            )
            name = s["target"].encode("utf-8")
            fr = (
                _pb_ld(1, name)
                + _pb_ld(2, s.get("pathExpression", s["target"]).encode("utf-8"))
                + _pb_ld(3, s.get("consolidationFunc", "average").encode())
                + _pb_vi(4, start)
                + _pb_vi(5, stop)
                + _pb_vi(6, step)
                + _pb_f32(7, float(s.get("xFilesFactor", 0.0)))
                + _pb_ld(9, vals)
                + _pb_vi(10, s.get("requestStartTime", start))
                + _pb_vi(11, s.get("requestStopTime", stop))
            )
            body += _pb_ld(1, fr)
        return body, "application/x-carbonapi-v3-pb"
    if fmt == "msgpack":
        # graphite-web's msgpack render body: the same list of
        # {name, pathExpression, start, end, step, values} dicts the
        # pickle format carries, MessagePack-encoded (format spec is
        # public; encoder below is dependency-free)
        out = []
        for s in series:
            if not s["datapoints"]:
                continue
            start, stop, step, values = _grid(s["datapoints"])
            out.append(
                {
                    "name": s["target"],
                    "pathExpression": s.get(
                        "pathExpression", s["target"]
                    ),
                    "start": start,
                    "end": stop,
                    "step": step,
                    "values": [
                        None if v is None else float(v) for v in values
                    ],
                }
            )
        return _msgpack_pack(out), "application/x-msgpack"
    raise ValueError(f"unsupported format {fmt!r}")


def _msgpack_pack(obj) -> bytes:
    """Minimal MessagePack encoder (spec: msgpack.org) for the value
    shapes the render payload uses — None/bool/int/float/str/list/
    dict. No third-party dependency."""
    import struct

    if obj is None:
        return b"\xc0"
    if obj is True:
        return b"\xc3"
    if obj is False:
        return b"\xc2"
    if isinstance(obj, int):
        if 0 <= obj <= 0x7F:
            return bytes([obj])
        if -32 <= obj < 0:
            return struct.pack("b", obj)
        if obj >= 0:
            for fmt_c, code, lim in (
                ("B", 0xCC, 1 << 8),
                (">H", 0xCD, 1 << 16),
                (">I", 0xCE, 1 << 32),
                (">Q", 0xCF, 1 << 64),
            ):
                if obj < lim:
                    return bytes([code]) + struct.pack(fmt_c, obj)
        for fmt_c, code, lo in (
            ("b", 0xD0, -(1 << 7)),
            (">h", 0xD1, -(1 << 15)),
            (">i", 0xD2, -(1 << 31)),
            (">q", 0xD3, -(1 << 63)),
        ):
            if obj >= lo:
                return bytes([code]) + struct.pack(fmt_c, obj)
        raise OverflowError(f"int out of msgpack range: {obj}")
    if isinstance(obj, float):
        return b"\xcb" + struct.pack(">d", obj)
    if isinstance(obj, str):
        b = obj.encode("utf-8")
        n = len(b)
        if n < 32:
            return bytes([0xA0 | n]) + b
        if n < (1 << 8):
            return b"\xd9" + bytes([n]) + b
        if n < (1 << 16):
            return b"\xda" + struct.pack(">H", n) + b
        return b"\xdb" + struct.pack(">I", n) + b
    if isinstance(obj, (list, tuple)):
        n = len(obj)
        if n < 16:
            head = bytes([0x90 | n])
        elif n < (1 << 16):
            head = b"\xdc" + struct.pack(">H", n)
        else:
            head = b"\xdd" + struct.pack(">I", n)
        return head + b"".join(_msgpack_pack(x) for x in obj)
    if isinstance(obj, dict):
        n = len(obj)
        if n < 16:
            head = bytes([0x80 | n])
        elif n < (1 << 16):
            head = b"\xde" + struct.pack(">H", n)
        else:
            head = b"\xdf" + struct.pack(">I", n)
        return head + b"".join(
            _msgpack_pack(k) + _msgpack_pack(v) for k, v in obj.items()
        )
    raise TypeError(f"msgpack: unsupported type {type(obj).__name__}")


def _pb_uvarint(n: int) -> bytes:
    out = b""
    while True:
        b7 = n & 0x7F
        n >>= 7
        out += bytes([b7 | (0x80 if n else 0)])
        if not n:
            return out


def _pb_ld(field: int, payload: bytes) -> bytes:
    return _pb_uvarint((field << 3) | 2) + _pb_uvarint(len(payload)) + payload


def _pb_vi(field: int, val: int) -> bytes:
    return _pb_uvarint(field << 3) + _pb_uvarint(val)


def _pb_f32(field: int, val: float) -> bytes:
    import struct

    return _pb_uvarint((field << 3) | 5) + struct.pack("<f", val)


def now_ts() -> int:
    """Wall-clock seconds (separated for test monkeypatching)."""
    return int(_time.time())


def _parse_time(v: str | None, default: int, now: int) -> int:
    """graphite-web from/until forms: epoch seconds, ``now``,
    relative ``-1h``, ``today``/``yesterday`` (UTC midnight — the
    session TZ is pinned UTC), and the absolute ``HH:MM_YYYYMMDD`` /
    ``YYYYMMDD`` shapes its at-style parser accepts."""
    import datetime as _dt

    if not v:
        return default
    v = v.strip()
    if re.fullmatch(r"-\d+[a-z]+", v):
        return now + _seconds(v)
    if v == "now":
        return now
    utc = _dt.timezone.utc
    if v in ("today", "yesterday"):
        d = _dt.datetime.fromtimestamp(now, utc).replace(
            hour=0, minute=0, second=0, microsecond=0
        )
        if v == "yesterday":
            d -= _dt.timedelta(days=1)
        return int(d.timestamp())
    m = re.fullmatch(r"(\d{1,2}):(\d{2})_(\d{8})", v)
    if m:
        d = _dt.datetime.strptime(m.group(3), "%Y%m%d").replace(
            hour=int(m.group(1)), minute=int(m.group(2)), tzinfo=utc
        )
        return int(d.timestamp())
    if re.fullmatch(r"(19|20)\d{6}", v):
        # 8 digits starting 19/20 = a YYYYMMDD date, not epoch seconds
        # (epoch values in that range are years 2590+ — not a real
        # ambiguity for monitoring data)
        d = _dt.datetime.strptime(v, "%Y%m%d").replace(tzinfo=utc)
        return int(d.timestamp())
    return int(v)


def _sorts_series(expr) -> bool:
    """True when a ``sortBy*`` call appears anywhere in a parsed
    target: its frame's row order is then the series order."""
    return isinstance(expr, Call) and (
        expr.name.startswith("sortBy")
        or any(_sorts_series(a) for a in expr.args)
    )


def _series_list(rows, split: bool, ordered: bool) -> list[dict]:
    """Collected ``(path, time, value[, __series])`` rows -> the
    /render series list, each series' points in time order.

    ``ordered`` keeps the series in the order the rows came (the
    sortBy* family's frame order). Otherwise the series go in name
    order, sorted here on the driver rather than by a Spark sort of
    the points: Python's ``str`` order is Spark's UTF-8 binary order,
    and a null sorts first as it does in Spark. ``split`` (a
    ``__series`` column, areaBetween) keeps same-named series as
    SEPARATE targets, the way upstream emits its renamed pair; those
    go in order of their first timestamp, then of their ``__series``.
    """
    by_key: dict = {}
    for r in rows:
        k = (r["path"], r["__series"]) if split else (r["path"],)
        by_key.setdefault(k, []).append([r["value"], r["time"]])
    for pts in by_key.values():
        pts.sort(key=lambda p: p[1])
    keys = list(by_key)
    if not ordered:

        def order(k):
            path, *series = k
            first = (by_key[k][0][1],) if split else ()
            return [(v is not None, v) for v in (path, *first, *series)]

        keys.sort(key=order)
    return [{"target": k[0], "datapoints": by_key[k]} for k in keys]


class RenderApi:
    """Threaded HTTP front serving the two graphite-web endpoints."""

    def __init__(self, store: GraphiteStore, host: str = "127.0.0.1", port: int = 0):
        self.store = store
        self.host, self.port = host, port
        self._httpd = None
        self._thread = None

    def start(self) -> "RenderApi":
        import http.server
        import urllib.parse

        api = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def log_message(self, *a):  # noqa: N802
                pass

            def _json(self, obj, status=200):
                body = json.dumps(obj).encode()
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_POST(self):  # noqa: N802
                n = int(self.headers.get("Content-Length") or 0)
                body = self.rfile.read(n).decode("utf-8", "replace")
                u = urllib.parse.urlsplit(self.path)
                if u.path in ("/events", "/events/"):
                    # graphite-web event submission: JSON body
                    # {what, tags, when?, data?}
                    if api.store.events is None:
                        self._json({"error": "no events store"}, 501)
                        return
                    try:
                        ev = json.loads(body or "{}")
                        added = api.store.events.add(
                            ev["what"], tags=ev.get("tags"),
                            when=ev.get("when"), data=ev.get("data", ""),
                        )
                    except (KeyError, ValueError, TypeError) as e:
                        self._json({"error": str(e)}, 400)
                        return
                    self._json(added)
                    return
                # graphite-web/Grafana POST form-encoded render args
                q = urllib.parse.parse_qs(u.query)
                for k, vs in urllib.parse.parse_qs(body).items():
                    q.setdefault(k, []).extend(vs)
                self._handle(u, q)

            def do_GET(self):  # noqa: N802
                u = urllib.parse.urlsplit(self.path)
                q = urllib.parse.parse_qs(u.query)
                self._handle(u, q)

            def _handle(self, u, q):
                try:
                    # one re-open per request: rows appended to a
                    # served root since the start are answered too
                    store = api.store.reopen()
                    mc = re.fullmatch(
                        r"/debug/upload/([A-Za-z0-9_+-]+)/cache/?", u.path
                    )
                    if mc:
                        # reference: carbon/app.go:234-240 registers a
                        # CacheDump handler per cached uploader
                        lines = store.cache_dump(mc.group(1))
                        if lines is None:
                            self._json(
                                {"error": "no cache for table"}, 404
                            )
                            return
                        body = ("\n".join(lines)).encode()
                        if body:
                            body += b"\n"
                        self.send_response(200)
                        self.send_header("Content-Type", "text/plain")
                        self.send_header("Content-Length", str(len(body)))
                        self.end_headers()
                        self.wfile.write(body)
                        return
                    m = re.fullmatch(
                        r"/debug/receive/([A-Za-z0-9_+-]+)/dropped/?", u.path
                    )
                    if m:
                        # reference introspection: text/plain, one
                        # sorted line per recent drop
                        body = (
                            "\n".join(store.dropped_lines(m.group(1)))
                        ).encode()
                        if body:
                            body += b"\n"
                        self.send_response(200)
                        self.send_header("Content-Type", "text/plain")
                        self.send_header("Content-Length", str(len(body)))
                        self.end_headers()
                        self.wfile.write(body)
                    elif u.path in ("/version", "/version/"):
                        # Grafana probes this to pick its query editor
                        # feature set; report a graphite-web 1.1 line
                        body = b"1.1.10"
                        self.send_response(200)
                        self.send_header("Content-Type", "text/plain")
                        self.send_header(
                            "Content-Length", str(len(body))
                        )
                        self.end_headers()
                        self.wfile.write(body)
                    elif u.path in ("/events/get_data", "/events/get_data/"):
                        if store.events is None:
                            self._json([])
                            return
                        now = now_ts()
                        # same at-style from/until forms as /render
                        # (graphite's /events accepts -1h, now, ...)
                        t0 = _parse_time(
                            q.get("from", [None])[0], 0, now
                        )
                        t1 = _parse_time(
                            q.get("until", [None])[0], now, now
                        )
                        # graphite: tags space-separated in one param
                        tags = " ".join(q.get("tags", [])).split()
                        self._json(store.events.get(t0, t1, tags))
                    elif u.path in ("/functions", "/functions/"):
                        # Grafana populates its function editor from
                        # this: name -> descriptor (the subset of
                        # graphite-web's schema Grafana reads)
                        self._json(function_index())
                    elif u.path == "/metrics/index.json":
                        self._json(store.all_metrics())
                    elif u.path in ("/metrics/find", "/metrics/find/"):
                        glob = q.get("query", ["*"])[0]
                        nodes = store.find(glob)
                        if q.get("format", ["treejson"])[0] == "pickle":
                            # graphite-web remote-finder protocol:
                            # pickled [{'metric_path', 'isLeaf',
                            # 'intervals'}] (intervals as (start, end)
                            # epoch pairs; the store has no per-series
                            # retention metadata, so all-time)
                            import pickle as _p

                            body = _p.dumps(
                                [
                                    {
                                        "metric_path": p,
                                        "isLeaf": leaf,
                                        "intervals": [(0, now_ts())],
                                    }
                                    for p, leaf in nodes
                                ],
                                protocol=2,
                            )
                            self.send_response(200)
                            self.send_header(
                                "Content-Type", "application/pickle"
                            )
                            self.send_header(
                                "Content-Length", str(len(body))
                            )
                            self.end_headers()
                            self.wfile.write(body)
                            return
                        fmt = q.get("format", ["treejson"])[0]
                        if fmt == "completer":
                            # graphite-web completer: {'metrics':
                            # [{path, name, is_leaf}]} — branch paths
                            # carry a trailing dot, is_leaf is a
                            # string flag, wildcards=1 appends a '*'
                            # entry (metrics/views.py)
                            results = [
                                {
                                    "path": p + ("" if leaf else "."),
                                    "name": p.rsplit(".", 1)[-1],
                                    "is_leaf": str(int(leaf)),
                                }
                                for p, leaf in nodes
                            ]
                            if q.get("wildcards", ["0"])[0] == "1":
                                results.append({"name": "*"})
                            self._json({"metrics": results})
                            return
                        if fmt == "nodelist":
                            # graphite-web nodelist: unique node
                            # names at the query position
                            self._json(
                                {
                                    "nodes": sorted(
                                        {
                                            p.rsplit(".", 1)[-1]
                                            for p, _ in nodes
                                        }
                                    )
                                }
                            )
                            return
                        out = [
                            {
                                "text": p.rsplit(".", 1)[-1],
                                "id": p,
                                "leaf": int(leaf),
                                "expandable": int(not leaf),
                                "allowChildren": int(not leaf),
                            }
                            for p, leaf in nodes
                        ]
                        self._json(out)
                    elif u.path in ("/metrics/expand", "/metrics/expand/"):
                        results = sorted(
                            {
                                p
                                for g in q.get("query", [])
                                for p, _leaf in store.find(g)
                            }
                        )
                        self._json({"results": results})
                    elif u.path == "/tags/findSeries":
                        self._json(store.find_series(q.get("expr", [])))
                    elif u.path == "/tags/autoComplete/tags":
                        # expr= restricts to matching series; limit
                        # caps the list (graphite-web defaults 100)
                        self._json(
                            store.tag_names(
                                q.get("tagPrefix", [""])[0],
                                exprs=q.get("expr", []) or None,
                                limit=int(
                                    q.get("limit", ["100"])[0]
                                ),
                            )
                        )
                    elif u.path == "/tags/autoComplete/values":
                        self._json(
                            store.tag_values(
                                q.get("tag", [""])[0],
                                q.get("valuePrefix", [""])[0],
                                exprs=q.get("expr", []) or None,
                                limit=int(
                                    q.get("limit", ["100"])[0]
                                ),
                            )
                        )
                    elif u.path in ("/render", "/render/"):
                        now = int(_time.time())
                        t1 = _parse_time(q.get("until", [None])[0], now, now)
                        t0 = _parse_time(
                            q.get("from", [None])[0], t1 - 86400, now
                        )
                        series = []
                        mdp = q.get("maxDataPoints", [None])[0]
                        for target in q.get("target", []):
                            ctx: dict = {}
                            parsed = parse_target(target)
                            df = None
                            if mdp and (
                                isinstance(parsed, str)
                                or (
                                    isinstance(parsed, Call)
                                    and parsed.name == "seriesByTag"
                                    and store.tagged is not None
                                )
                            ):
                                # plain-path or bare seriesByTag
                                # target + maxDataPoints: serve from
                                # the pre-aggregated hot rollup tier
                                # when its grid fits (neither carries
                                # a consolidateBy hint, so avg
                                # semantics match; tagged canonical
                                # names are ordinary tier paths)
                                step = max(
                                    1, (t1 - t0) // max(1, int(mdp))
                                )
                                if step > 1:
                                    sel = (
                                        parsed
                                        if isinstance(parsed, str)
                                        else store.find_series(
                                            [str(a) for a in parsed.args]
                                        )
                                    )
                                    df = store.series_consolidated(
                                        sel, t0, t1, step
                                    )
                            if df is not None:
                                pass  # tier already consolidated
                            else:
                                df = evaluate_target(
                                    parsed, store, t0, t1, ctx
                                )
                                if mdp:
                                    # Grafana sends maxDataPoints on
                                    # every request: consolidate to
                                    # fit, honoring consolidateBy
                                    # (default avg, like graphite-web)
                                    step = max(
                                        1, (t1 - t0) // max(1, int(mdp))
                                    )
                                    if step > 1:
                                        cons = {
                                            "sum": F.sum,
                                            "min": F.min,
                                            "max": F.max,
                                            "first": lambda c: F.min_by(
                                                c, F.col("__t")
                                            ),
                                            "last": lambda c: F.max_by(
                                                c, F.col("__t")
                                            ),
                                        }.get(
                                            ctx.get(
                                                "consolidate", "average"
                                            ),
                                            F.avg,
                                        )
                                        df = (
                                            df.select(
                                                "path",
                                                F.col("time").alias("__t"),
                                                (
                                                    F.col("time")
                                                    - (F.col("time") % step)
                                                ).alias("time"),
                                                "value",
                                            )
                                            .groupBy("path", "time")
                                            .agg(cons("value").alias("value"))
                                        )
                            series.extend(
                                _series_list(
                                    df.collect(),
                                    split="__series" in df.columns,
                                    ordered=_sorts_series(parsed),
                                )
                            )
                        fmt = q.get("format", ["json"])[0]
                        if fmt == "json":
                            self._json(series)
                        else:
                            body, ctype = render_format(series, fmt)
                            self.send_response(200)
                            self.send_header("Content-Type", ctype)
                            self.send_header(
                                "Content-Length", str(len(body))
                            )
                            self.end_headers()
                            self.wfile.write(body)
                    else:
                        self._json({"error": "not found"}, status=404)
                except Exception as e:  # noqa: BLE001
                    self._json({"error": str(e)}, status=400)

        class Server(http.server.ThreadingHTTPServer):
            daemon_threads = True

        self._httpd = Server((self.host, self.port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
