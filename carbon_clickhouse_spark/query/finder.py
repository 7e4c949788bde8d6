"""Metric-find / tag-find — the query surface the tables exist to serve.

The reference's companion reader (graphite-clickhouse) resolves
Graphite globs against ``graphite_index`` using the level encoding
(daily +0 / reverse +10000 / tree +20000 / reverse-tree +30000,
``uploader/index.go:21-24``) and tag lookups against
``graphite_tagged`` ``(Tag1, Path, Date)``. We reproduce those scans.

Scale notes: every lookup filters on ``level`` + a path prefix, which
parquet min/max stats on a path-sorted layout turn into file skipping —
the Spark analogue of the CH primary-key scan. Glob -> (prefix LIKE +
anchored regex) so the prefix pushes down and the regex finishes
exactly.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

from ..schemas import TREE_LEVEL_OFFSET


def glob_to_like_prefix(glob: str) -> str:
    """Longest literal prefix before the first wildcard."""
    for i, ch in enumerate(glob):
        if ch in "*?[{":
            return glob[:i]
    return glob


def glob_to_regex(glob: str) -> str:
    """Graphite glob -> anchored regex (``*`` never crosses a dot;
    ``{a,b}`` alternation; ``[ab]`` char class)."""
    out, i = [], 0
    while i < len(glob):
        ch = glob[i]
        if ch == "*":
            out.append("[^.]*")
        elif ch == "?":
            out.append("[^.]")
        elif ch == "{":
            j = glob.index("}", i)
            alts = glob[i + 1 : j].split(",")
            out.append("(" + "|".join(re.escape(a) for a in alts) + ")")
            i = j
        elif ch == "[":
            j = glob.index("]", i)
            out.append(glob[i : j + 1])
            i = j
        else:
            out.append(re.escape(ch))
        i += 1
    return "^" + "".join(out) + "$"


def match_metrics(index: DataFrame, glob: str, tree: bool = True) -> DataFrame:
    """Resolve a Graphite glob against the index table -> ``path``
    rows, one per matching index row (trailing-dot rows mean
    "directory"). Not deduplicated: a caller that collects the result
    dedups on the driver, which costs no shuffle.

    Uses the tree rows (date-independent) by default; pass
    ``tree=False`` to search the daily rows (then filter date
    upstream).
    """
    level = len(glob.split("."))
    offset = TREE_LEVEL_OFFSET if tree else 0
    prefix = glob_to_like_prefix(glob)
    regex = glob_to_regex(glob)

    # directories carry a trailing dot in the index
    dir_regex = regex[:-1] + r"\.?$"

    df = index.filter(
        (F.col("level") == level + offset)
        & F.col("path").rlike(dir_regex)
    )
    if prefix:
        df = df.filter(F.col("path").startswith(prefix))
    return df.select("path")


def find_metrics(index: DataFrame, glob: str, tree: bool = True) -> DataFrame:
    """:func:`match_metrics` as distinct ``path`` rows."""
    return match_metrics(index, glob, tree).distinct()


def find_metrics_reverse(index: DataFrame, glob: str, tree: bool = True) -> DataFrame:
    """Resolve a suffix-heavy glob (``*.cpu.loadavg``) against the
    REVERSE index rows (levels +10000/+30000): reverse the glob's
    segments, scan the reversed paths — turning a full-scan suffix
    match into a prefix scan, exactly why the reference maintains
    ``graphite_reverse`` (``uploader/points.go:21-31``).

    Returns the matching paths in their ORIGINAL (un-reversed) form.
    """
    from ..functions.paths import path_reverse
    from ..schemas import REVERSE_LEVEL_OFFSET, REVERSE_TREE_LEVEL_OFFSET

    segments = glob.split(".")
    rev_glob = ".".join(reversed(segments))
    level = len(segments)
    offset = REVERSE_TREE_LEVEL_OFFSET if tree else REVERSE_LEVEL_OFFSET
    prefix = glob_to_like_prefix(rev_glob)
    regex = glob_to_regex(rev_glob)

    df = index.filter(
        (F.col("level") == level + offset) & F.col("path").rlike(regex)
    )
    if prefix:
        df = df.filter(F.col("path").startswith(prefix))
    return df.select(path_reverse("path").alias("path")).distinct()


def find_tagged(
    tagged: DataFrame,
    tag: str,
    value: str,
    extra: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Resolve ``tag=value`` (+ optional extra terms) -> distinct
    canonical paths, via the Tag1 fanout table.

    First term scans ``tag1 == 'k=v'`` (the CH ORDER BY key); extra
    terms post-filter on the Tags array — same shape as the
    graphite-clickhouse tag finder.
    """
    t1 = f"{tag}={value}" if tag != "__name__" else f"__name__={value}"
    df = tagged.filter(F.col("tag1") == t1)
    for k, v in extra or []:
        df = df.filter(F.array_contains(F.col("tags"), f"{k}={v}"))
    return df.select("path").distinct()


def _months_between(time_from: int, time_until: int) -> list[str] | None:
    """yyyyMM partition values covering [time_from, time_until) in
    UTC, padded one month each side for points whose metric timestamp
    and write date straddle a boundary (version-date skew). None for
    degenerate or absurdly wide windows (no pruning)."""
    import datetime as _dt

    if time_until <= time_from:
        return []
    utc = _dt.timezone.utc
    lo = _dt.datetime.fromtimestamp(time_from, utc)
    hi = _dt.datetime.fromtimestamp(max(time_from, time_until - 1), utc)
    y, m = lo.year, lo.month - 1  # one month of slack on each side
    if m == 0:
        y, m = y - 1, 12
    months = []
    while (y, m) <= (hi.year, hi.month) and len(months) <= 1201:
        months.append(f"{y}{m:02d}")
        m += 1
        if m == 13:
            y, m = y + 1, 1
    months.append(f"{y}{m:02d}")  # trailing slack month
    return None if len(months) > 1200 else months


def read_series(
    points: DataFrame,
    paths: DataFrame | list[str],
    time_from: int,
    time_until: int,
    precision_s: int | None = None,
    rules=None,
    exact_decimal: bool = False,
    round_avg_to: int | None = None,
    hot_rollup: DataFrame | None = None,
) -> DataFrame:
    """Fetch (and optionally roll up) series points for resolved paths.

    ``paths`` as a DataFrame joins broadcast (a resolved metric list is
    always small next to the points table); as a list it becomes an
    ``isin`` filter that pushes down to the scan.

    ``hot_rollup`` (with ``precision_s`` set) serves finalized buckets
    from the continuous streaming rollup table
    (``streaming.analytics.continuous_rollup``) and aggregates only
    raw points newer than its horizon — history reads touch
    pre-aggregated rows instead of re-scanning raw points.
    """
    from ..operators.rollup import DEFAULT_RULES, rollup

    df = points.filter(
        (F.col("time") >= time_from) & (F.col("time") < time_until)
    )
    if "month" in points.columns:
        # the stored layout partitions by month(date); Spark cannot
        # derive partition pruning from the epoch-time predicate, so
        # enumerate the window's yyyyMM values explicitly — at 100 TB
        # this is the difference between scanning one month's files
        # and listing every partition
        months = _months_between(time_from, time_until)
        if months is not None:
            df = df.filter(F.col("month").isin(months))
    if isinstance(paths, list):
        df = df.filter(F.col("path").isin(paths))
    else:
        df = df.join(F.broadcast(paths.select("path").distinct()), "path")

    if precision_s is not None and hot_rollup is not None:
        from ..streaming.analytics import serve_rollup

        fin = hot_rollup
        if isinstance(paths, list):
            fin = fin.filter(F.col("path").isin(paths))
        else:
            fin = fin.join(
                F.broadcast(paths.select("path").distinct()), "path"
            )
        return serve_rollup(
            fin, df, time_from, time_until,
            rules=rules or DEFAULT_RULES, precision_s=precision_s,
            exact_decimal=exact_decimal, round_avg_to=round_avg_to,
        )
    if precision_s is not None:
        return rollup(
            df,
            rules or DEFAULT_RULES,
            precision_s=precision_s,
            exact_decimal=exact_decimal,
            round_avg_to=round_avg_to,
        )
    return df.select("path", "time", "value")
