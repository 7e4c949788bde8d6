"""Drop rules F1-F8 (SURVEY §2.3) as declarative filters.

The reference's entire late/early-data policy is the F1/F2 time-window
pair (``receiver/base.go:68-77``) — filter-based, NOT watermark-based;
we keep that parity. All predicates are plain Catalyst expressions, so
they push down to the parquet scan.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F


def drop_rule_predicate(
    now: Column | int | None = None,
    drop_future_seconds: int | None = None,
    drop_past_seconds: int | None = None,
    drop_longer_than: int | None = None,
    time_col: str = "time",
    path_col: str = "path",
) -> Column:
    """Keep-predicate combining F1 (drop-future), F2 (drop-past) and
    F3 (drop-longer-than) — ``receiver/base.go:68-86``."""
    if now is None:
        now_col = F.unix_timestamp()
    elif isinstance(now, int):
        now_col = F.lit(now).cast("long")
    else:
        now_col = now.cast("long")
    pred = F.lit(True)
    if drop_future_seconds is not None:
        pred = pred & (F.col(time_col) <= now_col + F.lit(drop_future_seconds))
    if drop_past_seconds is not None:
        pred = pred & (F.col(time_col) >= now_col - F.lit(drop_past_seconds))
    if drop_longer_than is not None:
        pred = pred & (F.length(path_col) <= F.lit(drop_longer_than))
    return pred


def drop_reason_flags(
    now: Column | int | None = None,
    drop_future_seconds: int | None = None,
    drop_past_seconds: int | None = None,
    drop_longer_than: int | None = None,
    time_col: str = "time",
    path_col: str = "path",
) -> dict[str, Column]:
    """Mutually-exclusive drop-reason predicates with the reference's
    check order (future, then past, then name-too-long — a point
    counts once: ``receiver/base.go:68-86`` + ``:112-119``). Keys are
    the self-metrics counter names."""
    if now is None:
        now_col = F.unix_timestamp()
    elif isinstance(now, int):
        now_col = F.lit(now).cast("long")
    else:
        now_col = now.cast("long")
    t = F.col(time_col)
    future = (
        t > now_col + F.lit(drop_future_seconds)
        if drop_future_seconds is not None
        else F.lit(False)
    )
    past = (
        t < now_col - F.lit(drop_past_seconds)
        if drop_past_seconds is not None
        else F.lit(False)
    )
    toolong = (
        F.length(path_col) > F.lit(drop_longer_than)
        if drop_longer_than is not None
        else F.lit(False)
    )
    return {
        "futureDropped": future,
        "pastDropped": ~future & past,
        "tooLongDropped": ~future & ~past & toolong,
    }


def glob_to_regex(pattern: str) -> str:
    """One Graphite glob (``a1.b2.*.c3``) -> anchored regex fragment.

    The reference compiles globs into forward+reverse tries grouped by
    segment count (``uploader/filter.go:44-149``) — a Go-side perf
    trick; a single alternation regex gives Catalyst the same
    semantics and pushes down.
    """
    out = []
    for ch in pattern:
        if ch == "*":
            out.append("[^.]*")
        else:
            out.append(re.escape(ch))
    return "".join(out)


def ignored_patterns_predicate(
    patterns: list[str], path_col: str = "path"
) -> Column:
    """Keep-predicate for F6: drop untagged paths matching any glob;
    tagged names are exempt (``uploader/points.go:56-58``)."""
    if not patterns:
        return F.lit(True)
    union = "^(" + "|".join(glob_to_regex(p) for p in patterns) + ")$"
    col = F.col(path_col)
    return col.contains("?") | ~col.rlike(union)
