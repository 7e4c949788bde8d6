"""Arrow-vectorized pandas UDF wrappers for the parity functions.

Only the operations whose byte-exact semantics Spark built-ins cannot
reproduce (tag canonicalization and tag parsing — SURVEY §2.2 P3/P5/P7)
go through Python, and always as pandas UDFs (Arrow batches), never
row-at-a-time UDFs. Callers should restrict these to the rows that
need them (e.g. only lines containing ``;``) and to deduplicated path
sets where possible. Go-net/url escaping and tolerant unescape are
column expressions in ``functions.tags_jvm``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .tags import TagConfig, graphite_canonicalize, parse_canonical_tags

_TAGS_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
    ]
)


def _arrow_safe(x: str | None) -> str | None:
    """Strip lone surrogates before handing strings to Arrow.

    ``escape.unescape`` uses surrogateescape so %-escaped non-UTF-8
    bytes round-trip losslessly in pure Python (Go-string parity), but
    Arrow/Spark strings must be valid UTF-8 — at this boundary such
    bytes degrade to U+FFFD, exactly ClickHouse's behavior for invalid
    UTF-8 in String functions."""
    if x is None:
        return None
    try:
        x.encode("utf-8")
        return x
    except UnicodeEncodeError:
        return x.encode("utf-8", "surrogateescape").decode("utf-8", "replace")


@pandas_udf(T.StringType())
def graphite_canonicalize_udf(s: pd.Series) -> pd.Series:
    """``name;k=v;...`` -> canonical ``name?k=v&...``; None on bad input.

    Memoizes per Arrow batch — metric names repeat heavily in real
    streams, so the cache hit rate is high (same trick as the
    reference's per-connection buffers).
    """
    cache: dict[str, str | None] = {}

    def conv(x: str | None) -> str | None:
        if x is None:
            return None
        got = cache.get(x, _SENTINEL)
        if got is _SENTINEL:
            got = cache[x] = graphite_canonicalize(x)
        return got

    return s.map(conv)


_SENTINEL = object()


def make_graphite_canonicalize_udf(config: TagConfig):
    """Canonicalize with an InfluxDB-style template TagConfig (P4)."""

    @pandas_udf(T.StringType())
    def _udf(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: graphite_canonicalize(x, config) if x is not None else None
        )

    return _udf


@pandas_udf(T.StringType())
def prometheus_canonicalize_udf(labels: pd.Series) -> pd.Series:
    """array<struct<name,value>> label sets -> canonical path
    (``helper/tags/prometheus.go:20-52``); None when __name__ missing."""
    from .tags import prometheus_canonicalize

    def conv(ls) -> str | None:
        if ls is None:
            return None
        return prometheus_canonicalize(
            [(l["name"], l["value"]) for l in ls]
        )

    return labels.map(conv)


# Marked non-deterministic at DEFINITION (r13, ADVICE r12 #1): the
# one call site filters on the UDF's output, and the optimizer's
# filter pushdown would otherwise duplicate the per-row UDF into two
# ArrowEvalPython stages (optimization guide §4.4). Marking it here
# instead of mutating the shared object at the call site removes the
# action-at-a-distance: every consumer sees the same (single-eval)
# behavior. The function is a pure map; non-determinism only
# restricts optimizer reordering, never changes rows.
prometheus_canonicalize_udf = prometheus_canonicalize_udf.asNondeterministic()


@pandas_udf(_TAGS_SCHEMA)
def parse_tags_udf(path: pd.Series) -> pd.DataFrame:
    """Canonical tagged path -> (unescaped name, unescaped k=v tags
    incl. ``__name__``) — ref ``uploader/tagged.go:60-119``."""

    def conv(x: str | None):
        if x is None:
            return (None, None)
        parsed = parse_canonical_tags(x)
        if parsed is None:
            return (x, None)
        name, tags = parsed
        return (_arrow_safe(name), [_arrow_safe(t) for t in tags])

    out = path.map(conv)
    return pd.DataFrame(
        {"name": out.map(lambda t: t[0]), "tags": out.map(lambda t: t[1])}
    )
