"""Path-shape column expressions (JVM-side, codegen-friendly).

Each function returns a ``pyspark.sql.Column`` so Catalyst can fold it
into whole-stage codegen — no Python UDFs on these hot paths.

Parity sources:

- double-dot normalize: ``receiver/plain.go:22-51``
- segment reverse: ``helper/RowBinary/reader.go:85-102``
- path level: ``uploader/utils.go:13-21``
- tagged discriminator: the ``?`` byte (``uploader/points.go:56``)
- ancestor prefixes: ``uploader/index.go:55-80`` (trailing-dot form)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DOT_RE = r"\."


def normalize_double_dot(path: Column | str) -> Column:
    """``a..b`` -> ``a.b`` (runs of dots collapse to one).

    Guarded by a cheap contains() so the regex engine only runs on the
    rare dirty lines — the same fast-path as the reference's
    ``HasDoubleDot`` pre-check (``receiver/plain.go:22-34``).
    """
    col = F.col(path) if isinstance(path, str) else path
    return F.when(col.contains(".."), F.regexp_replace(col, r"\.\.+", ".")).otherwise(col)


def path_reverse(path: Column | str) -> Column:
    """Segment-wise reverse: ``a1.b2.c3`` -> ``c3.b2.a1``.

    Tagged paths pass through unchanged (ref
    ``helper/RowBinary/reader.go:125-127``).
    """
    col = F.col(path) if isinstance(path, str) else path
    reversed_ = F.concat_ws(".", F.reverse(F.split(col, DOT_RE)))
    return F.when(col.contains("?"), col).otherwise(reversed_)


def path_level(path: Column | str) -> Column:
    """Number of dot-segments (ref ``uploader/utils.go:13-21``)."""
    col = F.col(path) if isinstance(path, str) else path
    return F.size(F.split(col, DOT_RE))


def ancestor_prefixes(path: Column | str) -> Column:
    """Array of ancestor prefixes with trailing dot, levels 1..level-1.

    ``a.b.c.d`` -> ``['a.', 'a.b.', 'a.b.c.']`` — the index-tree rows of
    ``uploader/index.go:55-80``. Pure expression: segments -> running
    joins, no UDF.
    """
    col = F.col(path) if isinstance(path, str) else path
    segs = F.split(col, DOT_RE)
    n = F.size(segs)
    return F.when(
        n <= 1, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat(F.concat_ws(".", F.slice(segs, 1, i)), F.lit(".")),
        )
    )
