r"""GraphiteMergeTree rollup semantics (A4) as a read-time aggregation.

The reference delegates downsampling to ClickHouse's GraphiteMergeTree
(``tests/clickhouse/rollup/rollup.xml``). ClickHouse resolves the
aggregation function and the retention table INDEPENDENTLY: the
function comes from the first matching pattern that *has* a function,
the retentions from the first matching pattern that *has* retentions —
so a function-only pattern like ``\.sum$`` inherits its retentions
from the next retention-bearing match (usually the default). We
reproduce that as one declarative aggregation:

1. assign each path its first function-bearing match and (separately)
   its first retention-bearing match (chained ``when`` over ``rlike``
   — evaluated once per row, inside codegen)
2. pick the bucket width from the row's age at query time
3. ``groupBy(path, floor(time/precision)*precision)`` computing the
   four candidate aggregates, then select per-row by rule function

One shuffle, map-side partial aggregation, no UDFs. Matches-first-rule
semantics proven against ``rollup.xml`` in tests.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Retention:
    age_s: int  # from this age (seconds before `now`) ...
    precision_s: int  # ... aggregate into buckets of this width


@dataclass(frozen=True)
class RollupRule:
    pattern: str  # regex; '' = match-all default
    function: str | None = None  # avg | sum | min | max | last | None (retention-only)
    retentions: tuple[Retention, ...] = ()


#: Literal mirror of tests/clickhouse/rollup/rollup.xml — every rule
#: keeps raw precision (age 0 -> 1 s buckets); the xml's comment talks
#: about 1-minute/1-hour retention but its values say precision 1.
DEFAULT_RULES = (
    RollupRule(r"\.sum$", "sum", (Retention(0, 1),)),
    RollupRule(r"\.max$", "max", (Retention(0, 1),)),
    RollupRule(r"\.min$", "min", (Retention(0, 1),)),
    RollupRule("", "avg", (Retention(0, 1),)),
)


def _first_match(path: Column, indexed_rules, attr, default: Column) -> Column:
    """Chained when() implementing first-match selection over an
    (index, rule) subset; a match-all '' pattern short-circuits as the
    default."""
    expr = None
    for i, rule in indexed_rules:
        val = attr(i, rule)
        if rule.pattern == "":
            default = val
            break
        cond = path.rlike(rule.pattern)
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    return default if expr is None else expr.otherwise(default)


def rule_function_col(path: Column, rules: tuple[RollupRule, ...] = DEFAULT_RULES) -> Column:
    """Aggregation function per path: first match among the rules that
    declare a function (GraphiteMergeTree resolves function and
    retention from independent first matches)."""
    with_fn = [(i, r) for i, r in enumerate(rules) if r.function]
    return _first_match(path, with_fn, lambda i, r: F.lit(r.function), F.lit("avg"))


def retention_rule_idx_col(
    path: Column, rules: tuple[RollupRule, ...] = DEFAULT_RULES
) -> Column:
    """Index (into ``rules``) of the first matching rule that declares
    retentions; -1 when none matches (keep raw precision)."""
    with_ret = [(i, r) for i, r in enumerate(rules) if r.retentions]
    return _first_match(path, with_ret, lambda i, r: F.lit(i), F.lit(-1))


def precision_col(
    age: Column, rule_idx: Column, rules: tuple[RollupRule, ...] = DEFAULT_RULES
) -> Column:
    """Bucket width for a row given its age and matched retention-rule
    index (-1 -> raw precision 1)."""
    out = F.lit(1)
    for i, rule in enumerate(rules):
        if not rule.retentions:
            continue
        width = F.lit(1)
        # retentions ordered by age ascending: the widest bucket whose
        # age threshold the row passed wins
        for ret in sorted(rule.retentions, key=lambda r: r.age_s):
            width = F.when(age >= F.lit(ret.age_s), F.lit(ret.precision_s)).otherwise(width)
        out = F.when(rule_idx == F.lit(i), width).otherwise(out)
    return out


def rollup(
    points: DataFrame,
    rules: tuple[RollupRule, ...] = DEFAULT_RULES,
    precision_s: int | None = None,
    now: int | None = None,
    path_col: str = "path",
    time_col: str = "time",
    value_col: str = "value",
    exact_decimal: bool = False,
    round_avg_to: int | None = None,
) -> DataFrame:
    """Downsample points per the rollup rules.

    ``precision_s`` overrides age-based precision with a fixed bucket
    (the common query shape: render a range at one step). Output:
    ``(path, time, value)`` with ``time`` bucket-aligned.

    ``exact_decimal`` accumulates sums in DECIMAL(32,6) and derives
    avg as exact-sum/count — order-independent and bit-identical
    across engines/partitionings (used by oracle-checked queries;
    the plain double path is marginally faster).
    """
    path = F.col(path_col)

    if precision_s is not None:
        prec = F.lit(precision_s)
    else:
        now_col = F.lit(now).cast("long") if now is not None else F.unix_timestamp()
        age = now_col - F.col(time_col)
        idx = retention_rule_idx_col(path, rules)
        prec = precision_col(age, idx, rules)

    func = rule_function_col(path, rules)
    bucket = (F.col(time_col) - (F.col(time_col) % prec)).alias("time")

    value_in = F.col(value_col)
    if exact_decimal:
        value_in = value_in.cast("decimal(32,6)")

    aggregated = (
        points.select(
            path.alias("path"),
            bucket,
            F.col(time_col).alias("__t"),
            value_in.alias("value"),
            func.alias("__fn"),
        )
        .groupBy("path", "time", "__fn")
        .agg(*_rollup_aggs())
    )
    value = _rollup_value(exact_decimal, round_avg_to)
    return aggregated.select("path", "time", value.alias("value"))


def _rollup_aggs() -> list:
    """The five candidate aggregates every rollup group computes —
    shared by :func:`rollup` and :func:`rollup_sets` so the fused
    multi-rule-set pass is aggregate-for-aggregate identical."""
    return [
        F.sum("value").alias("__sum"),
        F.count("value").alias("__cnt"),
        F.min("value").alias("__min"),
        F.max("value").alias("__max"),
        F.max_by("value", F.col("__t")).alias("__last"),
    ]


def _rollup_value(exact_decimal: bool, round_avg_to: int | None) -> Column:
    """Final per-group value selection over the :func:`_rollup_aggs`
    columns — one fixed expression tree, shared by :func:`rollup`
    and :func:`rollup_sets`."""
    if exact_decimal:
        s = F.col("__sum").cast("double")
        if round_avg_to is not None:
            # exact half-up rounding of the rational sum/count at
            # `round_avg_to` decimals, in pure integer arithmetic: a
            # double round() can flip when the quotient lands exactly
            # on the rounding grid (engines scale-then-round
            # differently). s6 = sum at scale 6 as a long; for
            # d <= 6: R = floor((2*s6 + 10^(6-d)*c) / (2*10^(6-d)*c)).
            # Assumes non-negative values (metric semantics).
            d = round_avg_to
            s6 = (F.col("__sum") * F.lit(10**6)).cast("long")
            denom = F.lit(10 ** (6 - d)) * F.col("__cnt")
            r = F.floor((2 * s6 + denom) / (2 * denom))
            avg = (r / F.lit(10**d)).cast("double")
        else:
            avg = s / F.col("__cnt")
        mn, mx, last = (
            F.col("__min").cast("double"),
            F.col("__max").cast("double"),
            F.col("__last").cast("double"),
        )
    else:
        s = F.col("__sum")
        avg = s / F.col("__cnt")
        mn, mx, last = F.col("__min"), F.col("__max"), F.col("__last")

    return (
        F.when(F.col("__fn") == "sum", s)
        .when(F.col("__fn") == "min", mn)
        .when(F.col("__fn") == "max", mx)
        .when(F.col("__fn") == "last", last)
        .otherwise(avg)
    )


def rollup_sets(
    points: DataFrame,
    sets,
    path_col: str = "path",
    time_col: str = "time",
    value_col: str = "value",
    exact_decimal: bool = False,
    round_avg_to: int | None = None,
    label_col: str = "rule_set",
) -> DataFrame:
    """Several rollup rule families over ONE scan and ONE partial-agg
    Exchange (r12 optimization, guide §1.2: a union of independent
    :func:`rollup` calls scans and shuffles the points once PER
    family). ``sets`` is a sequence of ``(label, rules, precision_s,
    now)`` tuples; each contributes a labeled ``(bucket, function)``
    struct per input row, the structs explode once, and a single
    ``groupBy(label, path, bucket, fn)`` computes the shared
    :func:`_rollup_aggs`. Per-label output rows are identical to
    ``rollup(points, rules, precision_s=..., now=...)`` with the same
    flags: the bucket/function selection, the aggregates and the
    :func:`_rollup_value` finals are the same expression trees, and
    the exact-decimal sums are partition-order independent. Returns
    ``(label_col, path, time, value)``."""
    path = F.col(path_col)
    entries = []
    for label, rules, precision_s, now in sets:
        if precision_s is not None:
            prec = F.lit(precision_s)
        else:
            now_col = (
                F.lit(now).cast("long")
                if now is not None
                else F.unix_timestamp()
            )
            age = now_col - F.col(time_col)
            idx = retention_rule_idx_col(path, rules)
            prec = precision_col(age, idx, rules)
        func = rule_function_col(path, rules)
        bucket = F.col(time_col) - (F.col(time_col) % prec)
        entries.append(
            F.struct(
                F.lit(label).alias("l"),
                bucket.alias("b"),
                func.alias("f"),
            )
        )

    value_in = F.col(value_col)
    if exact_decimal:
        value_in = value_in.cast("decimal(32,6)")

    aggregated = (
        points.select(
            path.alias("path"),
            F.col(time_col).alias("__t"),
            value_in.alias("value"),
            F.explode(F.array(*entries)).alias("__e"),
        )
        .select(
            F.col("__e")["l"].alias(label_col),
            "path",
            F.col("__e")["b"].alias("time"),
            F.col("__e")["f"].alias("__fn"),
            "__t",
            "value",
        )
        .groupBy(label_col, "path", "time", "__fn")
        .agg(*_rollup_aggs())
    )
    value = _rollup_value(exact_decimal, round_avg_to)
    return aggregated.select(
        label_col, "path", "time", value.alias("value")
    )


def rules_from_xml(path: str) -> tuple[RollupRule, ...]:
    """Parse the ClickHouse ``graphite_rollup`` XML config file at
    ``path`` (the exact file the reference points its tables at, e.g.
    ``tests/clickhouse/rollup/rollup.xml``) into RollupRules. A missing
    file raises ``FileNotFoundError`` naming ``path``; see
    :func:`rules_from_xml_text` for the format."""
    with open(path, "rb") as fh:
        return rules_from_xml_text(fh.read())


def rules_from_xml_text(text: str | bytes) -> tuple[RollupRule, ...]:
    """Parse ``graphite_rollup`` XML text into RollupRules.

    ``<pattern>`` entries keep document order; ``<default>`` becomes
    the trailing match-all rule. Patterns may carry only a function or
    only retentions — first-match resolution per side is already the
    engine's semantics (GraphiteMergeTree resolves them
    independently). Accepts either a bare ``<graphite_rollup>`` root or
    the ``<yandex>`` / ``<clickhouse>`` server-config wrapper."""
    import xml.etree.ElementTree as ET

    root = ET.fromstring(text)
    section = root if root.tag == "graphite_rollup" else root.find(
        ".//graphite_rollup"
    )
    if section is None:
        raise ValueError("no <graphite_rollup> section found")

    def retentions(el) -> tuple[Retention, ...]:
        out = []
        for r in el.findall("retention"):
            out.append(
                Retention(int(r.findtext("age")), int(r.findtext("precision")))
            )
        return tuple(sorted(out, key=lambda r: r.age_s))

    rules = []
    for p in section.findall("pattern"):
        rules.append(
            RollupRule(
                p.findtext("regexp") or "",
                p.findtext("function"),
                retentions(p),
            )
        )
    default = section.find("default")
    if default is not None:
        rules.append(
            RollupRule("", default.findtext("function"), retentions(default))
        )
    return tuple(rules)
