"""Tag canonicalization with parity to the reference's tag helpers.

Behavior sources (cited for parity checks, not copied):

- Graphite ``name;k=v;k2=v2`` -> ``escapedName?k1=v1&k2=v2`` with keys
  sorted and duplicate keys resolved last-wins
  (``helper/tags/graphite.go:45-128``; proven by
  ``receiver/plain_test.go:176-178`` and ``helper/tags/graphite_test.go``).
- Prometheus label sets: ``__name__`` hoisted first, remaining labels
  sorted by name (``helper/tags/prometheus.go:20-52``).
- Telegraf tag maps: sorted ``k=v`` join, reserved key ``name`` renamed
  ``_name`` (``receiver/telegraf_http_json.go:36-74``).
- InfluxDB-style template tagging for untagged names
  (``helper/tags/graphite.go:186-333``).

All functions are pure Python, designed to be called from vectorized
pandas UDFs (see ``carbon_clickhouse_spark.functions.udfs``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from .escape import escape_path, escape_query, unescape


def _canonical_tagged(name: str, kvs: list[tuple[str, str]]) -> str:
    """Escape + join pre-sorted unique kv pairs into canonical form."""
    parts = [escape_path(name), "?"]
    for i, (k, v) in enumerate(kvs):
        if i:
            parts.append("&")
        parts.append(escape_query(k))
        parts.append("=")
        parts.append(escape_query(v))
    return "".join(parts)


def _sort_uniq(kvs: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Stable-sort by key; for duplicate keys the last input occurrence
    wins (ref ``helper/tags/graphite.go:98-117``)."""
    last: dict[str, str] = {}
    for k, v in kvs:
        last[k] = v
    return sorted(last.items())


def graphite_canonicalize(s: str, config: "TagConfig | None" = None) -> str | None:
    """Canonicalize a Graphite metric name (ref ``tags.Graphite``).

    Untagged names (no ``;``) pass through unchanged (and unescaped).
    Returns None on parse errors (empty name, segment without ``=``) —
    callers drop such points, mirroring the reference's error path.
    """
    if config is not None and config.enabled and ";" not in s:
        tagged = config.to_graphite_tagged(s)
        if tagged is None:
            return None
        if tagged == "":
            # DELIBERATE DIVERGENCE from helper/tags/graphite.go:
            # the reference assigns s = "" here, so an enabled config
            # with no matching template erases the metric name and the
            # point is written under an empty path (data loss). We keep
            # the original untagged name instead. Pinned by
            # test_template_no_match_keeps_name.
            return s
        s = tagged

    pos = s.find(";")
    if pos < 0:
        return s
    if pos == 0:
        return None
    name = s[:pos]
    kvs: list[tuple[str, str]] = []
    for seg in s[pos + 1 :].split(";"):
        if seg == "":
            return None
        eq = seg.find("=")
        if eq < 1:
            return None
        kvs.append((seg[:eq], seg[eq + 1 :]))
    return _canonical_tagged(name, _sort_uniq(kvs))


def prometheus_canonicalize(labels: list[tuple[str, str]]) -> str | None:
    """Canonicalize a Prometheus label set (ref ``tags.Prometheus``).

    ``__name__`` becomes the metric name; the remaining labels are
    sorted by name. Returns None when ``__name__`` is missing.
    """
    name = None
    rest: list[tuple[str, str]] = []
    for k, v in labels:
        if k == "__name__":
            name = v
        else:
            rest.append((k, v))
    if name is None or name == "":
        return None
    return _canonical_tagged(name, _sort_uniq(rest))


def telegraf_encode_tags(tags: dict[str, str]) -> str:
    """Telegraf tag map -> ``k=v&…`` string, query-escaped
    (ref ``receiver/telegraf_http_json.go:36-74``). Two reference
    quirks preserved exactly: keys sort BEFORE the reserved-key rename
    (so ``_name`` appears at the original ``name`` sort position), and
    single-tag maps skip the rename entirely."""
    if not tags:
        return ""
    if len(tags) == 1:
        k, v = next(iter(tags.items()))
        return f"{escape_query(k)}={escape_query(v)}"
    parts = []
    for k in sorted(tags):
        disp = "_name" if k == "name" else k
        parts.append(f"{escape_query(disp)}={escape_query(tags[k])}")
    return "&".join(parts)


def telegraf_metric_path(
    name: str, field_name: str, tags: dict[str, str], concat: str = "_"
) -> str:
    """Build the canonical path for one Telegraf field
    (ref ``receiver/telegraf_http_json.go:106-121``): path-escaped
    name, ``concat`` + path-escaped field unless field == ``value``,
    then ``?`` + encoded tags (always present, even when empty)."""
    path = escape_path(name)
    if field_name != "value":
        path += concat + escape_path(field_name)
    return path + "?" + telegraf_encode_tags(tags)


def parse_canonical_tags(path: str) -> tuple[str, list[str]] | None:
    """Split a canonical tagged path into (unescaped name, unescaped
    ``k=v`` strings incl. ``__name__``) — ref ``uploader/tagged.go:60-119``.

    Returns None for untagged paths.
    """
    q = path.find("?")
    if q < 0:
        return None
    name = unescape(path[:q])
    tags = ["__name__=" + name]
    args = path[q + 1 :]
    while args:
        eq = args.find("=")
        if eq == -1:
            break  # corrupted tag: stop, keep what we have (ref :104-106)
        amp = args.find("&", eq + 1)
        if amp == -1:
            tags.append(unescape(args))
            break
        tags.append(unescape(args[:amp]))
        args = args[amp + 1 :]
    return name, tags


# ---------------------------------------------------------------------------
# InfluxDB-style template tagging (ref helper/tags/graphite.go:186-333)
# ---------------------------------------------------------------------------


def _make_filter_regex(flt: str) -> re.Pattern:
    if flt == "":
        # ref :204-206 compiles `[.]^*`, which in RE2 unanchored search
        # means "contains a dot" (the `^*` matches empty)
        return re.compile(r"\.")
    begin, end = "^", "$"
    if flt.startswith("*"):
        begin, flt = "", flt[1:]
    if flt.endswith("*"):
        end, flt = "", flt[:-1]
    pattern = begin + flt.replace(".", r"\.").replace("*", r"[^\.]*") + end
    return re.compile(pattern)


@dataclass
class TemplateDesc:
    filter: re.Pattern
    template: list[str]
    extra_tags: dict[str, str]


@dataclass
class TagConfig:
    """Mirrors the reference's ``[convert_to_tagged]`` config
    (``helper/tags/graphite.go:188-200``, README.md:263-274)."""

    enabled: bool = False
    separator: str = "_"
    tags: list[str] = field(default_factory=list)
    templates: list[str] = field(default_factory=list)
    tag_map: dict[str, str] = field(default_factory=dict)
    template_descs: list[TemplateDesc] = field(default_factory=list)

    def configure(self) -> "TagConfig":
        self.tag_map = dict(
            t.split("=", 1) for t in self.tags if t
        )
        self.template_descs = []
        for s in self.templates:
            tokens = [t.strip() for t in s.split(" ") if t.strip()]
            if len(tokens) > 3:
                raise ValueError("wrong template format")
            flt, template, tags = "", "", ""
            if len(tokens) == 2:
                if "=" in tokens[1]:
                    template, tags = tokens[0], tokens[1]
                else:
                    flt, template = tokens[0], tokens[1]
            elif len(tokens) == 3:
                flt, template, tags = tokens
            else:
                template = tokens[0]
            extra = dict(t.split("=", 1) for t in tags.split(",") if t and "=" in t)
            self.template_descs.append(
                TemplateDesc(_make_filter_regex(flt), template.split("."), extra)
            )
        return self

    def to_graphite_tagged(self, s: str) -> str | None:
        """Apply the first matching template; '' if none matched."""
        for desc in self.template_descs:
            if not desc.filter.search(s):
                continue
            tag_map = dict(self.tag_map)
            tag_map.update(desc.extra_tags)
            names = s.split(".")
            tpl = desc.template
            if (len(names) != len(tpl) and not tpl[-1].endswith("*")) or len(
                names
            ) < len(tpl):
                continue
            measurement = ""
            for i, name in enumerate(names):
                t = tpl[i]
                if t == "":
                    continue
                if t == "measurement":
                    measurement += name + self.separator
                elif t == "measurement*":
                    measurement += self.separator.join(names[i:])
                    break
                else:
                    if t in tag_map:
                        tag_map[t] = tag_map[t] + self.separator + name
                    else:
                        tag_map[t] = name
            if measurement.endswith("_"):
                measurement = measurement[:-1]
            return measurement + "".join(f";{k}={v}" for k, v in tag_map.items())
        return ""
