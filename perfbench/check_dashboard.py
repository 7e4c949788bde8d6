"""Correctness of dashboard responses, against DuckDB over the
generated points (the rows the root was built from)."""

from __future__ import annotations

import json
import math

import gen

REL = 1e-9


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL, abs_tol=1e-9)


def _series_match(got: list, want: dict) -> str | None:
    """``got``: render JSON; ``want``: {name: {ts: value}}."""
    names = sorted(s["target"] for s in got)
    if names != sorted(want):
        return f"series {names[:3]}... != expected {sorted(want)[:3]}..."
    for s in got:
        exp = want[s["target"]]
        pts = {t: v for v, t in s["datapoints"] if v is not None}
        if sorted(pts) != sorted(exp):
            return f"{s['target']}: {len(pts)} timestamps != expected {len(exp)}"
        for t, v in exp.items():
            if not _close(pts[t], v):
                return f"{s['target']} at {t}: {pts[t]} != {v}"
    return None


def _points(con, sql: str, *params) -> dict:
    out: dict = {}
    for name, t, v in con.execute(sql, list(params)).fetchall():
        out.setdefault(name, {})[int(t)] = float(v)
    return out


def expected(con, r: gen.Request):
    """The response a request must produce: a list (find ids or tag
    values), a {name: {ts: value}} mapping (checked series), or a set
    of series names (name-checked series)."""
    a, t0, t1 = r.arg, r.t0, r.t1
    d, digit = a["dc"], a["digit"]
    if r.kind == "find":
        return sorted(f"srv.dc{d}.host{h:02d}" for h in range(gen.DASH_HOSTS) if f"{h:02d}".startswith(str(digit)))
    if r.kind == "tag_values":
        return sorted(f"host{h:02d}" for h in range(gen.DASH_HOSTS) if f"{h:02d}".startswith(str(digit)))
    if r.kind == "render_one":
        step = (t1 - t0) // a["maxDataPoints"]
        return _points(
            con,
            "SELECT path, time - time % ? AS t, avg(value) FROM raw "
            "WHERE path = ? AND time BETWEEN ? AND ? GROUP BY path, t",
            step, a["target"], t0, t1,
        )
    if r.kind == "render_sum":
        # the engine labels the combined series "sumSeries" (its
        # documented naming; graphite-web would append the arguments)
        return _points(
            con,
            "SELECT 'sumSeries' AS name, time, sum(value) FROM raw "
            "WHERE path LIKE ? AND time BETWEEN ? AND ? GROUP BY time",
            f"srv.dc{d}.host{digit}%", t0, t1,
        )
    if r.kind == "render_tag":
        name = gen.DASH_TAGGED_NAMES[digit]
        return _points(
            con,
            "SELECT path, time, value FROM raw "
            "WHERE path LIKE ? AND time BETWEEN ? AND ?",
            f"{name}?dc=dc{d}&%", t0, t1,
        )
    if r.kind == "render_alias":
        return {f"host{a['host']:02d}.m{k}" for k in range(gen.DASH_METRICS)}
    if r.kind == "render_top":
        rows = con.execute(
            "SELECT path FROM raw WHERE path LIKE ? AND time BETWEEN ? AND ? "
            "GROUP BY path ORDER BY max(value) DESC LIMIT 5",
            [f"srv.dc{d}.%", t0, t1],
        ).fetchall()
        return {p for (p,) in rows}
    raise ValueError(r.kind)


def check(raw: str, responses) -> list[str]:
    """Failure messages for ``[(request, status, body)]``; empty when
    every response is right."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute(f"CREATE VIEW raw AS SELECT * FROM read_parquet('{raw}')")
        failures = []
        for r, status, body in responses:
            why = _check_one(con, r, status, body)
            if why:
                failures.append(f"{r.kind} {r.path}: {why}")
        return failures
    finally:
        con.close()


def _check_one(con, r, status, body) -> str | None:
    if status != 200:
        return f"status {status}"
    try:
        got = json.loads(body)
    except ValueError:
        return "body is not JSON"
    want = expected(con, r)
    if r.kind == "find":
        ids = sorted(n["id"] for n in got)
        return None if ids == want else f"nodes {ids} != {want}"
    if r.kind == "tag_values":
        return None if got == want else f"values {got} != {want}"
    if isinstance(want, set):
        names = {s["target"] for s in got}
        return None if names == want else f"series {sorted(names)} != {sorted(want)}"
    return _series_match(got, want)
