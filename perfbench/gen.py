"""Seeded input generators. Same seed, same inputs; the engine only
ever sees the generated lines and tables."""

from __future__ import annotations

import random
from dataclasses import dataclass, field

from metrics import REQUEST_TYPES

#: 2026-01-15 00:00:00 UTC — every generated point falls on this date
#: or the day before it, so the daily index has known dates.
DAY0 = 1768435200


# --------------------------------------------------------------------------
# plain-protocol lines for the streaming probe


def tagged_canonical(name: str, tags: list[tuple[str, str]]) -> str:
    """Graphite canonical form for alphanumeric tags: keys sorted."""
    return name + "?" + "&".join(f"{k}={v}" for k, v in sorted(tags))


@dataclass
class Series:
    line_name: str  # as sent on the wire
    path: str  # as the engine stores it
    tags: list[str] = field(default_factory=list)  # tagged only: k=v incl. __name__


def _plain(name: str) -> Series:
    return Series(name, name)


def _tagged(name: str, tags: list[tuple[str, str]]) -> Series:
    wire = name + "".join(f";{k}={v}" for k, v in tags)
    path = tagged_canonical(name, tags)
    return Series(wire, path, [f"__name__={name}"] + [f"{k}={v}" for k, v in sorted(tags)])


def ingest_universe(seed: int, n: int) -> list[Series]:
    """``n`` distinct series, about 20% of them tagged, in a seeded
    order."""
    rng = random.Random(seed * 7919 + 1)
    out = []
    for i in range(n):
        if rng.random() < 0.2:
            out.append(
                _tagged(
                    f"req_{i % 7}",
                    [("dc", f"dc{i % 5}"), ("host", f"h{i:06d}"), ("svc", f"s{i % 13}")],
                )
            )
        else:
            out.append(_plain(f"ing.r{i % 16:02d}.g{(i // 16) % 50:02d}.h{i:06d}.m{i % 9}"))
    rng.shuffle(out)
    return out


MALFORMED = (
    "ing.bad.novalue",
    "ing.bad.nanval nan {ts}",
    "ing.bad.word notanumber {ts}",
    "ing.bad.ts 1.5 yesterday",
    "ing.bad.extra 1.5 {ts} trailing",
)


@dataclass
class Chunk:
    files: list[str]  # four file bodies
    valid: list[tuple[Series, str, int]]  # (series, value text, ts) parsed ok
    lines: int


class LineStream:
    """Chunks of plain lines over a fixed series universe.

    Each chunk takes the next ``size`` series round-robin, adds about
    1% brand-new (churned) series and about 0.5% malformed lines, and
    splits the lines over four files."""

    def __init__(self, seed: int, universe: list[Series], size: int) -> None:
        self.rng = random.Random(seed * 104729 + 3)
        self.universe = universe
        self.size = size
        self.pos = 0
        self.k = 0

    def history(self) -> Chunk:
        """One point per universe series, early on DAY0."""
        valid = [
            (s, f"{self.rng.uniform(0, 1000):.3f}", DAY0 + 60 + (i % 600))
            for i, s in enumerate(self.universe)
        ]
        return self._chunk(valid, [])

    def next_chunk(self) -> Chunk:
        k, rng = self.k, self.rng
        self.k += 1
        n_new = max(1, self.size // 100)
        n_bad = max(1, self.size // 200)
        n_old = self.size - n_new - n_bad
        ts0 = DAY0 + 3600 + 10 * k
        valid = []
        for j in range(n_old):
            s = self.universe[(self.pos + j) % len(self.universe)]
            valid.append((s, f"{rng.uniform(0, 1000):.3f}", ts0 + j % 10))
        self.pos = (self.pos + n_old) % len(self.universe)
        for j in range(n_new):
            if j % 5 == 0:
                s = _tagged("churn", [("chunk", f"c{k:05d}"), ("n", f"n{j:04d}")])
            else:
                s = _plain(f"ing.churn.c{k:05d}.n{j:04d}")
            valid.append((s, f"{rng.uniform(0, 1000):.3f}", ts0 + j % 10))
        bad = [MALFORMED[j % len(MALFORMED)].format(ts=ts0) for j in range(n_bad)]
        return self._chunk(valid, bad)

    def _chunk(self, valid, bad) -> Chunk:
        lines = [f"{s.line_name} {v} {t}" for s, v, t in valid] + bad
        self.rng.shuffle(lines)
        q = (len(lines) + 3) // 4
        files = ["\n".join(lines[i : i + q]) + "\n" for i in range(0, len(lines), q)]
        return Chunk(files, valid, len(lines))


class ExpectedTables:
    """Row counts the tables must hold after a set of valid points,
    computed independently of the engine from the reference's table
    definitions. Index: per plain path a tree row and a reverse-tree
    row, one tree row per ancestor prefix, and per (date, path) a daily
    row and a reverse daily row. Tagged: per (date, path) one row per
    tag, ``__name__`` included."""

    def __init__(self) -> None:
        self.points = 0
        self.tree: set[str] = set()
        self.ancestors: set[str] = set()
        self.daily: set[tuple] = set()
        self.tagged: dict[tuple, int] = {}

    def add(self, series: Series, ts: int) -> None:
        self.points += 1
        d = ts // 86400  # UTC day number
        p = series.path
        if series.tags:
            self.tagged[(d, p)] = len(series.tags)
            return
        if p not in self.tree:
            self.tree.add(p)
            segs = p.split(".")
            for i in range(1, len(segs)):
                self.ancestors.add(".".join(segs[:i]) + ".")
        self.daily.add((d, p))

    @property
    def index_rows(self) -> int:
        return 2 * len(self.tree) + len(self.ancestors) + 2 * len(self.daily)

    @property
    def tagged_rows(self) -> int:
        return sum(self.tagged.values())


# --------------------------------------------------------------------------
# star-schema + events + documents + embeddings tables for analytics

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PART_ADJ = ("red", "blue", "hot", "new", "small", "large", "old", "green")
PART_NOUN = ("bolt", "ring", "rod", "plate", "anvil", "gear", "nut", "pipe")
PART_TYPES = ("LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD")


def analytics_tables(seed: int, scale: float) -> dict:
    """The ten tables the analytics legs read, as pyarrow tables.
    ``scale`` follows the TPC-H scale factor (lineitem ~6M x scale);
    documents and embeddings stay at 500 rows."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * scale))
    n_orders = max(200, int(1_500_000 * scale))
    n_part = max(50, int(200_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_events = max(500, int(1_000_000 * scale))
    n_users = max(20, int(15_000 * scale))
    us = 1_000_000
    day = 86400 * us
    t = {}

    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    price = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": price,
        }
    )
    d0 = 788918400 * us  # 1995-01-01
    odate = d0 + rng.integers(0, 2404, n_orders) * day
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": rng.choice(("F", "O", "P"), n_orders),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": rng.choice(PRIORITIES, n_orders),
        }
    )
    lines_per = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines_per)
    lineno = np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype(np.int32)
    n_li = len(okey)
    pkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": pkey,
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": lineno,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * price[pkey], 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(("N", "R", "A"), n_li),
            "l_linestatus": rng.choice(("F", "O"), n_li),
            "l_shipdate": pa.array(
                odate[okey] + rng.integers(1, 122, n_li) * day, pa.timestamp("us")
            ),
        }
    )
    e0 = 1704067200 * us  # 2024-01-01
    ts = np.sort(e0 + rng.integers(0, 30 * day, n_events))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_events),
            "event_type": rng.choice(EVENT_TYPES, n_events),
            "value": np.maximum(0.01, np.round(rng.lognormal(3.5, 1.0, n_events), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    n_docs = 500
    texts = [
        " ".join(rng.choice(VOCAB, int(rng.integers(10, 100))))
        for _ in range(n_docs)
    ]
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n_docs)
    centers = rng.normal(0, 1, (10, 64))
    vec = centers[labels] + rng.normal(0, 0.8, (n_docs, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_docs, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    return t


def write_tables(tables: dict, out_dir: str) -> None:
    """One single-row-group parquet file per table, ``<name>.parquet``."""
    import os

    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)


#: TPC-H-style scale factor of the analytics tables.
ANALYTICS_SCALE = 0.001


def analytics_row_count(data_dir: str, table: str) -> int:
    import os

    import pyarrow.parquet as pq

    return pq.ParquetFile(os.path.join(data_dir, f"{table}.parquet")).metadata.num_rows


# --------------------------------------------------------------------------
# dashboard: a day of 5-minute history and a Grafana-like request mix

DASH_DAY = DAY0 - 86400  # history covers [DASH_DAY, DASH_DAY + 1 day)
DASH_STEP = 300
DASH_DCS, DASH_HOSTS, DASH_METRICS = 5, 20, 5
DASH_TAGGED_NAMES = ("req_latency", "req_count")


def dashboard_series() -> list[str]:
    plain = [
        f"srv.dc{d}.host{h:02d}.m{k}"
        for d in range(DASH_DCS)
        for h in range(DASH_HOSTS)
        for k in range(DASH_METRICS)
    ]
    tagged = [
        tagged_canonical(n, [("dc", f"dc{d}"), ("host", f"host{h:02d}")])
        for n in DASH_TAGGED_NAMES
        for d in range(DASH_DCS)
        for h in range(DASH_HOSTS)
    ]
    return plain + tagged


def dashboard_points(seed: int):
    """Every series at every 5-minute step of the day, as a pyarrow
    table in the engine's canonical points schema."""
    import datetime as _dt

    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed + 17)
    paths = dashboard_series()
    n_steps = 86400 // DASH_STEP
    base = rng.uniform(10, 1000, len(paths))
    amp = rng.uniform(0, 0.3, len(paths)) * base
    phase = rng.uniform(0, 2 * np.pi, len(paths))
    steps = np.arange(n_steps)
    wave = np.sin(2 * np.pi * steps[None, :] / n_steps + phase[:, None])
    noise = rng.normal(0, 0.05, (len(paths), n_steps)) * base[:, None]
    values = np.round(base[:, None] + amp[:, None] * wave + noise, 3).ravel()
    times = np.tile(DASH_DAY + DASH_STEP * steps, len(paths)).astype(np.int64)
    day = _dt.date(1970, 1, 1) + _dt.timedelta(days=DASH_DAY // 86400)
    n = len(values)
    return pa.table(
        {
            "path": pa.array(np.repeat(np.array(paths, dtype=object), n_steps), pa.string()),
            "value": values,
            "time": times,
            "date": pa.array([day] * n, pa.date32()),
            "version": np.zeros(n, dtype=np.int64),
        }
    )


@dataclass
class Request:
    kind: str
    path: str  # URL path and query string
    t0: int
    t1: int
    arg: dict


def dashboard_requests(seed: int, n: int) -> list[Request]:
    """``n`` requests: each cycle of seven visits every type once in a
    seeded order; the from/until window slides by one step per cycle,
    so no two requests are the same."""
    from urllib.parse import urlencode

    rng = random.Random(seed * 31337 + 5)
    out: list[Request] = []
    cycle = 0
    while len(out) < n:
        # six-hour panels ending inside the last hour of the day
        t1 = DASH_DAY + 86400 - 1 - DASH_STEP * (cycle % 12) - rng.randrange(DASH_STEP)
        t0 = t1 - 6 * 3600
        kinds = list(REQUEST_TYPES)
        rng.shuffle(kinds)
        for kind in kinds:
            d, h, k = rng.randrange(DASH_DCS), rng.randrange(DASH_HOSTS), rng.randrange(DASH_METRICS)
            digit = rng.randrange(2)
            window = {"from": str(t0), "until": str(t1), "format": "json"}
            # Grafana sends the panel window with every call, find
            # and autocomplete included
            if kind == "find":
                arg = {"query": f"srv.dc{d}.host{digit}*"}
                q = "/metrics/find?" + urlencode({**arg, "from": t0, "until": t1})
            elif kind == "render_one":
                arg = {"target": f"srv.dc{d}.host{h:02d}.m{k}", "maxDataPoints": 50}
                q = "/render?" + urlencode({**arg, **window})
            elif kind == "render_sum":
                arg = {"target": f"sumSeries(srv.dc{d}.host{digit}*.*)"}
                q = "/render?" + urlencode({**arg, **window})
            elif kind == "render_alias":
                arg = {"target": f"aliasByNode(movingAverage(srv.dc{d}.host{h:02d}.*,5),2,3)"}
                q = "/render?" + urlencode({**arg, **window})
            elif kind == "render_top":
                arg = {"target": f"highestMax(srv.dc{d}.*.*,5)"}
                q = "/render?" + urlencode({**arg, **window})
            elif kind == "render_tag":
                name = DASH_TAGGED_NAMES[digit]
                arg = {"target": f"seriesByTag('name={name}','dc=dc{d}')"}
                q = "/render?" + urlencode({**arg, **window})
            else:
                arg = {"tag": "host", "valuePrefix": f"host{digit}"}
                q = "/tags/autoComplete/values?" + urlencode({**arg, "from": t0, "until": t1})
            arg.update(dc=d, host=h, metric=k, digit=digit)
            out.append(Request(kind, q, t0, t1, arg))
        cycle += 1
    return out[:n]
