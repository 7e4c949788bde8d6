"""Real-ClickHouse sink (K5) — ``uploader/base.go:242-283``.

For deployments keeping ClickHouse as the serving store, this sink
reproduces the reference's upload path from Spark: per partition,
encode rows as RowBinary and POST ``INSERT INTO <table> (<cols>)
FORMAT RowBinary`` (optionally gzip, ``uploader/base.go:216-240``) to
the CH HTTP endpoint, checking the ``X-ClickHouse-Exception-Code``
header. Transport is injectable so the encoding path is fully testable
offline (no ClickHouse in this environment).

Use from streaming as ``foreachBatch(lambda df, _: insert_points(df,
url, table))`` — the at-least-once retry + ReplacingMergeTree dedup
contract is identical to the reference's.
"""

from __future__ import annotations

import datetime as _dt
import gzip as gzip_mod
import urllib.error
import urllib.parse
import urllib.request
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from ..schemas import INDEX_SCHEMA, TAGGED_SCHEMA
from ..sources.rowbinary import encode_points

POINTS_COLUMNS = "(Path, Value, Time, Date, Timestamp)"
INDEX_COLUMNS = "(Date, Level, Path, Version)"
TAGGED_COLUMNS = "(Date, Tag1, Path, Tags, Version)"


@dataclass
class TLSConfig:
    """mTLS options for the uploader->ClickHouse hop, mirroring the
    reference's ``[upload.*.tls]`` block (``tests/tls/
    carbon-clickhouse.conf.tpl``: ``ca-cert``, ``server-name``,
    ``insecure-skip-verify``, ``certificates = [{cert, key}]``)."""

    ca_certs: list[str] = field(default_factory=list)
    certificates: list[tuple[str, str]] = field(default_factory=list)  # (cert, key)
    server_name: str | None = None
    insecure_skip_verify: bool = False
    # helper/config/tls.go:34-38 — "TLS10".."TLS13" strings
    min_version: str | None = None
    max_version: str | None = None
    cipher_suites: list[str] = field(default_factory=list)
    # helper/config/tls.go:21-26 curve names; every name is validated
    # (fail-loud like ParseCurves), the FIRST becomes the pinned ECDH
    # group — CPython's ssl exposes a single tmp-ECDH curve, not Go's
    # full CurvePreferences list, so preference order degrades to its
    # head. client-auth is parsed-but-unused by the reference's own
    # client path (ParseClientTLSConfig) and stays config-acknowledged
    # only.
    curves: list[str] = field(default_factory=list)
    # accepted for config parity; inert on the client hop exactly like
    # the reference (ParseClientTLSConfig never reads it). Surfaced by
    # EngineConfig.divergences so nothing is silently ignored.
    client_auth: str | None = None

    #: helper/config/tls.go supportedCurveIDs -> OpenSSL group names
    _CURVES = {
        "CurveP256": "prime256v1",
        "CurveP384": "secp384r1",
        "CurveP521": "secp521r1",
        "X25519": "X25519",
    }

    def ssl_context(self):
        import ssl

        ctx = ssl.create_default_context()
        if self.curves:
            unknown = [c for c in self.curves if c not in self._CURVES]
            if unknown:
                raise ValueError(
                    f"invalid curve name specified: {unknown[0]}"
                )
            ctx.set_ecdh_curve(self._CURVES[self.curves[0]])
        for ca in self.ca_certs:
            ctx.load_verify_locations(cafile=ca)
        for cert, key in self.certificates:
            ctx.load_cert_chain(certfile=cert, keyfile=key)
        versions = {
            "TLS10": ssl.TLSVersion.TLSv1,
            "TLS11": ssl.TLSVersion.TLSv1_1,
            "TLS12": ssl.TLSVersion.TLSv1_2,
            "TLS13": ssl.TLSVersion.TLSv1_3,
        }
        if self.min_version:
            ctx.minimum_version = versions[self.min_version.upper()]
        if self.max_version:
            ctx.maximum_version = versions[self.max_version.upper()]
        if self.cipher_suites:
            # Go names are OpenSSL-compatible enough for set_ciphers's
            # colon list; an unknown name raises (fail-loud, like the
            # reference's ParseClientTLSConfig error path)
            ctx.set_ciphers(":".join(self.cipher_suites))
        if self.insecure_skip_verify:
            ctx.check_hostname = False
            ctx.verify_mode = ssl.CERT_NONE
        return ctx


class _SNIConnection:
    """HTTPS connection whose SNI / verification name can differ from
    the connect host — Go's ``TLSClientConfig.ServerName``."""

    def __init__(
        self,
        host: str,
        port: int,
        ctx,
        server_hostname: str | None,
        timeout: float = 30.0,
    ):
        self.host, self.port, self.ctx = host, port, ctx
        self.server_hostname = server_hostname or host
        self.timeout = timeout

    def post(self, path: str, body: bytes, headers: dict[str, str]):
        import http.client
        import socket

        sock = socket.create_connection(
            (self.host, self.port), timeout=self.timeout
        )
        try:
            ssock = self.ctx.wrap_socket(sock, server_hostname=self.server_hostname)
        except Exception:
            sock.close()
            raise
        conn = http.client.HTTPConnection(self.host, self.port)
        conn.sock = ssock
        try:
            conn.request("POST", path, body=body, headers=headers)
            resp = conn.getresponse()
            resp.read()
            return resp.status, dict(resp.getheaders())
        finally:
            conn.close()


def _default_transport(
    url: str,
    body: bytes,
    headers: dict[str, str],
    tls: TLSConfig | None = None,
    timeout: float = 30.0,
) -> tuple[int, dict]:
    """One POST. Every socket op carries ``timeout`` — an upload that
    can block forever would wedge the whole retry ladder (task ->
    micro-batch) behind one dead connection."""
    u = urllib.parse.urlsplit(url)
    path = (u.path or "/") + (f"?{u.query}" if u.query else "")
    if u.scheme == "https":
        ctx = (tls or TLSConfig()).ssl_context()
        conn = _SNIConnection(
            u.hostname, u.port or 443, ctx,
            tls.server_name if tls else None, timeout=timeout,
        )
        return conn.post(path, body, headers)
    req = urllib.request.Request(url, data=body, headers=headers, method="POST")
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:  # noqa: S310
            return resp.status, dict(resp.headers)
    except urllib.error.HTTPError as e:
        # a 4xx/5xx from ClickHouse carries the exception-code header
        # the caller inspects (uploader/base.go:274-276) — surface it
        # as a response, not a connection failure
        with e:
            return e.code, dict(e.headers)


def insert_query_url(base_url: str, table: str, columns: str = POINTS_COLUMNS) -> str:
    """Build the CH HTTP URL with the INSERT as the ``query`` param
    (the reference streams the body as pure RowBinary)."""
    q = f"INSERT INTO {table} {columns} FORMAT RowBinary"
    sep = "&" if "?" in base_url else "?"
    return f"{base_url}{sep}query={urllib.parse.quote(q)}"


def encode_partition(rows, zero_timestamp: bool = True) -> bytes:
    """points rows -> RowBinary body (P13 zero-timestamp honored)."""
    return encode_points(
        [
            (
                r["path"],
                float(r["value"]),
                int(r["time"]),
                0 if zero_timestamp else int(r["version"]),
            )
            for r in rows
        ]
    )


def insert_points(
    df: DataFrame,
    base_url: str,
    table: str,
    gzip: bool = True,
    transport: Callable | None = None,
    zero_timestamp: bool = True,
    tls: TLSConfig | None = None,
    retries: int = 3,
    retry_delay_s: float = 1.0,
) -> None:
    """Upload a points DataFrame into ClickHouse, one POST per
    partition (the partition is the reference's chunk file).

    ``tls`` enables the mTLS hop of the reference's TLS scenario
    (client cert/key chain, CA pinning, server-name override); the
    SSL context is built executor-side per partition — only the
    picklable config ships with the task.

    Transient failures retry in-task with a linear delay — the
    reference's uploader re-queues a failed chunk for the next 1 s
    scan tick (``uploader/base.go:131``). Past ``retries`` the task
    fails and the at-least-once ladder continues upstream: Spark
    retries the task, then the micro-batch replays from its
    checkpoint; ReplacingMergeTree absorbs the duplicates."""
    url = insert_query_url(base_url, table)
    if transport is not None:
        send = transport
    elif tls is not None:
        send = lambda u, b, h: _default_transport(u, b, h, tls)  # noqa: E731
    else:
        send = _default_transport

    def upload(rows) -> None:
        body = encode_partition(rows, zero_timestamp)
        _post_with_retries(send, url, body, gzip, retries, retry_delay_s)

    df.select("path", "value", "time", "version").foreachPartition(upload)


def _post_with_retries(
    send: Callable,
    url: str,
    body: bytes,
    gzip: bool,
    retries: int,
    retry_delay_s: float,
) -> None:
    """One partition's POST through the retry ladder (see
    ``insert_points`` for the at-least-once contract)."""
    if not body:
        return
    headers = {"Content-Type": "application/octet-stream"}
    if gzip:
        body = gzip_mod.compress(body, compresslevel=1)
        headers["Content-Encoding"] = "gzip"
    import time as _time

    last: Exception | None = None
    for attempt in range(1 + retries):
        if attempt:
            _time.sleep(retry_delay_s)
        try:
            status, resp_headers = send(url, body, headers)
        except Exception as e:  # connection-level: retryable
            last = e
            continue
        exc = resp_headers.get("X-ClickHouse-Exception-Code")
        if status == 200 and (not exc or exc == "0"):
            return
        last = RuntimeError(
            f"clickhouse insert failed: status={status} exception={exc}"
        )
    raise last


def _pick_send(transport, tls):
    if transport is not None:
        return transport
    if tls is not None:
        return lambda u, b, h: _default_transport(u, b, h, tls)
    return _default_transport


_EPOCH = _dt.date(1970, 1, 1)


def insert_index(
    df: DataFrame,
    base_url: str,
    table: str = "graphite_index",
    gzip: bool = True,
    transport: Callable | None = None,
    tls: TLSConfig | None = None,
    retries: int = 3,
    retry_delay_s: float = 1.0,
) -> None:
    """Upload an index-table DataFrame (``date, level, path,
    version``) — the reference's ``index`` uploader hop
    (``uploader/index.go:91-100`` row layout; level offsets for
    reverse/tree variants are already in ``level``)."""
    from ..sources.rowbinary import encode_index_rows

    url = insert_query_url(base_url, table, INDEX_COLUMNS)
    send = _pick_send(transport, tls)

    def upload(rows) -> None:
        body = encode_index_rows(
            [
                ((r["date"] - _EPOCH).days, int(r["level"]), r["path"], int(r["version"]))
                for r in rows
            ]
        )
        _post_with_retries(send, url, body, gzip, retries, retry_delay_s)

    df.select(*INDEX_SCHEMA.fieldNames()).foreachPartition(upload)


def insert_tagged(
    df: DataFrame,
    base_url: str,
    table: str = "graphite_tagged",
    gzip: bool = True,
    transport: Callable | None = None,
    tls: TLSConfig | None = None,
    retries: int = 3,
    retry_delay_s: float = 1.0,
) -> None:
    """Upload a tagged-table DataFrame (``date, tag1, path, tags,
    version``) — the reference's ``tagged`` uploader hop
    (``uploader/tagged.go:172-179`` row layout)."""
    from ..sources.rowbinary import encode_tagged_rows

    url = insert_query_url(base_url, table, TAGGED_COLUMNS)
    send = _pick_send(transport, tls)

    def upload(rows) -> None:
        body = encode_tagged_rows(
            [
                (
                    (r["date"] - _EPOCH).days,
                    r["tag1"],
                    r["path"],
                    list(r["tags"]),
                    int(r["version"]),
                )
                for r in rows
            ]
        )
        _post_with_retries(send, url, body, gzip, retries, retry_delay_s)

    df.select(*TAGGED_SCHEMA.fieldNames()).foreachPartition(upload)


@dataclass
class CHTarget:
    """Where/how the streaming pipeline mirrors each micro-batch into
    ClickHouse (``StreamConfig.clickhouse``). ``transport`` is
    injectable for tests and must be picklable (it runs executor-side
    in ``foreachPartition``); ``tables`` renames the default
    ``graphite*`` targets (``[upload.*].table`` in the reference
    config, ``uploader/config.go:17-21``)."""

    base_url: str
    gzip: bool = True
    transport: Callable | None = None
    tls: TLSConfig | None = None
    retries: int = 3
    retry_delay_s: float = 1.0
    zero_timestamp: bool = True
    tables: dict[str, str] | None = None


def upload_tables(
    tables: dict[str, DataFrame],
    base_url: str,
    gzip: bool = True,
    transport: Callable | None = None,
    tls: TLSConfig | None = None,
    retries: int = 3,
    retry_delay_s: float = 1.0,
    zero_timestamp: bool = True,
    table_names: dict[str, str] | None = None,
) -> None:
    """K3 fan-out into a real ClickHouse: push the four-table
    contract produced by ``pipeline.derive_tables`` through the HTTP
    sink — points -> ``graphite``, points_reverse ->
    ``graphite_reverse``, index -> ``graphite_index``, tagged ->
    ``graphite_tagged`` (rename via ``table_names``). The reference
    runs one uploader per table off the same chunk file
    (``uploader/uploader.go:47-64``); here each table is one
    DataFrame upload off the same micro-batch."""
    names = {
        "points": "graphite",
        "points_reverse": "graphite_reverse",
        "index": "graphite_index",
        "tagged": "graphite_tagged",
        **(table_names or {}),
    }
    kw = dict(
        gzip=gzip, transport=transport, tls=tls,
        retries=retries, retry_delay_s=retry_delay_s,
    )
    for key, df in tables.items():
        if key not in names:
            continue
        if key in ("points", "points_reverse"):
            insert_points(
                df, base_url, names[key], zero_timestamp=zero_timestamp, **kw
            )
        elif key == "index":
            insert_index(df, base_url, names[key], **kw)
        elif key == "tagged":
            insert_tagged(df, base_url, names[key], **kw)
