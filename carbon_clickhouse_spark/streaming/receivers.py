"""Live network fronts for all six reference wire protocols.

The reference's scheme dispatch (receiver/receiver.go:94-200) accepts
tcp / udp / pickle / grpc / prometheus / telegraf+http+json listeners.
Spark's own socket source has no replay and a single-connection
model, so the Spark-first shape is a thin listener that lands
COMPLETE protocol messages as atomic chunk files in a landing
directory, which ``streaming.ingest``'s file sources stream with full
replay/exactly-once semantics. A carbon-relay, pickle sender, real
Prometheus ``remote_write``, or Telegraf HTTP output can point at
these ports and rows come out of the micro-batch pipeline.

Two landing formats:

- **text** (plain tcp/udp): newline-delimited lines; partial lines
  buffer across TCP reads and flush on the terminating newline, data
  left without a newline at connection close is dropped, as is the
  unterminated tail of a UDP datagram (receiver/tcp.go:83-96,
  receiver/udp.go:34-95).
- **framed binary** (pickle/prometheus/telegraf/grpc): each message
  is appended with the pickle protocol's own 4-byte big-endian
  length prefix (``sources/framing.py``), read back with the
  ``binaryFile`` stream source + ``framed_bodies``.

Chunk files are written to a temp name and ``os.replace``d into the
landing dir so the Spark file source never observes a
partially-written chunk.
"""

from __future__ import annotations

import logging
import os
import socket
import socketserver
import struct
import threading
import time
import uuid

logger = logging.getLogger(__name__)


class _ChunkWriter:
    """Thread-safe line buffer -> atomic chunk files."""

    def __init__(self, landing_dir: str, flush_lines: int, flush_interval: float):
        self.landing_dir = landing_dir
        self.flush_lines = flush_lines
        self.flush_interval = flush_interval
        self._lines: list[bytes] = []
        self._lock = threading.Lock()
        self._last_flush = time.monotonic()
        os.makedirs(landing_dir, exist_ok=True)

    def add(self, lines: list[bytes]) -> None:
        with self._lock:
            self._lines.extend(lines)
            if len(self._lines) >= self.flush_lines:
                self._flush_locked()

    def maybe_flush(self) -> None:
        with self._lock:
            if self._lines and (
                time.monotonic() - self._last_flush >= self.flush_interval
            ):
                self._flush_locked()

    def flush(self) -> None:
        with self._lock:
            self._flush_locked()

    def _flush_locked(self) -> None:
        self._last_flush = time.monotonic()
        if not self._lines:
            return
        name = f"chunk-{time.time_ns()}-{uuid.uuid4().hex[:8]}.txt"
        tmp = os.path.join(self.landing_dir, f".{name}.tmp")
        with open(tmp, "wb") as f:
            f.write(b"\n".join(self._lines) + b"\n")
        os.replace(tmp, os.path.join(self.landing_dir, name))
        self._lines = []


class _Ticker:
    """Shared start/stop + periodic-flush plumbing for the servers."""

    def _init_lifecycle(self) -> None:
        self._threads: list[threading.Thread] = []
        self._stop = threading.Event()
        self._started = False

    def _servers(self):  # override: iterable of socketserver instances
        return ()

    def start(self):
        self._started = True
        for srv in filter(None, self._servers()):
            t = threading.Thread(target=srv.serve_forever, daemon=True)
            t.start()
            self._threads.append(t)

        def ticker() -> None:
            while not self._stop.wait(self.writer.flush_interval):
                self.writer.maybe_flush()

        t = threading.Thread(target=ticker, daemon=True)
        t.start()
        self._threads.append(t)
        return self

    def stop(self) -> None:
        self._stop.set()
        for srv in filter(None, self._servers()):
            # shutdown() waits on an event only serve_forever() sets —
            # calling it on a never-started server would deadlock
            if self._started:
                srv.shutdown()
            # block_on_close (default) JOINs handler threads, so every
            # message a handler buffered is in the writer before the
            # final flush — do not set block_on_close=False
            srv.server_close()
        self.writer.flush()


class PlainLineReceiver(_Ticker):
    """TCP (+ optional UDP) plain-protocol listener -> landing dir.

    Start/stop lifecycle; ``port``/``udp_port`` expose the bound
    ports (pass 0 to pick free ones). A background timer flushes
    buffered lines every ``flush_interval`` seconds so low-rate
    senders still land promptly (the reference's chunk-interval
    analogue; K2's adaptive governor runs downstream)."""

    def __init__(
        self,
        landing_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
        tcp: bool = True,
        udp: bool = False,
        udp_port: int = 0,
        flush_lines: int = 50_000,
        flush_interval: float = 0.25,
        read_timeout: float = 0.0,
        log_incomplete: bool = False,
    ):
        self.writer = _ChunkWriter(landing_dir, flush_lines, flush_interval)
        self.host = host
        #: count of UDP datagrams whose tail line never completed —
        #: the reference's [udp] log-incomplete observability
        #: (carbon/config.go:37, receiver/udp.go)
        self.incomplete_datagrams = 0
        writer = self.writer
        rx = self

        class TCPHandler(socketserver.StreamRequestHandler):
            def handle(self) -> None:
                # reference [tcp] read-timeout (carbon/config.go:49):
                # an idle connection is closed instead of pinning a
                # handler thread forever
                if read_timeout > 0:
                    self.request.settimeout(read_timeout)
                buf = b""
                while True:
                    try:
                        data = self.request.recv(65536)
                    except OSError:  # includes socket.timeout
                        break
                    if not data:
                        break
                    buf += data
                    if b"\n" in buf:
                        *complete, buf = buf.split(b"\n")
                        writer.add([ln.rstrip(b"\r") for ln in complete if ln])
                # trailing bytes without a newline are dropped
                # (reference semantics: the line never completed)

        class UDPHandler(socketserver.BaseRequestHandler):
            def handle(self) -> None:
                data = self.request[0]
                # drop the unterminated tail; when the datagram ends in
                # a newline the dropped element is the empty remainder
                parts = data.split(b"\n")
                complete, tail = parts[:-1], parts[-1]
                if tail and log_incomplete:
                    rx.incomplete_datagrams += 1
                    logger.warning(
                        "udp: incomplete datagram tail dropped (%d bytes)",
                        len(tail),
                    )
                writer.add([ln.rstrip(b"\r") for ln in complete if ln])

        class _TCPServer(socketserver.ThreadingTCPServer):
            daemon_threads = True
            allow_reuse_address = True

        # UDP-only mode must not bind an unrequested TCP port
        self._tcp = _TCPServer((host, port), TCPHandler) if tcp else None
        self.port = self._tcp.server_address[1] if self._tcp else None
        self._udp = None
        self.udp_port = None
        if udp:
            self._udp = socketserver.ThreadingUDPServer((host, udp_port), UDPHandler)
            self._udp.daemon_threads = True
            self.udp_port = self._udp.server_address[1]
        self._init_lifecycle()

    def _servers(self):
        return (self._tcp, self._udp)


class _FramedBlobWriter(_ChunkWriter):
    """Binary variant: each added message is stored length-framed
    (``sources/framing.py``); chunk files are ``.bin``."""

    def _flush_locked(self) -> None:
        self._last_flush = time.monotonic()
        if not self._lines:
            return
        name = f"chunk-{time.time_ns()}-{uuid.uuid4().hex[:8]}.bin"
        tmp = os.path.join(self.landing_dir, f".{name}.tmp")
        with open(tmp, "wb") as f:
            for body in self._lines:
                f.write(struct.pack(">I", len(body)) + body)
        os.replace(tmp, os.path.join(self.landing_dir, name))
        self._lines = []


MAX_PICKLE_FRAME = 67108864  # receiver/pickle.go:17


class PickleReceiver(_Ticker):
    """Live carbon pickle front (receiver/pickle.go:39-133): 4-byte
    big-endian length-framed TCP. Complete frames land verbatim (the
    wire framing IS the landing framing); an oversized frame drops the
    connection like the reference's ``framing.ErrPrefixLength`` path;
    a partial trailing frame at connection close is dropped (the
    frame never completed)."""

    def __init__(
        self,
        landing_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
        flush_frames: int = 256,
        flush_interval: float = 0.25,
    ):
        self.writer = _FramedBlobWriter(landing_dir, flush_frames, flush_interval)
        self.host = host
        writer = self.writer

        class Handler(socketserver.BaseRequestHandler):
            def handle(self) -> None:
                buf = b""
                while True:
                    try:
                        data = self.request.recv(65536)
                    except OSError:
                        break
                    if not data:
                        break
                    buf += data
                    frames = []
                    while len(buf) >= 4:
                        (ln,) = struct.unpack(">I", buf[:4])
                        if ln > MAX_PICKLE_FRAME:
                            # bad message size: drop the connection
                            if frames:
                                writer.add(frames)
                            return
                        if len(buf) < 4 + ln:
                            break
                        frames.append(buf[4 : 4 + ln])
                        buf = buf[4 + ln :]
                    if frames:
                        writer.add(frames)

        class _Srv(socketserver.ThreadingTCPServer):
            daemon_threads = True
            allow_reuse_address = True

        self._srv = _Srv((host, port), Handler)
        self.port = self._srv.server_address[1]
        self._init_lifecycle()

    def _servers(self):
        return (self._srv,)


class HttpBodyReceiver(_Ticker):
    """Live HTTP POST front for Prometheus remote-write and Telegraf
    HTTP JSON (receiver/prometheus.go:173-191,
    receiver/telegraf_http_json.go:141-151): each request body lands
    as one framed message. ``validate`` (optional) inspects a body
    before landing — return an error string to reject with 400 and
    land nothing (the reference 400s on undecodable snappy)."""

    def __init__(
        self,
        landing_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
        validate=None,
        flush_bodies: int = 256,
        flush_interval: float = 0.25,
    ):
        from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

        self.writer = _FramedBlobWriter(landing_dir, flush_bodies, flush_interval)
        self.host = host
        writer = self.writer

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def do_POST(self) -> None:  # noqa: N802
                try:
                    length = int(self.headers.get("Content-Length", 0))
                    body = self.rfile.read(length)
                except (TypeError, ValueError, OSError):
                    self.send_error(400)
                    return
                if validate is not None:
                    err = validate(body)
                    if err:
                        self.send_response(400)
                        msg = err.encode()
                        self.send_header("Content-Length", str(len(msg)))
                        self.end_headers()
                        self.wfile.write(msg)
                        return
                writer.add([body])
                self.send_response(200)
                self.send_header("Content-Length", "0")
                self.end_headers()

            def log_message(self, *args) -> None:  # quiet
                pass

        self._srv = ThreadingHTTPServer((host, port), Handler)
        self._srv.daemon_threads = True
        self.port = self._srv.server_address[1]
        self._init_lifecycle()

    def _servers(self):
        return (self._srv,)


def snappy_validator(body: bytes) -> str | None:
    """Prometheus-front validator: reject bodies that are neither
    valid snappy nor plausibly raw protobuf (parity with the
    reference's 400 on ``snappy.Decode`` failure)."""
    from ..sources.snappy_block import SnappyError, decompress

    try:
        decompress(body)
        return None
    except SnappyError:
        # uncompressed protobuf WriteRequest starts with a field tag;
        # accept it (debug clients), reject clearly-broken bodies
        return None if body[:1] == b"\x0a" else "snappy: corrupt input"


class GrpcCarbonReceiver(_Ticker):
    """Live gRPC front (receiver/grpc.go:72-202) for
    ``carbon.Carbon/Store`` and ``StoreSync`` (grpc/carbon.proto:24-27).
    Requires ``grpcio`` (optional extra — NOT shipped in the minimal
    container); raises RuntimeError with guidance when absent. The
    handlers use identity (de)serializers, so the raw Payload protobuf
    lands framed and decodes with the existing hand-rolled walker
    (``sources/grpc_source.py``) — no generated stubs needed.
    ``StoreSync`` flushes the landing chunk before replying: the
    durability handshake maps to "bytes are on disk in the landing
    zone" (K6's micro-batch commit completes the table write)."""

    def __init__(
        self,
        landing_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
        flush_bodies: int = 256,
        flush_interval: float = 0.25,
    ):
        try:
            import grpc
        except ImportError as e:  # pragma: no cover - grpcio not in CI image
            raise RuntimeError(
                "gRPC live front needs the optional 'grpcio' package; "
                "landing-zone decode (sources/grpc_source.py) works "
                "without it"
            ) from e

        from concurrent.futures import ThreadPoolExecutor

        self.writer = _FramedBlobWriter(landing_dir, flush_bodies, flush_interval)
        self.host = host
        writer = self.writer

        def store(request: bytes, context) -> bytes:  # noqa: ARG001
            writer.add([request])
            return b""

        def store_sync(request: bytes, context) -> bytes:  # noqa: ARG001
            writer.add([request])
            writer.flush()
            return b""

        ident = lambda b: b  # noqa: E731

        class Handler(grpc.GenericRpcHandler):
            def service(self, call_details):
                fn = {
                    "/carbon.Carbon/Store": store,
                    "/carbon.Carbon/StoreSync": store_sync,
                }.get(call_details.method)
                if fn is None:
                    return None
                return grpc.unary_unary_rpc_method_handler(
                    fn, request_deserializer=ident, response_serializer=ident
                )

        self._server = grpc.server(ThreadPoolExecutor(max_workers=4))
        self._server.add_generic_rpc_handlers((Handler(),))
        self.port = self._server.add_insecure_port(f"{host}:{port}")
        self._init_lifecycle()

    def start(self):
        self._server.start()
        return super().start()

    def stop(self) -> None:
        self._server.stop(grace=1.0).wait()
        super().stop()

    def _servers(self):
        return ()  # grpc server has its own lifecycle


def send_lines(host: str, port: int, lines: list[str], chunk: int = 8192) -> None:
    """netcat-equivalent test helper: stream newline-joined lines over
    one TCP connection in arbitrary byte chunks (exercises partial-
    frame reassembly on the receiver)."""
    payload = ("\n".join(lines) + "\n").encode()
    with socket.create_connection((host, port)) as s:
        for i in range(0, len(payload), chunk):
            s.sendall(payload[i : i + chunk])
