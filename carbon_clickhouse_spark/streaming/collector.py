"""Self-metrics collector (S7) — ``carbon/collector.go:44-318``.

The reference emits its own counters as graphite points every
``metric-interval`` into the same pipeline, named
``<metric-prefix>.<module>.<stat>`` (prefix default
``carbon.agents.{host}``, modules ``tcp/udp/pickle/prometheus/
telegraf_http_json/writer/upload.<table>``). Counters are
send-and-reset per interval (``receiver/base.go:49-53``), gauges are
point-in-time (``base.go:55-57``). Stat names mirrored:

- receivers (``receiver/base.go:129-153``): ``metricsReceived``,
  ``samplesReceived``, ``messagesReceived``, ``incompleteReceived``,
  ``futureDropped``, ``pastDropped``, ``tooLongDropped``, ``errors``
  (counters); ``active`` (gauge)
- writer (``writer/writer.go:102-109``): ``writtenBytes``,
  ``unhandled``, ``chunkInterval_s``
- uploaders (``uploader/base.go:46-63``): ``uploaded``,
  ``uploaded_metrics``, ``upload_time``, ``errors``, ``delay``,
  ``unhandled``

Spark's native signal source is the StreamingQueryListener: query
progress feeds ``metricsReceived`` (plus spark-side rate gauges);
pipeline components (ingest batch fn, governor, sinks) report the rest
through :meth:`add`/:meth:`gauge` — the same shape as the reference's
``statModule`` registry.

Flushes are coalesced (every ``flush_every`` events or
``flush_interval_s`` seconds, whichever first) and each flush writes
ONE parquet file — a long-running stream must not shed a tiny file per
progress event.
"""

from __future__ import annotations

import logging
import socket
import threading
import time

from pyspark.sql import SparkSession
from pyspark.sql.streaming.listener import (
    QueryProgressEvent,
    StreamingQueryListener,
)

logger = logging.getLogger(__name__)

#: receiver counter fields the reference recognises (base.go:129-153)
RECEIVER_COUNTERS = (
    "samplesReceived",
    "messagesReceived",
    "metricsReceived",
    "incompleteReceived",
    "futureDropped",
    "pastDropped",
    "tooLongDropped",
    "errors",
)


class SelfMetricsCollector(StreamingQueryListener):
    """Emit pipeline self-metrics as graphite points.

    ``module`` names the receiver flavor this stream fronts (the
    reference registers one stat module per enabled receiver).
    """

    def __init__(
        self,
        spark: SparkSession,
        points_path: str,
        prefix: str = "carbon.agents.{host}",
        module: str = "tcp",
        flush_every: int = 10,
        flush_interval_s: float = 60.0,
        endpoint: str = "",
    ) -> None:
        self.spark = spark
        self.points_path = points_path
        host = socket.gethostname().replace(".", "_")
        self.prefix = prefix.replace("{host}", host)
        self.module = module
        self.flush_every = flush_every
        self.flush_interval_s = flush_interval_s
        # [common] metric-endpoint (carbon/collector.go:110-139):
        # "" / "local" -> own tables; tcp://h:p or udp://h:p -> plain
        # graphite lines to that address. Anything else degrades to
        # local, like the reference's parse-error fallback; a remote
        # SEND failure also degrades to local (data never drops).
        self.endpoint = ""
        if endpoint and endpoint != "local":
            from urllib.parse import urlsplit

            u = urlsplit(endpoint)
            if u.scheme in ("tcp", "udp") and u.hostname and u.port:
                self.endpoint = endpoint
            else:
                logger.warning(
                    "metric-endpoint parse error, using local: %r", endpoint
                )
        self._lock = threading.Lock()
        self._counters: dict[tuple[str, str], float] = {}  # reset on flush
        self._gauges: dict[tuple[str, str], float] = {}  # latest wins
        self._events = 0
        self._last_flush = time.monotonic()
        self._ticker: threading.Timer | None = None
        self._closed = False
        # one writer at a time: a ticker tick racing close() (or a
        # listener-driven flush) must not run two Spark writes into
        # the same table concurrently
        self._flush_lock = threading.Lock()

    def start_ticker(self) -> "SelfMetricsCollector":
        """Flush on a wall-clock cadence like the reference's
        collector loop (collector.go:141-155) — purely event-driven
        flushing strands the last counters of a stream that goes
        quiet (no further progress events ever push the clock)."""
        with self._lock:
            if self._closed or self._ticker is not None:
                return self
            self._ticker = threading.Timer(self.flush_interval_s, self._tick)
            self._ticker.daemon = True
            self._ticker.start()
        return self

    def _tick(self) -> None:
        try:
            with self._lock:
                # gauges count too: a gauge() with no accompanying
                # counter must not sit stranded until close()
                pending = bool(self._counters or self._gauges)
            if pending:
                self.flush()
        finally:
            with self._lock:
                if not self._closed:
                    self._ticker = threading.Timer(
                        self.flush_interval_s, self._tick
                    )
                    self._ticker.daemon = True
                    self._ticker.start()

    def close(self) -> None:
        """Stop the ticker and emit anything buffered."""
        with self._lock:
            self._closed = True
            if self._ticker is not None:
                self._ticker.cancel()
                self._ticker = None
        self.flush()

    # statModule-style reporting API ------------------------------------
    def add(self, stat: str, value: float = 1.0, module: str | None = None) -> None:
        """Bump a send-and-reset counter (``sendUint64Counter``)."""
        key = (module or self.module, stat)
        with self._lock:
            self._counters[key] = self._counters.get(key, 0.0) + float(value)

    def gauge(self, stat: str, value: float, module: str | None = None) -> None:
        """Set a point-in-time gauge (``sendInt64Gauge``)."""
        with self._lock:
            self._gauges[(module or self.module, stat)] = float(value)

    # StreamingQueryListener interface -----------------------------------
    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event: QueryProgressEvent) -> None:  # noqa: N802
        p = event.progress
        # per-receiver attribution: ingest streams are named
        # "ccs-<protocol>" (streaming/ingest.py) — one listener serves
        # every front, counters land in the right stat module like the
        # reference's per-receiver registry (receiver/base.go:129)
        module = None
        name = getattr(p, "name", None)
        if name and name.startswith("ccs-"):
            module = name[4:]
        self.add("metricsReceived", float(p.numInputRows), module=module)
        self.gauge(
            "processedRowsPerSecond",
            float(p.processedRowsPerSecond or 0.0),
            module=module,
        )
        self.gauge(
            "inputRowsPerSecond",
            float(p.inputRowsPerSecond or 0.0),
            module=module,
        )
        self.gauge("batchId", float(p.batchId), module=module)
        with self._lock:
            self._events += 1
        self.maybe_flush()

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        self.flush()

    def onQueryIdle(self, event) -> None:  # noqa: N802
        self.maybe_flush()

    # ---------------------------------------------------------------------
    def maybe_flush(self) -> None:
        with self._lock:
            due = self._events >= self.flush_every or (
                self._events > 0
                and time.monotonic() - self._last_flush >= self.flush_interval_s
            )
        if due:
            self.flush()

    def flush(self) -> None:
        """Emit every counter (then reset it) and gauge as points, in
        ONE parquet file. Serialized: concurrent callers queue."""
        with self._flush_lock:
            self._flush_locked()

    def _flush_locked(self) -> None:
        now = int(time.time())
        with self._lock:
            if not self._counters and not self._gauges:
                return
            stats = dict(self._counters)
            stats.update(self._gauges)
            self._counters.clear()
            self._events = 0
            self._last_flush = time.monotonic()
        rows = [
            (f"{self.prefix}.{module}.{stat}", value, now)
            for (module, stat), value in sorted(stats.items())
        ]
        if self.endpoint and self._send_remote(rows):
            return
        from pyspark.sql import functions as F

        from ..operators.layout import write_table

        df = self.spark.createDataFrame(rows, "path string, value double, time long")
        # the engine's table writer: it takes the same per-table lock
        # as the micro-batch writers (a flush must not interleave with
        # a points micro-batch commit) and guards a legacy flat table
        write_table(
            df.coalesce(1).select(
                "path",
                "value",
                "time",
                F.to_date(F.timestamp_seconds("time")).alias("date"),
                F.col("time").alias("version"),
            ),
            self.points_path,
        )

    def _send_remote(self, rows: list[tuple[str, float, int]]) -> bool:
        """Ship one flush as plain graphite lines to the tcp:// or
        udp:// endpoint (collector.go:220-286). False on any socket
        error -> caller falls back to the local table write."""
        from urllib.parse import urlsplit

        u = urlsplit(self.endpoint)
        payload = "".join(
            f"{path} {value} {ts}\n" for path, value, ts in rows
        ).encode()
        try:
            if u.scheme == "tcp":
                with socket.create_connection(
                    (u.hostname, u.port), timeout=10
                ) as s:
                    s.sendall(payload)
            else:
                s = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
                try:
                    s.sendto(payload, (u.hostname, u.port))
                finally:
                    s.close()
            return True
        except OSError as e:
            logger.warning(
                "metric-endpoint send failed (%s); writing locally", e
            )
            return False
