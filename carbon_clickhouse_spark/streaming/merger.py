"""ClickHouse-style BACKGROUND merges for the streaming four-table
root.

The reference writes parts and lets ClickHouse merge them continuously
(ReplacingMergeTree dedup on the series tables, GraphiteMergeTree
rollup on the points tables); this engine owns both halves, so the
streaming pipeline can run the same merges itself instead of waiting
for a cron'd ``--compact``. The merger fires every ``every_batches``
micro-batches and runs ONE merge cycle in a daemon thread:

- points / points_reverse: ``compact_rollup`` over the months the
  firing batch touched (the hot partitions — ClickHouse too merges
  where inserts land). Months idle since their last write are left to
  the next firing that touches them or to the explicit CLI cycle.
- index / tagged: ``compact_replacing`` (max-version row per key).

Month-selection policy (skew): the set of months rewritten per cycle
is exactly the union of months observed in the batches since the
last firing — a month receiving 100x the traffic is rewritten at its
own size, and an idle month costs NOTHING (its partition directory
is never listed, staged, or rewritten; its files stay
byte-identical). A merge cycle with no observed months (``dates``
never probed) falls back to all partitions, the explicit-CLI shape.

Reader contract during a hot-month rewrite: in-process readers that
take the same per-table lock (``operators.layout.table_lock``) see the
partition at exactly its pre- or post-merge state. Lock-free readers
of UNTOUCHED months are always complete and consistent; a lock-free
reader racing the rewritten partition itself may hit a transient,
retryable FILE_NOT_EXIST (plain parquet's dynamic partition
overwrite is not snapshot-isolated — at multi-writer cluster scale,
put a transactional table format under this layer), but never stale
or mixed data. All three claims are pinned by
``tests/test_background_merger.py::test_multi_month_skew_merge_isolation``.

Concurrency contract: the merge thread takes the same per-table
commit locks as the micro-batch writers
(``operators.layout.table_lock``), so an insert never interleaves
with a partition rewrite — appends stall briefly behind the month
being merged, which is exactly ClickHouse's
insert-throttled-by-merges behavior. The micro-batch that FIRES the
merge commits without waiting (background semantics); ``close()``
joins the thread so shutdown is clean. At most one cycle runs at a
time — if the previous cycle is still going when the counter fires,
the firing is skipped (its months stay pending), matching CH's
bounded merge pool rather than stacking threads.

Crash safety is ``operators.layout.rewrite_table``'s: merges stage to
scratch then commit per month partition; a crash mid-merge leaves the
un-merged (correct, just un-compacted) data.

Reference: ClickHouse's background merge is the reference deployment's
storage half (``SURVEY`` A3/A4); carbon-clickhouse itself never merges
(``uploader/`` only inserts).
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession

from ..operators.compaction import compact_replacing, compact_rollup
from ..operators.rollup import DEFAULT_RULES
from ..schemas import REPLACING_KEYS, read_table


class BackgroundMerger:
    """Periodic merge driver: call ``observe(spark, dates)`` once per
    committed micro-batch; every ``every_batches`` calls one merge
    cycle runs in the background over the pending months."""

    def __init__(
        self,
        root: str,
        every_batches: int = 64,
        rules=DEFAULT_RULES,
        now: int | None = None,
        synchronous: bool = False,
    ) -> None:
        if every_batches < 1:
            raise ValueError("every_batches must be >= 1")
        self.root = root
        self.every_batches = every_batches
        self.rules = rules
        self.now = now
        #: tests / drain-then-assert callers: run the cycle inline
        self.synchronous = synchronous
        self.cycles = 0  # completed merge cycles (observable)
        self._lock = threading.Lock()
        self._batches = 0
        self._pending_months: set[str] = set()
        self._thread: threading.Thread | None = None

    def observe(self, spark: SparkSession, dates) -> None:
        """Account one committed micro-batch. ``dates`` is the batch's
        distinct date list (the ingest pipeline's existing probe) or
        None when it wasn't computed — month tracking degrades
        gracefully; the replacing merges don't need it."""
        with self._lock:
            self._batches += 1
            for d in dates or ():
                self._pending_months.add(d.strftime("%Y%m"))
            if self._batches < self.every_batches:
                return
            if self._thread is not None and self._thread.is_alive():
                return  # merge pool busy: skip this firing, keep pending
            self._batches = 0
            months = sorted(self._pending_months) or None
            self._pending_months.clear()
        if self.synchronous:
            self._run_cycle(spark, months)
            return
        t = threading.Thread(
            target=self._run_cycle, args=(spark, months), daemon=True,
            name="ccs-background-merge",
        )
        with self._lock:
            self._thread = t
        t.start()

    def _run_cycle(self, spark: SparkSession, months) -> None:
        # same lock objects the foreachBatch writers use: the rewrite
        # of a month partition can't interleave with an append to it
        from ..operators.layout import table_lock

        for table, keys in REPLACING_KEYS.items():
            if read_table(spark, self.root, table) is not None:
                path = os.path.join(self.root, table)
                with table_lock(path):
                    compact_replacing(spark, path, keys)
        for table in ("points", "points_reverse"):
            if read_table(spark, self.root, table) is not None:
                path = os.path.join(self.root, table)
                with table_lock(path):
                    compact_rollup(
                        spark, path, rules=self.rules,
                        now=self.now, months=months,
                    )
        with self._lock:
            self.cycles += 1

    def close(self, timeout: float | None = 60.0) -> None:
        """Wait for an in-flight cycle (stop the stream first)."""
        with self._lock:
            t = self._thread
        if t is not None and t.is_alive():
            t.join(timeout)
