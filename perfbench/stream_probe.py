"""The write side of a live store, measured layer by layer (traced
runs only).

A sender lands a chunk of plain-protocol lines (four files, one atomic
directory rename) in the landing directory of a ``start_plain_ingest``
stream and waits until ``processAllAvailable()`` returns, then lands
the next: a closed loop with one chunk in flight. The history of every
series in the universe goes first as one large chunk, so the
exists-cache anti-join runs against a real-sized index. Then each
write-path layer runs alone on one chunk-sized input.

The stream is not an end-to-end workload: on a 4-core host one
micro-batch costs 3-5 s of fixed work (15 Spark jobs), so the number
of commits a run can afford gives no steady median (see README.md).
"""

from __future__ import annotations

import os
import time

import gen
from harness import list_data_files, median, spark_counter_totals, table_writes
from metrics import BATCH_COUNTERS, ISOLATED_CALLS, PROGRESS_PHASES

UNIVERSE = 20_000
CHUNK_LINES = 2_000
WARM_CHUNKS = 2
TRIGGER = "100 milliseconds"


class Sender:
    """Stages each chunk outside the watched glob, then renames its
    directory in."""

    def __init__(self, base: str, stream: gen.LineStream, expected: gen.ExpectedTables):
        self.staging = os.path.join(base, "staging")
        self.landing = os.path.join(base, "landing")
        os.makedirs(self.staging)
        os.makedirs(self.landing)
        self.stream = stream
        self.expected = expected
        self.k = 0

    def stage(self, chunk: gen.Chunk | None = None) -> tuple[str, gen.Chunk]:
        chunk = chunk or self.stream.next_chunk()
        d = os.path.join(self.staging, f"chunk{self.k:05d}")
        os.makedirs(d)
        for i, body in enumerate(chunk.files):
            with open(os.path.join(d, f"part{i}.txt"), "w") as fh:
                fh.write(body)
        self.k += 1
        return d, chunk

    def land(self, staged: str) -> None:
        os.rename(staged, os.path.join(self.landing, os.path.basename(staged)))

    def committed(self, chunk: gen.Chunk) -> None:
        for s, _v, t in chunk.valid:
            self.expected.add(s, t)


def measure(ctx, seconds: float) -> bool:
    """Stream chunks for ``seconds`` after the warm-up, record the
    streaming, pipeline and operators per-layer metrics, and return
    whether the stored tables hold exactly the rows sent."""
    from carbon_clickhouse_spark.streaming.ingest import (
        StreamConfig,
        file_landing_source,
        start_plain_ingest,
    )

    spark, tr, m = ctx.spark, ctx.tracer, ctx.metrics
    base = os.path.join(ctx.tmp, "stream")
    root = os.path.join(base, "tables")
    os.makedirs(base)
    stream = gen.LineStream(ctx.seed, gen.ingest_universe(ctx.seed, UNIVERSE), CHUNK_LINES)
    expected = gen.ExpectedTables()
    sender = Sender(base, stream, expected)
    # production StreamConfig defaults (dropped-line audit and the
    # exists cache on); only the trigger interval is pinned
    cfg = StreamConfig(root=root, chunk_interval=TRIGGER)
    q = start_plain_ingest(
        spark, file_landing_source(spark, os.path.join(sender.landing, "*")), cfg
    )
    try:
        warm = []
        for k in range(WARM_CHUNKS + 1):
            staged, chunk = sender.stage(stream.history() if k == 0 else None)
            t0 = time.perf_counter()
            sender.land(staged)
            with tr.span("streaming.commit", warm=True):
                q.processAllAvailable()
            warm.append((time.perf_counter() - t0) * 1000.0)
            sender.committed(chunk)
        warm_batches = {p["batchId"] for p in q.recentProgress}

        lat_ms, per_chunk = [], []
        t_run = time.perf_counter()
        while time.perf_counter() - t_run < seconds:
            staged, chunk = sender.stage()
            before = (ctx.counters.mark(), set(list_data_files(root)))
            t0 = time.perf_counter()
            sender.land(staged)
            with tr.span("streaming.commit", chunk=sender.k - 1):
                q.processAllAvailable()
            lat_ms.append((time.perf_counter() - t0) * 1000.0)
            sender.committed(chunk)
            per_chunk.append((*before, ctx.counters.mark(), chunk))
        exc = q.exception()
        progress = [
            p
            for p in q.recentProgress
            if p["batchId"] not in warm_batches and p["numInputRows"] > 0
        ]
    finally:
        q.stop()
    ctx.log("stream: commits ms " + " ".join(f"{x:.0f}" for x in warm + lat_ms))

    correct = exc is None
    if exc is not None:
        ctx.log(f"stream: query failed: {exc}")
    want = {
        "points": expected.points,
        "index": expected.index_rows,
        "tagged": expected.tagged_rows,
    }
    for t, n in want.items():
        got = spark.read.parquet(os.path.join(root, t)).count()
        if got != n:
            correct = False
            ctx.log(f"stream: {t} holds {got} rows, expected {n}")

    m.put("streaming.history_commit_ms", warm[0], "ms")
    m.put("streaming.warm_last_ms", warm[-1], "ms")
    m.put("streaming.commit_p50_ms", median(lat_ms), "ms")
    m.put("streaming.commits", len(lat_ms), "count")
    _per_batch(ctx, root, lat_ms, progress, per_chunk)
    _isolated_calls(ctx, root, sender)
    return correct


def _per_batch(ctx, root, lat_ms, progress, per_chunk):
    m = ctx.metrics
    for k, (v, unit) in spark_counter_totals(
        [ctx.counters.window(lo, hi) for lo, _f, hi, _c in per_chunk], median
    ).items():
        if k in BATCH_COUNTERS:
            m.put(f"streaming.batch.{k}", v, unit)
    for ph in PROGRESS_PHASES:
        m.put(
            f"streaming.progress.{ph}_ms",
            median(p["durationMs"].get(ph, 0) for p in progress),
            "ms",
        )
    trig = median(p["durationMs"]["triggerExecution"] for p in progress)
    m.put("streaming.wait_ms", median(lat_ms) - trig, "ms")
    m.put("streaming.batches_per_op", len(progress) / len(lat_ms), "ratio")

    writes, new_ratio = [], []
    for _lo, before, _hi, chunk in per_chunk:
        new = sorted(set(list_data_files(root)) - before)
        w = table_writes(root, new, len(chunk.valid))
        writes.append(w)
        # exists-cache useful/attempted: index rows appended per
        # distinct series offered
        new_ratio.append(
            w["pipeline.rows_written.index"] / len({s.path for s, _v, _t in chunk.valid})
        )
    for name in writes[0]:
        m.put(name, median(w[name] for w in writes), "B" if name.endswith("per_point") else "count")
    m.put("operators.series_new_ratio", median(new_ratio), "ratio")


def _isolated_calls(ctx, root, sender, reps: int = 2):
    """Each write-path layer alone on one chunk-sized input, to the
    noop sink (write_tables to a scratch root)."""
    from carbon_clickhouse_spark.operators.dedup import new_series_only
    from carbon_clickhouse_spark.operators.index import build_index
    from carbon_clickhouse_spark.operators.tagged import build_tagged
    from carbon_clickhouse_spark.pipeline import derive_tables, write_tables
    from carbon_clickhouse_spark.sources.plain import parse_plain_lines

    spark, tr, m = ctx.spark, ctx.tracer, ctx.metrics
    staged, _chunk = sender.stage()
    lines = spark.read.text(staged)
    scratch = os.path.join(ctx.tmp, "stream", "layer_root")
    stored_index = spark.read.parquet(os.path.join(root, "index"))

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def parsed():
        return parse_plain_lines(lines, line_col="value", zero_version=False)

    calls = {
        "parse_plain_lines": lambda: noop(parsed()),
        "derive_tables": lambda: [noop(df) for df in derive_tables(parsed()).values()],
        "build_index": lambda: noop(build_index(parsed())),
        "build_tagged": lambda: noop(build_tagged(parsed())),
        "new_series_only": lambda: noop(
            new_series_only(build_index(parsed()), stored_index, ["date", "level", "path"])
        ),
        "write_tables": lambda: write_tables(derive_tables(parsed()), scratch, mode="overwrite"),
    }
    for layer, name in ISOLATED_CALLS:
        for _ in range(reps):
            with tr.span(f"{layer}.{name}", isolated=True):
                calls[name]()
        m.put(f"{layer}.{name}_ms", median(tr.durations_ms(f"{layer}.{name}")[-reps:]), "ms")
