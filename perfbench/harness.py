"""Shared measurement plumbing for the benchmark workloads.

Everything here observes the engine from outside: wall clocks around
public calls, Spark's own status APIs (job ids, per-stage task
metrics, streaming progress) and file listings under a table root.
Nothing in the engine is patched.
"""

from __future__ import annotations

import json
import math
import os
import re
import statistics
import time
from contextlib import contextmanager

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")

#: A tail percentile is reported only when at least this many samples
#: lie beyond it (the choosing-metrics rule).
MIN_BEYOND = 10


# --------------------------------------------------------------------------
# statistics


def median(xs) -> float:
    xs = list(xs)
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (``q`` in (0, 100])."""
    xs = sorted(xs)
    if not xs:
        raise ValueError("percentile of no samples")
    k = max(1, math.ceil(q / 100.0 * len(xs)))
    return float(xs[k - 1])


def tail_percentile(xs, candidates=(99.0, 95.0, 90.0, 75.0, 50.0)):
    """Highest candidate percentile with at least ``MIN_BEYOND``
    samples strictly above its rank, as ``(q, value)``; ``None`` when
    even the median lacks that support."""
    n = len(xs)
    for q in candidates:
        rank = max(1, math.ceil(q / 100.0 * n))
        if n - rank >= MIN_BEYOND:
            return q, percentile(xs, q)
    return None


def drift_ratio(xs) -> float:
    """Median of the last quarter of a run over the median of its first
    quarter (1.0 = warmed up before the clock started)."""
    xs = list(xs)
    k = max(1, len(xs) // 4)
    if len(xs) < 2:
        return 1.0
    return median(xs[-k:]) / median(xs[:k])


# --------------------------------------------------------------------------
# metrics


class Metrics:
    """Named metrics with units, in insertion order."""

    def __init__(self) -> None:
        self.values: dict[str, dict] = {}

    def put(self, name: str, value: float, unit: str) -> None:
        if not METRIC_NAME.fullmatch(name):
            raise ValueError(f"bad metric name {name!r}")
        if value is None or not math.isfinite(float(value)):
            raise ValueError(f"metric {name} has no finite value: {value!r}")
        self.values[name] = {"value": float(value), "unit": unit}

    def select(self, names) -> dict:
        missing = [n for n in names if n not in self.values]
        if missing:
            raise KeyError(f"metrics not measured: {missing}")
        return {n: self.values[n] for n in names}


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": metrics,
        }
    )


# --------------------------------------------------------------------------
# tracing


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    A disabled tracer records nothing, so the untraced runs pay one
    attribute test per call site."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations_ms(self, name: str) -> list[float]:
        return [
            (s["end"] - s["start"]) * 1000.0
            for s in self.spans
            if s["name"] == name and s["end"] is not None
        ]

    def dump(self, path: str, counters: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counters": counters}, fh)


# --------------------------------------------------------------------------
# Spark status counters


STAGE_FIELDS = (
    "tasks",
    "task_run_ms",
    "task_cpu_ms",
    "shuffle_bytes",
    "spill_bytes",
    "input_rows",
)


class SparkCounters:
    """Job/stage counters read through Spark's status store.

    ``mark()`` returns the highest job id submitted so far; the jobs of
    a window are the ids between two marks (ids are app-wide and
    monotonic, and the benchmark thread runs nothing concurrently).
    The status store keeps working with the UI disabled."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def _drain(self) -> None:
        # stage metrics land in the status store through the async
        # listener bus; wait until it has caught up
        self._jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> int:
        """Highest job id so far. Ids run 0..n-1 and the store retains
        every job (``spark.ui.retainedJobs`` is set above any run), so
        the count of stored jobs is the next id."""
        self._drain()
        return self._jsc.statusStore().jobsList(None).size() - 1

    def window(self, lo: int, hi: int) -> dict:
        """Totals over jobs with ``lo < id <= hi``."""
        from py4j.protocol import Py4JJavaError

        self._drain()
        store = self._jsc.statusStore()
        stage_ids: set[int] = set()
        n_jobs = 0
        schema_jobs = 0
        for jid in range(lo + 1, hi + 1):
            j = store.job(jid)
            n_jobs += 1
            ids = j.stageIds()
            for k in range(ids.size()):
                stage_ids.add(int(ids.apply(k)))
            # DataFrameReader.parquet's listing/schema-inference job
            if str(j.name()).startswith("parquet at "):
                schema_jobs += 1
        out = {k: 0.0 for k in STAGE_FIELDS}
        stages = 0
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage has no attempt
                continue
            if str(st.status()) == "SKIPPED":
                continue
            stages += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["task_run_ms"] += st.executorRunTime()
            out["task_cpu_ms"] += st.executorCpuTime() / 1e6
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["input_rows"] += st.inputRecords()
        out["jobs"] = float(n_jobs)
        out["stages"] = float(stages)
        out["schema_jobs"] = float(schema_jobs)
        return out


def peak_rss_mb(spark) -> float:
    """Peak resident set of the Spark JVM (VmHWM of its process)."""
    pid = int(
        spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    )
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


# --------------------------------------------------------------------------
# parquet footers


def list_data_files(root: str) -> list[str]:
    out = []
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                out.append(os.path.join(d, f))
    return out


def footer_rows(paths) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


def spark_counter_totals(windows: list[dict], combine) -> dict:
    """{counter: (combine(values over windows), unit)}."""
    from metrics import SPARK_COUNTERS

    for w in windows:
        w["python_gap_ms"] = w["task_run_ms"] - w["task_cpu_ms"]
    return {k: (combine([w[k] for w in windows]), unit) for k, unit in SPARK_COUNTERS}


def put_spark_counters(metrics, windows: list[dict]) -> None:
    """``spark.<counter>_per_op`` (median over operations) and
    ``spark.<counter>_total`` from per-operation counter windows."""
    for how, combine in (("per_op", median), ("total", sum)):
        for k, (v, unit) in spark_counter_totals(windows, combine).items():
            metrics.put(f"spark.{k}_{how}", v, unit)


def put_op_stats(metrics, lat_ms: list[float], hook_s: float, latency_ms: float) -> None:
    """Operation count, tail, drift and tracing cost of a traced run;
    ``latency_ms`` is the run's own ``latency_ms``."""
    metrics.put("ops", len(lat_ms), "count")
    tail = tail_percentile(lat_ms)
    metrics.put("op_tail_pct", tail[0] if tail else 0.0, "%")
    metrics.put("op_tail_ms", tail[1] if tail else 0.0, "ms")
    metrics.put("drift_ratio", drift_ratio(lat_ms), "ratio")
    metrics.put("trace.latency_ms", latency_ms, "ms")
    metrics.put("trace.overhead_ms_per_op", hook_s * 1000.0 / len(lat_ms), "ms")


def table_writes(root: str, files: list[str], points: int) -> dict:
    """Per-table file counts and footer rows among ``files`` (new data
    files under ``root``), as per-layer metric values."""
    from metrics import WRITE_TABLES

    out = {}
    for t in WRITE_TABLES + ("dropped",):
        mine = [f for f in files if f.startswith(os.path.join(root, t) + os.sep)]
        out[f"pipeline.files_written.{t}"] = len(mine)
        if t != "dropped":
            out[f"pipeline.rows_written.{t}"] = footer_rows(mine)
        if t == "points":
            out["pipeline.bytes_stored_per_point"] = (
                sum(os.path.getsize(f) for f in mine) / points
            )
    return out
