"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 12 --trace 0

Run from the repository root. Prints progress on stderr and, as the
last line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` the per-layer metrics and writes the spans to
``.perfbench/traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("dashboard", "analytics")



def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def heap_mb() -> int:
    """Driver heap: a quarter of physical memory, at most 4 GiB — well
    below RAM on a shared host, and ample for the benchmark's data."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    return int(min(4096, phys // 4))


def pin_environment(tmp: str) -> None:
    """Everything Spark, the JVM and Python workers write goes under
    ``tmp``; workers import the engine from the checkout."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap_mb()}m"
    confs = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the status store keeps this many jobs/stages for the traced
        # counters; a run submits far fewer
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"
    )


class Context:
    """What a workload gets: the session, its seed and clock, a scratch
    directory, and the measurement hooks."""

    def __init__(self, spark, seed, seconds, tmp, trace, session_s):
        from harness import Metrics, SparkCounters, Tracer

        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.tmp = tmp
        self.trace = trace
        self.session_s = session_s
        self.tracer = Tracer(trace)
        self.counters = SparkCounters(spark)
        self.metrics = Metrics()
        self.log = log


def per_layer_report(measured, not_exercised) -> dict:
    """Every per-layer metric: measured, or 0 for a layer this workload
    does not exercise. A metric missing for any other reason is a bug."""
    from metrics import PER_LAYER

    out = {}
    for name, unit in PER_LAYER:
        if name in measured.values:
            out[name] = measured.values[name]
        elif name.startswith(not_exercised):
            out[name] = {"value": 0.0, "unit": unit}
        else:
            raise KeyError(f"per-layer metric {name} was not measured")
    return out


def stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM that PySpark launched
    (its Python workers die with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    from metrics import END_TO_END
    try:
        from carbon_clickhouse_spark.session import get_spark
    except ImportError as e:
        log(f"engine not importable from {ROOT}: {e}")
        return 2

    # a terminated run still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench")
    tmp = os.path.join(work, f"tmp-{os.getpid()}")
    os.makedirs(tmp)
    pin_environment(tmp)
    spark = None
    try:
        n = host_cores()
        t0 = time.perf_counter()
        spark = get_spark(
            app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n
        )
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        log(f"session local[{n}] heap {heap_mb()}m up in {session_s:.2f}s")

        ctx = Context(spark, args.seed, args.seconds, tmp, bool(args.trace), session_s)
        mod = __import__(f"wl_{args.workload}")
        correct, attempted, failed = mod.run(ctx)
        if args.trace:
            from harness import peak_rss_mb

            ctx.metrics.put("peak_rss_mb", peak_rss_mb(spark), "MB")
            ctx.metrics.put("session.start_s", session_s, "s")
            ctx.tracer.dump(
                os.path.join(work, "traces", f"{args.workload}-seed{args.seed}.json"),
                ctx.metrics.values,
            )
            metrics = per_layer_report(ctx.metrics, mod.NOT_EXERCISED)
        else:
            metrics = ctx.metrics.select([n for n, _u in END_TO_END])
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(tmp, ignore_errors=True)

    from harness import result_line

    print(result_line(correct, attempted, failed, metrics), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
