"""Run one workload on several seeds and report, per end-to-end
metric, the median and the quartile spread (Q3 - Q1) / median, next
to the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload dashboard --seeds 1-10

Run from the repository root. Each run is a separate
``perfbench/run.py`` process with the arguments BENCHMARK.json gives.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            spec["command"]
            + ["--workload", args.workload, "--seed", str(seed),
               "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        wall = time.perf_counter() - t0
        if proc.returncode != 0:
            print(proc.stderr[-2000:], file=sys.stderr)
            return 1
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        for name in values:
            values[name].append(res["metrics"][name]["value"])
        print(
            f"seed {seed}: {wall:.0f}s correct={res['correct']} "
            f"failed={res['failed']}/{res['attempted']} "
            + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()),
            flush=True,
        )
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        print(
            f"{m['name']}: median {statistics.median(xs):.4g} {m['unit']}, "
            f"spread {spread(xs):.3f} (bound {m['bound']})"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
