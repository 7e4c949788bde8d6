"""Off-Spark profiling harness for the multimodal codec work: build +
decode the fixture payloads for N docs x all 10 formats on a single
core — the exact per-doc loop fixture_features runs inside its Arrow
stage — so per-task Python cost is measured without Spark overhead or
host-parallelism noise.

Usage:
    python tools/profile_multimodal.py [N_DOCS] [--profile] [--md5]

Prints the build and decode time of each format, then one total line.

--profile  cProfile the decode pass and print the top functions.
--md5      print an md5 over every (fmt, w, h, mean) tuple — used to
           prove optimizations keep outputs bit-identical.

Skips with a message when the sf0.1 documents table is absent.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
from fractions import Fraction

sys.path.insert(0, __file__.rsplit("/", 2)[0])

import pyarrow.parquet as pq

from carbon_clickhouse_spark.datapipe import multimodal as mm

DOCS = "/root/testdata/sf0.1/documents.parquet"

FORMATS = (
    "ppm", "png", "jpeg", "pjpeg", "ljpeg",
    "ajpeg", "apjpeg", "aljpeg", "hjpeg", "avi",
)


def decode_one(fmt: str, p: bytes):
    # mirrors fixture_features' run loop exactly
    if fmt == "avi":
        w, h, frames = mm._parse_avi_mjpeg(p)
        acc = Fraction(0)
        for fr in frames:
            num, den = mm._parse_jpeg_exact(fr)[2]
            acc += Fraction(num, den)
        return w, h, float(acc / len(frames))
    return mm.decode_image(p)


def decode_all(payloads: dict) -> tuple[dict, dict]:
    feats, secs = {}, {}
    for fmt in FORMATS:
        t0 = time.perf_counter()
        feats[fmt] = [decode_one(fmt, p) for p in payloads[fmt]]
        secs[fmt] = time.perf_counter() - t0
    return feats, secs


def main() -> None:
    n_docs = 500
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if args:
        n_docs = int(args[0])
    do_profile = "--profile" in sys.argv
    do_md5 = "--md5" in sys.argv

    if not os.path.exists(DOCS):
        print(f"skipped: {DOCS} not found")
        return
    t = pq.read_table(DOCS, columns=["text"])
    lens = [
        len(x.encode("utf-8")) if x is not None else 0
        for x in t.column("text").to_pylist()[:n_docs]
    ]

    payloads, build_s = {}, {}
    for fmt in FORMATS:
        t0 = time.perf_counter()
        payloads[fmt] = [mm._fixture_payload(fmt, n) for n in lens]
        build_s[fmt] = time.perf_counter() - t0
    total_bytes = sum(len(p) for ps in payloads.values() for p in ps)

    if do_profile:
        import cProfile
        import pstats

        pr = cProfile.Profile()
        pr.enable()
        feats, decode_s = decode_all(payloads)
        pr.disable()
        pstats.Stats(pr).sort_stats("tottime").print_stats(25)
    else:
        feats, decode_s = decode_all(payloads)
    for fmt in FORMATS:
        print(
            f"{fmt:>7} build={build_s[fmt]:.3f}s decode={decode_s[fmt]:.3f}s"
        )
    print(
        f"docs={n_docs} formats={len(FORMATS)} "
        f"payload_bytes={total_bytes} "
        f"build={sum(build_s.values()):.3f}s "
        f"decode={sum(decode_s.values()):.3f}s"
    )

    if do_md5:
        h = hashlib.md5()
        for i in range(len(lens)):
            for fmt in FORMATS:
                w, hh, m = feats[fmt][i]
                h.update(f"{fmt}|{w}|{hh}|{m!r};".encode())
        print("md5:", h.hexdigest())


if __name__ == "__main__":
    main()
