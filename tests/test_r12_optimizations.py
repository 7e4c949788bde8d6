"""Focused pins for the r12 optimization round's internal changes:
the Huffman prefix-LUT fast path must be indistinguishable from the
bitwise walk, and the fused multi-rule-set rollup must equal the
union of single rollup passes row-for-row."""

import hashlib
import random
import struct

import pytest

from carbon_clickhouse_spark.datapipe.multimodal import (
    _HuffTable,
    _JpegBitReader,
    _jpeg_huff_decode_table,
)


def _random_canonical_table(rng, max_len=8, n_syms=12):
    """A valid canonical Huffman spec: lengths assigned greedily so
    the code space never overflows."""
    bits = [0] * 16
    space = 1.0
    length = 1
    remaining = n_syms
    while remaining and length <= max_len:
        take = rng.randint(0, min(remaining, int(space * (1 << length))))
        if length == max_len or length == 16:
            take = min(remaining, int(space * (1 << length)))
        bits[length - 1] = take
        space -= take / (1 << length)
        remaining -= take
        length += 1
        if space <= 0:
            break
    n = sum(bits)
    vals = list(range(n))
    return bits, vals


def test_huff_lut_matches_bitwise_walk_on_random_streams():
    rng = random.Random(7)
    for trial in range(50):
        bits, vals = _random_canonical_table(rng)
        if not sum(bits):
            continue
        table = _jpeg_huff_decode_table(bits, vals)
        assert isinstance(table, _HuffTable)
        # the same spec as a PLAIN dict exercises the slow path
        plain = dict(table)
        # random payload incl. stuffed FFs and a trailing marker
        body = bytes(rng.randrange(256) for _ in range(40))
        body = body.replace(b"\xff", b"\xff\x00") + b"\xff\xd9"
        fast = _JpegBitReader(body, 0)
        slow = _JpegBitReader(body, 0)
        # interleave huff with extension-bit reads and marker syncs:
        # the fast path may BUFFER further ahead than the lazy walk
        # (that is the optimization), but every value either reader
        # ever surfaces — symbols, read() bits, markers — must match
        for step in range(200):
            a = fast.huff(table)
            b = slow.huff(plain)
            assert a == b, f"trial {trial} step {step}: {a} != {b}"
            if a is None:
                assert fast.sync_marker() == slow.sync_marker()
                break
            if step % 3 == 0:
                n = 1 + (step % 5)
                assert fast.read(n) == slow.read(n), f"trial {trial} read"


def test_huff_lut_skips_malformed_overflowing_dht():
    # 3 codes at length 1 overflow the code space; the bitwise walk
    # can never match code >= 2 at length 1, and the LUT build must
    # neither crash nor admit those entries
    bits = [3] + [0] * 15
    vals = [10, 11, 12]
    table = _jpeg_huff_decode_table(bits, vals)
    plain = dict(table)
    payload = bytes([0b10110100, 0x55]) + b"\xff\xd9"
    fast = _JpegBitReader(payload, 0)
    slow = _JpegBitReader(payload, 0)
    for _ in range(8):
        assert fast.huff(table) == slow.huff(plain)


def test_huff_lut_marker_truncated_tail_falls_back():
    # a valid 2-bit code sits right before the marker with maxlen=5:
    # the fast path cannot buffer 5 bits and must fall back to the
    # walk, matching the plain-dict reader bit for bit
    bits = [0, 1, 0, 0, 1] + [0] * 11  # one 2-bit code, one 5-bit code
    vals = [5, 9]
    table = _jpeg_huff_decode_table(bits, vals)
    plain = dict(table)
    payload = bytes([0b00000000]) + b"\xff\xd9"
    fast = _JpegBitReader(payload, 0)
    slow = _JpegBitReader(payload, 0)
    for _ in range(6):
        a, b = fast.huff(table), slow.huff(plain)
        assert a == b
        if a is None:
            break


@pytest.fixture(scope="module")
def spark():
    from carbon_clickhouse_spark.session import get_spark

    return get_spark(
        app_name="test-r12-opt", master="local[4]", shuffle_partitions=8
    )


def test_rollup_sets_equals_union_of_rollups(spark):
    from pyspark.sql import functions as F

    from carbon_clickhouse_spark.operators.rollup import (
        Retention,
        RollupRule,
        rollup,
        rollup_sets,
    )

    rng = random.Random(3)
    rows = [
        (
            rng.choice(["a.click", "a.error", "b.purchase", "c.other"]),
            1706000000 + rng.randrange(40 * 86400),
            round(rng.uniform(0, 100), 2),
        )
        for _ in range(500)
    ]
    pts = spark.createDataFrame(rows, "path string, time long, value double")
    fn_rules = (
        RollupRule(r"\.click$", "sum"),
        RollupRule(r"\.error$", "max"),
        RollupRule("", "avg"),
    )
    now = 1709000000
    ret_rules = (
        RollupRule("", "avg", (Retention(0, 3600), Retention(7 * 86400, 86400))),
    )
    hourly = rollup(
        pts, fn_rules, precision_s=3600, exact_decimal=True, round_avg_to=4
    ).select(F.lit("h").alias("rule_set"), "path", "time", "value")
    ret = rollup(
        pts, ret_rules, now=now, exact_decimal=True, round_avg_to=4
    ).select(F.lit("r").alias("rule_set"), "path", "time", "value")
    expect = sorted(
        (r["rule_set"], r["path"], r["time"], r["value"])
        for r in hourly.unionByName(ret).collect()
    )
    fused = rollup_sets(
        pts,
        [("h", fn_rules, 3600, None), ("r", ret_rules, None, now)],
        exact_decimal=True,
        round_avg_to=4,
    )
    got = sorted(
        (r["rule_set"], r["path"], r["time"], r["value"])
        for r in fused.collect()
    )
    assert got == expect


def test_huff_table_memo_returns_equal_tables():
    """The DHT memo must hand back a table identical to a fresh
    build, and distinct specs must not collide."""
    from carbon_clickhouse_spark.datapipe.multimodal import (
        _HUFF_TABLE_MEMO,
    )

    _HUFF_TABLE_MEMO.clear()
    bits = [0, 2, 1] + [0] * 13
    t1 = _jpeg_huff_decode_table(bits, [5, 9, 1])
    t2 = _jpeg_huff_decode_table(bits, [5, 9, 1])
    assert t1 is t2  # memo hit
    t3 = _jpeg_huff_decode_table(bits, [5, 9, 2])
    assert t3 is not t1 and dict(t3) != dict(t1)
    _HUFF_TABLE_MEMO.clear()
    t4 = _jpeg_huff_decode_table(bits, [5, 9, 1])
    assert t4 is not t1 and dict(t4) == dict(t1)
    assert t4._maxlen == t1._maxlen and t4._lut == t1._lut


def _sos_end(p: bytes) -> int:
    i = 2
    while p[i + 1] != 0xDA:
        (ln,) = struct.unpack_from(">H", p, i + 2)
        i += 2 + ln
    return i + 2 + struct.unpack_from(">H", p, i + 2)[0]


def _craft_ac_payload(rng, nblocks, restart_interval=0):
    """A valid baseline payload whose blocks carry real AC terms —
    EOB, ZRL and (run 0, size 1) coefficients — written with the
    per-call bit writer, to exercise the inlined AC skip loop (the
    fixture encoders only ever emit EOB)."""
    from carbon_clickhouse_spark.datapipe import multimodal as mm

    h = 8 * nblocks
    dc_enc = mm._jpeg_huff_encode_table(*mm._JPEG_FIX_DC)
    ac_enc = mm._jpeg_huff_encode_table(*mm._JPEG_FIX_AC)

    def seg(marker, body):
        return (
            bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body
        )

    def dht(tc, bits, vals):
        return bytes([tc << 4]) + bytes(bits) + bytes(vals)

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0]) + bytes([8] * 64))
    out += seg(0xC0, struct.pack(">BHHB", 8, h, 8, 1) + bytes([1, 0x11, 0]))
    out += seg(0xC4, dht(0, *mm._JPEG_FIX_DC))
    out += seg(0xC4, dht(1, *mm._JPEG_FIX_AC))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    out += seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    w = mm._JpegBitWriter()
    pred = 0
    for i in range(nblocks):
        if restart_interval and i and i % restart_interval == 0:
            w.pad()
            out += w.out
            out += bytes([0xFF, 0xD0 + (i // restart_interval - 1) % 8])
            w = mm._JpegBitWriter()
            pred = 0
        v = rng.randrange(256)
        dcq = v - 128
        diff = dcq - pred
        pred = dcq
        s = abs(diff).bit_length()
        w.put(*dc_enc[s])
        if s:
            w.put(diff if diff >= 0 else diff - 1, s)
        # AC: mirror the decoder's k loop so the stream stays in sync
        k = 1
        while k < 64:
            op = rng.random()
            if op < 0.2:
                w.put(*ac_enc[0xF0])  # ZRL: run 15, no value
                k += 16
            elif op < 0.75:
                w.put(*ac_enc[0x01])  # (run 0, size 1) + 1 mag bit
                w.put(rng.randrange(2), 1)
                k += 1
            else:
                w.put(*ac_enc[0x00])  # EOB
                break
    w.pad()
    out += w.out
    out += b"\xff\xd9"
    return bytes(out)


# --- golden digests for the JPEG codec units ------------------------
#
# Each codec unit (bit reader, bit writer, QM encoder/decoder) exists
# once and every scan loop calls it. These digests pin what the scan
# loops built on those units produce over seeded corpora: encoder
# bytes, decode_image outcomes (truncated and bit-flipped payloads
# included, so every failure path is pinned too), and the SOF11 scan's
# grids and return value. Any change in a decision, a byte or a
# failure outcome moves a digest.


def _digest(items) -> str:
    h = hashlib.md5()
    for it in items:
        h.update(repr(it).encode())
        h.update(b";")
    return h.hexdigest()


def _outcome(payload):
    from carbon_clickhouse_spark.datapipe import multimodal as mm

    try:
        return mm.decode_image(payload)
    except Exception as e:  # undecodable -> pin the failure
        return ("raise", type(e).__name__)


def _mutations(rng, payloads):
    """A truncation (marker/EOF paths) and a single bit flip (invalid
    prefixes) in the back half of each payload."""
    out = []
    for p in payloads:
        out.append(p[: rng.randrange(len(p) // 2, len(p))])
        flip = bytearray(p)
        flip[rng.randrange(len(p) // 2, len(p))] ^= 1 << rng.randrange(8)
        out.append(bytes(flip))
    return out


def _qm_diff_digest():
    """encode_diff/decode_diff streams: bytes, returned chain MSBs,
    decoded differences and the final statistics bins."""
    from carbon_clickhouse_spark.datapipe import multimodal as mm

    rng = random.Random(1234)
    items = []
    for _ in range(40):
        diffs = [
            rng.choice([0, 0, 1, -1, 2, -3, 7, -15, 100, -1000, 20000])
            for _ in range(rng.randint(1, 200))
        ]
        sts = [4 * rng.randrange(25) for _ in diffs]
        enc = mm._QmEncoder()
        bins = bytearray(mm._QM_LL_BINS)
        msbs = [
            enc.encode_diff(bins, st, mm._QM_LL_CHAIN_A, d)
            for d, st in zip(diffs, sts)
        ]
        stream = enc.flush()
        dec = mm._QmDecoder(stream, 0)
        dbins = bytearray(mm._QM_LL_BINS)
        got = [
            dec.decode_diff(dbins, st, mm._QM_LL_CHAIN_A) for st in sts
        ]
        assert got == diffs
        items.append((stream, msbs, bytes(bins), bytes(dbins)))
    return _digest(items)


def _arith_lossless_digest():
    """SOF11 encoder bytes, _arith_lossless_scan grids and return
    value, and decode_image outcomes across predictors, point
    transforms, restart intervals, precisions and component counts."""
    from carbon_clickhouse_spark.datapipe import multimodal as mm

    rng = random.Random(977)
    items = []
    payloads = []
    for _ in range(30):
        ncomp = rng.choice((1, 2, 3))
        h, w = rng.randrange(1, 10), rng.randrange(1, 10)
        pred = rng.randrange(1, 8)
        pt = rng.choice((0, 0, 1, 2))
        ri = rng.choice((0, 0, 3, 5))
        prec = rng.choice((8, 8, 12, 16))
        planes = [
            [
                [rng.randrange(1 << prec) & ~((1 << pt) - 1) for _ in range(w)]
                for _ in range(h)
            ]
            for _ in range(ncomp)
        ]
        payload = mm.encode_jpeg_arith_lossless(
            planes, predictor=pred, pt=pt, precision=prec,
            restart_interval=ri,
        )
        grids = {c + 1: [[0] * w for _ in range(h)] for c in range(ncomp)}
        ret = mm._arith_lossless_scan(
            payload, _sos_end(payload), prec, w, h,
            [(c + 1, 0) for c in range(ncomp)], {0: (0, 1)}, ri,
            pred, pt, grids,
        )
        assert ret is not None
        items.append((payload, ret, grids))
        payloads.append(payload)
    items += [_outcome(p) for p in payloads + _mutations(rng, payloads)]
    return _digest(items)


def _baseline_digest():
    """Baseline/extended-sequential encoder bytes (0xFF stuffing and
    restart intervals included) and decode_image outcomes over
    DC-only, AC-bearing and 12-bit streams and their mutations."""
    from carbon_clickhouse_spark.datapipe import multimodal as mm

    rng = random.Random(431)
    items = []
    for trial in range(40):
        n = rng.randrange(1, 40)
        vals = [rng.randrange(256) for _ in range(n)]
        if trial % 3 == 0:  # long constant runs -> stuffed 0xFF bytes
            vals = [255] * n
        ri = rng.choice((0, 0, 1, 3, 5, 8))
        items.append(mm.encode_jpeg_gray_blocks(vals, restart_interval=ri))
    payloads = []
    for _ in range(30):
        n = rng.randrange(1, 30)
        ri = rng.choice((0, 0, 2, 4, 7))
        vals = [rng.randrange(256) for _ in range(n)]
        payloads.append(mm.encode_jpeg_gray_blocks(vals, restart_interval=ri))
        payloads.append(_craft_ac_payload(rng, n, restart_interval=ri))
        payloads.append(
            mm.encode_jpeg_gray_blocks_12bit(
                [rng.randrange(4096) for _ in range(n)], restart_interval=ri
            )
        )
    items += [_outcome(p) for p in payloads + _mutations(rng, payloads)]
    return _digest(items)


def _huffman_lossless_digest():
    """SOF3 encoder bytes and decode_image outcomes (category 16,
    restart first-line rule, mutations)."""
    from carbon_clickhouse_spark.datapipe import multimodal as mm

    rng = random.Random(3)
    payloads = []
    for _ in range(30):
        ncomp = rng.choice((1, 2, 3))
        h, w = rng.randrange(1, 10), rng.randrange(1, 10)
        pt = rng.choice((0, 0, 1, 2))
        prec = rng.choice((8, 8, 12, 16))
        planes = [
            [
                [rng.randrange(1 << prec) & ~((1 << pt) - 1) for _ in range(w)]
                for _ in range(h)
            ]
            for _ in range(ncomp)
        ]
        payloads.append(
            mm.encode_jpeg_lossless(
                planes, predictor=rng.randrange(1, 8), pt=pt, precision=prec,
                restart_interval=rng.choice((0, 0, 3, 5)),
            )
        )
    return _digest(
        payloads + [_outcome(p) for p in payloads + _mutations(rng, payloads)]
    )


_CODEC_GOLDEN = {
    "qm_diff": "8722c19a20544498bd84cb9896107144",
    "arith_lossless": "98efe6d1eb90d48d2c888672c2721365",
    "baseline": "2f3360bcc69f0bf8ba8d2d242208ee5f",
    "huffman_lossless": "42bf7bb9f4389e805150ab1d2da6ed40",
}


# The three tests below keep the names of the equivalence suites they
# replace. The library now holds only the per-call form of each codec
# unit; the digests were captured from the hand-inlined scan loops it
# replaced, so each test still checks that the per-call form produces
# what the inlined form did.


def test_fused_qm_diff_units_match_per_call_form():
    """QM encode_diff/decode_diff streams, chain MSBs, decoded
    differences and statistics bins."""
    assert _qm_diff_digest() == _CODEC_GOLDEN["qm_diff"]


def test_inlined_lossless_scan_loops_match_per_call_form():
    """SOF11 and SOF3 encoder bytes, _arith_lossless_scan grids and
    return value, and decode_image outcomes incl. mutations."""
    assert _arith_lossless_digest() == _CODEC_GOLDEN["arith_lossless"]
    assert _huffman_lossless_digest() == _CODEC_GOLDEN["huffman_lossless"]


def test_inlined_baseline_scan_and_writer_match_per_call_form():
    """Baseline encoder bytes and decode_image outcomes over DC-only,
    AC-bearing and 12-bit streams and their mutations."""
    assert _baseline_digest() == _CODEC_GOLDEN["baseline"]
