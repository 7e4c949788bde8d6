"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with a metadata struct;
decode / feature-extract / resize / frame-sample run as Arrow-batched
``mapInPandas`` operators so each partition streams through Python in
vectorized batches (the only sane shape for CPU-bound media work on a
cluster: one task per partition, no driver involvement, linear scale).

Formats decoded for REAL, pure-Python (no imaging/audio libraries
needed): binary netpbm (P5 PGM / P6 PPM — full header + pixel-mean
decode), PNG (chunk walk + CRC check + zlib IDAT inflate + scanline
unfilter), BMP (BITMAPINFOHEADER dims + pixel-array mean), baseline
JPEG (real T.81 entropy decode — Huffman + restart markers — with the
image mean recovered exactly from DC coefficients, no IDCT needed),
and WAV (RIFF chunk walk: channels / sample rate / bit depth /
duration / mean absolute 16-bit sample). Progressive (SOF2) JPEG
decodes FULLY as of round 8 — DC and AC bands, successive-
approximation first passes and refinements, EOB runs, ZRL
(:func:`parse_jpeg_coefficients`); the mean-feature paths stay
DC-only because the block mean IS the DC. LOSSLESS (SOF3) JPEG
decodes fully as of round 9 — the Annex-H predictive scan (all 7
predictors, point transform, restart resets, modulo-2^16
arithmetic, category 16) with exact sample reconstruction
(:func:`_parse_jpeg_lossless`). 12-bit samples join BOTH Huffman-DCT
paths the same round (SOF1 extended sequential and SOF2
progressive). SEQUENTIAL (SOF9) and PROGRESSIVE
(SOF10) ARITHMETIC JPEG decode fully as of round 10 — the T.81
Annex D QM-coder under the Annex F DC/AC statistical models, with
DAC conditioning, restart resets, and the Annex G.2
successive-approximation scan kinds (:func:`_parse_jpeg_arith`,
:func:`_parse_jpeg_arith_progressive`). LOSSLESS ARITHMETIC (SOF11)
decodes too — the Annex H.1 prediction under the Annex H.2
158-bin conditioning model (see the honesty note at its
implementation). HIERARCHICAL JPEG (Annex K, round 11) decodes its
non-differential FIRST frame for real — DHP full-image dims + the
first frame's mean via :func:`_parse_jpeg_hierarchical`'s splice
through the flat decoders. The remaining boundary — non-MJPEG video
codecs and the DIFFERENTIAL hierarchical refinement frames (rare;
no mainstream encoder emits them) — degrades to dims + NULL mean
for refinements and raises ``NotImplementedError`` for foreign
codecs unless ``fake=True`` selects the deterministic byte-derived
stand-in; swapping in PIL/ffmpeg is a one-function change in
:func:`decode_image`.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("format", T.StringType()),
                    T.StructField("n_bytes", T.LongType()),
                ]
            ),
        ),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("mean_byte", T.DoubleType()),
    ]
)

AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_channels", T.LongType()),
        T.StructField("sample_rate", T.LongType()),
        T.StructField("bits_per_sample", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("mean_abs_sample", T.DoubleType()),
    ]
)

# cyclic 0..255 pixel pattern used by the synthetic-PPM fixture; its
# mean has the closed form floor(n/256)*32640 + r*(r-1)/2 over n
# (r = n % 256), which the SQL oracle reproduces exactly
_PIX_CYCLE = bytes(range(256))


def attach_fake_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Turn a text table into a media table (payload = utf-8 bytes of
    the text, no real container format) — fixture for the binary
    plumbing and the ``fake=True`` decoder path."""
    return df.select(
        F.col("doc_id"),
        F.lit("image").alias("media_type"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.struct(
            F.lit("fake").alias("format"),
            F.length(F.encode(F.col(text_col), "utf-8")).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def attach_ppm_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Build REAL binary P6 PPM images deterministically from a text
    table: width 8, height 1 + (utf8len(text) % 64), pixel bytes the
    cyclic 0..255 pattern. The payloads are valid netpbm files any
    external viewer can open, and every feature the decoder extracts
    has a closed form over the text length — so a SQL oracle can check
    the REAL decode path end-to-end."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, metas = [], []
            for t in pdf[text_col]:
                n_txt = len(t.encode("utf-8")) if t is not None else 0
                h = 1 + (n_txt % 64)
                n = 8 * h * 3
                body = (_PIX_CYCLE * (n // 256 + 1))[:n]
                p = b"P6\n8 %d\n255\n" % h + body
                payloads.append(p)
                metas.append({"format": "ppm", "n_bytes": len(p)})
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": "image",
                    "payload": payloads,
                    "meta": metas,
                }
            )

    return df.select("doc_id", text_col).mapInPandas(gen, MEDIA_SCHEMA)


def _parse_netpbm(payload: bytes) -> tuple[int, int, float] | None:
    """Binary netpbm (P5 gray / P6 RGB): parse the whitespace+comment
    header per the netpbm spec, return (width, height, mean of pixel
    bytes). maxval > 255 (2-byte samples) handled as raw byte mean."""
    magic = payload[:2]
    if magic not in (b"P5", b"P6"):
        return None
    idx, vals = 2, []
    n = len(payload)
    while len(vals) < 3 and idx < n:
        while idx < n and payload[idx : idx + 1].isspace():
            idx += 1
        if payload[idx : idx + 1] == b"#":
            while idx < n and payload[idx] != 0x0A:
                idx += 1
            continue
        start = idx
        while idx < n and not payload[idx : idx + 1].isspace():
            idx += 1
        if idx == start:
            return None
        try:
            vals.append(int(payload[start:idx]))
        except ValueError:
            return None
    if len(vals) < 3:
        return None
    idx += 1  # exactly one whitespace byte after maxval
    width, height, maxval = vals
    if width <= 0 or height <= 0 or not 0 < maxval < 65536:
        return None  # signed/zero header tokens: not a valid netpbm
    channels = 3 if magic == b"P6" else 1
    per_sample = 2 if maxval > 255 else 1
    expected = width * height * channels * per_sample
    data = payload[idx : idx + expected]
    if len(data) < expected:
        return None  # truncated pixel array: don't fabricate statistics
    mean = sum(data) / len(data)
    return width, height, mean


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_chunk(cid: bytes, body: bytes) -> bytes:
    """Encode one PNG chunk (length + id + body + CRC32)."""
    return (
        struct.pack(">I", len(body))
        + cid
        + body
        + struct.pack(">I", zlib.crc32(cid + body) & 0xFFFFFFFF)
    )


def _parse_png(payload: bytes) -> tuple[int, int, float] | None:
    """Real PNG decode, pure stdlib: chunk walk with CRC32 verification,
    IDAT zlib inflate, per-scanline unfilter (filter types 0-4 per the
    PNG spec §9: None/Sub/Up/Average/Paeth), then mean over the
    reconstructed sample bytes. Palette images (color type 3) expand
    indices through PLTE before the mean so the statistic is over
    actual RGB values. Supported: 8/16-bit depths, all five color
    types, non-interlaced. Adam7 interlace and sub-byte depths fall
    through to the unknown-format path (returns None) rather than
    guessing."""
    if payload[:8] != _PNG_SIG:
        return None
    idx, n = 8, len(payload)
    width = height = bit_depth = color_type = None
    idat: list[bytes] = []
    plte: bytes | None = None
    while idx + 12 <= n:
        (size,) = struct.unpack_from(">I", payload, idx)
        if idx + 12 + size > n:
            return None  # truncated chunk
        cid = payload[idx + 4 : idx + 8]
        body = payload[idx + 8 : idx + 8 + size]
        (crc,) = struct.unpack_from(">I", payload, idx + 8 + size)
        if zlib.crc32(cid + body) & 0xFFFFFFFF != crc:
            return None  # corrupt chunk: refuse, don't fabricate
        if cid == b"IHDR":
            if size != 13:
                return None
            width, height, bit_depth, color_type, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", body)
            )
            if comp != 0 or filt != 0 or interlace != 0:
                return None
            if color_type not in _PNG_CHANNELS or bit_depth not in (8, 16):
                return None
            if color_type == 3 and bit_depth != 8:
                return None
            if not 0 < width <= 1 << 20 or not 0 < height <= 1 << 20:
                return None
        elif cid == b"PLTE":
            plte = body
        elif cid == b"IDAT":
            idat.append(body)
        elif cid == b"IEND":
            break
        idx += 12 + size
    if width is None or not idat:
        return None
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error:
        return None
    bpp = _PNG_CHANNELS[color_type] * (bit_depth // 8)
    stride = width * bpp
    if len(raw) != (stride + 1) * height:
        return None  # wrong scanline payload size: corrupt/truncated
    out = bytearray()
    prev = bytearray(stride)
    pos = 0
    for _ in range(height):
        ft = raw[pos]
        line = bytearray(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        if ft == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + (a + prev[i]) // 2) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[i] = (line[i] + pr) & 0xFF
        elif ft != 0:
            return None
        out += line
        prev = line
    if color_type == 3:
        if plte is None or len(plte) % 3:
            return None
        if out and max(out) * 3 + 3 > len(plte):
            return None  # index past the palette
        expanded = bytearray()
        for v in out:
            expanded += plte[v * 3 : v * 3 + 3]
        out = expanded
    mean = sum(out) / len(out) if out else 0.0
    return width, height, mean


def _parse_bmp(payload: bytes) -> tuple[int, int, float] | None:
    """BMP: BITMAPINFOHEADER-family width/height (signed; negative
    height = top-down) + mean over the pixel array at the declared
    offset. A bare 'BM' prefix is not enough to claim the format
    (document text can start with it): the DIB header size must be a
    known BITMAPINFO variant, the pixel offset must land inside the
    payload past the headers, and dimensions must be sane — otherwise
    fall through to the unknown-format path."""
    if payload[:2] != b"BM" or len(payload) < 54:
        return None
    pix_offset = struct.unpack_from("<I", payload, 10)[0]
    dib_size = struct.unpack_from("<I", payload, 14)[0]
    if dib_size not in (40, 52, 56, 64, 108, 124):
        return None
    if not 14 + dib_size <= pix_offset <= len(payload):
        return None
    width, height = struct.unpack_from("<ii", payload, 18)
    if width <= 0 or height == 0 or width > 1 << 20 or abs(height) > 1 << 20:
        return None
    data = payload[pix_offset:]
    mean = sum(data) / len(data) if data else 0.0
    return width, abs(height), mean


# --- JPEG (ITU T.81 baseline): DC-mean decode -----------------------
#
# Full pixel decode needs the IDCT, but the image MEAN does not: every
# AC basis function integrates to zero over its 8x8 block, so a
# block's pixel mean is exactly DC*q0/8 + 128 — recoverable from the
# entropy stream alone. The decoder below is a real baseline JPEG
# entropy decoder (marker walk, DQT/DHT/SOF0/DRI/SOS parse, canonical
# Huffman, byte unstuffing, restart markers, run-length AC skip); it
# skips only the IDCT that the mean provably does not need.


class _HuffTable(dict):
    """{(length, code): symbol} plus an optional flat prefix LUT
    (r12 optimization): ``_lut[p]`` for every ``_maxlen``-bit prefix
    ``p`` holds ``(length, symbol)`` of the code that prefix starts
    with, or None for an invalid prefix — one buffered peek + one
    list index per symbol instead of a dict probe per bit. The LUT is
    built only for tables whose longest code is <= 11 bits (2048
    entries; covers every fixture table at <= 5), so an adversarial
    16-bit DHT from the fuzz corpus cannot force a 65536-entry build
    per image. Plain dicts (hand-built in tests) keep the bitwise
    walk."""

    __slots__ = ("_lut", "_maxlen")


_HUFF_TABLE_MEMO: dict = {}


def _jpeg_huff_decode_table(bits: list[int], vals: list[int]) -> dict:
    """Canonical JPEG Huffman table (T.81 C.2): {(length, code): symbol}.

    Memoized by the (bits, vals) spec bytes (r12): scans re-derive
    their DHT tables per image, and the canonical build + prefix LUT
    is pure — identical specs share one read-only table. The memo is
    bounded (reset at 512 entries) so an adversarial stream of
    distinct DHTs cannot grow it without limit."""
    key = (tuple(bits), tuple(vals))
    memo = _HUFF_TABLE_MEMO
    hit = memo.get(key)
    if hit is not None:
        return hit
    table, code, k = _HuffTable(), 0, 0
    maxlen = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
            maxlen = length
        code <<= 1
    if 0 < maxlen <= 11:
        lut: list = [None] * (1 << maxlen)
        for (length, code), sym in table.items():
            if code >= (1 << length):
                # malformed DHT overflowing the code space at this
                # length: the bitwise walk can never match such an
                # entry (walked codes are < 2^length), so it must not
                # enter the LUT either — and its slots don't exist
                continue
            lo = code << (maxlen - length)
            for p in range(lo, lo + (1 << (maxlen - length))):
                lut[p] = (length, sym)
        table._lut = lut
        table._maxlen = maxlen
    else:
        table._lut = None
        table._maxlen = 0
    if len(memo) >= 512:
        memo.clear()
    memo[key] = table
    return table


def _jpeg_huff_encode_table(bits: list[int], vals: list[int]) -> dict:
    """Inverse of :func:`_jpeg_huff_decode_table`: {symbol: (code, length)}."""
    return {
        sym: (code, length)
        for (length, code), sym in _jpeg_huff_decode_table(bits, vals).items()
    }


class _JpegBitReader:
    """Entropy-segment bit reader: 0xFF00 unstuffing, marker detection
    (stops and exposes RSTn / EOI instead of consuming them as data)."""

    __slots__ = ("buf", "pos", "bits", "nbits", "marker")

    def __init__(self, buf: bytes, pos: int) -> None:
        self.buf, self.pos = buf, pos
        self.bits = 0
        self.nbits = 0
        self.marker: int | None = None

    def _fill(self) -> bool:
        if self.marker is not None or self.pos >= len(self.buf):
            return False
        b = self.buf[self.pos]
        if b == 0xFF:
            if self.pos + 1 >= len(self.buf):
                return False
            nxt = self.buf[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            else:
                self.marker = nxt  # RSTn / EOI / next segment
                return False
        else:
            self.pos += 1
        self.bits = (self.bits << 8) | b
        self.nbits += 8
        return True

    def read(self, n: int) -> int | None:
        # r12 optimization: trim the register to its live bits after
        # every extraction. The old form never truncated `bits`, so
        # over a scan it grew into an arbitrary-precision integer and
        # every fill/extract paid bignum arithmetic proportional to
        # the bits consumed so far — quadratic in scan length. The
        # invariant bits < 2^nbits keeps it a machine int; extracted
        # values are bit-identical (only the low nbits were ever
        # readable).
        nbits = self.nbits
        while nbits < n:
            if not self._fill():
                return None
            nbits = self.nbits
        nbits -= n
        bits = self.bits
        v = (bits >> nbits) & ((1 << n) - 1)
        self.bits = bits & ((1 << nbits) - 1)
        self.nbits = nbits
        return v

    def huff(self, table: dict) -> int | None:
        # fast path (r12): peek the table's longest-code width once
        # and resolve the symbol with a single flat-LUT index (see
        # _HuffTable). Pre-filling up to maxlen bits is
        # observationally identical — _fill stops at markers without
        # consuming them, and sync_marker scans to the same next
        # marker regardless of how many data bytes were buffered. An
        # invalid prefix or a marker-truncated register falls through
        # to the exact bitwise walk below with the state untouched.
        try:
            lut = table._lut  # EAFP: cheaper than getattr-with-default
        except AttributeError:  # plain dict (hand-built in tests)
            lut = None
        if lut is not None:
            maxlen = table._maxlen
            while self.nbits < maxlen:
                if not self._fill():
                    break
            nbits = self.nbits
            if nbits >= maxlen:
                bits = self.bits
                entry = lut[(bits >> (nbits - maxlen)) & ((1 << maxlen) - 1)]
                if entry is not None:
                    length, sym = entry
                    nbits -= length
                    self.bits = bits & ((1 << nbits) - 1)
                    self.nbits = nbits
                    return sym
        # slow path (one call per Huffman symbol, one iteration per
        # bit): local-variable mirror of the register, same treatment
        # as _QmDecoder.decode; dict.get replaces the double
        # `in`+getitem probe. Symbol values are small non-negative
        # ints, so `is not None` is the containment test.
        bits = self.bits
        nbits = self.nbits
        length = 0
        code = 0
        get = table.get
        for _ in range(16):
            if nbits == 0:
                self.bits = bits
                self.nbits = nbits
                if not self._fill():
                    return None
                bits = self.bits
                nbits = self.nbits
            nbits -= 1
            code = (code << 1) | ((bits >> nbits) & 1)
            bits &= (1 << nbits) - 1
            length += 1
            v = get((length, code))
            if v is not None:
                self.bits = bits
                self.nbits = nbits
                return v
        self.bits = bits
        self.nbits = nbits
        return None

    def sync_marker(self) -> int | None:
        """Byte-align and consume the pending marker (after padding)."""
        self.bits = self.nbits = 0
        while self.marker is None:
            if self.pos + 1 >= len(self.buf):
                return None
            if self.buf[self.pos] == 0xFF and self.buf[self.pos + 1] != 0x00:
                self.marker = self.buf[self.pos + 1]
            else:
                self.pos += 1
        m, self.marker = self.marker, None
        self.pos += 2
        return m


def _jpeg_extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 sign extension of an s-bit magnitude code."""
    return v if s == 0 or v >= (1 << (s - 1)) else v - (1 << s) + 1


def _parse_jpeg(payload: bytes) -> tuple[int, int, float] | None:
    """Baseline OR progressive JPEG -> (width, height, mean), clamped
    to the sample range like a real decoder clamps reconstructed
    pixels. See :func:`_parse_jpeg_exact` (baseline) and
    :func:`_parse_jpeg_progressive_exact` (SOF2 DC-band decode)."""
    got = _parse_jpeg_exact(payload)
    if got is None:
        got = _parse_jpeg_progressive_exact(payload)
    if got is None:
        return None
    width, height, (num, den) = got
    return width, height, min(255.0, max(0.0, num / den))


def _parse_jpeg_dims(payload: bytes) -> tuple[int, int] | None:
    """(width, height) from ANY JPEG's frame header — including
    progressive (SOF2) and the other non-baseline SOFn the full
    decoder rejects. A plain marker walk to the first SOF segment; no
    entropy decode, so it cannot produce a mean — callers surface
    dimensions with a NULL mean for these (the boundary named in
    round-4 review: a progressive scan should at least yield dims)."""
    if payload[:2] != b"\xff\xd8":
        return None
    i, n = 2, len(payload)
    while i + 2 <= n:
        if payload[i] != 0xFF:
            return None
        marker = payload[i + 1]
        i += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:
            return None
        if i + 2 > n:
            return None
        (seg_len,) = struct.unpack_from(">H", payload, i)
        if seg_len < 2 or i + seg_len > n:
            return None
        seg = payload[i + 2 : i + seg_len]
        i += seg_len
        # every SOFn frame header shares the precision/height/width
        # layout; 0xC4=DHT, 0xC8=JPG, 0xCC=DAC are not frame headers
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if len(seg) < 5:
                return None
            height, width = struct.unpack_from(">HH", seg, 1)
            if width > 0 and height > 0:
                return width, height
            return None
        if marker == 0xDA:
            return None  # scan before any SOF: malformed
    return None


def _parse_jpeg_hierarchical(
    payload: bytes,
) -> tuple[int, int, float | None] | None:
    """Hierarchical JPEG (T.81 Annex K): decode the NON-DIFFERENTIAL
    first frame for real (r11, verdict #3).

    A hierarchical stream is SOI, tables/misc, DHP (0xDE — same
    syntax as a frame header, declares the FULL image dims), then a
    sequence of frames: the first MUST be non-differential (K.2 —
    SOF0/1/2/3/9/10/11), later ones differential (SOF5/6/7/13/14/15)
    and/or preceded by EXP (0xDF) reference-grid expansion. The first
    frame alone is a complete image at its own resolution, so this
    splices it out — everything before DHP (tables), everything after
    DHP up to the first frame boundary (next DHP/EXP/SOFn/EOI after
    its scans), EOI appended — and routes the splice through the
    SAME flat decoders (baseline/progressive/lossless and the three
    arithmetic forms). Returns ``(dhp_width, dhp_height, mean)``:
    dims are the DHP full-image declaration, the mean is the decoded
    first frame's mean (exact when the hierarchy does not change
    resolution; the low-pass approximation of the full mean when it
    does — documented, deterministic either way). The differential
    refinement frames stay fenced: spec-invalid streams whose FIRST
    frame is differential, or a first frame the flat decoders reject,
    yield ``(dims, None)`` — the boundary behavior pinned in r10
    (commit 077b8eb) is preserved exactly for those. Returns None
    for any stream without a DHP (not hierarchical).

    Reference: ITU-T T.81 Annex K (hierarchical mode), B.2.2 (frame
    header syntax shared by DHP), B.3 (EXP segment)."""
    if payload[:2] != b"\xff\xd8":
        return None
    n = len(payload)
    i = 2
    dhp_span = None
    width = height = None
    # walk to DHP, proving no flat frame precedes it
    while i + 4 <= n:
        if payload[i] != 0xFF:
            return None
        marker = payload[i + 1]
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if marker == 0xD9:
            return None
        (ln,) = struct.unpack_from(">H", payload, i + 2)
        if ln < 2 or i + 2 + ln > n:
            return None
        if marker == 0xDE:
            seg = payload[i + 4 : i + 2 + ln]
            if len(seg) < 5:
                return None
            height, width = struct.unpack_from(">HH", seg, 1)
            if not (width and height):
                return None
            dhp_span = (i, i + 2 + ln)
            i += 2 + ln
            break
        if marker == 0xDA or (
            0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC)
        ):
            return None  # flat JPEG — not hierarchical
        i += 2 + ln
    if dhp_span is None:
        return None
    # first frame: tables/misc, one non-differential SOF, its scans,
    # up to the frame boundary
    sof_seen = False
    frame_end = None
    while i + 2 <= n:
        if payload[i] != 0xFF:
            return width, height, None
        marker = payload[i + 1]
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if marker == 0xD9:
            frame_end = i
            break
        if marker in (0xDE, 0xDF):
            # next hierarchy element; EXP before any SOF would mean
            # an expanded (differential) first frame — fenced
            frame_end = i
            break
        if i + 4 > n:
            return width, height, None
        (ln,) = struct.unpack_from(">H", payload, i + 2)
        if ln < 2 or i + 2 + ln > n:
            return width, height, None
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if sof_seen:
                frame_end = i  # next frame begins: first one ends
                break
            if marker in (0xC5, 0xC6, 0xC7, 0xCD, 0xCE, 0xCF):
                # differential FIRST frame: spec-invalid ordering —
                # keep the pinned dims + NULL-mean boundary
                return width, height, None
            sof_seen = True
        i += 2 + ln
        if marker == 0xDA:
            # entropy-coded data: to the next unstuffed non-RST marker
            while i + 1 < n:
                if (
                    payload[i] == 0xFF
                    and payload[i + 1] != 0x00
                    and not (0xD0 <= payload[i + 1] <= 0xD7)
                ):
                    break
                i += 1
    if not sof_seen:
        return width, height, None
    if frame_end is None:
        frame_end = min(i, n)  # truncated: let the decoder judge
    sub = (
        payload[: dhp_span[0]]
        + payload[dhp_span[1] : frame_end]
        + b"\xff\xd9"
    )
    dec = (
        _parse_jpeg(sub)
        or _parse_jpeg_lossless(sub)
        or _parse_jpeg_arith(sub)
        or _parse_jpeg_arith_progressive(sub)
        or _parse_jpeg_arith_lossless(sub)
    )
    if dec is None:
        return width, height, None
    return width, height, dec[2]


def _parse_jpeg_exact(
    payload: bytes,
) -> tuple[int, int, tuple[int, int]] | None:
    """Baseline JPEG -> (width, height, (mean_num, mean_den)) via DC
    coefficients, the mean an exact integer rational.

    Handles: grayscale and interleaved multi-component scans with
    arbitrary sampling factors, 8/16-bit DQT, multiple DHT segments,
    restart intervals. The reported mean is over the luma (first)
    component's block grid — exact for the real pixel mean when
    dimensions are block-aligned and samples don't clip (AC terms
    integrate to zero per block); edge blocks weigh equally otherwise.
    Handles 12-bit samples behind SOF1 (extended sequential, r9);
    progressive/arithmetic frames and corrupt streams return None
    (fall through to their own paths) rather than guess."""
    if payload[:2] != b"\xff\xd8":
        return None
    i, n = 2, len(payload)
    qt: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    comps: list[tuple[int, int, int, int]] | None = None  # (id, h, v, tq)
    width = height = None
    restart_interval = 0
    precision = 8
    while i + 2 <= n:
        if payload[i] != 0xFF:
            return None
        marker = payload[i + 1]
        i += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:
            return None  # EOI before any scan
        if i + 2 > n:
            return None
        (seg_len,) = struct.unpack_from(">H", payload, i)
        if seg_len < 2 or i + seg_len > n:
            return None
        seg = payload[i + 2 : i + seg_len]
        i += seg_len
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                p += 1
                if pq:
                    if p + 128 > len(seg):
                        return None
                    qt[tq] = list(struct.unpack_from(">64H", seg, p))
                    p += 128
                else:
                    if p + 64 > len(seg):
                        return None
                    qt[tq] = list(seg[p : p + 64])
                    p += 64
        elif marker == 0xC4:  # DHT
            p = 0
            while p + 17 <= len(seg):
                tc, th = seg[p] >> 4, seg[p] & 15
                bits = list(seg[p + 1 : p + 17])
                cnt = sum(bits)
                if p + 17 + cnt > len(seg):
                    return None
                vals = list(seg[p + 17 : p + 17 + cnt])
                huff[(tc, th)] = _jpeg_huff_decode_table(bits, vals)
                p += 17 + cnt
        elif marker in (0xC0, 0xC1):  # SOF0/1: sequential DCT
            # baseline (SOF0) is 8-bit by definition; extended
            # sequential (SOF1) also allows 12-bit samples (r9)
            if len(seg) < 6:
                return None
            precision = seg[0]
            if precision != 8 and not (marker == 0xC1 and precision == 12):
                return None
            height, width = struct.unpack_from(">HH", seg, 1)
            nc = seg[5]
            if len(seg) < 6 + 3 * nc or not (0 < width and 0 < height):
                return None
            comps = [
                (seg[6 + 3 * c], seg[7 + 3 * c] >> 4, seg[7 + 3 * c] & 15,
                 seg[8 + 3 * c])
                for c in range(nc)
            ]
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            return None  # progressive/lossless/arithmetic: unsupported
        elif marker == 0xDD:  # DRI
            if len(seg) < 2:
                return None
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS
            if comps is None:
                return None
            ns = seg[0] if seg else 0
            if len(seg) < 1 + 2 * ns:
                return None
            scan = [
                (seg[1 + 2 * c], seg[2 + 2 * c] >> 4, seg[2 + 2 * c] & 15)
                for c in range(ns)
            ]
            return _jpeg_scan_mean(
                payload, i, comps, scan, huff, qt,
                width, height, restart_interval, precision,
            )
        # else: APPn/COM/unknown — skipped via seg_len
    return None


def _jpeg_scan_mean(
    buf: bytes,
    pos: int,
    comps: list[tuple[int, int, int, int]],
    scan: list[tuple[int, int, int]],
    huff: dict,
    qt: dict,
    width: int,
    height: int,
    restart_interval: int,
    precision: int = 8,
) -> tuple[int, int, float] | None:
    by_id = {c[0]: c for c in comps}
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    luma_id = comps[0][0]
    # (comp, dc_table, ac_table, blocks_per_mcu)
    order = []
    for cid, td, ta in scan:
        comp = by_id.get(cid)
        if comp is None or (0, td) not in huff or (1, ta) not in huff:
            return None
        if comp[3] not in qt:
            return None
        order.append((comp, huff[(0, td)], huff[(1, ta)], comp[1] * comp[2]))
    if len(scan) == 1:
        comp = order[0][0]
        if len(comps) == 1:
            bw, bh = -(-width // 8), -(-height // 8)
        else:  # non-interleaved scan of one component of many
            bw = -(-(width * comp[1]) // (8 * hmax))
            bh = -(-(height * comp[2]) // (8 * vmax))
        mcus = bw * bh
        order[0] = (comp, order[0][1], order[0][2], 1)
    else:
        mcus = (-(-width // (8 * hmax))) * (-(-height // (8 * vmax)))
    reader = _JpegBitReader(buf, pos)
    preds = {c[0]: 0 for c in comps}
    dc_sum = 0  # luma DC (quantized) running sum
    dc_blocks = 0
    for m in range(mcus):
        if restart_interval and m and m % restart_interval == 0:
            marker = reader.sync_marker()
            if marker is None or not 0xD0 <= marker <= 0xD7:
                return None
            preds = {c[0]: 0 for c in comps}
        for comp, dc_tab, ac_tab, nblocks in order:
            for _ in range(nblocks):
                s = reader.huff(dc_tab)
                if s is None or s > 15:
                    return None
                mag = reader.read(s) if s else 0
                if mag is None:
                    return None
                preds[comp[0]] += _jpeg_extend(mag, s)
                if comp[0] == luma_id:
                    dc_sum += preds[comp[0]]
                    dc_blocks += 1
                k = 1
                while k < 64:  # AC: decode to advance, values unused
                    rs = reader.huff(ac_tab)
                    if rs is None:
                        return None
                    r, size = rs >> 4, rs & 15
                    if size == 0:
                        if r == 15:
                            k += 16
                            continue
                        break  # EOB
                    k += r + 1
                    if reader.read(size) is None:
                        return None
    if not dc_blocks:
        return None
    q0 = qt[comps[0][3]][0]
    # per-block constant term: DC*q0/8 + 2^(P-1), as an exact integer
    # rational (numerator, denominator) so callers averaging across
    # frames can defer to ONE float division — the correctly-rounded
    # rational mean, bit-identical to any engine computing sum/count
    # over the same per-block values
    shift = (1 << (precision - 1)) * 8  # 1024 for 8-bit, 16384 for 12
    num = dc_sum * q0 + shift * dc_blocks
    den = 8 * dc_blocks
    if precision != 8:
        # scale the sample-domain mean to the byte range exactly
        num *= 255
        den *= (1 << precision) - 1
    return width, height, (num, den)


def _skip_entropy(buf: bytes, pos: int) -> int | None:
    """Index of the next REAL marker (not a stuffed 0xFF00, not a
    restart RSTn) at or after ``pos`` — how a decoder skips a scan's
    entropy-coded segment it does not need."""
    n = len(buf)
    while pos + 1 < n:
        if buf[pos] == 0xFF:
            nxt = buf[pos + 1]
            if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
                pos += 2
                continue
            return pos
        pos += 1
    return None


def _parse_jpeg_progressive_exact(
    payload: bytes,
) -> tuple[int, int, tuple[int, int]] | None:
    """Progressive (SOF2) JPEG -> (width, height, (mean_num,
    mean_den)) by entropy-decoding the DC band scans only — the
    spectral-selection/successive-approximation structure of T.81
    Annex G, which is exactly enough for the block-DC mean the
    baseline path computes (:func:`_jpeg_scan_mean`); AC-band scans
    (Ss > 0) are skipped over their entropy data.

    DC semantics (T.81 G.1.2): the first DC scan (Ah=0) codes
    ``DC >> Al`` with baseline DC huffman/DIFF coding; each refinement
    scan (Ah=Al+1) appends one raw bit per block, OR-ed in at
    ``1 << Al`` on the full-scale two's-complement value — the
    libjpeg ``decode_mcu_DC_refine`` rule. Values are kept at full
    scale throughout, so the final mean needs no shifting.
    """
    if payload[:2] != b"\xff\xd8":
        return None
    i, n = 2, len(payload)
    qt: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    comps: list[tuple[int, int, int, int]] | None = None
    width = height = None
    restart_interval = 0
    precision = 8
    dc: dict[int, dict[tuple[int, int], int]] = {}  # cid -> (by,bx) -> full-scale DC
    dc_al: dict[int, int] = {}  # cid -> Al of the current approximation
    saw_dc_scan = False
    while i + 2 <= n:
        if payload[i] != 0xFF:
            return None
        marker = payload[i + 1]
        i += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:
            break
        if i + 2 > n:
            return None
        (seg_len,) = struct.unpack_from(">H", payload, i)
        if seg_len < 2 or i + seg_len > n:
            return None
        seg = payload[i + 2 : i + seg_len]
        i += seg_len
        if marker == 0xDB:  # DQT (same layout as baseline)
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                p += 1
                if pq:
                    if p + 128 > len(seg):
                        return None
                    qt[tq] = list(struct.unpack_from(">64H", seg, p))
                    p += 128
                else:
                    if p + 64 > len(seg):
                        return None
                    qt[tq] = list(seg[p : p + 64])
                    p += 64
        elif marker == 0xC4:  # DHT — may arrive between scans
            p = 0
            while p + 17 <= len(seg):
                tc, th = seg[p] >> 4, seg[p] & 15
                bits = list(seg[p + 1 : p + 17])
                cnt = sum(bits)
                if p + 17 + cnt > len(seg):
                    return None
                vals = list(seg[p + 17 : p + 17 + cnt])
                huff[(tc, th)] = _jpeg_huff_decode_table(bits, vals)
                p += 17 + cnt
        elif marker == 0xC2:  # SOF2: progressive DCT frame header
            # progressive DCT allows 8- AND 12-bit samples (T.81)
            if len(seg) < 6 or seg[0] not in (8, 12):
                return None
            precision = seg[0]
            height, width = struct.unpack_from(">HH", seg, 1)
            nc = seg[5]
            if len(seg) < 6 + 3 * nc or not (0 < width and 0 < height):
                return None
            comps = [
                (seg[6 + 3 * c], seg[7 + 3 * c] >> 4, seg[7 + 3 * c] & 15,
                 seg[8 + 3 * c])
                for c in range(nc)
            ]
        elif 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            return None  # not a progressive frame: baseline path owns it
        elif marker == 0xDD:
            if len(seg) < 2:
                return None
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS
            if comps is None:
                return None
            ns = seg[0] if seg else 0
            if len(seg) < 4 + 2 * ns:
                return None
            scan = [
                (seg[1 + 2 * c], seg[2 + 2 * c] >> 4, seg[2 + 2 * c] & 15)
                for c in range(ns)
            ]
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ah_al = seg[3 + 2 * ns]
            ah, al = ah_al >> 4, ah_al & 15
            if ss == 0:
                if se != 0:
                    # progressive DC and AC bands cannot share a scan
                    # (T.81 G.1.1.1.1) — a baseline-coded scan
                    # relabeled SOF2 lands here; refuse, don't guess
                    return None
                nxt = _decode_dc_scan(
                    payload, i, comps, scan, huff,
                    width, height, restart_interval, ah, al, dc, dc_al,
                )
                if nxt is None:
                    return None
                saw_dc_scan = True
            else:
                nxt = _skip_entropy(payload, i)
                if nxt is None:
                    break  # truncated after the last scan we needed
            i = nxt
    if not saw_dc_scan or comps is None or comps[0][3] not in qt:
        return None
    comp0 = comps[0]
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if len(comps) == 1:
        bw, bh = -(-width // 8), -(-height // 8)
    else:
        bw = -(-(width * comp0[1]) // (8 * hmax))
        bh = -(-(height * comp0[2]) // (8 * vmax))
    vals = dc.get(comp0[0], {})
    total = blocks = 0
    for (by, bx), v in vals.items():
        if by < bh and bx < bw:  # padding blocks don't weigh in
            total += v
            blocks += 1
    if not blocks:
        return None
    q0 = qt[comp0[3]][0]
    shift = (1 << (precision - 1)) * 8
    num = total * q0 + shift * blocks
    den = 8 * blocks
    if precision != 8:
        num *= 255
        den *= (1 << precision) - 1
    return width, height, (num, den)


def _decode_dc_scan(
    buf: bytes,
    pos: int,
    comps: list[tuple[int, int, int, int]],
    scan: list[tuple[int, int, int]],
    huff: dict,
    width: int,
    height: int,
    restart_interval: int,
    ah: int,
    al: int,
    dc: dict[int, dict[tuple[int, int], int]],
    dc_al: dict[int, int],
) -> int | None:
    """Decode one progressive DC scan (first pass or refinement) into
    the per-component full-scale DC grids; returns the buffer index of
    the marker ending the scan, or None on a malformed stream."""
    by_id = {c[0]: c for c in comps}
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    order = []
    for cid, td, _ta in scan:
        comp = by_id.get(cid)
        if comp is None:
            return None
        if ah == 0:
            if (0, td) not in huff:
                return None
            if cid in dc_al:
                return None  # duplicate first scan for this component
        else:
            # refinement must continue the existing approximation
            if dc_al.get(cid) != ah:
                return None
        dc.setdefault(cid, {})
        dc_al[cid] = al
        order.append((comp, huff.get((0, td))))
    interleaved = len(scan) > 1
    if interleaved:
        mcux = -(-width // (8 * hmax))
        mcus = mcux * (-(-height // (8 * vmax)))
    else:
        comp = order[0][0]
        if len(comps) == 1:
            bw = -(-width // 8)
            mcus = bw * (-(-height // 8))
        else:
            bw = -(-(width * comp[1]) // (8 * hmax))
            mcus = bw * (-(-(height * comp[2]) // (8 * vmax)))
    reader = _JpegBitReader(buf, pos)
    preds = {c[0][0]: 0 for c in order}

    def step(cid: int, tab, by: int, bx: int) -> bool:
        grid = dc[cid]
        if ah == 0:
            s = reader.huff(tab)
            if s is None or s > 15:
                return False
            mag = reader.read(s) if s else 0
            if mag is None:
                return False
            preds[cid] += _jpeg_extend(mag, s)
            grid[(by, bx)] = preds[cid] << al
        else:
            bit = reader.read(1)
            if bit is None:
                return False
            if bit:
                grid[(by, bx)] = grid.get((by, bx), 0) | (1 << al)
        return True

    for m in range(mcus):
        if restart_interval and m and m % restart_interval == 0:
            marker = reader.sync_marker()
            if marker is None or not 0xD0 <= marker <= 0xD7:
                return None
            preds = {c[0][0]: 0 for c in order}
        if interleaved:
            mx, my = m % mcux, m // mcux
            for comp, tab in order:
                cid, ch, cv = comp[0], comp[1], comp[2]
                for byi in range(cv):
                    for bxi in range(ch):
                        if not step(cid, tab, my * cv + byi, mx * ch + bxi):
                            return None
        else:
            comp, tab = order[0]
            if not step(comp[0], tab, m // bw, m % bw):
                return None
    return _skip_entropy(buf, reader.pos)


def encode_jpeg_gray_blocks_progressive(
    values: list[int], precision: int = 8
) -> bytes:
    """Deterministic PROGRESSIVE (SOF2) fixture encoder: the same
    8px-wide stacked-constant-block grayscale image as
    :func:`encode_jpeg_gray_blocks`, but coded as three progressive
    scans — a first DC scan at Al=1, a DC refinement scan (Ah=1,
    Al=0), and an AC band scan (Ss=1..63, all-EOB since constant
    blocks have no AC energy) so the skip path over AC entropy data is
    exercised. Valid per T.81 Annex G; decoded mean is exactly
    mean(values) (byte-scaled for ``precision=12``, whose wider DC
    categories ride the 0..16 lossless table)."""
    h = 8 * len(values)
    if precision == 8:
        dc_tab = _JPEG_FIX_DC
    elif precision == 12:
        dc_tab = _JPEG_LL_DC
    else:
        raise ValueError("precision must be 8 or 12")
    dc_enc = _jpeg_huff_encode_table(*dc_tab)
    ac_enc = _jpeg_huff_encode_table(*_JPEG_FIX_AC)
    level = 1 << (precision - 1)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0]) + bytes([8] * 64))
    out += seg(0xC2, struct.pack(">BHHB", precision, h, 8, 1) + bytes([1, 0x11, 0]))
    out += seg(0xC4, bytes([0 << 4]) + bytes(dc_tab[0]) + bytes(dc_tab[1]))
    out += seg(0xC4, bytes([1 << 4]) + bytes(_JPEG_FIX_AC[0]) + bytes(_JPEG_FIX_AC[1]))
    # scan 1: DC first pass, Ss=Se=0, Ah=0, Al=1 — codes DC >> 1
    out += seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x01]))
    w = _JpegBitWriter()
    pred = 0
    for v in values:
        high = (int(v) - level) >> 1  # arithmetic shift (T.81 G.1.2.1)
        diff = high - pred
        pred = high
        s = abs(diff).bit_length()
        w.put(*dc_enc[s])
        if s:
            w.put(diff if diff >= 0 else diff - 1, s)
    w.pad()
    out += w.out
    # scan 2: DC refinement, Ah=1, Al=0 — one raw bit per block
    out += seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x10]))
    w = _JpegBitWriter()
    for v in values:
        w.put((int(v) - level) & 1, 1)
    w.pad()
    out += w.out
    # scan 3: AC band Ss=1..63, Ah=0, Al=0 — every block EOB(run=1).
    # TdTa = 0x00: the DHT above defines AC table ID 0 (class 1, id 0);
    # a conforming external decoder resolves Ta against the table ID
    out += seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x00]))
    w = _JpegBitWriter()
    for _ in values:
        w.put(*ac_enc[0x00])
    w.pad()
    out += w.out
    out += b"\xff\xd9"
    return bytes(out)


# Fixture Huffman tables (canonical, minimal): 9 DC categories at
# length 4, and {EOB, (0,1), ZRL} at length 2 for AC. Any conforming
# decoder reads them from the DHT segment like every other JPEG.
_JPEG_FIX_DC = ([0, 0, 0, 9] + [0] * 12, list(range(9)))
_JPEG_FIX_AC = ([0, 3] + [0] * 14, [0x00, 0x01, 0xF0])


class _JpegBitWriter:
    __slots__ = ("out", "acc", "n")

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        # r12 optimization: trim the accumulator to its pending bits
        # after draining — the old form never truncated `acc`, so over
        # a scan it grew into an arbitrary-precision integer and every
        # shift paid bignum arithmetic proportional to bits written so
        # far (the mirror of the _JpegBitReader register fix). Emitted
        # bytes only ever read the low n bits, so output is identical.
        acc = (self.acc << length) | (code & ((1 << length) - 1))
        n = self.n + length
        while n >= 8:
            n -= 8
            b = (acc >> n) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
        self.acc = acc & ((1 << n) - 1)
        self.n = n

    def pad(self) -> None:
        if self.n:
            self.put((1 << (8 - self.n)) - 1, 8 - self.n)


def encode_jpeg_gray_blocks(
    values: list[int], restart_interval: int = 0
) -> bytes:
    """Deterministic baseline JPEG encoder for fixtures: an 8px-wide
    grayscale image of len(values) stacked 8x8 blocks, each block the
    constant byte values[i]. Quant table all-8s makes the quantized DC
    exactly v-128, so the decoded mean is exactly mean(values). Valid
    per T.81 — any external viewer opens it."""
    h = 8 * len(values)
    dc_enc = _jpeg_huff_encode_table(*_JPEG_FIX_DC)
    ac_enc = _jpeg_huff_encode_table(*_JPEG_FIX_AC)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    def dht(tc: int, bits: list[int], vals: list[int]) -> bytes:
        return bytes([tc << 4]) + bytes(bits) + bytes(vals)

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0]) + bytes([8] * 64))
    out += seg(0xC0, struct.pack(">BHHB", 8, h, 8, 1) + bytes([1, 0x11, 0]))
    out += seg(0xC4, dht(0, *_JPEG_FIX_DC))
    out += seg(0xC4, dht(1, *_JPEG_FIX_AC))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    out += seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    w = _JpegBitWriter()
    pred = 0
    for i, v in enumerate(values):
        if restart_interval and i and i % restart_interval == 0:
            w.pad()
            out += w.out
            out += bytes([0xFF, 0xD0 + (i // restart_interval - 1) % 8])
            w = _JpegBitWriter()
            pred = 0
        dcq = int(v) - 128
        diff = dcq - pred
        pred = dcq
        s = abs(diff).bit_length()
        w.put(*dc_enc[s])
        if s:
            w.put(diff if diff >= 0 else diff - 1, s)
        w.put(*ac_enc[0x00])  # EOB: no AC terms
    w.pad()
    out += w.out
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_hierarchical(
    values: list[int],
    first: str = "baseline",
    restart_interval: int = 0,
    refinement: bool = True,
) -> bytes:
    """Deterministic HIERARCHICAL JPEG (T.81 Annex K) fixture: a DHP
    segment declaring the full dims, then a NON-DIFFERENTIAL first
    frame reusing a flat fixture encoder verbatim (``first`` =
    'baseline' SOF0, 'lossless' SOF3, or 'arith' SOF9 — the closed
    forms of those encoders carry over unchanged: mean(values) for
    baseline/arith over constant 8x8 blocks), then optionally one
    structurally valid DIFFERENTIAL refinement frame (SOF5 header +
    scan whose entropy data codes all-zero corrections with the same
    fixed DC table — byte-level plausible, and past the first-frame
    boundary the decoder must stop before it). The hierarchy keeps
    the first frame at full resolution (no EXP), so the first-frame
    mean IS the image mean and the flat closed form doubles as the
    hierarchical oracle."""
    if first == "baseline":
        inner = encode_jpeg_gray_blocks(values, restart_interval)
        h = 8 * len(values)
    elif first == "arith":
        inner = encode_jpeg_arith_gray_blocks(
            values, restart_interval=restart_interval
        )
        h = 8 * len(values)
    elif first == "lossless":
        # one 8-wide plane, each value an 8-row constant band — the
        # plane mean is exactly mean(values), same closed form
        plane = [[v] * 8 for v in values for _ in range(8)]
        inner = encode_jpeg_lossless(
            [plane], predictor=1, restart_interval=restart_interval
        )
        h = 8 * len(values)
    else:
        raise ValueError(f"unknown first-frame mode {first!r}")
    assert inner[:2] == b"\xff\xd8" and inner[-2:] == b"\xff\xd9"
    body = inner[2:-2]

    def seg(marker: int, b: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(b) + 2) + b

    out = bytearray(b"\xff\xd8")
    # DHP: frame-header syntax, Tq = 0 (B.2.2 note for DHP)
    out += seg(0xDE, struct.pack(">BHHB", 8, h, 8, 1) + bytes([1, 0x11, 0]))
    out += body
    if refinement:
        dc_enc = _jpeg_huff_encode_table(*_JPEG_FIX_DC)
        out += seg(
            0xC5, struct.pack(">BHHB", 8, h, 8, 1) + bytes([1, 0x11, 0])
        )
        out += seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        w = _JpegBitWriter()
        for _ in values:
            w.put(*dc_enc[0])  # zero correction per block
        w.pad()
        out += w.out
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_gray_blocks_12bit(
    values: list[int], restart_interval: int = 0
) -> bytes:
    """12-bit EXTENDED SEQUENTIAL (SOF1) fixture encoder: the 12-bit
    sibling of :func:`encode_jpeg_gray_blocks` — constant 8x8 blocks
    of 12-bit samples, quant all-8s so the quantized DC is exactly
    v - 2048; the decoder's byte-domain mean is exactly
    ``mean(values) * 255 / 4095``. DC differences reach category 12,
    so the DC table is the 0..16 lossless table."""
    h = 8 * len(values)
    dc_enc = _jpeg_huff_encode_table(*_JPEG_LL_DC)
    ac_enc = _jpeg_huff_encode_table(*_JPEG_FIX_AC)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0]) + bytes([8] * 64))
    out += seg(0xC1, struct.pack(">BHHB", 12, h, 8, 1) + bytes([1, 0x11, 0]))
    out += seg(
        0xC4, bytes([0]) + bytes(_JPEG_LL_DC[0]) + bytes(_JPEG_LL_DC[1])
    )
    out += seg(
        0xC4,
        bytes([1 << 4]) + bytes(_JPEG_FIX_AC[0]) + bytes(_JPEG_FIX_AC[1]),
    )
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    out += seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    w = _JpegBitWriter()
    pred = 0
    for i, v in enumerate(values):
        if restart_interval and i and i % restart_interval == 0:
            w.pad()
            out += w.out
            out += bytes([0xFF, 0xD0 + (i // restart_interval - 1) % 8])
            w = _JpegBitWriter()
            pred = 0
        dcq = int(v) - 2048
        diff = dcq - pred
        pred = dcq
        s = abs(diff).bit_length()
        w.put(*dc_enc[s])
        if s:
            w.put(diff if diff >= 0 else diff - 1, s)
        w.put(*ac_enc[0x00])  # EOB
    w.pad()
    out += w.out
    out += b"\xff\xd9"
    return bytes(out)


# --- Arithmetic-coded JPEG (SOF9, T.81 Annex D QM-coder + Annex F
# statistical models) ------------------------------------------------
#
# Round 10 closes the last pure-Python-feasible codec gap: extended
# sequential ARITHMETIC JPEG decodes (and a fixture encoder
# round-trips) for real. Everything is written from the published
# T.81 procedures: the adaptive binary arithmetic coder of Annex D
# (Qe state machine of Table D.3, conditional MPS/LPS exchange,
# renormalization at 0x8000, byte stuffing of 0x00 after 0xFF,
# carry propagation into emitted bytes, CLEARBITS flush) and the
# sequential DC/AC statistical models of Annex F (Tables F.4/F.5,
# Figures F.4-F.9 encode / F.19-F.26 decode; DAC conditioning
# bounds L/U for DC and Kx for AC, defaults 0/1/5 per F.1.4.4.1.4).
# The same figures underlie the public IJG jcarith/jdarith pair, so
# behavioral parity with real-world encoders follows from the spec
# itself. Validation: exact coefficient round-trip across random
# blocks/precisions/restart intervals, a Huffman-vs-arithmetic
# cross-check (same image through both entropy coders must yield the
# same mean), a compression-rate sanity arm (the adaptive coder must
# approach the entropy of a skewed binary source — a mistranscribed
# Qe row breaks adaptation and fails it), and a mutation-fuzz arm.
# Cross-implementation BIT-phase cannot be verified offline (no
# arithmetic-JPEG sample or codec library ships in this container);
# documented here rather than hidden.

#: T.81 Table D.3 — Qe value, Next_Index_MPS, Next_Index_LPS,
#: Switch_MPS; entry 113 is the NON-ADAPTIVE fixed bin the AC sign
#: decision uses (Qe ~ 0.5, self-looping, never switches).
_QM_TABLE = (
    (0x5A1D, 1, 1, 1), (0x2586, 2, 14, 0), (0x1114, 3, 16, 0),
    (0x080B, 4, 18, 0), (0x03D8, 5, 20, 0), (0x01DA, 6, 23, 0),
    (0x00E5, 7, 25, 0), (0x006F, 8, 28, 0), (0x0036, 9, 30, 0),
    (0x001A, 10, 33, 0), (0x000D, 11, 35, 0), (0x0006, 12, 9, 0),
    (0x0003, 13, 10, 0), (0x0001, 13, 12, 0), (0x5A7F, 15, 15, 1),
    (0x3F25, 16, 36, 0), (0x2CF2, 17, 38, 0), (0x207C, 18, 39, 0),
    (0x17B9, 19, 40, 0), (0x1182, 20, 42, 0), (0x0CEF, 21, 43, 0),
    (0x09A1, 22, 45, 0), (0x072F, 23, 46, 0), (0x055C, 24, 48, 0),
    (0x0406, 25, 49, 0), (0x0303, 26, 51, 0), (0x0240, 27, 52, 0),
    (0x01B1, 28, 54, 0), (0x0144, 29, 56, 0), (0x00F5, 30, 57, 0),
    (0x00B7, 31, 59, 0), (0x008A, 32, 60, 0), (0x0068, 33, 62, 0),
    (0x004E, 34, 63, 0), (0x003B, 35, 32, 0), (0x002C, 9, 33, 0),
    (0x5AE1, 37, 37, 1), (0x484C, 38, 64, 0), (0x3A0D, 39, 65, 0),
    (0x2EF1, 40, 67, 0), (0x261F, 41, 68, 0), (0x1F33, 42, 69, 0),
    (0x19A8, 43, 70, 0), (0x1518, 44, 72, 0), (0x1177, 45, 73, 0),
    (0x0E74, 46, 74, 0), (0x0BFB, 47, 75, 0), (0x09F8, 48, 77, 0),
    (0x0861, 49, 78, 0), (0x0706, 50, 79, 0), (0x05CD, 51, 48, 0),
    (0x04DE, 52, 50, 0), (0x040F, 53, 50, 0), (0x0363, 54, 51, 0),
    (0x02D4, 55, 52, 0), (0x025C, 56, 53, 0), (0x01F8, 57, 54, 0),
    (0x01A4, 58, 55, 0), (0x0160, 59, 56, 0), (0x0125, 60, 57, 0),
    (0x00F6, 61, 58, 0), (0x00CB, 62, 59, 0), (0x00AB, 63, 61, 0),
    (0x008F, 32, 61, 0), (0x5B12, 65, 65, 1), (0x4D04, 66, 80, 0),
    (0x412C, 67, 81, 0), (0x37D8, 68, 82, 0), (0x2FE8, 69, 83, 0),
    (0x293C, 70, 84, 0), (0x2379, 71, 86, 0), (0x1EDF, 72, 87, 0),
    (0x1AA9, 73, 87, 0), (0x174E, 74, 72, 0), (0x1424, 75, 72, 0),
    (0x119C, 76, 74, 0), (0x0F6B, 77, 74, 0), (0x0D51, 78, 75, 0),
    (0x0BB6, 79, 77, 0), (0x0A40, 48, 77, 0), (0x5832, 81, 80, 1),
    (0x4D1C, 82, 88, 0), (0x438E, 83, 89, 0), (0x3BDD, 84, 90, 0),
    (0x34EE, 85, 91, 0), (0x2EAE, 86, 92, 0), (0x299A, 87, 93, 0),
    (0x2516, 71, 86, 0), (0x5570, 89, 88, 1), (0x4CA9, 90, 95, 0),
    (0x44D9, 91, 96, 0), (0x3E22, 92, 97, 0), (0x3824, 93, 99, 0),
    (0x32B4, 94, 99, 0), (0x2E17, 86, 93, 0), (0x56A8, 96, 95, 1),
    (0x4F46, 97, 101, 0), (0x47E5, 98, 102, 0), (0x41CF, 99, 103, 0),
    (0x3C3D, 100, 104, 0), (0x375E, 93, 99, 0), (0x5231, 102, 105, 0),
    (0x4C0F, 103, 106, 0), (0x4639, 104, 107, 0), (0x415E, 99, 103, 0),
    (0x5627, 106, 105, 1), (0x50E7, 107, 108, 0), (0x4B85, 103, 109, 0),
    (0x5597, 109, 110, 0), (0x504F, 107, 111, 0), (0x5A10, 111, 110, 1),
    (0x5522, 109, 112, 0), (0x59EB, 111, 112, 1),
    (0x5A1D, 113, 113, 0),  # fixed ~0.5 bin (IJG convention)
)

#: DC statistical-model bin count per Table F.4 (contexts 0-19,
#: X1-X15 at 20-34, M2-M15 at 35-48) and AC per Table F.5
#: (SE/S0/SP triples at 3(k-1), X2 chains at 189/217 + M bins).
_QM_DC_BINS = 49
_QM_AC_BINS = 245
_QM_FIXED = 113


class _QmEncoder:
    """T.81 Annex D adaptive binary arithmetic ENCODER. MPS codes in
    the lower subinterval (C unchanged), LPS in the upper
    (C += A − Qe), with conditional exchange when the MPS interval
    renormalizes smaller than Qe — the assignment the Annex D
    flowcharts specify and the decoder below mirrors. Output bytes
    collect UNstuffed with direct carry propagation (the list is the
    big-endian code value; a carry walks 0xFF -> 0x00 leftward),
    then :meth:`flush` applies the 0x00-after-0xFF stuffing in one
    pass — byte-for-byte the stream of the spec's stacked-FF
    BYTEOUT, without replicating its bookkeeping."""

    __slots__ = ("a", "c", "ct", "raw")

    def __init__(self) -> None:
        self.a = 0x10000
        self.c = 0
        self.ct = 11  # 3 spacer bits above the 16-bit interval
        self.raw: list[int] = []

    def encode(self, bins: bytearray, i: int, d: int) -> None:
        # hot path: local-variable mirror of the registers, the same
        # treatment _QmDecoder.decode already has — attribute access
        # dominates the per-decision cost, and the common no-renorm
        # MPS case returns after two local ops
        st = bins[i]
        idx, mps = st >> 1, st & 1
        qe, nmps, nlps, switch = _QM_TABLE[idx]
        a = self.a - qe
        if d == mps:
            if a & 0x8000:
                self.a = a
                return
            c = self.c
            if a < qe:  # conditional exchange: MPS takes the top
                c += a
                a = qe
            if idx != _QM_FIXED:
                bins[i] = (nmps << 1) | mps
        else:
            c = self.c
            if a >= qe:  # LPS takes the top
                c += a
                a = qe
            # else conditional exchange: LPS keeps the small bottom
            if idx != _QM_FIXED:
                if switch:
                    mps ^= 1
                bins[i] = (nlps << 1) | mps
        ct = self.ct
        while True:
            a <<= 1
            c <<= 1
            ct -= 1
            if ct == 0:
                self.c = c
                self._byteout()
                c = self.c
                ct = self.ct
            if a & 0x8000:
                break
        self.a = a
        self.c = c
        self.ct = ct

    def encode_diff(self, bins: bytearray, st: int, xbase: int,
                    diff: int) -> int:
        """One signed-difference encode — the zero decision, sign,
        magnitude category chain at ``xbase`` and mantissa bits at the
        chain stop + 14 (Figures F.4/F.6/F.7; also the H.2 per-sample
        unit): the encoder dual of :meth:`_QmDecoder.decode_diff`.

        Returns the chain MSB ``m`` (0 when ``|diff| == 1``) for the
        F.1.4.4.1.2 conditioning classification, or -1 when
        ``diff == 0``."""
        if diff == 0:
            self.encode(bins, st, 0)
            return -1
        self.encode(bins, st, 1)
        sign = 1 if diff < 0 else 0
        self.encode(bins, st + 1, sign)
        sz = (-diff if sign else diff) - 1
        pos = st + 2 + sign
        m = 0
        if sz:
            self.encode(bins, pos, 1)
            m = 1
            v2 = sz
            pos = xbase
            while v2 >> 1:
                self.encode(bins, pos, 1)
                m <<= 1
                v2 >>= 1
                pos += 1
        self.encode(bins, pos, 0)
        pos += 14
        mm = m
        while mm > 1:
            mm >>= 1
            self.encode(bins, pos, 1 if (sz & mm) else 0)
        return m

    def _byteout(self) -> None:
        t = self.c >> 19
        if t > 0xFF:
            self._carry()
            t &= 0xFF
        self.raw.append(t)
        self.c &= 0x7FFFF
        self.ct = 8

    def _carry(self) -> None:
        i = len(self.raw) - 1
        while i >= 0 and self.raw[i] == 0xFF:
            self.raw[i] = 0x00
            i -= 1
        if i < 0:  # code value >= 1.0 is impossible for a QM stream
            raise ValueError("arithmetic carry out of stream")
        self.raw[i] += 1

    def flush(self) -> bytes:
        # CLEARBITS (Figure D.16): largest number of trailing zeros
        t = (self.c + self.a - 1) & 0xFFFF0000
        self.c = t + 0x8000 if t < self.c else t
        self.c <<= self.ct
        if self.c & 0xF8000000:
            self._carry()
        self.raw.append((self.c >> 19) & 0xFF)
        self.raw.append((self.c >> 11) & 0xFF)
        out = bytearray()
        for b in self.raw:
            out.append(b)
            if b == 0xFF:
                out.append(0x00)  # stuffing (B.1.1.5)
        return bytes(out)


class _QmDecoder:
    """T.81 Annex D arithmetic DECODER — the exact dual of
    :class:`_QmEncoder`: chigh (bits 31-16 of C) tracks the code
    value inside the current interval A; the boundary after
    ``A -= Qe`` splits lower-MPS from upper-LPS with the same
    conditional exchange. BYTEIN consumes 0xFF 0x00 as a data 0xFF
    and feeds 1-bits once a real marker is seen (D.4.6), leaving
    ``bp`` parked at the marker for the restart walk."""

    __slots__ = ("buf", "bp", "n", "marker_seen", "c", "a", "ct")

    def __init__(self, buf: bytes, pos: int) -> None:
        self.buf = buf
        self.bp = pos
        self.n = len(buf)
        self.marker_seen = False
        b0 = self._next_byte()
        b1 = self._next_byte()
        self.c = (b0 << 24) | (b1 << 16)
        self.a = 0x10000
        self.ct = 0

    def _next_byte(self) -> int:
        # feed ZERO bits past the marker / end of stream: the
        # encoder's CLEARBITS termination picks the code point with
        # maximal trailing zeros inside the final interval, so a
        # zero tail reproduces exactly that point (a one-bit tail
        # could overshoot the interval when the zero-point sits
        # near its top — caught by the 300-stream round-trip fuzz)
        if self.marker_seen or self.bp >= self.n:
            return 0x00
        b = self.buf[self.bp]
        if b == 0xFF:
            if self.bp + 1 < self.n and self.buf[self.bp + 1] == 0x00:
                self.bp += 2  # stuffed zero: data byte 0xFF
                return 0xFF
            self.marker_seen = True  # real marker: stop consuming
            return 0x00
        self.bp += 1
        return b

    def decode(self, bins: bytearray, i: int) -> int:
        # hot path: local-variable mirror of the registers (Python
        # attribute access dominates the per-decision cost; the
        # multimodal bench leg runs millions of decisions per batch)
        st = bins[i]
        idx, mps = st >> 1, st & 1
        qe, nmps, nlps, switch = _QM_TABLE[idx]
        a = self.a - qe
        c = self.c
        if (c >> 16) >= a:
            # upper subinterval
            c -= a << 16
            exchanged = a < qe
            a = qe
            if exchanged:
                d = mps
                if idx != _QM_FIXED:
                    bins[i] = (nmps << 1) | mps
            else:
                d = mps ^ 1
                if idx != _QM_FIXED:
                    if switch:
                        mps ^= 1
                    bins[i] = (nlps << 1) | mps
        elif a & 0x8000 == 0:
            if a < qe:
                d = mps ^ 1
                if idx != _QM_FIXED:
                    if switch:
                        mps ^= 1
                    bins[i] = (nlps << 1) | mps
            else:
                d = mps
                if idx != _QM_FIXED:
                    bins[i] = (nmps << 1) | mps
        else:
            self.a = a
            return mps
        ct = self.ct
        while a & 0x8000 == 0:
            if ct == 0:
                c |= self._next_byte() << 8
                ct = 8
            c = (c << 1) & 0xFFFFFFFF
            a = (a << 1) & 0xFFFF
            ct -= 1
        self.a = a
        self.c = c
        self.ct = ct
        return d

    def decode_diff(self, bins: bytearray, st: int, chain: int) -> int | None:
        """One signed-difference decode — the zero decision, the sign,
        the magnitude category chain at ``chain`` and the mantissa bits
        at the chain stop + 14 (Figures F.19/F.23/F.24): the per-sample
        unit of the SOF11/H.2 scan and the per-block DC unit of the
        SOF9/F.1.4 scan. Returns the signed difference (0 when the zero
        decision fires), or None on overflow (malformed stream)."""
        if self.decode(bins, st) == 0:
            return 0
        sign = self.decode(bins, st + 1)
        pos = st + 2 + sign
        m = self.decode(bins, pos)
        if m:
            pos = chain
            while self.decode(bins, pos):
                m <<= 1
                if m == 0x8000:
                    return None
                pos += 1
        v = m
        pos += 14
        while m > 1:
            m >>= 1
            if self.decode(bins, pos):
                v |= m
        return -(v + 1) if sign else (v + 1)


def _arith_next_marker(buf: bytes, pos: int) -> int | None:
    """Index of the next marker (INCLUDING RSTn) at/after ``pos`` in
    an arithmetic entropy segment — 0xFF 0x00 pairs are stuffed data."""
    n = len(buf)
    while pos + 1 < n:
        if buf[pos] == 0xFF:
            if buf[pos + 1] == 0x00:
                pos += 2
                continue
            return pos
        pos += 1
    return None


def _arith_scan_blocks(
    buf: bytes,
    pos: int,
    comps: list[tuple[int, int, int, int]],
    scan: list[tuple[int, int, int]],
    dc_cond: dict[int, tuple[int, int]],
    ac_cond: dict[int, int],
    width: int,
    height: int,
    restart_interval: int,
    collect: list | None = None,
) -> tuple[int, int] | None:
    """Decode one SOF9 (extended sequential, arithmetic) scan: the
    Annex F DC/AC statistical models over the Annex D QM-decoder.
    Returns ``(luma_dc_sum, luma_block_count)`` (quantized DC, the
    exact inputs of the shared mean rational), or None on malformed
    streams. ``collect`` (tests) receives every luma block's 63-entry
    zigzag AC list appended after its DC — full coefficient recovery,
    not just the mean."""
    by_id = {c[0]: c for c in comps}
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    luma_id = comps[0][0]
    order = []
    for cid, td, ta in scan:
        comp = by_id.get(cid)
        if comp is None or td > 3 or ta > 3:
            return None
        order.append((comp, td, ta, comp[1] * comp[2]))
    if len(scan) == 1:
        comp = order[0][0]
        if len(comps) == 1:
            bw, bh = -(-width // 8), -(-height // 8)
        else:
            bw = -(-(width * comp[1]) // (8 * hmax))
            bh = -(-(height * comp[2]) // (8 * vmax))
        mcus = bw * bh
        order[0] = (comp, order[0][1], order[0][2], 1)
    else:
        mcus = (-(-width // (8 * hmax))) * (-(-height // (8 * vmax)))
    if mcus > 1 << 22:
        # unlike the Huffman walkers (which stop when the bit supply
        # runs dry), the QM decoder happily synthesizes decisions
        # from fed zero-bytes forever — a corrupt dims field must not
        # turn into a 4-billion-MCU grind. 4M MCUs = a 268-megapixel
        # grayscale frame, far beyond any real single-scan JPEG.
        return None

    def fresh_stats():
        return (
            {t: bytearray(_QM_DC_BINS) for t in {td for _, td, _, _ in order}},
            {t: bytearray(_QM_AC_BINS) for t in {ta for _, _, ta, _ in order}},
            bytearray(1),  # fixed bin (index 0 stays 2*113 below)
        )

    def reset_fixed(fx):
        fx[0] = _QM_FIXED << 1

    dc_stats, ac_stats, fixed = fresh_stats()
    reset_fixed(fixed)
    dec = _QmDecoder(buf, pos)
    last_dc = {c[0]: 0 for c in comps}
    dc_ctx = {c[0]: 0 for c in comps}
    dc_sum = 0
    dc_blocks = 0
    rst = 0
    for m in range(mcus):
        if restart_interval and m and m % restart_interval == 0:
            mk = _arith_next_marker(buf, dec.bp)
            if mk is None or buf[mk + 1] != 0xD0 + (rst & 7):
                return None
            rst += 1
            dc_stats, ac_stats, fixed = fresh_stats()
            reset_fixed(fixed)
            last_dc = {c[0]: 0 for c in comps}
            dc_ctx = {c[0]: 0 for c in comps}
            dec = _QmDecoder(buf, mk + 2)
        for comp, td, ta, nblocks in order:
            cid = comp[0]
            L, U = dc_cond.get(td, (0, 1))
            kx = ac_cond.get(ta, 5)
            dbins = dc_stats[td]
            abins = ac_stats[ta]
            for _ in range(nblocks):
                block = None
                # DC (Figures F.19/F.22-F.26, Table F.4): the same
                # zero/sign/magnitude unit as the H.2 sample
                st = dc_ctx[cid]
                diff = dec.decode_diff(dbins, st, 20)
                if diff is None:
                    return None
                if diff == 0:
                    dc_ctx[cid] = 0
                else:
                    sign = 1 if diff < 0 else 0
                    v = -diff if sign else diff
                    mcat = v - 1  # category MSB (0 when v == 1)
                    # F.1.4.4.1.2 conditioning classification: use
                    # the category MSB like the magnitude decode saw
                    msb = 1
                    while msb * 2 <= mcat:
                        msb *= 2
                    mclass = 0 if mcat == 0 else msb
                    if mclass < ((1 << L) >> 1):
                        dc_ctx[cid] = 0
                    elif mclass > ((1 << U) >> 1):
                        dc_ctx[cid] = 12 + 4 * sign
                    else:
                        dc_ctx[cid] = 4 + 4 * sign
                    last_dc[cid] += -v if sign else v
                if cid == luma_id:
                    dc_sum += last_dc[cid]
                    dc_blocks += 1
                    block = [0] * 63 if collect is not None else None
                # AC (Figure F.20, Table F.5)
                k = 1
                while k <= 63:
                    st = 3 * (k - 1)
                    if dec.decode(abins, st):
                        break  # EOB
                    while dec.decode(abins, st + 1) == 0:
                        st += 3
                        k += 1
                        if k > 63:
                            return None
                    sign = dec.decode(fixed, 0)
                    # magnitude category of Sz = |v| - 1: the first
                    # two decisions ride SP (st+2), the chain then
                    # jumps to the X2 column at 189 (k <= Kx) or
                    # 217 (k > Kx); pattern bits at chain stop + 14
                    st2 = st + 2
                    msb = dec.decode(abins, st2)
                    mpos = st2 + 14
                    if msb and dec.decode(abins, st2):
                        msb = 2
                        pos2 = 189 if k <= kx else 217
                        while dec.decode(abins, pos2):
                            msb <<= 1
                            if msb == 0x8000:
                                return None
                            pos2 += 1
                        mpos = pos2 + 14
                    sz = msb
                    mm = msb
                    while mm > 1:
                        mm >>= 1
                        if dec.decode(abins, mpos):
                            sz |= mm
                    val = sz + 1
                    if sign:
                        val = -val
                    if cid == luma_id and block is not None:
                        block[k - 1] = val
                    k += 1
                if cid == luma_id and collect is not None:
                    collect.append((last_dc[cid], block))
    if not dc_blocks:
        return None
    return dc_sum, dc_blocks


def _parse_jpeg_arith(payload: bytes) -> tuple[int, int, float] | None:
    """Parse and REALLY decode an extended-sequential ARITHMETIC
    JPEG (SOF9) in pure Python -> (width, height, mean_byte): marker
    walk (DQT, DAC conditioning, DRI), then the Annex D QM-decoder
    under the Annex F models per scan. The mean derives from the
    luma DC grid exactly like the Huffman paths (same rational).
    None for anything that is not a well-formed SOF9 stream."""
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        return None
    i, n = 2, len(payload)
    qt: dict[int, list[int]] = {}
    dc_cond: dict[int, tuple[int, int]] = {}
    ac_cond: dict[int, int] = {}
    comps = None
    width = height = None
    restart_interval = 0
    precision = 8
    while i + 2 <= n:
        if payload[i] != 0xFF:
            return None
        marker = payload[i + 1]
        i += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:
            return None
        if i + 2 > n:
            return None
        (seg_len,) = struct.unpack_from(">H", payload, i)
        if seg_len < 2 or i + seg_len > n:
            return None
        seg = payload[i + 2 : i + seg_len]
        i += seg_len
        if marker == 0xDB:
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                p += 1
                if pq:
                    if p + 128 > len(seg):
                        return None
                    qt[tq] = list(struct.unpack_from(">64H", seg, p))
                    p += 128
                else:
                    if p + 64 > len(seg):
                        return None
                    qt[tq] = list(seg[p : p + 64])
                    p += 64
        elif marker == 0xCC:  # DAC (B.2.4.3)
            p = 0
            while p + 2 <= len(seg):
                tc, tb = seg[p] >> 4, seg[p] & 15
                cs = seg[p + 1]
                if tc == 0:
                    dc_cond[tb] = (cs & 15, cs >> 4)  # (L, U)
                else:
                    ac_cond[tb] = cs  # Kx
                p += 2
        elif marker == 0xC9:  # SOF9
            if len(seg) < 6:
                return None
            precision = seg[0]
            if precision not in (8, 12):
                return None
            height, width = struct.unpack_from(">HH", seg, 1)
            nc = seg[5]
            if len(seg) < 6 + 3 * nc or not (0 < width and 0 < height):
                return None
            comps = [
                (seg[6 + 3 * c], seg[7 + 3 * c] >> 4,
                 seg[7 + 3 * c] & 15, seg[8 + 3 * c])
                for c in range(nc)
            ]
        elif marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            return None  # not an extended-sequential-arithmetic frame
        elif marker == 0xDD:
            if len(seg) < 2:
                return None
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:
            if comps is None:
                return None
            ns = seg[0] if seg else 0
            if len(seg) < 1 + 2 * ns:
                return None
            scan = [
                (seg[1 + 2 * c], seg[2 + 2 * c] >> 4, seg[2 + 2 * c] & 15)
                for c in range(ns)
            ]
            if comps[0][3] not in qt:
                return None
            got = _arith_scan_blocks(
                payload, i, comps, scan, dc_cond, ac_cond,
                width, height, restart_interval,
            )
            if got is None:
                return None
            dc_sum, dc_blocks = got
            q0 = qt[comps[0][3]][0]
            shift = (1 << (precision - 1)) * 8
            num = dc_sum * q0 + shift * dc_blocks
            den = 8 * dc_blocks
            if precision != 8:
                num *= 255
                den *= (1 << precision) - 1
            return width, height, min(255.0, max(0.0, num / den))
    return None


# --- Progressive arithmetic (SOF10, T.81 Annex G.2 over the same
# QM-coder + Annex F statistical models) -----------------------------
#
# The four scan kinds mirror the Huffman progressive decoder shipped
# in round 8, with the entropy layer swapped: DC first scans run the
# sequential DC model on the unshifted difference chain and store
# diff << Al; DC refinement bits ride the fixed ~0.5 bin; AC first
# scans run the sequential AC model over the spectral band with
# values << Al; AC refinement decodes, per coefficient, a correction
# bit (SP bin) for previously-nonzero positions or a
# newly-significant decision (S0+1) with a fixed-bin sign, gated by
# an EOB decision once past the previous scans' last nonzero index
# (T.81 G.1.3.3). Statistics, predictors, and the QM registers reset
# at every scan start and restart marker.


def _arith_prog_dc_scan(
    buf, pos, comps, scan, dc_cond, width, height, ri, ah, al,
    grids,
):
    """One progressive-arithmetic DC scan (first pass ah == 0 or
    refinement). Returns the index of the marker ending the scan, or
    None. ``grids[cid][(by, bx)]`` accumulates full-scale DC."""
    by_id = {c[0]: c for c in comps}
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    order = []
    for cid, td, _ta in scan:
        comp = by_id.get(cid)
        if comp is None or td > 3:
            return None
        order.append((comp, td, comp[1] * comp[2]))
    if len(scan) == 1:
        comp = order[0][0]
        if len(comps) == 1:
            bw, bh = -(-width // 8), -(-height // 8)
        else:
            bw = -(-(width * comp[1]) // (8 * hmax))
            bh = -(-(height * comp[2]) // (8 * vmax))
        per_row = bw
        mcus = bw * bh
        order[0] = (comp, order[0][1], 1)
    else:
        per_row = -(-width // (8 * hmax))
        mcus = per_row * (-(-height // (8 * vmax)))
    if mcus > 1 << 22:
        return None

    def fresh():
        return {t: bytearray(_QM_DC_BINS) for t in {td for _, td, _ in order}}

    stats = fresh()
    fixed = bytearray([_QM_FIXED << 1])
    dec = _QmDecoder(buf, pos)
    last_dc = {c[0]: 0 for c in comps}
    dc_ctx = {c[0]: 0 for c in comps}
    rst = 0
    for m in range(mcus):
        if ri and m and m % ri == 0:
            mk = _arith_next_marker(buf, dec.bp)
            if mk is None or buf[mk + 1] != 0xD0 + (rst & 7):
                return None
            rst += 1
            stats = fresh()
            fixed = bytearray([_QM_FIXED << 1])
            last_dc = {c[0]: 0 for c in comps}
            dc_ctx = {c[0]: 0 for c in comps}
            dec = _QmDecoder(buf, mk + 2)
        for idx, (comp, td, nblocks) in enumerate(order):
            cid = comp[0]
            L, U = dc_cond.get(td, (0, 1))
            dbins = stats[td]
            for b in range(nblocks):
                if len(scan) == 1:
                    by, bx = divmod(m, per_row)
                else:
                    mby, mbx = divmod(m, per_row)
                    sv, sh = divmod(b, comp[1])
                    by = mby * comp[2] + sv
                    bx = mbx * comp[1] + sh
                blk = grids.setdefault(cid, {}).setdefault((by, bx), [0] * 64)
                if ah == 0:
                    # same zero/sign/magnitude unit as the
                    # sequential DC path
                    st = dc_ctx[cid]
                    diff = dec.decode_diff(dbins, st, 20)
                    if diff is None:
                        return None
                    if diff == 0:
                        dc_ctx[cid] = 0
                    else:
                        sign = 1 if diff < 0 else 0
                        v = -diff if sign else diff
                        msb = 1
                        while msb * 2 <= v - 1:
                            msb *= 2
                        mclass = 0 if v == 1 else msb
                        if mclass < ((1 << L) >> 1):
                            dc_ctx[cid] = 0
                        elif mclass > ((1 << U) >> 1):
                            dc_ctx[cid] = 12 + 4 * sign
                        else:
                            dc_ctx[cid] = 4 + 4 * sign
                        last_dc[cid] += -v if sign else v
                    blk[0] = last_dc[cid] << al
                else:
                    # refinement: one fixed-bin bit per block (G.2)
                    if dec.decode(fixed, 0):
                        blk[0] |= 1 << al
    return _skip_entropy(buf, dec.bp)


def _arith_prog_ac_scan(
    buf, pos, comps, scan, ac_cond, width, height, ri, ss, se, ah, al,
    grids,
):
    """One progressive-arithmetic AC scan (single component per
    T.81). Returns the marker index ending the scan, or None."""
    if len(scan) != 1 or not 1 <= ss <= se <= 63:
        return None
    cid, _td, ta = scan[0]
    by_id = {c[0]: c for c in comps}
    comp = by_id.get(cid)
    if comp is None or ta > 3:
        return None
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if len(comps) == 1:
        bw, bh = -(-width // 8), -(-height // 8)
    else:
        bw = -(-(width * comp[1]) // (8 * hmax))
        bh = -(-(height * comp[2]) // (8 * vmax))
    nblk = bw * bh
    if nblk > 1 << 22:
        return None
    kx = ac_cond.get(ta, 5)
    abins = bytearray(_QM_AC_BINS)
    fixed = bytearray([_QM_FIXED << 1])
    dec = _QmDecoder(buf, pos)
    rst = 0
    grid = grids.setdefault(cid, {})
    for m in range(nblk):
        if ri and m and m % ri == 0:
            mk = _arith_next_marker(buf, dec.bp)
            if mk is None or buf[mk + 1] != 0xD0 + (rst & 7):
                return None
            rst += 1
            abins = bytearray(_QM_AC_BINS)
            fixed = bytearray([_QM_FIXED << 1])
            dec = _QmDecoder(buf, mk + 2)
        blk = grid.setdefault(divmod(m, bw), [0] * 64)
        if ah == 0:
            # first pass: the sequential AC model over the band
            k = ss
            while k <= se:
                st = 3 * (k - 1)
                if dec.decode(abins, st):
                    break  # EOB
                while dec.decode(abins, st + 1) == 0:
                    st += 3
                    k += 1
                    if k > se:
                        return None
                sign = dec.decode(fixed, 0)
                st2 = st + 2
                msb = dec.decode(abins, st2)
                mpos = st2 + 14
                if msb and dec.decode(abins, st2):
                    msb = 2
                    pos2 = 189 if k <= kx else 217
                    while dec.decode(abins, pos2):
                        msb <<= 1
                        if msb == 0x8000:
                            return None
                        pos2 += 1
                    mpos = pos2 + 14
                sz = msb
                mm = msb
                while mm > 1:
                    mm >>= 1
                    if dec.decode(abins, mpos):
                        sz |= mm
                val = sz + 1
                blk[k] = (-val if sign else val) << al
                k += 1
        else:
            # refinement pass (G.1.3.3)
            p1 = 1 << al
            m1 = -1 << al
            kex = 0
            for k in range(se, ss - 1, -1):
                if blk[k]:
                    kex = k
                    break
            k = ss
            while k <= se:
                st = 3 * (k - 1)
                if k > kex and dec.decode(abins, st):
                    break  # EOB
                while True:
                    if blk[k]:
                        if dec.decode(abins, st + 2):
                            blk[k] += m1 if blk[k] < 0 else p1
                        break
                    if dec.decode(abins, st + 1):
                        blk[k] = m1 if dec.decode(fixed, 0) else p1
                        break
                    st += 3
                    k += 1
                    if k > se:
                        return None
                k += 1
    return _skip_entropy(buf, dec.bp)


def _parse_jpeg_arith_progressive(
    payload: bytes,
) -> tuple[int, int, float] | None:
    """Parse and REALLY decode a PROGRESSIVE ARITHMETIC JPEG (SOF10)
    -> (width, height, mean_byte): multi-scan coefficient
    accumulation (DC first/refine interleaved, AC first/refine per
    component) with the Annex F models over the Annex D QM-coder.
    The mean derives from the final luma DC grid exactly like the
    other JPEG paths."""
    got = _arith_progressive_grids(payload)
    if got is None:
        return None
    width, height, precision, comps, qt, grids = got
    luma = grids.get(comps[0][0])
    if not luma:
        return None
    dc_sum = sum(b[0] for b in luma.values())
    dc_blocks = len(luma)
    q0 = qt[comps[0][3]][0]
    shift = (1 << (precision - 1)) * 8
    num = dc_sum * q0 + shift * dc_blocks
    den = 8 * dc_blocks
    if precision != 8:
        num *= 255
        den *= (1 << precision) - 1
    return width, height, min(255.0, max(0.0, num / den))


def _arith_progressive_grids(payload: bytes):
    """The SOF10 multi-scan walk -> (width, height, precision, comps,
    qt, {cid: {(by, bx): [64 zigzag coeffs]}}) with every scan's
    contribution folded at full scale — the coefficient-level surface
    tests verify exactly."""
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        return None
    i, n = 2, len(payload)
    qt: dict[int, list[int]] = {}
    dc_cond: dict[int, tuple[int, int]] = {}
    ac_cond: dict[int, int] = {}
    comps = None
    width = height = None
    ri = 0
    precision = 8
    grids: dict[int, dict] = {}
    saw_scan = False
    while i + 2 <= n:
        if payload[i] != 0xFF:
            return None
        marker = payload[i + 1]
        i += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:
            break
        if i + 2 > n:
            return None
        (seg_len,) = struct.unpack_from(">H", payload, i)
        if seg_len < 2 or i + seg_len > n:
            return None
        seg = payload[i + 2 : i + seg_len]
        i += seg_len
        if marker == 0xDB:
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                p += 1
                step = 128 if pq else 64
                if p + step > len(seg):
                    return None
                qt[tq] = (
                    list(struct.unpack_from(">64H", seg, p))
                    if pq
                    else list(seg[p : p + 64])
                )
                p += step
        elif marker == 0xCC:
            p = 0
            while p + 2 <= len(seg):
                tc, tb = seg[p] >> 4, seg[p] & 15
                cs = seg[p + 1]
                if tc == 0:
                    dc_cond[tb] = (cs & 15, cs >> 4)
                else:
                    ac_cond[tb] = cs
                p += 2
        elif marker == 0xCA:  # SOF10
            if len(seg) < 6:
                return None
            precision = seg[0]
            if precision not in (8, 12):
                return None
            height, width = struct.unpack_from(">HH", seg, 1)
            nc = seg[5]
            if len(seg) < 6 + 3 * nc or not (0 < width and 0 < height):
                return None
            comps = [
                (seg[6 + 3 * c], seg[7 + 3 * c] >> 4,
                 seg[7 + 3 * c] & 15, seg[8 + 3 * c])
                for c in range(nc)
            ]
        elif marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCB, 0xCD, 0xCE, 0xCF):
            return None
        elif marker == 0xDD:
            if len(seg) < 2:
                return None
            (ri,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:
            if comps is None:
                return None
            ns = seg[0] if seg else 0
            if len(seg) < 4 + 2 * ns:
                return None
            scan = [
                (seg[1 + 2 * c], seg[2 + 2 * c] >> 4, seg[2 + 2 * c] & 15)
                for c in range(ns)
            ]
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ah, al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 15
            if ss == 0:
                if se != 0:
                    return None
                nxt = _arith_prog_dc_scan(
                    payload, i, comps, scan, dc_cond,
                    width, height, ri, ah, al, grids,
                )
            else:
                nxt = _arith_prog_ac_scan(
                    payload, i, comps, scan, ac_cond,
                    width, height, ri, ss, se, ah, al, grids,
                )
            if nxt is None:
                return None
            saw_scan = True
            i = nxt
    if not saw_scan or comps is None or comps[0][3] not in qt:
        return None
    return width, height, precision, comps, qt, grids


# --- Lossless arithmetic (SOF11, T.81 Annex H.2 over the same
# QM-coder) ----------------------------------------------------------
#
# The prediction layer is Annex H.1 — shared with the Huffman
# lossless path, including the round-10 restart first-line rule and
# modulo-2^16 arithmetic. The entropy layer swaps the Huffman
# category for the Annex H.2 statistical model: each difference is
# conditioned on the classification of the two PRECEDING decoded
# differences (Da at the left sample, Db above) into the five
# categories of F.1.4.4.1.1 (zero / +-small / +-large, thresholds
# from the DAC L/U), giving 25 contexts of 4 bins each, plus two
# magnitude-category chains (15 X + 14 M bins) selected by whether
# |Db| is large — the documented 158-bin state. HONESTY NOTE: no
# mainstream encoder emits SOF11 and no sample stream or codec
# library ships offline, so while the QM core, the H.1 prediction,
# and the 158-bin structure follow the published spec, the bin
# ORDERING within the statistics area is an internal choice
# validated by encoder/decoder duality (round-trip fuzz), not
# against third-party streams.

_QM_LL_BINS = 158
_QM_LL_CHAIN_A = 100  # X1..X15 at 100..114, M2..M15 at 115..128
_QM_LL_CHAIN_B = 129  # X1..X15 at 129..143, M2..M15 at 144..157


def _ll_cat(d: int, small: int) -> int:
    """F.1.4.4.1.1 five-way difference classification: 0 zero,
    1/2 +-small (|d| <= small), 3/4 +-large."""
    if d == 0:
        return 0
    if d > 0:
        return 1 if d <= small else 3
    return 2 if -d <= small else 4


def _arith_lossless_scan(
    buf: bytes,
    pos: int,
    precision: int,
    width: int,
    height: int,
    scan_comps: list[tuple[int, int]],
    dc_cond: dict[int, tuple[int, int]],
    restart_interval: int,
    predictor: int,
    pt: int,
    grids: dict[int, list[list[int]]],
) -> int | None:
    """Decode one SOF11 scan (per-sample QM decode under the H.2
    model, H.1 prediction). ``scan_comps`` = (component id, DC table
    id) per interleave slot. Returns the marker index ending the
    scan, or None."""
    if predictor not in _LL_PREDICT or not 0 <= pt < precision:
        return None
    if width * height > 1 << 24:
        return None  # same zero-bit-grind cap class as SOF9/SOF10
    default = 1 << (precision - pt - 1)
    pred_fn = _LL_PREDICT[predictor]

    def fresh():
        stats = {t: bytearray(_QM_LL_BINS) for _, t in scan_comps}
        diffs = {
            cid: [[0] * width for _ in range(2)] for cid, _ in scan_comps
        }
        return stats, diffs

    stats, dgrid = fresh()
    dec = _QmDecoder(buf, pos)
    fresh_sample = True
    first_line = 0
    rst = 0

    def slots():
        # hoist the per-sample dict lookups: (small, bins, drow, g)
        # are scan-constant per component slot
        out = []
        for cid, td in scan_comps:
            _L, U = dc_cond.get(td, (0, 1))
            out.append(
                ((1 << U) >> 1, stats[td], dgrid[cid], grids[cid])
            )
        return out

    comp_slots = slots()
    for mi in range(width * height):
        if restart_interval and mi and mi % restart_interval == 0:
            mk = _arith_next_marker(buf, dec.bp)
            if mk is None or buf[mk + 1] != 0xD0 + (rst & 7):
                return None
            rst += 1
            stats, dgrid = fresh()
            comp_slots = slots()
            dec = _QmDecoder(buf, mk + 2)
            fresh_sample = True
            first_line = mi // width
        y, x = divmod(mi, width)
        for small, bins, drow, g in comp_slots:
            da = drow[y & 1][x - 1] if x else 0
            db = drow[(y - 1) & 1][x] if y else 0
            # the context and the chain selector both classify db
            cb = _ll_cat(db, small)
            st = 4 * (5 * _ll_cat(da, small) + cb)
            diff = dec.decode_diff(
                bins, st, _QM_LL_CHAIN_B if cb >= 3 else _QM_LL_CHAIN_A
            )
            if diff is None:
                return None  # overflow: malformed stream
            drow[y & 1][x] = diff
            if fresh_sample:
                px = default
            elif y == first_line:
                px = g[y][x - 1]
            elif x == 0:
                px = g[y - 1][0]
            else:
                px = pred_fn(g[y][x - 1], g[y - 1][x], g[y - 1][x - 1])
            g[y][x] = (px + diff) & 0xFFFF
        fresh_sample = False
    return _skip_entropy(buf, dec.bp)


def _parse_jpeg_arith_lossless(
    payload: bytes,
) -> tuple[int, int, float] | None:
    """Parse and REALLY decode a LOSSLESS ARITHMETIC JPEG (SOF11) ->
    (width, height, mean_byte): the Annex H.1 predictive walk of the
    Huffman lossless path with the Annex H.2 QM-coded difference
    model. Exact sample reconstruction; mean scales like
    :func:`_parse_jpeg_lossless`."""
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        return None
    i, n = 2, len(payload)
    dc_cond: dict[int, tuple[int, int]] = {}
    comps = None
    width = height = None
    restart_interval = 0
    precision = 0
    grids: dict[int, list[list[int]]] = {}
    comp_tabs: dict[int, int] = {}
    saw_scan = False
    pt_last = 0
    while i + 2 <= n:
        if payload[i] != 0xFF:
            return None
        marker = payload[i + 1]
        i += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:
            break
        if i + 2 > n:
            return None
        (seg_len,) = struct.unpack_from(">H", payload, i)
        if seg_len < 2 or i + seg_len > n:
            return None
        seg = payload[i + 2 : i + seg_len]
        i += seg_len
        if marker == 0xCC:
            p = 0
            while p + 2 <= len(seg):
                tc, tb = seg[p] >> 4, seg[p] & 15
                if tc == 0:
                    dc_cond[tb] = (seg[p + 1] & 15, seg[p + 1] >> 4)
                p += 2
        elif marker == 0xCB:  # SOF11
            if len(seg) < 6:
                return None
            precision = seg[0]
            if not 2 <= precision <= 16:
                return None
            height, width = struct.unpack_from(">HH", seg, 1)
            nc = seg[5]
            if len(seg) < 6 + 3 * nc or not (0 < width and 0 < height):
                return None
            comps = []
            for c in range(nc):
                cid, samp = seg[6 + 3 * c], seg[7 + 3 * c]
                if samp != 0x11:
                    return None  # standard lossless layout only
                comps.append(cid)
                grids[cid] = [[0] * width for _ in range(height)]
        elif marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCD, 0xCE, 0xCF):
            return None
        elif marker == 0xDD:
            if len(seg) < 2:
                return None
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:
            if comps is None:
                return None
            ns = seg[0] if seg else 0
            if len(seg) < 4 + 2 * ns:
                return None
            scan_comps = []
            for c in range(ns):
                cid = seg[1 + 2 * c]
                if cid not in grids:
                    return None
                scan_comps.append((cid, seg[2 + 2 * c] >> 4))
            predictor = seg[1 + 2 * ns]
            pt_last = seg[3 + 2 * ns] & 15
            nxt = _arith_lossless_scan(
                payload, i, precision, width, height, scan_comps,
                dc_cond, restart_interval, predictor, pt_last, grids,
            )
            if nxt is None:
                return None
            for cid, _ in scan_comps:
                comp_tabs[cid] = 1
            saw_scan = True
            i = nxt
    if not saw_scan or comps is None:
        return None
    total = 0
    cnt = 0
    first = grids[comps[0]]
    for row in first:
        for v in row:
            total += v << pt_last
            cnt += 1
    mean = total / cnt * 255.0 / ((1 << precision) - 1)
    return width, height, min(255.0, max(0.0, mean))


def encode_jpeg_arith_lossless(
    planes: list[list[list[int]]],
    predictor: int = 1,
    pt: int = 0,
    precision: int = 8,
    restart_interval: int = 0,
) -> bytes:
    """SOF11 fixture encoder — the dual of
    :func:`_parse_jpeg_arith_lossless` for round-trip tests, sharing
    :func:`encode_jpeg_lossless`'s H.1 conventions (point transform,
    modulo-2^16 minimal representative, restart first-line rule)."""
    if predictor not in _LL_PREDICT:
        raise ValueError("predictor must be 1..7")
    h = len(planes[0])
    w = len(planes[0][0])
    coded = [
        [[v >> pt for v in row] for row in plane] for plane in planes
    ]
    out = bytearray(b"\xff\xd8")
    sof = struct.pack(">BHHB", precision, h, w, len(planes))
    for c in range(len(planes)):
        sof += bytes([c + 1, 0x11, 0])
    out += bytes([0xFF, 0xCB]) + struct.pack(">H", len(sof) + 2) + sof
    out += bytes([0xFF, 0xCC]) + struct.pack(">H", 4) + bytes([0x00, 0x10])
    if restart_interval:
        out += bytes([0xFF, 0xDD]) + struct.pack(">HH", 4, restart_interval)
    scan = bytes([len(planes)])
    for c in range(len(planes)):
        scan += bytes([c + 1, 0x00])
    scan += bytes([predictor, 0, pt & 15])
    out += _sos(scan)
    default = 1 << (precision - pt - 1)
    pred_fn = _LL_PREDICT[predictor]
    small = (1 << 1) >> 1  # default U = 1

    def fresh():
        enc = _QmEncoder()
        # every component's scan slot names DC table 0, so they SHARE
        # one statistics area (T.81 keys statistics by table
        # destination, not by component — the decoder does the same)
        stats = bytearray(_QM_LL_BINS)
        diffs = [[[0] * w for _ in range(2)] for _ in planes]
        return enc, stats, diffs

    enc, stats, dgrid = fresh()
    fresh_sample = True
    first_line = 0
    rst = 0
    for mi in range(w * h):
        if restart_interval and mi and mi % restart_interval == 0:
            out += enc.flush()
            out += bytes([0xFF, 0xD0 + (rst & 7)])
            rst += 1
            enc, stats, dgrid = fresh()
            fresh_sample = True
            first_line = mi // w
        y, x = divmod(mi, w)
        for ci, g in enumerate(coded):
            if fresh_sample:
                px = default
            elif y == first_line:
                px = g[y][x - 1]
            elif x == 0:
                px = g[y - 1][0]
            else:
                px = pred_fn(g[y][x - 1], g[y - 1][x], g[y - 1][x - 1])
            diff = ((g[y][x] - px + 32768) & 0xFFFF) - 32768
            if diff == -32768:
                diff = 32768  # modulo-2^16 positive representative
            drow = dgrid[ci]
            da = drow[y & 1][x - 1] if x else 0
            db = drow[(y - 1) & 1][x] if y else 0
            cb = _ll_cat(db, small)
            st = 4 * (5 * _ll_cat(da, small) + cb)
            enc.encode_diff(
                stats, st,
                _QM_LL_CHAIN_B if cb >= 3 else _QM_LL_CHAIN_A,
                diff,
            )
            drow[y & 1][x] = diff
        fresh_sample = False
    out += enc.flush()
    out += b"\xff\xd9"
    return bytes(out)


class _ArithBlockEncoder:
    """Annex F sequential ENCODER (Figures F.4-F.9) over the
    QM-coder — the dual of :func:`_arith_scan_blocks` for round-trip
    fixtures: grayscale, one statistics table pair."""

    def __init__(self, L: int = 0, U: int = 1, kx: int = 5) -> None:
        self.qm = _QmEncoder()
        self.dc = bytearray(_QM_DC_BINS)
        self.ac = bytearray(_QM_AC_BINS)
        self.fixed = bytearray([_QM_FIXED << 1])
        self.L, self.U, self.kx = L, U, kx
        self.last_dc = 0
        self.dc_ctx = 0

    def put_dc(self, dc: int) -> None:
        """The DC figures alone (Figures F.4/F.6/F.7) — shared by the
        sequential scan and the progressive DC-first scan (which must
        emit NO AC decisions)."""
        diff = dc - self.last_dc
        self.last_dc = dc
        m = self.qm.encode_diff(self.dc, self.dc_ctx, 20, diff)
        if m < 0:
            self.dc_ctx = 0
        else:
            sign = 1 if diff < 0 else 0
            if m < ((1 << self.L) >> 1):
                self.dc_ctx = 0
            elif m > ((1 << self.U) >> 1):
                self.dc_ctx = 12 + 4 * sign
            else:
                self.dc_ctx = 4 + 4 * sign

    def put_block(self, dc: int, ac: list[int]) -> None:
        self.put_dc(dc)
        ke = 0
        for k in range(63, 0, -1):
            if ac[k - 1]:
                ke = k
                break
        k = 1
        while k <= ke:
            st = 3 * (k - 1)
            self.qm.encode(self.ac, st, 0)  # not EOB
            while ac[k - 1] == 0:
                self.qm.encode(self.ac, st + 1, 0)
                st += 3
                k += 1
            self.qm.encode(self.ac, st + 1, 1)
            v = ac[k - 1]
            sign = 1 if v < 0 else 0
            self.qm.encode(self.fixed, 0, sign)
            if sign:
                v = -v
            # magnitude: two decisions on SP, then the X2 chain
            sz = v - 1
            st2 = st + 2
            if sz == 0:
                self.qm.encode(self.ac, st2, 0)
                mpos = st2 + 14
                m = 0
            elif sz == 1:
                self.qm.encode(self.ac, st2, 1)
                self.qm.encode(self.ac, st2, 0)
                mpos = st2 + 14
                m = 1
            else:
                self.qm.encode(self.ac, st2, 1)
                self.qm.encode(self.ac, st2, 1)
                xb = 189 if k <= self.kx else 217
                m = 2
                v2 = sz >> 1
                pos = xb
                while v2 >> 1:
                    self.qm.encode(self.ac, pos, 1)
                    m <<= 1
                    v2 >>= 1
                    pos += 1
                self.qm.encode(self.ac, pos, 0)
                mpos = pos + 14
            mm = m
            while mm > 1:
                mm >>= 1
                self.qm.encode(self.ac, mpos, 1 if (sz & mm) else 0)
            k += 1
        if ke < 63:
            st = 3 * (k - 1)
            self.qm.encode(self.ac, st, 1)  # EOB


def encode_jpeg_arith_blocks(
    blocks: list[tuple[int, list[int]]],
    precision: int = 8,
    restart_interval: int = 0,
) -> bytes:
    """Arithmetic (SOF9) fixture encoder: grayscale, one 8x8 block
    per image row strip (h = 8*len(blocks), w = 8), quant all-8s.
    Each entry is ``(quantized_dc, 63 zigzag quantized ACs)``.
    Restart intervals flush the QM-coder, emit RSTn, and reset
    statistics + predictors exactly where the decoder does."""
    h = 8 * len(blocks)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0]) + bytes([8] * 64))
    out += seg(0xC9, struct.pack(">BHHB", precision, h, 8, 1) + bytes([1, 0x11, 0]))
    out += seg(0xCC, bytes([0x00, 0x10, 0x10, 0x05]))  # L=0 U=1; Kx=5
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    out += seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    enc = _ArithBlockEncoder()
    rst = 0
    for i, (dc, ac) in enumerate(blocks):
        if restart_interval and i and i % restart_interval == 0:
            out += enc.qm.flush()
            out += bytes([0xFF, 0xD0 + (rst & 7)])
            rst += 1
            enc = _ArithBlockEncoder()
        enc.put_block(dc, ac)
    out += enc.qm.flush()
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_arith_progressive(
    blocks: list[tuple[int, list[int]]],
    precision: int = 8,
    restart_interval: int = 0,
    kx: int = 5,
) -> bytes:
    """Progressive-arithmetic (SOF10) fixture encoder — the dual of
    :func:`_parse_jpeg_arith_progressive` for round-trip tests:
    grayscale, quant all-8s, four scans (DC first Al=1, AC first
    Ss=1..63 Al=1, DC refinement, AC refinement) so every integer
    coefficient reconstructs exactly. Each scan flushes its own
    QM-coder; restart intervals flush + RSTn + reset inside every
    scan, mirroring the decoder."""
    h = 8 * len(blocks)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0]) + bytes([8] * 64))
    out += seg(0xCA, struct.pack(">BHHB", precision, h, 8, 1) + bytes([1, 0x11, 0]))
    out += seg(0xCC, bytes([0x00, 0x10, 0x10, kx]))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))

    def ac_first_block(enc, abins, fixed, tvals, ss, se):
        ke = 0
        for k in range(se, ss - 1, -1):
            if tvals[k]:
                ke = k
                break
        k = ss
        while k <= ke:
            st = 3 * (k - 1)
            enc.encode(abins, st, 0)
            while tvals[k] == 0:
                enc.encode(abins, st + 1, 0)
                st += 3
                k += 1
            enc.encode(abins, st + 1, 1)
            v = tvals[k]
            sign = 1 if v < 0 else 0
            enc.encode(fixed, 0, sign)
            sz = (-v if sign else v) - 1
            st2 = st + 2
            if sz == 0:
                enc.encode(abins, st2, 0)
                mpos = st2 + 14
                m = 0
            elif sz == 1:
                enc.encode(abins, st2, 1)
                enc.encode(abins, st2, 0)
                mpos = st2 + 14
                m = 1
            else:
                enc.encode(abins, st2, 1)
                enc.encode(abins, st2, 1)
                xb = 189 if k <= kx else 217
                m = 2
                v2 = sz >> 1
                pos = xb
                while v2 >> 1:
                    enc.encode(abins, pos, 1)
                    m <<= 1
                    v2 >>= 1
                    pos += 1
                enc.encode(abins, pos, 0)
                mpos = pos + 14
            mm = m
            while mm > 1:
                mm >>= 1
                enc.encode(abins, mpos, 1 if (sz & mm) else 0)
            k += 1
        if ke < se:
            enc.encode(abins, 3 * (k - 1), 1)

    def ac_refine_block(enc, abins, fixed, coefs, ss, se, al):
        p = al + 1
        ke = kex = 0
        for k in range(se, ss - 1, -1):
            if abs(coefs[k]) >> al:
                ke = k
                break
        for k in range(ke, ss - 1, -1):
            if abs(coefs[k]) >> p:
                kex = k
                break
        k = ss
        while k <= ke:
            st = 3 * (k - 1)
            if k > kex:
                enc.encode(abins, st, 0)
            while True:
                if abs(coefs[k]) >> p:  # previously nonzero
                    enc.encode(abins, st + 2, (abs(coefs[k]) >> al) & 1)
                    break
                if abs(coefs[k]) >> al:  # newly significant
                    enc.encode(abins, st + 1, 1)
                    enc.encode(fixed, 0, 1 if coefs[k] < 0 else 0)
                    break
                enc.encode(abins, st + 1, 0)
                st += 3
                k += 1
            k += 1
        if ke < se:
            enc.encode(abins, 3 * (k - 1), 1)

    def run_scan(kind, al):
        nonlocal out
        enc = _QmEncoder()
        dm = _ArithBlockEncoder(kx=kx)
        dm.qm = enc
        abins = bytearray(_QM_AC_BINS)
        fixed = bytearray([_QM_FIXED << 1])
        rst = 0
        for i, (dc, ac) in enumerate(blocks):
            if restart_interval and i and i % restart_interval == 0:
                out += enc.flush()
                out += bytes([0xFF, 0xD0 + (rst & 7)])
                rst += 1
                enc = _QmEncoder()
                dm = _ArithBlockEncoder(kx=kx)
                dm.qm = enc
                abins = bytearray(_QM_AC_BINS)
                fixed = bytearray([_QM_FIXED << 1])
            if kind == "dc_first":
                dm.put_dc(dc >> al)
            elif kind == "dc_refine":
                enc.encode(fixed, 0, (dc >> al) & 1)
            elif kind == "ac_first":
                t = [0] * 64
                for k in range(1, 64):
                    v = ac[k - 1]
                    mag = (-v if v < 0 else v) >> al
                    t[k] = -mag if v < 0 else mag
                ac_first_block(enc, abins, fixed, t, 1, 63)
            else:  # ac_refine
                coefs = [0] + list(ac)
                ac_refine_block(enc, abins, fixed, coefs, 1, 63, al)
        out += enc.flush()

    def sos(ss, se, ah, al):
        return seg(0xDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al]))

    out += sos(0, 0, 0, 1)
    run_scan("dc_first", 1)
    out += sos(1, 63, 0, 1)
    run_scan("ac_first", 1)
    out += sos(0, 0, 1, 0)
    run_scan("dc_refine", 0)
    out += sos(1, 63, 1, 0)
    run_scan("ac_refine", 0)
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_arith_gray_blocks(
    values: list[int], precision: int = 8, restart_interval: int = 0
) -> bytes:
    """Constant-block arithmetic sibling of
    :func:`encode_jpeg_gray_blocks_12bit`: quant all-8s makes the
    quantized DC exactly ``v - 2^(P-1)``, so the decoded mean_byte is
    ``mean(values)`` (8-bit) / ``mean(values)*255/4095`` (12-bit)."""
    half = 1 << (precision - 1)
    return encode_jpeg_arith_blocks(
        [(int(v) - half, [0] * 63) for v in values],
        precision=precision,
        restart_interval=restart_interval,
    )


# --- Video: MJPEG-in-AVI (RIFF container walk + per-frame JPEG) -----
#
# Motion-JPEG needs no inter-frame codec state: the AVI 'movi' list
# is a sequence of independent JPEG frames, so the container walk plus
# the baseline-JPEG decoder above gives REAL video frame decode in
# pure Python. Other codecs (H.26x, VP9, AV1) need a codec stack and
# fall through to the unknown-format path.


def _riff_chunks(buf: bytes, pos: int, end: int):
    """Yield (fourcc, body_start, body_size) walking RIFF chunks;
    stops (without yielding garbage) at truncation."""
    while pos + 8 <= end:
        fourcc = buf[pos : pos + 4]
        (size,) = struct.unpack_from("<I", buf, pos + 4)
        if pos + 8 + size > end:
            return
        yield fourcc, pos + 8, size
        pos += 8 + size + (size & 1)  # chunks are word-aligned


def _parse_avi_mjpeg(payload: bytes) -> tuple[int, int, list[bytes]] | None:
    """AVI (RIFF) with an MJPG video stream -> (width, height,
    [jpeg_frame_bytes, ...]). Dimensions come from the 'avih' main
    header; frames are the '00dc'/'00db' chunks of the 'movi' list.
    Returns None (fall through) unless the container declares a
    video stream and carries at least one frame."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        return None
    (riff_size,) = struct.unpack_from("<I", payload, 4)
    end = min(len(payload), 8 + riff_size)
    width = height = None
    has_vids = False
    frames: list[bytes] = []

    def walk(pos: int, stop: int, depth: int = 0) -> None:
        nonlocal width, height, has_vids
        if depth > 16:
            return  # crafted deep LIST nesting must not blow the stack
        for fourcc, body, size in _riff_chunks(payload, pos, stop):
            if fourcc == b"LIST":
                walk(body + 4, body + size, depth + 1)  # skip the subtype
            elif fourcc == b"avih" and size >= 40:
                width, height = struct.unpack_from("<II", payload, body + 32)
            elif fourcc == b"strh" and size >= 8:
                if payload[body : body + 4] == b"vids":
                    has_vids = True
            elif fourcc[2:4] in (b"dc", b"db") and fourcc[:2].isdigit():
                frames.append(payload[body : body + size])

    walk(12, end)
    if not has_vids or width is None or not frames:
        return None
    return width, height, frames


def encode_avi_mjpeg(
    frames: list[bytes], width: int, height: int, fps: int = 10
) -> bytes:
    """Deterministic AVI/MJPG writer for fixtures: hdrl (avih + one
    vids/MJPG strl) + movi of '00dc' JPEG chunks + idx1. Valid RIFF —
    standard players decode it."""

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        return fourcc + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b""
        )

    def lst(subtype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", subtype + body)

    n = len(frames)
    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // fps, 0, 0, 0x10, n, 0, 1, 0, width, height, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<IHHIIIIIIIi", 0, 0, 0, 0, 1, fps, 0, n, 0, 10_000, 0)
        + struct.pack("<4H", 0, 0, width, height)
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, width, height, 1, 24, b"MJPG",
        width * height * 3, 0, 0, 0, 0,
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(
        b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)
    ))
    movi_body = b"".join(chunk(b"00dc", f) for f in frames)
    movi = lst(b"movi", movi_body)
    # idx1: one entry per frame, offsets relative to the movi subtype
    idx, off = b"", 4
    for f in frames:
        idx += b"00dc" + struct.pack("<III", 0x10, off, len(f))
        off += 8 + len(f) + (len(f) & 1)
    riff_body = b"AVI " + hdrl + movi + chunk(b"idx1", idx)
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def avi_frames(
    media: DataFrame,
    every_n_frames: int = 1,
    max_frames: int = 64,
    payload_col: str = "payload",
) -> DataFrame:
    """REAL video frame sampling: walk each AVI payload's movi list
    and emit every Nth JPEG frame as (doc_id, frame_idx, frame_bytes)
    — Arrow-batched mapInPandas, no driver involvement. Non-AVI
    payloads yield no rows (filter upstream on meta.format to audit).
    The frames compose with the image operators: run
    :func:`extract_image_features` on the output for per-frame
    decode."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame_bytes", T.BinaryType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, blobs = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf[payload_col]):
                got = _parse_avi_mjpeg(bytes(payload)) if payload is not None else None
                if got is None:
                    continue
                _, _, frames = got
                taken = 0
                for i in range(0, len(frames), every_n_frames):
                    if taken >= max_frames:
                        break
                    ids.append(doc_id)
                    idxs.append(i)
                    blobs.append(frames[i])
                    taken += 1
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_bytes": blobs}
            )

    return media.select("doc_id", payload_col).mapInPandas(run, schema)


def extract_video_features(media: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Per-video features from REAL decode: container dims, frame
    count, and the mean byte over all frames' (DC-exact) means.
    Non-AVI / non-MJPEG payloads raise — same contract as
    :func:`extract_image_features` for unknown images."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("width", T.LongType()),
            T.StructField("height", T.LongType()),
            T.StructField("n_frames", T.LongType()),
            T.StructField("mean_byte", T.DoubleType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "width", "height", "n_frames", "mean_byte")}
            for doc_id, payload in zip(pdf["doc_id"], pdf[payload_col]):
                got = _parse_avi_mjpeg(bytes(payload)) if payload is not None else None
                if got is None:
                    raise NotImplementedError(
                        "only MJPEG-in-AVI video decodes in pure Python; "
                        "H.26x/VP9/AV1 require ffmpeg"
                    )
                w, h, frames = got
                # exact rational per frame, ONE float division at the
                # end: the correctly-rounded mean over all frames,
                # bit-identical to a SQL avg over the block values
                from fractions import Fraction

                acc = Fraction(0)
                for f in frames:
                    # baseline first; a progressive (SOF2) frame —
                    # rare in MJPEG but legal — decodes via the DC
                    # band path, same exact-rational mean contract
                    dec = _parse_jpeg_exact(f)
                    if dec is None:
                        dec = _parse_jpeg_progressive_exact(f)
                    if dec is None:
                        raise NotImplementedError(
                            "AVI frame is not a decodable JPEG "
                            "(baseline or progressive)"
                        )
                    num, den = dec[2]
                    acc += Fraction(num, den)
                mean = float(acc / len(frames))
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["n_frames"].append(len(frames))
                rows["mean_byte"].append(min(255.0, max(0.0, mean)))
            yield pd.DataFrame(rows)

    return media.select("doc_id", payload_col).mapInPandas(run, schema)


def attach_avi_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Build REAL MJPEG AVIs deterministically from a text table:
    1 + utf8len % 4 frames, each an 8x(8*(1 + utf8len % 16)) grayscale
    JPEG whose block i in frame f is the constant
    (utf8len + 37*i + 11*f) % 256 — every decoded feature has a closed
    form over the text length for the SQL oracle."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, metas = [], []
            for t in pdf[text_col]:
                n_txt = len(t.encode("utf-8")) if t is not None else 0
                hb = 1 + (n_txt % 16)
                nf = 1 + (n_txt % 4)
                frames = [
                    encode_jpeg_gray_blocks(
                        [(n_txt + 37 * i + 11 * f) % 256 for i in range(hb)]
                    )
                    for f in range(nf)
                ]
                p = encode_avi_mjpeg(frames, 8, 8 * hb)
                payloads.append(p)
                metas.append({"format": "avi", "n_bytes": len(p)})
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": "video",
                    "payload": payloads,
                    "meta": metas,
                }
            )

    return df.select("doc_id", text_col).mapInPandas(gen, MEDIA_SCHEMA)


def _parse_wav(payload: bytes) -> dict | None:
    """WAV: walk RIFF chunks (any fmt/data order); fmt -> channels/
    rate/bits, data -> sample count + mean absolute sample. The mean
    is computed for PCM16 only and reported as None for other bit
    depths — a missing value, never a silently-wrong 0.0. A fmt chunk
    declaring zero channels/rate is rejected as malformed."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    idx, n = 12, len(payload)
    channels = rate = bits = None
    data_body = None
    while idx + 8 <= n:
        cid = payload[idx : idx + 4]
        size = struct.unpack_from("<I", payload, idx + 4)[0]
        body = payload[idx + 8 : idx + 8 + size]
        if cid == b"fmt " and len(body) >= 16:
            channels = struct.unpack_from("<H", body, 2)[0]
            rate = struct.unpack_from("<I", body, 4)[0]
            bits = struct.unpack_from("<H", body, 14)[0]
        elif cid == b"data":
            data_body = body
        idx += 8 + size + (size & 1)  # chunks are word-aligned
    if not channels or not rate or not bits:
        return None
    n_samples = 0
    mean_abs: float | None = None
    if data_body is not None:
        frame = channels * bits // 8
        n_samples = len(data_body) // frame if frame else 0
        if bits == 16 and len(data_body) >= 2:
            m = len(data_body) - len(data_body) % 2
            samples = struct.unpack(f"<{m // 2}h", data_body[:m])
            mean_abs = sum(abs(s) for s in samples) / (m // 2)
    return {
        "n_channels": channels,
        "sample_rate": rate,
        "bits_per_sample": bits,
        "n_samples": n_samples,
        "duration_s": n_samples / rate,
        "mean_abs_sample": mean_abs,
    }


def decode_image(
    payload: bytes, fake: bool = False
) -> tuple[int, int, float | None]:
    """Decode one image payload -> (width, height, mean_byte).

    netpbm (P5/P6), PNG, BMP, baseline JPEG, progressive JPEG
    (SOF2 DC-band entropy decode), LOSSLESS JPEG (SOF3 Annex-H
    predictive decode, r9), and the arithmetic-coded JPEG forms
    (SOF9 sequential, SOF10 progressive, SOF11 lossless — r10
    QM-coder decode) all decode for real in pure Python. A
    HIERARCHICAL JPEG (Annex K, r11) decodes its non-differential
    first frame for real — DHP full-image dims + the first frame's
    mean — while a stream whose first frame is differential
    (spec-invalid) or undecodable keeps the pinned dims +
    ``mean_byte=None`` boundary. Other formats need a codec
    library this container does not ship; they raise unless
    ``fake=True`` selects the deterministic byte-derived stand-in
    (pseudo-dimensions + hash-mean from payload length)."""
    out = (
        _parse_netpbm(payload)
        or _parse_png(payload)
        or _parse_bmp(payload)
        # hierarchical BEFORE the flat parsers: they skip unknown
        # segments, so a DHP stream would otherwise fall through to
        # _parse_jpeg and report the first frame's dims instead of
        # the DHP full-image dims
        or _parse_jpeg_hierarchical(payload)
        or _parse_jpeg(payload)
        or _parse_jpeg_lossless(payload)
        or _parse_jpeg_arith(payload)
        or _parse_jpeg_arith_progressive(payload)
        or _parse_jpeg_arith_lossless(payload)
    )
    if out is not None:
        return out
    # a JPEG whose frame every decoder above rejected (corrupt
    # entropy data, exotic SOF the walk recognizes but the decoders
    # don't): the frame header still yields real dimensions — return
    # them with a NULL mean instead of raising
    dims = _parse_jpeg_dims(payload)
    if dims is not None:
        return dims[0], dims[1], None
    if not fake:
        raise NotImplementedError(
            "only netpbm/PNG/BMP/JPEG (every mode: baseline, "
            "progressive, lossless, the arithmetic SOF9/SOF10/SOF11 "
            "forms, and the hierarchical first frame) decode in pure "
            "Python; differential hierarchical refinement frames and "
            "video codecs require PIL/ffmpeg — pass fake=True or "
            "swap in a real decoder"
        )
    n = len(payload)
    width = 64 + (n % 577)
    height = 64 + ((n * 31) % 577)
    mean_byte = (n * 2654435761 % 25600) / 100.0
    return width, height, mean_byte


def extract_image_features(media: DataFrame, fake: bool = False) -> DataFrame:
    """mapInPandas image feature extraction over binary payloads.

    Arrow streams each partition through Python in batches; output is
    a narrow features table. Partitioning of the input is preserved —
    repartition upstream by size if payloads are skewed."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode_image(p, fake=fake) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf["payload"].map(len),
                    "width": [f[0] for f in feats],
                    "height": [f[1] for f in feats],
                    "mean_byte": [f[2] for f in feats],
                }
            )

    return media.mapInPandas(run, IMAGE_FEATURES_SCHEMA)


def extract_audio_features(media: DataFrame) -> DataFrame:
    """mapInPandas WAV feature extraction (real RIFF parse): channel
    count, sample rate, bit depth, sample count, duration, mean
    absolute PCM16 sample. Non-WAV payloads raise."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                w = _parse_wav(p)
                if w is None:
                    raise NotImplementedError(
                        "extract_audio_features decodes WAV only"
                    )
                rows.append({"doc_id": doc_id, **w})
            yield pd.DataFrame(rows)

    return media.mapInPandas(run, AUDIO_FEATURES_SCHEMA)


def sample_frames(media: DataFrame, every_n_bytes: int = 1024, max_frames: int = 8) -> DataFrame:
    """Frame-sampling plumbing: slice the payload at fixed strides
    (stand-in for video keyframe extraction) -> exploded
    (doc_id, frame_idx, frame_bytes). Pure column expressions."""
    n = F.length("payload")
    idxs = F.sequence(
        F.lit(0),
        F.least(F.floor(n / every_n_bytes).cast("int"), F.lit(max_frames - 1)),
    )
    return media.select(
        "doc_id",
        F.posexplode(
            F.transform(
                idxs,
                lambda i: F.substring(
                    F.col("payload"), (i * every_n_bytes + 1).cast("int"), every_n_bytes
                ),
            )
        ).alias("frame_idx", "frame_bytes"),
    )


def _fixture_payload(fmt: str, n_txt: int) -> bytes:
    """Deterministic fixture payload for one (format, text-length)
    pair — the closed forms the attach_* builders use, factored to
    module level so fixture_features and the off-Spark profiling
    harness (tools/profile_multimodal.py) share one definition."""
    h = 1 + (n_txt % 64)
    if fmt == "ppm":
        n = 8 * h * 3
        body = (_PIX_CYCLE * (n // 256 + 1))[:n]
        return b"P6\n8 %d\n255\n" % h + body
    if fmt == "png":
        n = 8 * h
        body = (_PIX_CYCLE * (n // 256 + 1))[:n]
        raw = b"".join(b"\x00" + body[r * 8 : (r + 1) * 8] for r in range(h))
        ihdr = struct.pack(">IIBBBBB", 8, h, 8, 0, 0, 0, 0)
        return (
            _PNG_SIG
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(raw, 6))
            + _png_chunk(b"IEND", b"")
        )
    hb = 1 + (n_txt % 16)
    if fmt == "jpeg":
        return encode_jpeg_gray_blocks(
            [(n_txt + 37 * i) % 256 for i in range(hb)]
        )
    if fmt == "pjpeg":  # progressive: SOF2 DC scans + refinement
        return encode_jpeg_gray_blocks_progressive(
            [(n_txt + 53 * i) % 256 for i in range(hb)]
        )
    if fmt == "ljpeg":  # lossless: SOF3 Annex-H predictive scan
        hl = 1 + (n_txt % 32)
        plane = [
            [(n_txt + 17 * y + 5 * x) % 256 for x in range(8)]
            for y in range(hl)
        ]
        return encode_jpeg_lossless(
            [plane],
            predictor=1 + (n_txt % 7),
            restart_interval=3 if n_txt % 2 else 0,
        )
    if fmt == "ajpeg":  # arithmetic (SOF9, Annex D QM-coder)
        return encode_jpeg_arith_gray_blocks(
            [(n_txt + 71 * i) % 256 for i in range(hb)],
            restart_interval=2 if n_txt % 3 == 0 else 0,
        )
    if fmt == "apjpeg":  # progressive arithmetic (SOF10, G.2)
        return encode_jpeg_arith_progressive(
            [((n_txt + 83 * i) % 256 - 128, [0] * 63)
             for i in range(hb)],
            restart_interval=3 if n_txt % 2 else 0,
        )
    if fmt == "aljpeg":  # lossless arithmetic (SOF11, H.2)
        hl = 1 + (n_txt % 24)
        plane = [
            [(n_txt + 19 * y + 7 * x) % 256 for x in range(8)]
            for y in range(hl)
        ]
        return encode_jpeg_arith_lossless(
            [plane],
            predictor=1 + (n_txt % 7),
            restart_interval=4 if n_txt % 4 == 0 else 0,
        )
    if fmt == "hjpeg":  # hierarchical (Annex K, r11): DHP + a
        # non-differential first frame (mode cycles with the text
        # length) + a differential refinement the decoder must
        # stop before
        return encode_jpeg_hierarchical(
            [(n_txt + 29 * i) % 256 for i in range(hb)],
            first=("baseline", "arith", "lossless")[n_txt % 3],
            restart_interval=2 if n_txt % 5 == 0 else 0,
            refinement=n_txt % 2 == 0,
        )
    nf = 1 + (n_txt % 4)
    frames = [
        encode_jpeg_gray_blocks(
            [(n_txt + 37 * i + 11 * f) % 256 for i in range(hb)]
        )
        for f in range(nf)
    ]
    return encode_avi_mjpeg(frames, 8, 8 * hb)


def fixture_features(
    df: DataFrame,
    formats: tuple = ("ppm", "png", "jpeg", "pjpeg", "ljpeg", "ajpeg",
                      "apjpeg", "aljpeg", "hjpeg", "avi"),
    text_col: str = "text",
    parallelism: int | None = None,
) -> DataFrame:
    """Fused fixture-build + REAL decode for every format in ONE
    Arrow pass over ONE scan: per document, construct each format's
    deterministic payload (same closed forms as the attach_* builders)
    and immediately run it through the real decoder —
    (doc_id, fmt, width, height, mean_byte). The separate
    attach_*/extract_* operators remain the composition surface; this
    is the single-stage path the oracle-checked query and the bench
    use (4 scans + 8 Python stages -> 1 + 1).

    CPU-bound media work scales with cores, not input bytes: a small
    documents file arrives as ONE scan partition, so fan out to
    ``parallelism`` partitions (default: the cluster's
    defaultParallelism) before the Arrow stage — the shuffle moves
    only (doc_id, text), the cheap side of the decode."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("fmt", T.StringType()),
            T.StructField("width", T.LongType()),
            T.StructField("height", T.LongType()),
            T.StructField("mean_byte", T.DoubleType()),
        ]
    )
    build = _fixture_payload

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from fractions import Fraction

        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "fmt", "width", "height", "mean_byte")}
            for doc_id, t in zip(pdf["doc_id"], pdf[text_col]):
                n_txt = len(t.encode("utf-8")) if t is not None else 0
                for fmt in formats:
                    payload = build(fmt, n_txt)
                    if fmt == "avi":
                        got = _parse_avi_mjpeg(payload)
                        assert got is not None
                        w, h, frames = got
                        acc = Fraction(0)
                        for fr in frames:
                            num, den = _parse_jpeg_exact(fr)[2]
                            acc += Fraction(num, den)
                        mean = float(acc / len(frames))
                    else:
                        w, h, mean = decode_image(payload)
                    rows["doc_id"].append(doc_id)
                    rows["fmt"].append(fmt)
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["mean_byte"].append(mean)
            yield pd.DataFrame(rows)

    src = df.select("doc_id", text_col)
    n = parallelism or df.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < n:
        src = src.repartition(n)
    return src.mapInPandas(run, schema)


# --- Progressive AC scans + full-coefficient decode (round 8) -------
#
# Closes the r7 "missing" item: progressive (SOF2) JPEGs now decode
# their AC bands too — spectral selection, successive approximation
# first passes AND refinement passes, EOB runs, ZRL, restart markers —
# in pure Python, per T.81 Annex G (the libjpeg
# decode_mcu_AC_first/decode_mcu_AC_refine control flow, re-derived
# from the spec). The coefficient-level decoder below serves the
# detail/energy features; the mean-only paths above stay DC-only
# (the block mean IS the DC — AC integrates to zero — so decoding AC
# there would be pure waste).


def _decode_ac_scan(
    buf: bytes,
    pos: int,
    comps: list[tuple[int, int, int, int]],
    scan: list[tuple[int, int, int]],
    huff: dict,
    width: int,
    height: int,
    restart_interval: int,
    ss: int,
    se: int,
    ah: int,
    al: int,
    coef: dict[int, dict[tuple[int, int], list[int]]],
) -> int | None:
    """Decode one progressive AC scan (first pass when Ah=0, else
    refinement) into the per-component full-scale coefficient grids
    (zigzag order). AC scans are single-component by T.81 G.1.1.1.1.
    Returns the buffer index of the marker ending the scan, or None
    on a malformed stream."""
    if len(scan) != 1 or not (0 < ss <= se <= 63):
        return None
    cid, _td, ta = scan[0]
    by_id = {c[0]: c for c in comps}
    comp = by_id.get(cid)
    tab = huff.get((1, ta))
    if comp is None or tab is None:
        return None
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if len(comps) == 1:
        bw, bh = -(-width // 8), -(-height // 8)
    else:
        bw = -(-(width * comp[1]) // (8 * hmax))
        bh = -(-(height * comp[2]) // (8 * vmax))
    grid = coef.setdefault(cid, {})
    reader = _JpegBitReader(buf, pos)
    eobrun = 0
    p1, m1 = 1 << al, -(1 << al)
    for m in range(bw * bh):
        if restart_interval and m and m % restart_interval == 0:
            marker = reader.sync_marker()
            if marker is None or not 0xD0 <= marker <= 0xD7:
                return None
            eobrun = 0
        blk = grid.setdefault((m // bw, m % bw), [0] * 64)
        if ah == 0:  # first pass for this band
            if eobrun:
                eobrun -= 1
                continue
            k = ss
            while k <= se:
                rs = reader.huff(tab)
                if rs is None:
                    return None
                r, s = rs >> 4, rs & 15
                if s == 0:
                    if r == 15:  # ZRL: sixteen zeros
                        k += 16
                        continue
                    bits = reader.read(r) if r else 0
                    if bits is None:
                        return None
                    eobrun = (1 << r) - 1 + bits
                    break
                k += r
                if k > se:
                    return None
                mag = reader.read(s)
                if mag is None:
                    return None
                blk[k] = _jpeg_extend(mag, s) << al
                k += 1
            continue
        # refinement pass (Ah = Al + 1): newly-significant coefficients
        # arrive as s=1 symbols; already-significant ones receive one
        # correction bit INLINE at their position while the run
        # advances (T.81 G.1.2.3 / the decode_mcu_AC_refine rule)
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = reader.huff(tab)
                if rs is None:
                    return None
                r, s = rs >> 4, rs & 15
                val = 0
                if s == 0:
                    if r != 15:
                        bits = reader.read(r) if r else 0
                        if bits is None:
                            return None
                        eobrun = (1 << r) + bits  # counts THIS block
                        break
                    # r == 15, s == 0: ZRL — sixteen zero-HISTORY
                    # positions (significant ones crossed get bits)
                else:
                    if s != 1:
                        return None  # refinement codes only s=1
                    bit = reader.read(1)
                    if bit is None:
                        return None
                    val = p1 if bit else m1
                # advance over r zero-history positions, refining the
                # nonzero-history ones crossed on the way
                while k <= se:
                    if blk[k] != 0:
                        bit = reader.read(1)
                        if bit is None:
                            return None
                        if bit and (blk[k] & p1) == 0:
                            blk[k] += p1 if blk[k] > 0 else m1
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if val:
                    if k > se:
                        # a decoded newly-significant coefficient
                        # whose zero-run overran the band is a
                        # malformed stream — honor the None contract
                        # like the first-pass `if k > se` branch
                        # instead of silently dropping the value
                        return None
                    blk[k] = val
                k += 1
        if eobrun > 0:
            # inside an EOB run: the band's remaining significant
            # coefficients still receive their correction bits
            while k <= se:
                if blk[k] != 0:
                    bit = reader.read(1)
                    if bit is None:
                        return None
                    if bit and (blk[k] & p1) == 0:
                        blk[k] += p1 if blk[k] > 0 else m1
                k += 1
            eobrun -= 1
    return _skip_entropy(buf, reader.pos)


_LL_PREDICT = {
    # T.81 table H.1 — Px from Ra (left), Rb (above), Rc (above-left)
    1: lambda ra, rb, rc: ra,
    2: lambda ra, rb, rc: rb,
    3: lambda ra, rb, rc: rc,
    4: lambda ra, rb, rc: ra + rb - rc,
    5: lambda ra, rb, rc: ra + ((rb - rc) >> 1),
    6: lambda ra, rb, rc: rb + ((ra - rc) >> 1),
    7: lambda ra, rb, rc: (ra + rb) >> 1,
}


def _decode_lossless_scan(
    buf: bytes,
    pos: int,
    precision: int,
    width: int,
    height: int,
    scan_tabs: list[tuple[int, dict]],
    restart_interval: int,
    predictor: int,
    pt: int,
    grids: dict[int, list[list[int]]],
) -> int | None:
    """Decode one LOSSLESS (SOF3) scan, T.81 Annex H: per sample a
    DC-class Huffman category + extension bits give the DIFFERENCE
    to the predicted value; prediction comes from the left / above /
    above-left neighbors per the scan's predictor selector, with the
    default ``2^(P - Pt - 1)`` at the scan start and after every
    restart marker; arithmetic is modulo 2^16 (H.1.2.1). Category 16
    codes a difference of exactly 32768 with NO extension bits.
    Components interleave one sample per MCU (sampling 1x1 — the
    standard lossless layout; anything else returns None). Returns
    the index of the marker ending the scan, or None on a malformed
    stream."""
    if predictor not in _LL_PREDICT:
        return None
    if not 0 <= pt < precision:
        # a point transform eating the whole precision leaves no
        # sample bits — malformed (and would shift negatively below)
        return None
    reader = _JpegBitReader(buf, pos)
    default = 1 << (precision - pt - 1)
    pred_fn = _LL_PREDICT[predictor]
    fresh = True  # scan start / just after a restart marker
    first_line = 0  # row where the current restart interval began
    for m in range(width * height):
        if restart_interval and m and m % restart_interval == 0:
            mk = reader.sync_marker()
            if mk is None or not 0xD0 <= mk <= 0xD7:
                return None
            fresh = True
            first_line = m // width
        y, x = divmod(m, width)
        for cid, tab in scan_tabs:
            s = reader.huff(tab)
            if s is None or s > 16:
                return None
            if s == 16:
                diff = 32768  # category 16: no extension bits
            elif s == 0:
                diff = 0
            else:
                v = reader.read(s)
                if v is None:
                    return None
                diff = _jpeg_extend(v, s)
            g = grids[cid]
            if fresh:
                px = default
            elif y == first_line:
                # T.81 H.1.1: the FIRST LINE of the scan AND of each
                # restart interval predicts one-dimensionally with Ra
                # — not just the single sample after the RST marker
                # (conformant DRI streams from DICOM/DNG encoders
                # depend on this; r9 advice)
                px = g[y][x - 1]
            elif x == 0:
                px = g[y - 1][0]
            else:
                px = pred_fn(g[y][x - 1], g[y - 1][x], g[y - 1][x - 1])
            g[y][x] = (px + diff) & 0xFFFF
        fresh = False
    return _skip_entropy(buf, reader.pos)


def _parse_jpeg_lossless(
    payload: bytes,
) -> tuple[int, int, float] | None:
    """Parse and REALLY decode a lossless JPEG (SOF3) in pure Python
    -> (width, height, mean_byte): marker walk (DHT DC-class tables,
    optional DRI), then :func:`_decode_lossless_scan` per scan;
    samples reconstruct exactly (lossless by definition), shift back
    by the point transform, and the mean scales to the byte range
    ``255 / (2^P - 1)``. None for anything that is not a
    well-formed single-frame SOF3 stream with 1x1 sampling."""
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        return None
    n = len(payload)
    i = 2
    huff: dict[tuple[int, int], dict] = {}
    comps = None
    precision = 0
    width = height = 0
    restart_interval = 0
    pt = 0
    grids: dict[int, list[list[int]]] = {}
    saw_scan = False
    while i + 2 <= n:
        if payload[i] != 0xFF:
            return None
        marker = payload[i + 1]
        i += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:
            break
        if i + 2 > n:
            return None
        (seg_len,) = struct.unpack_from(">H", payload, i)
        if seg_len < 2 or i + seg_len > n:
            return None
        seg = payload[i + 2 : i + seg_len]
        i += seg_len
        if marker == 0xC4:
            p = 0
            while p + 17 <= len(seg):
                tc, th = seg[p] >> 4, seg[p] & 15
                bits = list(seg[p + 1 : p + 17])
                cnt = sum(bits)
                if p + 17 + cnt > len(seg):
                    return None
                vals = list(seg[p + 17 : p + 17 + cnt])
                huff[(tc, th)] = _jpeg_huff_decode_table(bits, vals)
                p += 17 + cnt
        elif marker == 0xC3:
            if len(seg) < 6:
                return None
            precision = seg[0]
            if not 2 <= precision <= 16:
                return None
            height, width = struct.unpack_from(">HH", seg, 1)
            nc = seg[5]
            if len(seg) < 6 + 3 * nc or not (0 < width and 0 < height):
                return None
            comps = []
            for c in range(nc):
                cid = seg[6 + 3 * c]
                hv = seg[7 + 3 * c]
                if hv != 0x11:
                    return None  # only 1x1 sampling (Annex H layout)
                comps.append(cid)
                grids[cid] = [[0] * width for _ in range(height)]
        elif 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            return None  # any other frame type: not this parser's job
        elif marker == 0xDD:
            if len(seg) < 2:
                return None
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:
            if comps is None:
                return None
            ns = seg[0] if seg else 0
            if len(seg) < 4 + 2 * ns:
                return None
            scan_tabs = []
            for c in range(ns):
                cid = seg[1 + 2 * c]
                td = seg[2 + 2 * c] >> 4
                tab = huff.get((0, td))
                if cid not in grids or tab is None:
                    return None
                scan_tabs.append((cid, tab))
            predictor = seg[1 + 2 * ns]  # Ss = predictor selector
            se = seg[2 + 2 * ns]
            pt = seg[3 + 2 * ns] & 15  # Al = point transform
            if se != 0:
                return None
            nxt = _decode_lossless_scan(
                payload, i, precision, width, height,
                scan_tabs, restart_interval, predictor, pt, grids,
            )
            if nxt is None:
                return None
            saw_scan = True
            i = nxt
    if not saw_scan or comps is None:
        return None
    total = 0
    cnt = 0
    for cid in comps:
        for row in grids[cid]:
            total += sum(row)
            cnt += len(row)
    scale = (255.0 / ((1 << precision) - 1)) * (1 << pt)
    return width, height, (total / cnt) * scale if cnt else None


#: DC-class Huffman table covering every lossless category 0..16
#: (17 symbols at code length 5 — canonical, valid per T.81)
_JPEG_LL_DC = ([0, 0, 0, 0, 17] + [0] * 11, list(range(17)))


def encode_jpeg_lossless(
    planes: list[list[list[int]]],
    predictor: int = 1,
    pt: int = 0,
    precision: int = 8,
    restart_interval: int = 0,
) -> bytes:
    """Lossless (SOF3) fixture encoder — the inverse of
    :func:`_parse_jpeg_lossless` for round-trip tests: each plane is
    a height x width grid of P-bit samples; the point transform
    codes ``v >> pt`` (the decoder shifts back, so inputs with the
    low ``pt`` bits zero round-trip exactly); differences code
    modulo 2^16 with the minimal signed representative (category 16
    = the bare 32768 difference, no extension bits); restart
    intervals cut the prediction chain exactly where the decoder
    resets it."""
    if predictor not in _LL_PREDICT:
        raise ValueError("predictor must be 1..7")
    h = len(planes[0])
    w = len(planes[0][0])
    coded = [
        [[v >> pt for v in row] for row in plane] for plane in planes
    ]
    out = bytearray(b"\xff\xd8")
    body = bytes([0]) + bytes(_JPEG_LL_DC[0]) + bytes(_JPEG_LL_DC[1])
    out += bytes([0xFF, 0xC4]) + struct.pack(">H", len(body) + 2) + body
    sof = struct.pack(">BHHB", precision, h, w, len(planes))
    for c in range(len(planes)):
        sof += bytes([c + 1, 0x11, 0])
    out += bytes([0xFF, 0xC3]) + struct.pack(">H", len(sof) + 2) + sof
    if restart_interval:
        out += bytes([0xFF, 0xDD]) + struct.pack(">HH", 4, restart_interval)
    scan = bytes([len(planes)])
    for c in range(len(planes)):
        scan += bytes([c + 1, 0x00])
    scan += bytes([predictor, 0, pt & 15])
    out += _sos(scan)
    enc = _jpeg_huff_encode_table(*_JPEG_LL_DC)
    wtr = _JpegBitWriter()
    default = 1 << (precision - pt - 1)
    pred_fn = _LL_PREDICT[predictor]
    fresh = True
    rst = 0
    first_line = 0
    for m in range(w * h):
        if restart_interval and m and m % restart_interval == 0:
            wtr.pad()
            out += wtr.out
            out += bytes([0xFF, 0xD0 + (rst & 7)])
            rst += 1
            wtr = _JpegBitWriter()
            fresh = True
            first_line = m // w
        y, x = divmod(m, w)
        for g in coded:
            if fresh:
                px = default
            elif y == first_line:
                # H.1.1: 1-D Ra prediction for the first line of the
                # scan and of each restart interval (mirrors decoder)
                px = g[y][x - 1]
            elif x == 0:
                px = g[y - 1][0]
            else:
                px = pred_fn(g[y][x - 1], g[y - 1][x], g[y - 1][x - 1])
            diff = ((g[y][x] - px + 32768) & 0xFFFF) - 32768
            if diff == -32768:
                wtr.put(*enc[16])  # category 16: no extension bits
                continue
            s = abs(diff).bit_length()
            wtr.put(*enc[s])
            if s:
                wtr.put(diff if diff >= 0 else diff - 1, s)
        fresh = False
    wtr.pad()
    out += wtr.out
    out += b"\xff\xd9"
    return bytes(out)


def _jpeg_scan_coefficients(
    buf: bytes,
    pos: int,
    comps: list[tuple[int, int, int, int]],
    scan: list[tuple[int, int, int]],
    huff: dict,
    width: int,
    height: int,
    restart_interval: int,
    coef: dict[int, dict[tuple[int, int], list[int]]],
) -> int | None:
    """Baseline sequential scan decode RETAINING every coefficient
    (zigzag order, quantized) — the coefficient-level sibling of
    :func:`_jpeg_scan_mean`, which only folds the DC running sum."""
    by_id = {c[0]: c for c in comps}
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    order = []
    for cid, td, ta in scan:
        comp = by_id.get(cid)
        if comp is None or (0, td) not in huff or (1, ta) not in huff:
            return None
        order.append((comp, huff[(0, td)], huff[(1, ta)]))
    interleaved = len(scan) > 1
    if not interleaved:
        comp = order[0][0]
        if len(comps) == 1:
            bw, bh = -(-width // 8), -(-height // 8)
        else:
            bw = -(-(width * comp[1]) // (8 * hmax))
            bh = -(-(height * comp[2]) // (8 * vmax))
        mcus = bw * bh
    else:
        mcux = -(-width // (8 * hmax))
        mcus = mcux * (-(-height // (8 * vmax)))
    reader = _JpegBitReader(buf, pos)
    preds = {c[0]: 0 for c in comps}

    def block(cid: int, by: int, bx: int, dc_tab, ac_tab) -> bool:
        blk = coef.setdefault(cid, {}).setdefault((by, bx), [0] * 64)
        s = reader.huff(dc_tab)
        if s is None or s > 15:
            return False
        mag = reader.read(s) if s else 0
        if mag is None:
            return False
        preds[cid] += _jpeg_extend(mag, s)
        blk[0] = preds[cid]
        k = 1
        while k < 64:
            rs = reader.huff(ac_tab)
            if rs is None:
                return False
            r, size = rs >> 4, rs & 15
            if size == 0:
                if r == 15:
                    k += 16
                    continue
                break  # EOB
            k += r
            if k > 63:
                return False
            mag = reader.read(size)
            if mag is None:
                return False
            blk[k] = _jpeg_extend(mag, size)
            k += 1
        return True

    for m in range(mcus):
        if restart_interval and m and m % restart_interval == 0:
            marker = reader.sync_marker()
            if marker is None or not 0xD0 <= marker <= 0xD7:
                return None
            preds = {c[0]: 0 for c in comps}
        if interleaved:
            mx, my = m % mcux, m // mcux
            for comp, dc_tab, ac_tab in order:
                cid, ch, cv = comp[0], comp[1], comp[2]
                for byi in range(cv):
                    for bxi in range(ch):
                        if not block(
                            cid, my * cv + byi, mx * ch + bxi,
                            dc_tab, ac_tab,
                        ):
                            return None
        else:
            comp, dc_tab, ac_tab = order[0]
            if not block(comp[0], m // bw, m % bw, dc_tab, ac_tab):
                return None
    return _skip_entropy(buf, reader.pos)


def parse_jpeg_coefficients(
    payload: bytes,
) -> tuple[
    int, int,
    list[tuple[int, int, int, int]],
    dict[int, list[int]],
    dict[int, dict[tuple[int, int], list[int]]],
] | None:
    """Full quantized-coefficient decode of a BASELINE (SOF0/1) or
    PROGRESSIVE (SOF2) JPEG: returns ``(width, height, comps,
    quant_tables, {component_id: {(by, bx): [64 zigzag coeffs]}})``
    with DC at index 0 and every AC band merged at full scale —
    progressive spectral-selection and successive-approximation scans
    (first passes and refinements, EOB runs, ZRL, restarts) all
    fold into the same grids. None on anything malformed or
    non-DCT-Huffman (arithmetic/lossless/12-bit)."""
    if payload[:2] != b"\xff\xd8":
        return None
    i, n = 2, len(payload)
    qt: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    comps: list[tuple[int, int, int, int]] | None = None
    width = height = None
    restart_interval = 0
    progressive = False
    coef: dict[int, dict[tuple[int, int], list[int]]] = {}
    dc: dict[int, dict[tuple[int, int], int]] = {}
    dc_al: dict[int, int] = {}
    saw_scan = False
    while i + 2 <= n:
        if payload[i] != 0xFF:
            return None
        marker = payload[i + 1]
        i += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:
            break
        if i + 2 > n:
            return None
        (seg_len,) = struct.unpack_from(">H", payload, i)
        if seg_len < 2 or i + seg_len > n:
            return None
        seg = payload[i + 2 : i + seg_len]
        i += seg_len
        if marker == 0xDB:
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                p += 1
                if pq:
                    if p + 128 > len(seg):
                        return None
                    qt[tq] = list(struct.unpack_from(">64H", seg, p))
                    p += 128
                else:
                    if p + 64 > len(seg):
                        return None
                    qt[tq] = list(seg[p : p + 64])
                    p += 64
        elif marker == 0xC4:
            p = 0
            while p + 17 <= len(seg):
                tc, th = seg[p] >> 4, seg[p] & 15
                bits = list(seg[p + 1 : p + 17])
                cnt = sum(bits)
                if p + 17 + cnt > len(seg):
                    return None
                vals = list(seg[p + 17 : p + 17 + cnt])
                huff[(tc, th)] = _jpeg_huff_decode_table(bits, vals)
                p += 17 + cnt
        elif marker in (0xC0, 0xC1, 0xC2):
            if len(seg) < 6 or seg[0] != 8:
                return None
            progressive = marker == 0xC2
            height, width = struct.unpack_from(">HH", seg, 1)
            nc = seg[5]
            if len(seg) < 6 + 3 * nc or not (0 < width and 0 < height):
                return None
            comps = [
                (seg[6 + 3 * c], seg[7 + 3 * c] >> 4,
                 seg[7 + 3 * c] & 15, seg[8 + 3 * c])
                for c in range(nc)
            ]
        elif 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            return None  # lossless/arithmetic/hierarchical
        elif marker == 0xDD:
            if len(seg) < 2:
                return None
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:
            if comps is None:
                return None
            ns = seg[0] if seg else 0
            if len(seg) < 4 + 2 * ns:
                return None
            scan = [
                (seg[1 + 2 * c], seg[2 + 2 * c] >> 4, seg[2 + 2 * c] & 15)
                for c in range(ns)
            ]
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ah_al = seg[3 + 2 * ns]
            ah, al = ah_al >> 4, ah_al & 15
            if not progressive:
                nxt = _jpeg_scan_coefficients(
                    payload, i, comps, scan, huff,
                    width, height, restart_interval, coef,
                )
            elif ss == 0:
                if se != 0:
                    return None
                nxt = _decode_dc_scan(
                    payload, i, comps, scan, huff,
                    width, height, restart_interval, ah, al, dc, dc_al,
                )
            else:
                nxt = _decode_ac_scan(
                    payload, i, comps, scan, huff,
                    width, height, restart_interval,
                    ss, se, ah, al, coef,
                )
            if nxt is None:
                return None
            saw_scan = True
            i = nxt
    if not saw_scan or comps is None:
        return None
    # progressive DC grids merge into the coefficient blocks at k=0
    for cid, grid in dc.items():
        dest = coef.setdefault(cid, {})
        for pos_key, v in grid.items():
            dest.setdefault(pos_key, [0] * 64)[0] = v
    return width, height, comps, qt, coef


# full fixture Huffman tables: every DC category 0..11 at code length
# 4, and 176 AC symbols — all EOBn (r<<4, r=0..14: progressive EOB
# runs up to 2^14), ZRL, and every (r,s) for s=1..10 — at code length
# 8; canonical, valid per T.81 (no all-ones max-length code),
# readable by any conforming decoder
_JPEG_FULL_DC = ([0, 0, 0, 12] + [0] * 12, list(range(12)))
_JPEG_FULL_AC = (
    [0] * 7 + [176] + [0] * 8,
    [r << 4 for r in range(15)]
    + [0xF0]
    + [(r << 4) | s for r in range(16) for s in range(1, 11)],
)


def _jpeg_headers(sof_marker: int, n_blocks: int) -> bytearray:
    h = 8 * n_blocks
    out = bytearray(b"\xff\xd8")
    out += bytes([0xFF, 0xDB]) + struct.pack(">H", 67) + bytes([0]) + bytes([8] * 64)
    sof = struct.pack(">BHHB", 8, h, 8, 1) + bytes([1, 0x11, 0])
    out += bytes([0xFF, sof_marker]) + struct.pack(">H", len(sof) + 2) + sof
    for tc, (bits, vals) in ((0, _JPEG_FULL_DC), (1, _JPEG_FULL_AC)):
        body = bytes([tc << 4]) + bytes(bits) + bytes(vals)
        out += bytes([0xFF, 0xC4]) + struct.pack(">H", len(body) + 2) + body
    return out


def _sos(scan_bytes: bytes) -> bytes:
    return bytes([0xFF, 0xDA]) + struct.pack(">H", len(scan_bytes) + 2) + scan_bytes


def encode_jpeg_coeff_blocks(blocks: list[list[int]]) -> bytes:
    """General BASELINE fixture encoder: one grayscale component,
    8px wide, ``len(blocks)`` stacked 8x8 blocks given directly as
    QUANTIZED zigzag coefficient lists (DC at [0]). Quant table all
    8s. The coefficient-level inverse of
    :func:`parse_jpeg_coefficients` — round-trip tests feed arbitrary
    sparse blocks through both."""
    dc_enc = _jpeg_huff_encode_table(*_JPEG_FULL_DC)
    ac_enc = _jpeg_huff_encode_table(*_JPEG_FULL_AC)
    out = _jpeg_headers(0xC0, len(blocks))
    out += _sos(bytes([1, 1, 0x00, 0, 63, 0]))
    w = _JpegBitWriter()
    pred = 0
    for blk in blocks:
        diff = blk[0] - pred
        pred = blk[0]
        s = abs(diff).bit_length()
        w.put(*dc_enc[s])
        if s:
            w.put(diff if diff >= 0 else diff - 1, s)
        run = 0
        last = max((k for k in range(1, 64) if blk[k]), default=0)
        for k in range(1, last + 1):
            v = blk[k]
            if v == 0:
                run += 1
                continue
            while run >= 16:
                w.put(*ac_enc[0xF0])
                run -= 16
            s = abs(v).bit_length()
            w.put(*ac_enc[(run << 4) | s])
            w.put(v if v >= 0 else v - 1, s)
            run = 0
        if last < 63:
            w.put(*ac_enc[0x00])  # EOB
    w.pad()
    out += w.out
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_coeff_blocks_progressive(
    blocks: list[list[int]],
    dc_al: int = 1,
    ac_bands: tuple[tuple[int, int], ...] = ((1, 5), (6, 63)),
    ac_al: int = 1,
) -> bytes:
    """General PROGRESSIVE (SOF2) fixture encoder over the same
    quantized zigzag coefficient blocks: a DC first scan at
    ``Al=dc_al`` plus refinements down to 0, then per spectral band a
    first AC scan at ``Al=ac_al`` plus refinements down to 0 — the
    full Annex G scan script with EOB-run accumulation, ZRL, and the
    buffered-correction-bit refinement coding (the
    encode_mcu_AC_refine control flow, re-derived from T.81 G.1.2.3).
    Decoding with :func:`parse_jpeg_coefficients` must reproduce the
    input blocks exactly; the tests also cross-check against the
    independent baseline encoder/decoder pair."""
    dc_enc = _jpeg_huff_encode_table(*_JPEG_FULL_DC)
    ac_enc = _jpeg_huff_encode_table(*_JPEG_FULL_AC)
    out = _jpeg_headers(0xC2, len(blocks))

    # DC first scan (Al=dc_al): DIFF coding of dc >> al
    out += _sos(bytes([1, 1, 0x00, 0, 0, dc_al & 15]))
    w = _JpegBitWriter()
    pred = 0
    for blk in blocks:
        high = blk[0] >> dc_al  # arithmetic shift, T.81 G.1.2.1
        diff = high - pred
        pred = high
        s = abs(diff).bit_length()
        w.put(*dc_enc[s])
        if s:
            w.put(diff if diff >= 0 else diff - 1, s)
    w.pad()
    out += w.out
    # DC refinements: one raw bit per block per level
    for a in range(dc_al - 1, -1, -1):
        out += _sos(bytes([1, 1, 0x00, 0, 0, ((a + 1) << 4) | a]))
        w = _JpegBitWriter()
        for blk in blocks:
            w.put((blk[0] >> a) & 1, 1)
        w.pad()
        out += w.out

    def emit_ac_first(ss: int, se: int, al: int) -> bytes:
        w = _JpegBitWriter()
        eobrun = 0

        def flush_eob():
            nonlocal eobrun
            if eobrun:
                r = eobrun.bit_length() - 1
                w.put(*ac_enc[r << 4])
                if r:
                    w.put(eobrun - (1 << r), r)
                eobrun = 0

        for blk in blocks:
            t = [
                (abs(blk[k]) >> al) * (1 if blk[k] >= 0 else -1)
                for k in range(ss, se + 1)
            ]
            nz = [i for i, v in enumerate(t) if v]
            if not nz:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob()
                continue
            flush_eob()
            run = 0
            for i in range(nz[-1] + 1):
                v = t[i]
                if v == 0:
                    run += 1
                    continue
                while run >= 16:
                    w.put(*ac_enc[0xF0])
                    run -= 16
                s = abs(v).bit_length()
                w.put(*ac_enc[(run << 4) | s])
                w.put(v if v >= 0 else v - 1, s)
                run = 0
            if nz[-1] < se - ss:
                eobrun += 1
        flush_eob()
        w.pad()
        return bytes(w.out)

    def emit_ac_refine(ss: int, se: int, a: int) -> bytes:
        w = _JpegBitWriter()
        eobrun = 0
        be: list[int] = []  # correction bits owed by the EOB run

        def flush_eob():
            nonlocal eobrun, be
            if eobrun:
                r = eobrun.bit_length() - 1
                w.put(*ac_enc[r << 4])
                if r:
                    w.put(eobrun - (1 << r), r)
                for b in be:
                    w.put(b, 1)
                eobrun = 0
                be = []

        for blk in blocks:
            absv = [abs(blk[k]) >> a for k in range(ss, se + 1)]
            eobpos = max((i for i, v in enumerate(absv) if v == 1), default=-1)
            r = 0
            br: list[int] = []
            for i, t in enumerate(absv):
                if t == 0:
                    r += 1
                    continue
                while r > 15 and i <= eobpos:
                    flush_eob()
                    w.put(*ac_enc[0xF0])
                    r -= 16
                    for b in br:
                        w.put(b, 1)
                    br = []
                if t > 1:  # already significant: one correction bit
                    br.append(t & 1)
                    continue
                # newly significant at this level
                flush_eob()
                w.put(*ac_enc[(r << 4) | 1])
                w.put(1 if blk[ss + i] > 0 else 0, 1)
                for b in br:
                    w.put(b, 1)
                br = []
                r = 0
            if r > 0 or br:
                eobrun += 1
                be.extend(br)
                if eobrun == 0x7FFF:
                    flush_eob()
        flush_eob()
        w.pad()
        return bytes(w.out)

    for ss, se in ac_bands:
        out += _sos(bytes([1, 1, 0x00, ss, se, ac_al & 15]))
        out += emit_ac_first(ss, se, ac_al)
    for a in range(ac_al - 1, -1, -1):
        for ss, se in ac_bands:
            out += _sos(bytes([1, 1, 0x00, ss, se, ((a + 1) << 4) | a]))
            out += emit_ac_refine(ss, se, a)
    out += b"\xff\xd9"
    return bytes(out)


IMAGE_DETAIL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("n_blocks", T.LongType()),
        T.StructField("nonzero_ac", T.LongType()),
        T.StructField("ac_energy", T.DoubleType()),
    ]
)


def extract_image_detail(
    media: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """Coefficient-level JPEG detail features — the thing the round-8
    AC decode buys beyond the DC mean: per image, the luma component's
    dequantized AC energy (``sum((coef_k * q_k)^2)`` over k=1..63 and
    all blocks — an exact integer, emitted as the one-IEEE-division
    per-block average) and the nonzero-AC count, a texture/detail
    signal a training-data curator filters on (flat synthetic images
    score ~0). Baseline AND progressive JPEGs decode through the same
    :func:`parse_jpeg_coefficients`; non-JPEG payloads raise — same
    explicit-boundary contract as the other extractors."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "width", "height", "n_blocks",
                "nonzero_ac", "ac_energy",
            )}
            for doc_id, payload in zip(pdf["doc_id"], pdf[payload_col]):
                got = (
                    parse_jpeg_coefficients(bytes(payload))
                    if payload is not None
                    else None
                )
                if got is None:
                    raise NotImplementedError(
                        "extract_image_detail decodes JPEG "
                        "(baseline + progressive) only"
                    )
                w, h, comps, qt, coef = got
                luma = comps[0]
                q = qt.get(luma[3])
                if q is None:
                    raise NotImplementedError("missing quant table")
                grid = coef.get(luma[0], {})
                energy = 0  # exact int
                nz = 0
                for blk in grid.values():
                    for k in range(1, 64):
                        c = blk[k]
                        if c:
                            nz += 1
                            d = c * q[k]
                            energy += d * d
                nb = max(1, len(grid))
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["n_blocks"].append(len(grid))
                rows["nonzero_ac"].append(nz)
                rows["ac_energy"].append(float(energy) / nb)
            yield pd.DataFrame(rows)

    return media.select("doc_id", payload_col).mapInPandas(
        run, IMAGE_DETAIL_SCHEMA
    )
