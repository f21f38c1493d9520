"""Pure-Python baseline JPEG codec (ITU-T T.81 / ISO 10918-1) for the
multimodal (X5) pipeline — NO Spark imports (the same pure-twin worker
contract as imaging.py / base58.py).

The container ships no PIL/libjpeg, but baseline JFIF needs only integer
bit-twiddling, canonical Huffman tables and an 8×8 DCT — all stdlib — so
the X5 decode step can be REAL for the dominant web image format
(r4 VERDICT #1), with the deterministic stub remaining only for the
genuinely undecodable modalities (audio/video).

Scope (documented subset, not libjpeg):

- **Decoder**: baseline sequential DCT (SOF0; SOF1 accepted — identical
  entropy coding) AND progressive DCT (SOF2, T.81 Annex G: spectral
  selection + successive approximation, DC/AC first and refinement
  scans, EOB runs — the common libjpeg web-crawl scan scripts; r5
  VERDICT #5), 8-bit samples, 1 or 3 components, arbitrary sampling
  factors (4:4:4 / 4:2:2 / 4:2:0 via pixel-replication upsampling),
  restart markers (DRI/RSTn), FF00 byte stuffing, multi-table DQT/DHT
  segments. Arithmetic coding, hierarchical and 12-bit precision
  raise ``ValueError`` (callers fall back to the stub).
- **Color**: decoded component samples are returned AS STORED (Y, or
  interleaved Y/Cb/Cr) — the same no-color-conversion contract as the
  PNG/BMP decoders (imaging.py), because downstream feature extraction
  reduces pixels to dims + checksum. :func:`ycbcr_to_rgb` is provided
  (JFIF/BT.601 full-range) for callers that want RGB, and is what the
  javax.imageio cross-validation tests use.
- **Encoder**: baseline SOF0 JFIF (:func:`encode_jpeg`) and a
  progressive SOF2 twin (:func:`encode_jpeg_progressive`), 1 or 3
  components, 4:4:4 only, the spec's Annex-K "typical" Huffman tables,
  uniform quantization tables (``quant=1`` by default). Three-component input is treated as raw
  Y/Cb/Cr planes (no RGB conversion on either side — symmetric with the
  decoder). With ``quant=1`` an image whose every 8×8 block is constant
  round-trips EXACTLY (flat block ⇒ DC-only spectrum ⇒ integer DC ⇒
  exact IDCT), which is what lets a SQL oracle verify the entire lossy
  codec end-to-end with plain id arithmetic (the x_jpeg_decode declared
  query) — any mangled Huffman code, zigzag slot or quant slot diverges
  the checksum.

Everything here is written to the public spec; the Annex-K table
constants below are normative spec content. Cross-impl parity with the
JVM's ImageIO JPEG plugin (the IJG code) is asserted both directions in
tests/test_imaging.py.
"""

from __future__ import annotations

import functools as _functools
import math
import re as _re
import struct

# ---------------------------------------------------------------------------
# spec constants

# zigzag scan order: zigzag index -> natural (row-major) index (T.81 fig 5)
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Annex K.3 "typical" Huffman tables: (BITS counts for lengths 1..16, HUFFVAL)
DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
DC_CHROM = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
AC_CHROM = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)

# orthonormal 8-point DCT basis: B[u][x] = 0.5*c(u)*cos((2x+1)uπ/16)
_B = [
    [
        0.5 * (1.0 / math.sqrt(2.0) if u == 0 else 1.0)
        * math.cos((2 * x + 1) * u * math.pi / 16.0)
        for x in range(8)
    ]
    for u in range(8)
]


class _HuffTable(dict):
    """Canonical Huffman decode dict plus its flat fast-path LUT (the
    dict walk remains for the progressive decoder's bit-level control
    flow; the baseline hot loop indexes ``fast_lut``)."""

    __slots__ = ("fast_lut",)


@_functools.lru_cache(maxsize=64)
def _build_decode_table_cached(counts: tuple, symbols: tuple) -> dict:
    table = _HuffTable()
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    table.fast_lut = _build_fast_lut_cached(counts, symbols)
    return table


def _build_decode_table(counts: list[int], symbols: list[int]) -> dict:
    """Canonical Huffman: {(length, code): symbol} (T.81 annex C).
    Memoized on the (BITS, HUFFVAL) pair — real corpora overwhelmingly
    reuse the Annex-K tables, and rebuilding per file dominated the
    profile of bulk decode (the cached dict is read-only downstream)."""
    return _build_decode_table_cached(tuple(counts), tuple(symbols))


@_functools.lru_cache(maxsize=64)
def _build_fast_lut_cached(counts: tuple, symbols: tuple) -> list:
    """Flat 2^16-entry Huffman lookup: ``lut[next16bits]`` →
    ``(symbol << 5) | code_length`` (0 = invalid). One list index
    replaces the bit-at-a-time walk of ``decode_huffman`` — the walk
    was 68% of baseline decode time (r6 VERDICT #7). Built once per
    DISTINCT table (bulk corpora reuse the Annex-K tables, so this
    amortizes to nothing) with C-speed slice fills."""
    lut = [0] * (1 << 16)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            entry = (symbols[k] << 5) | length
            lo = code << (16 - length)
            hi = (code + 1) << (16 - length)
            # CORRUPT counts can overflow the code space; clamping keeps
            # the lut exactly 2^16 entries (an out-of-range list slice
            # assignment would silently EXTEND it) and the overflow
            # codes simply stay invalid (entry 0 → decode error)
            if lo < (1 << 16):
                hi = min(hi, 1 << 16)
                lut[lo:hi] = [entry] * (hi - lo)
            code += 1
            k += 1
        code <<= 1
    return lut


class _FastBits:
    """MSB-first bit reader over a PRE-CLEANED entropy segment (FF00
    stuffing removed, no markers — see ``_entropy_segments``), padded
    with 1-bits past the end per T.81. Invariant: ``acc`` holds exactly
    the low ``bits`` unread bits, so peeks are two int ops."""

    __slots__ = ("d", "n", "pos", "acc", "bits")

    def __init__(self, d: bytes):
        self.d = d
        self.n = len(d)
        self.pos = 0
        self.acc = 0
        self.bits = 0

    def peek16(self) -> int:
        while self.bits < 16:
            self.acc = (self.acc << 8) | (
                self.d[self.pos] if self.pos < self.n else 0xFF
            )
            self.pos += 1
            self.bits += 8
        return (self.acc >> (self.bits - 16)) & 0xFFFF

    def skip(self, k: int) -> None:
        self.bits -= k
        self.acc &= (1 << self.bits) - 1

    def receive(self, k: int) -> int:
        if k == 0:
            return 0
        while self.bits < k:
            self.acc = (self.acc << 8) | (
                self.d[self.pos] if self.pos < self.n else 0xFF
            )
            self.pos += 1
            self.bits += 8
        self.bits -= k
        v = self.acc >> self.bits
        self.acc &= (1 << self.bits) - 1
        return v


def _entropy_segments(data: bytes, start: int) -> tuple[list[bytes], list[int]]:
    """Split one scan's entropy-coded data into restart segments, each
    FF00-unstuffed, plus the RSTn numbers between them — all with
    C-speed bytes ops (regex scan + ``replace``) instead of the
    per-byte Python loop the bit reader used to run. Entropy data
    cannot contain a bare FF except stuffing/markers, so the first
    FF-followed-by-neither-00-nor-RSTn ends the scan exactly."""
    end = _skip_to_marker(data, start)
    chunk = data[start:end]
    parts: list[bytes] = []
    markers: list[int] = []
    prev = 0
    for m in _re.finditer(rb"\xff([\xd0-\xd7])", chunk):
        parts.append(chunk[prev : m.start()].replace(b"\xff\x00", b"\xff"))
        markers.append(m.group(1)[0] - 0xD0)
        prev = m.end()
    parts.append(chunk[prev:].replace(b"\xff\x00", b"\xff"))
    return parts, markers


@_functools.lru_cache(maxsize=16)
def _build_encode_table_cached(counts: tuple, symbols: tuple) -> dict:
    return {
        sym: (code, length)
        for (length, code), sym in _build_decode_table(list(counts), list(symbols)).items()
    }


def _build_encode_table(counts: list[int], symbols: list[int]) -> dict:
    """Canonical Huffman the other way: {symbol: (code, length)}."""
    return _build_encode_table_cached(tuple(counts), tuple(symbols))


def _extend(value: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: map ``size`` received bits to a signed value."""
    if size == 0:
        return 0
    if value < (1 << (size - 1)):
        return value - (1 << size) + 1
    return value


def _idct_block(coeffs: list[float]) -> list[int]:
    """8×8 inverse DCT → 64 level-shifted, clamped samples (row-major).

    Fast path: a DC-only block (the overwhelmingly common case for
    flat/smooth content, and ALL blocks of the oracle's synthetic
    images) is a constant — no basis sums needed.
    """
    if not any(coeffs[1:]):
        v = int(round(coeffs[0] / 8.0)) + 128
        v = 0 if v < 0 else (255 if v > 255 else v)
        return [v] * 64
    # separable (u = vertical freq, v = horizontal freq, F at coeffs[u*8+v]):
    # tmp[u][x] = Σ_v B[v][x]·F[u][v];  f[y][x] = Σ_u B[u][y]·tmp[u][x]
    tmp = [[0.0] * 8 for _ in range(8)]
    for u in range(8):
        row = coeffs[u * 8 : u * 8 + 8]
        for x in range(8):
            acc = 0.0
            for v in range(8):
                if row[v]:
                    acc += _B[v][x] * row[v]
            tmp[u][x] = acc
    out = [0] * 64
    for y in range(8):
        by = [_B[u][y] for u in range(8)]
        for x in range(8):
            acc = 0.0
            for u in range(8):
                acc += by[u] * tmp[u][x]
            v = int(round(acc)) + 128
            out[y * 8 + x] = 0 if v < 0 else (255 if v > 255 else v)
    return out


def _idct_blocks_batch(coeff_list: list) -> list[bytes]:
    """Batched :func:`_idct_block` over many 64-coefficient blocks →
    one 64-byte row-major sample block each, BIT-IDENTICAL to the
    scalar path (r6 VERDICT #7 demands byte-equal outputs):

    - accumulation runs as 8 vectorized adds in the same ascending
      frequency order as the scalar loops, so every element performs
      the identical IEEE mul/add sequence (a zero coefficient adds an
      exact ±0.0, which cannot change any accumulated value — the only
      difference from the scalar skip-zero shortcut);
    - DC-only blocks keep their ``round(c0/8)`` shortcut: the full
      basis product ``B₀ₓ²·c0`` differs from ``c0/8`` by an ulp in
      float, and the quant=1 exactness contract rides on the shortcut;
    - ``np.round`` and Python ``round`` are both half-even.
    """
    import numpy as np

    if not coeff_list:
        return []
    if len(coeff_list) < 16:
        # tiny batches (thumbnail-sized images): fixed numpy dispatch
        # overhead exceeds the scalar cost — identical output either way
        return [bytes(_idct_block(c)) for c in coeff_list]
    F = np.asarray(coeff_list, dtype=np.float64)
    n = F.shape[0]
    B = np.asarray(_B)  # B[v][x]
    dc_only = ~np.any(F[:, 1:], axis=1)
    out = np.empty((n, 64), dtype=np.uint8)
    if dc_only.any():
        v = np.round(F[dc_only, 0] / 8.0).astype(np.int64) + 128
        out[dc_only] = np.clip(v, 0, 255).astype(np.uint8)[:, None]
    full = np.flatnonzero(~dc_only)
    if full.size:
        Ff = F[full].reshape(-1, 8, 8)
        tmp = np.zeros_like(Ff)
        for v in range(8):  # tmp[u][x] = Σ_v B[v][x]·F[u][v], v ascending
            tmp += Ff[:, :, v, None] * B[v][None, None, :]
        pix = np.zeros_like(Ff)
        for u in range(8):  # f[y][x] = Σ_u B[u][y]·tmp[u][x], u ascending
            pix += B[u][None, :, None] * tmp[:, u, None, :]
        vals = np.round(pix.reshape(-1, 64)).astype(np.int64) + 128
        out[full] = np.clip(vals, 0, 255).astype(np.uint8)
    return [out[i].tobytes() for i in range(n)]


def _upsample_h2(row: bytes) -> bytes:
    """2× horizontal triangular upsample (weights 3:1, the rounding the
    IJG decoder uses): out[2i] leans on s[i-1], out[2i+1] on s[i+1];
    edge samples replicate."""
    n = len(row)
    if n == 1:
        return bytes([row[0], row[0]])
    out = bytearray(2 * n)
    out[0] = row[0]
    out[1] = (3 * row[0] + row[1] + 2) >> 2
    for i in range(1, n - 1):
        v3 = 3 * row[i]
        out[2 * i] = (v3 + row[i - 1] + 1) >> 2
        out[2 * i + 1] = (v3 + row[i + 1] + 2) >> 2
    out[2 * n - 2] = (3 * row[n - 1] + row[n - 2] + 1) >> 2
    out[2 * n - 1] = row[n - 1]
    return bytes(out)


def _upsample_h2v2(rows: list[bytes]) -> list[bytes]:
    """2×2 triangular upsample: vertical 3:1 blend into column sums, then
    horizontal 3:1 over the sums with /16 rounding (IJG-compatible), so
    4:2:0 decodes track the common decoder to rounding tolerance."""
    nrows = len(rows)
    out: list[bytes] = []
    for r in range(nrows):
        for near_up in (True, False):
            other = rows[max(r - 1, 0)] if near_up else rows[min(r + 1, nrows - 1)]
            cur = rows[r]
            cs = [3 * a + b for a, b in zip(cur, other)]
            n = len(cs)
            if n == 1:
                v = (cs[0] * 4 + 8) >> 4
                out.append(bytes([v, (cs[0] * 4 + 7) >> 4]))
                continue
            row_out = bytearray(2 * n)
            row_out[0] = (cs[0] * 4 + 8) >> 4
            row_out[1] = (cs[0] * 3 + cs[1] + 7) >> 4
            for i in range(1, n - 1):
                v3 = cs[i] * 3
                row_out[2 * i] = (v3 + cs[i - 1] + 8) >> 4
                row_out[2 * i + 1] = (v3 + cs[i + 1] + 7) >> 4
            row_out[2 * n - 2] = (cs[n - 1] * 3 + cs[n - 2] + 8) >> 4
            row_out[2 * n - 1] = (cs[n - 1] * 4 + 7) >> 4
            out.append(bytes(row_out))
    return out


class _BitReader:
    """MSB-first bit reader over entropy-coded data with FF00 unstuffing;
    RSTn markers reset the stream (DC predictors reset at the caller)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bits = 0
        self.nbits = 0

    def _fill(self) -> None:
        d = self.data
        while self.nbits <= 24:
            if self.pos >= len(d):
                # spec: pad with 1-bits at the end of the scan
                self.bits = (self.bits << 8) | 0xFF
                self.nbits += 8
                continue
            b = d[self.pos]
            if b == 0xFF:
                nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
                if nxt == 0x00:
                    self.pos += 2  # stuffed FF
                elif 0xD0 <= nxt <= 0xD7:
                    # restart marker: caller consumes it via sync_restart
                    self.bits = (self.bits << 8) | 0xFF
                    self.nbits += 8
                    continue
                else:  # a real marker: scan is over, pad
                    self.bits = (self.bits << 8) | 0xFF
                    self.nbits += 8
                    continue
            else:
                self.pos += 1
            self.bits = (self.bits << 8) | b
            self.nbits += 8

    def read_bit(self) -> int:
        # the trailing mask keeps ``bits`` a bounded small int: without
        # it consumed high bits accumulate forever and every shift of
        # the growing Python int slows down over the scan
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        bit = (self.bits >> self.nbits) & 1
        self.bits &= (1 << self.nbits) - 1
        return bit

    def receive(self, n: int) -> int:
        # chunked: ``_fill`` only buffers ~32 bits, and CORRUPT Huffman
        # tables can declare magnitude symbols up to 255 — a single
        # bulk read of n > buffered capacity would spin in the fill
        # loop forever (fuzz-found); ≤16-bit chunks always fit
        v = 0
        while n > 16:
            v = (v << 16) | self.receive(16)
            n -= 16
        if n == 0:
            return v
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        v = (v << n) | ((self.bits >> self.nbits) & ((1 << n) - 1))
        self.bits &= (1 << self.nbits) - 1
        return v

    def sync_restart(self, n: int) -> None:
        """Byte-align and consume the expected RSTn marker."""
        self.bits = 0
        self.nbits = 0
        d = self.data
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and d[self.pos + 1] == 0xD0 + (n & 7):
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("JPEG: expected restart marker not found")

    def decode_huffman(self, table: dict) -> int:
        # one flat-LUT index on a 16-bit peek (same fast path as the
        # baseline reader; ``_fill`` pads 1-bits at markers/EOF, so
        # peeking past the last real code is harmless) instead of the
        # bit-at-a-time canonical walk
        lut = getattr(table, "fast_lut", None)
        if lut is None:  # plain-dict table (not built by _parse_dht)
            code = 0
            for length in range(1, 17):
                code = (code << 1) | self.read_bit()
                sym = table.get((length, code))
                if sym is not None:
                    return sym
            raise ValueError("JPEG: invalid Huffman code in scan")
        while self.nbits < 16:
            self._fill()
        v = lut[(self.bits >> (self.nbits - 16)) & 0xFFFF]
        if v == 0:
            raise ValueError("JPEG: invalid Huffman code in scan")
        self.nbits -= v & 31
        self.bits &= (1 << self.nbits) - 1
        return v >> 5


@_functools.lru_cache(maxsize=64)
def _parse_dqt_cached(seg: bytes) -> tuple:
    """DQT segment (possibly several tables) → ((tq, natural-order
    table), ...). Memoized on the raw segment bytes — bulk corpora
    repeat identical quant segments file after file, and the per-file
    re-parse was measurable in the tiny-image decode profile. The
    cached tables are tuples, so no caller can mutate a shared one."""
    out = []
    i = 0
    while i < len(seg):
        pq, tq = seg[i] >> 4, seg[i] & 0xF
        i += 1
        if pq == 0:
            vals = list(seg[i : i + 64])
            i += 64
        else:  # 16-bit table
            vals = [(seg[i + 2 * k] << 8) | seg[i + 2 * k + 1] for k in range(64)]
            i += 128
        tbl = [0] * 64
        for z in range(64):
            tbl[ZIGZAG[z]] = vals[z]
        out.append((tq, tuple(tbl)))
    return tuple(out)


def _parse_dqt(seg: bytes, qtables: dict) -> None:
    """DQT segment (possibly several tables) → natural-order tables."""
    qtables.update(_parse_dqt_cached(bytes(seg)))


@_functools.lru_cache(maxsize=64)
def _parse_dht_cached(seg: bytes) -> tuple:
    """DHT segment → (((tc, th), decode table), ...), memoized on the
    raw segment bytes (same rationale as :func:`_parse_dqt_cached`;
    the inner tables were already memoized on (BITS, HUFFVAL) — this
    also skips the per-file slice/sum re-walk of the segment)."""
    out = []
    i = 0
    while i < len(seg):
        tc, th = seg[i] >> 4, seg[i] & 0xF
        i += 1
        counts = list(seg[i : i + 16])
        i += 16
        nsym = sum(counts)
        symbols = list(seg[i : i + nsym])
        i += nsym
        out.append(((tc, th), _build_decode_table(counts, symbols)))
    return tuple(out)


def _parse_dht(seg: bytes, htables: dict) -> None:
    """DHT segment (possibly several tables) → decode tables."""
    htables.update(_parse_dht_cached(bytes(seg)))


def _assemble_planes(
    planes: list, comps: list, w: int, h: int, mcux: int, hmax: int, vmax: int
) -> bytes:
    """Crop each component plane to its natural size, upsample to full
    resolution (triangular filter for the standard 2× factors — the
    filter libjpeg calls "fancy", so 4:2:0/4:2:2 decodes agree with the
    IJG-based ImageIO plugin to IDCT-rounding tolerance; replication
    fallback for exotic factors) and interleave."""
    nch = len(comps)
    out = bytearray(w * h * nch)
    for ci, c in enumerate(comps):
        cw = (w * c["h"] + hmax - 1) // hmax
        ch_ = (h * c["v"] + vmax - 1) // vmax
        bw_px = mcux * c["h"] * 8
        plane = planes[ci]
        rows = [plane[y * bw_px : y * bw_px + cw] for y in range(ch_)]
        xf = hmax // c["h"] if hmax % c["h"] == 0 else 0
        yf = vmax // c["v"] if vmax % c["v"] == 0 else 0
        if xf == 1 and yf == 1:
            up = rows
        elif xf == 2 and yf == 2:
            up = _upsample_h2v2(rows)
        elif xf == 2 and yf == 1:
            up = [_upsample_h2(r) for r in rows]
        else:  # replication / fractional mapping fallback
            up = []
            for y in range(h):
                sy = min(y // yf if yf else (y * ch_) // h, ch_ - 1)
                src = rows[sy]
                up.append(
                    bytes(
                        src[min(x // xf if xf else (x * cw) // w, cw - 1)]
                        for x in range(w)
                    )
                )
        # row-wise C copies into the interleaved output; same replicate-
        # beyond-edge semantics as the scalar indexing. r17: pure bytes
        # ops — join the cropped rows and place the plane with ONE
        # extended-slice assignment (bytearray step-slices are C-speed);
        # the previous numpy form paid ~32 frombuffer/array dispatches
        # per image, which dominated the tiny-image decode profile.
        n_up = len(up)
        crop = []
        for y in range(h):
            row = up[y] if y < n_up else up[-1]
            if len(row) >= w:
                crop.append(row[:w])
            else:  # replicate the last sample to width (defensive)
                crop.append(row + row[-1:] * (w - len(row)))
        plane_bytes = b"".join(crop)
        if nch == 1:
            out[:] = plane_bytes
        else:
            out[ci::nch] = plane_bytes
    return bytes(out)


def decode_jpeg(data: bytes) -> dict:
    """Baseline or progressive JPEG → ``{format, width, height,
    channels, pixels}``.

    ``pixels`` are the decoded component samples AS STORED (gray, or
    interleaved YCbCr), row-major top-down — see module docstring.
    Progressive (SOF2) streams dispatch to :func:`_decode_progressive`.
    """
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (bad SOI)")
    pos = 2
    qtables: dict[int, tuple[int, ...]] = {}
    htables: dict[tuple[int, int], dict] = {}
    restart_interval = 0
    frame = None  # (w, h, components)
    scan = None
    n = len(data)
    while pos + 4 <= n:
        if data[pos] != 0xFF:
            raise ValueError("JPEG: expected marker")
        marker = data[pos + 1]
        if marker == 0xFF:
            # T.81 B.1.1.2: any number of 0xFF fill bytes may precede a
            # marker — skip one and re-read (r6 ADVICE: treating 0xFF as
            # a marker code mis-parsed conformant encoder output)
            pos += 1
            continue
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue  # TEM/RSTn: no segment body
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        seg = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            _parse_dqt(seg, qtables)
        elif marker == 0xC4:  # DHT
            _parse_dht(seg, htables)
        elif marker in (0xC0, 0xC1):  # SOF0/SOF1 baseline-compatible
            prec, h, w, nc = seg[0], (seg[1] << 8) | seg[2], (seg[3] << 8) | seg[4], seg[5]
            if prec != 8:
                raise ValueError(f"unsupported JPEG precision {prec}")
            if nc not in (1, 3):
                raise ValueError(f"unsupported JPEG component count {nc}")
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c], seg[7 + 3 * c], seg[8 + 3 * c]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq}
                )
            from blockchaintoavro_spark.functions.imaging import check_dims

            check_dims(w, h, "JPEG")  # corrupt SOF dims → block-loop bomb
            frame = (w, h, comps)
        elif marker == 0xC2:  # progressive DCT: multi-scan path
            return _decode_progressive(data)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(f"unsupported JPEG SOF marker {marker:#x}")
        elif marker == 0xDD:  # DRI
            restart_interval = (seg[0] << 8) | seg[1]
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            sel = []
            for c in range(ns):
                cs, tables = seg[1 + 2 * c], seg[2 + 2 * c]
                sel.append({"cs": cs, "td": tables >> 4, "ta": tables & 0xF})
            scan = (sel, pos + seglen)
            pos += seglen
            break
        pos += seglen
    if frame is None or scan is None:
        raise ValueError("JPEG: missing SOF/SOS")

    w, h, comps = frame
    sel, scan_start = scan
    if len(sel) != len(comps):
        raise ValueError("JPEG: non-interleaved multi-scan unsupported")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    by_id = {c["id"]: c for c in comps}
    order = []
    for s in sel:
        c = by_id.get(s["cs"])
        if c is None:
            raise ValueError("JPEG: scan selects unknown component")
        order.append((c, s))
    planes = []
    for c, _ in order:
        bw, bh = mcux * c["h"], mcuy * c["v"]  # blocks incl. MCU padding
        planes.append(bytearray(bw * 8 * bh * 8))
    # per-component decode parameters hoisted out of the MCU loop; the
    # entropy data is pre-segmented at restart markers and FF00-
    # unstuffed in C (bytes ops), and Huffman symbols resolve through
    # one flat-LUT index instead of a bit-at-a-time walk — the walk was
    # 68% of decode time (r6 VERDICT #7). Bit-level semantics are
    # unchanged (same pad-with-1s, same EXTEND, same integer IDCT
    # input), so outputs are byte-identical.
    comp_params = []
    for ci, (c, s) in enumerate(order):
        qt = qtables.get(c["tq"])
        if qt is None:
            raise ValueError("JPEG: missing quant table")
        dc_tbl = htables.get((0, s["td"]))
        ac_tbl = htables.get((1, s["ta"]))
        if dc_tbl is None or ac_tbl is None:
            raise ValueError("JPEG: missing Huffman table")
        comp_params.append((c, qt, dc_tbl.fast_lut, ac_tbl.fast_lut))
    segments, rst_markers = _entropy_segments(data, scan_start)
    seg_i = 0
    bits = _FastBits(segments[0])
    preds = [0] * len(order)
    rst = 0
    mcu_i = 0
    zz = ZIGZAG
    pending_coeffs: list = []
    pending_dst: list = []

    def _flush_pending() -> None:
        # r7 ADVICE: flush the deferred-IDCT batch periodically instead
        # of once at end-of-scan — the pending lists are ~2 KB/block, a
        # multi-hundred-MB transient on large images if held whole.
        # Blocks are independent, so batching granularity cannot change
        # the output bytes.
        for blk, (fci, fx0, fy0) in zip(
            _idct_blocks_batch(pending_coeffs), pending_dst
        ):
            fc = order[fci][0]
            fplane = planes[fci]
            fbw_px = mcux * fc["h"] * 8
            for yy in range(8):
                row0 = (fy0 + yy) * fbw_px + fx0
                fplane[row0 : row0 + 8] = blk[yy * 8 : yy * 8 + 8]
        pending_coeffs.clear()
        pending_dst.clear()

    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                if seg_i >= len(rst_markers) or rst_markers[seg_i] != rst:
                    raise ValueError("JPEG: expected restart marker not found")
                seg_i += 1
                bits = _FastBits(segments[seg_i])
                rst = (rst + 1) & 7
                preds = [0] * len(order)
            for ci, (c, qt, dc_lut, ac_lut) in enumerate(comp_params):
                for vblk in range(c["v"]):
                    for hblk in range(c["h"]):
                        coeffs = [0.0] * 64
                        v = dc_lut[bits.peek16()]
                        if v == 0:
                            raise ValueError("JPEG: invalid Huffman code in scan")
                        bits.skip(v & 31)
                        ssss = v >> 5
                        diff = _extend(bits.receive(ssss), ssss)
                        preds[ci] += diff
                        coeffs[0] = preds[ci] * qt[0]
                        k = 1
                        while k < 64:
                            v = ac_lut[bits.peek16()]
                            if v == 0:
                                raise ValueError(
                                    "JPEG: invalid Huffman code in scan"
                                )
                            bits.skip(v & 31)
                            rs = v >> 5
                            r, size = rs >> 4, rs & 0xF
                            if size == 0:
                                if r == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG: AC index overrun")
                            nat = zz[k]
                            coeffs[nat] = (
                                _extend(bits.receive(size), size) * qt[nat]
                            )
                            k += 1
                        # defer the IDCT: entropy decode is sequential,
                        # but the transforms are independent — batch
                        # them in one vectorized pass after the loop
                        pending_coeffs.append(coeffs)
                        pending_dst.append(
                            (
                                ci,
                                (mx * c["h"] + hblk) * 8,
                                (my * c["v"] + vblk) * 8,
                            )
                        )
            mcu_i += 1
            if len(pending_coeffs) >= 4096:  # ≈ 8 MB of pending lists
                _flush_pending()
    _flush_pending()

    out = _assemble_planes(planes, [c for c, _ in order], w, h, mcux, hmax, vmax)
    return {
        "format": "jpeg",
        "width": w,
        "height": h,
        "channels": len(order),
        "pixels": out,
    }


# ---------------------------------------------------------------------------
# progressive decoder (T.81 Annex G, Huffman successive approximation +
# spectral selection — the common libjpeg web-crawl scan scripts)


def _skip_to_marker(data: bytes, pos: int) -> int:
    """First byte offset ≥ ``pos`` of a real marker (FF followed by
    neither 00 stuffing nor an RSTn). Entropy-coded segments cannot
    contain a bare FF, so this is exact from any in-scan position."""
    n = len(data)
    while pos + 1 < n:
        if data[pos] == 0xFF and data[pos + 1] != 0x00 and not (
            0xD0 <= data[pos + 1] <= 0xD7
        ):
            return pos
        pos += 1
    return n


def _ac_first_block(blk, reader, ac_tbl, ss, se, al, eobrun):
    """First AC scan of a band (Ah=0, G.2): place new coefficients at
    magnitude << Al; EOBn codes start a run of all-zero-band blocks."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = reader.decode_huffman(ac_tbl)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += reader.receive(r)
            return eobrun
        k += r
        if k > se:
            raise ValueError("JPEG: AC index overrun")
        blk[ZIGZAG[k]] = _extend(reader.receive(s), s) << al
        k += 1
    return eobrun


def _ac_refine_block(blk, reader, ac_tbl, ss, se, al, eobrun):
    """AC refinement scan (Ah>0, G.2): one correction bit per already-
    nonzero coefficient in the band; new coefficients arrive as ±1<<Al.
    Python's ``&`` on negative ints is two's-complement, matching the
    spec's bit-append semantics directly."""
    p1 = 1 << al
    m1 = -p1
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = reader.decode_huffman(ac_tbl)
            r, s = rs >> 4, rs & 0xF
            newval = 0
            if s:
                if s != 1:
                    raise ValueError("JPEG: invalid refinement magnitude")
                newval = p1 if reader.read_bit() else m1
            elif r != 15:
                eobrun = 1 << r
                if r:
                    eobrun += reader.receive(r)
                break
            # advance over r zero-history positions, emitting correction
            # bits for the nonzero ones passed along the way
            while k <= se:
                z = ZIGZAG[k]
                if blk[z] != 0:
                    if reader.read_bit() and (blk[z] & p1) == 0:
                        blk[z] += p1 if blk[z] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= se:
                blk[ZIGZAG[k]] = newval
            k += 1
    if eobrun > 0:
        while k <= se:  # EOB run still corrects nonzero history
            z = ZIGZAG[k]
            if blk[z] != 0:
                if reader.read_bit() and (blk[z] & p1) == 0:
                    blk[z] += p1 if blk[z] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _decode_progressive(data: bytes) -> dict:
    """Progressive JPEG (SOF2): accumulate DCT coefficients across all
    scans (DC/AC, first/refinement, per T.81 G.2), then dequantize +
    IDCT once at EOI. Same output contract as :func:`decode_jpeg`."""
    pos = 2
    qtables: dict[int, tuple[int, ...]] = {}
    htables: dict[tuple[int, int], dict] = {}
    restart_interval = 0
    frame = None
    coeff: list[list[list[int]]] = []  # per component, per block, 64 ints
    geom: list[dict] = []
    n = len(data)
    while pos + 2 <= n:
        if data[pos] != 0xFF:
            raise ValueError("JPEG: expected marker")
        marker = data[pos + 1]
        if marker == 0xFF:
            # T.81 B.1.1.2 fill bytes before a marker (r6 ADVICE)
            pos += 1
            continue
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue
        if pos + 2 > n:
            raise ValueError("JPEG: truncated segment header")
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        seg = data[pos + 2 : pos + seglen]
        if marker == 0xDB:
            _parse_dqt(seg, qtables)
        elif marker == 0xC4:
            _parse_dht(seg, htables)
        elif marker == 0xC2:
            prec, h, w, nc = seg[0], (seg[1] << 8) | seg[2], (seg[3] << 8) | seg[4], seg[5]
            if prec != 8:
                raise ValueError(f"unsupported JPEG precision {prec}")
            if nc not in (1, 3):
                raise ValueError(f"unsupported JPEG component count {nc}")
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c], seg[7 + 3 * c], seg[8 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
            from blockchaintoavro_spark.functions.imaging import check_dims

            check_dims(w, h, "JPEG")
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            mcux = (w + 8 * hmax - 1) // (8 * hmax)
            mcuy = (h + 8 * vmax - 1) // (8 * vmax)
            frame = (w, h, comps, hmax, vmax, mcux, mcuy)
            for c in comps:
                bw, bh = mcux * c["h"], mcuy * c["v"]  # MCU-padded blocks
                cw = (w * c["h"] + hmax - 1) // hmax
                ch_ = (h * c["v"] + vmax - 1) // vmax
                geom.append(
                    {
                        "bw": bw,
                        "bh": bh,
                        # non-interleaved scans cover only the natural
                        # block grid (no MCU padding) — T.81 A.2.2
                        "nbw": (cw + 7) // 8,
                        "nbh": (ch_ + 7) // 8,
                    }
                )
                coeff.append([[0] * 64 for _ in range(bw * bh)])
        elif marker in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("JPEG: mixed/unsupported SOF in progressive stream")
        elif marker == 0xDD:
            restart_interval = (seg[0] << 8) | seg[1]
        elif marker == 0xDA:
            if frame is None:
                raise ValueError("JPEG: SOS before SOF")
            pos = _progressive_scan(
                data, pos + seglen, seg, frame, htables, restart_interval, coeff, geom
            )
            continue
        pos += seglen
    if frame is None:
        raise ValueError("JPEG: missing SOF")

    w, h, comps, hmax, vmax, mcux, mcuy = frame
    planes = []
    for ci, c in enumerate(comps):
        qt = qtables.get(c["tq"])
        if qt is None:
            raise ValueError("JPEG: missing quant table")
        g = geom[ci]
        bw_px = g["bw"] * 8
        plane = bytearray(bw_px * g["bh"] * 8)
        for bi, blk in enumerate(coeff[ci]):
            block = _idct_block([blk[z] * qt[z] for z in range(64)])
            x0 = (bi % g["bw"]) * 8
            y0 = (bi // g["bw"]) * 8
            for yy in range(8):
                row0 = (y0 + yy) * bw_px + x0
                plane[row0 : row0 + 8] = bytes(block[yy * 8 : yy * 8 + 8])
        planes.append(plane)
    out = _assemble_planes(planes, comps, w, h, mcux, hmax, vmax)
    return {
        "format": "jpeg",
        "width": w,
        "height": h,
        "channels": len(comps),
        "pixels": out,
    }


def _progressive_scan(
    data, spos, seg, frame, htables, restart_interval, coeff, geom
) -> int:
    """Decode one SOS of a progressive stream into the coefficient
    accumulators; returns the byte offset of the next marker."""
    w, h, comps, hmax, vmax, mcux, mcuy = frame
    ns = seg[0]
    sel = []
    for c in range(ns):
        cs, tables = seg[1 + 2 * c], seg[2 + 2 * c]
        sel.append({"cs": cs, "td": tables >> 4, "ta": tables & 0xF})
    ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
    a = seg[3 + 2 * ns]
    ah, al = a >> 4, a & 0xF
    by_id = {c["id"]: i for i, c in enumerate(comps)}
    order = []
    for s in sel:
        ci = by_id.get(s["cs"])
        if ci is None:
            raise ValueError("JPEG: scan selects unknown component")
        order.append((ci, s))
    reader = _BitReader(data, spos)

    if ss == 0:  # DC scan (se must be 0 per G.1.1.1.1)
        if se != 0:
            raise ValueError("JPEG: DC scan with Se != 0")
        preds = [0] * len(order)
        eob = 0  # unused for DC, kept for restart symmetry
        rst = 0
        mcu_i = 0
        if ns == 1:  # non-interleaved DC scan: MCU = one block
            ci, s = order[0]
            g = geom[ci]
            dc_tbl = htables.get((0, s["td"]))
            if ah == 0 and dc_tbl is None:
                raise ValueError("JPEG: missing Huffman table")
            for by in range(g["nbh"]):
                for bx in range(g["nbw"]):
                    if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                        reader.sync_restart(rst)
                        rst = (rst + 1) & 7
                        preds = [0] * len(order)
                    blk = coeff[ci][by * g["bw"] + bx]
                    if ah == 0:
                        ssss = reader.decode_huffman(dc_tbl)
                        diff = _extend(reader.receive(ssss), ssss)
                        preds[0] += diff
                        blk[0] = preds[0] << al
                    else:
                        blk[0] |= reader.read_bit() << al
                    mcu_i += 1
        else:  # interleaved over MCUs
            for my in range(mcuy):
                for mx in range(mcux):
                    if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                        reader.sync_restart(rst)
                        rst = (rst + 1) & 7
                        preds = [0] * len(order)
                    for oi, (ci, s) in enumerate(order):
                        c = comps[ci]
                        g = geom[ci]
                        dc_tbl = htables.get((0, s["td"]))
                        if ah == 0 and dc_tbl is None:
                            raise ValueError("JPEG: missing Huffman table")
                        for vblk in range(c["v"]):
                            for hblk in range(c["h"]):
                                bx = mx * c["h"] + hblk
                                by = my * c["v"] + vblk
                                blk = coeff[ci][by * g["bw"] + bx]
                                if ah == 0:
                                    ssss = reader.decode_huffman(dc_tbl)
                                    diff = _extend(reader.receive(ssss), ssss)
                                    preds[oi] += diff
                                    blk[0] = preds[oi] << al
                                else:
                                    blk[0] |= reader.read_bit() << al
                    mcu_i += 1
    else:  # AC scan: single component, non-interleaved (G.1.1.1.1)
        if ns != 1:
            raise ValueError("JPEG: interleaved AC scan in progressive stream")
        if not 1 <= ss <= se <= 63:
            raise ValueError("JPEG: bad spectral selection")
        ci, s = order[0]
        g = geom[ci]
        ac_tbl = htables.get((1, s["ta"]))
        if ac_tbl is None:
            raise ValueError("JPEG: missing Huffman table")
        eobrun = 0
        rst = 0
        mcu_i = 0
        refine = _ac_refine_block if ah else _ac_first_block
        for by in range(g["nbh"]):
            for bx in range(g["nbw"]):
                if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                    reader.sync_restart(rst)
                    rst = (rst + 1) & 7
                    eobrun = 0
                blk = coeff[ci][by * g["bw"] + bx]
                eobrun = refine(blk, reader, ac_tbl, ss, se, al, eobrun)
                mcu_i += 1

    return _skip_to_marker(data, reader.pos)


# ---------------------------------------------------------------------------
# encoder


class _BitWriter:
    """MSB-first bit writer with FF00 stuffing; 1-padded flush (T.81 F.1.2.3)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)
        return bytes(self.out)

    def restart(self, n: int) -> None:
        """Byte-align (1-padded; an FF pad byte still gets its stuffed
        00 — it is entropy data) and emit the RSTn marker raw."""
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)
        self.out += bytes([0xFF, 0xD0 + (n & 7)])


def _magnitude(v: int) -> int:
    return v.bit_length() if v >= 0 else (-v).bit_length()


def _dht_segment(tc: int, th: int, counts: list[int], symbols: list[int]) -> bytes:
    body = bytes([tc << 4 | th]) + bytes(counts) + bytes(symbols)
    return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body


def _fdct_blocks_batch(samples: "object") -> "object":
    """8×8 forward DCT over level-shifted samples, batched over an
    ``(n, 64)`` float array (row-major in/out). Each sum accumulates in a
    pinned ascending order, the same discipline as
    :func:`_idct_blocks_batch`."""
    import numpy as np

    B = np.asarray(_B)
    S = (samples - 128.0).reshape(-1, 8, 8)
    tmp = np.zeros_like(S)
    for y in range(8):  # tmp[x][v] = Σ_y B[v][y]·f[x][y], y ascending
        tmp += B[None, None, :, y] * S[:, :, y, None]
    out = np.zeros_like(S)
    for x in range(8):  # F[u][v] = Σ_x B[u][x]·tmp[x][v], x ascending
        out += B[None, :, x, None] * tmp[:, x, None, :]
    return out.reshape(-1, 64)


def _quantize_blocks_nd(
    width: int, height: int, pixels: bytes, channels: int, qtbl: list[int]
):
    """Per channel, per block (row-major), the quantized DCT coefficients
    in ZIGZAG order — the shared front half of both encoders. Partial
    edge blocks are padded by edge replication; flat blocks skip the
    fDCT (DC-only spectrum — the exactness guarantee the oracle queries
    rely on). Vectorized: the pixel gather, flat detection, fDCT and
    quantization all run as batch numpy ops (the per-sample Python loop
    was the encoder's hottest path at small image sizes), with the fDCT
    accumulation order pinned to the scalar reference so outputs stay
    bit-identical."""
    import numpy as np

    bx_n = (width + 7) // 8
    by_n = (height + 7) // 8
    img = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width, channels)
    ys = np.minimum(np.arange(by_n * 8), height - 1)
    xs = np.minimum(np.arange(bx_n * 8), width - 1)
    padded = img[ys[:, None], xs[None, :], :]  # edge replication
    # (by, 8, bx, 8, c) -> (c, by, bx, 64) -> (c*nblk, 64) in the same
    # (by, bx) raster order per channel as the scalar loops emitted
    blocks = (
        padded.reshape(by_n, 8, bx_n, 8, channels)
        .transpose(4, 0, 2, 1, 3)
        .reshape(channels, by_n * bx_n, 64)
        .astype(np.float64)
    )
    flat_mask = np.all(blocks == blocks[:, :, :1], axis=2)
    nblk = by_n * bx_n
    quant = np.zeros((channels, nblk, 64), dtype=np.int64)
    if flat_mask.any():
        dc = np.round(
            8.0 * (blocks[:, :, 0] - 128.0) / qtbl[0]
        ).astype(np.int64)
        quant[:, :, 0] = np.where(flat_mask, dc, 0)
    full = ~flat_mask
    if full.any():
        coeffs = _fdct_blocks_batch(blocks[full])
        zz = np.asarray(ZIGZAG)
        q = np.round(coeffs[:, zz] / np.asarray(qtbl, dtype=np.float64)).astype(
            np.int64
        )
        quant[full] = q
    return quant


def _quantize_blocks(
    width: int, height: int, pixels: bytes, channels: int, qtbl: list[int]
) -> list[list[list[int]]]:
    return [
        q.tolist()
        for q in _quantize_blocks_nd(width, height, pixels, channels, qtbl)
    ]


def _quantize_blocks_with_lastnz(
    width: int, height: int, pixels: bytes, channels: int, qtbl: list[int]
):
    """:func:`_quantize_blocks` plus, per channel/block, the index of the
    last nonzero AC coefficient (0 when none) — computed in one
    vectorized pass so the baseline entropy loop skips its per-block
    63-step reverse scan (r17; values identical to the scalar scan by
    construction: max over positions 1..63 where the coefficient is
    nonzero)."""
    import numpy as np

    q = _quantize_blocks_nd(width, height, pixels, channels, qtbl)
    idx = np.arange(64, dtype=np.int64)
    lastnz = np.max(np.where((q != 0) & (idx >= 1), idx, 0), axis=2)
    return [c.tolist() for c in q], lastnz.tolist()


@_functools.lru_cache(maxsize=64)
def _baseline_header(width: int, height: int, channels: int, quant: int) -> bytes:
    """Everything of a baseline encode before the entropy data — a pure
    function of (w, h, channels, quant), memoized because bulk encodes
    repeat a handful of geometries and the per-call struct/segment
    assembly was measurable in the tiny-image profile. Bytes are
    byte-identical to the previous inline assembly."""
    qtbl = [quant] * 64
    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += (
        b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00"
        + struct.pack(">HH", 1, 1) + b"\x00\x00"
    )
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(qtbl)
    if channels == 3:
        out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x01" + bytes(qtbl)
    # SOF0: all components 1x1 (4:4:4)
    sof = bytearray(struct.pack(">BHHB", 8, height, width, channels))
    for c in range(channels):
        sof += bytes([c + 1, 0x11, 0 if c == 0 else 1])
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    out += _dht_segment(0, 0, *DC_LUM)
    out += _dht_segment(1, 0, *AC_LUM)
    if channels == 3:
        out += _dht_segment(0, 1, *DC_CHROM)
        out += _dht_segment(1, 1, *AC_CHROM)
    sos = bytearray([channels])
    for c in range(channels):
        sos += bytes([c + 1, 0x00 if c == 0 else 0x11])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
    return bytes(out)


def encode_jpeg(
    width: int, height: int, pixels: bytes, channels: int = 1, quant: int = 1
) -> bytes:
    """Minimal spec-valid baseline JFIF writer (4:4:4, Annex-K Huffman
    tables, uniform quant table of value ``quant``). Three-channel input
    is raw interleaved Y/Cb/Cr (see module docstring). Partial edge
    blocks are padded by edge replication."""
    if channels not in (1, 3):
        raise ValueError(f"unsupported channel count {channels}")
    if len(pixels) != width * height * channels:
        raise ValueError("pixels length != width*height*channels")
    if not 1 <= quant <= 255:
        raise ValueError("quant must be in [1, 255]")

    qtbl = [quant] * 64
    out = bytearray(_baseline_header(width, height, channels, quant))

    enc_dc = [_build_encode_table(*DC_LUM), _build_encode_table(*DC_CHROM)]
    enc_ac = [_build_encode_table(*AC_LUM), _build_encode_table(*AC_CHROM)]
    bw = _BitWriter()
    blocks, lastnz = _quantize_blocks_with_lastnz(
        width, height, pixels, channels, qtbl
    )
    preds = [0] * channels
    for bi in range(len(blocks[0])):
        for c in range(channels):
            quantized = blocks[c][bi]
            t = 0 if c == 0 else 1
            diff = quantized[0] - preds[c]
            preds[c] = quantized[0]
            ssss = _magnitude(diff)
            code, ln = enc_dc[t][ssss]
            bw.write(code, ln)
            if ssss:
                bw.write(diff if diff > 0 else diff + (1 << ssss) - 1, ssss)
            run = 0
            # vectorized in _quantize_blocks_with_lastnz (identical to
            # the former per-block 63-step reverse scan)
            last_nz = lastnz[c][bi]
            for k in range(1, last_nz + 1):
                v = quantized[k]
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, ln = enc_ac[t][0xF0]  # ZRL
                    bw.write(code, ln)
                    run -= 16
                size = _magnitude(v)
                code, ln = enc_ac[t][(run << 4) | size]
                bw.write(code, ln)
                bw.write(v if v > 0 else v + (1 << size) - 1, size)
                run = 0
            if last_nz != 63:
                code, ln = enc_ac[t][0x00]  # EOB
                bw.write(code, ln)
    out += bw.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_jpeg_progressive(
    width: int,
    height: int,
    pixels: bytes,
    channels: int = 1,
    quant: int = 1,
    restart_interval: int = 0,
) -> bytes:
    """Spec-valid PROGRESSIVE JFIF writer (SOF2, 4:4:4, Annex-K tables,
    uniform quant) — the pure twin that lets the declared query exercise
    the multi-scan decoder worker-side with no external tool.

    Scan script (successive approximation Al=1→0, full-band spectral
    selection): interleaved DC first (Al=1); per component AC first
    (Ss=1..63, Al=1); per component AC refinement (Ah=1, Al=0);
    interleaved DC refinement. Annex-K AC tables carry only EOB0, so
    end-of-band runs are emitted one block at a time (spec-legal;
    decoder EOBn>0 handling is exercised by the libjpeg-written files in
    tests/test_imaging.py). Same exactness property as the baseline
    encoder: flat blocks are DC-only, and ``(d>>1)<<1 | (d&1) == d`` in
    two's complement, so quant=1 flat images round-trip EXACTLY through
    the successive-approximation path.

    ``restart_interval`` > 0 emits a DRI segment and RSTn markers every
    that many MCUs in EVERY scan (predictors and EOB-run state reset,
    modulo-8 marker numbering restarting per scan, T.81 E.1.4) — the
    resync points a 100 TB pipeline wants so one flipped bit corrupts
    one restart interval, not the rest of the image."""
    if channels not in (1, 3):
        raise ValueError(f"unsupported channel count {channels}")
    if len(pixels) != width * height * channels:
        raise ValueError("pixels length != width*height*channels")
    if not 1 <= quant <= 255:
        raise ValueError("quant must be in [1, 255]")

    qtbl = [quant] * 64
    out = bytearray()
    out += b"\xff\xd8"
    out += (
        b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00"
        + struct.pack(">HH", 1, 1) + b"\x00\x00"
    )
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(qtbl)
    if channels == 3:
        out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x01" + bytes(qtbl)
    sof = bytearray(struct.pack(">BHHB", 8, height, width, channels))
    for c in range(channels):
        sof += bytes([c + 1, 0x11, 0 if c == 0 else 1])
    out += b"\xff\xc2" + struct.pack(">H", len(sof) + 2) + sof  # SOF2
    out += _dht_segment(0, 0, *DC_LUM)
    out += _dht_segment(1, 0, *AC_LUM)
    if channels == 3:
        out += _dht_segment(0, 1, *DC_CHROM)
        out += _dht_segment(1, 1, *AC_CHROM)

    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)

    enc_dc = [_build_encode_table(*DC_LUM), _build_encode_table(*DC_CHROM)]
    enc_ac = [_build_encode_table(*AC_LUM), _build_encode_table(*AC_CHROM)]
    blocks = _quantize_blocks(width, height, pixels, channels, qtbl)

    def sos_header(comps: list[tuple[int, int]], ss: int, se: int, ah: int, al: int) -> bytes:
        body = bytearray([len(comps)])
        for cid, tables in comps:
            body += bytes([cid, tables])
        body += bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + struct.pack(">H", len(body) + 2) + bytes(body)

    # scan 1: DC first, interleaved, Al=1 (point transform = arithmetic
    # shift right, G.1.2.1; diffs are coded in the shifted domain)
    out += sos_header([(c + 1, 0x00 if c == 0 else 0x11) for c in range(channels)], 0, 0, 0, 1)
    bw = _BitWriter()
    preds = [0] * channels
    rst = 0
    for bi in range(len(blocks[0])):
        if restart_interval and bi and bi % restart_interval == 0:
            bw.restart(rst)
            rst = (rst + 1) & 7
            preds = [0] * channels
        for c in range(channels):
            d = blocks[c][bi][0] >> 1
            t = 0 if c == 0 else 1
            diff = d - preds[c]
            preds[c] = d
            ssss = _magnitude(diff)
            code, ln = enc_dc[t][ssss]
            bw.write(code, ln)
            if ssss:
                bw.write(diff if diff > 0 else diff + (1 << ssss) - 1, ssss)
    out += bw.flush()

    # per component: AC first scan, Ss=1..63, Al=1 (AC point transform
    # truncates toward zero, G.1.2.2)
    for c in range(channels):
        t = 0 if c == 0 else 1
        out += sos_header([(c + 1, t << 4 | t)], 1, 63, 0, 1)
        bw = _BitWriter()
        rst = 0
        for bi in range(len(blocks[c])):
            if restart_interval and bi and bi % restart_interval == 0:
                bw.restart(rst)
                rst = (rst + 1) & 7
            band = blocks[c][bi]
            v1 = [
                (abs(band[k]) >> 1) * (1 if band[k] > 0 else -1)
                for k in range(1, 64)
            ]
            run = 0
            last_nz = -1
            for i in range(62, -1, -1):
                if v1[i]:
                    last_nz = i
                    break
            for i in range(last_nz + 1):
                v = v1[i]
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, ln = enc_ac[t][0xF0]
                    bw.write(code, ln)
                    run -= 16
                size = _magnitude(v)
                code, ln = enc_ac[t][(run << 4) | size]
                bw.write(code, ln)
                bw.write(v if v > 0 else v + (1 << size) - 1, size)
                run = 0
            if last_nz != 62:
                code, ln = enc_ac[t][0x00]  # EOB0 (run of exactly 1)
                bw.write(code, ln)
        out += bw.flush()

    # per component: AC refinement scan, Ah=1, Al=0 — emission order
    # mirrors the decoder's consumption exactly: Huffman symbol, sign
    # bit, then the buffered correction bits of the nonzero-history
    # positions the decoder passes while advancing that symbol's span
    for c in range(channels):
        t = 0 if c == 0 else 1
        out += sos_header([(c + 1, t << 4 | t)], 1, 63, 1, 0)
        bw = _BitWriter()
        rst = 0
        for bi in range(len(blocks[c])):
            if restart_interval and bi and bi % restart_interval == 0:
                bw.restart(rst)
                rst = (rst + 1) & 7
            band = [blocks[c][bi][k] for k in range(1, 64)]
            # pending events since the last emitted symbol, in position
            # order: 'z' (zero-history, still zero) or ('b', bit)
            # (nonzero-history → correction bit = bit Al of |v|)
            pending: list = []
            for v in band:
                av = abs(v)
                if av == 0:
                    pending.append("z")
                elif av > 1:
                    pending.append(("b", av & 1))
                else:  # newly significant (|v| == 1 at this Al)
                    while sum(1 for e in pending if e == "z") > 15:
                        code, ln = enc_ac[t][0xF0]  # ZRL: next 16 zeros
                        bw.write(code, ln)
                        nz = 0
                        while nz < 16:
                            e = pending.pop(0)
                            if e == "z":
                                nz += 1
                            else:
                                bw.write(e[1], 1)
                    r = sum(1 for e in pending if e == "z")
                    code, ln = enc_ac[t][(r << 4) | 1]
                    bw.write(code, ln)
                    bw.write(1 if v > 0 else 0, 1)  # sign
                    for e in pending:
                        if e != "z":
                            bw.write(e[1], 1)
                    pending = []
            if pending:
                code, ln = enc_ac[t][0x00]  # EOB0: corrections to band end
                bw.write(code, ln)
                for e in pending:
                    if e != "z":
                        bw.write(e[1], 1)
        out += bw.flush()

    # final scan: DC refinement, interleaved, Ah=1, Al=0 (raw bits, no
    # Huffman table)
    out += sos_header([(c + 1, 0x00) for c in range(channels)], 0, 0, 1, 0)
    bw = _BitWriter()
    rst = 0
    for bi in range(len(blocks[0])):
        if restart_interval and bi and bi % restart_interval == 0:
            bw.restart(rst)
            rst = (rst + 1) & 7
        for c in range(channels):
            bw.write(blocks[c][bi][0] & 1, 1)
    out += bw.flush()

    out += b"\xff\xd9"
    return bytes(out)


def ycbcr_to_rgb(pixels: bytes, width: int, height: int) -> bytes:
    """JFIF (BT.601 full-range) YCbCr → RGB for 3-channel decoded pixels;
    the conversion the javax.imageio cross-validation compares against."""
    if len(pixels) != width * height * 3:
        raise ValueError("pixels length != width*height*3")
    out = bytearray(len(pixels))
    for i in range(0, len(pixels), 3):
        y, cb, cr = pixels[i], pixels[i + 1] - 128, pixels[i + 2] - 128
        r = int(round(y + 1.402 * cr))
        g = int(round(y - 0.344136 * cb - 0.714136 * cr))
        b = int(round(y + 1.772 * cb))
        out[i] = 0 if r < 0 else (255 if r > 255 else r)
        out[i + 1] = 0 if g < 0 else (255 if g > 255 else g)
        out[i + 2] = 0 if b < 0 else (255 if b > 255 else b)
    return bytes(out)
