"""Baseline JPEG codec — pure numpy + stdlib, no image libraries.

Implements ITU-T T.81 baseline sequential DCT: JFIF container, 8-bit
samples, YCbCr 4:4:4 (no subsampling), the Annex K quantization and
Huffman tables, canonical Huffman entropy coding with byte stuffing.
Public-knowledge implementation (T.81 spec + JFIF 1.02); the reference
repo has no image surface — this serves the BASELINE.json input_hint
PSNR gate with a REAL lossy format instead of the round-1..3 stub.

Decoder scope (documented, ValueError on anything else): baseline SOF0
AND progressive SOF2 (decode_jpeg dispatches; Annex G spectral
selection + successive approximation live in jpeg_progressive.py),
8-bit precision, 1 or 3 components, sampling factors 1..2 per axis —
which covers 4:4:4, 4:2:2 and the real-world-dominant 4:2:0 — restart
intervals (DRI + RSTn segment splitting, DC predictor resets), no
arithmetic coding or hierarchical mode. The encoder emits 4:4:4
(default) or 4:2:0, optionally with restart markers — and the tests'
progressive encoder (tests/scalar_reference.py) emits the 10-scan
progressive script — so every supported layout verifies end to end
without external fixtures.

Performance shape: everything per-image is vectorized across blocks
(level shift, DCT/IDCT as two 8x8 matrix products over the whole block
stack, quantization, zigzag) EXCEPT the entropy loop, which is
inherently sequential per stream; it runs over Python-int bit buffers
with 16-bit peek lookup tables (built once per table and cached), so
cost is O(symbols) with small constants. Batch-level parallelism comes
from Spark: one image per row, Arrow batches across cores.
"""

from __future__ import annotations

import functools
import struct

import numpy as np

# Corrupt streams drive the bit/byte parsers off the rails in ways
# that surface as stdlib exceptions rather than our own checks:
# IndexError (truncated DHT value list in _canonical_codes, short
# header slices), OverflowError (np.int64 construction from a DC
# predictor inflated past 2^63 by a garbage Huffman table),
# struct.error (truncated fixed-width header fields), KeyError
# (scan referencing an undeclared table id). The module contract is
# "ValueError on anything else" — normalize at the decoder entry
# points so one garbage payload becomes a status row in the Spark
# operators (payload.verify_payloads etc.), not a task failure.
_CORRUPT_ERRORS = (IndexError, OverflowError, struct.error, KeyError)


def _valueerror_on_corruption(fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except _CORRUPT_ERRORS as exc:
            raise ValueError(
                f"corrupt JPEG stream: {type(exc).__name__}: {exc}"
            ) from exc
    return wrapper

# ---------------------------------------------------------------- tables

# zigzag scan: ZIGZAG[i] = row-major index of zigzag position i
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# Annex K.1 / K.2 quantization tables (row-major)
Q_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.float64)
Q_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.float64)

# Annex K.3-K.6 Huffman table specs: (BITS[1..16], HUFFVAL)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II matrix: forward F = D f D^T, inverse
    f = D^T F D (T.81 A.3.3 up to the orthonormal scaling)."""
    k = np.arange(8).reshape(8, 1)
    n = np.arange(8).reshape(1, 8)
    D = 0.5 * np.cos((2 * n + 1) * k * np.pi / 16.0)
    D[0, :] /= np.sqrt(2.0)
    return D


_DCT = _dct_matrix()


def quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """IJG-style quality scaling of the Annex K tables (public
    formula): scale = 5000/q below 50, 200 - 2q above."""
    q = min(max(int(quality), 1), 100)
    scale = 5000.0 / q if q < 50 else 200.0 - 2.0 * q
    out = []
    for base in (Q_LUMA, Q_CHROMA):
        t = np.floor((base * scale + 50.0) / 100.0)
        out.append(np.clip(t, 1.0, 255.0))
    return out[0], out[1]


# ------------------------------------------------------------ bit I/O

class _BitWriter:
    __slots__ = ("acc", "n", "out")

    def __init__(self) -> None:
        self.acc = 0
        self.n = 0
        self.out = bytearray()

    def write(self, val: int, nbits: int) -> None:
        if nbits == 0:
            return
        self.acc = (self.acc << nbits) | (val & ((1 << nbits) - 1))
        self.n += nbits
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:       # byte stuffing (T.81 F.1.2.3)
                self.out.append(0x00)
            self.n -= 8
            self.acc &= (1 << self.n) - 1

    def align(self) -> None:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # pad with 1-bits

    def raw_marker(self, second: int) -> None:
        """Append a marker verbatim — markers are NOT byte-stuffed
        (0xFF followed by a non-zero byte IS the marker)."""
        self.out.append(0xFF)
        self.out.append(second)

    def finish(self) -> bytes:
        self.align()
        return bytes(self.out)


class _BitReader:
    __slots__ = ("buf", "i", "acc", "n")

    def __init__(self, buf: bytes) -> None:
        self.buf = buf
        self.i = 0
        self.acc = 0
        self.n = 0

    def _fill(self, need: int) -> None:
        while self.n < need:
            b = self.buf[self.i] if self.i < len(self.buf) else 0
            self.i += 1
            self.acc = (self.acc << 8) | b
            self.n += 8

    def peek16(self) -> int:
        self._fill(16)
        return (self.acc >> (self.n - 16)) & 0xFFFF

    def skip(self, k: int) -> None:
        self.n -= k
        self.acc &= (1 << self.n) - 1

    def get(self, k: int) -> int:
        if k == 0:
            return 0
        self._fill(k)
        v = (self.acc >> (self.n - k)) & ((1 << k) - 1)
        self.skip(k)
        return v


# ------------------------------------------------------ Huffman tables

def _canonical_codes(bits: list[int], vals: list[int]):
    """(symbol, code, length) triples in canonical order (T.81 C.2)."""
    out = []
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out.append((vals[k], code, length))
            code += 1
            k += 1
        code <<= 1
    return out


def _encode_table(bits: list[int], vals: list[int]) -> dict:
    return {sym: (code, length)
            for sym, code, length in _canonical_codes(bits, vals)}

_DECODE_LUT_CACHE: dict[tuple, tuple[list, list]] = {}


def _decode_lut(bits: list[int], vals: list[int]) -> tuple[list, list]:
    """16-bit peek LUT: peek -> (symbol, code length); length 0 marks
    an invalid prefix. Plain Python lists — fastest scalar lookup."""
    key = (bytes(bits), bytes(vals))
    hit = _DECODE_LUT_CACHE.get(key)
    if hit is not None:
        return hit
    sym = [0] * 65536
    ln = [0] * 65536
    for s, code, length in _canonical_codes(bits, vals):
        lo = code << (16 - length)
        hi = (code + 1) << (16 - length)
        for p in range(lo, hi):
            sym[p] = s
            ln[p] = length
    _DECODE_LUT_CACHE[key] = (sym, ln)
    return sym, ln


# ------------------------------------------------------------- encoder

def _blocks(chan: np.ndarray) -> np.ndarray:
    """(hp, wp) -> (n_blocks, 8, 8) in raster block order."""
    hp, wp = chan.shape
    return (chan.reshape(hp // 8, 8, wp // 8, 8)
            .transpose(0, 2, 1, 3).reshape(-1, 8, 8))


def _rgb_to_ycbcr(arr: np.ndarray) -> np.ndarray:
    f = arr.astype(np.float64)
    r, g, b = f[..., 0], f[..., 1], f[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(y, cb, cr) -> np.ndarray:
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.stack([r, g, b], axis=-1)


def _size_cat(v: int) -> int:
    return v.bit_length() if v >= 0 else (-v).bit_length()


def _encode_block(wr: _BitWriter, zz: list, prev_dc: int,
                  dctab: dict, actab: dict) -> int:
    diff = zz[0] - prev_dc
    s = _size_cat(diff)
    code, length = dctab[s]
    wr.write(code, length)
    if s:
        wr.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    last = 63
    while last > 0 and zz[last] == 0:
        last -= 1
    run = 0
    zrl = actab[0xF0]
    for k in range(1, last + 1):
        v = zz[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            wr.write(zrl[0], zrl[1])
            run -= 16
        s = _size_cat(v)
        code, length = actab[(run << 4) | s]
        wr.write(code, length)
        wr.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last < 63:
        eob = actab[0x00]
        wr.write(eob[0], eob[1])
    return zz[0]


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">HH", marker, len(payload) + 2) + payload


def _quantized_zigzag(plane: np.ndarray, qt: np.ndarray) -> list:
    """(hp, wp) plane (8-multiples) -> per-block zigzag coefficient
    lists in raster block order; DCT + quantize vectorized across the
    whole block stack."""
    blocks = _blocks(plane) - 128.0
    coef = np.einsum("ij,njk,lk->nil", _DCT, blocks, _DCT)
    q = np.round(coef.reshape(-1, 64) / qt.reshape(1, 64))
    return q[:, ZIGZAG].astype(np.int64).tolist()


def encode_jpeg(arr: np.ndarray, quality: int = 90,
                subsampling: str = "444",
                restart_interval: int = 0) -> bytes:
    """8-bit RGB (h, w, 3) -> baseline JFIF bytes.

    subsampling="444": no chroma subsampling (1x1 factors, highest
    fidelity — the PSNR-gate default). subsampling="420": 2x2 luma
    sampling with half-resolution chroma (box-mean downsample) — the
    dominant real-world JPEG layout, ~2x smaller streams on
    photographic content for a modest chroma-fidelity cost.
    subsampling="422": 2x1 luma sampling, chroma halved horizontally
    only (the broadcast-video layout; exercises the decoder's
    mixed-factor MCU walk).

    restart_interval=N (MCUs) emits a DRI segment and an RSTm marker
    every N MCUs (byte-aligned, DC predictors reset — T.81 F.1.2.6,
    E.1.4). Decoded pixels are IDENTICAL to the unrestarted stream
    (same quantized coefficients); what restarts buy is isolation —
    a corrupt segment loses only its own MCUs, and the entropy stream
    becomes splittable at markers, the hook a 100 TB pipeline uses to
    decode giant images with intra-image parallelism."""
    h, w, c = arr.shape
    assert c == 3 and arr.dtype == np.uint8
    if subsampling not in ("444", "422", "420"):
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    ql, qc = quality_tables(quality)
    ycc = _rgb_to_ycbcr(arr)

    if subsampling == "444":
        hp, wp = -(-h // 8) * 8, -(-w // 8) * 8
        ycc = np.pad(ycc, ((0, hp - h), (0, wp - w), (0, 0)), mode="edge")
        zz = [_quantized_zigzag(ycc[..., ci], (ql, qc, qc)[ci])
              for ci in range(3)]
        samp = (0x11, 0x11, 0x11)
        # MCU = one block per component, raster order
        mcus = [[(0, [bi]), (1, [bi]), (2, [bi])]
                for bi in range(len(zz[0]))]
    elif subsampling == "422":
        hp, wp = -(-h // 8) * 8, -(-w // 16) * 16
        ycc = np.pad(ycc, ((0, hp - h), (0, wp - w), (0, 0)), mode="edge")
        cb = ycc[..., 1].reshape(hp, wp // 2, 2).mean(axis=2)
        cr = ycc[..., 2].reshape(hp, wp // 2, 2).mean(axis=2)
        zz = [_quantized_zigzag(ycc[..., 0], ql),
              _quantized_zigzag(cb, qc), _quantized_zigzag(cr, qc)]
        samp = (0x21, 0x11, 0x11)
        ybw, cbw = wp // 8, wp // 16
        mcus = []
        for my in range(hp // 8):
            for mx in range(wp // 16):
                ys = [my * ybw + 2 * mx, my * ybw + 2 * mx + 1]
                mcus.append([(0, ys), (1, [my * cbw + mx]),
                             (2, [my * cbw + mx])])
    else:
        hp, wp = -(-h // 16) * 16, -(-w // 16) * 16
        ycc = np.pad(ycc, ((0, hp - h), (0, wp - w), (0, 0)), mode="edge")
        cb = ycc[..., 1].reshape(hp // 2, 2, wp // 2, 2).mean(axis=(1, 3))
        cr = ycc[..., 2].reshape(hp // 2, 2, wp // 2, 2).mean(axis=(1, 3))
        zz = [_quantized_zigzag(ycc[..., 0], ql),
              _quantized_zigzag(cb, qc), _quantized_zigzag(cr, qc)]
        samp = (0x22, 0x11, 0x11)
        ybw, cbw = wp // 8, wp // 16
        mcus = []
        for my in range(hp // 16):
            for mx in range(wp // 16):
                ys = [(2 * my + by) * ybw + (2 * mx + bx)
                      for by in (0, 1) for bx in (0, 1)]
                ci_blocks = [(0, ys), (1, [my * cbw + mx]),
                             (2, [my * cbw + mx])]
                mcus.append(ci_blocks)

    dct_l = _encode_table(DC_LUMA_BITS, DC_LUMA_VALS)
    act_l = _encode_table(AC_LUMA_BITS, AC_LUMA_VALS)
    dct_c = _encode_table(DC_CHROMA_BITS, DC_CHROMA_VALS)
    act_c = _encode_table(AC_CHROMA_BITS, AC_CHROMA_VALS)
    tabs = ((dct_l, act_l), (dct_c, act_c), (dct_c, act_c))

    wr = _BitWriter()
    prev = [0, 0, 0]
    ri = int(restart_interval)
    for mi, mcu in enumerate(mcus):
        if ri and mi and mi % ri == 0:
            wr.align()
            wr.raw_marker(0xD0 + ((mi // ri - 1) % 8))
            prev = [0, 0, 0]
        for ci, block_ids in mcu:
            for bi in block_ids:
                prev[ci] = _encode_block(
                    wr, zz[ci][bi], prev[ci], *tabs[ci])
    entropy = wr.finish()

    out = bytearray(b"\xFF\xD8")                       # SOI
    out += _seg(0xFFE0, b"JFIF\x00" + bytes([1, 1, 0]) # APP0
                + struct.pack(">HHBB", 1, 1, 0, 0))
    for tid, qt in ((0, ql), (1, qc)):
        out += _seg(0xFFDB, bytes([tid])
                    + bytes(qt.astype(np.uint8)[ZIGZAG]))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for i, (cid, tq) in enumerate(((1, 0), (2, 1), (3, 1))):
        sof += bytes([cid, samp[i], tq])
    out += _seg(0xFFC0, sof)                           # SOF0 baseline
    for cls, tid, bits, vals in (
        (0, 0, DC_LUMA_BITS, DC_LUMA_VALS),
        (1, 0, AC_LUMA_BITS, AC_LUMA_VALS),
        (0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS),
        (1, 1, AC_CHROMA_BITS, AC_CHROMA_VALS),
    ):
        out += _seg(0xFFC4, bytes([(cls << 4) | tid])
                    + bytes(bits) + bytes(vals))
    if ri:
        out += _seg(0xFFDD, struct.pack(">H", ri))  # DRI
    sos = bytes([3]) + bytes([1, 0x00, 2, 0x11, 3, 0x11]) \
        + bytes([0, 63, 0])
    out += _seg(0xFFDA, sos)
    out += entropy
    out += b"\xFF\xD9"                                 # EOI
    return bytes(out)


# ------------------------------------------------------------- decoder

def _decode_block(rd: _BitReader, out: list,
                  dc_sym: list, dc_len: list,
                  ac_sym: list, ac_len: list, prev_dc: int) -> int:
    p = rd.peek16()
    length = dc_len[p]
    if length == 0:
        raise ValueError("bad DC Huffman code")
    rd.skip(length)
    s = dc_sym[p]
    dc = prev_dc
    if s:
        v = rd.get(s)
        if v < (1 << (s - 1)):
            v -= (1 << s) - 1
        dc += v
    out[0] = dc
    k = 1
    while k < 64:
        p = rd.peek16()
        length = ac_len[p]
        if length == 0:
            raise ValueError("bad AC Huffman code")
        rd.skip(length)
        sym = ac_sym[p]
        if sym == 0x00:            # EOB
            break
        if sym == 0xF0:            # ZRL
            k += 16
            continue
        k += sym >> 4
        s = sym & 0x0F
        if k > 63:
            raise ValueError("AC run past end of block")
        v = rd.get(s)
        if v < (1 << (s - 1)):
            v -= (1 << s) - 1
        out[k] = v
        k += 1
    return dc


@_valueerror_on_corruption
def _parse_jpeg(data: bytes) -> dict:
    """Parse headers + split entropy into restart segments; returns
    the decode plan consumed by _decode_segment/_assemble_planes.
    Raises ValueError (only) on any malformed stream."""
    if data[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[tuple[int, int], tuple[list, list]] = {}
    dims = None           # (h, w)
    comps: list = []      # (component id, quant table id, hi, vi)
    scan: list[tuple[int, int, int]] = []   # (cid, dc table, ac table)
    entropy: list[bytes] | None = None      # RST-split segments
    restart_ri = 0
    n = len(data)
    while pos < n:
        if data[pos] != 0xFF:
            raise ValueError("marker expected")
        while pos < n and data[pos] == 0xFF:
            pos += 1
        marker = data[pos]
        pos += 1
        if marker == 0xD9:          # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue                # standalone markers
        (ln,) = struct.unpack(">H", data[pos:pos + 2])
        seg = data[pos + 2:pos + ln]
        pos += ln
        if marker == 0xDB:          # DQT
            sp = 0
            while sp < len(seg):
                pq, tq = seg[sp] >> 4, seg[sp] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                zzvals = np.frombuffer(
                    seg[sp + 1:sp + 65], dtype=np.uint8).astype(np.float64)
                qtabs[tq] = zzvals    # kept in ZIGZAG order
                sp += 65
        elif marker == 0xC4:        # DHT
            sp = 0
            while sp < len(seg):
                cls, tid = seg[sp] >> 4, seg[sp] & 0x0F
                bits = list(seg[sp + 1:sp + 17])
                nv = sum(bits)
                vals = list(seg[sp + 17:sp + 17 + nv])
                htabs[(cls, tid)] = _decode_lut(bits, vals)
                sp += 17 + nv
        elif marker == 0xC0:        # SOF0 baseline
            prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            if nc not in (1, 3):
                raise ValueError("only 1 or 3 components supported")
            for i in range(nc):
                cid, samp, tq = seg[6 + 3 * i:9 + 3 * i]
                hi, vi = samp >> 4, samp & 0x0F
                if hi not in (1, 2) or vi not in (1, 2):
                    raise ValueError(
                        f"sampling factors {hi}x{vi} unsupported "
                        "(1..2 per axis: 4:4:4 / 4:2:2 / 4:2:0)")
                comps.append((cid, tq, hi, vi))
            dims = (h, w)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("non-baseline JPEG mode unsupported")
        elif marker == 0xDD:        # DRI
            (restart_ri,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:        # SOS
            ns = seg[0]
            for i in range(ns):
                cid, tt = seg[1 + 2 * i], seg[2 + 2 * i]
                scan.append((cid, tt >> 4, tt & 0x0F))
            # entropy data runs to the next real marker; RSTn markers
            # split it into independently-decodable segments (each
            # byte-aligned with fresh DC predictors)
            def destuff(lo: int, hi: int) -> bytes:
                raw = np.frombuffer(data[lo:hi], dtype=np.uint8)
                stuffed = np.flatnonzero(
                    (raw[:-1] == 0xFF) & (raw[1:] == 0x00)) + 1
                return (np.delete(raw, stuffed).tobytes()
                        if len(stuffed) else raw.tobytes())

            entropy = []
            start = end = pos
            while end < n - 1:
                if data[end] == 0xFF and data[end + 1] != 0x00:
                    if 0xD0 <= data[end + 1] <= 0xD7:
                        entropy.append(destuff(start, end))
                        start = end = end + 2
                        continue
                    break
                end += 1
            entropy.append(destuff(start, end))
            pos = end
        # APPn / COM / others: skipped via the length field
    if dims is None or entropy is None or not scan:
        raise ValueError("incomplete JPEG stream")

    h, w = dims
    nc = len(scan)
    meta = {cid: (tq, hi, vi) for cid, tq, hi, vi in comps}
    hmax = max(m[1] for m in meta.values())
    vmax = max(m[2] for m in meta.values())
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    qt_by_comp, luts, sampf, grids = [], [], [], []
    for cid, dct, act in scan:
        if cid not in meta:
            raise ValueError("SOS references an unknown component id")
        tq, hi, vi = meta[cid]
        if tq not in qtabs:
            raise ValueError("missing quantization table")
        if (0, dct) not in htabs or (1, act) not in htabs:
            raise ValueError("missing Huffman table")
        qt_by_comp.append(qtabs[tq])
        luts.append((htabs[(0, dct)], htabs[(1, act)]))
        sampf.append((hi, vi))
        grids.append((mcuy * vi, mcux * hi))       # block grid (bh, bw)

    if restart_ri == 0 and len(entropy) > 1:
        raise ValueError("restart markers present without a DRI segment")
    # sanity vs corrupted SOF dimensions: every block costs >= ~4 bits
    # (shortest DC code + EOB), so a stream with far fewer bits than
    # blocks is corrupt — reject instead of grinding through millions
    # of phantom MCUs
    total_blocks = sum(bh * bw for bh, bw in grids)
    total_bits = sum(len(s) for s in entropy) * 8
    if total_blocks * 3 > max(total_bits, 1) * 2:
        raise ValueError(
            "entropy stream too short for the declared dimensions")
    return {
        "h": h, "w": w, "nc": nc, "hmax": hmax, "vmax": vmax,
        "mcux": mcux, "mcuy": mcuy, "ri": restart_ri,
        "segments": entropy, "qt_by_comp": qt_by_comp, "luts": luts,
        "sampf": sampf, "grids": grids,
    }


@_valueerror_on_corruption
def _decode_segment(p: dict, si: int) -> list:
    """Entropy-decode ONE restart segment (fresh DC predictors,
    byte-aligned by construction) -> per-component (block indices,
    coefficient rows). Segments are independent: this is the unit a
    parallel decode fans out over. Raises ValueError (only) on any
    malformed stream."""
    nc, mcux = p["nc"], p["mcux"]
    nmcu = mcux * p["mcuy"]
    ri = p["ri"] or nmcu
    mcu0, mcu1 = si * ri, min((si + 1) * ri, nmcu)
    if mcu0 >= nmcu:
        raise ValueError("segment index past the MCU count")
    rd = _BitReader(p["segments"][si])
    prev = [0] * nc
    row_buf: list = [0] * 64
    idxs = [[] for _ in range(nc)]
    rows = [[] for _ in range(nc)]
    for mi in range(mcu0, mcu1):
        my, mx = divmod(mi, mcux)
        for ci in range(nc):
            (dc_sym, dc_len), (ac_sym, ac_len) = p["luts"][ci]
            hi, vi = p["sampf"][ci]
            bw = p["grids"][ci][1]
            for by in range(vi):
                for bx in range(hi):
                    for k in range(64):
                        row_buf[k] = 0
                    prev[ci] = _decode_block(
                        rd, row_buf, dc_sym, dc_len,
                        ac_sym, ac_len, prev[ci])
                    idxs[ci].append((my * vi + by) * bw + (mx * hi + bx))
                    rows[ci].append(list(row_buf))
    return [(ci, np.array(idxs[ci], dtype=np.int64),
             np.array(rows[ci], dtype=np.int64)) for ci in range(nc)]


def _assemble_band(p: dict, vals: list, m0: int, m1: int) -> np.ndarray:
    """Dequantize + IDCT + plane assembly + chroma upsample + color
    convert for the MCU-row band [m0, m1) — pixel rows
    [m0*8*vmax, min(m1*8*vmax, h)). Fully vectorized over the band's
    block stack. ``vals[ci]`` holds ONLY the band's block rows
    (shape ((m1-m0)*vi*bw, 64), zigzag order).

    Every per-pixel step is band-local by construction: the IDCT is
    per-block, chroma upsampling is sample REPLICATION (JFIF sample
    expansion — no cross-row interpolation), and the color convert is
    per-pixel — so assembling bands independently is byte-identical to
    the whole-image pass (pinned in test_jpeg.py). This is the unit
    the distributed giant-image decode assembles executor-side."""
    h, w, nc = p["h"], p["w"], p["nc"]
    hmax, vmax = p["hmax"], p["vmax"]
    y0, y1 = m0 * 8 * vmax, min(m1 * 8 * vmax, h)
    chans = []
    for ci in range(nc):
        bh, bw = p["grids"][ci]
        hi, vi = p["sampf"][ci]
        r0, r1 = m0 * vi, min(m1 * vi, bh)
        nb = (r1 - r0) * bw
        deq = vals[ci].astype(np.float64) \
            * p["qt_by_comp"][ci].reshape(1, 64)
        flat = np.zeros((nb, 64), dtype=np.float64)
        flat[:, ZIGZAG] = deq                         # de-zigzag
        coef = flat.reshape(nb, 8, 8)
        px = np.einsum("ji,njk,kl->nil", _DCT, coef, _DCT) + 128.0
        plane = (px.reshape(r1 - r0, bw, 8, 8)
                 .transpose(0, 2, 1, 3).reshape((r1 - r0) * 8, bw * 8))
        # crop to the component's true resolution (the band's slice of
        # it), then replicate up to full resolution
        ch_h, ch_w = -(-h * vi // vmax), -(-w * hi // hmax)
        plane = plane[:max(0, min(r1 * 8, ch_h) - r0 * 8), :ch_w]
        if vi != vmax:
            plane = np.repeat(plane, vmax // vi, axis=0)
        if hi != hmax:
            plane = np.repeat(plane, hmax // hi, axis=1)
        chans.append(plane[:y1 - y0, :w])
    if nc == 1:
        rgb = np.stack([chans[0]] * 3, axis=-1)
    else:
        rgb = _ycbcr_to_rgb(chans[0], chans[1], chans[2])
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _assemble_planes(p: dict, vals: list) -> np.ndarray:
    """Whole-image assembly == the single band [0, mcuy)."""
    return _assemble_band(p, vals, 0, p["mcuy"])


@_valueerror_on_corruption
def decode_jpeg(data: bytes) -> np.ndarray:
    """JFIF bytes -> uint8 RGB (h, w, 3) (grayscale single-component
    scans decode with the luma plane replicated). Baseline SOF0
    streams run the serial parse -> per-segment entropy decode ->
    vectorized assembly below (see _decode_segment for the parallel
    unit); progressive SOF2 streams dispatch to the Annex G decoder
    (jpeg_progressive), which accumulates coefficients across scans
    and reuses the same assembly."""
    from . import jpeg_progressive as JP

    if JP.is_progressive(data):
        return JP.decode_progressive(data)
    p = _parse_jpeg(data)
    vals = [np.zeros((bh * bw, 64), dtype=np.int64)
            for bh, bw in p["grids"]]
    for si in range(len(p["segments"])):
        for ci, idx, rows in _decode_segment(p, si):
            if idx.size:
                vals[ci][idx] = rows
    return _assemble_planes(p, vals)
