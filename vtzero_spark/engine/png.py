"""Full baseline PNG codec (W3C PNG spec / RFC 2083) in pure
numpy + stdlib zlib — the lossless half of the payload-verification
gate, upgraded in round 5 from the filter-0/RGB-only minimal codec to
the real decode surface:

- all five scanline filters (None/Sub/Up/Average/Paeth);
- color types 0 (gray), 2 (RGB), 3 (palette + optional tRNS),
  4 (gray+alpha), 6 (RGBA);
- bit depths 1/2/4/8 (gray + palette) and 8/16 (all types);
- Adam7 interlace deinterlacing;
- multi-IDAT streams, chunk CRC verification (ValueError on mismatch).

The ENCODER is fully vectorized: all five candidate filtered planes
are computed for the whole image at once (filtering references only
ORIGINAL bytes, so unlike unfiltering it has no sequential
dependency), and each row picks the minimum-sum-of-absolute-residuals
filter — the standard libpng heuristic.  The decoder unfilters
row-by-row (reconstruction is inherently sequential across rows);
Sub rows use a per-byte-lane wrapping accumulate, Up rows are one
vector add, and only Average/Paeth rows fall back to a per-pixel loop.

Error contract mirrors engine/jpeg.py: ValueError on anything that is
not a well-formed supported PNG; never IndexError/struct.error out of
the public entry points.

Public-spec knowledge only (W3C PNG, 2nd ed.).  Reference parity
note: vtzero itself never decodes rasters; this codec backs the
north-rule per-row invariant (decoded-pixel equality for lossless
payloads) the way engine/jpeg.py backs the lossy PSNR>=40dB gate.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

SIGNATURE = b"\x89PNG\r\n\x1a\n"

# (color_type) -> samples per pixel
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
_VALID_DEPTHS = {
    0: {1, 2, 4, 8, 16},
    2: {8, 16},
    3: {1, 2, 4, 8},
    4: {8, 16},
    6: {8, 16},
}

# Adam7 pass grid: (x_start, y_start, x_step, y_step)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF))


def _unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Undo per-row filtering. raw is the (h, 1+stride) filter-byte +
    scanline matrix; returns (h, stride) reconstructed bytes."""
    out = np.zeros((h, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ft = int(raw[y, 0])
        row = raw[y, 1:].copy()
        if ft == 0:
            rec = row
        elif ft == 1:  # Sub: per-lane wrapping prefix sum
            lanes = row.reshape(-1, bpp)
            rec = np.add.accumulate(lanes, axis=0, dtype=np.uint8).reshape(-1)
        elif ft == 2:  # Up
            rec = row + prior
        elif ft == 3:  # Average (sequential in x: plain-int loop — an
            # order of magnitude faster than per-pixel numpy slicing)
            cur = row.tolist()
            pri = prior.tolist()
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                cur[x] = (cur[x] + ((a + pri[x]) >> 1)) & 0xFF
            rec = np.frombuffer(bytes(cur), dtype=np.uint8)
        elif ft == 4:  # Paeth (sequential in x, same int-loop shape)
            cur = row.tolist()
            pri = prior.tolist()
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = pri[x]
                c = pri[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa = p - a if p >= a else a - p
                pb = p - b if p >= b else b - p
                pc = p - c if p >= c else c - p
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = b
                else:
                    pred = c
                cur[x] = (cur[x] + pred) & 0xFF
            rec = np.frombuffer(bytes(cur), dtype=np.uint8)
        else:
            raise ValueError(f"corrupt PNG stream: filter type {ft}")
        out[y] = rec
        prior = out[y]
    return out


def _unpack_samples(rows: np.ndarray, w: int, depth: int,
                    channels: int) -> np.ndarray:
    """(h, stride) reconstructed bytes -> (h, w, channels) samples
    (uint8 for depth<=8, uint16 for 16)."""
    h = rows.shape[0]
    if depth == 8:
        return rows[:, : w * channels].reshape(h, w, channels)
    if depth == 16:
        wide = rows[:, : w * channels * 2].reshape(h, w * channels, 2)
        vals = (wide[..., 0].astype(np.uint16) << 8) | wide[..., 1]
        return vals.reshape(h, w, channels)
    # sub-byte depths: gray / palette only (channels == 1)
    bits = np.unpackbits(rows, axis=1)
    per = bits[:, : w * depth].reshape(h, w, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    vals = (per * weights).sum(axis=2).astype(np.uint8)
    return vals.reshape(h, w, 1)


def _scale_to_8(vals: np.ndarray, depth: int) -> np.ndarray:
    """Left-bit-replicate sub-byte grays to full 8-bit range (spec
    sample-depth scaling)."""
    if depth == 8:
        return vals
    factor = 255 // ((1 << depth) - 1)
    return (vals * factor).astype(np.uint8)


def decode(data: bytes):
    """Decode a PNG to (array, color_type).  Array shape is
    (h, w, channels) with dtype uint8 (depth <= 8, gray scaled to
    8-bit; palette resolved to RGB/RGBA) or uint16 (depth 16).
    Raises ValueError on malformed or unsupported streams."""
    try:
        return _decode(data)
    except (IndexError, struct.error, zlib.error) as e:
        raise ValueError(f"corrupt PNG stream: {e!r}") from e


def _decode(data: bytes):
    if data[:8] != SIGNATURE:
        raise ValueError("not a PNG")
    pos = 8
    w = h = depth = ctype = interlace = None
    plte = trns = None
    idat = []
    seen_end = False
    while pos + 8 <= len(data):
        (ln,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        payload = data[pos + 8:pos + 8 + ln]
        if len(payload) != ln or pos + 12 + ln > len(data):
            raise ValueError("corrupt PNG stream: truncated chunk")
        (crc,) = struct.unpack(">I", data[pos + 8 + ln:pos + 12 + ln])
        if crc != (zlib.crc32(tag + payload) & 0xFFFFFFFF):
            raise ValueError(f"corrupt PNG stream: bad CRC in {tag!r}")
        pos += 12 + ln
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", payload)
            if comp != 0 or filt != 0:
                raise ValueError("corrupt PNG stream: bad IHDR methods")
            if ctype not in _CHANNELS or depth not in _VALID_DEPTHS[ctype]:
                raise ValueError(
                    f"unsupported PNG variant: depth={depth} ctype={ctype}")
            if interlace not in (0, 1):
                raise ValueError("corrupt PNG stream: bad interlace")
        elif tag == b"PLTE":
            plte = np.frombuffer(payload, dtype=np.uint8)
            if len(plte) % 3 or len(plte) == 0:
                raise ValueError("corrupt PNG stream: bad PLTE")
            plte = plte.reshape(-1, 3)
        elif tag == b"tRNS" and ctype == 3:
            trns = np.frombuffer(payload, dtype=np.uint8)
        elif tag == b"IDAT":
            idat.append(payload)
        elif tag == b"IEND":
            seen_end = True
            break
    if w is None or not idat or not seen_end:
        raise ValueError("corrupt PNG stream: missing IHDR/IDAT/IEND")
    if w == 0 or h == 0 or w > 1 << 24 or h > 1 << 24:
        raise ValueError("corrupt PNG stream: bad dimensions")
    channels = _CHANNELS[ctype]
    raw = zlib.decompress(b"".join(idat))

    def pass_decode(buf: memoryview, pw: int, ph: int):
        bits_per_px = depth * channels
        stride = (pw * bits_per_px + 7) // 8
        need = ph * (1 + stride)
        if len(buf) < need:
            raise ValueError("corrupt PNG stream: short IDAT")
        mat = np.frombuffer(buf[:need], dtype=np.uint8).reshape(
            ph, 1 + stride)
        bpp = max(1, bits_per_px // 8)
        rec = _unfilter(mat, ph, stride, bpp)
        return _unpack_samples(rec, pw, depth, channels), need

    if interlace == 0:
        samples, used = pass_decode(memoryview(raw), w, h)
        if used != len(raw):
            raise ValueError("corrupt PNG stream: IDAT length mismatch")
    else:  # Adam7
        samples = np.zeros(
            (h, w, channels),
            dtype=np.uint16 if depth == 16 else np.uint8)
        view = memoryview(raw)
        for (x0, y0, dx, dy) in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw == 0 or ph == 0:
                continue
            sub, used = pass_decode(view, pw, ph)
            view = view[used:]
            samples[y0::dy, x0::dx] = sub
        if len(view) != 0:
            raise ValueError("corrupt PNG stream: IDAT length mismatch")

    if ctype == 3:
        if plte is None:
            raise ValueError("corrupt PNG stream: palette image w/o PLTE")
        idx = samples[..., 0]
        if int(idx.max(initial=0)) >= len(plte):
            raise ValueError("corrupt PNG stream: palette index range")
        rgb = plte[idx]
        if trns is not None:
            alpha = np.full(len(plte), 255, dtype=np.uint8)
            alpha[: len(trns)] = trns
            return np.dstack([rgb, alpha[idx]]), ctype
        return rgb, ctype
    if depth < 8:
        samples = _scale_to_8(samples, depth)
    return samples, ctype


def decode_rgb8(data: bytes) -> np.ndarray:
    """Decode to (h, w, 3) uint8 RGB — the payload-pipeline
    normalization: 16-bit scales down, gray replicates, alpha drops
    (payload verification compares color, not compositing)."""
    arr, ctype = decode(data)
    if arr.dtype == np.uint16:
        arr = (arr >> 8).astype(np.uint8)
    c = arr.shape[2]
    if c == 1:
        return np.repeat(arr, 3, axis=2)
    if c == 2:  # gray + alpha
        return np.repeat(arr[..., :1], 3, axis=2)
    if c == 4:
        return np.ascontiguousarray(arr[..., :3])
    return arr


def _filter_candidates(img: np.ndarray, bpp: int) -> np.ndarray:
    """(5, h, stride) candidate filtered planes for the whole image —
    filtering only reads ORIGINAL bytes, so every filter vectorizes."""
    h, stride = img.shape
    left = np.zeros_like(img)
    left[:, bpp:] = img[:, :-bpp]
    up = np.zeros_like(img)
    up[1:] = img[:-1]
    upleft = np.zeros_like(img)
    upleft[1:, bpp:] = img[:-1, :-bpp]

    i16 = img.astype(np.int16)
    cand = np.empty((5, h, stride), dtype=np.uint8)
    cand[0] = img
    cand[1] = img - left
    cand[2] = img - up
    cand[3] = (i16 - ((left.astype(np.int16) + up) >> 1)).astype(np.uint8)
    a, b, c = (left.astype(np.int16), up.astype(np.int16),
               upleft.astype(np.int16))
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    pred = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    cand[4] = (i16 - pred).astype(np.uint8)
    return cand


def encode(arr: np.ndarray, level: int = 6,
           filters: tuple = (0, 1, 2)) -> bytes:
    """Encode (h, w) gray, (h, w, 1|3|4) uint8, or uint16 arrays with
    per-row adaptive filtering (min sum of |residual| as signed bytes,
    the libpng heuristic) over the given candidate ``filters``.

    The DEFAULT candidate set is None/Sub/Up only — deliberately not
    Average/Paeth: those two unfilter sequentially per byte (a
    nonlinear recurrence no numpy expression removes), which measured
    ~100x slower to decode than the vectorized Sub/Up paths.  This
    engine controls its own write path, and at 10^12-image scale the
    decode side of every operator (verify/phash/curation) dwarfs the
    ~10-15% extra compression Paeth buys — so the hot pipeline writes
    only vectorized-decodable rows.  Pass ``filters=(0, 1, 2, 3, 4)``
    for maximum compression when decode speed does not matter; the
    DECODER always supports all five (spec-complete for foreign
    files)."""
    if arr.ndim == 2:
        arr = arr[..., None]
    if arr.ndim != 3 or arr.shape[2] not in (1, 3, 4):
        raise ValueError(f"unsupported array shape {arr.shape}")
    h, w, c = arr.shape
    if h == 0 or w == 0:
        raise ValueError("empty image")
    ctype = {1: 0, 3: 2, 4: 6}[c]
    if arr.dtype == np.uint8:
        depth, flat = 8, arr.reshape(h, w * c)
    elif arr.dtype == np.uint16:
        depth = 16
        be = arr.reshape(h, w * c).astype(">u2")
        flat = np.frombuffer(be.tobytes(), dtype=np.uint8).reshape(
            h, w * c * 2)
    else:
        raise ValueError(f"unsupported dtype {arr.dtype}")
    bpp = c * (depth // 8)
    fset = sorted(set(filters))
    if not fset or any(f not in (0, 1, 2, 3, 4) for f in fset):
        raise ValueError(f"bad filter set {filters}")
    cand = _filter_candidates(flat, bpp)[fset]
    cost = np.abs(cand.astype(np.int8).astype(np.int16)).sum(axis=2)
    pick = cost.argmin(axis=0)
    lines = np.concatenate(
        [np.asarray(fset, dtype=np.uint8)[pick][:, None],
         cand[pick, np.arange(h)]], axis=1)
    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 0)
    return (SIGNATURE + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(lines.tobytes(), level))
            + _chunk(b"IEND", b""))
