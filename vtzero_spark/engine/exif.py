"""EXIF metadata codec + GPS -> tile assignment (the geotagged-image path).

Every real geotagged-image pipeline starts here: the camera wrote GPS
into an Exif APP1 segment (JPEG) or an eXIf chunk (PNG), and tile
assignment has to come FROM THE BYTES — there is no (wx, wy) column
until the metadata is parsed. This module implements that boundary
from the public specs, pure numpy + stdlib:

* Exif 2.3 / TIFF 6.0 structure: byte-order mark (II/LE or MM/BE),
  IFD walk, the 0x8769 Exif and 0x8825 GPS sub-IFD pointers, ASCII /
  SHORT / LONG / RATIONAL value types, out-of-line value areas.
* JPEG carrier: APP1 (FF E1) segment with the "Exif\\0\\0" preamble,
  inserted right after SOI per spec; parse walks the marker stream
  and stops at SOS (ISO/IEC 10918-1 segment grammar, same walk as
  jpeg.py's parser).
* PNG carrier: the standardized eXIf chunk (PNG extension, 2017),
  CRC-checked, inserted after IHDR.
* GPS coordinates as the spec's 3x RATIONAL degrees/minutes/seconds
  with N/S / E/W refs. Planted DMS values are exact rationals of the
  integer world grid, so parse -> rational arithmetic -> world
  coordinate is INTEGER-EXACT and the whole chain (template encode ->
  container splice -> segment walk -> TIFF parse -> DMS -> tile) sits
  under the driver's DuckDB hash gate (q_exif_tiles).

Scale notes (the 10^12-image shape):
* ENCODE is fully vectorized: all planted blobs share one 214-byte
  TIFF template per byte order, built once per batch as an (n, 214)
  uint8 matrix with numpy column patches — no per-row struct packing.
* PARSE is per-image Python over Arrow batches (mapInPandas), like
  the JPEG entropy decode: the TIFF IFD walk is inherently
  per-stream, but it touches only the first ~300 bytes of each
  payload (the walk stops at SOS / IDAT), never the image data.
* Corrupt metadata is DATA, not an exception: parse_exif raises
  ValueError("corrupt EXIF: ...") on any malformed structure
  (bounds-checked offsets, truncated segments), and the Spark
  operator surfaces that as a status row — one garbage payload must
  not fail a 10^12-image job (same errors-as-data contract as
  jpeg.py:10).

Reference parity: vtzero itself has no metadata layer; this feeds its
tile-assignment semantics (reference include/vtzero/geometry.hpp tile
grid via tiling.py) from the image axis of the graft
(BASELINE.json graft_cell: pyspark x image, axes A+B).
"""

from __future__ import annotations

import struct
import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .synth import EXTENT, WORLD, ZOOM

# TIFF value types used here
_ASCII, _SHORT, _LONG, _RATIONAL = 2, 3, 4, 5

# fixed template layout (offsets relative to TIFF header start)
_OFF_IFD0 = 8
_OFF_EXIF = 50     # IFD0: 2 + 3*12 + 4 = 42 bytes
_OFF_GPS = 92      # Exif IFD: 2 + 3*12 + 4 = 42 bytes
_OFF_DT = 146      # GPS IFD: 2 + 4*12 + 4 = 54 bytes
_OFF_LAT = 166     # DateTime ASCII: 20 bytes
_OFF_LON = 190     # each RATIONAL x3: 24 bytes
_TIFF_LEN = 214


def _e(order: str) -> str:
    return "<" if order == "II" else ">"


def build_exif_tiff(orientation: int, datetime_str: str, px_w: int,
                    px_h: int, lat_ref: str, lat_dms, lon_ref: str,
                    lon_dms, byte_order: str = "II") -> bytes:
    """One Exif TIFF blob (scalar reference path; the Spark encode uses
    the vectorized template below, pinned byte-identical in tests).

    lat_dms / lon_dms: three (numerator, denominator) uint32 pairs —
    degrees, minutes, seconds per the GPS IFD spec (tags 0x0002/0x0004,
    type RATIONAL, count 3)."""
    if byte_order not in ("II", "MM"):
        raise ValueError(f"byte_order must be II or MM, got {byte_order!r}")
    e = _e(byte_order)
    dt = datetime_str.encode("ascii")
    if len(dt) != 19:
        raise ValueError("datetime must be 19 chars YYYY:MM:DD HH:MM:SS")
    out = bytearray(_TIFF_LEN)
    out[0:2] = byte_order.encode("ascii")
    struct.pack_into(e + "HI", out, 2, 42, _OFF_IFD0)

    def entry(buf_off, tag, typ, count, value_bytes):
        struct.pack_into(e + "HHI", out, buf_off, tag, typ, count)
        out[buf_off + 8:buf_off + 12] = value_bytes.ljust(4, b"\x00")

    # IFD0: Orientation, ExifIFD ptr, GPSIFD ptr
    struct.pack_into(e + "H", out, _OFF_IFD0, 3)
    entry(_OFF_IFD0 + 2, 0x0112, _SHORT, 1, struct.pack(e + "H", orientation))
    entry(_OFF_IFD0 + 14, 0x8769, _LONG, 1, struct.pack(e + "I", _OFF_EXIF))
    entry(_OFF_IFD0 + 26, 0x8825, _LONG, 1, struct.pack(e + "I", _OFF_GPS))
    # Exif IFD: DateTimeOriginal (out-of-line), PixelXDimension, PixelYDimension
    struct.pack_into(e + "H", out, _OFF_EXIF, 3)
    entry(_OFF_EXIF + 2, 0x9003, _ASCII, 20, struct.pack(e + "I", _OFF_DT))
    entry(_OFF_EXIF + 14, 0xA002, _LONG, 1, struct.pack(e + "I", px_w))
    entry(_OFF_EXIF + 26, 0xA003, _LONG, 1, struct.pack(e + "I", px_h))
    # GPS IFD: LatRef, Lat, LonRef, Lon
    struct.pack_into(e + "H", out, _OFF_GPS, 4)
    entry(_OFF_GPS + 2, 0x0001, _ASCII, 2, lat_ref.encode("ascii") + b"\x00")
    entry(_OFF_GPS + 14, 0x0002, _RATIONAL, 3, struct.pack(e + "I", _OFF_LAT))
    entry(_OFF_GPS + 26, 0x0003, _ASCII, 2, lon_ref.encode("ascii") + b"\x00")
    entry(_OFF_GPS + 38, 0x0004, _RATIONAL, 3, struct.pack(e + "I", _OFF_LON))
    # value areas
    out[_OFF_DT:_OFF_DT + 19] = dt
    for base, dms in ((_OFF_LAT, lat_dms), (_OFF_LON, lon_dms)):
        for k, (num, den) in enumerate(dms):
            struct.pack_into(e + "II", out, base + 8 * k, num, den)
    return bytes(out)


# ------------------------------------------------------------- carriers

def wrap_app1(tiff: bytes) -> bytes:
    body = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body


def insert_exif(payload: bytes, tiff: bytes, fmt: str) -> bytes:
    """Splice an Exif blob into a real container: APP1 right after SOI
    (JPEG, 10918-1 segment grammar) or an eXIf chunk right after IHDR
    (PNG extension). The image data bytes are untouched."""
    if fmt == "jpeg":
        if payload[:2] != b"\xff\xd8":
            raise ValueError("corrupt EXIF: not a JPEG (no SOI)")
        return payload[:2] + wrap_app1(tiff) + payload[2:]
    if fmt == "png":
        if payload[:8] != b"\x89PNG\r\n\x1a\n":
            raise ValueError("corrupt EXIF: not a PNG (bad signature)")
        ihdr_end = 8 + 8 + 13 + 4
        chunk = (struct.pack(">I", len(tiff)) + b"eXIf" + tiff
                 + struct.pack(">I", zlib.crc32(b"eXIf" + tiff) & 0xFFFFFFFF))
        return payload[:ihdr_end] + chunk + payload[ihdr_end:]
    raise ValueError(f"unknown fmt {fmt}")


def find_exif(payload: bytes) -> bytes | None:
    """Locate the Exif TIFF blob in a JPEG (APP1 walk, stops at SOS) or
    PNG (chunk walk, CRC-checked). None when absent; ValueError on a
    structurally corrupt container."""
    n = len(payload)
    if payload[:2] == b"\xff\xd8":
        i = 2
        while i + 4 <= n:
            if payload[i] != 0xFF:
                raise ValueError("corrupt EXIF: JPEG marker desync")
            m = payload[i + 1]
            if m in (0xD8, 0x01) or 0xD0 <= m <= 0xD7:
                i += 2
                continue
            if m == 0xD9:
                return None
            seg_len = struct.unpack(">H", payload[i + 2:i + 4])[0]
            if seg_len < 2 or i + 2 + seg_len > n:
                raise ValueError("corrupt EXIF: JPEG segment overruns buffer")
            if m == 0xE1 and payload[i + 4:i + 10] == b"Exif\x00\x00":
                return payload[i + 10:i + 2 + seg_len]
            if m == 0xDA:
                return None
            i += 2 + seg_len
        return None
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        i = 8
        while i + 8 <= n:
            clen = struct.unpack(">I", payload[i:i + 4])[0]
            ctyp = payload[i + 4:i + 8]
            if i + 12 + clen > n:
                raise ValueError("corrupt EXIF: PNG chunk overruns buffer")
            if ctyp == b"eXIf":
                data = payload[i + 8:i + 8 + clen]
                crc = struct.unpack(">I", payload[i + 8 + clen:i + 12 + clen])[0]
                if crc != (zlib.crc32(ctyp + data) & 0xFFFFFFFF):
                    raise ValueError("corrupt EXIF: eXIf CRC mismatch")
                return data
            if ctyp == b"IEND":
                return None
            i += 12 + clen
        return None
    raise ValueError("corrupt EXIF: unknown container")


def strip_exif(payload: bytes) -> bytes:
    """Privacy scrub (`exiftool -all=` semantics): remove the Exif
    APP1 segment / eXIf chunk entirely. Image data bytes are
    untouched; idempotent; pixels decode identically (pinned in
    tests/test_exif.py)."""
    n = len(payload)
    if payload[:2] == b"\xff\xd8":
        i = 2
        while i + 4 <= n:
            if payload[i] != 0xFF:
                raise ValueError("corrupt EXIF: JPEG marker desync")
            m = payload[i + 1]
            if m in (0xD8, 0x01) or 0xD0 <= m <= 0xD7:
                i += 2
                continue
            if m in (0xD9, 0xDA):
                return payload
            seg_len = struct.unpack(">H", payload[i + 2:i + 4])[0]
            if seg_len < 2 or i + 2 + seg_len > n:
                raise ValueError("corrupt EXIF: JPEG segment overruns buffer")
            if m == 0xE1 and payload[i + 4:i + 10] == b"Exif\x00\x00":
                return payload[:i] + payload[i + 2 + seg_len:]
            i += 2 + seg_len
        return payload
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        i = 8
        while i + 8 <= n:
            clen = struct.unpack(">I", payload[i:i + 4])[0]
            ctyp = payload[i + 4:i + 8]
            if i + 12 + clen > n:
                raise ValueError("corrupt EXIF: PNG chunk overruns buffer")
            if ctyp == b"eXIf":
                return payload[:i] + payload[i + 12 + clen:]
            if ctyp == b"IEND":
                return payload
            i += 12 + clen
        return payload
    raise ValueError("corrupt EXIF: unknown container")


# ------------------------------------------------------------- TIFF parse

def _read_ifd(tiff: bytes, e: str, off: int) -> dict[int, tuple]:
    n = len(tiff)
    if off + 2 > n:
        raise ValueError("corrupt EXIF: IFD offset out of range")
    count = struct.unpack_from(e + "H", tiff, off)[0]
    if off + 2 + 12 * count + 4 > n:
        raise ValueError("corrupt EXIF: IFD entries overrun buffer")
    out: dict[int, tuple] = {}
    for k in range(count):
        base = off + 2 + 12 * k
        tag, typ, cnt = struct.unpack_from(e + "HHI", tiff, base)
        out[tag] = (typ, cnt, base + 8)
    return out


_TYPE_SIZE = {_ASCII: 1, _SHORT: 2, _LONG: 4, _RATIONAL: 8}


def _value(tiff: bytes, e: str, typ: int, cnt: int, voff: int):
    size = _TYPE_SIZE.get(typ)
    if size is None:
        raise ValueError(f"corrupt EXIF: unsupported TIFF type {typ}")
    total = size * cnt
    if total > 4:
        off = struct.unpack_from(e + "I", tiff, voff)[0]
        if off + total > len(tiff):
            raise ValueError("corrupt EXIF: value offset out of range")
    else:
        off = voff
    if typ == _ASCII:
        raw = tiff[off:off + cnt]
        return raw.split(b"\x00", 1)[0].decode("ascii", "replace")
    if typ == _SHORT:
        return list(struct.unpack_from(e + f"{cnt}H", tiff, off))
    if typ == _LONG:
        return list(struct.unpack_from(e + f"{cnt}I", tiff, off))
    vals = struct.unpack_from(e + f"{2 * cnt}I", tiff, off)
    return [(vals[2 * k], vals[2 * k + 1]) for k in range(cnt)]


def parse_exif_tiff(tiff: bytes) -> dict:
    """General TIFF/Exif parse (not template-bound): IFD0 -> Exif IFD
    -> GPS IFD, any byte order, any entry ordering, in-line or
    out-of-line values. ValueError('corrupt EXIF: ...') on anything
    structurally invalid."""
    if len(tiff) < 8:
        raise ValueError("corrupt EXIF: TIFF header truncated")
    bo = tiff[0:2]
    if bo == b"II":
        e = "<"
    elif bo == b"MM":
        e = ">"
    else:
        raise ValueError("corrupt EXIF: bad byte-order mark")
    magic, ifd0 = struct.unpack_from(e + "HI", tiff, 2)
    if magic != 42:
        raise ValueError("corrupt EXIF: TIFF magic != 42")
    try:
        tags0 = _read_ifd(tiff, e, ifd0)
        out: dict = {"byte_order": bo.decode()}
        if 0x0112 in tags0:
            out["orientation"] = _value(tiff, e, *tags0[0x0112])[0]
        if 0x8769 in tags0:
            exif_off = _value(tiff, e, *tags0[0x8769])[0]
            tags_e = _read_ifd(tiff, e, exif_off)
            if 0x9003 in tags_e:
                out["datetime_original"] = _value(tiff, e, *tags_e[0x9003])
            if 0xA002 in tags_e:
                out["pixel_w"] = _value(tiff, e, *tags_e[0xA002])[0]
            if 0xA003 in tags_e:
                out["pixel_h"] = _value(tiff, e, *tags_e[0xA003])[0]
        if 0x8825 in tags0:
            gps_off = _value(tiff, e, *tags0[0x8825])[0]
            tags_g = _read_ifd(tiff, e, gps_off)
            if 0x0001 in tags_g and 0x0002 in tags_g:
                out["lat_ref"] = _value(tiff, e, *tags_g[0x0001])
                out["lat_dms"] = _value(tiff, e, *tags_g[0x0002])
            if 0x0003 in tags_g and 0x0004 in tags_g:
                out["lon_ref"] = _value(tiff, e, *tags_g[0x0003])
                out["lon_dms"] = _value(tiff, e, *tags_g[0x0004])
        return out
    except struct.error as exc:
        raise ValueError(f"corrupt EXIF: {exc}") from exc


def parse_exif(payload: bytes) -> dict | None:
    """Container walk + TIFF parse. None when the payload carries no
    Exif; ValueError('corrupt EXIF: ...') when it carries garbage."""
    tiff = find_exif(payload)
    if tiff is None:
        return None
    return parse_exif_tiff(tiff)


# --------------------------------------------------- GPS <-> world grid

def _dms_num_den(dms) -> tuple[int, int]:
    """DMS rationals -> one exact (num, den) in degrees, pure int
    arithmetic (Fraction measured 15x slower on this path — this runs
    once per image in the ingest hot loop)."""
    (dn, dd), (mn, md), (sn, sd) = dms
    if dd == 0 or md == 0 or sd == 0:
        raise ValueError("corrupt EXIF: zero denominator in GPS rational")
    den = dd * md * sd * 3600
    num = dn * 3600 * md * sd + mn * 60 * dd * sd + sn * dd * md
    return num, den


def gps_to_world(lat_ref: str, lat_dms, lon_ref: str, lon_dms,
                 world: int = WORLD) -> tuple[int, int]:
    """Inverse of the planted equirectangular grid mapping: longitude
    [-180, 180) -> wx in [0, world), latitude [+90 .. -90] -> wy.
    Integer-exact for on-grid rationals; ValueError for coordinates
    that do not land on the integer grid (off-grid GPS is data quality
    signal at ingest, not an approximation to hide)."""
    lon_n, lon_d = _dms_num_den(lon_dms)
    lat_n, lat_d = _dms_num_den(lat_dms)
    if lon_ref != "E":
        lon_n = -lon_n
    if lat_ref != "N":
        lat_n = -lat_n
    wx, rx = divmod((lon_n + 180 * lon_d) * world, 360 * lon_d)
    wy, ry = divmod((90 * lat_d - lat_n) * world, 180 * lat_d)
    if rx or ry:
        raise ValueError("corrupt EXIF: GPS coordinate off the integer grid")
    return int(wx), int(wy)


# ------------------------------------------------------ vectorized encode

def _template(byte_order: str) -> np.ndarray:
    t = build_exif_tiff(1, "0000:00:00 00:00:00", 0, 0,
                        "N", ((0, 1), (0, 1), (0, 1)),
                        "E", ((0, 1), (0, 1), (0, 1)), byte_order)
    return np.frombuffer(t, dtype=np.uint8).copy()


def build_exif_batch(orient: np.ndarray, dt: list[str], px_w: np.ndarray,
                     px_h: np.ndarray, wx: np.ndarray, wy: np.ndarray,
                     byte_order: np.ndarray, world: int = WORLD,
                     as_matrix: bool = False):
    """All n TIFF blobs at once: one (n, 214) uint8 matrix per byte
    order, numeric fields patched as numpy column writes. Byte-identical
    to the scalar build_exif_tiff (pinned in tests).  ``as_matrix``
    returns the (n, 214) uint8 matrix itself (the Arrow splice path)
    instead of a list of bytes."""
    n = len(orient)
    out = np.empty((n, _TIFF_LEN), dtype=np.uint8)
    lon_num = 360 * wx.astype(np.int64) - 180 * world
    lat_num = 90 * world - 180 * wy.astype(np.int64)

    def patch_u(mat, off, vals, width, big):
        v = vals.astype(np.uint64)
        for b in range(width):
            shift = (width - 1 - b) * 8 if big else b * 8
            mat[:, off + b] = ((v >> shift) & 0xFF).astype(np.uint8)

    for bo in ("II", "MM"):
        mask = byte_order == bo
        if not mask.any():
            continue
        m = int(mask.sum())
        sub = np.tile(_template(bo), (m, 1))
        big = bo == "MM"
        patch_u(sub, _OFF_IFD0 + 2 + 8, orient[mask], 2, big)
        patch_u(sub, _OFF_EXIF + 14 + 8, px_w[mask], 4, big)
        patch_u(sub, _OFF_EXIF + 26 + 8, px_h[mask], 4, big)
        # refs (inline ASCII, endian-invariant)
        sub[:, _OFF_GPS + 2 + 8] = np.where(lat_num[mask] >= 0,
                                            ord("N"), ord("S")).astype(np.uint8)
        sub[:, _OFF_GPS + 26 + 8] = np.where(lon_num[mask] >= 0,
                                             ord("E"), ord("W")).astype(np.uint8)
        for base, num in ((_OFF_LAT, np.abs(lat_num[mask])),
                          (_OFF_LON, np.abs(lon_num[mask]))):
            d, rem = np.divmod(num, world)
            mi, rem2 = np.divmod(rem * 60, world)
            patch_u(sub, base + 0, d, 4, big)
            patch_u(sub, base + 4, np.full(m, 1), 4, big)
            patch_u(sub, base + 8, mi, 4, big)
            patch_u(sub, base + 12, np.full(m, 1), 4, big)
            patch_u(sub, base + 16, rem2 * 60, 4, big)
            patch_u(sub, base + 20, np.full(m, world), 4, big)
        dt_mat = np.frombuffer(
            "".join(s for s, keep in zip(dt, mask) if keep).encode("ascii"),
            dtype=np.uint8).reshape(m, 19)
        sub[:, _OFF_DT:_OFF_DT + 19] = dt_mat
        out[mask] = sub
    if as_matrix:
        return out
    buf = out.tobytes()
    return [buf[i * _TIFF_LEN:(i + 1) * _TIFF_LEN] for i in range(n)]


# ----------------------------------------------------- Spark operators

# the planted datetime as a pure iid function, for the DuckDB twin below
EXIF_PLANT_SQL = (
    "printf('2024:01:%02d %02d:00:00', CAST(iid % 28 + 1 AS INT), "
    "CAST(iid % 24 AS INT))"
)


def attach_exif(df: DataFrame, world: int = WORLD) -> DataFrame:
    """Splice a planted Exif blob into each real payload (`bytes`
    column from payload.with_image_bytes): GPS DMS from (wx, wy),
    orientation/datetime from iid, byte order alternating II/MM by
    iid parity so BOTH endian paths sit under the oracle gate.

    The input is spread to session parallelism first: the iid-dedup
    upstream AQE-coalesces to 1-2 partitions, which would serialize
    this whole Python chain (the session-8 GeoJSON diagnosis; same
    guard as payload.with_image_bytes).

    (An Arrow buffer-level splice was tried and measured ~40% slower
    than this form at sf0.1 — CPython's bytes concatenation beats a
    per-row numpy fill for these sizes.)"""
    from .textops import _spread

    df = _spread(df)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf
                continue
            pdf = pdf.copy()
            iid = pdf["iid"].to_numpy(np.int64)
            tiffs = build_exif_batch(
                orient=(iid % 8 + 1),
                dt=[f"2024:01:{int(i) % 28 + 1:02d} {int(i) % 24:02d}:00:00"
                    for i in iid],
                px_w=pdf["w"].to_numpy(np.int64),
                px_h=pdf["h"].to_numpy(np.int64),
                wx=pdf["wx"].to_numpy(np.int64),
                wy=pdf["wy"].to_numpy(np.int64),
                byte_order=np.where(iid % 2 == 0, "II", "MM"),
                world=world,
            )
            pdf["bytes"] = [
                insert_exif(bytes(b), t, f)
                for b, t, f in zip(pdf["bytes"], tiffs, pdf["fmt"])
            ]
            yield pdf

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in df.schema.fields)
    out = df.mapInPandas(gen, schema=schema)
    # composition fast-path marker (the mosaic attach-hook pattern):
    # exif_index(attach_exif(X)) detects this and fuses both
    # generators into ONE Python stage, so the payload bytes cross
    # the Arrow boundary once instead of twice (attach-out + index-in
    # round trips removed).  Any other consumer sees a plain
    # DataFrame; transformations drop the attribute, disabling the
    # fast path — which only ever changes the plan, never a row.
    out._vtz_exif_attach = (df, gen)
    return out


_INDEX_SCHEMA = ("image_id string, orientation int, dt string, px_w int, "
                 "px_h int, wx long, wy long, status string")


def _template_struct(bo: str) -> tuple[np.ndarray, np.ndarray]:
    """(template bytes, variable-byte mask) for the canonical 214-byte
    planted TIFF layout.  A blob whose NON-variable bytes equal the
    template is structurally identical to `build_exif_tiff` output
    (same tags, types, counts, pointers, pads), so its fields can be
    gathered columnar — the parse_features_block discipline: canonical
    emission parses vectorized, ANY deviation falls back to the exact
    per-stream walk."""
    t = np.frombuffer(build_exif_tiff(
        1, "0000:00:00 00:00:00", 0, 0,
        "N", ((0, 1), (0, 1), (0, 1)),
        "E", ((0, 1), (0, 1), (0, 1)), bo), np.uint8).copy()
    var = np.zeros(_TIFF_LEN, bool)
    var[_OFF_IFD0 + 2 + 8:_OFF_IFD0 + 2 + 10] = True   # orientation
    var[_OFF_EXIF + 14 + 8:_OFF_EXIF + 14 + 12] = True  # px_w
    var[_OFF_EXIF + 26 + 8:_OFF_EXIF + 26 + 12] = True  # px_h
    var[_OFF_GPS + 2 + 8] = True                        # lat_ref
    var[_OFF_GPS + 26 + 8] = True                       # lon_ref
    var[_OFF_DT:_OFF_DT + 19] = True                    # datetime
    var[_OFF_LAT:_OFF_LAT + 24] = True                  # lat DMS
    var[_OFF_LON:_OFF_LON + 24] = True                  # lon DMS
    return t, var


_TEMPLATES = {bo: _template_struct(bo) for bo in ("II", "MM")}


def _u(mat: np.ndarray, off: int, width: int, big: bool) -> np.ndarray:
    """Vectorized unsigned int read of ``width`` bytes at ``off``."""
    out = np.zeros(len(mat), np.int64)
    for b in range(width):
        shift = (width - 1 - b) * 8 if big else b * 8
        out |= mat[:, off + b].astype(np.int64) << shift
    return out


def _parse_template_rows(mat: np.ndarray, big: bool, world: int):
    """Columnar field extraction for template-shaped TIFF rows.
    Returns (orient, pw, ph, wx, wy, lat_ref, lon_ref, ok) — ``ok``
    False demotes a row to the scalar walk (zero GPS denominator or
    an off-grid coordinate, whose error strings the scalar path
    owns)."""
    m = len(mat)
    orient = _u(mat, _OFF_IFD0 + 2 + 8, 2, big)
    pw = _u(mat, _OFF_EXIF + 14 + 8, 4, big)
    ph = _u(mat, _OFF_EXIF + 26 + 8, 4, big)
    lat_ref = mat[:, _OFF_GPS + 2 + 8]
    lon_ref = mat[:, _OFF_GPS + 26 + 8]

    def dms(base):
        nums = [_u(mat, base + 8 * k, 4, big) for k in range(3)]
        dens = [_u(mat, base + 8 * k + 4, 4, big) for k in range(3)]
        return nums, dens

    (lat_n3, lat_d3), (lon_n3, lon_d3) = dms(_OFF_LAT), dms(_OFF_LON)
    # int64 SAFETY GUARD: the scalar path computes in Python bigints;
    # the vectorized math is exact only while every product stays
    # under 2^63.  Restrict the fast path to the PLANTED DMS shape
    # ((d,1), (m,1), (sec_num, world)) with in-range components and
    # world <= 2^20 — worst case (num + 180*den) * world < 2.3e18 <
    # 2^63.  Anything else demotes to the scalar walk, which owns the
    # general (and the error) cases.
    ok = np.full(m, world <= (1 << 20), bool)
    for n3, d3 in ((lat_n3, lat_d3), (lon_n3, lon_d3)):
        ok &= ((d3[0] == 1) & (d3[1] == 1) & (d3[2] == world)
               & (n3[0] <= 360) & (n3[1] <= 59)
               & (n3[2] <= 60 * world))

    def nd(n3):
        # dd = md = 1, sd = world under the guard
        den = np.full(m, 3600 * world, np.int64)
        num = world * (n3[0] * 3600 + n3[1] * 60) + n3[2]
        return num, den

    lon_num, lon_den = nd(lon_n3)
    lat_num, lat_den = nd(lat_n3)
    lon_num = np.where(lon_ref == ord("E"), lon_num, -lon_num)
    lat_num = np.where(lat_ref == ord("N"), lat_num, -lat_num)
    wx, rx = np.divmod((lon_num + 180 * lon_den) * world, 360 * lon_den)
    wy, ry = np.divmod((90 * lat_den - lat_num) * world, 180 * lat_den)
    ok &= (rx == 0) & (ry == 0)
    return orient, pw, ph, wx, wy, lat_ref, lon_ref, ok


def exif_index(df: DataFrame, world: int = WORLD) -> DataFrame:
    """Parse Exif FROM THE BYTES and recover the world coordinate:
    the ingest step of every geotagged-image pipeline. Output is one
    row per image with the recovered grid position, errors as status
    rows ('ok' / 'no_exif' / 'no_gps' / 'corrupt: ...')."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # columnar accumulation (per-row dicts + DataFrame-from-dicts
        # measured ~10x the parse cost itself on the 480k-image bench)
        for pdf in batches:
            n = len(pdf)
            orient, dt, pw, ph = [None] * n, [None] * n, [None] * n, [None] * n
            wxs, wys, status = [None] * n, [None] * n, ["ok"] * n
            bufs = pdf["bytes"].to_numpy()
            tiffs: list = [None] * n
            for i in range(n):
                try:
                    tiffs[i] = find_exif(bytes(bufs[i]))
                    if tiffs[i] is None:
                        status[i] = "no_exif"
                except ValueError as exc:
                    status[i] = f"corrupt: {exc}"
            # TEMPLATE FAST PATH (the parse_features_block discipline):
            # 214-byte blobs whose structural bytes equal the canonical
            # template parse as columnar gathers; any deviation — shape,
            # byte order, DMS form, off-grid GPS — falls to the exact
            # per-stream walk below, which also owns every error string.
            done = np.zeros(n, bool)
            cand = [i for i in range(n)
                    if tiffs[i] is not None and status[i] == "ok"
                    and len(tiffs[i]) == _TIFF_LEN]
            if cand:
                mat = np.frombuffer(
                    b"".join(tiffs[i] for i in cand),
                    np.uint8).reshape(len(cand), _TIFF_LEN)
                ci = np.asarray(cand, np.int64)
                for bo in ("II", "MM"):
                    tmpl, var = _TEMPLATES[bo]
                    rows = np.flatnonzero(
                        (mat[:, 0] == tmpl[0]) & (mat[:, 1] == tmpl[1]))
                    if not len(rows):
                        continue
                    sub = mat[rows]
                    shape_ok = (sub[:, ~var] == tmpl[~var]).all(axis=1)
                    rows = rows[shape_ok]
                    if not len(rows):
                        continue
                    sub = mat[rows]
                    o_, pw_, ph_, wx_, wy_, _lar, _lor, ok_ = \
                        _parse_template_rows(sub, bo == "MM", world)
                    sel = np.flatnonzero(ok_)
                    for j in sel:
                        g = int(ci[rows[j]])
                        orient[g] = int(o_[j])
                        pw[g] = int(pw_[j])
                        ph[g] = int(ph_[j])
                        wxs[g] = int(wx_[j])
                        wys[g] = int(wy_[j])
                        raw = sub[j, _OFF_DT:_OFF_DT + 20].tobytes()
                        dt[g] = raw.split(b"\x00", 1)[0] \
                            .decode("ascii", "replace")
                        done[g] = True
            for i in range(n):
                if done[i] or status[i] != "ok" or tiffs[i] is None:
                    continue
                try:
                    meta = parse_exif_tiff(tiffs[i])
                    orient[i] = meta.get("orientation")
                    dt[i] = meta.get("datetime_original")
                    pw[i] = meta.get("pixel_w")
                    ph[i] = meta.get("pixel_h")
                    if "lat_dms" in meta and "lon_dms" in meta:
                        wxs[i], wys[i] = gps_to_world(
                            meta["lat_ref"], meta["lat_dms"],
                            meta["lon_ref"], meta["lon_dms"], world)
                    else:
                        status[i] = "no_gps"
                except ValueError as exc:
                    status[i] = f"corrupt: {exc}"
            yield pd.DataFrame({
                "image_id": pdf["image_id"].to_numpy(),
                "orientation": pd.array(orient, dtype="Int32"),
                "dt": dt,
                "px_w": pd.array(pw, dtype="Int32"),
                "px_h": pd.array(ph, dtype="Int32"),
                "wx": pd.array(wxs, dtype="Int64"),
                "wy": pd.array(wys, dtype="Int64"),
                "status": status,
            })

    fused = getattr(df, "_vtz_exif_attach", None)
    if fused is not None:
        parent, attach_gen = fused
        need = ["image_id", "iid", "w", "h", "wx", "wy", "fmt", "bytes"]
        if all(c in parent.columns for c in need):
            def gen_fused(batches: Iterator[pd.DataFrame]
                          ) -> Iterator[pd.DataFrame]:
                yield from gen(attach_gen(batches))

            return parent.select(*need).mapInPandas(
                gen_fused, schema=_INDEX_SCHEMA)
    return df.select("image_id", "bytes").mapInPandas(gen, schema=_INDEX_SCHEMA)


def exif_tiles(df_with_exif: DataFrame, zoom: int = ZOOM,
               extent: int = EXTENT, world: int = WORLD) -> DataFrame:
    """bytes -> Exif parse -> GPS -> tile assignment. The tile cell is
    the same zoom-`zoom` grid the MVT side uses (tiling.py); here the
    position comes from the METADATA, closing the image->geo loop of
    the graft. Columns aliased for the DuckDB twin."""
    idx = exif_index(df_with_exif, world)
    return (
        idx.filter(F.col("status") == "ok")
        .select(
            "image_id",
            (F.col("wx") / extent).cast("long").alias("tx"),
            (F.col("wy") / extent).cast("long").alias("ty"),
            "orientation",
            F.col("dt"),
            F.col("px_w"), F.col("px_h"),
            "wx", "wy",
        )
    )


def apply_orientation(arr: np.ndarray, o: int) -> np.ndarray:
    """Stored pixels -> upright display pixels per the Exif 2.3
    Orientation tag (the D4 dihedral group; tag semantics are the
    spec's row0/col0 placements):
    1 identity, 2 mirror-H, 3 rotate 180, 4 mirror-V, 5 transpose,
    6 rotate 90 CW, 7 transverse, 8 rotate 90 CCW. Pure numpy views —
    no copy until a downstream kernel needs contiguity."""
    if o == 1:
        return arr
    if o == 2:
        return arr[:, ::-1]
    if o == 3:
        return arr[::-1, ::-1]
    if o == 4:
        return arr[::-1, :]
    if o == 5:
        return arr.swapaxes(0, 1)
    if o == 6:
        return arr.swapaxes(0, 1)[:, ::-1]
    if o == 7:
        return arr.swapaxes(0, 1)[::-1, ::-1]
    if o == 8:
        return arr.swapaxes(0, 1)[::-1, :]
    raise ValueError(f"corrupt EXIF: orientation {o} out of range 1..8")


def upright_pixels(payload: bytes, fmt: str) -> np.ndarray:
    """Decode + normalize to display orientation in one step: the
    canonical form every perceptual-hash / feature stage should see.
    Orientation defaults to 1 when the payload carries no Exif."""
    from .payload import decode_payload

    meta = parse_exif(payload)
    o = (meta or {}).get("orientation") or 1
    if not 1 <= o <= 8:
        raise ValueError(f"corrupt EXIF: orientation {o} out of range 1..8")
    return np.ascontiguousarray(
        apply_orientation(decode_payload(payload, fmt), o))


def oriented_phash(df: DataFrame, id_col: str = "image_id",
                   passthrough: tuple[str, ...] = ()) -> DataFrame:
    """Orientation-INVARIANT perceptual hashing: image_phash with the
    pixels uprighted per the Exif Orientation tag before hashing. A
    rotated or mirrored re-upload of the same image hashes
    IDENTICALLY after normalization — the missing near-dup tier for
    the commonest real-world transform (phone rotation), which the
    raw pHash band scheme cannot bridge. Composes with every
    downstream imagehash stage (band blocking, components,
    representative dedup) unchanged."""
    from .imagehash import image_phash

    return image_phash(df, id_col=id_col, passthrough=passthrough,
                       upright=True)


def exif_tiles_sql(images: str = "images", zoom: int = ZOOM,
                   extent: int = EXTENT) -> str:
    """DuckDB twin: the planted metadata is a pure iid function, so the
    whole bytes->parse->GPS->tile chain collapses to closed-form
    integer math — a hash match proves the codec round-trips every
    field and both byte orders exactly."""
    return f"""
SELECT image_id,
       CAST(wx // {extent} AS BIGINT) AS tx,
       CAST(wy // {extent} AS BIGINT) AS ty,
       CAST(iid % 8 + 1 AS INT) AS orientation,
       {EXIF_PLANT_SQL} AS dt,
       CAST(w AS INT) AS px_w,
       CAST(h AS INT) AS px_h,
       CAST(wx AS BIGINT) AS wx,
       CAST(wy AS BIGINT) AS wy
FROM {images}
"""
