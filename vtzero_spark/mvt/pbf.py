"""Protobuf wire-format primitives, scalar and numpy-vectorized.

This is the one genuinely low-level piece the engine owns (the
reference delegates it to protozero). Scalar paths serve the
driver-side tests and small headers; the vectorized array codecs are
the hot path inside Arrow-batched UDFs, where one call encodes or
decodes every varint of a whole batch without a per-value Python loop.

Wire types: 0 = varint, 1 = 64-bit, 2 = length-delimited, 5 = 32-bit.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np

from .errors import FormatError

WT_VARINT = 0
WT_FIXED64 = 1
WT_LEN = 2
WT_FIXED32 = 5

_U64 = np.uint64
_MASK32 = np.uint64(0xFFFFFFFF)


# ---------------------------------------------------------------- zigzag

def zigzag32_encode(v: np.ndarray | int):
    """int32 -> uint32 zigzag (protozero encode_zigzag32)."""
    if isinstance(v, np.ndarray):
        v = v.astype(np.int64)
        return ((v << 1) ^ (v >> 63)).astype(np.int64) & 0xFFFFFFFF
    v = int(v)
    return ((v << 1) ^ (v >> 63)) & 0xFFFFFFFF


def zigzag32_decode(v: np.ndarray | int):
    """uint32 zigzag -> int64 (caller truncates per vtzero cursor rule)."""
    if isinstance(v, np.ndarray):
        v = v.astype(np.int64) & 0xFFFFFFFF
        return (v >> 1) ^ -(v & 1)
    v = int(v) & 0xFFFFFFFF
    return (v >> 1) ^ -(v & 1)


def zigzag64_encode(v: int) -> int:
    v = int(v)
    return ((v << 1) ^ (v >> 63)) & 0xFFFFFFFFFFFFFFFF


def zigzag64_decode(v: int) -> int:
    v = int(v)
    return (v >> 1) ^ -(v & 1)


# ---------------------------------------------------------------- varint (scalar)

def encode_varint(value: int) -> bytes:
    """LEB128 encode one unsigned value (< 2**64)."""
    value = int(value) & 0xFFFFFFFFFFFFFFFF
    out = bytearray()
    while True:
        b = value & 0x7F
        value >>= 7
        if value:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def decode_varint(buf: bytes, pos: int) -> tuple[int, int]:
    """Decode one varint at ``pos``; returns (value, new_pos)."""
    result = 0
    shift = 0
    while True:
        if pos >= len(buf):
            raise FormatError("truncated varint")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result & 0xFFFFFFFFFFFFFFFF, pos
        shift += 7
        if shift >= 70:
            raise FormatError("varint too long")


# ---------------------------------------------------------------- varint (vectorized)

def encode_varint_array(values: np.ndarray) -> bytes:
    """Vectorized LEB128 of a uint64 array -> concatenated bytes.

    No per-value Python loop: ten vectorized passes, one per possible
    output byte slot.
    """
    v = np.ascontiguousarray(values, dtype=_U64)
    if v.size == 0:
        return b""
    nbytes = np.ones(v.shape, dtype=np.int64)
    for k in range(1, 10):
        nbytes += (v >= _U64(1) << _U64(7 * k)).astype(np.int64)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    for j in range(10):
        mask = nbytes > j
        if not mask.any():
            break
        idx = starts[mask] + j
        chunk = (v[mask] >> _U64(7 * j)) & _U64(0x7F)
        cont = (nbytes[mask] - 1) > j
        out[idx] = chunk.astype(np.uint8) | (cont.astype(np.uint8) << 7)
    return out.tobytes()


def varint_len_array(values: np.ndarray) -> np.ndarray:
    """Vectorized LEB128 encoded-length of each uint64 value."""
    v = np.ascontiguousarray(values, dtype=_U64)
    n = np.ones(v.shape, dtype=np.int64)
    for k in range(1, 10):
        n += (v >= _U64(1) << _U64(7 * k)).astype(np.int64)
    return n


def decode_varint_array(buf: bytes | np.ndarray) -> np.ndarray:
    """Vectorized decode of back-to-back varints -> uint64 array.

    Raises FormatError on a trailing truncated varint or >10-byte runs.
    """
    raw = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    if raw.size == 0:
        return np.empty(0, dtype=_U64)
    is_end = (raw & 0x80) == 0
    if not is_end[-1]:
        raise FormatError("truncated varint")
    ends = np.flatnonzero(is_end)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    if int(lengths.max()) > 10:
        raise FormatError("varint too long")
    return varint_runs(raw, starts, lengths)


def varint_runs(raw: np.ndarray, starts: np.ndarray,
                lengths: np.ndarray) -> np.ndarray:
    """Values of the varints at ``raw[starts[i]:starts[i] + lengths[i]]``
    (each 1-10 bytes, already delimited) -> uint64 array."""
    if not starts.size:
        return np.empty(0, dtype=_U64)
    values = (raw[starts] & 0x7F).astype(_U64)
    for j in range(1, int(lengths.max())):
        mask = lengths > j
        b = raw[starts[mask] + j].astype(_U64)
        values[mask] |= (b & _U64(0x7F)) << _U64(7 * j)
    return values


# ------------------------------------------------------- vectorized sections

def copy_segments(
    src: np.ndarray,
    src_starts: np.ndarray,
    lengths: np.ndarray,
    dst: np.ndarray,
    dst_starts: np.ndarray,
) -> None:
    """Scatter n variable-length byte segments src[starts:starts+len] to
    dst[dst_starts:...] without a per-segment Python loop (repeat +
    cumsum index arithmetic)."""
    lengths = np.ascontiguousarray(lengths, dtype=np.int64)
    total = int(lengths.sum())
    if total == 0:
        return
    seg = np.repeat(np.arange(lengths.size), lengths)
    within = np.arange(total) - np.repeat(np.cumsum(lengths) - lengths, lengths)
    dst[np.asarray(dst_starts, dtype=np.int64)[seg] + within] = \
        src[np.asarray(src_starts, dtype=np.int64)[seg] + within]


def pack_len_fields(field: int, payload: np.ndarray, offsets: np.ndarray) -> bytes:
    """Concatenation of len_field(field, payload[offsets[i]:offsets[i+1]])
    for every i, fully vectorized. ``field`` must fit a 1-byte key."""
    assert field < 16
    key = (field << 3) | WT_LEN
    offsets = np.ascontiguousarray(offsets, dtype=np.int64)
    lens = np.diff(offsets)
    n = lens.size
    if n == 0:
        return b""
    lenlens = varint_len_array(lens.astype(_U64))
    item_lens = 1 + lenlens + lens
    dst_ends = np.cumsum(item_lens)
    dst_starts = dst_ends - item_lens
    out = np.empty(int(dst_ends[-1]), dtype=np.uint8)
    out[dst_starts] = key
    lenbuf = np.frombuffer(encode_varint_array(lens.astype(_U64)), dtype=np.uint8)
    len_srcs = np.cumsum(lenlens) - lenlens
    copy_segments(lenbuf, len_srcs, lenlens, out, dst_starts + 1)
    copy_segments(np.asarray(payload, dtype=np.uint8), offsets[:-1], lens,
                  out, dst_starts + 1 + lenlens)
    return out.tobytes()


def strings_to_buffer(values) -> tuple[np.ndarray, np.ndarray]:
    """Sequence of str/bytes -> (uint8 buffer, int64 offsets) via Arrow
    (vectorized utf-8 encode, no per-string Python)."""
    import pyarrow as pa

    arr = pa.array(values) if not isinstance(values, pa.Array) else values
    if arr.null_count:
        raise FormatError("null value in string column")
    if len(arr) == 0:
        return np.empty(0, dtype=np.uint8), np.zeros(1, dtype=np.int64)
    arr = arr.cast(pa.large_binary())
    bufs = arr.buffers()
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.empty(0, np.uint8)
    offsets = np.frombuffer(bufs[1], dtype=np.int64)[arr.offset:arr.offset + len(arr) + 1]
    return data, offsets.astype(np.int64)


# ---------------------------------------------------------------- field helpers

def tag_key(field: int, wire: int) -> bytes:
    return encode_varint((field << 3) | wire)


def len_field(field: int, payload: bytes) -> bytes:
    return tag_key(field, WT_LEN) + encode_varint(len(payload)) + payload


def varint_field(field: int, value: int) -> bytes:
    return tag_key(field, WT_VARINT) + encode_varint(value)


def fixed32_field(field: int, payload4: bytes) -> bytes:
    return tag_key(field, WT_FIXED32) + payload4


def fixed64_field(field: int, payload8: bytes) -> bytes:
    return tag_key(field, WT_FIXED64) + payload8


def scan_fields(buf: bytes) -> Iterator[tuple[int, int, object]]:
    """Iterate (field, wire_type, value) over a message.

    value is int for varint/fixed (fixed returned as raw bytes),
    bytes view for length-delimited. One-byte keys, varints and
    lengths (nearly all of them in a tile) decode inline; longer ones
    go through decode_varint.
    """
    pos = 0
    n = len(buf)
    while pos < n:
        key = buf[pos]
        if key < 0x80:
            pos += 1
        else:
            key, pos = decode_varint(buf, pos)
        field = key >> 3
        wire = key & 0x7
        if field == 0:
            raise FormatError("invalid field number 0")
        if wire == WT_VARINT:
            if pos < n and buf[pos] < 0x80:
                value = buf[pos]
                pos += 1
            else:
                value, pos = decode_varint(buf, pos)
        elif wire == WT_LEN:
            if pos < n and buf[pos] < 0x80:
                ln = buf[pos]
                pos += 1
            else:
                ln, pos = decode_varint(buf, pos)
            if pos + ln > n:
                raise FormatError("truncated length-delimited field")
            value = buf[pos:pos + ln]
            pos += ln
        elif wire == WT_FIXED64:
            if pos + 8 > n:
                raise FormatError("truncated fixed64 field")
            value = buf[pos:pos + 8]
            pos += 8
        elif wire == WT_FIXED32:
            if pos + 4 > n:
                raise FormatError("truncated fixed32 field")
            value = buf[pos:pos + 4]
            pos += 4
        else:
            raise FormatError(f"unsupported wire type {wire}")
        yield field, wire, value
