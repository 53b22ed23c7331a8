"""MVT property-value codec: the 7-way tagged union.

Wire identity parity with vtzero: ``int 5``, ``uint 5`` and ``sint 5``
are three different values (different bytes, different dictionary
entries); equality is raw-bytes equality
(/root/reference/include/vtzero/property_value.hpp:232-260). Encoders
mirror encoded_property_value
(/root/reference/include/vtzero/encoded_property_value.hpp:40-187);
the type() check mirrors property_value.hpp:40-56,133-144 (first field
tag must be 1..7 with the matching wire type, else format error; empty
message is a format error; wrong typed accessor is a type error).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

from .errors import FormatError, MVTError, TypeError_
from .pbf import (
    WT_FIXED32,
    WT_FIXED64,
    WT_LEN,
    WT_VARINT,
    decode_varint,
    encode_varint,
    zigzag64_decode,
    zigzag64_encode,
)

VT_STRING = 1
VT_FLOAT = 2
VT_DOUBLE = 3
VT_INT = 4
VT_UINT = 5
VT_SINT = 6
VT_BOOL = 7

TYPE_NAMES = ("invalid", "string", "float", "double", "int", "uint", "sint", "bool")

# wire type expected per value tag (property_value.hpp check_tag_and_type)
_WIRE_BY_TAG = {
    VT_STRING: WT_LEN,
    VT_FLOAT: WT_FIXED32,
    VT_DOUBLE: WT_FIXED64,
    VT_INT: WT_VARINT,
    VT_UINT: WT_VARINT,
    VT_SINT: WT_VARINT,
    VT_BOOL: WT_VARINT,
}


def encode_value(vtype: int, value) -> bytes:
    """Encode one typed value into Value-message bytes."""
    if vtype == VT_STRING:
        payload = value.encode("utf-8") if isinstance(value, str) else bytes(value)
        return b"\x0a" + encode_varint(len(payload)) + payload
    if vtype == VT_FLOAT:
        return b"\x15" + struct.pack("<f", float(value))
    if vtype == VT_DOUBLE:
        return b"\x19" + struct.pack("<d", float(value))
    if vtype == VT_INT:
        return b"\x20" + encode_varint(int(value) & 0xFFFFFFFFFFFFFFFF)
    if vtype == VT_UINT:
        if int(value) < 0:
            raise TypeError_("uint value must be non-negative")
        return b"\x28" + encode_varint(int(value))
    if vtype == VT_SINT:
        return b"\x30" + encode_varint(zigzag64_encode(int(value)))
    if vtype == VT_BOOL:
        return b"\x38" + (b"\x01" if value else b"\x00")
    raise TypeError_(f"unknown property value type {vtype}")


def _value_key(data: bytes) -> tuple[int, int]:
    """(type tag, position after the key), strict per
    property_value::type(); a one-byte key decodes inline."""
    if len(data) == 0:
        raise FormatError("missing tag value")
    key = data[0]
    if key < 0x80:
        pos = 1
    else:
        key, pos = decode_varint(data, 0)
    tag = key >> 3
    if tag < 1 or tag > 7 or _WIRE_BY_TAG[tag] != key & 0x7:
        raise FormatError("illegal property value type")
    return tag, pos


def value_type(data: bytes) -> int:
    """The type tag of an encoded value; strict per property_value::type()."""
    return _value_key(data)[0]


def decode_value(data: bytes) -> tuple[int, object]:
    """Decode Value-message bytes -> (type_tag, python value).

    int is returned as signed int64 (two's complement of the varint),
    uint as unsigned, sint zigzag-decoded, matching the typed
    accessors in property_value.hpp:160-228.
    """
    tag, pos = _value_key(data)
    if tag == VT_STRING:
        if pos < len(data) and data[pos] < 0x80:
            ln = data[pos]
            pos += 1
        else:
            ln, pos = decode_varint(data, pos)
        if pos + ln > len(data):
            raise FormatError("truncated string value")
        return tag, data[pos:pos + ln].decode("utf-8", errors="surrogateescape")
    if tag == VT_FLOAT:
        if pos + 4 > len(data):
            raise FormatError("truncated float value")
        return tag, struct.unpack("<f", data[pos:pos + 4])[0]
    if tag == VT_DOUBLE:
        if pos + 8 > len(data):
            raise FormatError("truncated double value")
        return tag, struct.unpack("<d", data[pos:pos + 8])[0]
    raw, _ = decode_varint(data, pos)
    if tag == VT_INT:
        return tag, raw - (1 << 64) if raw >= (1 << 63) else raw
    if tag == VT_UINT:
        return tag, raw
    if tag == VT_SINT:
        return tag, zigzag64_decode(raw)
    return tag, bool(raw)


def typed_accessor(data: bytes, want: int):
    """Typed accessor with vtzero's strictness: wrong type -> TypeError_."""
    tag = value_type(data)
    if tag != want:
        raise TypeError_(
            f"value is of type {TYPE_NAMES[tag]}, not {TYPE_NAMES[want]}"
        )
    return decode_value(data)[1]


# type tag of each one-byte Value key (0: not a one-byte value key)
_TAG_OF_KEY = np.zeros(256, np.int32)
_TAG_OF_KEY[[t << 3 | w for t, w in _WIRE_BY_TAG.items()]] = list(_WIRE_BY_TAG)


@dataclass
class ValueColumns:
    """A list of Value entries decoded as columns, entry i in row i."""
    vtype: np.ndarray   # int32 type tag; 0 where the entry is invalid
    sval: object        # pa.StringArray: string values, null elsewhere
    dval: np.ndarray    # float64: float (widened) and double values
    ival: np.ndarray    # int64: int, sint, uint (wrapped), bool (0/1)
    errors: dict        # entry index -> the MVTError decode_value raised


def utf8_array(arr):
    """A pa binary array as a string array; invalid UTF-8 becomes
    U+FFFD, as ``bytes.decode("utf-8", "replace")`` does. Spark strings
    are UTF-8, so raw key and value bytes (kept losslessly, like
    vtzero's data_view) degrade only here, at the DataFrame edge."""
    import pyarrow as pa

    try:
        return arr.cast(pa.string())
    except pa.ArrowInvalid:
        return pa.array([None if b is None else b.decode("utf-8", "replace")
                         for b in arr.to_pylist()], pa.string())


def _varints_at(raw: np.ndarray, pos: np.ndarray, end: np.ndarray):
    """The varint at raw[pos[i]:end[i]] for every i -> (values, position
    after each, done). ``done`` is False where the varint runs past its
    end or past 10 bytes; those need decode_varint's error."""
    val = np.zeros(pos.size, np.uint64)
    after = np.zeros(pos.size, np.int64)
    done = np.zeros(pos.size, bool)
    live = np.arange(pos.size)
    for j in range(10):
        p = pos[live] + j
        inside = p < end[live]
        live, p = live[inside], p[inside]
        b = raw[p]
        val[live] |= (b & 0x7F).astype(np.uint64) << np.uint64(7 * j)
        stop = b < 0x80
        done[live[stop]] = True
        after[live[stop]] = p[stop] + 1
        live = live[~stop]
        if not live.size:
            break
    return val, after, done


def decode_values(entries: list[bytes]) -> ValueColumns:
    """decode_value over every entry, as columns. Entries with a
    one-byte key of one of the 7 types decode with array gathers: one
    fixed-width read for float and double, one vectorized varint read
    for the integer types and string lengths, and the string bytes
    gathered into ONE Arrow string array. Every other entry (a
    multi-byte key, an invalid type, a truncated or overlong varint, a
    truncated payload) goes through decode_value itself, so its value,
    or its error and message, is decode_value's. Trailing bytes after
    the value are ignored, as decode_value ignores them."""
    import pyarrow as pa

    n = len(entries)
    lens = np.fromiter(map(len, entries), np.int64, n)
    bounds = np.zeros(n + 1, np.int64)
    np.cumsum(lens, out=bounds[1:])
    start, end = bounds[:-1], bounds[1:]
    base = b"".join(entries) + b"\0"   # pad: an empty last entry's key read
    raw = np.frombuffer(base, np.uint8)
    tag = np.where(lens > 0, _TAG_OF_KEY[raw[start]], 0)
    ok = np.zeros(n, bool)
    dval = np.zeros(n, np.float64)
    ival = np.zeros(n, np.int64)
    sstart = np.zeros(n, np.int64)
    slen = np.zeros(n, np.int64)

    for vt, width, fmt in ((VT_FLOAT, 4, "<f4"), (VT_DOUBLE, 8, "<f8")):
        i = np.flatnonzero((tag == vt) & (lens > width))
        dval[i] = raw[start[i, None] + np.arange(1, width + 1)].view(fmt)[:, 0]
        ok[i] = True
    i = np.flatnonzero((tag == VT_STRING) | (tag >= VT_INT))
    val, after, done = _varints_at(raw, start[i] + 1, end[i])
    t = tag[i]
    s = done & (t == VT_STRING)
    s &= val <= (end[i] - after).astype(np.uint64)
    sstart[i[s]] = after[s]
    slen[i[s]] = val[s]
    v = done & (t != VT_STRING)
    sint = (val[v] >> np.uint64(1)) ^ (np.uint64(0) - (val[v] & np.uint64(1)))
    ival[i[v]] = np.where(t[v] == VT_SINT, sint,
                          np.where(t[v] == VT_BOOL, val[v] != 0, val[v])
                          ).view(np.int64)
    ok[i[s | v]] = True
    vtype = np.where(ok, tag, 0).astype(np.int32)

    errors: dict = {}
    extra: list[bytes] = []     # string payloads decode_value returned
    at = len(base)
    for j in np.flatnonzero(~ok).tolist():
        try:
            vt, pv = decode_value(bytes(entries[j]))
        except MVTError as e:
            errors[j] = e
            continue
        vtype[j] = vt
        if vt == VT_STRING:
            b = pv.encode("utf-8", "surrogateescape")
            sstart[j], slen[j] = at, len(b)
            extra.append(b)
            at += len(b)
        elif vt in (VT_FLOAT, VT_DOUBLE):
            dval[j] = pv
        else:
            iv = int(pv)
            ival[j] = iv - (1 << 64) if iv >= 1 << 63 else iv
    if extra:
        raw = np.frombuffer(base + b"".join(extra), np.uint8)

    is_str = vtype == VT_STRING
    slen[~is_str] = 0
    soff = np.zeros(n + 1, np.int64)
    np.cumsum(slen, out=soff[1:])
    gather = np.arange(soff[-1]) + np.repeat(sstart - soff[:-1], slen)
    sval = utf8_array(pa.Array.from_buffers(pa.binary(), n, [
        pa.py_buffer(np.packbits(is_str, bitorder="little")),
        pa.py_buffer(soff.astype(np.int32)),
        pa.py_buffer(raw[gather])]))
    return ValueColumns(vtype, sval, dval, ival, errors)
