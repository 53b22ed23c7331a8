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

from .errors import FormatError, TypeError_
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
