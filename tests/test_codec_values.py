"""Property-value codec tests (fixture cases 032-038 semantics)."""

import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from vtzero_spark.mvt.errors import FormatError, TypeError_
from vtzero_spark.mvt.pbf import (
    decode_varint,
    decode_varint_array,
    encode_varint,
    encode_varint_array,
    varint_len_array,
    zigzag32_decode,
    zigzag32_encode,
)
from vtzero_spark.mvt.values import (
    VT_BOOL,
    VT_DOUBLE,
    VT_FLOAT,
    VT_INT,
    VT_SINT,
    VT_STRING,
    VT_UINT,
    decode_value,
    encode_value,
    typed_accessor,
    value_type,
)
import numpy as np


def test_varint_roundtrip():
    for v in [0, 1, 127, 128, 300, 2**32 - 1, 2**63, 2**64 - 1]:
        assert decode_varint(encode_varint(v), 0) == (v, len(encode_varint(v)))


def test_varint_array_roundtrip():
    vals = np.array([0, 1, 127, 128, 16384, 2**29, 2**32 - 1, 2**56 + 5, 2**64 - 1],
                    dtype=np.uint64)
    buf = encode_varint_array(vals)
    # matches the scalar encoder byte for byte
    assert buf == b"".join(encode_varint(int(v)) for v in vals)
    assert np.array_equal(decode_varint_array(buf), vals)


def _encode_varint_array_ten_pass(values):
    """The ten-masked-pass array encoder the early-exit one replaced
    (the reference: one full-length pass per possible output byte)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    nbytes = _varint_len_ten_pass(v)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    for j in range(10):
        mask = nbytes > j
        chunk = (v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (nbytes[mask] - 1) > j
        out[starts[mask] + j] = chunk.astype(np.uint8) | (cont.astype(np.uint8) << 7)
    return out.tobytes()


def _varint_len_ten_pass(values):
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = np.ones(v.shape, dtype=np.int64)
    for k in range(1, 10):
        n += (v >= np.uint64(1) << np.uint64(7 * k)).astype(np.int64)
    return n


@pytest.mark.parametrize("vals", [[], [0], [127], [128], [2**63], [2**64 - 1],
                                  [0, 127, 128, 2**63, 2**64 - 1, 300]])
def test_varint_array_matches_ten_pass_reference(vals):
    v = np.array(vals, dtype=np.uint64)
    assert encode_varint_array(v) == _encode_varint_array_ten_pass(v)
    assert np.array_equal(varint_len_array(v), _varint_len_ten_pass(v))


@settings(max_examples=300, deadline=None)
@given(st.lists(st.integers(0, 2**64 - 1) | st.integers(0, 300), max_size=60),
       st.integers(1, 4))
def test_varint_array_fuzz_matches_ten_pass_reference(vals, width):
    v = np.array(vals, dtype=np.uint64)
    assert encode_varint_array(v) == _encode_varint_array_ten_pass(v)
    assert np.array_equal(varint_len_array(v), _varint_len_ten_pass(v))
    # a matrix encodes row-major, the same bytes as its flattening
    m = v[: len(v) - len(v) % width].reshape(-1, width)
    assert encode_varint_array(m) == encode_varint_array(m.reshape(-1))
    assert np.array_equal(varint_len_array(m), _varint_len_ten_pass(m))


def test_varint_array_truncated():
    with pytest.raises(FormatError, match="truncated varint"):
        decode_varint_array(b"\x80")


def test_zigzag32():
    for v in [0, -1, 1, -2, 25, 17, -(2**31), 2**31 - 1]:
        assert zigzag32_decode(zigzag32_encode(v)) == v
    assert zigzag32_encode(25) == 50
    assert zigzag32_encode(17) == 34


@pytest.mark.parametrize(
    "vtype,value,pyval",
    [
        (VT_STRING, "i am a string value", "i am a string value"),  # fixture 032
        (VT_FLOAT, struct.unpack("<f", struct.pack("<f", 3.1))[0], None),  # 033
        (VT_DOUBLE, 1.23, 1.23),  # 034
        (VT_INT, 6, 6),  # 035
        (VT_INT, -6, -6),
        (VT_UINT, 87948, 87948),  # 036
        (VT_SINT, 87948, 87948),  # 037
        (VT_SINT, -87948, -87948),  # 038
        (VT_BOOL, True, True),
        (VT_BOOL, False, False),
    ],
)
def test_value_roundtrip(vtype, value, pyval):
    data = encode_value(vtype, value)
    t, v = decode_value(data)
    assert t == vtype
    if vtype == VT_FLOAT:
        assert v == pytest.approx(3.1, rel=1e-6)
    else:
        assert v == (pyval if pyval is not None else value)


def test_wire_identity_int_uint_sint_differ():
    # SURVEY §1.2: int 5, uint 5, sint 5 are three DIFFERENT values
    assert len({encode_value(VT_INT, 5), encode_value(VT_UINT, 5), encode_value(VT_SINT, 5)}) == 3


def test_typed_accessor_mismatch_raises():
    # fixture 038 cross-type checks
    s = encode_value(VT_STRING, "ello")
    for want in (VT_BOOL, VT_INT, VT_DOUBLE, VT_FLOAT, VT_SINT, VT_UINT):
        with pytest.raises(TypeError_):
            typed_accessor(s, want)
    b = encode_value(VT_BOOL, True)
    with pytest.raises(TypeError_):
        typed_accessor(b, VT_STRING)


def test_invalid_value_types():
    # fixture 010: int pretending to be string (field 1, varint wire)
    with pytest.raises(FormatError, match="illegal property value type"):
        value_type(b"\x08\x06")
    # fixture 011/026: unknown field tag 8
    with pytest.raises(FormatError, match="illegal property value type"):
        value_type(b"\x45\x00\x00\x00\x00")
    # empty value message
    with pytest.raises(FormatError, match="missing tag value"):
        value_type(b"")


def test_int_is_twos_complement_varint():
    # encoded_property_value.hpp: int64 negative -> 10-byte varint
    data = encode_value(VT_INT, -6)
    assert len(data) == 11  # 1 tag + 10 varint bytes
    assert decode_value(data) == (VT_INT, -6)
