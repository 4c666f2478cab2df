"""Golden vectors from /root/reference/tests/rle_encoding_test.cc:37-120
(BitReader unpack / ULEB128 / zigzag, incl. corruption cases)."""

import numpy as np
import pytest

from parquet4seastar_spark.codecs.bitpack import (
    VarintError,
    bit_width,
    pack_bits,
    uleb128_decode,
    uleb128_encode,
    unpack_bits,
    zigzag64_decode,
    zigzag64_encode,
)


def test_bit_width_matches_reference():
    # encoding.hh:35-37; dictionary quirk: width = bit_width(cardinality)
    assert bit_width(0) == 0
    assert bit_width(1) == 1
    assert bit_width(3) == 2
    assert bit_width(5) == 3
    assert bit_width(255) == 8
    assert bit_width(256) == 9
    assert bit_width((1 << 63)) == 64


def test_bitreader_happy_width3():
    # rle_encoding_test.cc:37-47: {0,1,2,3,4} packed at width 3
    packed = bytes([0b10001000, 0b01000110])
    vals = unpack_bits(packed, 3, 5)
    assert vals.tolist() == [0, 1, 2, 3, 4]
    # and our packer produces the same bytes (zero-padded tail)
    assert pack_bits(np.array([0, 1, 2, 3, 4], dtype=np.uint64), 3) == packed


def test_uleb128_and_zigzag_golden():
    # rle_encoding_test.cc:42-44: 128 as LEB128, -128 as zigzag
    assert uleb128_encode(128) == bytes([0b10000000, 0b00000001])
    assert uleb128_decode(bytes([0b10000000, 0b00000001]), 0) == (128, 2)
    assert uleb128_encode(zigzag64_encode(-128)) == bytes([0b11111111, 0b00000001])
    v, _ = uleb128_decode(bytes([0b11111111, 0b00000001]), 0)
    assert zigzag64_decode(v) == -128


def test_uleb128_corrupted():
    # rle_encoding_test.cc:78-85: incomplete ULEB128
    with pytest.raises(VarintError):
        uleb128_decode(bytes([0b10000000]), 0)


def test_uleb128_overflow():
    # rle_encoding_test.cc:88-96: 7-byte varint overflows u32 reader
    buf = bytes([0b10000000] * 6 + [0b00000000])
    with pytest.raises(VarintError):
        uleb128_decode(buf, 0, max_bytes=5)


@pytest.mark.parametrize("width", [1, 2, 3, 5, 7, 8, 12, 16, 23, 31, 32, 41, 55, 56, 57, 63, 64])
def test_pack_unpack_roundtrip(width):
    rng = np.random.default_rng(42)
    n = 1000
    if width == 64:
        vals = rng.integers(0, 1 << 63, n, dtype=np.uint64) * 2 + rng.integers(0, 2, n, dtype=np.uint64)
    else:
        vals = rng.integers(0, 1 << width, n, dtype=np.uint64)
    packed = pack_bits(vals, width)
    assert len(packed) == (n * width + 7) // 8
    out = unpack_bits(packed, width, n)
    assert (out == vals).all()
    # bytes after the packed values (the next miniblock, run or page) must
    # not leak into the last values
    assert (unpack_bits(packed + b"\xff" * 9, width, n) == vals).all()


def test_zigzag_extremes():
    for v in [0, -1, 1, -(1 << 31), (1 << 31) - 1, -(1 << 63), (1 << 63) - 1]:
        assert zigzag64_decode(zigzag64_encode(v)) == v
