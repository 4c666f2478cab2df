"""RLE/bit-packed hybrid: decode golden vectors from
/root/reference/tests/rle_encoding_test.cc:125-243 and encoder-semantics
parity with the reference RleEncoder (rle_encoding.hh:352-484)."""

import numpy as np
import pytest

from parquet4seastar_spark.codecs.bitpack import uleb128_encode
from parquet4seastar_spark.codecs.rle import rle_decode, rle_encode


def test_decoder_happy():
    # rle_encoding_test.cc:127-155
    packed = bytes([0b00000011, 0b10001000, 0b11000110, 0b11111010, 0b00001000, 0b00000101])
    out = rle_decode(packed, 3, 12)
    assert out.tolist() == [0, 1, 2, 3, 4, 5, 6, 7, 5, 5, 5, 5]


def test_decoder_bit_packed_uleb128():
    # rle_encoding_test.cc:158-176: literal run of 8*64=512 values, width 16
    packed = bytearray([0b10000001, 0b00000001])
    for i in range(512):
        packed += int(i).to_bytes(2, "little")
    out = rle_decode(bytes(packed), 16, 512)
    assert out.tolist() == list(range(512))


def test_decoder_rle_uleb128():
    # rle_encoding_test.cc:179-196: repeated run, 64 copies of 5, width 8
    packed = bytes([0b10000000, 0b00000001, 0b00000101])
    out = rle_decode(packed, 8, 64)
    assert out.tolist() == [5] * 64


def test_decoder_truncation_cases():
    # rle_encoding_test.cc:199-243: all decode to 0 values
    for packed, width in [
        (bytes([0b00000011, 0b10001000, 0b11000110]), 3),  # literal too short
        (bytes([0b00001000]), 3),  # rle without value
        (bytes([0b10000001]), 3),  # literal with incomplete ULEB128
        (bytes([0b10000000]), 3),  # rle with incomplete ULEB128
    ]:
        assert len(rle_decode(packed, width, 8)) == 0


# --------------------------------------------------------------------------
# encoder semantics (byte-exact behaviors derived from RleEncoder)


def test_encode_all_literal_pads_to_group():
    # {0..7} then {5,5,5,5}: Flush() pads the partial group with zeros and
    # closes ONE literal run of 2 groups (literal_count != 0 so the trailing
    # equal buffer does NOT become a repeated run -- rle_encoding.hh:461).
    vals = np.array([0, 1, 2, 3, 4, 5, 6, 7, 5, 5, 5, 5], dtype=np.uint64)
    enc = rle_encode(vals, 3)
    assert enc[0] == (2 << 1) | 1
    out = rle_decode(enc, 3, 12)
    assert out.tolist() == vals.tolist()


def test_encode_short_trailing_repeat():
    # 4 equal values only: Flush all_repeat path -> short repeated run
    enc = rle_encode(np.array([5, 5, 5, 5], dtype=np.uint64), 3)
    assert enc == bytes([4 << 1, 5])


def test_encode_long_run():
    # 100 ones then 100 zeros at width 1 (doc example, rle_encoding.hh:71-75)
    vals = np.array([1] * 100 + [0] * 100, dtype=np.uint64)
    enc = rle_encode(vals, 1)
    assert enc == uleb128_encode(100 << 1) + bytes([1]) + uleb128_encode(100 << 1) + bytes([0])
    assert rle_decode(enc, 1, 200).tolist() == vals.tolist()


def test_encode_alternating_literal():
    # alternating 0/1 (200 values) -> one literal run of 25 groups
    vals = np.tile(np.array([1, 0], dtype=np.uint64), 100)
    enc = rle_encode(vals, 1)
    assert enc[0] == (25 << 1) | 1
    assert len(enc) == 26
    assert rle_decode(enc, 1, 200).tolist() == vals.tolist()


def test_run_not_group_aligned_stays_partially_literal():
    # run of 8 starting mid-group: the group-straddling part goes literal and
    # repeat_count resets at the literal flush (rle_encoding.hh:456) -- only
    # runs covering whole fresh groups become repeated runs.
    vals = np.array([1, 2, 3] + [7] * 13, dtype=np.uint64)  # 16 values
    enc = rle_encode(vals, 3)
    # group1 (1,2,3,7*5) literal; group2 = 8x7 repeated run
    assert enc[0] == (1 << 1) | 1
    assert enc[4] == 8 << 1  # repeated run of the 8 aligned sevens
    assert rle_decode(enc, 3, 16).tolist() == vals.tolist()


def test_literal_cap_63_groups():
    # literal runs close at 63 groups = 504 values (rle_encoding.hh:448)
    rng = np.random.default_rng(1)
    vals = rng.integers(0, 8, 1000, dtype=np.uint64)
    # make truly alternating so no repeats >= 8
    vals = (vals + np.arange(1000, dtype=np.uint64)) % 8
    enc = rle_encode(vals, 3)
    assert enc[0] == (63 << 1) | 1
    assert rle_decode(enc, 3, 1000).tolist() == vals.tolist()


@pytest.mark.parametrize("width", [1, 2, 3, 7, 11, 20])
@pytest.mark.parametrize("kind", ["random", "runs", "mixed", "tiny1", "tiny7", "tiny8", "tiny9", "allsame"])
def test_roundtrip_sweep(width, kind):
    rng = np.random.default_rng(hash((width, kind)) % (2**32))
    hi = 1 << width
    if kind == "random":
        vals = rng.integers(0, hi, 2000, dtype=np.uint64)
    elif kind == "runs":
        vals = np.repeat(rng.integers(0, hi, 50, dtype=np.uint64), rng.integers(1, 100, 50))
    elif kind == "mixed":
        parts = []
        for _ in range(20):
            if rng.random() < 0.5:
                parts.append(rng.integers(0, hi, rng.integers(1, 30), dtype=np.uint64))
            else:
                parts.append(np.full(rng.integers(1, 50), rng.integers(0, hi), dtype=np.uint64))
        vals = np.concatenate(parts)
    elif kind == "allsame":
        vals = np.full(777, hi - 1, dtype=np.uint64)
    else:
        n = int(kind[4:])
        vals = rng.integers(0, hi, n, dtype=np.uint64)
    enc = rle_encode(vals, width)
    out = rle_decode(enc, width, len(vals))
    assert out.tolist() == vals.tolist()


def _rle_decode_per_run(buf: bytes, width: int, n: int) -> list[int]:
    """One ``unpack_bits`` call per literal run: the run-at-a-time decode
    the batched ``rle_decode`` must equal, truncations included."""
    from parquet4seastar_spark.codecs.bitpack import VarintError, uleb128_decode, unpack_bits

    out: list[int] = []
    pos = 0
    while len(out) < n:
        try:
            indicator, pos = uleb128_decode(buf, pos, max_bytes=5)
        except VarintError:
            break
        if indicator & 1:
            nvals = (indicator >> 1) * 8
            need = (nvals * width + 7) // 8
            if pos + need > len(buf):
                break
            vals = unpack_bits(buf[pos : pos + need], width, nvals)
            pos += need
            out.extend(vals[: n - len(out)].tolist())
        else:
            vbytes = (width + 7) // 8
            if pos + vbytes > len(buf):
                break
            value = int.from_bytes(buf[pos : pos + vbytes], "little")
            pos += vbytes
            out.extend([value] * min(indicator >> 1, n - len(out)))
    return out


@pytest.mark.parametrize("width", [1, 3, 10, 20])
def test_decode_truncation_matches_per_run_decode(width):
    # every byte cut of a stream mixing literal and repeated runs (long
    # literals with two-byte headers too) decodes to the same values and
    # the same short count as the run-at-a-time decode
    rng = np.random.default_rng(width)
    hi = 1 << width
    parts = []
    for _ in range(12):
        if rng.random() < 0.5:
            parts.append(rng.integers(0, hi, int(rng.integers(1, 600)), dtype=np.uint64))
        else:
            parts.append(np.full(int(rng.integers(8, 200)), rng.integers(0, hi), dtype=np.uint64))
    vals = np.concatenate(parts)
    enc = rle_encode(vals, width)
    assert rle_decode(enc, width, len(vals)).tolist() == vals.tolist()
    counts = set()
    for cut in range(len(enc) + 1):
        for n in (len(vals), len(vals) // 3):
            got = rle_decode(enc[:cut], width, n)
            assert got.dtype == np.uint64
            assert got.tolist() == _rle_decode_per_run(enc[:cut], width, n), (cut, n)
            counts.add(len(got))
    assert len(counts) > 8  # the cuts end the decode in many different runs
