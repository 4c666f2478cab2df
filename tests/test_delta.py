"""DELTA_BINARY_PACKED / DELTA_LENGTH_BYTE_ARRAY / DELTA_BYTE_ARRAY /
BYTE_STREAM_SPLIT golden vectors + round-trips, ported from
/root/reference/tests/{delta_binary_packed,delta_length_byte_array,
delta_byte_array,byte_stream_split}_test.cc."""

import numpy as np
import pytest

from parquet4seastar_spark.codecs.delta import (
    byte_stream_split_decode,
    byte_stream_split_encode,
    dbp_decode,
    dbp_encode,
    delta_byte_array_decode_components,
    delta_byte_array_encode,
    dlba_decode,
    dlba_encode,
)

INT32_MIN, INT32_MAX = -(1 << 31), (1 << 31) - 1
INT64_MIN, INT64_MAX = -(1 << 63), (1 << 63) - 1


def test_dbp_decode_golden():
    # delta_binary_packed_test.cc:30-90: hand-built stream, 66 values,
    # block_size=128, 4 miniblocks, widths {4,3,2,1}, min_delta=-1
    header = bytes([0x80, 0x01, 0x4, 0x42, 0x10])
    block = bytes(
        [0x1, 0x4, 0x3, 0x2, 0x1]
        + [0b00010001] * 4
        + [0b00000000] * 8
        + [0b00011001, 0b00010001, 0b00010001, 0b00010001]
        + [
            0b01001001, 0b10010010, 0b00100100, 0b01001001,
            0b10010010, 0b00100100, 0b01001001, 0b10010010,
            0b00100100, 0b01001001, 0b10010010, 0b00100100,
            0b01001001, 0b10010010, 0b00100100, 0b01001001,
        ]
        + [0b11111101] + [0b11111111] * 7
        + [0b11111111] * 4
    )
    expected = (
        [8]
        + [8] * 8
        + [7, 6, 5, 4, 3, 2, 1, 0]
        + [-1, -2, -3, -4, -5, -6, -7, -8]
        + [0] * 8
        + [0] * 32
        + [0]
    )
    out, _ = dbp_decode(header + block, 4)
    assert out.tolist() == expected


def _roundtrip32_input():
    vals = list(range(1337))
    vals += [INT32_MIN, INT32_MAX, INT32_MIN, INT32_MAX]
    vals += [i * i for i in range(420)]
    return np.array(vals, dtype=np.int32)


def test_dbp_encoding32_roundtrip():
    # delta_binary_packed_test.cc:92-131 (incl. INT_MIN/MAX adjacency)
    vals = _roundtrip32_input()
    enc = dbp_encode(vals, 4)
    out, end = dbp_decode(enc, 4)
    assert end == len(enc)
    assert out.dtype == np.int32
    assert out.tolist() == vals.tolist()


def test_dbp_encoding64_roundtrip():
    vals = list(range(1337))
    vals += [INT64_MIN, INT64_MAX, INT64_MIN, INT64_MAX]
    vals += [i * i for i in range(-420, 420)]
    vals = np.array(vals, dtype=np.int64)
    enc = dbp_encode(vals, 8)
    out, end = dbp_decode(enc, 8)
    assert end == len(enc)
    assert out.tolist() == vals.tolist()


def test_dbp_empty():
    # delta_binary_packed_test.cc:164-188
    enc = dbp_encode(np.zeros(0, dtype=np.int64), 8)
    assert enc == bytes([0x80, 0x02, 0x08, 0x00, 0x00])
    out, end = dbp_decode(enc, 8)
    assert len(out) == 0 and end == len(enc)


def test_dbp_single_value():
    enc = dbp_encode(np.array([-7], dtype=np.int32), 4)
    out, _ = dbp_decode(enc, 4)
    assert out.tolist() == [-7]


def test_dbp_sorted_is_small():
    vals = np.arange(100_000, dtype=np.int64)
    enc = dbp_encode(vals, 8)
    # constant delta=1 -> 0-bit miniblocks; ~9 B/block of 256 values
    assert len(enc) < 4000
    out, _ = dbp_decode(enc, 8)
    assert (out == vals).all()


def test_dlba_decode_golden():
    # delta_length_byte_array_test.cc:33-90
    header = bytes([0x80, 0x01, 0x1, 0x4, 0x0A])
    block = bytes([0x0, 0x1] + [0b11111111] * 16)
    strings = b"aaaaa" + b"bbbbbb" + b"ccccccc" + b"dddddddd"
    lengths, payload = dlba_decode(header + block + strings, 4)
    assert lengths.tolist() == [5, 6, 7, 8]
    assert payload == strings


def test_dlba_roundtrip():
    values = [b"", b"a", b"hello world", b"x" * 1000, b"yz"]
    lengths = np.array([len(x) for x in values], dtype=np.int32)
    payload = b"".join(values)
    enc = dlba_encode(lengths, payload)
    out_lengths, out_payload = dlba_decode(enc, len(values))
    assert out_lengths.tolist() == lengths.tolist()
    assert out_payload == payload


def _dba(prefix_lens, suffixes):
    """A DELTA_BYTE_ARRAY stream built from its parts, unchecked."""
    return dbp_encode(np.array(prefix_lens, dtype=np.int32), 4) + dlba_encode(
        np.array([len(s) for s in suffixes], dtype=np.int32), b"".join(suffixes)
    )


def test_delta_byte_array_decode_golden():
    # delta_byte_array_test.cc:33-126: prefix lens {0,2,4,6} + DLBA suffixes
    buf = _dba([0, 2, 4, 6], [b"aaaaa", b"bbbbbb", b"ccccccc", b"dddddddd"])
    lengths, payload = delta_byte_array_decode_components(buf, 4)
    assert lengths.tolist() == [5, 8, 11, 14]
    assert payload == b"aaaaa" + b"aabbbbbb" + b"aabbccccccc" + b"aabbccdddddddd"


def test_delta_byte_array_encode_roundtrip():
    # write side is ours (the reference is decode-only); verify against the
    # page reader's decoder and on adversarial shapes
    cases = [
        [b"apple", b"applesauce", b"applet", b"banana", b"band"],
        [b"", b"", b"x"],
        [b"same"] * 100,
        [bytes([i % 7]) * (i % 30) for i in range(500)],  # long shared runs
        [],
    ]
    for vals in cases:
        lengths = np.array([len(v) for v in vals], dtype=np.int64)
        payload = b"".join(vals)
        enc = delta_byte_array_encode(lengths, payload)
        lens2, pl2 = delta_byte_array_decode_components(enc, len(vals))
        assert lens2.tolist() == lengths.tolist() and pl2 == payload


@pytest.mark.parametrize(
    "buf,n,message",
    [
        (_dba([0, 1], [b"a"]), None, "prefix/suffix count mismatch"),
        (_dba([0, 1], [b"a", b"b"]), 3, "wrong value count"),
        (_dba([1, 0], [b"a", b"b"]), None, "first value has a prefix"),
        (_dba([0, 3], [b"ab", b"c"]), None, "prefix longer than previous value"),
    ],
    ids=["count_mismatch", "value_count", "first_prefix", "long_prefix"],
)
def test_delta_byte_array_decode_refusals(buf, n, message):
    with pytest.raises(ValueError, match=f"DELTA_BYTE_ARRAY: {message}"):
        delta_byte_array_decode_components(buf, n)


def test_byte_stream_split_roundtrip():
    # byte_stream_split_test.cc:29-102 semantics: K de-interleaved streams
    f = np.array([1.5, -2.25, 3.75], dtype=np.float32)
    enc = byte_stream_split_encode(f)
    raw = f.view(np.uint8).reshape(-1, 4)
    # stream k = byte k of each value
    expected = bytes(raw[:, 0]) + bytes(raw[:, 1]) + bytes(raw[:, 2]) + bytes(raw[:, 3])
    assert enc == expected
    assert (byte_stream_split_decode(enc, np.float32, 3) == f).all()
    d = np.array([1.5e100, -2.25, 3.75e-200], dtype=np.float64)
    assert (byte_stream_split_decode(byte_stream_split_encode(d), np.float64, 3) == d).all()


def test_dbp_vectorized_block_boundaries_roundtrip():
    """The r7 width-class-batched encoder must agree with the per-block
    wire format at every block/miniblock boundary shape (255/256/257, a
    partial final miniblock, INT_MIN/INT_MAX wraparound, constant runs)."""
    rng = np.random.default_rng(7)
    for nbytes, sdt, lo, hi in [
        (4, np.int32, -(2**31), 2**31 - 1),
        (8, np.int64, -(2**63), 2**63 - 1),
    ]:
        cases = [
            np.zeros(0, dtype=sdt),
            np.array([5], dtype=sdt),
            np.array([lo, hi, lo, hi], dtype=sdt),
            np.full(513, -9, dtype=sdt),
            rng.integers(lo, hi, 255, dtype=sdt),
            rng.integers(lo, hi, 256, dtype=sdt),
            rng.integers(lo, hi, 257, dtype=sdt),
            rng.integers(-3, 3, 1000, dtype=sdt).cumsum().astype(sdt),
            rng.integers(lo, hi, 4097, dtype=sdt),
        ]
        for arr in cases:
            enc = dbp_encode(arr, nbytes)
            dec, _ = dbp_decode(enc, nbytes)
            assert np.array_equal(dec, arr)


def test_dbp_kernel_matches_numpy_fallback():
    """The r7 C DBP block emitter must be byte-identical to the numpy
    path (replayed in a P4S_NO_NATIVE subprocess)."""
    import json
    import os
    import subprocess
    import sys

    from parquet4seastar_spark.codecs import _native

    if _native.get_kernel() is None:
        import pytest

        pytest.skip("C kernel unavailable")
    rng = np.random.default_rng(23)
    cases = []
    for nbytes, sdt, lo, hi in [
        (4, np.int32, -(2**31), 2**31 - 1),
        (8, np.int64, -(2**63), 2**63 - 1),
    ]:
        arrs = [
            np.array([lo, hi, lo, hi] * 100, dtype=sdt),
            np.full(513, -42, dtype=sdt),
            rng.integers(lo, hi, 257, dtype=sdt),
            rng.integers(-100, 100, 3000, dtype=sdt),
        ]
        for _ in range(10):
            scale = int(rng.integers(1, 62))
            arrs.append(
                rng.integers(-(2**scale), 2**scale, int(rng.integers(0, 1500))).astype(sdt)
            )
        for a in arrs:
            enc = dbp_encode(a, nbytes)
            dec, _ = dbp_decode(enc, nbytes)
            assert np.array_equal(dec, a)
            cases.append((nbytes, a.tolist(), enc.hex()))
    code = (
        "import json,sys,numpy as np\n"
        "from parquet4seastar_spark.codecs.delta import dbp_encode\n"
        "for nbytes, vals, enc_hex in json.load(sys.stdin):\n"
        "    dt = np.int32 if nbytes==4 else np.int64\n"
        "    assert dbp_encode(np.array(vals, dtype=dt), nbytes).hex() == enc_hex\n"
        "print('PARITY')\n"
    )
    env = dict(os.environ, P4S_NO_NATIVE="1")
    r = subprocess.run(
        [sys.executable, "-c", code], input=json.dumps(cases), text=True,
        capture_output=True, env=env, cwd="/root/repo",
    )
    assert "PARITY" in r.stdout, r.stderr


def _uleb(v):
    out = bytearray()
    while v > 0x7F:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def _zz(v):
    return 2 * v if v >= 0 else -2 * v - 1


def _dbp_scalar(buf, nbytes):
    """One value at a time, straight from the spec, raising where the
    stream runs out with dbp_decode's messages: (values, end_pos)."""
    mask = (1 << (8 * nbytes)) - 1
    pos = 0

    def uleb():
        nonlocal pos
        v = 0
        for i in range(10):
            if pos >= len(buf):
                raise ValueError("incomplete ULEB128")
            b = buf[pos]
            pos += 1
            v |= (b & 0x7F) << (7 * i)
            if not b & 0x80:
                return v
        raise ValueError("ULEB128 overflow")

    block, nmb, total = uleb(), uleb(), uleb()
    zz = uleb()
    vals = [((zz >> 1) ^ -(zz & 1)) & mask] if total else []
    vpmb = block // nmb
    while len(vals) < total:
        zz = uleb()
        min_delta = (zz >> 1) ^ -(zz & 1)
        if pos + nmb > len(buf):
            raise ValueError("DELTA_BINARY_PACKED: truncated miniblock widths")
        widths = buf[pos : pos + nmb]
        pos += nmb
        for w in widths:
            if len(vals) == total:
                break
            nb = vpmb * w // 8
            if pos + nb > len(buf):
                raise ValueError("DELTA_BINARY_PACKED: unexpected end of data")
            bits = int.from_bytes(buf[pos : pos + nb], "little")
            pos += nb
            for i in range(vpmb):
                if len(vals) < total:
                    rel = (bits >> (i * w)) & ((1 << w) - 1)
                    vals.append((vals[-1] + min_delta + rel) & mask)
    sign = 1 << (8 * nbytes - 1)
    return [v - (sign << 1) if v & sign else v for v in vals], pos


def _mixed_width_stream(rng, nbytes, total):
    """A hand-built stream (256-value blocks of 8 miniblocks) whose blocks
    mix widths 0..64 -- for int32 too, where the encoder stops at 32."""
    out = bytearray(_uleb(256) + _uleb(8) + _uleb(total) + _uleb(_zz(-5)))
    left = total - 1
    choices = [0, 1, 3, 7, 8, 13, 16, 31, 32, 33, 57, 63, 64]
    while left > 0:
        out += _uleb(_zz(int(rng.integers(-(2**40), 2**40))))
        widths = rng.choice(choices, 8)
        out += bytes(widths.astype(np.uint8).tolist())
        for w in widths[: (min(left, 256) + 31) // 32]:
            out += bytes(rng.integers(0, 256, 4 * int(w), dtype=np.uint8))
        left -= min(left, 256)
    return bytes(out)


def test_dbp_decode_mixed_miniblock_widths():
    rng = np.random.default_rng(11)
    for nbytes in (4, 8):
        for total in (2, 33, 257, 700, 1025):
            buf = _mixed_width_stream(rng, nbytes, total)
            out, end = dbp_decode(buf, nbytes)
            want, want_end = _dbp_scalar(buf, nbytes)
            assert out.dtype == (np.int32 if nbytes == 4 else np.int64)
            assert out.tolist() == want and end == want_end == len(buf)
    # the encoder's own mixed streams: constant runs (width 0) beside
    # full-range runs (width 32 / 64)
    for nbytes, dt in ((4, np.int32), (8, np.int64)):
        info = np.iinfo(dt)
        parts = [np.full(40, 9), rng.integers(info.min, info.max, 70, dtype=dt, endpoint=True),
                 np.arange(300), rng.integers(-50, 50, 100)]
        vals = np.concatenate([p.astype(dt) for p in parts])
        enc = dbp_encode(vals, nbytes)
        assert dbp_decode(enc, nbytes)[0].tolist() == vals.tolist() == _dbp_scalar(enc, nbytes)[0]


def test_dbp_decode_block_boundaries():
    rng = np.random.default_rng(12)
    for nbytes, dt in ((4, np.int32), (8, np.int64)):
        for n in (1, 2, 31, 32, 33, 255, 256, 257, 258, 288, 289, 512, 513, 769):
            vals = rng.integers(-(2**20), 2**20, n).astype(dt)
            enc = dbp_encode(vals, nbytes)
            out, end = dbp_decode(enc + b"tail", nbytes)
            assert out.tolist() == vals.tolist() and end == len(enc)
            assert _dbp_scalar(enc, nbytes) == (vals.tolist(), len(enc))


def test_dbp_decode_truncation_messages():
    # every prefix of a multi-block stream fails with the message of the
    # part it cuts: header varint, block widths or miniblock data
    import pytest

    rng = np.random.default_rng(13)
    for nbytes in (4, 8):
        buf = _mixed_width_stream(rng, nbytes, 600)
        messages = set()
        for cut in range(len(buf)):
            with pytest.raises(ValueError) as err:
                dbp_decode(buf[:cut], nbytes)
            with pytest.raises(ValueError) as want:
                _dbp_scalar(buf[:cut], nbytes)
            assert str(err.value) == str(want.value), cut
            messages.add(str(err.value))
        assert messages == {
            "incomplete ULEB128",
            "DELTA_BINARY_PACKED: truncated miniblock widths",
            "DELTA_BINARY_PACKED: unexpected end of data",
        }
