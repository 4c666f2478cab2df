"""FSST symbol-table compression round-trips (implemented from the FSST
paper; not in the reference -- mandated by BASELINE.json north_star)."""

import numpy as np
import pytest

from parquet4seastar_spark.codecs.fsst import (
    SymbolTable,
    fsst_decode,
    fsst_encode,
    train_symbol_table,
)


def _roundtrip(data: bytes) -> bytes:
    table = train_symbol_table(data[: 1 << 16])
    return fsst_decode(fsst_encode(data, table))


def test_empty():
    assert _roundtrip(b"") == b""


def test_tiny():
    assert _roundtrip(b"a") == b"a"
    assert _roundtrip(b"\xff") == b"\xff"


def test_all_escape_bytes():
    # runs of 0xff stress the escape/literal parity parsing
    for n in range(1, 20):
        data = b"\xff" * n
        assert _roundtrip(data) == data


def test_mixed_escapes():
    data = b"a\xffb\xff\xffc\xff\xff\xffd"
    assert _roundtrip(data) == data


def test_text_roundtrip_and_gain():
    base = (
        b"def encode(self, values):\n    return self.table.lookup(values)\n"
        b"import numpy as np\nfrom typing import Optional\n"
    )
    data = base * 200
    table = train_symbol_table(data[: 1 << 16])
    enc = fsst_encode(data, table)
    assert fsst_decode(enc) == data
    # repetitive source text must compress well below 60%
    assert len(enc) < 0.6 * len(data)


def test_random_bytes_roundtrip():
    rng = np.random.default_rng(7)
    data = rng.integers(0, 256, 10_000, dtype=np.uint8).tobytes()
    assert _roundtrip(data) == data


def test_serialize_deserialize():
    table = train_symbol_table(b"hello world, hello there, hello hello" * 50)
    blob = table.serialize()
    table2, pos = SymbolTable.deserialize(blob)
    assert pos == len(blob)
    data = b"hello world and hello again"
    assert fsst_decode(fsst_encode(data, table2)) == data


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_structured_roundtrip(seed):
    rng = np.random.default_rng(seed)
    words = [b"the", b"quick", b"brown", b"fox", b"jumps", b"over", b"lazy", b"dog", b"\xff\xfe", b""]
    data = b" ".join(words[rng.integers(0, len(words))] for _ in range(2000))
    assert _roundtrip(data) == data


def test_native_numpy_parity_cross_segment():
    """The C kernel (codecs/_native.py) and the numpy path must produce
    BYTE-IDENTICAL encodings and symbol tables — same greedy rule, same
    256 KiB segment boundary behavior — and decode each other's output.
    The kernel encodes segments in pairs: the payloads are one segment, a
    pair, a pair followed by an odd segment, and a pair followed by an odd
    segment shorter than one 8-byte window.  That last segment ends inside
    a NUL-padded word, whose symbol matches the zero-padded window past
    the end unless the tail guard rejects it.  Skips silently to a
    numpy-vs-numpy self-check when no compiler is available."""
    import os

    from parquet4seastar_spark.codecs import _native

    seg = 1 << 18
    rng = np.random.default_rng(11)
    words = [
        b"request", b"response", b"the", b"href=", b"<div>", b"\x00\x01", b"error", b"pad\x00\x00\x00",
    ]
    data = b" ".join(words[rng.integers(0, len(words))] for _ in range(200_000))
    assert len(data) > 2 * seg + 50_000
    table = train_symbol_table(data[: 1 << 16])

    def with_numpy(f):
        os.environ["P4S_NO_NATIVE"] = "1"
        _native._tried, _native._lib = False, None
        try:
            return f()
        finally:
            del os.environ["P4S_NO_NATIVE"]
            _native._tried, _native._lib = False, None

    for payload in (
        data[:50_000], data[: seg + 1000], data[: 2 * seg + 50_000], data[: 2 * seg] + b"pad\x00\x00",
    ):
        enc_native = fsst_encode(payload, table)
        enc_numpy = with_numpy(lambda: fsst_encode(payload, table))
        assert enc_native == enc_numpy, len(payload)
        assert fsst_decode(enc_numpy) == payload
        assert with_numpy(lambda: fsst_decode(enc_native)) == payload
    # training on a sample that spans two segments: same table either path
    table_p = with_numpy(lambda: train_symbol_table(data[: seg + 1000]))
    table_n = train_symbol_table(data[: seg + 1000])
    assert np.array_equal(table_n.values, table_p.values)
    assert np.array_equal(table_n.lengths, table_p.lengths)


_TRAIN_PARITY = r"""
import hashlib, json, sys
import numpy as np
from parquet4seastar_spark.codecs import _native, fsst
from parquet4seastar_spark.codecs.pages import encode_chunk
from parquet4seastar_spark.engine.generator import _gen_batch

batch = _gen_batch(np.arange(3000, dtype=np.int64), 200, 42, 1.2)


def payload(col):
    return b"".join(v.encode() for v in batch.column(col).to_pylist() if v)


samples = {
    "empty": b"",
    "one_byte": b"q",
    "eight_identical": b"z" * 8,
    "all_byte_values": bytes(range(256)),
    "random_64k": np.random.default_rng(5).integers(0, 256, 1 << 16, dtype=np.uint8).tobytes(),
    "content": payload("content")[: 1 << 16],
    "content_two_segments": payload("content")[: (1 << 18) + 4099],
    "path": payload("path")[: 1 << 15],
    "commit": payload("commit")[: 1 << 15],
}
out = {"kernel": _native.get_kernel() is not None}
for name, s in samples.items():
    t = fsst.train_symbol_table(s)
    out["train/" + name] = [t.values.tolist(), t.lengths.tolist()]
for col in ("content", "path", "commit"):
    for policy in ("auto", "FSST"):
        c = encode_chunk(batch.column(col), policy=policy)
        pages = hashlib.sha256(b"".join(p.data for p in c.pages)).hexdigest()
        out[f"pages/{col}/{policy}"] = [pages, c.encodings]
print(json.dumps(out))
"""


def test_train_symbol_table_native_numpy_parity():
    """The C training kernel (codecs/_native.py p4s_fsst_train) must give
    the numpy path's symbol table bit for bit -- same codes, values and
    lengths -- on degenerate and real samples, and encode_chunk pages of
    the source-repo text columns must be byte-identical whichever path
    ran.  Each path runs in its own interpreter (P4S_NO_NATIVE=1 for the
    fallback)."""
    import json
    import os
    import subprocess
    import sys

    def run(**env):
        r = subprocess.run(
            [sys.executable, "-c", _TRAIN_PARITY], capture_output=True, text=True,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            env={k: v for k, v in os.environ.items() if k != "P4S_NO_NATIVE"} | env,
        )
        assert r.returncode == 0, r.stderr
        return json.loads(r.stdout)

    native, numpy_path = run(), run(P4S_NO_NATIVE="1")
    assert numpy_path.pop("kernel") is False
    native.pop("kernel")  # False without a C compiler: numpy vs numpy
    assert native.keys() == numpy_path.keys()
    for key in native:
        assert native[key] == numpy_path[key], key
    assert native["train/empty"] == [[], []]
    assert native["train/one_byte"] == [[ord("q")], [1]]
    assert len(native["train/random_64k"][0]) == 254  # the symbol cap
    assert native["pages/content/FSST"][1] == ["FSST"]


def _loop_luts(values, lengths):
    """The per-symbol loop the vectorized SymbolTable build replaced."""
    n = len(values)
    lut1 = np.full(256, 255, dtype=np.uint8)
    lut2 = np.full(65536, 254, dtype=np.uint8)
    for code in range(n):
        ln, v = int(lengths[code]), int(values[code])
        if ln == 1:
            lut1[v & 0xFF] = code
        else:
            cur = int(lut2[v & 0xFFFF])
            if cur == 254 or int(lengths[cur]) < ln:
                lut2[v & 0xFFFF] = code
    return lut1, lut2


def _loop_deserialize(buf):
    n = buf[0]
    lens = np.frombuffer(buf, dtype=np.uint8, count=n, offset=1).astype(np.int64)
    pos = 1 + n
    values = np.zeros(n, dtype=np.uint64)
    for i in range(n):
        values[i] = int.from_bytes(bytes(buf[pos : pos + int(lens[i])]), "little")
        pos += int(lens[i])
    return values, lens, pos


@pytest.mark.parametrize("native", [True, False])
@pytest.mark.parametrize("seed", range(6))
def test_symbol_table_build_matches_the_loop(seed, native):
    """The vectorized lut1/lut2 build and deserialize give the per-symbol
    loop's tables bit for bit on random tables -- repeated 1-byte values
    (the last code wins), shared 2-byte prefixes of equal and different
    lengths (the longest wins, ties to the first code) -- and the decoded
    bytes are the input, on the C kernel and the numpy path alike."""
    import os

    from parquet4seastar_spark.codecs import _native

    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 255))
    lengths = rng.integers(1, 9, n).astype(np.int64)
    # few distinct low bytes, so prefixes and 1-byte values collide
    raw = rng.integers(0, 1 << 63, n, dtype=np.uint64)
    raw = (raw & ~np.uint64(0xFFFF)) | rng.integers(0, 6, n).astype(np.uint64) * np.uint64(0x0101)
    masks = np.array([(1 << (8 * L)) - 1 for L in range(9)], dtype=np.uint64)
    values = raw & masks[lengths]
    table = SymbolTable(values, lengths)
    lut1, lut2 = _loop_luts(values, lengths)
    assert np.array_equal(table.lut1, lut1) and np.array_equal(table.lut2, lut2)
    blob = table.serialize() + b"\x07tail"
    loop_vals, loop_lens, loop_pos = _loop_deserialize(blob)
    back, pos = SymbolTable.deserialize(blob)
    assert pos == loop_pos
    assert np.array_equal(back.values, loop_vals) and np.array_equal(back.lengths, loop_lens)
    for name in ("lut1", "lut2", "matrix", "vals_by_code", "lens_by_code", "mask_by_code"):
        assert np.array_equal(getattr(back, name), getattr(table, name)), name
    data = b"".join(int(v).to_bytes(8, "little")[: int(ln)] for v, ln in zip(values, lengths))
    data = data * 3 + rng.integers(0, 256, 500, dtype=np.uint8).tobytes()
    os.environ.pop("P4S_NO_NATIVE", None)
    if not native:
        os.environ["P4S_NO_NATIVE"] = "1"
    _native._tried, _native._lib = False, None
    try:
        enc = fsst_encode(data, table)
        assert fsst_decode(enc) == data
    finally:
        os.environ.pop("P4S_NO_NATIVE", None)
        _native._tried, _native._lib = False, None


def test_deserialize_refuses_an_oversized_symbol():
    with pytest.raises(ValueError, match="9-byte symbol"):
        SymbolTable.deserialize(bytes([1, 9]) + b"x" * 9)
