"""Per-chunk Bloom filters for equality pruning (beyond the reference,
which writes no statistics at all; cf. the parquet format's optional
bloom_filter_offset, PLAIN min/max stats only prove ABSENCE of a range —
a point lookup over unsorted data matches every chunk's [min, max] and
prunes nothing, which at 100 TB is the difference between decoding every
chunk and touching one).

Layout: fixed m = 131072 bits (2048 int64 words, 16 KiB) per chunk, k = 6
probes at (h1 + i*h2) mod m.  A FIXED m keeps the probe positions pure
python constants for any literal, so ``prune_chunks`` reads only the k
words those positions fall in (never a whole bloom) and tests the bits
with numpy on the driver — no UDF, no per-chunk modulus arithmetic.

Hashes (identical math scalar-side and vectorized):
- bytes values: two FNV-1a-64 variants (different offset basis);
- int32/int64 values: two splitmix64 finalizer variants.

Build cost is bounded: blooms are skipped for chunks with > 32768 values
(FPR would degrade anyway) and BYTE_ARRAY columns whose longest value
exceeds 256 bytes (key-like columns — ids, paths, commits, languages —
are the point-lookup targets; body text is not).
"""

from __future__ import annotations

import numpy as np

BLOOM_WORDS = 2048
BLOOM_BITS = BLOOM_WORDS * 64
BLOOM_K = 6
MAX_BLOOM_VALUES = 32768
MAX_BLOOM_VALUE_LEN = 256

_FNV_BASIS_1 = np.uint64(0xCBF29CE484222325)
_FNV_BASIS_2 = np.uint64(0x84222325CBF29CE4)  # rotated basis: independent variant
_FNV_PRIME = np.uint64(0x100000001B3)

_SM_INC_1 = np.uint64(0x9E3779B97F4A7C15)
_SM_INC_2 = np.uint64(0xD1B54A32D192ED03)

_M64 = (1 << 64) - 1


def _splitmix(x: np.ndarray, inc: np.uint64) -> np.ndarray:
    z = x + inc
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def int_hashes(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(h1, h2) uint64 per int value (int32/int64, two's-complement view)."""
    x = np.ascontiguousarray(values, dtype=np.int64).view(np.uint64)
    return _splitmix(x, _SM_INC_1), _splitmix(x, _SM_INC_2)


def bytes_hashes(lengths: np.ndarray, payload: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(h1, h2) uint64 per ragged bytes value: FNV-1a over each value's
    bytes, vectorized as one masked pass per byte POSITION (max value
    length bounds the loop, values bound the per-pass width)."""
    n = len(lengths)
    h1 = np.full(n, _FNV_BASIS_1, dtype=np.uint64)
    h2 = np.full(n, _FNV_BASIS_2, dtype=np.uint64)
    if n == 0:
        return h1, h2
    lengths = np.ascontiguousarray(lengths, dtype=np.int64)
    from . import _native

    lib = _native.get_kernel()
    if lib is not None:
        import ctypes

        pl = np.ascontiguousarray(payload[: int(lengths.sum())])
        lib.p4s_bloom_bytes_hashes(
            ctypes.c_void_p(pl.ctypes.data), ctypes.c_void_p(lengths.ctypes.data),
            n, ctypes.c_void_p(h1.ctypes.data), ctypes.c_void_p(h2.ctypes.data),
        )
        return h1, h2
    starts = np.zeros(n, dtype=np.int64)
    starts[1:] = np.cumsum(lengths)[:-1]
    max_len = int(lengths.max()) if n else 0
    live = np.arange(n, dtype=np.int64)
    for j in range(max_len):
        keep = lengths[live] > j
        if not keep.all():
            live = live[keep]
            if not len(live):
                break
        b = payload[starts[live] + j].astype(np.uint64)
        h1[live] = (h1[live] ^ b) * _FNV_PRIME
        h2[live] = (h2[live] ^ b) * _FNV_PRIME
    return h1, h2


def build_bloom(h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
    """int64[BLOOM_WORDS] with the k probe bits of every value set."""
    bits = np.zeros(BLOOM_BITS, dtype=bool)
    mask = np.uint64(BLOOM_BITS - 1)  # power of two
    pos = h1 & mask
    for i in range(BLOOM_K):
        bits[pos.astype(np.int64)] = True
        pos = (pos + h2) & mask
    words = np.packbits(bits, bitorder="little").view(np.int64)
    return words


def scalar_hashes(value) -> tuple[int, int]:
    """(h1, h2) for a python literal, identical to the vectorized math.

    str encodes utf-8; bytes hash as-is; int uses the splitmix pair."""
    if isinstance(value, str):
        value = value.encode("utf-8")
    if isinstance(value, (bytes, bytearray)):
        h1, h2 = int(_FNV_BASIS_1), int(_FNV_BASIS_2)
        for b in value:
            h1 = ((h1 ^ b) * int(_FNV_PRIME)) & _M64
            h2 = ((h2 ^ b) * int(_FNV_PRIME)) & _M64
        return h1, h2
    if isinstance(value, (int, np.integer)):
        x = int(value) & _M64

        def sm(x, inc):
            z = (x + inc) & _M64
            z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _M64
            z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _M64
            return z ^ (z >> 31)

        return sm(x, int(_SM_INC_1)), sm(x, int(_SM_INC_2))
    raise TypeError(f"bloom literals must be str/bytes/int, got {type(value)}")


def probe_positions(value) -> list[int]:
    """The k bit positions a literal would occupy (python ints < BLOOM_BITS)."""
    h1, h2 = scalar_hashes(value)
    mask = BLOOM_BITS - 1
    pos = h1 & mask
    out = []
    for _ in range(BLOOM_K):
        out.append(pos)
        pos = (pos + h2) & mask
    return out
