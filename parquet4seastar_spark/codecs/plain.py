"""PLAIN encoding for all physical types.

Wire parity with the reference:
- fixed-width types: raw little-endian values back-to-back
  (plain_encoder<T>, src/encoding.cc:618-643; decoder :81-88).
- BOOLEAN: LSB-first bit-packed (plain_decoder_boolean, encoding.cc:90-96).
  The reference writes booleans via the generic fixed path on its bool io
  type; we use the parquet-standard bit-packed form for both directions.
- BYTE_ARRAY: u32-LE length prefix + bytes per value
  (plain_encoder<BYTE_ARRAY>, encoding.cc:645-676; decoder :98-104, 430-450).
- FIXED_LEN_BYTE_ARRAY: raw bytes, no prefix (encoding.cc:678-708).

Byte-array columns are carried as ``(lengths: np.int32[n], payload: bytes)``
pairs -- the same offsets+data layout Arrow uses, so conversion from a
``pyarrow.Array`` is zero-copy on the payload.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = [
    "plain_encode_fixed",
    "plain_decode_fixed",
    "plain_encode_bool",
    "plain_decode_bool",
    "plain_encode_byte_array",
    "plain_decode_byte_array",
    "plain_encode_flba",
    "plain_decode_flba",
    "byte_array_extremes",
]

_U32 = struct.Struct("<I")


def plain_encode_fixed(values: np.ndarray) -> bytes:
    """INT32/INT64/FLOAT/DOUBLE: memcpy semantics, little-endian."""
    return np.ascontiguousarray(values).astype(values.dtype.newbyteorder("<"), copy=False).tobytes()


def plain_decode_fixed(buf: bytes, dtype: np.dtype, n: int) -> np.ndarray:
    dtype = np.dtype(dtype).newbyteorder("<")
    need = dtype.itemsize * n
    if len(buf) < need:
        raise ValueError(f"PLAIN buffer too short: need {need}B, have {len(buf)}B")
    return np.frombuffer(buf, dtype=dtype, count=n).copy()


def plain_encode_bool(values: np.ndarray) -> bytes:
    return np.packbits(np.asarray(values, dtype=bool), bitorder="little").tobytes()


def plain_decode_bool(buf: bytes, n: int) -> np.ndarray:
    if len(buf) * 8 < n:
        raise ValueError("PLAIN boolean buffer too short")
    return np.unpackbits(np.frombuffer(buf, dtype=np.uint8), bitorder="little")[:n].astype(bool)


def plain_encode_byte_array(lengths: np.ndarray, payload: bytes) -> bytes:
    """Interleave u32-LE lengths with value bytes.

    C kernel (one memcpy per value) when available; the numpy fallback
    scatters through per-byte fancy indices (byte-identical output)."""
    n = len(lengths)
    if n == 0:
        return b""
    lengths = np.ascontiguousarray(lengths, dtype=np.int64)
    payload_arr = np.frombuffer(payload, dtype=np.uint8)
    total_payload = int(lengths.sum())
    if len(payload_arr) != total_payload:
        raise ValueError("payload size does not match lengths")
    from . import _native

    lib = _native.get_kernel()
    if lib is not None:
        import ctypes

        payload_arr = np.ascontiguousarray(payload_arr)
        out = np.empty(4 * n + total_payload, dtype=np.uint8)
        wrote = lib.p4s_plain_ba_encode(
            ctypes.c_void_p(lengths.ctypes.data), n,
            ctypes.c_void_p(payload_arr.ctypes.data),
            ctypes.c_void_p(out.ctypes.data),
        )
        return out[:wrote].tobytes()
    out = np.empty(4 * n + total_payload, dtype=np.uint8)
    # value start offsets in the output (after each 4-byte prefix)
    starts = np.zeros(n, dtype=np.int64)
    starts[1:] = np.cumsum(lengths)[:-1]
    out_starts = starts + 4 * (np.arange(n, dtype=np.int64) + 1)
    # scatter the 4 length bytes
    len_le = lengths.astype("<u4").view(np.uint8).reshape(n, 4)
    len_targets = (out_starts - 4)[:, None] + np.arange(4, dtype=np.int64)
    out[len_targets.reshape(-1)] = len_le.reshape(-1)
    # scatter payload bytes
    if total_payload:
        owner = np.repeat(np.arange(n, dtype=np.int64), lengths)
        targets = np.arange(total_payload, dtype=np.int64) + 4 * (owner + 1)
        out[targets] = payload_arr
    return out.tobytes()


def plain_decode_byte_array(buf: bytes, n: int) -> tuple[np.ndarray, bytes]:
    """Walk the n length prefixes once (each prefix locates the next, a
    serial chain), then gather the value bytes in one vectorized pass.

    Returns (lengths int32[n], payload bytes).
    """
    if n == 0:
        return np.zeros(0, dtype=np.int32), b""
    size = len(buf)
    unpack = _U32.unpack_from
    starts = []
    pos = 0
    for i in range(n):
        if pos + 4 > size:
            raise ValueError(f"PLAIN byte-array buffer truncated: {i} of {n} values")
        (length,) = unpack(buf, pos)
        pos += 4
        starts.append(pos)
        pos += length
        if pos > size:
            raise ValueError("PLAIN byte-array value overruns buffer")
    value_starts = np.array(starts, dtype=np.int64)
    lengths = np.diff(value_starts, append=pos + 4) - 4
    # the payload is every byte of buf[:pos] but the length prefixes
    keep = np.ones(pos, dtype=bool)
    keep[(value_starts - 4)[:, None] + np.arange(4)] = False
    payload = np.frombuffer(buf, dtype=np.uint8, count=pos)[keep].tobytes()
    return lengths.astype(np.int32), payload


def plain_encode_flba(payload: bytes) -> bytes:
    """FIXED_LEN_BYTE_ARRAY: raw concatenation."""
    return bytes(payload)


def plain_decode_flba(buf: bytes, type_length: int, n: int) -> bytes:
    need = type_length * n
    if len(buf) < need:
        raise ValueError("PLAIN FLBA buffer too short")
    return bytes(buf[:need])


def byte_array_extremes(lengths: np.ndarray, payload: np.ndarray, k: int) -> tuple[int, int, int]:
    """Rows holding the byte-lexicographic min and max of the values'
    ``k``-byte zero-padded prefixes, as ``(lo_i, hi_i, min_len)``.

    Ties keep the first row for the min and the last for the max.  Zero
    padding can TIE a longer value containing NUL bytes with a shorter one
    (b'a\\x00' vs b'a'); ``min_len`` is the shortest prefix length (capped
    at ``k``) among the rows tied with the min, so that prefix is <= every
    tied value.  C kernel when available; the numpy fallback gives the
    same three numbers."""
    from . import _native

    lib = _native.get_kernel()
    if lib is not None:
        import ctypes

        pl = np.ascontiguousarray(payload[: int(lengths.sum())])
        ln = np.ascontiguousarray(lengths, dtype=np.int64)
        out3 = np.empty(3, dtype=np.int64)
        lib.p4s_ba_stats(
            ctypes.c_void_p(pl.ctypes.data), ctypes.c_void_p(ln.ctypes.data),
            len(ln), k, ctypes.c_void_p(out3.ctypes.data),
        )
        return int(out3[0]), int(out3[1]), int(out3[2])
    offs = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offs[1:])
    # width padded to a multiple of 8 so rows view as big-endian uint64
    # words: comparing those words IS byte-lexicographic comparison of
    # the zero-padded prefixes (the extra zero columns never affect
    # order), so the stable lexsort runs over 1-2 uint64 keys instead
    # of 16 byte columns -- same order, same tie rows, 8x fewer key
    # passes
    kpad = ((k + 7) // 8) * 8
    mat = np.zeros((len(lengths), kpad), dtype=np.uint8)
    take = np.minimum(lengths, k)
    tot = int(take.sum())
    if tot:
        rows = np.repeat(np.arange(len(lengths), dtype=np.int64), take)
        rel = np.arange(tot, dtype=np.int64) - np.repeat(np.cumsum(take) - take, take)
        mat[rows, rel] = payload[np.repeat(offs[:-1], take) + rel]
    words = mat.view(np.uint64).reshape(len(lengths), kpad // 8).byteswap()
    order = np.lexsort(tuple(words[:, j] for j in reversed(range(kpad // 8))))
    lo_i = int(order[0])
    ties = (mat[:, :k] == mat[lo_i, :k]).all(axis=1)
    return lo_i, int(order[-1]), int(np.minimum(lengths[ties], k).min())
