"""Vectorized bit-packing + varint primitives.

Wire-format parity targets (reference: michoecho/parquet4seastar):
- LSB-first bit packing, identical to the reference's ``BitWriter::PutValue``
  / ``BitReader::GetBatch`` (include/parquet4seastar/bit_stream_utils.hh:191-240,
  290-366).  One generic numpy routine replaces the ~3.9k generated LoC of
  per-width unpack kernels (bpacking.hh).
- ULEB128 varints per ``BitWriter::PutVlqInt`` (bit_stream_utils.hh:395-403);
  readers bound to 5 bytes (u32) / 10 bytes (u64) like ``GetVlqInt``
  (bit_stream_utils.hh:405-441).
- ZigZag is always 64-bit: ``(u << 1) ^ (v >> 63)``
  (bit_stream_utils.hh:443-446).

All hot paths are numpy-vectorized; scalar helpers are used only for headers.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "bit_width",
    "pack_bits",
    "unpack_bits",
    "uleb128_encode",
    "uleb128_decode",
    "zigzag64_encode",
    "zigzag64_decode",
    "VarintError",
]


class VarintError(ValueError):
    """Raised on truncated or overlong varints (mirrors GetVlqInt -> false)."""


def bit_width(max_n: int) -> int:
    """Bits needed to represent ``max_n``; 0 for 0.

    Matches the reference ``bit_width`` (encoding.hh:35-37): note the
    dictionary index width is ``bit_width(cardinality)`` -- *not*
    ``cardinality - 1`` -- e.g. 5 dict entries => width 3
    (verified by tests/dictionary_encoder_test.cc:69).
    """
    return int(max_n).bit_length()


def pack_bits(values: np.ndarray, width: int) -> bytes:
    """Bit-pack ``values`` at ``width`` bits each, LSB-first.

    Output length is ``ceil(len(values) * width / 8)`` bytes; trailing pad
    bits are zero.
    """
    n = len(values)
    if n == 0 or width == 0:
        return b""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if width == 64:
        return v.tobytes()  # little-endian on all supported platforms
    if width == 8:
        return v.astype(np.uint8).tobytes()
    if width == 16:
        return v.astype(np.uint16).tobytes()
    if width == 32:
        return v.astype(np.uint32).tobytes()
    shifts = np.arange(width, dtype=np.uint64)
    bits = ((v[:, None] >> shifts) & np.uint64(1)).astype(np.uint8).reshape(-1)
    return np.packbits(bits, bitorder="little").tobytes()


def unpack_bits(buf: bytes | np.ndarray, width: int, n: int) -> np.ndarray:
    """Unpack ``n`` values of ``width`` bits from ``buf`` (LSB-first).

    Raises ValueError if the buffer is too short.
    """
    if width == 0:
        return np.zeros(n, dtype=np.uint64)
    raw = np.frombuffer(buf, dtype=np.uint8) if isinstance(buf, (bytes, bytearray, memoryview)) else buf
    need = (n * width + 7) // 8
    if len(raw) < need:
        raise ValueError(f"bit-packed buffer too short: need {need}B, have {len(raw)}B")
    raw = raw[:need]
    if width == 8:
        return raw.astype(np.uint64)
    if width == 16 and need == n * 2:
        return np.frombuffer(raw.tobytes(), dtype=np.uint16).astype(np.uint64)
    if width == 32 and need == n * 4:
        return np.frombuffer(raw.tobytes(), dtype=np.uint32).astype(np.uint64)
    if width == 64 and need == n * 8:
        return np.frombuffer(raw.tobytes(), dtype=np.uint64).copy()
    if width <= 56:
        # one unaligned little-endian 8-byte read per value, shifted and
        # masked; 8 zero bytes of slack keep the last reads in bounds.  A
        # wider value can straddle nine bytes and takes the bit path below.
        padded = np.zeros(need + 8, dtype=np.uint8)
        padded[:need] = raw
        bitpos = np.arange(n, dtype=np.int64) * width
        words = np.ndarray((need + 1,), dtype="<u8", buffer=padded, strides=(1,))
        return (words[bitpos >> 3] >> (bitpos & 7).astype(np.uint64)) & np.uint64((1 << width) - 1)
    bits = np.unpackbits(raw, bitorder="little")[: n * width]
    weights = (np.uint64(1) << np.arange(width, dtype=np.uint64))
    return (bits.reshape(n, width).astype(np.uint64) * weights).sum(axis=1, dtype=np.uint64)


def uleb128_encode(v: int) -> bytes:
    """ULEB128-encode a non-negative integer (BitWriter::PutVlqInt)."""
    if v < 0:
        raise ValueError("uleb128 requires non-negative input")
    out = bytearray()
    while v & ~0x7F:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v & 0x7F)
    return bytes(out)


def uleb128_decode(buf, pos: int, max_bytes: int = 5) -> tuple[int, int]:
    """Decode a ULEB128 varint starting at ``pos``; returns (value, new_pos).

    ``max_bytes``: 5 for u32 targets, 10 for u64 -- mirrors the reference's
    bounded GetVlqInt loops which treat longer varints as corruption.
    """
    tmp = 0
    for i in range(max_bytes):
        if pos + i >= len(buf):
            raise VarintError("incomplete ULEB128")
        byte = buf[pos + i]
        tmp |= (byte & 0x7F) << (7 * i)
        if (byte & 0x80) == 0:
            return tmp, pos + i + 1
    raise VarintError("ULEB128 overflow")


def zigzag64_encode(v: int) -> int:
    """64-bit zigzag: maps signed to unsigned (PutZigZagVlqInt)."""
    u = v & 0xFFFFFFFFFFFFFFFF
    return ((u << 1) ^ ((v >> 63) & 0xFFFFFFFFFFFFFFFF)) & 0xFFFFFFFFFFFFFFFF


def zigzag64_decode(u: int) -> int:
    v = (u >> 1) ^ -(u & 1)
    # wrap to signed 64-bit
    v &= 0xFFFFFFFFFFFFFFFF
    return v - (1 << 64) if v >= (1 << 63) else v
