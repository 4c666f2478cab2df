"""Definition/repetition level encoding.

Reference semantics:
- levels are RLE/bit-packed hybrid at width = bit_width(max_level)
  (rle_builder over RleEncoder, encoding.hh:206-244; level_decoder
  encoding.hh:42-82, src/encoding.cc:26-79).
- V1 data pages prefix the level stream with a u32-LE byte length
  (level_decoder::reset_v1, encoding.cc:34-50; page assembly
  column_chunk_writer.hh:98-113).
- width 0 (max_level == 0) encodes nothing and decodes as all-zero
  (encoding.hh read_batch width-0 path).

Our engine's flat 5-column input table has max_def = 1 (nullable columns),
max_rep = 0; nested max-level cases are exercised in unit tests to preserve
the reference's level semantics (tests/column_chunk_writer_test.cc:41-108,
reader_schema.cc:79-93).
"""

from __future__ import annotations

import struct

import numpy as np

from .bitpack import bit_width
from .rle import rle_decode, rle_encode

__all__ = ["encode_levels_v1", "decode_levels_v1"]


def encode_levels_v1(levels: np.ndarray, max_level: int) -> bytes:
    """[u32-LE length][RLE hybrid levels]; empty for max_level == 0."""
    width = bit_width(max_level)
    if width == 0:
        return b""
    payload = rle_encode(np.asarray(levels, dtype=np.uint64), width)
    return struct.pack("<I", len(payload)) + payload


def decode_levels_v1(buf, max_level: int, num_values: int) -> tuple[np.ndarray, int]:
    """Returns (levels int32[num_values], bytes consumed)."""
    width = bit_width(max_level)
    if width == 0:
        return np.zeros(num_values, dtype=np.int32), 0
    if len(buf) < 4:
        raise ValueError("end of page while reading levels")
    (length,) = struct.unpack_from("<i", buf, 0)
    if length < 0:
        raise ValueError(f"negative RLE levels length ({length})")
    if 4 + length > len(buf):
        raise ValueError("end of page while reading levels")
    levels = rle_decode(bytes(buf[4 : 4 + length]), width, num_values)
    if len(levels) != num_values:
        raise ValueError(f"level stream truncated: {len(levels)} of {num_values}")
    out = levels.astype(np.int32)
    if len(out) and int(out.max()) > max_level:
        raise ValueError("level value out of range")
    return out, 4 + length
