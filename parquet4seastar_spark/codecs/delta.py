"""DELTA_BINARY_PACKED, DELTA_LENGTH_BYTE_ARRAY, DELTA_BYTE_ARRAY,
BYTE_STREAM_SPLIT.

Wire parity with the reference:
- DELTA_BINARY_PACKED encoder (src/encoding.cc:862-996): blocks of 256
  values, 8 miniblocks x 32; header = ULEB128(block_size=256),
  ULEB128(miniblocks=8), ULEB128(total_count), zigzag-ULEB128(first value);
  per block zigzag min_delta, then ALL 8 miniblock bit-width bytes, then
  bit-packed (delta - min_delta) for the miniblocks that contain values.
  Delta arithmetic is wrapping (the reference leans on unsigned wraparound,
  encoding.cc:909-918) so INT_MIN/INT_MAX adjacency round-trips.
  The reference leaves pad deltas of the final miniblock uninitialized; we
  write zeros (same size, deterministic, spec-compatible).
- DELTA_BINARY_PACKED decoder (encoding.cc:141-250): consumes whole
  miniblocks including final padding (eat_final_padding), which fixes the
  end offset DELTA_LENGTH_BYTE_ARRAY relies on.
- DELTA_LENGTH_BYTE_ARRAY (encoding.cc:252-294): DBP-encoded int32 lengths
  followed by concatenated value bytes.  Decode-only in the reference; we
  implement the encoder too (trivially, from Arrow offsets).
- DELTA_BYTE_ARRAY (encoding.cc:296-362): DBP prefix lengths + DLBA
  suffixes, incremental front-coding.  Decode-only in the reference; we
  implement the encoder too (prefixes capped at 64 bytes).
- BYTE_STREAM_SPLIT (encoding.cc:364-394): K de-interleaved byte streams.
  Decode-only in the reference; encoder provided for round-trip tests.
"""

from __future__ import annotations

import numpy as np

from .bitpack import (
    pack_bits,
    uleb128_decode,
    uleb128_encode,
    unpack_bits,
    zigzag64_decode,
    zigzag64_encode,
)

__all__ = [
    "dbp_encode",
    "dbp_decode",
    "dlba_encode",
    "dlba_decode",
    "delta_byte_array_encode",
    "delta_byte_array_decode_components",
    "byte_stream_split_encode",
    "byte_stream_split_decode",
]

_BLOCK = 256
_MINIBLOCKS = 8
_VPMB = _BLOCK // _MINIBLOCKS  # 32

_POWERS = (np.uint64(1) << np.arange(64, dtype=np.uint64))


def _bit_widths(maxima: np.ndarray) -> np.ndarray:
    """Vectorized bit_width over uint64 maxima."""
    return np.searchsorted(_POWERS, maxima, side="right").astype(np.uint8)


def dbp_encode(values: np.ndarray, nbytes: int) -> bytes:
    """Encode int32 (nbytes=4) or int64 (nbytes=8) values."""
    sdtype = np.int32 if nbytes == 4 else np.int64
    udtype = np.uint32 if nbytes == 4 else np.uint64
    v = np.ascontiguousarray(values, dtype=sdtype)
    n = len(v)
    first = int(v[0]) if n else 0
    header = (
        uleb128_encode(_BLOCK)
        + uleb128_encode(_MINIBLOCKS)
        + uleb128_encode(n)
        + uleb128_encode(zigzag64_encode(first))
    )
    if n <= 1:
        return header
    u = v.view(udtype)
    du = (u[1:] - u[:-1]).astype(np.uint64)  # wrapping deltas, widened
    mask = np.uint64((1 << (nbytes * 8)) - 1)
    du &= mask
    n_deltas = len(du)
    from . import _native

    lib = _native.get_kernel()
    if lib is not None:
        # C block emitter (per-block min/rel/widths/bit-pack at memory
        # speed); byte-identical to the numpy path below, pinned by the
        # reference goldens + the cross-path fuzz in tests/test_delta.py
        import ctypes

        du = np.ascontiguousarray(du)
        nblocks = (n_deltas + _BLOCK - 1) // _BLOCK
        out_buf = np.empty(len(header) + nblocks * (18 + _BLOCK * 8) + 16, dtype=np.uint8)
        wrote = lib.p4s_dbp_blocks(
            ctypes.c_void_p(du.ctypes.data), n_deltas, nbytes,
            ctypes.c_void_p(out_buf.ctypes.data),
        )
        return header + out_buf[:wrote].tobytes()
    # Vectorized across ALL blocks (byte-identical to the former per-block
    # loop, pinned by the reference goldens + a cross-path fuzz test): the
    # old shape called pack_bits once per 32-value miniblock -- ~9 MB/s on
    # dict-index-free int pages because numpy call overhead dominated.
    nblocks = (n_deltas + _BLOCK - 1) // _BLOCK
    block_starts = np.arange(nblocks, dtype=np.int64) * _BLOCK
    # signed min over wrapped deltas (reference: cast unsigned -> signed)
    if nbytes == 4:
        as_signed = du.astype(np.uint32).view(np.int32)
    else:
        as_signed = du.view(np.int64)
    mins = np.minimum.reduceat(as_signed, block_starts).astype(np.int64)
    md_u = mins.view(np.uint64) & mask  # two's complement == min & mask
    block_sizes = np.diff(np.append(block_starts, n_deltas))
    rel = (du - np.repeat(md_u, block_sizes)) & mask
    # miniblock layout: every block but the last uses all 8 miniblocks; the
    # last uses ceil(size/32), zero-padded.  Full blocks occupy exactly
    # _BLOCK slots, so the padded stream is contiguous.
    last_size = int(block_sizes[-1])
    used_last = (last_size + _VPMB - 1) // _VPMB
    total_mbs = (nblocks - 1) * _MINIBLOCKS + used_last
    padded = np.zeros(total_mbs * _VPMB, dtype=np.uint64)
    padded[:n_deltas] = rel
    maxima = np.maximum.reduceat(padded, np.arange(total_mbs, dtype=np.int64) * _VPMB)
    widths_used = _bit_widths(maxima)
    widths_mat = np.zeros((nblocks, _MINIBLOCKS), dtype=np.uint8)
    widths_mat.reshape(-1)[: (nblocks - 1) * _MINIBLOCKS] = widths_used[: (nblocks - 1) * _MINIBLOCKS]
    widths_mat[-1, :used_last] = widths_used[(nblocks - 1) * _MINIBLOCKS :]
    # pack all miniblocks of one bit width in a single numpy pass
    mb_rows = padded.reshape(total_mbs, _VPMB)
    packed: list[bytes | None] = [None] * total_mbs
    for w in np.unique(widths_used).tolist():
        if w == 0:
            continue
        sel = np.flatnonzero(widths_used == w)
        rows = mb_rows[sel]
        shifts = np.arange(w, dtype=np.uint64)
        bits = ((rows[:, :, None] >> shifts) & np.uint64(1)).astype(np.uint8)
        pk = np.packbits(bits.reshape(len(sel), _VPMB * w), axis=1, bitorder="little")
        for i, mb in enumerate(sel.tolist()):
            packed[mb] = pk[i].tobytes()
    out = [header]
    mb_idx = 0
    for b in range(nblocks):
        out.append(uleb128_encode(zigzag64_encode(int(mins[b]))))
        out.append(widths_mat[b].tobytes())
        used = _MINIBLOCKS if b < nblocks - 1 else used_last
        for _ in range(used):
            pb = packed[mb_idx]
            if pb is not None:
                out.append(pb)
            mb_idx += 1
    return b"".join(out)


def dbp_decode(buf, nbytes: int, pos: int = 0) -> tuple[np.ndarray, int]:
    """Decode a DBP stream; returns (values, end_pos).

    ``end_pos`` is past the final consumed miniblock (the reference's
    eat_final_padding semantics, encoding.cc:246-255), i.e. where a
    DELTA_LENGTH_BYTE_ARRAY payload would begin.

    Block headers are read once per block; then every miniblock of one bit
    width is unpacked in a single pass (vpmb is a multiple of 8, so the
    miniblocks of one width concatenate into one packed stream) -- the
    shape dbp_encode's numpy path packs with.
    """
    sdtype = np.int32 if nbytes == 4 else np.int64
    udtype = np.uint32 if nbytes == 4 else np.uint64
    block_size, pos = uleb128_decode(buf, pos, max_bytes=10)
    num_mb, pos = uleb128_decode(buf, pos, max_bytes=10)
    if num_mb == 0:
        raise ValueError("DELTA_BINARY_PACKED: zero miniblocks per block")
    total, pos = uleb128_decode(buf, pos, max_bytes=10)
    zz, pos = uleb128_decode(buf, pos, max_bytes=10)
    first = zigzag64_decode(zz)
    if total == 0:
        return np.zeros(0, dtype=sdtype), pos
    vpmb = block_size // num_mb
    if vpmb == 0 or vpmb % 8 != 0:
        raise ValueError("DELTA_BINARY_PACKED: miniblock size must be a positive multiple of 8")
    mask = (1 << (nbytes * 8)) - 1
    remaining = total - 1
    # per used miniblock: byte offset of its packed values, bit width, and
    # its block's min_delta (masked to the value width)
    offs: list[int] = []
    mb_widths: list[int] = []
    mins: list[int] = []
    n = len(buf)
    while remaining > 0:
        zz, pos = uleb128_decode(buf, pos, max_bytes=10)
        min_delta = zigzag64_decode(zz)
        if pos + num_mb > n:
            raise ValueError("DELTA_BINARY_PACKED: truncated miniblock widths")
        in_block = min(remaining, block_size)
        used = (in_block + vpmb - 1) // vpmb
        if used > num_mb:
            raise ValueError("DELTA_BINARY_PACKED: block size is not a multiple of the miniblock count")
        widths = list(bytes(buf[pos : pos + used]))
        pos += num_mb
        for w in widths:
            offs.append(pos)
            pos += vpmb * w // 8
        if pos > n:
            raise ValueError("DELTA_BINARY_PACKED: unexpected end of data")
        mb_widths.extend(widths)
        mins.extend([min_delta & mask] * used)
        remaining -= in_block
    raw = buf if isinstance(buf, np.ndarray) else np.frombuffer(buf, dtype=np.uint8)
    width_arr = np.array(mb_widths, dtype=np.int64)
    off_arr = np.array(offs, dtype=np.int64)
    deltas = np.zeros((len(mb_widths), vpmb), dtype=np.uint64)
    for w in np.unique(width_arr).tolist():
        if w == 0:
            continue
        sel = np.flatnonzero(width_arr == w)
        nb = vpmb * w // 8
        # this width's miniblocks back to back
        packed = raw[(off_arr[sel, None] + np.arange(nb, dtype=np.int64)).reshape(-1)]
        deltas[sel] = unpack_bits(packed, w, len(sel) * vpmb).reshape(len(sel), vpmb)
    deltas += np.array(mins, dtype=np.uint64)[:, None]
    all_deltas = deltas.reshape(-1)[: total - 1]
    # cumsum with wraparound in the target unsigned dtype
    acc = np.empty(total, dtype=udtype)
    acc[0] = udtype(first & mask)
    acc[1:] = np.cumsum(all_deltas.astype(udtype), dtype=udtype)
    acc[1:] += acc[0]
    return acc.view(sdtype), pos


def dlba_encode(lengths: np.ndarray, payload: bytes) -> bytes:
    """DELTA_LENGTH_BYTE_ARRAY = DBP(int32 lengths) + concatenated bytes."""
    return dbp_encode(np.ascontiguousarray(lengths, dtype=np.int32), 4) + bytes(payload)


def dlba_decode(buf, n: int | None = None) -> tuple[np.ndarray, bytes]:
    """Returns (lengths int32[n], payload bytes)."""
    lengths, pos = dbp_decode(buf, 4)
    if n is not None and len(lengths) != n:
        raise ValueError(f"DELTA_LENGTH_BYTE_ARRAY: expected {n} lengths, got {len(lengths)}")
    if (lengths < 0).any():
        raise ValueError("DELTA_LENGTH_BYTE_ARRAY: negative length")
    total = int(lengths.astype(np.int64).sum())
    if pos + total > len(buf):
        raise ValueError("DELTA_LENGTH_BYTE_ARRAY: payload truncated")
    return lengths, bytes(buf[pos : pos + total])


def delta_byte_array_encode(lengths: np.ndarray, payload, max_prefix: int = 64) -> bytes:
    """DELTA_BYTE_ARRAY (front coding): DBP(prefix lengths) + DLBA(suffixes).

    The reference is decode-only here (src/encoding.cc:296-362 has no
    encoder); we add the write side.  Prefixes are computed VECTORIZED over
    a padded (n, max_prefix) byte matrix -- consecutive-row equality,
    cumulative AND, row sum -- capping shared prefixes at ``max_prefix``
    bytes (spec-valid: a shorter-than-maximal prefix is still a correct
    encoding, it just stores a longer suffix).
    """
    lengths = np.ascontiguousarray(lengths, dtype=np.int64)
    payload = np.frombuffer(payload, dtype=np.uint8) if isinstance(payload, (bytes, memoryview)) else payload
    n = len(lengths)
    if n == 0:
        return dbp_encode(np.zeros(0, dtype=np.int32), 4) + dlba_encode(
            np.zeros(0, dtype=np.int32), b""
        )
    starts = np.zeros(n, dtype=np.int64)
    starts[1:] = np.cumsum(lengths)[:-1]
    k = int(min(max(int(lengths.max()), 1), max_prefix))
    mat = np.zeros((n, k), dtype=np.uint8)
    take = np.minimum(lengths, k)
    total_take = int(take.sum())
    if total_take:
        rows = np.repeat(np.arange(n, dtype=np.int64), take)
        rel = np.arange(total_take, dtype=np.int64) - np.repeat(np.cumsum(take) - take, take)
        mat[rows, rel] = payload[np.repeat(starts, take) + rel]
    prefix = np.zeros(n, dtype=np.int64)
    if n > 1:
        eq = mat[1:] == mat[:-1]
        prefix[1:] = np.cumprod(eq, axis=1).sum(axis=1)
        prefix[1:] = np.minimum(prefix[1:], np.minimum(lengths[1:], lengths[:-1]))
    suffix_lens = lengths - prefix
    total_suffix = int(suffix_lens.sum())
    if total_suffix:
        s_base = np.repeat(starts + prefix, suffix_lens)
        s_rel = np.arange(total_suffix, dtype=np.int64) - np.repeat(
            np.cumsum(suffix_lens) - suffix_lens, suffix_lens
        )
        suffix_payload = payload[s_base + s_rel].tobytes()
    else:
        suffix_payload = b""
    return dbp_encode(prefix.astype(np.int32), 4) + dlba_encode(
        suffix_lens.astype(np.int32), suffix_payload
    )


def delta_byte_array_decode_components(buf, n: int | None = None) -> tuple[np.ndarray, bytes]:
    """Decode to (lengths int64[n], concatenated payload bytes).

    Front coding is inherently sequential (each value borrows its prefix
    from the previous); the loop copies whole slices, not bytes.
    """
    prefix_lens, pos = dbp_decode(buf, 4)
    suffix_lens, suffixes = dlba_decode(memoryview(buf)[pos:])
    if len(prefix_lens) != len(suffix_lens):
        raise ValueError("DELTA_BYTE_ARRAY: prefix/suffix count mismatch")
    if n is not None and len(prefix_lens) != n:
        raise ValueError("DELTA_BYTE_ARRAY: wrong value count")
    m = len(prefix_lens)
    lengths = prefix_lens.astype(np.int64) + suffix_lens.astype(np.int64)
    out = bytearray(int(lengths.sum()))
    offsets = np.zeros(m + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    spos = 0
    prev_start = 0
    for i in range(m):
        p = int(prefix_lens[i])
        s = int(suffix_lens[i])
        o = int(offsets[i])
        if i == 0 and p:
            raise ValueError("DELTA_BYTE_ARRAY: first value has a prefix")
        if p > offsets[i] - prev_start and i:
            raise ValueError("DELTA_BYTE_ARRAY: prefix longer than previous value")
        out[o : o + p] = out[prev_start : prev_start + p]
        out[o + p : o + p + s] = suffixes[spos : spos + s]
        spos += s
        prev_start = o
    return lengths, bytes(out)


def byte_stream_split_encode(values: np.ndarray) -> bytes:
    """Interleave: stream k holds byte k of every value."""
    v = np.ascontiguousarray(values)
    k = v.dtype.itemsize
    return v.view(np.uint8).reshape(-1, k).T.copy().tobytes()


def byte_stream_split_decode(buf: bytes, dtype: np.dtype, n: int) -> np.ndarray:
    dtype = np.dtype(dtype)
    k = dtype.itemsize
    if len(buf) < n * k:
        raise ValueError("BYTE_STREAM_SPLIT buffer too short")
    raw = np.frombuffer(buf, dtype=np.uint8, count=n * k)
    return raw.reshape(k, n).T.copy().view(dtype).reshape(n)
