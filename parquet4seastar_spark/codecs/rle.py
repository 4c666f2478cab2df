"""RLE / bit-packed hybrid codec, byte-exact with the reference encoder.

Reference: include/parquet4seastar/rle_encoding.hh (imported there from
Apache Impala/Arrow).  Grammar (rle_encoding.hh:42-63):

    encoded-block := run*
    run           := literal-run | repeated-run
    literal-run   := varint(groups << 1 | 1) <bit-packed values, groups*8 of them>
    repeated-run  := varint(count << 1)      <value, byte-aligned ceil(w/8) bytes>

Exact encoder semantics we reproduce (derived from RleEncoder::Put /
FlushBufferedValues / Flush, rle_encoding.hh:352-484):

- Values are buffered in groups of 8.  A group whose 8 values are all equal
  *and* that begins a fresh repeat (repeat_count reaches 8 exactly at the
  group boundary) switches the encoder to a repeated run; the run then
  extends value-by-value (unaligned) until a different value arrives.
- A run of equal values that straddles a literal group boundary does NOT
  retroactively become repeated: ``repeat_count_`` is reset to 0 whenever a
  literal group is flushed (rle_encoding.hh:456), so only the suffix of the
  run that covers whole fresh groups is emitted as a repeated run.
- Literal runs are closed at 63 groups (504 values): FlushBufferedValues
  closes when ``num_groups + 1 >= 64`` (rle_encoding.hh:448).
- Final flush (rle_encoding.hh:459-484): if nothing but a trailing
  all-equal buffer remains (lc == 0, repeat_count == num_buffered), it is
  emitted as a *short* repeated run (count < 8); otherwise the last partial
  group is zero-padded to 8 and closed as a literal run.

The encoder below is run-based: the python loop iterates only over runs of
length >= 8 (candidates for repeated-run emission), so cost is O(#long-runs)
plus vectorized numpy work -- both high-entropy and low-entropy inputs are
cheap.
"""

from __future__ import annotations

import numpy as np

from .bitpack import (
    VarintError,
    pack_bits,
    uleb128_decode,
    uleb128_encode,
    unpack_bits,
)

__all__ = ["rle_encode", "rle_decode"]

_MAX_LITERAL_VALUES = 63 * 8  # literal run closed at 63 groups = 504 values


def _emit_literal_region(out: list, v: np.ndarray, start: int, end: int, width: int) -> None:
    """Emit a closed literal region [start, end) (length % 8 == 0) as
    indicator+payload chunks, splitting at 63 groups like the streaming
    encoder does."""
    m = end - start
    off = start
    while m > 0:
        take = min(m, _MAX_LITERAL_VALUES)
        groups = take // 8
        out.append(uleb128_encode((groups << 1) | 1))
        out.append(pack_bits(v[off : off + take], width))
        off += take
        m -= take


def _emit_repeated(out: list, value: int, count: int, width: int) -> None:
    out.append(uleb128_encode(count << 1))
    nbytes = (width + 7) // 8
    out.append(int(value).to_bytes(nbytes, "little"))


def rle_encode(values: np.ndarray, width: int) -> bytes:
    """Encode ``values`` (all < 2**width) with the RLE/bit-packed hybrid.

    Byte-identical to the reference RleEncoder fed the same stream.
    """
    n = len(values)
    if n == 0:
        return b""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    out: list[bytes] = []

    if n >= 2:
        change = np.empty(n, dtype=bool)
        change[0] = True
        np.not_equal(v[1:], v[:-1], out=change[1:])
        run_starts = np.flatnonzero(change)
        run_lengths = np.diff(np.append(run_starts, n))
    else:
        run_starts = np.array([0], dtype=np.int64)
        run_lengths = np.array([1], dtype=np.int64)

    lit_start = 0  # start of the currently-open literal region
    open_rep = None  # (value, count) for a repeated run that reached stream end

    candidates = np.flatnonzero(run_lengths >= 8)
    for ci in candidates:
        s = int(run_starts[ci])
        length = int(run_lengths[ci])
        b = (s - lit_start) % 8  # buffer fill when this run starts
        head = (8 - b) % 8  # run values that merely complete the open group
        if length - head >= 8:
            _emit_literal_region(out, v, lit_start, s + head, width)
            rep_count = length - head
            if s + length == n:
                open_rep = (int(v[s]), rep_count)
            else:
                _emit_repeated(out, int(v[s]), rep_count, width)
            lit_start = s + length
        # else: run too short after alignment -- it stays literal

    if open_rep is not None:
        _emit_repeated(out, open_rep[0], open_rep[1], width)
        return b"".join(out)

    # Tail literal region [lit_start, n)
    m = n - lit_start
    if m > 0:
        full = m & ~7
        b = m - full
        lc_open = full % _MAX_LITERAL_VALUES  # open literal groups (in values)
        tail_all_equal = b > 0 and bool(np.all(v[n - b :] == v[n - b]))
        if b > 0 and lc_open == 0 and tail_all_equal:
            # Flush(): all_repeat path -> short repeated run (count < 8)
            _emit_literal_region(out, v, lit_start, lit_start + full, width)
            _emit_repeated(out, int(v[n - 1]), b, width)
        else:
            # pad last group with zeros and close as literal
            closed = (full // _MAX_LITERAL_VALUES) * _MAX_LITERAL_VALUES
            _emit_literal_region(out, v, lit_start, lit_start + closed, width)
            rest = np.empty(full - closed + (8 if b else 0), dtype=np.uint64)
            rest[: full - closed + b] = v[lit_start + closed : n]
            if b:
                rest[full - closed + b :] = 0
            if len(rest):
                groups = len(rest) // 8
                out.append(uleb128_encode((groups << 1) | 1))
                out.append(pack_bits(rest, width))
    return b"".join(out)


def rle_decode(buf: bytes, width: int, n: int) -> np.ndarray:
    """Decode up to ``n`` values; returns fewer on truncated input
    (mirrors RleDecoder::GetBatch returning a short count).

    One loop reads the run headers; then every literal run is unpacked
    by ONE ``unpack_bits`` call.  A literal run holds ``groups*8`` values
    of a fixed width, so it ends on a byte boundary and the literal runs'
    bytes, laid end to end, are one bit-packed stream.  Repeated runs are
    filled with ``np.repeat``.
    """
    raw = np.frombuffer(buf, dtype=np.uint8)
    vbytes = (width + 7) // 8
    is_lit: list[bool] = []  # per run: literal?
    takes: list[int] = []  # per run: values it contributes
    rep_values: list[int] = []  # per repeated run: its value
    lit_spans: list[tuple[int, int]] = []  # per literal run: byte [start, end)
    got = 0
    pos = 0
    end = len(buf)
    while got < n:
        if pos < end and buf[pos] < 0x80:  # one-byte header: the common case
            indicator = buf[pos]
            pos += 1
        else:
            try:
                indicator, pos = uleb128_decode(buf, pos, max_bytes=5)
            except VarintError:
                break
        if indicator & 1:
            groups = indicator >> 1
            if groups > (1 << 31) // 8:
                break
            need = groups * width  # (groups*8 values * width bits) / 8
            if pos + need > end:
                break
            lit_spans.append((pos, pos + need))
            pos += need
            take = min(groups * 8, n - got)
        else:
            if pos + vbytes > end:
                break
            rep_values.append(int.from_bytes(buf[pos : pos + vbytes], "little"))
            pos += vbytes
            take = min(indicator >> 1, n - got)
        is_lit.append(bool(indicator & 1))
        takes.append(take)
        got += take
    lit, counts = np.array(is_lit, dtype=bool), np.array(takes, dtype=np.int64)
    lit_bytes = np.concatenate([raw[a:b] for a, b in lit_spans] or [raw[:0]])
    literal = unpack_bits(lit_bytes, width, int(counts[lit].sum()))
    if lit.all():  # literal runs only (high-cardinality indices)
        return literal
    mask = np.repeat(lit, counts)
    out = np.empty(got, dtype=np.uint64)
    out[mask] = literal
    out[~mask] = np.repeat(np.array(rep_values, dtype=np.uint64), counts[~lit])
    return out
