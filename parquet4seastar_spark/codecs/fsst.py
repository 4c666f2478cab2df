"""FSST-style string compression (Boncz, Neumann, Leis: "FSST: Fast Random
Access String Compression", VLDB 2020).

Not present in the reference (parquet4seastar has no string symbol table);
mandated on top of it by BASELINE.json (north_star).  Implemented from the
published algorithm only:

- symbol table: up to 254 symbols of 1..8 bytes, greedy gain-based selection
  (gain = frequency x length) over a few training iterations on a sample;
  code 255 is the escape marker, escape emits the next byte verbatim.
- encoding: longest-match tokenization via small lookup tables, the
  paper's vectorizable design: a 64K-entry table keyed on the 2-byte prefix
  holds (at most) one multi-byte symbol per prefix, a 256-entry table holds
  1-byte symbols.  Per position: two cache-resident gathers + one compare,
  all numpy-vectorized.  The greedy left-to-right token chain is enumerated
  with a blocked pointer-doubling walk (``chain.chain_visit_bounded``)
  instead of a per-byte python loop.
- decoding: fully vectorized gather from the padded symbol matrix.

Serialized layout (ours):
    [u8 n_symbols][u8 len x n_symbols][symbol bytes][token payload]
"""

from __future__ import annotations

import numpy as np

from .chain import chain_visit_bounded

__all__ = ["train_symbol_table", "fsst_encode", "fsst_decode", "SymbolTable"]

_ESCAPE = 255
_MAX_SYMBOLS = 254  # codes 0..253; 254 = lut2 miss sentinel, 255 = escape
_SENTINEL = 254
_MAX_LEN = 8
_MASKS = np.array([(1 << (8 * L)) - 1 for L in range(9)], dtype=np.uint64)


class SymbolTable:
    """Symbols as (value little-endian uint64, length); code = array index."""

    def __init__(self, values: np.ndarray, lengths: np.ndarray):
        self.values = np.asarray(values, dtype=np.uint64)
        self.lengths = np.asarray(lengths, dtype=np.int64)
        self.n = len(self.values)
        # code-indexed tables padded to 256 for guard-free gathers
        self.vals_by_code = np.zeros(256, dtype=np.uint64)
        self.lens_by_code = np.zeros(256, dtype=np.int8)
        self.vals_by_code[: self.n] = self.values
        self.lens_by_code[: self.n] = self.lengths
        self.mask_by_code = _MASKS[self.lens_by_code.astype(np.int64)]  # (256,) uint64
        # encoder lookup tables: misses map to SENTINEL codes instead of -1,
        # so _match needs no miss-test passes -- lut1 miss is the escape code
        # directly, and the lut2 sentinel's (mask=0, vals=~0) entry makes the
        # window compare unconditionally false.  uint8 LUTs also halve the
        # 2-byte table to 64 KiB (L2-resident during the gather).
        self.vals_by_code[_SENTINEL] = np.uint64(0xFFFFFFFFFFFFFFFF)
        self.mask_by_code[_SENTINEL] = np.uint64(0)
        self.lens_by_code[_SENTINEL] = 1
        self.lut1 = np.full(256, _ESCAPE, dtype=np.uint8)
        self.lut2 = np.full(65536, _SENTINEL, dtype=np.uint8)
        codes = np.arange(self.n, dtype=np.int64)
        one = self.lengths == 1
        if one.any():
            # a repeated 1-byte value keeps its LAST code (plain assignment
            # order): the first occurrence in the reversed arrays
            b, c = (self.values[one] & np.uint64(0xFF)).astype(np.int64)[::-1], codes[one][::-1]
            ub, first = np.unique(b, return_index=True)
            self.lut1[ub] = c[first]
        multi = ~one
        if multi.any():
            # the longest symbol per 2-byte prefix, ties to the first
            # (highest-gain) code: sort by (prefix, length desc, code) and
            # keep each prefix's first entry
            pre = (self.values[multi] & np.uint64(0xFFFF)).astype(np.int64)
            ln, c = self.lengths[multi], codes[multi]
            order = np.lexsort((c, -ln, pre))
            up, first = np.unique(pre[order], return_index=True)
            self.lut2[up] = c[order][first]
        # decode support: matrix of symbol bytes in code order (little-endian
        # byte k of each value; rows >= n stay zero -- the escape row's
        # zeros are load-bearing for decode)
        mat = np.zeros((256, _MAX_LEN), dtype=np.uint8)
        if self.n:
            shifts = np.arange(_MAX_LEN, dtype=np.uint64) * np.uint64(8)
            mat[: self.n] = ((self.values[:, None] >> shifts) & np.uint64(0xFF)).astype(np.uint8)
        self.matrix = mat

    def serialize(self) -> bytes:
        lens = self.lengths
        rows = np.repeat(np.arange(self.n, dtype=np.int64), lens)
        rel = np.arange(int(lens.sum()), dtype=np.int64) - np.repeat(
            np.cumsum(lens) - lens, lens
        )
        return (
            bytes([self.n])
            + lens.astype(np.uint8).tobytes()
            + self.matrix[rows, rel].tobytes()
        )

    @staticmethod
    def deserialize(buf) -> tuple["SymbolTable", int]:
        n = buf[0]
        lens = np.frombuffer(buf, dtype=np.uint8, count=n, offset=1).astype(np.int64)
        if n and int(lens.max()) > _MAX_LEN:
            raise ValueError(f"FSST symbol table corrupt: a {int(lens.max())}-byte symbol")
        total = int(lens.sum())
        pos = 1 + n
        # symbol bytes scattered into little-endian 8-byte rows, one view
        sym = np.frombuffer(buf, dtype=np.uint8, count=total, offset=pos)
        rows = np.zeros((n, _MAX_LEN), dtype=np.uint8)
        rows[np.repeat(np.arange(n), lens), np.arange(total) - np.repeat(np.cumsum(lens) - lens, lens)] = sym
        return SymbolTable(rows.view("<u8").reshape(n), lens), pos + total


def _windows(data: np.ndarray) -> np.ndarray:
    """uint64 little-endian 8-byte window at every position.

    Eight strided phases over aligned uint64 words -- scalar shifts only, no
    gathers, no (n, 8) byte matrix.
    """
    n = len(data)
    m = (n + 7) // 8
    padded = np.zeros((m + 1) * 8, dtype=np.uint8)
    padded[:n] = data
    words = padded.view(np.uint64)
    # build per-phase rows contiguously, then one cache-blocked transpose copy
    rows = np.empty((8, m), dtype=np.uint64)
    rows[0] = words[:m]
    for k in range(1, 8):
        np.right_shift(words[:m], np.uint64(8 * k), out=rows[k])
        rows[k] |= words[1 : m + 1] << np.uint64(64 - 8 * k)
    return np.ascontiguousarray(rows.T).reshape(-1)[:n]


def _match(data: np.ndarray, win: np.ndarray, table: SymbolTable) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Longest-match per position via the prefix LUTs.

    Returns (match_len[n], c2[n], ok2[n]): the final code is deferred to the
    (sparser) token positions -- ``where(ok2, c2, lut1[data])`` evaluated at
    every position costs two full-array passes that tokenization only needs
    at ~0.4n of them (+40% on this phase measured on bench content).
    """
    n = len(data)
    # 2-byte prefix straight from the byte stream (cheaper than win & 0xFFFF)
    pre = data.astype(np.uint16)
    nxt_byte = np.empty(n, dtype=np.uint16)
    nxt_byte[: n - 1] = data[1:]
    nxt_byte[n - 1] = 0
    pre |= nxt_byte << 8
    c2 = table.lut2[pre]  # uint8; miss -> _SENTINEL (compare below fails)
    ln2 = table.lens_by_code[c2]  # int8
    ok2 = (win & table.mask_by_code[c2]) == table.vals_by_code[c2]
    # a match may not run past the end of the buffer (windows are 0-padded);
    # only the final 8 positions can overrun -- patch just the tail.
    tail = min(8, n)
    ok2[n - tail :] &= (np.arange(n - tail, n) + ln2[n - tail :]) <= n
    mlen = np.where(ok2, ln2, np.int8(1))
    return mlen, c2, ok2


def _codes_at(data: np.ndarray, pos: np.ndarray, c2: np.ndarray, ok2: np.ndarray, table: SymbolTable) -> np.ndarray:
    """Resolve token codes at the chain positions only."""
    return np.where(ok2[pos], c2[pos], table.lut1[data[pos]]).astype(np.int64)


_SEGMENT = 1 << 18  # 256 KiB


def _tokenize(data: np.ndarray, table: SymbolTable) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Greedy left-to-right tokenization; returns (positions, lengths, codes).

    Processed in 256 KiB segments so every temporary stays cache-resident
    (multi-core scaling holds; cold-page cost bounded).  Tokens never span a
    segment boundary: the _match tail guard rejects matches that would run
    past the segment, costing at most 7 escape bytes per 256 KiB.

    The numpy path of fsst_encode and train_symbol_table.  The C kernels
    (codecs/_native.py) run the same rule as one greedy match step,
    ``p4s_fsst_match``, that the encode kernel and training both call;
    P4S_NO_NATIVE=1 forces this path.  ~60% of the vectorized match work
    lands on positions the greedy chain never visits, which no full-array
    formulation can avoid.
    """
    n = len(data)
    if n == 0:
        empty = np.zeros(0, dtype=np.int64)
        return empty, empty, empty
    if n <= _SEGMENT:
        win = _windows(data)
        match_len, c2, ok2 = _match(data, win, table)
        pos = chain_visit_bounded(match_len, max_jump=_MAX_LEN)
        return pos, match_len[pos].astype(np.int64), _codes_at(data, pos, c2, ok2, table)
    pos_parts, len_parts, code_parts = [], [], []
    for s0 in range(0, n, _SEGMENT):
        s1 = min(s0 + _SEGMENT, n)
        seg = data[s0:s1]
        win = _windows(seg)
        match_len, c2, ok2 = _match(seg, win, table)
        pos = chain_visit_bounded(match_len, max_jump=_MAX_LEN)
        pos_parts.append(pos + s0)
        len_parts.append(match_len[pos].astype(np.int64))
        code_parts.append(_codes_at(seg, pos, c2, ok2, table))
    return (
        np.concatenate(pos_parts),
        np.concatenate(len_parts),
        np.concatenate(code_parts),
    )


def fsst_encode(data: bytes | np.ndarray, table: SymbolTable) -> bytes:
    """Encode a byte stream: serialized table + token payload."""
    arr = np.frombuffer(data, dtype=np.uint8) if isinstance(data, (bytes, bytearray, memoryview)) else data
    from . import _native

    lib = _native.get_kernel()
    if lib is not None and len(arr):
        # fused tokenize+emit in C, per 256 KiB segment (same boundary rule
        # as the numpy path -> byte-identical payload).  Segments go in
        # PAIRS through one interleaved kernel loop, which hides the lut2
        # lookup latency the serial greedy chain stalls on; an odd last
        # segment runs alone (nb = 0).  Segment bytes land in order.
        import ctypes

        if not arr.flags.c_contiguous:
            arr = np.ascontiguousarray(arr)
        n = len(arr)
        out = np.empty(2 * n, dtype=np.uint8)
        scratch = np.empty(2 * _SEGMENT, dtype=np.uint8)
        ob_arr = np.zeros(1, dtype=np.int64)
        p = lambda a: a.ctypes.data_as(ctypes.c_void_p)  # noqa: E731
        tables = (
            p(table.lut1), p(table.lut2), p(table.lens_by_code),
            p(table.vals_by_code), p(table.mask_by_code),
        )
        o = 0
        for s0 in range(0, n, 2 * _SEGMENT):
            a_len = min(_SEGMENT, n - s0)
            b_len = min(_SEGMENT, n - s0 - a_len)
            o += lib.p4s_fsst_encode2(
                ctypes.c_void_p(arr.ctypes.data + s0), a_len,
                ctypes.c_void_p(arr.ctypes.data + s0 + a_len), b_len,
                *tables,
                ctypes.c_void_p(out.ctypes.data + o),
                p(scratch), p(ob_arr),
            )
            ob = int(ob_arr[0])
            out[o : o + ob] = scratch[:ob]
            o += ob
        return table.serialize() + out[:o].tobytes()
    pos, lens, codes = _tokenize(arr, table)
    esc = codes == _ESCAPE
    out_lens = np.where(esc, 2, 1).astype(np.int64)
    offsets = np.zeros(len(pos) + 1, dtype=np.int64)
    np.cumsum(out_lens, out=offsets[1:])
    out = np.empty(int(offsets[-1]), dtype=np.uint8)
    out[offsets[:-1]] = np.where(esc, _ESCAPE, codes).astype(np.uint8)
    if esc.any():
        out[offsets[:-1][esc] + 1] = arr[pos[esc]]
    return table.serialize() + out.tobytes()


def fsst_decode(buf) -> bytes:
    """Decode a stream produced by fsst_encode."""
    table, pos = SymbolTable.deserialize(buf)
    payload = np.frombuffer(buf, dtype=np.uint8, offset=pos)
    n = len(payload)
    if n == 0:
        return b""
    from . import _native

    lib = _native.get_kernel()
    if lib is not None:
        import ctypes

        out = np.empty(8 * n + 8, dtype=np.uint8)
        o = lib.p4s_fsst_decode(
            ctypes.c_void_p(payload.ctypes.data), n,
            table.matrix.ctypes.data_as(ctypes.c_void_p),
            table.lens_by_code.ctypes.data_as(ctypes.c_void_p),
            out.ctypes.data_as(ctypes.c_void_p),
        )
        if o < 0:
            # parity with the numpy fallback, which raises on the same
            # corruption -- silent truncation would mask a corrupt page
            raise ValueError("FSST payload corrupt: trailing escape byte")
        return out[:o].tobytes()
    is_255 = payload == _ESCAPE
    idx = np.arange(n, dtype=np.int64)
    last_non255 = np.maximum.accumulate(np.where(~is_255, idx, -1))
    run_offset = idx - (last_non255 + 1)
    escape = is_255 & (run_offset % 2 == 0)
    literal = np.zeros(n, dtype=bool)
    literal[1:] = escape[:-1]
    # every position is escape marker, literal byte, or code: the token set
    # is exactly the non-literals, already position-sorted
    token_pos = np.flatnonzero(~literal)
    is_esc_token = escape[token_pos]
    token_codes = payload[token_pos]
    out_lens = np.where(is_esc_token, 1, table.lens_by_code[token_codes]).astype(np.int64)
    m = len(token_pos)
    offsets = np.zeros(m + 1, dtype=np.int64)
    np.cumsum(out_lens, out=offsets[1:])
    total = int(offsets[-1])
    # overlapping full-8-byte writes, one scatter per symbol-byte position,
    # DESCENDING k: every token writes its padded row byte k at offset+k;
    # position p's final value comes from the k=0-most pass that touches it,
    # i.e. the LATEST token with offset <= p -- exactly the token covering
    # p (its pad bytes land in later tokens' regions during higher-k passes
    # and are overwritten).  Indices within each pass are strictly
    # increasing (offsets are strict-monotone), so no pass relies on
    # numpy's undocumented duplicate-index ordering, writes stream nearly
    # sequentially, and the (m, 8) int64 target matrix of the old one-shot
    # scatter (64 B/token of temp; ~45 MB per 1 MB page) is gone: +24%
    # at page sizes.
    rows8 = table.matrix[token_codes]  # (m, 8); escape code 255 row = zeros
    if is_esc_token.any():
        rows8[is_esc_token, 0] = payload[token_pos[is_esc_token] + 1]
    out = np.empty(total + _MAX_LEN, dtype=np.uint8)
    tgt = offsets[:-1].copy()
    tgt += _MAX_LEN - 1
    for k in range(_MAX_LEN - 1, -1, -1):
        out[tgt] = rows8[:, k]
        tgt -= 1
    return out[:total].tobytes()


def _unique_counts(vals: np.ndarray, lens: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Unique (value,len) pairs with counts (no python loop).

    A value of length L <= 7 is masked to its low 8L bits, so its top
    byte is free: pack the length there and a single uint64 sort replaces
    the two-key lexsort (training consumes the unique SET ranked by gain,
    so output order is irrelevant; the set and counts are unchanged).
    Length-8 symbols use all 64 bits and sort separately.
    """
    if len(vals) == 0:
        return vals, lens, np.zeros(0, dtype=np.int64)

    def _runs(sorted_keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        new = np.empty(len(sorted_keys), dtype=bool)
        new[0] = True
        np.not_equal(sorted_keys[1:], sorted_keys[:-1], out=new[1:])
        starts = np.flatnonzero(new)
        return sorted_keys[starts], np.diff(np.append(starts, len(sorted_keys)))

    is8 = lens == _MAX_LEN
    out_v: list[np.ndarray] = []
    out_l: list[np.ndarray] = []
    out_c: list[np.ndarray] = []
    short = ~is8
    if short.any():
        key = vals[short] | (lens[short].astype(np.uint64) << np.uint64(56))
        kv, counts = _runs(np.sort(key))
        out_v.append(kv & np.uint64((1 << 56) - 1))
        out_l.append((kv >> np.uint64(56)).astype(lens.dtype))
        out_c.append(counts)
    if is8.any():
        kv, counts = _runs(np.sort(vals[is8]))
        out_v.append(kv)
        out_l.append(np.full(len(kv), _MAX_LEN, dtype=lens.dtype))
        out_c.append(counts)
    return (
        np.concatenate(out_v),
        np.concatenate(out_l),
        np.concatenate(out_c).astype(np.int64),
    )


def train_symbol_table(sample: bytes | np.ndarray, iterations: int = 4) -> SymbolTable:
    """Greedy gain-based symbol selection on a sample (FSST paper §3), with
    the paper's prefix constraint: at most one multi-byte symbol per 2-byte
    prefix (what makes the LUT encoder exact)."""
    arr = np.frombuffer(sample, dtype=np.uint8) if isinstance(sample, (bytes, bytearray, memoryview)) else sample
    table = SymbolTable(np.zeros(0, dtype=np.uint64), np.zeros(0, dtype=np.int64))
    if len(arr) == 0:
        return table
    from . import _native

    lib = _native.get_kernel()
    if lib is not None:
        # the whole loop below in C (codecs/_native.py p4s_fsst_train):
        # same tokenization, candidate pool, ranking and prefix rule, so
        # the table is bit-identical; the numpy loop is the fallback
        import ctypes

        arr = np.ascontiguousarray(arr, dtype=np.uint8)
        vals = np.empty(_MAX_SYMBOLS, dtype=np.uint64)
        lens = np.empty(_MAX_SYMBOLS, dtype=np.int64)
        p = lambda a: a.ctypes.data_as(ctypes.c_void_p)  # noqa: E731
        k = lib.p4s_fsst_train(p(arr), len(arr), iterations, p(vals), p(lens))
        if k < 0:
            raise MemoryError(f"FSST training on a {len(arr)}-byte sample failed to allocate")
        return SymbolTable(vals[:k], lens[:k])
    win = _windows(arr)
    for _ in range(iterations):
        pos, lens, codes = _tokenize(arr, table)
        tok_vals = win[pos] & _MASKS[lens]
        # candidate pool: single tokens + adjacent-pair concatenations <= 8B
        pair_lens = lens[:-1] + lens[1:]
        ok = pair_lens <= _MAX_LEN
        pair_vals = tok_vals[:-1][ok] | (tok_vals[1:][ok] << (np.uint64(8) * lens[:-1][ok].astype(np.uint64)))
        cand_vals = np.concatenate([tok_vals, pair_vals])
        cand_lens = np.concatenate([lens, pair_lens[ok]])
        uv, ul, counts = _unique_counts(cand_vals, cand_lens)
        gain = counts * ul
        # rank by gain desc (ties: shorter, then value, for determinism)
        order = np.lexsort((uv, ul, -gain))
        uv, ul, gain = uv[order], ul[order], gain[order]
        # prefix constraint: keep only the best multi-byte symbol per prefix
        multi = ul >= 2
        prefixes = (uv & np.uint64(0xFFFF)).astype(np.int64)
        keep = np.ones(len(uv), dtype=bool)
        if multi.any():
            m_idx = np.flatnonzero(multi)
            _, first = np.unique(prefixes[m_idx], return_index=True)
            drop = np.ones(len(m_idx), dtype=bool)
            drop[first] = False
            keep[m_idx[drop]] = False
        uv, ul = uv[keep], ul[keep]
        take = min(_MAX_SYMBOLS, len(uv))
        table = SymbolTable(uv[:take], ul[:take])
    return table
