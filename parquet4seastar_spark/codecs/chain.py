"""Pointer-doubling chain enumeration for FSST's greedy tokenization.

The numpy FSST path is a "follow a jump table from position 0" scan over
every byte of a segment.  A naive scan is a per-byte python loop; instead
``chain_visit_bounded`` enumerates the visited set with a blocked walk and
O(log n) vectorized pointer-doubling passes (``_chain_visit``).  Because
jumps are strictly forward, ``np.flatnonzero`` on the visited mask yields
positions in chain order.  (PLAIN byte-array decoding walks its length
prefixes with one scalar loop instead, plain.py: it visits one position
per value, not per byte.)
"""

from __future__ import annotations

import numpy as np

__all__ = ["chain_visit_bounded"]


def _chain_visit(nxt: np.ndarray, start: int = 0) -> np.ndarray:
    """Enumerate positions visited following ``pos -> nxt[pos]`` from ``start``.

    ``nxt`` has length N+1; index N is the absorbing end state.  Jump targets
    are clipped into [0, N].  Returns the sorted (== visit-ordered, jumps are
    strictly forward) array of visited positions in [0, N).
    """
    n_plus_1 = len(nxt)
    end = n_plus_1 - 1
    dtype = np.int32 if n_plus_1 <= (1 << 31) - 1 else np.int64
    jumps = np.clip(nxt, 0, end).astype(dtype, copy=True)
    jumps[end] = end
    visited = np.zeros(n_plus_1, dtype=bool)
    visited[start] = True
    steps = 1
    count = 1
    while steps < n_plus_1:
        visited[jumps[visited]] = True
        new_count = int(visited.sum())
        if new_count == count:
            break
        count = new_count
        jumps = jumps[jumps]
        steps *= 2
    visited[end] = False
    return np.flatnonzero(visited)


def chain_visit_bounded(
    mlen: np.ndarray, max_jump: int = 8, block_shift: int = 7, compact_every: int = 8
) -> np.ndarray:
    """Enumerate the chain ``pos -> pos + mlen[pos]`` from 0, for jump
    lengths bounded by ``max_jump`` (< block = 1 << block_shift).

    Two-level scheme that keeps every pass cache-resident instead of the
    O(log n) whole-array gather compositions of :func:`_chain_visit`:

    1. per block, compute ``exit[i]`` (first position >= block end reached
       from i) with a backward sweep -- ``block`` vectorized passes over
       (n/block)-element columns.  Jumps from offsets <= block-1-max_jump
       cannot cross the block end, so only the last ``max_jump`` offsets
       carry the boundary test (the rest is a bare gather: ~1.4x on the
       sweep vs testing every offset);
    2. bounded jumps mean every block is entered at an offset < max_jump, so
       block entry offsets live in an (nb x max_jump) int32 graph (block a
       power of two keeps the node math on shifts); enumerate it with
       pointer doubling (tiny);
    3. walk all blocks in parallel from their entry offsets, emitting token
       positions into a boolean (n) grid whose flatnonzero is position-
       sorted.  Dead lanes park on a sink position between compactions
       (filtering every iteration costs more than the wasted sink writes).
    """
    block = 1 << block_shift
    n = len(mlen)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    nb = (n + block - 1) // block
    npad = nb * block
    sink = np.int32(npad + max_jump)
    nxt = np.empty(npad + max_jump + 1, dtype=np.int32)
    nxt[:n] = np.arange(n, dtype=np.int32)
    nxt[:n] += mlen
    nxt[n:] = sink  # absorbing tail
    ends = (np.arange(nb, dtype=np.int32) + 1) << block_shift
    exit_ = np.empty(npad + max_jump + 1, dtype=np.int32)
    exit_[npad:] = sink
    nxt2 = nxt[:npad].reshape(nb, block)
    exit2 = exit_[:npad].reshape(nb, block)
    # t = i + mlen[i] <= npad-1+max_jump, and exit_ has npad+max_jump+1
    # entries, so the gathers below are always in bounds without clipping
    for off in range(block - 1, block - 1 - max_jump, -1):
        t = nxt2[:, off]
        same = t < ends
        exit2[:, off] = np.where(same, exit_[t], t)
    for off in range(block - 1 - max_jump, -1, -1):
        exit2[:, off] = exit_[nxt2[:, off]]

    # block-entry graph: node (b, o) for o < max_jump; next node derived from
    # exit of position b*block + o, which lands in a later block at offset
    # < max_jump (or at a pad offset >= max_jump only for tgt >= n)
    em = exit2[:, :max_jump]  # (nb, max_jump) absolute target positions
    tgt = np.ascontiguousarray(em).reshape(-1)  # int32
    tgt_block = tgt >> block_shift
    tgt_off = tgt & (block - 1)
    sinknode = np.int32(nb * max_jump)
    node_next = np.empty(nb * max_jump + 1, dtype=np.int32)
    np.multiply(tgt_block, np.int32(max_jump), out=node_next[:-1])
    node_next[:-1] += tgt_off
    node_next[:-1][(tgt >= n) | (tgt_off >= max_jump)] = sinknode
    node_next[-1] = sinknode
    nodes = _chain_visit(node_next, 0)
    entry_blocks = nodes // max_jump
    entry_abs = ((entry_blocks << block_shift) + nodes % max_jump).astype(np.int32)

    # parallel per-block walks; emit has room for sink writes from parked lanes
    emit = np.zeros(npad + max_jump + 1, dtype=bool)
    cur = entry_abs.copy()
    ends_v = np.minimum(
        (entry_blocks.astype(np.int32) + 1) << block_shift, np.int32(n)
    )
    i = 0
    while len(cur):
        dead = cur >= ends_v
        if i % compact_every == 0:
            keep = ~dead
            cur = cur[keep]
            ends_v = ends_v[keep]
            if not len(cur):
                break
            emit[cur] = True
        else:
            cur = np.where(dead, sink, cur)
            emit[cur] = True
        cur = nxt[cur]
        i += 1
    emit[sink] = False
    return np.flatnonzero(emit[:n])
