"""General recursive Dremel shredder/assembler for ANY nesting of
struct / list / map / primitive.

This is the one-walker replacement for the shape-enumerated nested codec
paths (reference: the single recursive ``record_reader``
record_reader.hh:469-505, field variant record_reader.hh:180-247, and the
level rule reader_schema.cc:79-93 / file_writer.hh:50-81: REPEATED =>
++def,++rep; OPTIONAL => ++def).  Both directions are fully vectorized
numpy over arrow buffers -- no per-row Python.

Level geometry (engine-internal): EVERY node is OPTIONAL, so the geometry
is purely type-determined and stable across chunks regardless of observed
nulls (constant def runs cost ~nothing under RLE).  ``shred`` and
``assemble_tree`` also take an ``opts`` map (token path -> OPTIONAL) for
standard geometries with REQUIRED nodes, which add no def level (the
optional +1 below drops out).  With every node OPTIONAL:

- struct node:        +1 def (optional)
- list node:          +2 def (optional + repeated), +1 rep
- map node:           +2 def (optional + repeated), +1 rep; key/value are
                      then ordinary child nodes (each +1 def optional)
- primitive leaf:     +1 def (optional)

For a node whose optional level sits at depth d0 (def levels consumed
above it):
  def <  d0      -> a higher ancestor was null/empty (dead entry)
  def == d0      -> this node is NULL
  def == d0 + 1  -> present (list/map: present but EMPTY)
  def >= d0 + 2  -> list/map: at least this element exists

Leaf paths are dot-joined node tokens from the column root:
  s<name>   struct field <name>
  l         list element
  k / v     map entry key / value side (the map node itself is implied)
The final token is the leaf; primitive leaves add no token.  '.' and '#'
are reserved in field names (fail-fast, shared with the engine's naming
scheme).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

__all__ = ["Leaf", "shred", "assemble", "build_tree", "tree_arrow_type", "leaf_paths"]

MAX_DEPTH = 32


def _check_field_name(name: str) -> None:
    if "." in name or "#" in name:
        raise ValueError(
            f"struct field name {name!r} collides with the dot-joined leaf "
            "path scheme ('.' and '#' are reserved); rename the field before "
            "encoding"
        )


@dataclass
class Leaf:
    path: str  # dot-joined node tokens ('' for a flat primitive column)
    values: pa.Array  # non-null leaf values, stream order
    def_: np.ndarray  # uint32 per stream entry
    rep: np.ndarray  # uint32 per stream entry
    max_def: int
    max_rep: int


# ---------------------------------------------------------------------------
# shred


def _validity(arr: pa.Array, idx: np.ndarray) -> np.ndarray:
    """live-and-valid mask over slots (idx == -1 marks a dead slot)."""
    live = idx >= 0
    if arr.null_count == 0:
        return live
    v = np.zeros(len(idx), dtype=bool)
    av = np.asarray(arr.is_valid())
    v[live] = av[idx[live]]
    return v


def _node_validity(arr, idx, path, opts) -> tuple[np.ndarray, int]:
    """(live-and-valid mask, def levels the node adds: 1 if OPTIONAL).
    A REQUIRED node holding a null has no def level to record it in, so
    it fails loudly instead of shredding to a wrong value."""
    valid = _validity(arr, idx)
    if opts.get(path, True):
        return valid, 1
    if arr.null_count and (valid != (idx >= 0)).any():
        raise ValueError(f"node {path or '<root>'!r} is REQUIRED but holds nulls")
    return valid, 0


def _expand(arr, idx, defs, reps, r0, valid, opt):
    """List/map node: its OPTIONAL level (+opt def) folded in, then the
    repeated level.

    Returns (child_idx, child_defs, child_reps): one entry per element of
    non-empty slots, one entry for each dead/null/empty slot.
    """
    offs = np.asarray(arr.offsets).astype(np.int64)
    m = len(idx)
    L = np.zeros(m, dtype=np.int64)
    vi = idx[valid]
    L[valid] = offs[vi + 1] - offs[vi]
    exp = valid & (L > 0)
    counts = np.where(exp, L, 1)
    total = int(counts.sum())
    starts = np.zeros(m, dtype=np.int64)
    if m:
        starts[1:] = np.cumsum(counts)[:-1]
    child_idx = np.full(total, -1, dtype=np.int64)
    if exp.any():
        g = L[exp]
        within = np.arange(int(g.sum()), dtype=np.int64) - np.repeat(np.cumsum(g) - g, g)
        child_idx[np.repeat(starts[exp], g) + within] = np.repeat(offs[idx[exp]], g) + within
    # dead/null -> defs; present-but-empty -> defs+opt; element -> defs+opt+1
    base = np.where(valid, np.where(L > 0, defs + opt + 1, defs + opt), defs).astype(np.uint32)
    child_defs = np.repeat(base, counts)
    child_reps = np.full(total, r0 + 1, dtype=np.uint32)
    child_reps[starts] = reps
    return child_idx, child_defs, child_reps


def shred(arr: pa.Array | pa.ChunkedArray, opts: dict[str, bool] | None = None) -> list[Leaf]:
    """Arrow array of ANY supported nesting -> per-leaf level streams.

    ``opts`` maps a node's token path to whether it is OPTIONAL (the same
    map ``assemble_tree`` takes); missing entries default to True."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    idx = np.arange(n, dtype=np.int64)
    defs = np.zeros(n, dtype=np.uint32)
    reps = np.zeros(n, dtype=np.uint32)
    out: list[Leaf] = []
    _walk(arr, idx, defs, reps, 0, 0, "", out, MAX_DEPTH, opts or {})
    return out


def _join(path: str, token: str) -> str:
    return f"{path}.{token}" if path else token


def _walk(arr, idx, defs, reps, d0, r0, path, out, depth_left, opts):
    if depth_left <= 0:
        raise ValueError("schema nesting deeper than supported")
    t = arr.type
    if pa.types.is_dictionary(t):
        arr = arr.cast(t.value_type)
        t = arr.type
    valid, opt = _node_validity(arr, idx, path, opts)
    if pa.types.is_struct(t):
        nd = (defs + opt * valid).astype(np.uint32)
        nidx = np.where(valid, idx, -1)
        for f in t:
            _check_field_name(f.name)
            _walk(
                arr.field(f.name), nidx, nd, reps, d0 + opt, r0,
                _join(path, f"s{f.name}"), out, depth_left - 1, opts,
            )
    elif pa.types.is_map(t):
        cidx, cd, cr = _expand(arr, idx, defs, reps, r0, valid, opt)
        d_elem = d0 + opt + 1
        _walk(arr.keys, cidx, cd, cr, d_elem, r0 + 1, _join(path, "k"), out, depth_left - 1, opts)
        _walk(arr.items, cidx, cd, cr, d_elem, r0 + 1, _join(path, "v"), out, depth_left - 1, opts)
    elif pa.types.is_list(t) or pa.types.is_large_list(t):
        cidx, cd, cr = _expand(arr, idx, defs, reps, r0, valid, opt)
        _walk(arr.values, cidx, cd, cr, d0 + opt + 1, r0 + 1, _join(path, "l"), out, depth_left - 1, opts)
    elif pa.types.is_nested(t):
        raise TypeError(f"unsupported nested arrow type: {t}")
    else:
        nd = (defs + opt * valid).astype(np.uint32)
        if path == "":  # the column itself: idx is the identity, skip the copy
            vals = arr.drop_null() if arr.null_count else arr
        else:
            vals = arr.take(pa.array(idx[valid], type=pa.int64()))
        out.append(Leaf(path, vals, nd, reps, d0 + opt, r0))


# ---------------------------------------------------------------------------
# tree (rebuilt from leaf paths; node kinds are encoded in the tokens)


def build_tree(paths: list[tuple[str, pa.DataType]]):
    """[(leaf_path, leaf_arrow_type)] -> nested node tuples.

    Node forms: ('leaf', type) | ('struct', [(name, node), ...]) |
    ('list', node) | ('map', key_node, value_node).  Struct field order is
    first-seen order (shred emits fields in type order, so this round-trips
    the original field order).
    """

    def insert(node, tokens, leaf_type):
        if not tokens:
            return ("leaf", leaf_type)
        tok, rest = tokens[0], tokens[1:]
        if tok.startswith("s"):
            name = tok[1:]
            if node is None:
                node = ("struct", [])
            assert node[0] == "struct"
            for i, (fname, child) in enumerate(node[1]):
                if fname == name:
                    node[1][i] = (fname, insert(child, rest, leaf_type))
                    break
            else:
                node[1].append((name, insert(None, rest, leaf_type)))
            return node
        if tok == "l":
            child = node[1] if node is not None else None
            return ("list", insert(child, rest, leaf_type))
        if tok in ("k", "v"):
            k, v = (node[1], node[2]) if node is not None else (None, None)
            if tok == "k":
                k = insert(k, rest, leaf_type)
            else:
                v = insert(v, rest, leaf_type)
            return ("map", k, v)
        raise ValueError(f"bad leaf path token: {tok!r}")

    root = None
    for path, leaf_type in paths:
        root = insert(root, path.split(".") if path else [], leaf_type)
    return root


def tree_arrow_type(node) -> pa.DataType:
    kind = node[0]
    if kind == "leaf":
        return node[1]
    if kind == "struct":
        return pa.struct([(n, tree_arrow_type(c)) for n, c in node[1]])
    if kind == "list":
        return pa.list_(tree_arrow_type(node[1]))
    if kind == "map":
        return pa.map_(tree_arrow_type(node[1]), tree_arrow_type(node[2]))
    raise ValueError(kind)


def leaf_paths(node, prefix: str = "") -> list[str]:
    """Leaf paths of a tree in shred emission order."""
    kind = node[0]
    if kind == "leaf":
        return [prefix]
    if kind == "struct":
        out = []
        for n, c in node[1]:
            out.extend(leaf_paths(c, _join(prefix, f"s{n}")))
        return out
    if kind == "list":
        return leaf_paths(node[1], _join(prefix, "l"))
    if kind == "map":
        return leaf_paths(node[1], _join(prefix, "k")) + leaf_paths(node[2], _join(prefix, "v"))
    raise ValueError(kind)


# ---------------------------------------------------------------------------
# assemble


def assemble(leaves: dict[str, Leaf], n_rows: int) -> pa.Array:
    """Inverse of shred: leaf streams -> the original arrow array
    (engine-internal all-OPTIONAL geometry)."""
    tree = build_tree([(p, l.values.type) for p, l in leaves.items()])
    return assemble_tree(tree, leaves, n_rows)


def assemble_tree(tree, leaves: dict[str, Leaf], n_rows: int, opts=None) -> pa.Array:
    """General Dremel assembly with per-node OPTIONAL flags.

    ``opts`` maps a node's token-path prefix ('' = the column root,
    'sa.l' = the list element under field a, ...) to whether that node is
    OPTIONAL in the level geometry; missing entries default to True, so
    the engine-internal all-optional format needs no table.  A standard
    parquet schema with REQUIRED fields passes its real flags (the
    container reader path).

    Reconstruction is top-down: a node's slots are the stream entries with
    rep <= r0 (r0 = repeated ancestors above it); its validity is
    def >= d0+opt at those entries; a list/map node's element domain is
    the entries with def >= d0+opt+1 (every deeper entry always satisfies
    this, so def alone delimits domains -- no rep test needed for
    filtering).  A value entry (def == max_def) passes every such filter,
    so a leaf's k-th valid slot holds its k-th value: a leaf whose slots
    are all valid is its values array unchanged, and a string/binary leaf
    with nulls gathers only its offsets (the value bytes are shared).
    """
    sels = {p: np.arange(len(lf.def_), dtype=np.int64) for p, lf in leaves.items()}
    arr = _build(tree, "", leaves, sels, 0, 0, opts or {})
    if len(arr) != n_rows:
        raise ValueError(f"assembled {len(arr)} rows, expected {n_rows}")
    return arr


def _rep_leaf(path: str, leaves: dict[str, Leaf]) -> str:
    """Any leaf under the node at ``path`` (streams above a node are
    identical across its leaves)."""
    for p in leaves:
        if p == path or p.startswith(path + ".") or path == "":
            return p
    raise KeyError(path)


def _validity_buf(valid: np.ndarray):
    nnull = len(valid) - int(np.count_nonzero(valid))
    if not nnull:
        return None, 0
    return pa.py_buffer(np.packbits(valid, bitorder="little")), nnull


def _spread(vals: pa.Array, valid: np.ndarray) -> pa.Array:
    """One slot per entry of ``valid``: the k-th valid slot holds value k,
    the other slots are null."""
    vbuf, nnull = _validity_buf(valid)
    if pa.types.is_string(vals.type) or pa.types.is_binary(vals.type):
        _, obuf, data = vals.buffers()
        offs = np.frombuffer(obuf, dtype=np.int32, count=len(vals) + 1, offset=vals.offset * 4)
        pos = np.zeros(len(valid) + 1, dtype=np.int64)
        np.cumsum(valid, out=pos[1:])
        return pa.Array.from_buffers(
            vals.type, len(valid), [vbuf, pa.py_buffer(offs[pos]), data], null_count=nnull
        )
    codes = np.zeros(len(valid), dtype=np.int64)
    codes[valid] = np.arange(len(vals), dtype=np.int64)
    return vals.take(pa.array(codes, mask=~valid))


def _build(node, path, leaves, sels, d0, r0, opts) -> pa.Array:
    kind = node[0]
    opt = 1 if opts.get(path, True) else 0
    if kind == "leaf":
        vals, def_, sel = leaves[path].values, leaves[path].def_, sels[path]
        # a selection as long as the stream is all of it, in order
        valid = (def_ if len(sel) == len(def_) else def_[sel]) == d0 + opt
        n_valid = int(np.count_nonzero(valid))
        if n_valid != len(vals):
            raise ValueError(f"leaf {path or '<root>'!r}: {n_valid} valid slots for {len(vals)} values")
        return vals if n_valid == len(valid) else _spread(vals, valid)
    if kind == "struct":
        rp = _rep_leaf(path, leaves)
        sel = sels[rp]
        slot = leaves[rp].rep[sel] <= r0
        valid = leaves[rp].def_[sel][slot] >= d0 + opt if opt else None
        children = []
        names = []
        for fname, child in node[1]:
            children.append(
                _build(child, _join(path, f"s{fname}"), leaves, sels, d0 + opt, r0, opts)
            )
            names.append(fname)
        mask = pa.array(~valid) if (opt and not valid.all()) else None
        return pa.StructArray.from_arrays(children, names, mask=mask)
    # list / map share slot & offset construction
    d_elem = d0 + opt + 1  # def at which an element exists under this node
    rp = _rep_leaf(path, leaves)
    sel = sels[rp]
    d = leaves[rp].def_[sel]
    r = leaves[rp].rep[sel]
    slot_pos = np.flatnonzero(r <= r0)
    n_slots = len(slot_pos)
    elem_pos = np.flatnonzero((r <= r0 + 1) & (d >= d_elem))
    # element count per slot: which slot each element-start falls under
    owner = np.searchsorted(slot_pos, elem_pos, side="right") - 1
    lengths = np.bincount(owner, minlength=n_slots).astype(np.int64)
    offsets = np.zeros(n_slots + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    if offsets[-1] > (1 << 31) - 1:
        raise ValueError("list chunk exceeds int32 offsets")
    if opt:
        valid = d[slot_pos] >= d0 + 1
        vbuf, nnull = _validity_buf(valid)
    else:
        vbuf, nnull = None, 0
    offsets32 = pa.py_buffer(offsets.astype(np.int32))

    def child_sels(tok):
        out = {}
        child_prefix = _join(path, tok)
        for p in leaves:
            if p == child_prefix or p.startswith(child_prefix + "."):
                s = sels[p]
                out[p] = s[leaves[p].def_[s] >= d_elem]
        return out

    if kind == "list":
        new_sels = dict(sels)
        new_sels.update(child_sels("l"))
        child = _build(node[1], _join(path, "l"), leaves, new_sels, d_elem, r0 + 1, opts)
        return pa.Array.from_buffers(
            pa.list_(child.type), n_slots, [vbuf, offsets32], null_count=nnull,
            children=[child],
        )
    if kind == "map":
        new_sels = dict(sels)
        new_sels.update(child_sels("k"))
        new_sels.update(child_sels("v"))
        keys = _build(node[1], _join(path, "k"), leaves, new_sels, d_elem, r0 + 1, opts)
        items = _build(node[2], _join(path, "v"), leaves, new_sels, d_elem, r0 + 1, opts)
        if keys.null_count:
            raise ValueError("map keys decoded with nulls")
        mt = pa.map_(keys.type, items.type)
        # entries must carry the EXACT entries struct type of the map type
        # (key marked non-nullable): a nullable-key child struct crashes
        # arrow's scalar path later even though the map type compares equal
        entries = pa.StructArray.from_arrays(
            [keys, items], fields=[mt.key_field, mt.item_field]
        )
        return pa.Array.from_buffers(
            mt, n_slots, [vbuf, offsets32], null_count=nnull, children=[entries],
        )
    raise ValueError(kind)
