"""Real Apache Parquet container interop: PAR1 writer/reader.

The engine's primary storage is the pages+lineage DataFrame (SURVEY.md
§2.3), but this module closes the container gap: a .parquet writer/reader
over one or more row groups, speaking the standard wire format --

- schema: one tree of SchemaElement nodes for both directions, and one
  level rule over it (``_walk_schema``, reader_schema.cc:34-93) that gives
  the reader each leaf's Dremel levels and checks the writer's chunks.
- writer: PAR1 magic, V1 data pages with Thrift PageHeaders, optional PLAIN
  dictionary page per chunk, Thrift FileMetaData footer + u32 length + PAR1
  (file_writer.hh:84-107 magic at :100, flush_row_group per row group
  :122-155, footer :157-175).  Output is readable by any parquet reader
  (pyarrow-verified in tests).
- reader: footer parse (file_reader.cc:28-64, rejects encrypted 'PARE'),
  incremental Thrift PageHeader scan per chunk (column_chunk_reader.cc:27-50),
  decode through the same codec kernels as the pages table, and one
  Dremel assembly per top-level column (``read_column``,
  record_reader.hh:469-505).  The tests build the reference's alltypes
  fixtures (cql_reader_alltypes_test.cc:32-94) with this writer, and
  read the reference's own files too where a checkout is present.

Field ids follow the public parquet.thrift (vendored by the reference as
doc/parquet/parquet.thrift).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import pyarrow as pa

from .dremel import _join, build_tree
from .pages import (
    CODEC_PTYPES,
    EncodedChunk,
    Page,
    _list_paths,
    annotated_logical,
    column_opts,
    effective_max_def,
    leaf_spec,
    logical_row,
)
from .thrift_compact import (
    CT_BINARY,
    CT_I32,
    CT_STRUCT,
    CompactReader,
    CompactWriter,
)

MAGIC = b"PAR1"

# parquet.thrift Type enum
PHYSICAL = ["BOOLEAN", "INT32", "INT64", "INT96", "FLOAT", "DOUBLE", "BYTE_ARRAY", "FIXED_LEN_BYTE_ARRAY"]
PHYS_ID = {name: i for i, name in enumerate(PHYSICAL)}

# parquet.thrift Encoding enum
ENCODINGS = {
    "PLAIN": 0,
    "PLAIN_DICTIONARY": 2,
    "RLE": 3,
    "BIT_PACKED": 4,
    "DELTA_BINARY_PACKED": 5,
    "DELTA_LENGTH_BYTE_ARRAY": 6,
    "DELTA_BYTE_ARRAY": 7,
    "RLE_DICTIONARY": 8,
    "BYTE_STREAM_SPLIT": 9,
}
ENC_NAME = {v: k for k, v in ENCODINGS.items()}

# every codec of the pages table but FSST, which is not parquet
_STANDARD_ENCODINGS = set(CODEC_PTYPES) - {"FSST"}


# ---------------------------------------------------------------------------
# schema tree: one column model for the writer and the reader.  A node is
# {'el': {SchemaElement field id: value}, 'children': [...]}; a writer leaf
# also carries the 'chunk' written under it.

REQUIRED, OPTIONAL, REPEATED = 0, 1, 2  # SchemaElement.repetition_type


@dataclass
class LeafColumn:
    path: tuple[str, ...]
    ptype: str
    type_length: int
    max_def: int
    max_rep: int
    outer_optional: bool  # repetition of the first-level field
    converted: int | None
    precision: int | None
    scale: int | None
    logical_raw: dict | None = None  # parquet.thrift LogicalType union (field 10)


def _walk_schema(nodes: list[dict], def_lvl=0, rep_lvl=0, path=(), outer=None) -> list[LeafColumn]:
    """Schema tree -> its leaves, in column-chunk order, with their Dremel
    levels (reader_schema.cc:34-93: REPEATED => ++def,++rep; OPTIONAL =>
    ++def).  The one level rule: the reader applies it to the footer, the
    writer to the trees it emits and checks each chunk against it."""
    leaves = []
    for node in nodes:
        el = node["el"]
        rep = el.get(3, REQUIRED)
        d, r = def_lvl + (rep != REQUIRED), rep_lvl + (rep == REPEATED)
        top = rep == OPTIONAL if outer is None else outer
        p = path + (el[4],)
        if node["children"]:
            leaves += _walk_schema(node["children"], d, r, p, top)
            continue
        leaves.append(LeafColumn(
            path=p, ptype=PHYSICAL[el[1]], type_length=el.get(2, 0), max_def=d,
            max_rep=r, outer_optional=top,
            converted=el.get(6), precision=el.get(8), scale=el.get(7),
            logical_raw=el.get(10),
        ))
    return leaves


def _parse_schema(elements: list[dict]) -> list[dict]:
    """Footer SchemaElement list (depth first, root first) -> the column
    nodes of its tree, names decoded."""
    pos = 1  # skip the root

    def walk():
        nonlocal pos
        el = elements[pos]
        pos += 1
        n = el.get(5)
        return {"el": {**el, 4: el[4].decode()}, "children": [walk() for _ in range(n)] if n else []}

    return [walk() for _ in range(elements[0].get(5, 0))]


# ---------------------------------------------------------------------------
# writer


def group_node(name: str, repetition: int, children: list, converted=None) -> dict:
    """A group SchemaElement node: ``{'el': {field id: value}, 'children'}``,
    the form the reader parses a footer into (num_children comes from
    ``children``)."""
    el = {3: repetition, 4: name, 6: converted}
    return {"el": {k: v for k, v in el.items() if v is not None}, "children": children}


def leaf_node(name: str, chunk: EncodedChunk, repetition: int) -> dict:
    """A leaf SchemaElement node carrying the chunk written under it: the
    physical type from the chunk, the annotation from its leaf logical's
    row (``pages.logical_row``)."""
    t, _, converted = logical_row(leaf_spec(chunk.logical)[1], chunk.type_length)
    el = {1: PHYS_ID[chunk.ptype], 2: chunk.type_length or None, 3: repetition, 4: name, 6: converted}
    if pa.types.is_decimal(t):
        el.update({7: t.scale, 8: t.precision})
    return {"el": {k: v for k, v in el.items() if v is not None}, "children": [], "chunk": chunk}


def _tree_node(name: str, chunks: dict, opts: dict) -> dict:
    """A column's schema tree from its chunks by node path and its OPTIONAL
    flags (``pages.column_opts``): the ``dremel.build_tree`` tree
    ``pages.decode_column`` assembles, each list the standard 3-level LIST
    (writer_schema.cc:30-134) and each map a LIST of a REQUIRED
    struct<key, value>."""

    def convert(ename, t, path):
        rep = OPTIONAL if opts.get(path, True) else REQUIRED
        if t[0] == "leaf":
            return leaf_node(ename, t[1], rep)
        if t[0] == "struct":
            return group_node(ename, rep, [convert(f, ch, _join(path, f"s{f}")) for f, ch in t[1]])
        if t[0] == "list":
            kids = [convert("element", t[1], _join(path, "l"))]
        else:
            kv = [convert("key", t[1], _join(path, "k")), convert("value", t[2], _join(path, "v"))]
            kids = [group_node("element", REQUIRED, kv)]
        return group_node(ename, rep, [group_node("list", REPEATED, kids)], converted=3)

    return convert(name, build_tree(list(chunks.items())), "")


@dataclass
class DremelColumn:
    """Container spec: ANY column from its chunks ({chunk name:
    EncodedChunk} in leaf order, as codecs/pages.encode_column and
    pages.column_chunks give them).  A single standard chunk (flat,
    list<prim>) is written as an ``EncodedChunk`` spec is.

    The Dremel leaves' schema mirrors the walker's level geometry exactly
    (every group and leaf OPTIONAL; reference: writer_schema.cc:30-134
    recursion), so the leaf pages' (rep, def) streams are valid under the
    declared schema for any independent reader.  Maps are written as LIST
    of a REQUIRED struct<key, value> (the standard MAP group demands a
    REQUIRED key, but walker keys carry their own optional level; the
    entry-struct itself carries none, matching the REQUIRED group)."""

    leaves: dict[str, EncodedChunk]

    def node(self, name: str) -> dict:
        chunks = self.leaves.values()
        return _tree_node(name, {leaf_spec(c.logical)[0]: c for c in chunks}, column_opts(chunks))


def _column_node(name: str, spec) -> dict:
    """One ``{name: spec}`` entry -> its schema tree, named ``name``.  A
    lone chunk keeps its list-level path, so a Dremel leaf passed this way
    fails the writer's level check instead of writing a struct."""
    if isinstance(spec, EncodedChunk):
        return _tree_node(name, {_list_paths(spec.max_rep)[-1]: spec}, column_opts([spec]))
    if isinstance(spec, DremelColumn):
        return spec.node(name)
    return {**spec, "el": {**spec["el"], 4: name}}


def _elements(node: dict):
    """SchemaElements of a tree, depth first (num_children from the tree)."""
    kids = node["children"]
    yield {**node["el"], 5: len(kids)} if kids else node["el"]
    for k in kids:
        yield from _elements(k)


# the one i8 a SchemaElement holds: LogicalType.INTEGER.bitWidth (parquet.thrift)
_I8_FIELDS = {(10, 10, 1)}


def _emit_element(w: CompactWriter, el: dict) -> None:
    """One SchemaElement struct, its fields in id order."""
    w.elem_struct_begin()
    _emit_fields(w, el, ())
    w.end_struct()


def _emit_fields(w: CompactWriter, fields: dict, at: tuple) -> None:
    """Struct fields by Python type: dict -> nested struct (the LogicalType
    union and its members), bool, str, int -> i32 (i8 at ``_I8_FIELDS``)."""
    for fid in sorted(fields):
        v, path = fields[fid], at + (fid,)
        if isinstance(v, dict):
            w.begin_field_struct(fid)
            _emit_fields(w, v, path)
            w.end_struct()
        elif isinstance(v, bool):
            w.field_bool(fid, v)
        elif isinstance(v, str):
            w.field_string(fid, v)
        else:
            (w.field_i8 if path in _I8_FIELDS else w.field_i32)(fid, v)


def _leaf_chunks(node: dict) -> list[EncodedChunk]:
    if not node["children"]:
        return [node["chunk"]]
    return [c for k in node["children"] for c in _leaf_chunks(k)]


def _page_header(page: Page) -> bytes:
    w = CompactWriter()
    if page.kind == "dict":
        w.field_i32(1, 2)  # PageType DICTIONARY_PAGE
        w.field_i32(2, page.uncompressed_size)
        w.field_i32(3, page.compressed_size)
        w.begin_field_struct(7)  # dictionary_page_header
        w.field_i32(1, page.num_values)
        w.field_i32(2, ENCODINGS["PLAIN"])
        w.field_bool(3, False)  # is_sorted
        w.end_struct()
    else:
        w.field_i32(1, 0)  # PageType DATA_PAGE
        w.field_i32(2, page.uncompressed_size)
        w.field_i32(3, page.compressed_size)
        w.begin_field_struct(5)  # data_page_header
        w.field_i32(1, page.num_values)
        w.field_i32(2, ENCODINGS[page.encoding])
        w.field_i32(3, ENCODINGS["RLE"])  # definition_level_encoding
        w.field_i32(4, ENCODINGS["RLE"])  # repetition_level_encoding
        w.end_struct()
    return w.finish()


def write_parquet_file(
    path: str,
    chunks: "dict[str, object] | list[dict[str, object]]",
    num_rows: int | list[int],
) -> None:
    """Write pre-encoded chunks as a standard .parquet file.

    ``chunks``/``num_rows`` may be a single row group (dict/int) or a list
    of row groups (file_writer flush_row_group per entry,
    file_writer.hh:122-155).  Each ``{name: spec}`` entry becomes one
    schema tree: an EncodedChunk (flat, list<prim> or list<list<prim>>)
    takes the standard LIST geometry, a DremelColumn the walker's
    all-OPTIONAL geometry, and a node built with ``group_node`` /
    ``leaf_node`` is written as given.  Every leaf chunk must carry the
    levels the reader's rule (``_walk_schema``) derives for its leaf.
    Compression: uncompressed / snappy / gzip per chunk; encodings must be
    standard (FSST is ours alone -- re-encode with policy
    'auto_fast'/'reference' for interop output).
    """
    groups = chunks if isinstance(chunks, list) else [chunks]
    group_rows = num_rows if isinstance(num_rows, list) else [num_rows]
    if len(groups) != len(group_rows) or not groups:
        raise ValueError("chunks and num_rows must list the same row groups")
    codec_ids = {"uncompressed": 0, "snappy": 1, "gzip": 2}
    elements = None
    group_leaves: list[list[tuple[LeafColumn, EncodedChunk]]] = []
    for k, (g, nrows) in enumerate(zip(groups, group_rows)):
        root = {"el": {4: "schema"}, "children": [_column_node(n, s) for n, s in g.items()]}
        els = list(_elements(root))
        if elements is None:
            elements = els
        elif els != elements:
            # the footer holds group 0's schema: a later group with other
            # levels would be misread (e.g. a REQUIRED column over
            # def-prefixed pages).  Pass nullable=True (and elem_nullable)
            # to encode_chunk for a column null-free in some slices only.
            raise ValueError(
                f"row group {k}: schema geometry differs from group 0 "
                "(columns, nullability, levels and types must match)"
            )
        leaves = list(zip(_walk_schema(root["children"]), _leaf_chunks(root)))
        for leaf, c in leaves:
            lpath = leaf.path
            got = (c.ptype, c.type_length, effective_max_def(c), c.max_rep)
            want = (leaf.ptype, leaf.type_length, leaf.max_def, leaf.max_rep)
            if got != want:
                raise ValueError(
                    f"{lpath}: chunk {c.ptype}/{c.type_length} (max_def={got[2]}, "
                    f"max_rep={c.max_rep}) does not match its schema leaf "
                    f"{leaf.ptype}/{leaf.type_length} (max_def={leaf.max_def}, "
                    f"max_rep={leaf.max_rep})"
                )
            if c.compression not in codec_ids:
                raise ValueError(f"{lpath}: unsupported compression {c.compression}")
            bad = set(c.encodings) - _STANDARD_ENCODINGS
            if bad:
                raise ValueError(f"{lpath}: non-standard encodings {bad} (FSST is not parquet)")
            if c.ptype == "BOOLEAN" and "RLE_DICTIONARY" in c.encodings:
                # legal per the format but unimplemented in major readers
                # (pyarrow: "Dictionary encoding not implemented for boolean")
                raise ValueError(
                    f"{lpath}: dictionary-encoded BOOLEAN is not readable by "
                    "standard readers; re-encode with policy 'plain'/'auto'"
                )
            if c.num_rows != nrows:
                raise ValueError(f"{lpath}: row count {c.num_rows} != {nrows}")
        group_leaves.append(leaves)

    out = bytearray(MAGIC)
    # per group: [(path, chunk, dict_off, data_off, total_bytes, uncomp_bytes)]
    group_meta: list[list[tuple[tuple[str, ...], EncodedChunk, int, int, int, int]]] = []
    for leaves in group_leaves:
        col_meta = []
        for leaf, c in leaves:
            dict_off = 0
            data_off = 0
            start = len(out)
            uncomp = 0
            for page in c.pages:
                off = len(out)
                if page.kind == "dict":
                    dict_off = off
                elif data_off == 0:
                    data_off = off
                header = _page_header(page)
                out += header
                out += page.data
                uncomp += len(header) + page.uncompressed_size
            col_meta.append((leaf.path, c, dict_off, data_off, len(out) - start, uncomp))
        group_meta.append(col_meta)

    footer = CompactWriter()
    footer.field_i32(1, 1)  # version (parquet 2.0 semantics, file_writer.hh)
    footer.begin_field_list(2, CT_STRUCT, len(elements))
    for el in elements:
        _emit_element(footer, el)
    footer.field_i64(3, sum(group_rows))
    footer.begin_field_list(4, CT_STRUCT, len(group_meta))  # row_groups
    for col_meta, nrows in zip(group_meta, group_rows):
        footer.elem_struct_begin()
        footer.begin_field_list(1, CT_STRUCT, len(col_meta))  # columns
        for path_parts, c, dict_off, data_off, total, uncomp in col_meta:
            footer.elem_struct_begin()  # ColumnChunk
            footer.field_i64(2, data_off)  # file_offset
            footer.begin_field_struct(3)  # ColumnMetaData
            footer.field_i32(1, PHYS_ID[c.ptype])
            encs = sorted({ENCODINGS[p.encoding] for p in c.pages} | {ENCODINGS["RLE"]})
            footer.begin_field_list(2, CT_I32, len(encs))
            for e in encs:
                footer.elem_i32(e)
            footer.begin_field_list(3, CT_BINARY, len(path_parts))
            for p_ in path_parts:
                footer.elem_binary(p_.encode())
            footer.field_i32(4, codec_ids[c.compression])
            # num_values in parquet = number of LEVEL entries in the chunk
            footer.field_i64(5, sum(p.num_values for p in c.pages if p.kind == "data"))
            # total_uncompressed_size = headers + uncompressed page bodies;
            # total_compressed_size = on-disk bytes (headers + compressed)
            footer.field_i64(6, uncomp)
            footer.field_i64(7, total)
            footer.field_i64(9, data_off)
            if dict_off:
                footer.field_i64(11, dict_off)
            footer.end_struct()
            footer.end_struct()
        # RowGroup.total_byte_size = uncompressed column data (parquet.thrift)
        footer.field_i64(2, sum(u for *_, u in col_meta))
        footer.field_i64(3, nrows)
        footer.end_struct()  # RowGroup
    footer.field_string(6, "parquet4seastar_spark")
    meta_bytes = footer.finish()
    out += meta_bytes
    out += struct.pack("<I", len(meta_bytes))
    out += MAGIC
    with open(path, "wb") as f:
        f.write(bytes(out))


# ---------------------------------------------------------------------------
# reader


def _encoding_name(leaf: LeafColumn, enc_id: int) -> str:
    """The Encoding enum name a page header declares, or a ValueError that
    names the leaf and the id."""
    name = ENC_NAME.get(enc_id)
    if name is None:
        raise ValueError(f"{'.'.join(leaf.path)}: unknown page encoding id {enc_id}")
    return name


class ParquetFileReader:
    """Minimal standard-parquet reader: footer, schema walk, page scan,
    decode via the engine's codec kernels."""

    def __init__(self, path: str):
        with open(path, "rb") as f:
            self.buf = f.read()
        if self.buf[:4] != MAGIC or self.buf[-4:] != MAGIC:
            if self.buf[-4:] == b"PARE":
                raise ValueError("encrypted parquet (PARE) not supported")
            raise ValueError("not a parquet file (bad magic)")
        (meta_len,) = struct.unpack_from("<I", self.buf, len(self.buf) - 8)
        meta_start = len(self.buf) - 8 - meta_len
        self.meta = CompactReader(self.buf, meta_start).read_struct()
        self.num_rows = self.meta[3]
        self.schema = _parse_schema(self.meta[2])
        self.leaves = _walk_schema(self.schema)
        row_groups = self.meta[4]
        # columns appear in leaf order per the spec; match by position (some
        # writers -- including the reference's fixture generator -- emit
        # inaccurate path_in_schema labels)
        self._groups: list[list[dict]] = []
        self._group_rows: list[int] = []
        for rg in row_groups:
            cols = rg[1]
            if len(cols) != len(self.leaves):
                raise ValueError(f"{len(cols)} column chunks != {len(self.leaves)} schema leaves")
            self._groups.append([c[3] for c in cols])
            self._group_rows.append(int(rg[3]))

    def column(self, name_or_path) -> LeafColumn:
        if isinstance(name_or_path, str):
            matches = [l for l in self.leaves if l.path[0] == name_or_path]
            if len(matches) != 1:
                raise KeyError(f"column {name_or_path}: {len(matches)} leaves")
            return matches[0]
        return next(l for l in self.leaves if l.path == tuple(name_or_path))

    @staticmethod
    def _base_logical(leaf: LeafColumn) -> tuple[str, str, int]:
        """(ptype, base logical, type_length) of a leaf: its annotation
        read through the logical-type table (``pages.annotated_logical``;
        a LogicalType DECIMAL counts as the ConvertedType).  INT96 reads as
        opaque 12-byte FLBA values."""
        if leaf.ptype == "INT96":
            return "FIXED_LEN_BYTE_ARRAY", "flba", 12
        converted = 5 if 5 in (leaf.logical_raw or {}) else leaf.converted
        logical = annotated_logical(leaf.ptype, converted, leaf.precision, leaf.scale)
        return leaf.ptype, logical, leaf.type_length

    def _scan_chunk_pages(self, leaf: LeafColumn, cm: dict) -> EncodedChunk:
        """Incremental Thrift page scan of one leaf chunk -> EncodedChunk
        (pages decompressed; only its pages, levels and physical type are
        read)."""
        if not cm:
            raise ValueError(f"{leaf.path}: no column chunk in row group")
        codec = {0: "uncompressed", 1: "snappy", 2: "gzip"}.get(cm[4])
        if codec is None:
            raise ValueError(f"{leaf.path}: unsupported compression codec id {cm[4]}")
        ptype, base, type_length = self._base_logical(leaf)
        num_values = cm[5]
        pos = cm.get(11) or cm[9]  # dictionary_page_offset ?? data_page_offset
        pages: list[Page] = []
        seen_values = 0
        # pages decompress HERE (uniformly, incl. V2 re-framing below), so
        # the assembled chunk is always 'uncompressed'
        from .pages import _decompress

        while seen_values < num_values:
            r = CompactReader(self.buf, pos)
            ph = r.read_struct()
            data_start = r.pos
            size = ph[3]
            data = self.buf[data_start : data_start + size]
            pos = data_start + size
            if ph[1] == 2:  # DICTIONARY_PAGE
                dph = ph[7]
                if _encoding_name(leaf, dph[2]) not in ("PLAIN", "PLAIN_DICTIONARY"):
                    raise ValueError("non-PLAIN dictionary page")
                raw = _decompress(data, codec)
                pages.append(Page("dict", "PLAIN", dph[1], dph[1], len(raw), len(raw), raw))
                continue
            if ph[1] == 3:  # DATA_PAGE_V2 (column_chunk_reader.cc:80-111)
                dp2 = ph[8]
                enc = _encoding_name(leaf, dp2[4])
                if enc == "PLAIN_DICTIONARY":
                    enc = "RLE_DICTIONARY"
                raw = self._reframe_v2_page(data, dp2, leaf, codec)
                pages.append(Page("data", enc, dp2[1], -1, len(raw), len(raw), raw))
                seen_values += dp2[1]
                continue
            if ph[1] != 0:
                raise ValueError(f"unsupported page type {ph[1]}")
            dp = ph[5]
            # levels are read as RLE; a max-0 level stream is absent, and
            # writers declare BIT_PACKED for it
            for field, kind, max_level in ((3, "definition", leaf.max_def), (4, "repetition", leaf.max_rep)):
                if max_level and dp.get(field, ENCODINGS["RLE"]) != ENCODINGS["RLE"]:
                    raise ValueError(
                        f"{'.'.join(leaf.path)}: {kind} levels declared "
                        f"{ENC_NAME.get(dp[field], dp[field])}, only RLE levels are read"
                    )
            enc = _encoding_name(leaf, dp[2])
            if enc == "PLAIN_DICTIONARY":
                enc = "RLE_DICTIONARY"
            raw = _decompress(data, codec)
            pages.append(Page("data", enc, dp[1], -1, len(raw), len(raw), raw))
            seen_values += dp[1]

        return EncodedChunk(
            ptype=ptype, logical=base, nullable=leaf.max_def > 0, num_rows=-1, num_nulls=0,
            cardinality=0, encodings=sorted({p.encoding for p in pages if p.kind == "data"}),
            compression="uncompressed", type_length=type_length, pages=pages,
            max_def=leaf.max_def, max_rep=leaf.max_rep,
        )

    # ---- general nested read: schema tree -> Dremel assembly -------------

    def _column_token_tree(self, name: str):
        """Top-level column -> (token tree, opts, [(token_path, leaf_index,
        base_logical)] in schema-leaf order).  Covers modern 3-level
        LIST/MAP and struct groups PLUS the legacy pre-LogicalTypes shapes
        at any depth (reader_schema.cc:120-144 backward-compat rules):

        - a bare REPEATED field/group (no LIST wrapper) is the element of
          an implicit REQUIRED list;
        - a LIST group whose repeated child is a primitive, a multi-field
          group, or a single-field group named exactly ``array`` or
          ``<parent>_tuple`` is a 2-level list — the repeated node itself
          is the (required) element.

        Both map onto the same Dremel level geometry the modern shapes use
        (legacy 2-level == 3-level with a REQUIRED element), so assembly
        needs no separate path."""
        raw = next(
            (r for r in self.schema if r["el"][4] == name), None
        )
        if raw is None:
            raise KeyError(name)
        opts: dict[str, bool] = {}
        leaf_infos: list[tuple[str, int, str]] = []
        leaf_by_path = {tuple(l.path): i for i, l in enumerate(self.leaves)}

        def conv_node(node, prefix, spath, rep_consumed=False):
            el = node["el"]
            rep = el.get(3, 0)
            kids = node["children"]
            conv = el.get(6)
            lt = el.get(10) or {}
            if rep == 2 and not rep_consumed:
                # legacy bare repeated field (backward-compat rule 1): the
                # node IS the element of an implicit REQUIRED list.  This
                # also reads legacy MAP_KEY_VALUE repeated groups, as a
                # list<struct<key,value>> (the shape maps export as).
                opts[prefix] = False
                return ("list", conv_node(node, _join(prefix, "l"), spath, True))
            opts[prefix] = rep == 1
            if not kids:
                li = leaf_by_path[spath]
                _, base, tl = self._base_logical(self.leaves[li])
                leaf_infos.append((prefix, li, base))
                return ("leaf", logical_row(base, tl)[0])
            # ConvertedType LIST=3 / MAP=1 / MAP_KEY_VALUE=2;
            # LogicalType union: MAP = field 2, LIST = field 3
            is_list = conv == 3 or 3 in lt
            is_map = conv in (1, 2) or 2 in lt
            if (is_list or is_map) and len(kids) == 1 and kids[0]["el"].get(3) == 2:
                mid = kids[0]
                mkids = mid["children"]
                mname = mid["el"][4]
                if is_map and len(mkids) == 2:
                    k = conv_node(mkids[0], _join(prefix, "k"),
                                  spath + (mname, mkids[0]["el"][4]))
                    v = conv_node(mkids[1], _join(prefix, "v"),
                                  spath + (mname, mkids[1]["el"][4]))
                    return ("map", k, v)
                # backward-compat rule 2 name test is EXACT (reader_schema.cc:
                # 131-132): the repeated group must be named "array" or
                # "<parent_list_name>_tuple".  A suffix match would misread a
                # standard 3-level list whose middle group happens to end in
                # "_tuple" under a differently-named parent.
                pname = el[4]
                if len(mkids) == 1 and not (
                    mname == "array" or mname == f"{pname}_tuple"
                ):
                    # standard 3-level LIST: the repeated middle group's
                    # single child is the element
                    child = conv_node(mkids[0], _join(prefix, "l"),
                                      spath + (mname, mkids[0]["el"][4]))
                    return ("list", child)
                # legacy 2-level list (backward-compat rule 2): the repeated
                # child (primitive, multi-field group, or array/_tuple-named
                # group) is itself the REQUIRED element
                child = conv_node(mid, _join(prefix, "l"), spath + (mname,), True)
                return ("list", child)
            fields = []
            for k in kids:
                fname = k["el"][4]
                fields.append((fname, conv_node(k, _join(prefix, f"s{fname}"), spath + (fname,))))
            return ("struct", fields)

        tree = conv_node(raw, "", (name,))
        return tree, opts, leaf_infos

    def read_column(self, name: str) -> pa.Array:
        """Assemble one top-level column of any nesting (flat, struct,
        3-level or legacy LIST, MAP, any composition) via the general Dremel
        assembler with the schema's real OPTIONAL flags (reference:
        record_reader.hh:469-505 recursive assembly).  Returns one arrow
        array across all row groups."""
        from .dremel import Leaf, assemble_tree
        from .pages import _decode_dremel_leaf

        tree, opts, leaf_infos = self._column_token_tree(name)
        parts = []
        for g, nrows in zip(self._groups, self._group_rows):
            leaves = {}
            for tok_path, li, base in leaf_infos:
                leaf = self.leaves[li]
                chunk = self._scan_chunk_pages(leaf, g[li])
                def_, rep, vals = _decode_dremel_leaf(chunk, base)
                leaves[tok_path] = Leaf(
                    tok_path, vals, def_, rep, leaf.max_def, leaf.max_rep
                )
            parts.append(assemble_tree(tree, leaves, nrows, opts))
        return parts[0] if len(parts) == 1 else pa.concat_arrays(parts)

    @staticmethod
    def _reframe_v2_page(data: bytes, dp2: dict, leaf: LeafColumn, codec: str) -> bytes:
        """V2 data page -> our V1 layout ([u32+rep][u32+def][values], raw).

        V2 layout (column_chunk_reader.cc:80-111): rep levels (RLE, no
        length prefix) + def levels (RLE, no prefix) + values; LEVELS are
        never compressed, values are iff is_compressed (field 7, default
        true).
        """
        from .pages import _decompress

        rep_len = dp2.get(6, 0)
        def_len = dp2.get(5, 0)
        levels_end = rep_len + def_len
        values = data[levels_end:]
        if dp2.get(7, True) and codec != "uncompressed":
            values = _decompress(values, codec)
        out = bytearray()
        if leaf.max_rep:
            out += struct.pack("<I", rep_len) + data[:rep_len]
        if leaf.max_def:
            out += struct.pack("<I", def_len) + data[rep_len:levels_end]
        out += values
        return bytes(out)
