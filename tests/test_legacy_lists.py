"""Legacy (pre-LogicalTypes) list shapes in the container reader
(reader_schema.cc:120-144): old Hive/Impala writers emitted

  2-level: optional group xs (LIST) { repeated int32 element; }
  1-level: repeated int32 xs;           (top-level repeated leaf)

instead of the standard 3-level LIST group.  ParquetFileReader derives the
Dremel level geometry from the schema TREE (repetition codes), not from the
list/element naming convention, so both decode with the same machinery.
The files are hand-built with CompactWriter (no modern writer produces
them) and cross-validated against pyarrow's reader.
"""

import struct

import pyarrow as pa
import pyarrow.parquet as pq

from parquet4seastar_spark.codecs.pages import encode_chunk
from parquet4seastar_spark.codecs.parquet_file import (
    ENCODINGS,
    MAGIC,
    OPTIONAL,
    PHYS_ID,
    REPEATED,
    REQUIRED,
    CompactWriter,
    ParquetFileReader,
    _elements,
    _emit_element,
    _page_header,
    group_node,
)
from parquet4seastar_spark.codecs.thrift_compact import CT_BINARY, CT_I32, CT_STRUCT


def _int32(name, repetition):
    """An INT32 leaf SchemaElement node."""
    return {"el": {1: PHYS_ID["INT32"], 3: repetition, 4: name}, "children": []}


def _legacy_file(path, chunk, n_rows, column, path_in_schema):
    """Minimal single-chunk file with a caller-supplied schema tree."""
    out = bytearray(MAGIC)
    data_off = len(out)
    for p in chunk.pages:
        out += _page_header(p)
        out += p.data
    total = len(out) - data_off

    f = CompactWriter()
    f.field_i32(1, 1)
    elements = list(_elements({"el": {4: "schema"}, "children": [column]}))
    f.begin_field_list(2, CT_STRUCT, len(elements))
    for el in elements:
        _emit_element(f, el)
    f.field_i64(3, n_rows)
    f.begin_field_list(4, CT_STRUCT, 1)
    f.elem_struct_begin()
    f.begin_field_list(1, CT_STRUCT, 1)
    f.elem_struct_begin()
    f.field_i64(2, data_off)
    f.begin_field_struct(3)
    f.field_i32(1, PHYS_ID["INT32"])
    f.begin_field_list(2, CT_I32, 2)
    f.elem_i32(ENCODINGS["PLAIN"])
    f.elem_i32(ENCODINGS["RLE"])
    f.begin_field_list(3, CT_BINARY, len(path_in_schema))
    for part in path_in_schema:
        f.elem_binary(part.encode())
    f.field_i32(4, 0)
    f.field_i64(5, sum(p.num_values for p in chunk.pages if p.kind == "data"))
    f.field_i64(6, total)
    f.field_i64(7, total)
    f.field_i64(9, data_off)
    f.end_struct()
    f.end_struct()
    f.field_i64(2, total)
    f.field_i64(3, n_rows)
    f.end_struct()
    meta = f.finish()
    out += meta
    out += struct.pack("<I", len(meta))
    out += MAGIC
    with open(path, "wb") as fh:
        fh.write(bytes(out))


def test_legacy_two_level_list(tmp_path):
    vals = [[1, 2, 3], None, [], [4], [5, 6]] * 20
    arr = pa.array(vals, type=pa.list_(pa.int32()))
    chunk = encode_chunk(arr, policy="plain", nullable=True, elem_nullable=False)
    assert (chunk.max_def, chunk.max_rep) == (2, 1)

    column = group_node("xs", OPTIONAL, [_int32("element", REPEATED)], converted=3)

    path = str(tmp_path / "legacy2.parquet")
    _legacy_file(path, chunk, len(arr), column, ("xs", "element"))
    r = ParquetFileReader(path)
    leaf = r.column("xs")
    assert (leaf.max_def, leaf.max_rep, leaf.outer_optional) == (2, 1, True)
    assert r.read_column("xs").to_pylist() == vals
    # independent reader agrees on the legacy shape
    assert pq.read_table(path).column("xs").to_pylist() == vals


def test_legacy_one_level_repeated_leaf(tmp_path):
    # `repeated int32 xs;` straight at the root: no nulls expressible,
    # absent == empty (max_def = 1, d_empty = 0)
    vals = [[1, 2], [], [3], [4, 5, 6], []] * 20
    arr = pa.array(vals, type=pa.list_(pa.int32()))
    chunk = encode_chunk(arr, policy="plain", nullable=False, elem_nullable=False)
    assert (chunk.max_def, chunk.max_rep) == (1, 1)

    column = _int32("xs", REPEATED)

    path = str(tmp_path / "legacy1.parquet")
    _legacy_file(path, chunk, len(arr), column, ("xs",))
    r = ParquetFileReader(path)
    leaf = r.column("xs")
    assert (leaf.max_def, leaf.max_rep, leaf.outer_optional) == (1, 1, False)
    assert r.read_column("xs").to_pylist() == vals
    assert pq.read_table(path).column("xs").to_pylist() == vals


# ---- legacy shapes nested under other groups -------------------------------

import numpy as np

from parquet4seastar_spark.codecs.levels import encode_levels_v1
from parquet4seastar_spark.codecs.pages import Page
from parquet4seastar_spark.codecs.plain import plain_encode_fixed


def _levels_page(rep, def_, vals, max_rep, max_def):
    """One V1 data page: [u32+rep][u32+def][PLAIN int32 values]."""
    head = encode_levels_v1(np.asarray(rep, dtype=np.uint64), max_rep)
    head += encode_levels_v1(np.asarray(def_, dtype=np.uint64), max_def)
    body = plain_encode_fixed(np.asarray(vals, dtype=np.int32))
    raw = head + body
    return Page("data", "PLAIN", len(rep), len(vals), len(raw), len(raw), raw)


class _FakeChunk:
    def __init__(self, pages, max_rep):
        self.pages = pages
        self.max_rep = max_rep


def test_legacy_two_level_under_struct_tree(tmp_path):
    """The round-4 asymmetry: a pre-LogicalTypes 2-level list nested under
    a modern struct now assembles via read_column (reference handles
    it uniformly: reader_schema.cc:120-144 -> record_reader.hh:469-505)."""
    rows = [None, {"xs": [1, 2, 3]}, {"xs": None}, {"xs": []}, {"xs": [4]}] * 20
    rep, def_, vals = [], [], []
    for row in rows:
        if row is None:
            rep += [0]; def_ += [0]
        elif row["xs"] is None:
            rep += [0]; def_ += [1]
        elif not row["xs"]:
            rep += [0]; def_ += [2]
        else:
            rep += [0] + [1] * (len(row["xs"]) - 1)
            def_ += [3] * len(row["xs"])
            vals += row["xs"]
    page = _levels_page(rep, def_, vals, 1, 3)

    xs = group_node("xs", OPTIONAL, [_int32("element", REPEATED)], converted=3)
    column = group_node("s", OPTIONAL, [xs])

    path = str(tmp_path / "legacy2_struct.parquet")
    _legacy_file(path, _FakeChunk([page], 1), len(rows), column, ("s", "xs", "element"))
    got = ParquetFileReader(path).read_column("s").to_pylist()
    assert got == rows
    assert pq.read_table(path).column("s").to_pylist() == rows


def test_legacy_bare_repeated_under_struct_tree(tmp_path):
    """Rule 1: `repeated int32 xs;` inside a struct = implicit REQUIRED
    list (absent == empty)."""
    rows = [None, {"xs": [1, 2]}, {"xs": []}, {"xs": [3]}] * 25
    rep, def_, vals = [], [], []
    for row in rows:
        if row is None:
            rep += [0]; def_ += [0]
        elif not row["xs"]:
            rep += [0]; def_ += [1]
        else:
            rep += [0] + [1] * (len(row["xs"]) - 1)
            def_ += [2] * len(row["xs"])
            vals += row["xs"]
    page = _levels_page(rep, def_, vals, 1, 2)

    column = group_node("s", OPTIONAL, [_int32("xs", REPEATED)])

    path = str(tmp_path / "legacy1_struct.parquet")
    _legacy_file(path, _FakeChunk([page], 1), len(rows), column, ("s", "xs"))
    got = ParquetFileReader(path).read_column("s").to_pylist()
    assert got == rows
    assert pq.read_table(path).column("s").to_pylist() == rows


def test_legacy_array_named_group_tree(tmp_path):
    """Rule 2 name heuristic: a LIST group whose single repeated child is a
    one-field group named 'array' is 2-level — the group IS the element."""
    rows = [[{"a": 1}, {"a": 2}], None, [], [{"a": 3}]] * 25
    rep, def_, vals = [], [], []
    for row in rows:
        if row is None:
            rep += [0]; def_ += [0]
        elif not row:
            rep += [0]; def_ += [1]
        else:
            rep += [0] + [1] * (len(row) - 1)
            def_ += [2] * len(row)
            vals += [e["a"] for e in row]
    page = _levels_page(rep, def_, vals, 1, 2)

    array = group_node("array", REPEATED, [_int32("a", REQUIRED)])
    column = group_node("xs", OPTIONAL, [array], converted=3)

    path = str(tmp_path / "legacy_array.parquet")
    _legacy_file(path, _FakeChunk([page], 1), len(rows), column, ("xs", "array", "a"))
    got = ParquetFileReader(path).read_column("xs").to_pylist()
    assert got == rows
    assert pq.read_table(path).column("xs").to_pylist() == rows


def test_tuple_name_rule_is_exact_match(tmp_path):
    """reader_schema.cc:131-132: rule-2's name test demands exactly
    '<parent_list_name>_tuple'.  A standard 3-level list whose single-child
    repeated middle group merely ENDS in '_tuple' ('foo_tuple' under parent
    'bar') must still be read as 3-level — the child is the element, not a
    one-field struct."""
    rows = [[1, 2], None, [], [3]] * 25
    rep, def_, vals = [], [], []
    for row in rows:
        if row is None:
            rep += [0]; def_ += [0]
        elif not row:
            rep += [0]; def_ += [1]
        else:
            rep += [0] + [1] * (len(row) - 1)
            def_ += [2] * len(row)
            vals += row
    page = _levels_page(rep, def_, vals, 1, 2)

    foo_tuple = group_node("foo_tuple", REPEATED, [_int32("element", REQUIRED)])
    column = group_node("bar", OPTIONAL, [foo_tuple], converted=3)

    path = str(tmp_path / "foo_tuple_3level.parquet")
    _legacy_file(path, _FakeChunk([page], 1), len(rows), column,
                 ("bar", "foo_tuple", "element"))
    got = ParquetFileReader(path).read_column("bar").to_pylist()
    assert got == rows
    # known divergence, pinned: Arrow C++ (pyarrow) applies a looser
    # EndsWith("_tuple") heuristic here and misreads the element as a
    # one-field struct; the reference and the parquet-format spec use the
    # exact-name rule we follow.
    assert pq.read_table(path).column("bar").to_pylist() == [
        None if row is None else [{"element": v} for v in row] for row in rows
    ]


def test_tuple_name_rule_exact_match_is_legacy(tmp_path):
    """The accepting side of the exact rule: 'bar_tuple' under parent 'bar'
    IS legacy 2-level — the one-field group is itself the element."""
    rows = [[{"a": 1}, {"a": 2}], None, [], [{"a": 3}]] * 25
    rep, def_, vals = [], [], []
    for row in rows:
        if row is None:
            rep += [0]; def_ += [0]
        elif not row:
            rep += [0]; def_ += [1]
        else:
            rep += [0] + [1] * (len(row) - 1)
            def_ += [2] * len(row)
            vals += [e["a"] for e in row]
    page = _levels_page(rep, def_, vals, 1, 2)

    bar_tuple = group_node("bar_tuple", REPEATED, [_int32("a", REQUIRED)])
    column = group_node("bar", OPTIONAL, [bar_tuple], converted=3)

    path = str(tmp_path / "bar_tuple_legacy.parquet")
    _legacy_file(path, _FakeChunk([page], 1), len(rows), column,
                 ("bar", "bar_tuple", "a"))
    got = ParquetFileReader(path).read_column("bar").to_pylist()
    assert got == rows
    assert pq.read_table(path).column("bar").to_pylist() == rows


def test_legacy_top_level_shapes_via_tree_reader(tmp_path):
    """The original top-level legacy files assemble through the same tree
    reader as every nested shape."""
    vals = [[1, 2, 3], None, [], [4], [5, 6]] * 20
    arr = pa.array(vals, type=pa.list_(pa.int32()))
    chunk = encode_chunk(arr, policy="plain", nullable=True, elem_nullable=False)

    column = group_node("xs", OPTIONAL, [_int32("element", REPEATED)], converted=3)

    path = str(tmp_path / "legacy2_tree.parquet")
    _legacy_file(path, chunk, len(arr), column, ("xs", "element"))
    r = ParquetFileReader(path)
    assert r.read_column("xs").to_pylist() == vals

    vals1 = [[1, 2], [], [3], [4, 5, 6], []] * 20
    arr1 = pa.array(vals1, type=pa.list_(pa.int32()))
    chunk1 = encode_chunk(arr1, policy="plain", nullable=False, elem_nullable=False)

    column1 = _int32("xs", REPEATED)

    path1 = str(tmp_path / "legacy1_tree.parquet")
    _legacy_file(path1, chunk1, len(arr1), column1, ("xs",))
    r1 = ParquetFileReader(path1)
    assert r1.read_column("xs").to_pylist() == vals1
