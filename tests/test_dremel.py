"""General Dremel shredder/assembler: exact inverse on ANY nesting.

Covers the hand-computed level semantics (the reference's level rule:
REPEATED => ++def,++rep; OPTIONAL => ++def — reader_schema.cc:79-93) plus a
hypothesis fuzz over random nested schemas (depth <= 5) asserting
assemble(shred(x)) == x bit-exactly against the pyarrow-held original.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from parquet4seastar_spark.codecs.dremel import (
    Leaf,
    assemble,
    assemble_tree,
    build_tree,
    leaf_paths,
    shred,
    tree_arrow_type,
)


def roundtrip(arr: pa.Array) -> pa.Array:
    leaves = {l.path: l for l in shred(arr)}
    out = assemble(leaves, len(arr))
    if out.type != arr.type:
        out = out.cast(arr.type)
    return out


def assert_roundtrip(arr: pa.Array):
    out = roundtrip(arr)
    assert out.equals(arr), f"mismatch:\n{out}\nvs\n{arr}"


# ---- hand-built shapes ----------------------------------------------------


def test_flat_primitive():
    assert_roundtrip(pa.array([1, None, 3], type=pa.int64()))
    assert_roundtrip(pa.array(["a", None, "", "xyz"], type=pa.string()))


def test_list_levels_classic():
    # list<int64>, all-optional internal geometry:
    # def 0 = null list, 1 = empty, 2 = element null, 3 = element value
    arr = pa.array([[1, 2], None, [], [None, 4]], type=pa.list_(pa.int64()))
    (leaf,) = shred(arr)
    assert leaf.path == "l"
    assert leaf.max_def == 3 and leaf.max_rep == 1
    assert leaf.def_.tolist() == [3, 3, 0, 1, 2, 3]
    assert leaf.rep.tolist() == [0, 1, 0, 0, 0, 1]
    assert leaf.values.to_pylist() == [1, 2, 4]
    assert_roundtrip(arr)


def test_struct_levels():
    arr = pa.array(
        [{"a": 1, "b": "x"}, None, {"a": None, "b": "y"}],
        type=pa.struct([("a", pa.int64()), ("b", pa.string())]),
    )
    leaves = {l.path: l for l in shred(arr)}
    assert set(leaves) == {"sa", "sb"}
    # def: 0 = struct null, 1 = field null, 2 = value
    assert leaves["sa"].def_.tolist() == [2, 0, 1]
    assert leaves["sb"].def_.tolist() == [2, 0, 2]
    assert_roundtrip(arr)


def test_list_of_struct_with_optional_and_nested():
    t = pa.list_(
        pa.struct(
            [
                ("tok", pa.string()),
                ("attrs", pa.struct([("upos", pa.string()), ("feats", pa.int32())])),
            ]
        )
    )
    arr = pa.array(
        [
            [{"tok": "a", "attrs": {"upos": "A", "feats": 1}}, {"tok": "b", "attrs": None}],
            None,
            [],
            [{"tok": None, "attrs": {"upos": None, "feats": None}}],
        ],
        type=t,
    )
    assert_roundtrip(arr)


def test_map_struct_and_map_list():
    t1 = pa.map_(pa.string(), pa.struct([("n", pa.int64()), ("s", pa.string())]))
    arr1 = pa.array(
        [
            [("m1", {"n": 1, "s": "x"}), ("m2", {"n": None, "s": None})],
            None,
            [],
            [("k", None)],
        ],
        type=t1,
    )
    assert_roundtrip(arr1)
    t2 = pa.map_(pa.string(), pa.list_(pa.string()))
    arr2 = pa.array(
        [[("tags", ["a", "b"]), ("none", None), ("empty", [])], None, []], type=t2
    )
    assert_roundtrip(arr2)


def test_list3_and_struct_of_everything():
    arr = pa.array(
        [[[["a"], []], None], None, [], [[["b", None]]]],
        type=pa.list_(pa.list_(pa.list_(pa.string()))),
    )
    assert_roundtrip(arr)
    t = pa.struct(
        [
            ("k", pa.int64()),
            ("m", pa.list_(pa.list_(pa.string()))),
            ("p", pa.map_(pa.string(), pa.int64())),
        ]
    )
    arr2 = pa.array(
        [
            {"k": 1, "m": [["a"], []], "p": [("x", 1)]},
            None,
            {"k": None, "m": None, "p": None},
            {"k": 3, "m": [], "p": []},
        ],
        type=t,
    )
    assert_roundtrip(arr2)


def test_previously_guarded_shapes():
    # map<string, list<list<float>>> — rejected by the shape-enumerated
    # paths (pages.py guards, deleted with this walker)
    t = pa.map_(pa.string(), pa.list_(pa.list_(pa.float32())))
    arr = pa.array(
        [[("logits", [[0.5, 1.0], []]), ("none", None)], None, [("e", [])]], type=t
    )
    assert_roundtrip(arr)
    # struct<list<list<list<int>>>>
    t2 = pa.struct([("deep", pa.list_(pa.list_(pa.list_(pa.int64()))))])
    arr2 = pa.array([{"deep": [[[1], [2, 3]], []]}, {"deep": None}, None], type=t2)
    assert_roundtrip(arr2)
    # four repetition levels
    t3 = pa.list_(pa.list_(pa.list_(pa.list_(pa.int32()))))
    arr3 = pa.array([[[[[1, None], []]]], None, [], [[[[2]]], None]], type=t3)
    assert_roundtrip(arr3)


def test_empty_and_all_null_columns():
    assert_roundtrip(pa.array([], type=pa.list_(pa.int64())))
    assert_roundtrip(
        pa.array([None, None], type=pa.struct([("a", pa.list_(pa.string()))]))
    )


def test_tree_roundtrip():
    t = pa.struct(
        [("a", pa.int64()), ("b", pa.map_(pa.string(), pa.list_(pa.float64())))]
    )
    arr = pa.array([{"a": 1, "b": [("k", [1.0])]}], type=t)
    leaves = shred(arr)
    tree = build_tree([(l.path, l.values.type) for l in leaves])
    assert tree_arrow_type(tree) == t
    assert leaf_paths(tree) == [l.path for l in leaves]


# ---- hypothesis fuzz -------------------------------------------------------

_PRIMS = [pa.int64(), pa.int32(), pa.float64(), pa.string(), pa.bool_()]


def _types(depth: int):
    if depth <= 0:
        return st.sampled_from(_PRIMS)
    sub = _types(depth - 1)
    return st.one_of(
        st.sampled_from(_PRIMS),
        st.builds(pa.list_, sub),
        st.builds(
            lambda fields: pa.struct(
                [(f"f{i}", t) for i, t in enumerate(fields)]
            ),
            st.lists(sub, min_size=1, max_size=3),
        ),
        st.builds(pa.map_, st.sampled_from([pa.string(), pa.int64()]), sub),
    )


def _values_for(t: pa.DataType, draw, depth=0):
    if draw(st.booleans()) and depth > 0:  # nulls at any level below root
        return None
    if pa.types.is_list(t):
        n = draw(st.integers(0, 3))
        return [_values_for(t.value_type, draw, depth + 1) for _ in range(n)]
    if pa.types.is_struct(t):
        return {f.name: _values_for(f.type, draw, depth + 1) for f in t}
    if pa.types.is_map(t):
        n = draw(st.integers(0, 3))
        keys = (
            [f"k{i}" for i in range(n)]
            if t.key_type == pa.string()
            else list(range(n))
        )
        return [(k, _values_for(t.item_type, draw, depth + 1)) for k in keys]
    if t == pa.string():
        return draw(st.text(max_size=6))
    if t == pa.bool_():
        return draw(st.booleans())
    if t in (pa.int64(), pa.int32()):
        return draw(st.integers(-(2**31) + 1, 2**31 - 1))
    return draw(st.floats(allow_nan=False, width=64))


@settings(max_examples=80, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.data())
def test_fuzz_random_nested_schemas(data):
    t = data.draw(_types(5))
    n = data.draw(st.integers(0, 12))
    rows = []
    for _ in range(n):
        v = _values_for(t, data.draw, depth=1)  # root rows may be null too
        if data.draw(st.booleans()):
            rows.append(None)
        else:
            rows.append(v)
    arr = pa.array(rows, type=t)
    assert_roundtrip(arr)


def test_sliced_input():
    # offsets view semantics: shred of a SLICED nested array must match
    arr = pa.array(
        [[{"a": [1, 2]}], [{"a": None}], None, [{"a": []}, None]],
        type=pa.list_(pa.struct([("a", pa.list_(pa.int64()))])),
    )
    s = arr.slice(1, 3)
    out = roundtrip(pa.concat_arrays([s]))
    assert out.equals(pa.array(s.to_pylist(), type=arr.type))


def test_shred_required_nodes():
    # a REQUIRED node adds no def level (reader_schema.cc:79-93) ...
    arr = pa.array([[1, 2], [], [3]], type=pa.list_(pa.int64()))
    (leaf,) = shred(arr, {"": False, "l": False})
    assert leaf.max_def == 1 and leaf.max_rep == 1
    assert leaf.def_.tolist() == [1, 1, 0, 1]
    assert leaf.rep.tolist() == [0, 1, 0, 0]
    (opt,) = shred(arr)
    assert opt.max_def == 3 and opt.def_.tolist() == [3, 3, 1, 3]
    # ... so one holding a null fails loudly, naming the node path
    sarr = pa.array([{"a": 1}, {"a": None}], type=pa.struct([("a", pa.int64())]))
    with pytest.raises(ValueError, match="'sa' is REQUIRED"):
        shred(sarr, {"sa": False})
    (ok,) = shred(sarr, {"": False})
    assert ok.max_def == 1 and ok.def_.tolist() == [1, 0]


def test_flat_string_leaf_reuses_decoded_values():
    """A leaf's k-th valid slot holds its k-th value: a flat leaf with no
    nulls assembles to its decoded values array itself, and a string leaf
    with nulls gathers only its offsets, sharing the values' data buffer."""
    from parquet4seastar_spark.codecs.pages import _decode_dremel_leaf, encode_chunk

    dense = encode_chunk(pa.array(["a", "bb", "", "ccc"]))
    def_, rep, vals = _decode_dremel_leaf(dense, "string")
    leaf = Leaf("", vals, def_, rep, dense.max_def, 0)
    assert assemble_tree(("leaf", vals.type), {"": leaf}, 4, {"": False}) is vals

    arr = pa.array(["a", None, "bb", "", None, "ccc"])
    def_, rep, vals = _decode_dremel_leaf(encode_chunk(arr), "string")
    out = assemble_tree(("leaf", vals.type), {"": Leaf("", vals, def_, rep, 1, 0)}, 6)
    assert out.equals(arr)
    assert out.buffers()[2].address == vals.buffers()[2].address

    # a sliced values array reads its own offsets
    tail = pa.array(["x", "a", "bb"]).slice(1)
    levels = np.array([1, 0, 1], dtype=np.uint32)
    leaf = Leaf("", tail, levels, np.zeros(3, dtype=np.uint32), 1, 0)
    assert assemble_tree(("leaf", tail.type), {"": leaf}, 3).to_pylist() == ["a", None, "bb"]
    # more valid slots than values is a corrupt leaf, not a silent shift
    leaf = Leaf("", tail, np.ones(3, dtype=np.uint32), np.zeros(3, dtype=np.uint32), 1, 0)
    with pytest.raises(ValueError, match="3 valid slots for 2 values"):
        assemble_tree(("leaf", tail.type), {"": leaf}, 3)
