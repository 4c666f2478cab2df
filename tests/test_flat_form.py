"""The flat form and its one conversion pair (codecs/pages.py).

The codec kernels take a leaf's non-null values as ``(values, lengths,
payload)``; ``_leaf_components`` converts a physical arrow array into it and
``_physical_array`` converts it back.  Dictionary pages are PLAIN values
read through that pair, and a dictionary data page is an arrow ``take``, so
every physical type must survive both the pair and ``policy="dict"`` with
its values and its decoded arrow type."""

from decimal import Decimal

import pyarrow as pa
import pytest

from parquet4seastar_spark.codecs.pages import (
    CODEC_PTYPES,
    _leaf_components,
    _physical_array,
    _to_physical,
    decode_chunk,
    decode_column,
    encode_chunk,
    encode_column,
    pa_ptype,
)

# (id, null-free input, the arrow type a decode gives back)
CASES = [
    ("bool", pa.array([True, False, True, True]), pa.bool_()),
    ("int32", pa.array([3, -1, 3, 2**31 - 1], pa.int32()), pa.int32()),
    ("int64", pa.array([5, -(2**63), 5, 2**63 - 1], pa.int64()), pa.int64()),
    ("float", pa.array([1.5, -0.0, 1.5, float("inf")], pa.float32()), pa.float32()),
    ("double", pa.array([2.5, 0.0, 2.5, -1e300], pa.float64()), pa.float64()),
    ("string", pa.array(["a", "", "héllo", "a"]), pa.string()),
    ("binary", pa.array([b"\x00\xff", b"", b"xyz", b"\x00\xff"], pa.binary()), pa.binary()),
    ("large_string", pa.array(["p", "qq", "", "p"], pa.large_string()), pa.string()),
    ("flba", pa.array([b"abcd", b"efgh", b"abcd", b"\x00\x00\x00\x00"], pa.binary(4)), pa.binary(4)),
    ("decimal_int32", pa.array([Decimal("1.25"), Decimal("-3.50"), Decimal("1.25"), Decimal("0.00")],
                               pa.decimal128(7, 2)), pa.decimal128(7, 2)),
    ("decimal_int64", pa.array([Decimal("123456789012.5"), Decimal("-1.0"), Decimal("0.5"), Decimal("-1.0")],
                               pa.decimal128(15, 1)), pa.decimal128(15, 1)),
    ("decimal_flba", pa.array([Decimal("1" * 20 + ".5"), Decimal("-7.25"), Decimal("0"), Decimal("-7.25")],
                              pa.decimal128(25, 2)), pa.decimal128(25, 2)),
]
IDS = [c[0] for c in CASES]


@pytest.mark.parametrize("sliced", [False, True], ids=["whole", "sliced"])
@pytest.mark.parametrize("name,arr,_decoded", CASES, ids=IDS)
def test_conversion_pair_gives_the_input_back(name, arr, _decoded, sliced):
    if sliced:
        arr = arr.slice(1, 2)  # a non-zero offset into the buffers
    ptype = pa_ptype(arr.type)[0]
    phys = _to_physical(arr, ptype)
    out = _physical_array(ptype, *_leaf_components(phys, ptype)[:3])
    assert out.null_count == 0
    if ptype == "BYTE_ARRAY":
        assert out.type == pa.large_binary()
        out = out.cast(phys.type)
    assert out.type == phys.type
    assert out.equals(phys)


@pytest.mark.parametrize("with_nulls", [False, True], ids=["no_nulls", "nulls"])
@pytest.mark.parametrize("name,arr,decoded", CASES, ids=IDS)
def test_dict_policy_keeps_values_and_type(name, arr, decoded, with_nulls):
    if with_nulls:
        arr = pa.concat_arrays([pa.nulls(1, arr.type), arr, pa.nulls(2, arr.type)])
    chunk = encode_chunk(arr, policy="dict", page_target_bytes=2)
    assert chunk.encodings == ["RLE_DICTIONARY"] and len(chunk.pages) > 2
    out = decode_chunk(chunk)
    assert out.type == decoded
    assert out.to_pylist() == arr.to_pylist()


def _shapes(arr):
    """(shape id, column) of each shape built around ``arr`` and a null."""
    leaf = pa.concat_arrays([arr, pa.nulls(1, arr.type)])
    offsets = pa.array([0, 1, 1, len(leaf)], pa.int32())
    lst = pa.ListArray.from_arrays(offsets, leaf)
    return [
        ("flat", leaf),
        ("list", lst),
        ("list_list", pa.ListArray.from_arrays(pa.array([0, 2, 3], pa.int32()), lst)),
        ("struct", pa.StructArray.from_arrays([leaf], ["v"])),
        ("list_struct", pa.ListArray.from_arrays(offsets, pa.StructArray.from_arrays([leaf], ["v"]))),
    ]


@pytest.mark.parametrize("name,arr,decoded", CASES, ids=IDS)
def test_every_policy_and_shape_keeps_values_and_type(name, arr, decoded):
    # flat, list and list<list> are one chunk, struct and list<struct>
    # Dremel leaves; each decodes to its input type with the leaf type
    # swapped for the decoded one
    ptype = pa_ptype(arr.type)[0]
    policies = ["auto", "auto_fast", "plain", "dict", "reference"]
    policies += [codec for codec, takes in CODEC_PTYPES.items() if ptype in takes]
    for policy in policies:
        for (shape, col), (_, want) in zip(_shapes(arr), _shapes(arr.cast(decoded))):
            out = decode_column(encode_column(col, policy=policy, page_target_bytes=8))
            assert out.to_pylist() == col.to_pylist(), (policy, shape)
            assert out.type == want.type, (policy, shape)
