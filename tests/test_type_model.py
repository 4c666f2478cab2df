"""The codec layer's type model (codecs/pages.py): one logical-type table
(``LOGICAL_TYPES``) decides a leaf's arrow type, physical type and parquet
annotation, and one tree rule (``leaf_spec`` paths + ``column_opts`` flags
-> ``dremel.build_tree``) decides a column's shape.  Every reader and
writer must agree on both: the type ``column_type`` plans from the leaves
alone, the type and values ``decode_column`` gives, and the type and values
the container reader gives back for an export of the same chunks."""

import re
from decimal import Decimal

import pyarrow as pa
import pytest

from parquet4seastar_spark.codecs.pages import (
    column_leaves,
    column_type,
    decode_chunk,
    decode_column,
    encode_chunk,
    encode_column,
)
from parquet4seastar_spark.codecs.parquet_file import DremelColumn, ParquetFileReader, write_parquet_file

# (id, null-free leaf values, the arrow type a decode gives back)
LEAVES = [
    ("bool", pa.array([True, False, True]), pa.bool_()),
    ("int32", pa.array([3, -1, 2**31 - 1], pa.int32()), pa.int32()),
    ("int64", pa.array([5, -(2**63), 2**63 - 1], pa.int64()), pa.int64()),
    ("float", pa.array([1.5, -0.0, float("inf")], pa.float32()), pa.float32()),
    ("double", pa.array([2.5, 0.0, -1e300], pa.float64()), pa.float64()),
    ("string", pa.array(["a", "", "héllo"]), pa.string()),
    ("large_string", pa.array(["p", "", "qq"], pa.large_string()), pa.string()),
    ("binary", pa.array([b"\x00\xff", b"", b"xyz"]), pa.binary()),
    ("large_binary", pa.array([b"\x01", b"", b"\xfe\xfd"], pa.large_binary()), pa.binary()),
    ("date32", pa.array([0, 19_000, -1], pa.date32()), pa.date32()),
    ("timestamp_us", pa.array([0, 1_700_000_000_000_000, -1], pa.timestamp("us")), pa.timestamp("us")),
    ("timestamp_us_tz", pa.array([0, 1_700_000_000_000_000, -1], pa.timestamp("us", tz="Europe/Paris")),
     pa.timestamp("us")),
    ("flba", pa.array([b"abcdefgh", b"\x00" * 8, b"\xff" * 8], pa.binary(8)), pa.binary(8)),
    ("decimal_int32", pa.array([Decimal("1.25"), Decimal("-3.50"), Decimal("99999.99")], pa.decimal128(7, 2)),
     pa.decimal128(7, 2)),
    ("decimal_int64", pa.array([Decimal("123456789012.5"), Decimal("-1.0"), Decimal("0.5")], pa.decimal128(15, 1)),
     pa.decimal128(15, 1)),
    ("decimal_flba", pa.array([Decimal("1" * 20 + ".5"), Decimal("-7.25"), Decimal("-" + "9" * 23 + ".99")],
                              pa.decimal128(25, 2)), pa.decimal128(25, 2)),
]


def _shape(shape: str, leaf: pa.Array) -> pa.Array:
    """Column of ``shape`` around ``leaf`` plus a null leaf, with a null
    and an empty slot at each list level and a null struct."""

    def lists(values):  # [v0], null, [], [v1, ...]
        offsets = pa.array([0, 1, 1, 1, len(values)], pa.int32())
        return pa.ListArray.from_arrays(offsets, values, mask=pa.array([False, True, False, False]))

    def struct(values):  # one slot per value, then a null struct
        child = pa.concat_arrays([values, pa.nulls(1, values.type)])
        return pa.StructArray.from_arrays([child], ["v"], mask=pa.array([False] * len(values) + [True]))

    leaf = pa.concat_arrays([leaf, pa.nulls(1, leaf.type)])
    return {
        "flat": lambda: leaf,
        "list": lambda: lists(leaf),
        "list_list": lambda: lists(lists(leaf)),
        "struct": lambda: struct(leaf),
        "list_struct": lambda: lists(struct(leaf)),
    }[shape]()


SHAPES = ["flat", "list", "list_list", "struct", "list_struct"]


@pytest.mark.parametrize("shape", SHAPES)
@pytest.mark.parametrize("name,leaf,decoded", LEAVES, ids=[c[0] for c in LEAVES])
def test_planned_decoded_and_container_types_agree(tmp_path, name, leaf, decoded, shape):
    col = _shape(shape, leaf)
    want = _shape(shape, leaf.cast(decoded))  # the input with its leaf type swapped for the decoded one
    assert column_type(column_leaves(col.type).values()) == want.type

    chunks = encode_column(col, policy="plain", page_target_bytes=8)
    out = decode_column(chunks)
    assert out.type == want.type
    assert out.equals(want)

    path = str(tmp_path / "c.parquet")
    write_parquet_file(path, {"c": DremelColumn(chunks)}, len(col))
    back = ParquetFileReader(path).read_column("c")
    assert back.type == want.type
    assert back.equals(want)


@pytest.mark.parametrize("shape", ["flat", "list", "list_list"])
@pytest.mark.parametrize("name,leaf,decoded", LEAVES, ids=[c[0] for c in LEAVES])
def test_a_standard_chunk_takes_the_same_tree(tmp_path, name, leaf, decoded, shape):
    # encode_chunk's standard list geometry (list<list> included, which
    # encode_column stores as a Dremel leaf) decodes and exports as one
    # lone-chunk column of the same type
    col = _shape(shape, leaf)
    want = _shape(shape, leaf.cast(decoded))
    chunk = encode_chunk(col, policy="plain")
    assert column_type([(chunk.logical, chunk.type_length)]) == want.type
    assert decode_chunk(chunk).equals(want)

    path = str(tmp_path / "c.parquet")
    write_parquet_file(path, {"c": chunk}, len(col))
    back = ParquetFileReader(path).read_column("c")
    assert back.type == want.type
    assert back.equals(want)


REFUSED = [
    pa.array([Decimal("1.25"), Decimal("-3.50"), Decimal("12345.67")], pa.decimal256(10, 2)),
    pa.array([Decimal("1.25"), Decimal("-3.50")], pa.decimal256(40, 2)),
    pa.array([1, -2, 3], pa.int8()),
    pa.array([1, 2, 3], pa.timestamp("ns")),
]


@pytest.mark.parametrize("arr", REFUSED, ids=[str(a.type) for a in REFUSED])
@pytest.mark.parametrize("encode", [encode_chunk, encode_column], ids=["encode_chunk", "encode_column"])
def test_a_type_with_no_row_is_refused_by_name(encode, arr):
    # decimal256 used to encode as decimal128 bytes and decode to other
    # values, with no error; a list or struct leaf is refused the same way
    match = re.escape(f"unsupported arrow type for chunk encoding: {arr.type}")
    columns = [arr, pa.ListArray.from_arrays(pa.array([0, len(arr)], pa.int32()), arr)]
    if encode is encode_column:
        columns.append(pa.StructArray.from_arrays([arr], ["v"]))
    for col in columns:
        with pytest.raises(TypeError, match=match):
            encode(col)


@pytest.mark.parametrize("spark_type,arrow_type", [("tinyint", "int8"), ("smallint", "int16")])
def test_encode_table_names_the_column_of_an_unsupported_type(spark, jobs_launched, spark_type, arrow_type):
    from parquet4seastar_spark.engine.encode_job import encode_table

    df = spark.createDataFrame([], f"row_id bigint, ok string, small {spark_type}")

    def call():
        try:
            encode_table(df, ["ok", "small"])
        except TypeError as e:
            return str(e)

    msg, jobs = jobs_launched(call)
    assert msg == f"column 'small': unsupported arrow type for chunk encoding: {arrow_type}"
    assert jobs == 0


@pytest.mark.parametrize("width", range(1, 17))
def test_one_width_decimal_bytes_match_the_general_path(width):
    # FLBA decimals (every value one width) take _varbin_to_decimal's
    # one-slice branch; a trailing value of another width sends the same
    # bytes down the per-value mask branch, and both must equal the
    # two's-complement reading of each value
    import numpy as np

    from parquet4seastar_spark.codecs.pages import _varbin_to_decimal

    t = pa.decimal128(38, 0)
    top = 2 ** (8 * width - 1)
    ints = [-top, -1, 0, 1, top - 1, -top // 3, top // 5, -(top // 7) - 1]
    raw = b"".join(i.to_bytes(width, "big", signed=True) for i in ints)
    other = 17 - width  # never equal to width
    tail = (-5).to_bytes(other, "big", signed=True)
    payload = np.frombuffer(raw + tail, dtype=np.uint8)

    one = _varbin_to_decimal(np.full(len(ints), width), payload[: len(raw)], t)
    general = _varbin_to_decimal(np.array([width] * len(ints) + [other]), payload, t)
    assert one.to_pylist() == [Decimal(i) for i in ints]
    assert one.equals(general.slice(0, len(ints))) and general[-1].as_py() == Decimal(-5)
