"""Randomized container-interop fuzz: pyarrow writes parquet files with
randomized schemas / encodings / page versions / row-group sizes /
compressions; ParquetFileReader must decode every leaf bit-identically.

Complements the fixed alltypes goldens with breadth: each case exercises a
different combination of dictionary fallback, V1/V2 pages, multi-row-group
chunk stitching, nulls, empty/null lists, and string/binary/bool/float
leaves — against an INDEPENDENT writer implementation.
"""

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import given, settings, strategies as st

from parquet4seastar_spark.codecs.parquet_file import ParquetFileReader, write_parquet_file

_LEAF_TYPES = [
    pa.int32(),
    pa.int64(),
    pa.float32(),
    pa.float64(),
    pa.bool_(),
    pa.string(),
    pa.binary(),
]


def _leaf_strategy(t):
    return {
        pa.int32(): st.integers(-(2**31), 2**31 - 1),
        pa.int64(): st.integers(-(2**63), 2**63 - 1),
        pa.float32(): st.floats(allow_nan=False, width=32),
        pa.float64(): st.floats(allow_nan=False),
        pa.bool_(): st.booleans(),
        pa.string(): st.text(max_size=24),
        pa.binary(): st.binary(max_size=24),
    }[t]


@settings(max_examples=25, deadline=None)
@given(data=st.data())
def test_pyarrow_written_files_decode_bitexact(data, tmp_path_factory):
    tmp_path = tmp_path_factory.mktemp("interop")
    n = data.draw(st.integers(min_value=0, max_value=400), label="rows")
    base = data.draw(st.sampled_from(_LEAF_TYPES), label="type")
    as_list = data.draw(st.booleans(), label="as_list")
    page_ver = data.draw(st.sampled_from(["1.0", "2.0"]), label="page_ver")
    comp = data.draw(st.sampled_from(["none", "snappy", "gzip"]), label="comp")
    use_dict = data.draw(st.booleans(), label="dict")
    rg = data.draw(st.sampled_from([50, 150, 10**6]), label="row_group_size")

    leaf = st.one_of(st.none(), _leaf_strategy(base))
    if as_list:
        rows = st.one_of(st.none(), st.lists(leaf, max_size=6))
        arr = pa.array(data.draw(st.lists(rows, min_size=n, max_size=n), label="vals"),
                       type=pa.list_(base))
    else:
        arr = pa.array(data.draw(st.lists(leaf, min_size=n, max_size=n), label="vals"),
                       type=base)

    path = str(tmp_path / "f.parquet")
    pq.write_table(
        pa.table({"c": arr}), path, compression=comp, use_dictionary=use_dict,
        data_page_version=page_ver, row_group_size=rg,
    )
    out = ParquetFileReader(path).read_column("c")
    if out.type != arr.type:
        out = out.cast(arr.type)
    assert out.to_pylist() == arr.to_pylist()


_LOGICAL_TYPES = [
    pa.decimal128(9, 2),
    pa.decimal128(18, 4),
    pa.decimal128(30, 6),
    pa.timestamp("us"),
    pa.date32(),
]


def _logical_strategy(t):
    import datetime as _dt
    from decimal import Decimal

    if pa.types.is_decimal(t):
        import decimal as _decimal

        hi = 10**t.precision - 1  # unscaled integer domain

        def _mk(v, s=t.scale):
            with _decimal.localcontext() as c:
                c.prec = 60  # default 28 overflows decimal(30,6) quantization
                return Decimal(v).scaleb(-s)

        return st.integers(min_value=-hi, max_value=hi).map(_mk)
    if pa.types.is_timestamp(t):
        return st.datetimes(
            min_value=_dt.datetime(1970, 1, 2), max_value=_dt.datetime(2200, 1, 1)
        )
    return st.dates(min_value=_dt.date(1970, 1, 2), max_value=_dt.date(2200, 1, 1))


@settings(max_examples=20, deadline=None)
@given(data=st.data())
def test_pyarrow_logical_types_decode_bitexact(data, tmp_path_factory):
    # DECIMAL (3 physical mappings via pyarrow's write-side choice),
    # TIMESTAMP(us) and DATE through the independent writer
    tmp_path = tmp_path_factory.mktemp("interop_lt")
    n = data.draw(st.integers(min_value=0, max_value=200), label="rows")
    t = data.draw(st.sampled_from(_LOGICAL_TYPES), label="type")
    page_ver = data.draw(st.sampled_from(["1.0", "2.0"]), label="page_ver")
    comp = data.draw(st.sampled_from(["none", "snappy", "gzip"]), label="comp")
    leaf = st.one_of(st.none(), _logical_strategy(t))
    vals = data.draw(st.lists(leaf, min_size=n, max_size=n), label="vals")
    arr = pa.array(vals, type=t)
    path = str(tmp_path / "lt.parquet")
    pq.write_table(
        pa.table({"c": arr}), path, compression=comp,
        data_page_version=page_ver, use_dictionary=False,
        coerce_timestamps="us" if pa.types.is_timestamp(t) else None,
    )
    out = ParquetFileReader(path).read_column("c")
    if out.type != arr.type:
        out = out.cast(arr.type)
    assert out.to_pylist() == arr.to_pylist()


@settings(max_examples=25, deadline=None)
@given(data=st.data())
def test_our_files_pyarrow_reads_bitexact(data, tmp_path_factory):
    # mirror direction: our writer + a random standard encoding/compression,
    # pyarrow (independent reader) must see identical values
    from parquet4seastar_spark.codecs.pages import encode_chunk

    tmp_path = tmp_path_factory.mktemp("interop_w")
    n = data.draw(st.integers(min_value=0, max_value=300), label="rows")
    base = data.draw(st.sampled_from(_LEAF_TYPES), label="type")
    comp = data.draw(st.sampled_from(["uncompressed", "snappy", "gzip"]), label="comp")
    if base == pa.bool_():
        policy = data.draw(st.sampled_from(["plain", "RLE"]), label="policy")
    elif base in (pa.int32(), pa.int64()):
        policy = data.draw(
            st.sampled_from(["plain", "dict", "DELTA_BINARY_PACKED"]), label="policy"
        )
    elif base in (pa.float32(), pa.float64()):
        policy = data.draw(
            st.sampled_from(["plain", "dict", "BYTE_STREAM_SPLIT"]), label="policy"
        )
    else:
        policy = data.draw(
            st.sampled_from(["plain", "dict", "DELTA_LENGTH_BYTE_ARRAY", "DELTA_BYTE_ARRAY"]),
            label="policy",
        )
    leaf = st.one_of(st.none(), _leaf_strategy(base))
    vals = data.draw(st.lists(leaf, min_size=n, max_size=n), label="vals")
    arr = pa.array(vals, type=base)
    chunk = encode_chunk(arr, policy=policy, compression=comp, page_target_bytes=512)
    path = str(tmp_path / "w.parquet")
    write_parquet_file(path, {"c": chunk}, n)
    back = pq.read_table(path).column("c").combine_chunks()
    if back.type != arr.type:
        back = back.cast(arr.type)
    assert back.to_pylist() == arr.to_pylist()


# ---- nested direction: the recursive walker's container export ------------
# random nested schemas (reusing test_dremel's strategies) encode through
# encode_column, export via DremelColumn's recursive schema emitter,
# and pyarrow (independent implementation) must read every row back equal.


@settings(max_examples=20, deadline=None)
@given(data=st.data())
def test_our_nested_files_pyarrow_reads(data, tmp_path_factory):
    from test_dremel import _types, _values_for

    from parquet4seastar_spark.codecs.pages import encode_column
    from parquet4seastar_spark.codecs.parquet_file import DremelColumn

    t = data.draw(_types(3).filter(pa.types.is_nested))
    n = data.draw(st.integers(1, 10))
    rows = [
        None if data.draw(st.booleans()) else _values_for(t, data.draw, depth=1)
        for _ in range(n)
    ]
    arr = pa.array(rows, type=t)
    # 'reference' dict-encodes BOOLEAN leaves (parity with the reference's
    # static policy), which standard readers reject -- auto never does
    has_bool = "bool" in str(t)
    policy = data.draw(
        st.sampled_from(
            ["plain", "auto_fast"] if has_bool else ["plain", "auto_fast", "reference"]
        )
    )
    ch = encode_column(arr, policy=policy, page_target_bytes=128)
    path = str(tmp_path_factory.mktemp("nested") / "f.parquet")
    write_parquet_file(path, {"c": DremelColumn(ch)}, len(arr))
    back = pq.read_table(path).column("c").combine_chunks()

    def canon(t_, v):
        # maps export as LIST of struct<key,value>; canonicalize expected
        if v is None:
            return None
        if pa.types.is_map(t_):
            return [
                {"key": canon(t_.key_type, k), "value": canon(t_.item_type, x)}
                for k, x in v
            ]
        if pa.types.is_list(t_):
            return [canon(t_.value_type, e) for e in v]
        if pa.types.is_struct(t_):
            return {f.name: canon(f.type, v[f.name]) for f in t_}
        return v

    assert back.to_pylist() == [canon(t, r) for r in rows]


@settings(max_examples=20, deadline=None)
@given(data=st.data())
def test_pyarrow_nested_files_our_tree_reader(data, tmp_path_factory):
    # 4th direction: pyarrow writes RANDOM nested schemas (struct/list/map,
    # mixed encodings); our general Dremel tree reader must assemble every
    # row identically
    from test_dremel import _types, _values_for

    t = data.draw(_types(3).filter(pa.types.is_nested))
    n = data.draw(st.integers(1, 12))
    rows = [
        None if data.draw(st.booleans()) else _values_for(t, data.draw, depth=1)
        for _ in range(n)
    ]
    arr = pa.array(rows, type=t)
    tbl = pa.table({"c": arr})
    path = str(tmp_path_factory.mktemp("pan") / "f.parquet")
    pq.write_table(
        tbl, path,
        use_dictionary=data.draw(st.booleans()),
        row_group_size=data.draw(st.sampled_from([2, 5, 1000])),
    )
    out = ParquetFileReader(path).read_column("c")
    assert out.to_pylist() == arr.to_pylist()
