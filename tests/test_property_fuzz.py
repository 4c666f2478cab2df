"""Property-based round-trip fuzzing (hypothesis) -- beyond the reference's
test pyramid (SURVEY.md §5 notes it has no randomized fuzzing)."""

import numpy as np
import pyarrow as pa
from hypothesis import given, settings, strategies as st

from parquet4seastar_spark.codecs.delta import dbp_decode, dbp_encode
from parquet4seastar_spark.codecs.fsst import fsst_decode, fsst_encode, train_symbol_table
from parquet4seastar_spark.codecs.pages import decode_chunk, encode_chunk
from parquet4seastar_spark.codecs.rle import rle_decode, rle_encode

I64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
I32 = st.integers(min_value=-(2**31), max_value=2**31 - 1)


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=7), max_size=300))
def test_rle_roundtrip_fuzz(vals):
    arr = np.array(vals, dtype=np.uint64)
    out = rle_decode(rle_encode(arr, 3), 3, len(arr))
    assert out.tolist() == vals


@settings(max_examples=50, deadline=None)
@given(st.lists(I64, max_size=600))
def test_dbp64_roundtrip_fuzz(vals):
    arr = np.array(vals, dtype=np.int64)
    out, _ = dbp_decode(dbp_encode(arr, 8), 8)
    assert out.tolist() == vals


@settings(max_examples=50, deadline=None)
@given(st.lists(I32, max_size=600))
def test_dbp32_roundtrip_fuzz(vals):
    arr = np.array(vals, dtype=np.int32)
    out, _ = dbp_decode(dbp_encode(arr, 4), 4)
    assert out.tolist() == vals


@settings(max_examples=30, deadline=None)
@given(st.binary(max_size=5000))
def test_fsst_roundtrip_fuzz(data):
    table = train_symbol_table(data[:2048])
    assert fsst_decode(fsst_encode(data, table)) == data


@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.one_of(st.none(), st.text(max_size=80)), max_size=200),
    st.sampled_from(["auto", "plain", "reference", "dict"]),
)
def test_string_chunk_roundtrip_fuzz(vals, policy):
    arr = pa.array(vals, type=pa.string())
    chunk = encode_chunk(arr, policy=policy, page_target_bytes=512)
    assert decode_chunk(chunk).to_pylist() == vals


@settings(max_examples=30, deadline=None)
@given(st.lists(st.one_of(st.none(), I64), max_size=300))
def test_int_chunk_roundtrip_fuzz(vals):
    arr = pa.array(vals, type=pa.int64())
    chunk = encode_chunk(arr, policy="auto", page_target_bytes=256)
    assert decode_chunk(chunk).to_pylist() == vals


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.lists(st.one_of(st.none(), st.floats(allow_nan=False, width=32)), max_size=12),
        ),
        max_size=150,
    ),
    st.sampled_from(["auto", "plain", "reference"]),
)
def test_list_chunk_roundtrip_fuzz(vals, policy):
    # nested Dremel path: null lists, empty lists, null elements
    arr = pa.array(vals, type=pa.list_(pa.float32()))
    chunk = encode_chunk(arr, policy=policy, page_target_bytes=128)
    assert decode_chunk(chunk).to_pylist() == arr.to_pylist()


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.one_of(st.none(), st.lists(st.one_of(st.none(), I32), max_size=5)),
                max_size=5,
            ),
        ),
        max_size=60,
    ),
    st.sampled_from(["auto", "plain", "reference"]),
)
def test_list_of_list_roundtrip_fuzz(vals, policy):
    arr = pa.array(vals, type=pa.list_(pa.list_(pa.int32())))
    chunk = encode_chunk(arr, policy=policy, page_target_bytes=64)
    out = decode_chunk(chunk)
    assert out.to_pylist() == arr.to_pylist()


@settings(max_examples=25, deadline=None)
@given(st.lists(st.binary(max_size=40), max_size=200))
def test_delta_byte_array_roundtrip_fuzz(vals):
    from parquet4seastar_spark.codecs.delta import (
        delta_byte_array_decode_components,
        delta_byte_array_encode,
    )

    lengths = np.array([len(v) for v in vals], dtype=np.int64)
    payload = b"".join(vals)
    enc = delta_byte_array_encode(lengths, payload)
    lens2, pl2 = delta_byte_array_decode_components(enc, len(vals))
    assert lens2.tolist() == lengths.tolist() and pl2 == payload


@settings(max_examples=25, deadline=None)
@given(st.binary(max_size=8000))
def test_snappy_roundtrip_fuzz(data):
    from parquet4seastar_spark.codecs.pages import _compress, _decompress

    assert _decompress(_compress(data, "snappy"), "snappy") == data


# ---- round-3: mixed nested trees (struct/list at one repetition level) ----

_prim = st.one_of(st.none(), I32)
_span = st.one_of(
    st.none(),
    st.fixed_dictionaries(
        {"tok": st.one_of(st.none(), st.text(max_size=8)), "pos": _prim}
    ),
)
_SPAN_T = pa.struct([("tok", pa.string()), ("pos", pa.int32())])


@settings(max_examples=25, deadline=None)
@given(
    st.lists(st.one_of(st.none(), st.lists(_span, max_size=6)), max_size=60),
    st.sampled_from(["auto", "plain"]),
)
def test_struct_list_roundtrip_fuzz(vals, policy):
    # array<struct> with OPTIONAL fields: null lists, empty lists, null
    # struct elements, null fields under present structs
    from parquet4seastar_spark.codecs.pages import (
        decode_column,
        encode_column,
    )

    arr = pa.array(vals, type=pa.list_(_SPAN_T))
    ch = encode_column(arr, policy=policy, page_target_bytes=128)
    assert decode_column(ch).to_pylist() == arr.to_pylist()


_TREE_T = pa.struct([
    ("a", pa.int64()),
    ("inner", pa.struct([("x", pa.string()), ("tags", pa.list_(pa.int32()))])),
    ("spans", pa.list_(_SPAN_T)),
])
_tree_row = st.one_of(
    st.none(),
    st.fixed_dictionaries(
        {
            "a": st.one_of(st.none(), I64),
            "inner": st.one_of(
                st.none(),
                st.fixed_dictionaries(
                    {
                        "x": st.one_of(st.none(), st.text(max_size=6)),
                        "tags": st.one_of(st.none(), st.lists(_prim, max_size=4)),
                    }
                ),
            ),
            "spans": st.one_of(st.none(), st.lists(_span, max_size=4)),
        }
    ),
)


@settings(max_examples=25, deadline=None)
@given(st.lists(_tree_row, max_size=50), st.sampled_from(["auto", "plain"]))
def test_mixed_tree_roundtrip_fuzz(vals, policy):
    # the full supported tree in one column: nested struct, list under
    # struct, list<struct> under struct -- every null/empty combination
    from parquet4seastar_spark.codecs.pages import (
        decode_column,
        encode_column,
    )

    arr = pa.array(vals, type=_TREE_T)
    ch = encode_column(arr, policy=policy, page_target_bytes=128)
    out = decode_column(ch)
    out.validate(full=True)
    assert out.to_pylist() == arr.to_pylist()


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.one_of(
                    st.none(),
                    st.lists(st.one_of(st.none(), st.lists(_prim, max_size=3)), max_size=3),
                ),
                max_size=3,
            ),
        ),
        max_size=40,
    ),
    st.sampled_from(["auto", "plain"]),
)
def test_list3_roundtrip_fuzz(vals, policy):
    # three repetition levels in ONE leaf stream (recursive walker)
    from parquet4seastar_spark.codecs.pages import decode_column, encode_column

    arr = pa.array(vals, type=pa.list_(pa.list_(pa.list_(pa.int32()))))
    ch = encode_column(arr, policy=policy, page_target_bytes=128)
    out = decode_column(ch)
    out.validate(full=True)
    assert out.to_pylist() == arr.to_pylist()


@settings(max_examples=40, deadline=None)
@given(
    st.binary(min_size=0, max_size=4000),
    st.sampled_from([b"", b"abcabcabc", b"the quick brown fox ", b"\x00\xff" * 40]),
    st.integers(min_value=0, max_value=3),
)
def test_fsst_native_numpy_parity_fuzz(data, seed_text, repeat_pow):
    """The C kernel and the numpy fallback must be bit-identical on
    ARBITRARY bytes and tables — encode payloads equal, trained symbol
    tables equal, both decode back to the input.  (Complements the fixed-content
    segment-boundary parity test.)"""
    import os

    from parquet4seastar_spark.codecs import _native

    if _native.get_kernel() is None:  # no compiler in env: nothing to compare
        return
    payload = (seed_text * (4 ** repeat_pow)) + data
    table = train_symbol_table(payload[: 1 << 16])

    def with_numpy(f):
        os.environ["P4S_NO_NATIVE"] = "1"
        _native._tried, _native._lib = False, None
        try:
            return f()
        finally:
            del os.environ["P4S_NO_NATIVE"]
            _native._tried, _native._lib = False, None

    enc_n = fsst_encode(payload, table)
    enc_p = with_numpy(lambda: fsst_encode(payload, table))
    assert enc_n == enc_p
    assert fsst_decode(enc_n) == payload
    assert with_numpy(lambda: fsst_decode(enc_n)) == payload
    table_p = with_numpy(lambda: train_symbol_table(payload[: 1 << 16]))
    assert np.array_equal(table.values, table_p.values)
    assert np.array_equal(table.lengths, table_p.lengths)
