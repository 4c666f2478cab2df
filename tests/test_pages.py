"""Column-chunk encode/decode: dictionary golden vectors
(tests/dictionary_encoder_test.cc:29-153), flat-nullable level fixture
(tests/column_chunk_writer_test.cc:41-108), fallback semantics
(src/encoding.cc:801-845), selector adversarial inputs (FIXTURES.md §4)."""

import dataclasses

import numpy as np
import pyarrow as pa
import pytest

from parquet4seastar_spark.codecs.dictionary import build_dict, decode_dict_indices, encode_dict_indices
from parquet4seastar_spark.codecs.levels import decode_levels_v1, encode_levels_v1
from parquet4seastar_spark.codecs.pages import (
    DICT_FALLBACK_THRESHOLD,
    decode_chunk,
    encode_chunk,
)
from parquet4seastar_spark.codecs.rle import rle_decode


def test_dict_golden_int32():
    # dictionary_encoder_test.cc:29-88: {2,1,2,3} -> indices {0,1,0,2} at
    # width 2, dict page 02 01 03 (u32-LE); after {1,4,5}: width 3, 5 entries
    arr = pa.array([2, 1, 2, 3, 1, 4, 5], type=pa.int32())
    codes, dict_arr = build_dict(arr)
    assert codes.tolist() == [0, 1, 0, 2, 1, 3, 4]
    assert dict_arr.to_pylist() == [2, 1, 3, 4, 5]

    page1 = encode_dict_indices(codes[:4], 3)
    assert page1[0] == 2  # bit_width(3)
    assert decode_dict_indices(page1, 4, 5).tolist() == [0, 1, 0, 2]
    page2 = encode_dict_indices(codes[4:], 5)
    assert page2[0] == 3  # bit_width(5)
    assert decode_dict_indices(page2, 3, 5).tolist() == [1, 3, 4]


def test_dict_golden_byte_array_chunk():
    # dictionary_encoder_test.cc:94-153 re-expressed at chunk level: two
    # pages sharing one growing dictionary.
    values = ["bb", "aa", "bb", "cc", "aa", "dd", "ee"]
    arr = pa.array(values, type=pa.string())
    # force 2 pages: first 4 values (2B each + 4B prefix = 24B budget)
    chunk = encode_chunk(arr, policy="dict", page_target_bytes=24, nullable=False)
    kinds = [(p.kind, p.encoding) for p in chunk.pages]
    assert kinds[0] == ("dict", "PLAIN")
    assert all(k == ("data", "RLE_DICTIONARY") for k in kinds[1:])
    # dict page bytes: u32-LE length + chars, insertion order
    expected_dict = b"".join(
        len(s).to_bytes(4, "little") + s.encode() for s in ["bb", "aa", "cc", "dd", "ee"]
    )
    assert chunk.pages[0].data == expected_dict
    assert chunk.cardinality == 5
    out = decode_chunk(chunk)
    assert out.to_pylist() == values


def test_dict_index_width_grows_across_pages():
    values = ["bb", "aa", "bb", "cc", "aa", "dd", "ee"]
    arr = pa.array(values, type=pa.string())
    chunk = encode_chunk(arr, policy="dict", page_target_bytes=24, nullable=False)
    data_pages = [p for p in chunk.pages if p.kind == "data"]
    assert len(data_pages) == 2
    # width byte is the first value byte (no def levels -> nullable=False)
    assert data_pages[0].data[0] == 2  # 3 entries seen -> width 2
    assert data_pages[1].data[0] == 3  # 5 entries seen -> width 3


def test_flat_nullable_fixture():
    # column_chunk_writer_test.cc:41-108: values a,NULL,c,a,NULL,e with
    # def={1,0,1,1,0,1}, page split after 3 rows, dict persists across pages
    values = ["a", None, "c", "a", None, "e"]
    arr = pa.array(values, type=pa.string())
    chunk = encode_chunk(arr, policy="dict", page_target_bytes=7, nullable=True)
    assert chunk.num_rows == 6
    assert chunk.num_nulls == 2
    out = decode_chunk(chunk)
    assert out.to_pylist() == values
    # def levels of first data page decode to 1,0,1
    first_data = next(p for p in chunk.pages if p.kind == "data")
    levels, _ = decode_levels_v1(first_data.data, 1, first_data.num_values)
    assert levels.tolist()[:3] == [1, 0, 1]


def test_level_widths():
    # encoding.hh:35-51: max_def in {0,1,2,3} -> widths {0,1,2,2}
    assert encode_levels_v1(np.zeros(5), 0) == b""
    lv1 = encode_levels_v1(np.array([1, 0, 1]), 1)
    out, consumed = decode_levels_v1(lv1, 1, 3)
    assert out.tolist() == [1, 0, 1] and consumed == len(lv1)
    lv3 = encode_levels_v1(np.array([0, 1, 2, 3, 3]), 3)
    out, _ = decode_levels_v1(lv3, 3, 5)
    assert out.tolist() == [0, 1, 2, 3, 3]
    # width-0 streams decode as all-zero
    out, consumed = decode_levels_v1(b"", 0, 4)
    assert out.tolist() == [0, 0, 0, 0] and consumed == 0


def test_dict_fallback_16kib():
    # all-unique 40-hex strings: dict page overflows 16 KiB at some page
    # flush; later pages are PLAIN; dict page still written (encoding.cc:833)
    import hashlib

    values = [hashlib.sha1(str(i).encode()).hexdigest() for i in range(1500)]
    arr = pa.array(values, type=pa.string())
    chunk = encode_chunk(arr, policy="reference", page_target_bytes=4096, nullable=False)
    encs = [p.encoding for p in chunk.pages if p.kind == "data"]
    assert "RLE_DICTIONARY" in encs and "PLAIN" in encs
    # dictionary page exists and holds only entries seen up to the overflow
    dict_page = next(p for p in chunk.pages if p.kind == "dict")
    assert dict_page.uncompressed_size > DICT_FALLBACK_THRESHOLD  # detected at flush
    assert decode_chunk(chunk).to_pylist() == values


@pytest.mark.parametrize(
    "arr,policy",
    [
        (pa.array([1, 2, 3, None, 5], type=pa.int32()), "auto"),
        (pa.array([1, 2, 3, None, 5], type=pa.int64()), "auto"),
        (pa.array(np.linspace(0, 1, 100), type=pa.float64()), "auto"),
        (pa.array(np.linspace(0, 1, 100), type=pa.float32()), "plain"),
        (pa.array([True, False, None, True] * 10), "auto"),
        (pa.array(["x", None, "yy", "zzz", ""] * 7, type=pa.string()), "auto"),
        (pa.array([b"\x00\xff", None, b""], type=pa.binary()), "auto"),
        (pa.array([], type=pa.string()), "auto"),
        (pa.array([None, None], type=pa.int64()), "auto"),
    ],
)
def test_roundtrip_types(arr, policy):
    chunk = encode_chunk(arr, policy=policy, page_target_bytes=16)
    out = decode_chunk(chunk)
    assert out.to_pylist() == arr.to_pylist()
    # max_def = -1 (a flat chunk that records no level geometry) reads its
    # def levels from ``nullable``
    legacy = dataclasses.replace(chunk, max_def=-1)
    assert decode_chunk(legacy).to_pylist() == arr.to_pylist()


@pytest.mark.parametrize("codec", ["PLAIN", "DELTA_BINARY_PACKED"])
def test_roundtrip_int_codecs(codec):
    rng = np.random.default_rng(3)
    arr = pa.array(rng.integers(-(2**30), 2**30, 5000), type=pa.int64())
    chunk = encode_chunk(arr, policy=codec, page_target_bytes=8192)
    assert [p.encoding for p in chunk.pages] == [codec] * len(chunk.pages)
    assert decode_chunk(chunk).to_pylist() == arr.to_pylist()


@pytest.mark.parametrize("codec", ["PLAIN", "DELTA_LENGTH_BYTE_ARRAY", "FSST"])
def test_roundtrip_string_codecs(codec):
    values = [f"path/to/file_{i}.py" for i in range(2000)]
    arr = pa.array(values, type=pa.string())
    chunk = encode_chunk(arr, policy=codec, page_target_bytes=8192)
    assert decode_chunk(chunk).to_pylist() == values


class TestSelectorAdversarial:
    """FIXTURES.md §4: auto-selection never exceeds the reference policy."""

    def _sizes(self, arr, page_target=1 << 16):
        auto = encode_chunk(arr, policy="auto", page_target_bytes=page_target)
        ref = encode_chunk(arr, policy="reference", page_target_bytes=page_target)
        assert decode_chunk(auto).to_pylist() == arr.to_pylist()
        return auto, ref

    def test_all_equal(self):
        arr = pa.array(["same"] * 100_000, type=pa.string())
        auto, ref = self._sizes(arr)
        assert auto.compressed_bytes <= ref.compressed_bytes
        # RLE-dominated dict: tiny output
        assert auto.compressed_bytes < 200

    def test_all_unique_hex(self):
        import hashlib

        arr = pa.array([hashlib.sha1(str(i).encode()).hexdigest() for i in range(5000)])
        auto, ref = self._sizes(arr)
        assert auto.compressed_bytes <= ref.compressed_bytes

    def test_sorted_int64(self):
        arr = pa.array(np.arange(100_000, dtype=np.int64) * 3 + 7)
        auto, ref = self._sizes(arr)
        assert auto.compressed_bytes <= ref.compressed_bytes
        assert "DELTA_BINARY_PACKED" in auto.encodings

    def test_text_fsst_wins(self):
        base = "for i in range(n):\n    total += values[i] * weights[i]\n"
        arr = pa.array([base + str(i % 7) for i in range(5000)])
        auto, ref = self._sizes(arr)
        assert auto.compressed_bytes <= ref.compressed_bytes
        # FSST should beat plain on source text
        assert auto.compressed_bytes < auto.input_bytes * 0.7

    def test_random_ints(self):
        rng = np.random.default_rng(9)
        arr = pa.array(rng.integers(INT64_MIN := -(2**62), 2**62, 20_000))
        auto, ref = self._sizes(arr)
        assert auto.compressed_bytes <= ref.compressed_bytes

    @pytest.mark.parametrize("n", [1, 7, 8, 9])
    def test_tiny_chunks(self, n):
        arr = pa.array([f"v{i}" for i in range(n)])
        auto, ref = self._sizes(arr)
        assert decode_chunk(ref).to_pylist() == arr.to_pylist()
        assert auto.compressed_bytes <= ref.compressed_bytes


def test_flba_roundtrip():
    # FIXED_LEN_BYTE_ARRAY chunks (the reference's column_chunk_writer_test
    # uses FLBA); dict + plain + fallback paths
    import hashlib

    vals = [hashlib.md5(str(i % 7).encode()).digest() for i in range(50)] + [None]
    arr = pa.array(vals, type=pa.binary(16))
    for policy in ["auto", "plain", "dict", "reference"]:
        chunk = encode_chunk(arr, policy=policy, page_target_bytes=128)
        assert chunk.ptype == "FIXED_LEN_BYTE_ARRAY"
        assert chunk.type_length == 16
        out = decode_chunk(chunk)
        assert out.to_pylist() == vals, policy


def test_flba_low_card_auto_picks_dict():
    # regression (round-1 ADVICE): _plain_size must account for type_length,
    # otherwise the PLAIN candidate scores 0 bytes and auto never picks dict
    # for FLBA.  16 repeated md5 digests -> dict must win under auto.
    import hashlib

    vals = [hashlib.md5(str(i % 16).encode()).digest() for i in range(10_000)]
    arr = pa.array(vals, type=pa.binary(16))
    auto = encode_chunk(arr, policy="auto", page_target_bytes=1 << 16)
    assert "RLE_DICTIONARY" in auto.encodings
    plain = encode_chunk(arr, policy="plain", page_target_bytes=1 << 16)
    assert auto.compressed_bytes < plain.compressed_bytes // 4
    assert decode_chunk(auto).to_pylist() == vals


def test_unique_head_repetitive_tail_picks_dict():
    # regression (round-1 ADVICE): prefix-only sampling missed the dict
    # candidate when the first 512 values are unique; uniform sampling must
    # admit it (dict wins overall here: 90% of the chunk is 3 values).
    uniq = [f"unique-value-{i:06d}" for i in range(600)]
    tail = ["aa", "bb", "cc"] * 2000
    arr = pa.array(uniq + tail, type=pa.string())
    auto = encode_chunk(arr, policy="auto", page_target_bytes=1 << 20)
    ref = encode_chunk(arr, policy="reference", page_target_bytes=1 << 20)
    assert auto.compressed_bytes <= ref.compressed_bytes
    # without FSST in the race, the dict candidate (admitted by the uniform
    # sample) must win over PLAIN/DLBA
    fast = encode_chunk(arr, policy="auto_fast", page_target_bytes=1 << 20)
    assert "RLE_DICTIONARY" in fast.encodings
    assert fast.compressed_bytes <= ref.compressed_bytes
    assert decode_chunk(auto).to_pylist() == arr.to_pylist()
    assert decode_chunk(fast).to_pylist() == arr.to_pylist()


def test_flba_unique_uuids_fallback():
    import uuid

    vals = [uuid.UUID(int=i * 7919).bytes for i in range(3000)]
    arr = pa.array(vals, type=pa.binary(16))
    ref = encode_chunk(arr, policy="reference", page_target_bytes=2048)
    auto = encode_chunk(arr, policy="auto", page_target_bytes=2048)
    assert decode_chunk(ref).to_pylist() == vals
    assert decode_chunk(auto).to_pylist() == vals
    assert auto.compressed_bytes <= ref.compressed_bytes


@pytest.mark.parametrize("policy", ["auto", "plain", "reference", "dict"])
def test_list_roundtrip_policies(policy):
    arr = pa.array(
        [[1.0, 2.0], None, [], [3.0, None, 4.0], [5.0]] * 40, type=pa.list_(pa.float32())
    )
    chunk = encode_chunk(arr, policy=policy, page_target_bytes=64)
    assert chunk.max_rep == 1
    # optional list + repeated + optional element -> max_def 3
    assert chunk.max_def == 3 and chunk.elem_nullable
    assert chunk.logical == "list<float>"
    assert decode_chunk(chunk).to_pylist() == arr.to_pylist()


@pytest.mark.parametrize(
    "vals,typ",
    [
        ([[1, 2, 3], [4], [], [5, 6]], pa.list_(pa.int64())),
        ([["ab", "cd"], None, ["x"], []], pa.list_(pa.string())),
        ([[b"aa"], [b"bb", b"cc"]], pa.list_(pa.binary())),
        ([[True, None], [False]], pa.list_(pa.bool_())),
        ([], pa.list_(pa.float64())),
        ([None, None], pa.list_(pa.int32())),
        ([[1.5, 2.5]] * 1000, pa.list_(pa.float64())),
    ],
)
def test_list_roundtrip_types(vals, typ):
    arr = pa.array(vals, type=typ)
    chunk = encode_chunk(arr, policy="auto", page_target_bytes=256)
    assert decode_chunk(chunk).to_pylist() == arr.to_pylist()


def test_list_level_streams_match_reference_semantics():
    # record_reader.hh:469-505 contract on a hand-checked example:
    # [[a], NULL, [], [b, NULL]] with optional list + optional element =>
    # def = {3, 0, 1, 3, 2}, rep = {0, 0, 0, 0, 1}
    from parquet4seastar_spark.codecs.levels import decode_levels_v1

    arr = pa.array([[1.0], None, [], [2.0, None]], type=pa.list_(pa.float64()))
    chunk = encode_chunk(arr, policy="plain", page_target_bytes=1 << 20)
    page = next(p for p in chunk.pages if p.kind == "data")
    rep, c1 = decode_levels_v1(page.data, 1, page.num_values)
    deflv, _ = decode_levels_v1(page.data[c1:], 3, page.num_values)
    assert rep.tolist() == [0, 0, 0, 0, 1]
    assert deflv.tolist() == [3, 0, 1, 3, 2]


@pytest.mark.parametrize(
    "typ", [pa.decimal128(7, 2), pa.decimal128(15, 3), pa.decimal128(25, 4)]
)
@pytest.mark.parametrize("depth", [1, 2])
def test_list_decimal_content_sha_matches_lineage(typ, depth):
    # the lineage audit recomputes chunk_content_sha over the decoded chunk:
    # it must hash the same physical (unscaled) decimal values the encoder
    # hashed, or every list<decimal> chunk audits as corrupt
    import decimal

    from parquet4seastar_spark.codecs.pages import chunk_content_sha

    d = decimal.Decimal
    vals = [[d("1.50"), None, d("-3.25")], None, [], [d("0.01")]] * 10
    t = pa.list_(typ)
    if depth == 2:
        vals, t = [vals[:3], None, [], vals[3:7]], pa.list_(t)
    arr = pa.array(vals, type=t)
    chunk = encode_chunk(arr, policy="plain")
    assert chunk_content_sha(arr) == chunk.sha256
    assert chunk_content_sha(decode_chunk(chunk)) == chunk.sha256


def test_flat_nullable_false_over_nulls_raises():
    # a REQUIRED column has no def level to record a null in
    with pytest.raises(ValueError, match="'<root>' is REQUIRED"):
        encode_chunk(pa.array([1, None, 3], type=pa.int64()), nullable=False)


def test_list_nullable_false_over_null_rows_raises():
    # a REQUIRED list cannot tell a null row from an empty one
    arr = pa.array([[1, None, 3], None, [4]], type=pa.list_(pa.int64()))
    with pytest.raises(ValueError, match="'<root>' is REQUIRED"):
        encode_chunk(arr, nullable=False)


def test_list_elem_nullable_false_over_null_elements_raises():
    # a REQUIRED element has no def level for a null element
    arr = pa.array([[1, None, 3], None, [4]], type=pa.list_(pa.int64()))
    with pytest.raises(ValueError, match="'l' is REQUIRED"):
        encode_chunk(arr, elem_nullable=False)


def test_list_dict_fallback_and_fsst():
    # string elements: low-card -> dict; repetitive text -> FSST under auto
    arr = pa.array([["py", "c", "py"], ["go"], ["py", "c"]] * 500, type=pa.list_(pa.string()))
    chunk = encode_chunk(arr, policy="auto", page_target_bytes=1 << 14)
    assert decode_chunk(chunk).to_pylist() == arr.to_pylist()
    assert chunk.compressed_bytes < chunk.input_bytes


@pytest.mark.parametrize(
    "p,s,expected_ptype",
    [(7, 2, "INT32"), (12, 2, "INT64"), (18, 0, "INT64"), (25, 4, "FIXED_LEN_BYTE_ARRAY"),
     (38, 10, "FIXED_LEN_BYTE_ARRAY")],
)
def test_decimal_roundtrip_physical_mappings(p, s, expected_ptype):
    # DECIMAL annotates INT32 (p<=9), INT64 (p<=18) or minimal-width FLBA
    # big-endian two's complement (logical_type.cc:94-115)
    from decimal import Decimal

    import random

    rnd = random.Random(7)
    digits = p - s
    vals = []
    for i in range(500):
        if i % 11 == 0:
            vals.append(None)
        else:
            whole = rnd.randint(-(10**min(digits, 15) - 1), 10**min(digits, 15) - 1)
            frac = rnd.randint(0, 10**s - 1) if s else 0
            vals.append(Decimal(f"{whole}.{frac:0{s}d}" if s else str(whole)))
    arr = pa.array(vals, type=pa.decimal128(p, s))
    for policy in ["auto", "plain", "reference"]:
        chunk = encode_chunk(arr, policy=policy, page_target_bytes=512)
        assert chunk.ptype == expected_ptype
        assert chunk.logical == f"decimal({p},{s})"
        assert decode_chunk(chunk).to_pylist() == vals, policy



def _dremel_roundtrip(arr, policy="auto", page_target_bytes=256):
    """Encode ANY nested shape through the ONE recursive walker's page
    path and decode it back (engine-equivalent nested codec route)."""
    from parquet4seastar_spark.codecs.pages import (
        decode_column,
        encode_column,
    )

    ch = encode_column(arr, policy=policy, page_target_bytes=page_target_bytes)
    out = decode_column(ch)
    if out.type != arr.type:
        out = out.cast(arr.type)
    out.validate(full=True)
    return out, ch


def test_struct_roundtrip_mirrors_file_writer_test():
    # file_writer_test.cc:61-130 analogue: struct-of-primitives with nulls at
    # both levels; def stream distinguishes struct-NULL (0) / field-NULL (1)
    # / value (2); every field chunk round-trips bit-identically
    vals = [
        {"a": 1, "b": "x", "c": 1.5},
        None,
        {"a": None, "b": "yy", "c": 2.5},
        {"a": 3, "b": None, "c": None},
    ] * 50
    arr = pa.array(
        vals, type=pa.struct([("a", pa.int64()), ("b", pa.string()), ("c", pa.float64())])
    )
    for policy in ["auto", "plain", "reference"]:
        out, ch = _dremel_roundtrip(arr, policy=policy, page_target_bytes=64)
        assert all(c.max_def == 2 for c in ch.values())
        assert out.to_pylist() == arr.to_pylist(), policy


def test_stats_nan_and_nul_edge_cases():
    # review findings: NaN must not poison numeric stats; zero-padding ties
    # (embedded NUL) must not raise the byte lower bound above the true min
    arr = pa.array([1.0, float("nan"), 2.0], type=pa.float64())
    c = encode_chunk(arr, policy="plain")
    assert c.stat_min_num is None and c.stat_max_num is None
    arr2 = pa.array([b"a\x00", b"a", b"zz"], type=pa.binary())
    c2 = encode_chunk(arr2, policy="plain")
    assert c2.stat_min_bin == b"a"  # not b'a\x00', which sorts above b'a'
    assert c2.stat_max_bin > b"zz"  # truncate-and-increment upper bound


def test_stats_widen_past_dbl_max_without_warning():
    # the one-ulp widening of a +-DBL_MAX bound overflows to +-inf: the
    # bound is right, and it must not warn (fatal under -W error)
    import warnings

    big = np.finfo(np.float64).max
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        hi = encode_chunk(pa.array([1.0, big]), policy="plain")
        lo = encode_chunk(pa.array([-big, 0.0]), policy="plain")
    assert (hi.stat_min_num, hi.stat_max_num) == (0.9999999999999999, float("inf"))
    assert (lo.stat_min_num, lo.stat_max_num) == (float("-inf"), 5e-324)


@pytest.mark.parametrize(
    "buf,n",
    [
        (b"\x01\x00", 1),  # under one length prefix
        (b"\x01\x00\x00\x00a\x02\x00", 2),  # the second length prefix cut short
        (b"\x05\x00\x00\x00ab", 1),  # a value running past the end
        (b"\x01\x00\x00\x00a", 2),  # fewer values than n
        (b"", 1),
    ],
    ids=["short", "cut_prefix", "overrun", "too_few", "empty"],
)
def test_plain_byte_array_decode_refuses_a_bad_buffer(buf, n):
    from parquet4seastar_spark.codecs.plain import plain_decode_byte_array

    with pytest.raises(ValueError, match="PLAIN byte-array"):
        plain_decode_byte_array(buf, n)


@pytest.mark.parametrize("arr", [pa.array(["a", "b", "a"]), pa.array([1, 2, 1], pa.int64())], ids=["str", "int"])
def test_dictionary_data_page_without_its_dictionary_is_refused(arr):
    # a stored chunk (or a foreign file) can lose its dictionary page
    chunk = encode_chunk(arr, policy="dict")
    assert chunk.pages[0].kind == "dict"
    orphan = dataclasses.replace(chunk, pages=chunk.pages[1:])
    with pytest.raises(ValueError, match="^RLE_DICTIONARY data page before any dictionary page$"):
        decode_chunk(orphan)


@pytest.mark.parametrize(
    "vals,typ",
    [
        ([[b"abcd", None], [b"efgh"]], pa.list_(pa.binary(4))),
        ([[__import__("decimal").Decimal("1.50"), None]] * 5, pa.list_(pa.decimal128(7, 2))),
        ([[__import__("decimal").Decimal("1.5000")] * 3] * 5, pa.list_(pa.decimal128(25, 4))),
        ([[__import__("datetime").date(2024, 1, 2)]] * 4, pa.list_(pa.date32())),
    ],
)
def test_list_exotic_element_types(vals, typ):
    # review finding: encode accepted these but decode crashed (KeyError)
    arr = pa.array(vals, type=typ)
    chunk = encode_chunk(arr, policy="plain", page_target_bytes=64)
    assert decode_chunk(chunk).to_pylist() == arr.to_pylist()



def test_struct_deep_nested_fields_supported():
    # three repetition levels under a struct: formerly fail-fast in the
    # shape-enumerated paths, now just another walk for the recursive
    # shredder (the guards are gone)
    ok = pa.array(
        [{"a": 1, "tags": [1, 2]}, {"a": 2, "tags": []}],
        type=pa.struct([("a", pa.int64()), ("tags", pa.list_(pa.int64()))]),
    )
    out, _ = _dremel_roundtrip(ok)
    assert out.to_pylist() == ok.to_pylist()
    deep = pa.array(
        [{"m": [[[1]], []]}, {"m": None}, None],
        type=pa.struct([("m", pa.list_(pa.list_(pa.list_(pa.int64()))))]),
    )
    out2, _ = _dremel_roundtrip(deep)
    assert out2.to_pylist() == deep.to_pylist()


def test_list_of_list_roundtrip():
    # two repetition levels (max_rep = 2): def distinguishes null/empty at
    # BOTH list levels plus element nulls (max_def = 5)
    t = pa.list_(pa.list_(pa.int64()))
    cases = [
        [[[1, 2], [3]], None, [], [None, [], [4, None, 5]]],
        [None, None],
        [],
        [[[None]]],
        [[[]]],
        [[], [None], [[]]],
    ]
    for vals in cases:
        arr = pa.array(vals, type=t)
        for policy in ["auto", "plain", "reference"]:
            chunk = encode_chunk(arr, policy=policy, page_target_bytes=32)
            assert chunk.max_rep == 2
            out = decode_chunk(chunk)
            out.validate(full=True)
            assert out.to_pylist() == arr.to_pylist(), (vals, policy)
    # string elements through dict/FSST candidates + sliced input
    arr = pa.array([[["a", "bb"], None], [["a"]], None] * 200, type=pa.list_(pa.list_(pa.string())))
    chunk = encode_chunk(arr, policy="auto", page_target_bytes=512)
    assert decode_chunk(chunk).to_pylist() == arr.to_pylist()
    sl = arr.slice(5, 400)
    assert decode_chunk(encode_chunk(sl, policy="plain")).to_pylist() == sl.to_pylist()



def test_list3_roundtrip():
    # list<list<list<T>>>: THREE repetition levels in ONE leaf stream
    # (max_rep = 3) through the recursive walker
    t = pa.list_(pa.list_(pa.list_(pa.int64())))
    cases = [
        [[[1, 2], [3]], [[4]], []],
        None,
        [],
        [None, [[5, None], []], [[]]],
        [[None]],
    ] * 40
    arr = pa.array(cases, type=t)
    for policy in ["plain", "auto", "reference"]:
        out, ch = _dremel_roundtrip(arr, policy=policy)
        (leaf,) = ch.values()
        assert leaf.max_rep == 3
        assert out.to_pylist() == arr.to_pylist(), policy
    sl = arr.slice(3, 150)
    out2, _ = _dremel_roundtrip(pa.concat_arrays([sl]), policy="plain")
    assert out2.to_pylist() == sl.to_pylist()
    # strings through dict/FSST candidates
    ts = pa.list_(pa.list_(pa.list_(pa.string())))
    s = pa.array(
        [[[["a", "bb"], ["c"]], [["d"]]], None, [[[]]], [[None, ["e"]]]] * 30, type=ts
    )
    out3, _ = _dremel_roundtrip(s, policy="auto", page_target_bytes=512)
    assert out3.to_pylist() == s.to_pylist()



def test_struct_list_chunk_roundtrip():
    # list<struct<...>> (token spans): per-field leaf streams, null struct
    # elements one def below the field levels
    t = pa.list_(pa.struct([("tok", pa.string()), ("pos", pa.int32())]))
    vals = [
        [{"tok": "a", "pos": 0}, {"tok": "bb", "pos": 1}],
        None,
        [],
        [None, {"tok": "c", "pos": 0}],
    ] * 50
    arr = pa.array(vals, type=t)
    for policy in ["auto", "plain", "reference"]:
        out, _ = _dremel_roundtrip(arr, policy=policy, page_target_bytes=128)
        assert out.to_pylist() == arr.to_pylist(), policy
    # sliced input
    sl = pa.concat_arrays([arr.slice(3, 120)])
    out2, _ = _dremel_roundtrip(sl, policy="plain")
    assert out2.to_pylist() == sl.to_pylist()
    # a field null where its struct is present
    bad = pa.array([[{"tok": None, "pos": 1}]], type=t)
    out3, _ = _dremel_roundtrip(bad)
    assert out3.to_pylist() == bad.to_pylist()



def test_struct_list_optional_fields():
    # OPTIONAL field inside list<struct>: all-optional geometry gives the
    # leaf list(+2) + element struct(+1) + field(+1) = max_def 4
    t = pa.list_(pa.struct([("tok", pa.string()), ("attr", pa.int64())]))
    vals = [
        [{"tok": "a", "attr": 1}, {"tok": "b", "attr": None}],
        None,
        [],
        [{"tok": "c", "attr": 3}, None, {"tok": "d", "attr": None}],
        [{"tok": None, "attr": 7}],
    ] * 40
    arr = pa.array(vals, type=t)
    for policy in ["auto", "plain", "reference"]:
        out, ch = _dremel_roundtrip(arr, policy=policy)
        assert all(c.max_def == 4 for c in ch.values())
        assert out.to_pylist() == arr.to_pylist(), policy



def test_struct_list_nested_struct_fields():
    # array<struct<tok, attrs:struct<...>>> -- the tokenized-corpus shape
    # with per-span annotation structs; one def level per struct level
    # (reference: fully recursive record assembly, record_reader.hh:180-247)
    t = pa.list_(pa.struct([
        ("tok", pa.string()),
        ("attrs", pa.struct([("upos", pa.string()), ("feats", pa.int64())])),
    ]))
    vals = [
        [{"tok": "a", "attrs": {"upos": "N", "feats": 1}},
         {"tok": "b", "attrs": None}],
        None,
        [],
        [{"tok": "c", "attrs": {"upos": None, "feats": 3}},
         None,
         {"tok": None, "attrs": {"upos": "V", "feats": None}}],
    ] * 30
    arr = pa.array(vals, type=t)
    for policy in ["plain", "auto", "reference"]:
        out, ch = _dremel_roundtrip(arr, policy=policy)
        # tok: list(2) + struct(3) + field(4); attrs.*: one more struct level
        by_path = {c.logical.split("|")[0][2:]: c for c in ch.values()}
        assert by_path["l.stok"].max_def == 4
        assert by_path["l.sattrs.supos"].max_def == 5
        assert out.to_pylist() == arr.to_pylist(), policy
    sl = pa.concat_arrays([arr.slice(3, 90)])
    out2, _ = _dremel_roundtrip(sl)
    assert out2.to_pylist() == sl.to_pylist()



def test_struct_with_list_field():
    # LIST field inside struct(s): struct levels sit ABOVE the repeated one
    t = pa.struct([("a", pa.int64()), ("tags", pa.list_(pa.string()))])
    data = [
        {"a": 1, "tags": ["x", "y"]},
        None,                           # struct null (def 0)
        {"a": 2, "tags": None},         # list null (def 1)
        {"a": None, "tags": []},        # present but empty (def 2)
        {"a": 4, "tags": ["z", None]},  # element null (def 3) vs value (4)
    ] * 30
    arr = pa.array(data, type=t)
    for policy in ["plain", "auto"]:
        out, ch = _dremel_roundtrip(arr, policy=policy)
        by_path = {c.logical.split("|")[0][2:]: c for c in ch.values()}
        assert set(by_path) == {"sa", "stags.l"}
        assert by_path["stags.l"].max_def == 4 and by_path["stags.l"].max_rep == 1
        assert out.to_pylist() == arr.to_pylist(), policy
    # nested: the list under TWO struct levels
    t2 = pa.struct([("meta", pa.struct([("tags", pa.list_(pa.int64())), ("k", pa.int32())]))])
    d2 = [
        {"meta": {"tags": [1, 2], "k": 1}},
        {"meta": None},
        None,
        {"meta": {"tags": None, "k": 2}},
        {"meta": {"tags": [], "k": None}},
    ] * 20
    a2 = pa.array(d2, type=t2)
    out2, ch2 = _dremel_roundtrip(a2)
    by_path = {c.logical.split("|")[0][2:]: c for c in ch2.values()}
    assert by_path["smeta.stags.l"].max_def == 5  # 2 structs + list(2) + elem
    assert out2.to_pylist() == a2.to_pylist()



def test_struct_with_list_of_structs():
    # the full mixed tree: struct levels ABOVE the repeated level + struct
    # levels BELOW it in one leaf geometry
    t = pa.struct([
        ("a", pa.int64()),
        ("spans", pa.list_(pa.struct([("tok", pa.string()), ("pos", pa.int32())]))),
    ])
    data = [
        {"a": 1, "spans": [{"tok": "x", "pos": 0}, {"tok": "y", "pos": None}]},
        None,
        {"a": 2, "spans": None},
        {"a": None, "spans": []},
        {"a": 4, "spans": [None, {"tok": None, "pos": 2}]},
    ] * 30
    arr = pa.array(data, type=t)
    for policy in ["plain", "auto"]:
        out, ch = _dremel_roundtrip(arr, policy=policy)
        by_path = {c.logical.split("|")[0][2:]: c for c in ch.values()}
        assert set(by_path) == {"sa", "sspans.l.stok", "sspans.l.spos"}
        # struct(1) + list(3) + elem struct(4) + field(5)
        assert by_path["sspans.l.stok"].max_def == 5
        assert out.to_pylist() == arr.to_pylist(), policy
    # deep: struct<meta:struct<spans:list<struct<tok, attrs:struct<u>>>, k>>
    t2 = pa.struct([("meta", pa.struct([
        ("spans", pa.list_(pa.struct([
            ("tok", pa.string()),
            ("attrs", pa.struct([("u", pa.int64())])),
        ]))),
        ("k", pa.int32()),
    ]))])
    d2 = [
        {"meta": {"spans": [{"tok": "a", "attrs": {"u": 1}}, {"tok": "b", "attrs": None}], "k": 1}},
        {"meta": None},
        None,
        {"meta": {"spans": None, "k": 2}},
        {"meta": {"spans": [], "k": None}},
        {"meta": {"spans": [None, {"tok": None, "attrs": {"u": None}}], "k": 3}},
    ] * 20
    a2 = pa.array(d2, type=t2)
    out2, ch2 = _dremel_roundtrip(a2, page_target_bytes=512)
    by_path = {c.logical.split("|")[0][2:]: c for c in ch2.values()}
    assert by_path["smeta.sspans.l.sattrs.su"].max_def == 7
    assert out2.to_pylist() == a2.to_pylist()  # field order preserved too
    sl = pa.concat_arrays([a2.slice(3, 80)])
    out3, _ = _dremel_roundtrip(sl, policy="plain")
    assert out3.to_pylist() == sl.to_pylist()



def test_struct_with_list_of_lists_field():
    # list<list<prim>> field inside struct(s): one leaf with max_rep = 2
    t = pa.struct([("a", pa.int64()), ("m", pa.list_(pa.list_(pa.int64())))])
    data = [
        {"a": 1, "m": [[1, 2], [3]]},
        None,
        {"a": 2, "m": None},
        {"a": None, "m": []},
        {"a": 4, "m": [None, [], [5, None]]},
    ] * 30
    arr = pa.array(data, type=t)
    for policy in ["plain", "auto"]:
        out, ch = _dremel_roundtrip(arr, policy=policy)
        by_path = {c.logical.split("|")[0][2:]: c for c in ch.values()}
        assert by_path["sm.l.l"].max_rep == 2 and by_path["sm.l.l"].max_def == 6
        assert out.to_pylist() == arr.to_pylist(), policy
    sl = pa.concat_arrays([arr.slice(3, 90)])
    out2, _ = _dremel_roundtrip(sl, policy="plain")
    assert out2.to_pylist() == sl.to_pylist()
    # three repetition levels under a struct: supported (guards deleted)
    deep = pa.array(
        [{"m": [[[1]]]}, {"m": None}],
        type=pa.struct([("m", pa.list_(pa.list_(pa.list_(pa.int64()))))]),
    )
    out3, _ = _dremel_roundtrip(deep)
    assert out3.to_pylist() == deep.to_pylist()



def test_struct_of_struct_writer_levels():
    # recursive struct assembly (record_reader.hh:469-505;
    # file_writer.hh:50-81): every struct level is OPTIONAL (+1 def).  For
    # o.m.z under three struct levels, max_def = 4 and the def stream is
    # exactly the number of present levels -- the reference's writer-levels
    # rule.
    from parquet4seastar_spark.codecs.dremel import shred

    t3 = pa.struct([("o", pa.struct([("m", pa.struct([("z", pa.int64())]))]))])
    rows = [
        {"o": {"m": {"z": 1}}},  # def 4: value
        {"o": {"m": None}},      # def 2: m null
        {"o": None},             # def 1: o null
        None,                    # def 0: top struct null
        {"o": {"m": {"z": None}}},  # def 3: field null
    ]
    arr = pa.array(rows, type=t3)
    (leaf,) = shred(arr)
    assert leaf.path == "so.sm.sz" and leaf.max_def == 4
    assert leaf.def_.tolist() == [4, 2, 1, 0, 3]
    out, _ = _dremel_roundtrip(arr, policy="plain")
    assert out.to_pylist() == arr.to_pylist()
    # two-level mixed tree: primitives next to a nested struct
    t2 = pa.struct(
        [("a", pa.int64()), ("inner", pa.struct([("x", pa.string()), ("y", pa.int32())]))]
    )
    rows2 = [
        {"a": 1, "inner": {"x": "p", "y": 10}},
        None,
        {"a": None, "inner": None},
        {"a": 3, "inner": {"x": None, "y": 30}},
    ] * 30
    arr2 = pa.array(rows2, type=t2)
    for policy in ["auto", "plain"]:
        out2, ch2 = _dremel_roundtrip(arr2, policy=policy, page_target_bytes=128)
        by_path = {c.logical.split("|")[0][2:]: c for c in ch2.values()}
        assert by_path["sa"].max_def == 2 and by_path["sinner.sx"].max_def == 3
        assert out2.to_pylist() == arr2.to_pylist(), policy



def test_sliced_nested_arrays_roundtrip():
    # arrow slices carry parent offsets; every nested path must rebase them
    from decimal import Decimal

    sarr = pa.array(
        [{"a": i, "b": str(i)} if i % 3 else None for i in range(100)],
        type=pa.struct([("a", pa.int64()), ("b", pa.string())]),
    ).slice(10, 50)
    out, _ = _dremel_roundtrip(sarr)
    assert out.to_pylist() == sarr.to_pylist()

    marr = pa.array(
        [{f"k{i}": i} if i % 4 else None for i in range(100)],
        type=pa.map_(pa.string(), pa.int64()),
    ).slice(7, 60)
    out2, _ = _dremel_roundtrip(marr)
    assert out2.to_pylist() == marr.to_pylist()

    larr = pa.array(
        [[float(i), float(i + 1)] if i % 5 else None for i in range(100)],
        type=pa.list_(pa.float64()),
    ).slice(3, 80)
    assert decode_chunk(encode_chunk(larr)).to_pylist() == larr.to_pylist()

    darr = pa.array(
        [Decimal(f"{i}.25") if i % 2 else None for i in range(100)], type=pa.decimal128(10, 2)
    ).slice(5, 60)
    assert decode_chunk(encode_chunk(darr)).to_pylist() == darr.to_pylist()



def test_map_struct_values_roundtrip():
    # map<k, struct<...>>: per-field value leaves sharing the map offsets
    t = pa.map_(pa.string(), pa.struct([("score", pa.int64()), ("tag", pa.string())]))
    data = [
        [("a", {"score": 1, "tag": "x"}), ("b", {"score": None, "tag": "y"})],
        None,
        [],
        [("c", None), ("d", {"score": 4, "tag": None})],
    ] * 25
    arr = pa.array(data, type=t)
    for policy in ["plain", "auto"]:
        out, ch = _dremel_roundtrip(arr, policy=policy)
        by_path = {c.logical.split("|")[0][2:]: c for c in ch.values()}
        assert set(by_path) == {"k", "v.sscore", "v.stag"}
        assert out.to_pylist() == arr.to_pylist(), policy
    sl = pa.concat_arrays([arr.slice(3, 70)])
    out2, _ = _dremel_roundtrip(sl, policy="plain")
    assert out2.to_pylist() == sl.to_pylist()



def test_map_list_values_roundtrip():
    # map<k, list<T>>: the value side is a rep-2 leaf over the map offsets
    t = pa.map_(pa.string(), pa.list_(pa.int64()))
    data = [
        [("a", [1, 2]), ("b", [])],
        None,
        [],
        [("c", None), ("d", [3, None])],
    ] * 30
    arr = pa.array(data, type=t)
    for policy in ["plain", "auto"]:
        out, ch = _dremel_roundtrip(arr, policy=policy)
        by_path = {c.logical.split("|")[0][2:]: c for c in ch.values()}
        assert by_path["v.l"].max_rep == 2
        assert out.to_pylist() == arr.to_pylist(), policy
    # deeper nesting under the value: supported (guards deleted)
    deep = pa.array(
        [[("k", [[1]])], None], type=pa.map_(pa.string(), pa.list_(pa.list_(pa.int64())))
    )
    out2, _ = _dremel_roundtrip(deep)
    assert out2.to_pylist() == deep.to_pylist()



def test_map_chunk_roundtrip():
    # map<k,v> via key/value leaves with shared offsets (all-optional
    # internal geometry: key leaf max_def = 3; export marks keys REQUIRED)
    vals = [{"a": 1, "b": 2}, None, {}, {"c": 3}, {"d": None}] * 100
    arr = pa.array(vals, type=pa.map_(pa.string(), pa.int64()))
    for policy in ["auto", "plain", "reference"]:
        out, ch = _dremel_roundtrip(arr, policy=policy)
        by_path = {c.logical.split("|")[0][2:]: c for c in ch.values()}
        assert by_path["k"].max_def == 3 and by_path["v"].max_def == 3
        assert out.to_pylist() == arr.to_pylist(), policy


def _declare_bit_packed_levels(path, rep: bool) -> None:
    """Rewrite the V1 data page header of a one-page, one-column pyarrow
    file to declare BIT_PACKED definition (and, if ``rep``, repetition)
    levels; the level bytes stay RLE."""
    import pyarrow.parquet as pq

    off = pq.ParquetFile(path).metadata.row_group(0).column(0).data_page_offset
    buf = bytearray(path.read_bytes())
    # DataPageHeader fields 2-4: PLAIN values, RLE def, RLE rep (zigzag 0, 3, 3)
    old = b"\x15\x00\x15\x06\x15\x06"
    assert buf.count(old, off, off + 64) == 1
    at = buf.index(old, off)
    buf[at : at + 6] = b"\x15\x00\x15\x08\x15" + (b"\x08" if rep else b"\x06")  # 4 = BIT_PACKED
    path.write_bytes(bytes(buf))


def test_reader_refuses_non_rle_levels(tmp_path):
    import pyarrow.parquet as pq

    from parquet4seastar_spark.codecs.parquet_file import ParquetFileReader

    vals = [None if i % 7 == 0 else i for i in range(100)]
    path = tmp_path / "opt.parquet"
    pq.write_table(pa.table({"c": pa.array(vals, pa.int64())}), path, use_dictionary=False, compression="NONE")
    _declare_bit_packed_levels(path, rep=False)
    with pytest.raises(ValueError, match="c: definition levels declared BIT_PACKED"):
        ParquetFileReader(path).read_column("c")
    # a required column has no level streams: BIT_PACKED is declared for absent ones
    path = tmp_path / "req.parquet"
    schema = pa.schema([pa.field("c", pa.int64(), nullable=False)])
    pq.write_table(pa.table({"c": list(range(100))}, schema=schema), path, use_dictionary=False, compression="NONE")
    _declare_bit_packed_levels(path, rep=True)
    assert ParquetFileReader(path).read_column("c").to_pylist() == list(range(100))


def test_nested_level_sequences():
    # file_writer_test.cc:100-115 level semantics: map<string,int32> column
    # with row1 all-null (def=0) and row2 two entries (def=2, rep={0,1});
    # max_def=2, max_rep=1 -> widths 2 and 1
    from parquet4seastar_spark.codecs.levels import decode_levels_v1, encode_levels_v1

    def_levels = np.array([0, 2, 2], dtype=np.uint64)  # row1 null, row2 two entries
    rep_levels = np.array([0, 0, 1], dtype=np.uint64)
    enc_def = encode_levels_v1(def_levels, 2)
    enc_rep = encode_levels_v1(rep_levels, 1)
    out_def, _ = decode_levels_v1(enc_def, 2, 3)
    out_rep, _ = decode_levels_v1(enc_rep, 1, 3)
    assert out_def.tolist() == [0, 2, 2]
    assert out_rep.tolist() == [0, 0, 1]
    # list<struct<float,double>> second row [null, struct]: def={2,3}, rep={0,1}
    d2 = np.array([2, 3], dtype=np.uint64)
    enc2 = encode_levels_v1(d2, 3)
    out2, _ = decode_levels_v1(enc2, 3, 2)
    assert out2.tolist() == [2, 3]


# ---- equality-pruning bloom filters ---------------------------------------


class TestBloom:
    def test_scalar_vector_hash_parity(self):
        import numpy as np

        from parquet4seastar_spark.codecs import bloom

        rng = np.random.default_rng(3)
        vals = [bytes(rng.integers(0, 256, rng.integers(0, 40))) for _ in range(200)]
        lengths = np.array([len(v) for v in vals], dtype=np.int64)
        payload = np.frombuffer(b"".join(vals), dtype=np.uint8)
        h1, h2 = bloom.bytes_hashes(lengths, payload)
        for i, v in enumerate(vals):
            s1, s2 = bloom.scalar_hashes(v)
            assert (int(h1[i]), int(h2[i])) == (s1, s2), i
        ints = rng.integers(-(2**62), 2**62, 100)
        i1, i2 = bloom.int_hashes(ints)
        for i, v in enumerate(ints.tolist()):
            s1, s2 = bloom.scalar_hashes(v)
            assert (int(i1[i]), int(i2[i])) == (s1, s2), i

    def test_membership_and_fpr(self):
        import numpy as np

        from parquet4seastar_spark.codecs import bloom

        vals = [f"key-{i}".encode() for i in range(5000)]
        lengths = np.array([len(v) for v in vals], dtype=np.int64)
        payload = np.frombuffer(b"".join(vals), dtype=np.uint8)
        words = bloom.build_bloom(*bloom.bytes_hashes(lengths, payload))

        def present(v):
            return all(
                (int(words[b // 64]) >> (b % 64)) & 1 for b in bloom.probe_positions(v)
            )

        assert all(present(v) for v in vals)  # no false negatives, ever
        false_pos = sum(present(f"absent-{i}") for i in range(2000))
        assert false_pos < 40  # ~26 bits/key, k=6: FPR well under 2%

    def test_chunk_bloom_caps(self):
        import numpy as np
        import pyarrow as pa

        from parquet4seastar_spark.codecs import bloom
        from parquet4seastar_spark.codecs.pages import encode_chunk

        keyish = encode_chunk(pa.array([f"c{i:04d}" for i in range(500)]), policy="plain")
        assert keyish.bloom is not None and len(keyish.bloom) == bloom.BLOOM_WORDS
        longtext = encode_chunk(pa.array(["x" * 300] * 10), policy="plain")
        assert longtext.bloom is None  # value length over cap
        ints = encode_chunk(pa.array(np.arange(100, dtype=np.int64)), policy="plain")
        assert ints.bloom is not None
        floats = encode_chunk(pa.array(np.linspace(0, 1, 50)), policy="plain")
        assert floats.bloom is None  # no float blooms


def test_plain_ba_and_bloom_kernels_match_numpy():
    """r7 C kernels (PLAIN BYTE_ARRAY interleave, bloom FNV pair) must be
    byte/bit-identical to the numpy fallbacks."""
    import subprocess
    import sys

    import numpy as np

    from parquet4seastar_spark.codecs import _native
    from parquet4seastar_spark.codecs.bloom import bytes_hashes, scalar_hashes
    from parquet4seastar_spark.codecs.plain import (
        plain_decode_byte_array,
        plain_encode_byte_array,
    )

    rng = np.random.default_rng(13)
    blobs = []
    for _ in range(30):
        n = int(rng.integers(0, 200))
        lens = rng.integers(0, 60, n).astype(np.int64)
        payload = rng.integers(0, 256, int(lens.sum())).astype(np.uint8).tobytes()
        enc = plain_encode_byte_array(lens, payload)
        dl, dp = plain_decode_byte_array(enc, n)
        assert dl.tolist() == lens.tolist() and dp == payload
        pl = np.frombuffer(payload, dtype=np.uint8)
        h1, h2 = bytes_hashes(lens, pl)
        starts = np.zeros(n, dtype=np.int64)
        starts[1:] = np.cumsum(lens)[:-1]
        for i in (rng.integers(0, n, 3) if n else []):
            s1, s2 = scalar_hashes(bytes(pl[starts[i] : starts[i] + lens[i]]))
            assert int(h1[i]) == s1 and int(h2[i]) == s2
        blobs.append((lens.tolist(), payload.hex(), enc.hex(),
                      h1.tolist(), h2.tolist()))
    if _native.get_kernel() is None:
        return  # numpy path just exercised above
    # replay the same inputs under P4S_NO_NATIVE and require identical bytes
    import json
    import os

    code = (
        "import json,sys,numpy as np\n"
        "from parquet4seastar_spark.codecs.plain import plain_encode_byte_array\n"
        "from parquet4seastar_spark.codecs.bloom import bytes_hashes\n"
        "for lens, pl_hex, enc_hex, h1, h2 in json.load(sys.stdin):\n"
        "    lens = np.array(lens, dtype=np.int64)\n"
        "    payload = bytes.fromhex(pl_hex)\n"
        "    assert plain_encode_byte_array(lens, payload).hex() == enc_hex\n"
        "    a, b = bytes_hashes(lens, np.frombuffer(payload, dtype=np.uint8))\n"
        "    assert a.tolist() == h1 and b.tolist() == h2\n"
        "print('PARITY')\n"
    )
    env = dict(os.environ, P4S_NO_NATIVE="1")
    r = subprocess.run(
        [sys.executable, "-c", code], input=json.dumps(blobs), text=True,
        capture_output=True, env=env, cwd="/root/repo",
    )
    assert "PARITY" in r.stdout, r.stderr


def test_ba_stats_kernel_matches_numpy():
    """r7 C chunk-stats scan must reproduce the numpy path's exact
    min/max prefixes (tie rules included) and keep bounds conservative."""
    import json
    import os
    import subprocess
    import sys

    import numpy as np

    from parquet4seastar_spark.codecs import _native
    from parquet4seastar_spark.codecs.pages import EncodedChunk, _chunk_stats

    def stats_of(vals):
        lengths = np.array([len(v) for v in vals], dtype=np.int64)
        payload = np.frombuffer(b"".join(vals), dtype=np.uint8)
        ch = EncodedChunk(
            ptype="BYTE_ARRAY", logical="string", nullable=False,
            num_rows=len(vals), num_nulls=0, cardinality=0, encodings=[],
            compression="u", type_length=0, input_bytes=0,
        )
        _chunk_stats(ch, "BYTE_ARRAY", None, lengths, payload)
        return ch.stat_min_bin, ch.stat_max_bin

    rng = np.random.default_rng(37)
    cases = [
        [b"banana", b"apple", b"cherry"],
        [b"a", b"a\x00", b"a\x00\x00", b"ab"],
        [b"", b"x", b""],
        [b"\xff" * 20, b"zz"],
        [b"same"] * 10,
    ]
    for _ in range(60):
        n = int(rng.integers(1, 40))
        cases.append(
            [bytes(rng.integers(0, 256, rng.integers(0, 30)).astype(np.uint8)) for _ in range(n)]
        )
    blobs = []
    for vals in cases:
        mn, mx = stats_of(vals)
        for v in vals:
            assert mn is None or mn <= v
            # all-empty chunks use exact inclusive degenerate bounds (b"")
            assert mx is None or mx > v or (mx == b"" and v == b"")
        blobs.append(
            ([v.hex() for v in vals],
             None if mn is None else mn.hex(),
             None if mx is None else mx.hex())
        )
    if _native.get_kernel() is None:
        return
    code = (
        "import json,sys,numpy as np\n"
        "from parquet4seastar_spark.codecs.pages import _chunk_stats, EncodedChunk\n"
        "for vals_hex, mn_hex, mx_hex in json.load(sys.stdin):\n"
        "    vals=[bytes.fromhex(h) for h in vals_hex]\n"
        "    lengths=np.array([len(v) for v in vals],dtype=np.int64)\n"
        "    payload=np.frombuffer(b''.join(vals),dtype=np.uint8)\n"
        "    ch=EncodedChunk(ptype='BYTE_ARRAY',logical='string',nullable=False,num_rows=len(vals),num_nulls=0,cardinality=0,encodings=[],compression='u',type_length=0,input_bytes=0)\n"
        "    _chunk_stats(ch,'BYTE_ARRAY',None,lengths,payload)\n"
        "    assert (None if ch.stat_min_bin is None else ch.stat_min_bin.hex()) == mn_hex\n"
        "    assert (None if ch.stat_max_bin is None else ch.stat_max_bin.hex()) == mx_hex\n"
        "print('PARITY')\n"
    )
    env = dict(os.environ, P4S_NO_NATIVE="1")
    r = subprocess.run(
        [sys.executable, "-c", code], input=json.dumps(blobs), text=True,
        capture_output=True, env=env, cwd="/root/repo",
    )
    assert "PARITY" in r.stdout, r.stderr
