"""Real-Parquet container interop (codecs/parquet_file.py).

Tier-3 parity with the reference: its golden alltypes fixtures (consumed
by cql_reader_alltypes_test.cc:32-94; built here from the golden text by
test_cql_dump.write_alltypes_fixture, and read from a reference checkout
where one is present) are read by OUR reader and compared against
pyarrow's reading of the same files; and files written by OUR writer are
read back by pyarrow (independent implementation) and by our own reader.
"""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from parquet4seastar_spark.codecs.pages import encode_chunk
from parquet4seastar_spark.codecs.parquet_file import ParquetFileReader, write_parquet_file
from parquet4seastar_spark.codecs.thrift_compact import CompactReader, CompactWriter
from test_cql_dump import ALLTYPES, alltypes_path


def test_thrift_compact_roundtrip():
    w = CompactWriter()
    w.field_i32(1, -42)
    w.field_i64(3, 1 << 40)
    w.field_string(4, "hello")
    w.field_bool(5, True)
    w.begin_field_struct(7)
    w.field_i32(1, 7)
    w.end_struct()
    w.begin_field_list(8, 5, 3)  # list<i32>
    for v in (10, -20, 30):
        w.elem_i32(v)
    buf = w.finish()
    out = CompactReader(buf).read_struct()
    assert out == {1: -42, 3: 1 << 40, 4: b"hello", 5: True, 7: {1: 7}, 8: [10, -20, 30]}


@pytest.mark.parametrize("source", ["built", "reference"])
@pytest.mark.parametrize("name", ALLTYPES)
def test_read_reference_golden_fixtures(name, source, tmp_path):
    # every top-level column of each alltypes fixture, read by our reader
    # and by pyarrow's
    path = alltypes_path(source, name, tmp_path)
    ref = pq.read_table(path)
    r = ParquetFileReader(path)
    assert r.num_rows == ref.num_rows
    names = [n["el"][4] for n in r.schema]
    assert names == ref.column_names
    for c in names:
        ours, exp = r.read_column(c), ref.column(c).combine_chunks()
        if pa.types.is_null(exp.type):  # LogicalType UNKNOWN: always null
            assert ours.null_count == len(ours), c
        elif ours.type == pa.binary(12) and pa.types.is_timestamp(exp.type):
            # INT96: pyarrow reads a timestamp, we keep the opaque 12 bytes
            assert len(ours) == len(exp), c
        else:
            # the unsafe cast applies the logical type pyarrow reads (255
            # stored as -1 -> uint8 255, int64 -> timestamp, int32 -> time)
            assert ours.cast(exp.type, safe=False).to_pylist() == exp.to_pylist(), c


def test_write_parquet_pyarrow_reads_it(tmp_path):
    tbl = pq.read_table("/root/testdata/sf0.01/documents.parquet")
    cols = ["doc_id", "text", "lang", "n_chars"]
    chunks = {
        c: encode_chunk(tbl.column(c).combine_chunks(), policy="auto_fast", page_target_bytes=1 << 15)
        for c in cols
    }
    # the interop file exercises PLAIN, RLE_DICTIONARY and the DELTA codecs
    encs = {e for c in chunks.values() for e in c.encodings}
    assert "RLE_DICTIONARY" in encs
    path = str(tmp_path / "ours.parquet")
    write_parquet_file(path, chunks, tbl.num_rows)
    back = pq.read_table(path)  # independent reader
    assert back.num_rows == tbl.num_rows
    for c in cols:
        a = tbl.column(c).combine_chunks()
        b = back.column(c).combine_chunks()
        if b.type != a.type:
            b = b.cast(a.type)
        assert b.equals(a), c
    # and our own reader agrees
    r = ParquetFileReader(path)
    for c in cols:
        out = r.read_column(c)
        a = tbl.column(c).combine_chunks()
        if out.type != a.type:
            out = out.cast(a.type)
        assert out.to_pylist() == a.to_pylist(), c


def test_write_parquet_list_column(tmp_path):
    tbl = pq.read_table("/root/testdata/sf0.01/embeddings.parquet")
    chunks = {
        "vec_id": encode_chunk(tbl.column("vec_id").combine_chunks(), policy="auto_fast"),
        "embedding": encode_chunk(tbl.column("embedding").combine_chunks(), policy="plain"),
    }
    path = str(tmp_path / "emb.parquet")
    write_parquet_file(path, chunks, tbl.num_rows)
    back = pq.read_table(path)
    assert back.column("embedding").combine_chunks().cast(pa.list_(pa.float32())).equals(
        tbl.column("embedding").combine_chunks()
    )
    r = ParquetFileReader(path)
    out = r.read_column("embedding")
    assert out.to_pylist() == tbl.column("embedding").combine_chunks().to_pylist()


def test_write_delta_byte_array_pyarrow_reads(tmp_path):
    # front-coded column in a real parquet file, decoded by pyarrow
    vals = sorted(f"src/app/module_{i // 50:04d}/file_{i:06d}.py" for i in range(3000))
    arr = pa.array(vals, type=pa.string())
    chunk = encode_chunk(arr, policy="DELTA_BYTE_ARRAY")
    path = str(tmp_path / "dba.parquet")
    write_parquet_file(path, {"path": chunk}, len(vals))
    back = pq.read_table(path).column("path").combine_chunks()
    assert back.cast(pa.string()).to_pylist() == vals
    assert ParquetFileReader(path).read_column("path").cast(pa.string()).to_pylist() == vals


def test_multi_row_group_write_and_read(tmp_path):
    tbl = pq.read_table("/root/testdata/sf0.01/documents.parquet")
    cols = ["doc_id", "text", "lang"]
    groups, rows = [], []
    for lo, hi in [(0, 200), (200, 350), (350, 500)]:
        sl = tbl.slice(lo, hi - lo)
        groups.append(
            {c: encode_chunk(sl.column(c).combine_chunks(), policy="auto_fast") for c in cols}
        )
        rows.append(hi - lo)
    path = str(tmp_path / "multi.parquet")
    write_parquet_file(path, groups, rows)
    back = pq.read_table(path)
    assert back.num_rows == 500
    for c in cols:
        a = tbl.column(c).combine_chunks()
        b = back.column(c).combine_chunks()
        if b.type != a.type:
            b = b.cast(a.type)
        assert b.equals(a), c
    r = ParquetFileReader(path)
    assert len(r._groups) == 3
    for c in cols:
        out = r.read_column(c)
        a = tbl.column(c).combine_chunks()
        if out.type != a.type:
            out = out.cast(a.type)
        assert out.to_pylist() == a.to_pylist(), c


def test_read_pyarrow_multi_row_group(tmp_path):
    tbl = pq.read_table("/root/testdata/sf0.01/documents.parquet")
    path = str(tmp_path / "parg.parquet")
    pq.write_table(tbl, path, compression="snappy", use_dictionary=False,
                   row_group_size=120, data_page_version="1.0")
    r = ParquetFileReader(path)
    assert len(r._groups) > 1
    for c in ["doc_id", "text", "lang", "n_chars"]:
        out = r.read_column(c)
        a = tbl.column(c).combine_chunks()
        if out.type != a.type:
            out = out.cast(a.type)
        assert out.to_pylist() == a.to_pylist(), c


@pytest.mark.parametrize("comp", ["none", "snappy"])
def test_read_v2_data_pages(tmp_path, comp):
    # V2 page layout (reference reads both: column_chunk_reader.cc:80-111):
    # unprefixed RLE levels + separately-compressed values
    tbl = pq.read_table("/root/testdata/sf0.01/documents.parquet")
    path = str(tmp_path / "v2.parquet")
    pq.write_table(tbl, path, compression=comp, use_dictionary=False,
                   data_page_version="2.0", row_group_size=10**6)
    r = ParquetFileReader(path)
    for col in ["doc_id", "text", "lang", "n_chars"]:
        out = r.read_column(col)
        a = tbl.column(col).combine_chunks()
        if out.type != a.type:
            out = out.cast(a.type)
        assert out.to_pylist() == a.to_pylist(), col
    emb = pq.read_table("/root/testdata/sf0.01/embeddings.parquet")
    path2 = str(tmp_path / "v2emb.parquet")
    pq.write_table(emb.select(["vec_id", "embedding"]), path2, compression=comp,
                   use_dictionary=False, data_page_version="2.0", row_group_size=10**6)
    out = ParquetFileReader(path2).read_column("embedding")
    assert out.to_pylist() == emb.column("embedding").combine_chunks().to_pylist()


# literal-only snappy streams as the former pure-Python writer emitted
# them (one-byte literal tag; 60-tag with a one-byte length)
_LITERAL_ONLY_SNAPPY = [
    ("185c68656c6c6f20776f726c642c2068656c6c6f20776f726c64", b"hello world, hello world"),
    ("5ff05e" + bytes(range(32, 127)).hex(), bytes(range(32, 127))),
]


def test_snappy_codec_roundtrip():
    import os

    from parquet4seastar_spark.codecs.pages import _compress, _decompress

    for data in [b"", b"a", b"hello world" * 1000, os.urandom(65536), bytes(65536)]:
        assert _decompress(_compress(data, "snappy"), "snappy") == data
    # copy tags: repetitive input shrinks
    assert len(_compress(b"hello world" * 1000, "snappy")) < 1000
    # pages stored with the literal-only writer stay readable
    for hex_stream, data in _LITERAL_ONLY_SNAPPY:
        assert _decompress(bytes.fromhex(hex_stream), "snappy") == data


def test_read_pyarrow_snappy_file(tmp_path):
    # pyarrow's real snappy encoder emits copy tags (incl. overlapping runs);
    # our pure-python decoder must reproduce them exactly
    tbl = pq.read_table("/root/testdata/sf0.01/documents.parquet")
    path = str(tmp_path / "snappy.parquet")
    pq.write_table(tbl, path, compression="snappy", use_dictionary=False,
                   data_page_version="1.0", row_group_size=10**6)
    r = ParquetFileReader(path)
    for col in ["doc_id", "text", "lang", "n_chars"]:
        out = r.read_column(col)
        a = tbl.column(col).combine_chunks()
        if out.type != a.type:
            out = out.cast(a.type)
        assert out.to_pylist() == a.to_pylist(), col


def test_write_snappy_file_pyarrow_reads(tmp_path):
    tbl = pq.read_table("/root/testdata/sf0.01/documents.parquet")
    chunks = {
        c: encode_chunk(tbl.column(c).combine_chunks(), policy="auto_fast", compression="snappy")
        for c in ["doc_id", "text", "lang"]
    }
    path = str(tmp_path / "ours_snappy.parquet")
    write_parquet_file(path, chunks, tbl.num_rows)
    back = pq.read_table(path)
    for c in chunks:
        a = tbl.column(c).combine_chunks()
        b = back.column(c).combine_chunks()
        if b.type != a.type:
            b = b.cast(a.type)
        assert b.equals(a), c


def test_multi_row_group_rejects_geometry_mismatch(tmp_path):
    # review finding: a column null-free in group 0 but nullable in group 1
    # would write a REQUIRED schema over def-prefixed pages -> corrupt file
    a0 = encode_chunk(pa.array([1, 2, 3], type=pa.int64()), policy="plain")
    a1 = encode_chunk(pa.array([4, None, 6], type=pa.int64()), policy="plain")
    with pytest.raises(ValueError, match="geometry"):
        write_parquet_file(str(tmp_path / "x.parquet"), [{"x": a0}, {"x": a1}], [3, 3])
    # explicit nullable=True on both slices is the supported shape
    b0 = encode_chunk(pa.array([1, 2, 3], type=pa.int64()), policy="plain", nullable=True)
    path = str(tmp_path / "ok.parquet")
    write_parquet_file(path, [{"x": b0}, {"x": a1}], [3, 3])
    assert pq.read_table(path).column("x").to_pylist() == [1, 2, 3, 4, None, 6]


def test_snappy_rejects_truncated_stream():
    from parquet4seastar_spark.codecs.pages import _compress, _decompress

    streams = [_compress(b"hello world, hello world", "snappy")]
    streams += [bytes.fromhex(h) for h, _ in _LITERAL_ONLY_SNAPPY]
    for data in streams:
        with pytest.raises(ValueError):
            _decompress(data[: len(data) - 3], "snappy")
        # EVERY truncation point must raise ValueError (never pyarrow's
        # OSError, never a short or garbage-padded result)
        for cut in range(len(data)):
            with pytest.raises(ValueError):
                _decompress(data[:cut], "snappy")
    # a preamble that disagrees with the stream is corrupt too
    with pytest.raises(ValueError):
        _decompress(b"\x19" + streams[1][1:], "snappy")


def test_boolean_rle_interop_both_directions(tmp_path):
    # interop-fuzz finding: RLE-encoded boolean DATA values carry a u32-LE
    # length prefix per the spec.  pyarrow writes booleans that way in V2
    # pages (we must read them), and expects it when reading our exports.
    vals = [True, False, None] * 67 + [True] * 100
    arr = pa.array(vals, type=pa.bool_())
    pa_path = str(tmp_path / "pa_bool.parquet")
    pq.write_table(pa.table({"b": arr}), pa_path, data_page_version="2.0",
                   use_dictionary=False, compression="none", row_group_size=50)
    out = ParquetFileReader(pa_path).read_column("b")
    assert out.to_pylist() == vals
    # our RLE-bool export read by pyarrow
    chunk = encode_chunk(arr, policy="RLE")
    assert chunk.encodings == ["RLE"]
    our_path = str(tmp_path / "our_bool.parquet")
    write_parquet_file(our_path, {"b": chunk}, len(arr))
    assert pq.read_table(our_path).column("b").to_pylist() == vals



def test_write_parquet_rejects_engine_internal_def_levels(tmp_path):
    # a raw dremel leaf passed as a flat column spec would write a
    # level-mismatched (corrupt) file: its max_def counts the struct level
    # the flat schema lacks, so the writer's level check refuses it
    from parquet4seastar_spark.codecs.pages import encode_column

    sarr = pa.array(
        [{"x": 1}, None, {"x": None}, {"x": 4}],
        type=pa.struct([("x", pa.int64())]),
    )
    leaves = encode_column(sarr, policy="plain")
    (leaf,) = leaves.values()
    assert leaf.max_def == 2 and leaf.max_rep == 0
    with pytest.raises(ValueError, match="does not match its schema leaf"):
        write_parquet_file(str(tmp_path / "a.parquet"), {"x": leaf}, len(sarr))


def test_write_parquet_rejects_chunk_levels_off_the_schema(tmp_path):
    # one check covers every column: a list chunk whose max_def is one
    # above its schema leaf's names the leaf path and both level pairs
    import dataclasses

    arr = pa.array([[1, None], None, [], [3]], type=pa.list_(pa.int64()))
    chunk = encode_chunk(arr, policy="plain")
    assert (chunk.max_def, chunk.max_rep) == (3, 1)
    bad = dataclasses.replace(chunk, max_def=4)
    with pytest.raises(ValueError) as err:
        write_parquet_file(str(tmp_path / "x.parquet"), {"l": bad}, len(arr))
    msg = str(err.value)
    assert "('l', 'list', 'element')" in msg
    assert "(max_def=4, max_rep=1)" in msg and "(max_def=3, max_rep=1)" in msg


def test_write_parquet_derives_unset_max_def_from_nullable(tmp_path):
    # max_def = -1 means "derive from nullable" (a pages frame without
    # max_def rebuilds chunks that way): the column must be written
    # OPTIONAL, as decode_chunk reads it
    import dataclasses

    chunk = dataclasses.replace(encode_chunk(pa.array([1, None, 3, None, 5])), max_def=-1)
    path = str(tmp_path / "m.parquet")
    write_parquet_file(path, {"x": chunk}, 5)
    assert pq.read_table(path).column("x").to_pylist() == [1, None, 3, None, 5]
    assert ParquetFileReader(path).read_column("x").to_pylist() == [1, None, 3, None, 5]


def test_struct_rejects_reserved_field_names():
    # a field named 'a.b' would silently restructure the dot-joined leaf
    # paths on decode; '#'-containing names collide with the '#g' markers --
    # the walker fails fast on both
    from parquet4seastar_spark.codecs.pages import encode_column

    dotted = pa.array(
        [{"a.b": 1, "c": 2}], type=pa.struct([("a.b", pa.int64()), ("c", pa.int64())])
    )
    with pytest.raises(ValueError, match="reserved"):
        encode_column(dotted)
    marker = pa.array(
        [[{"#list": "x"}]], type=pa.list_(pa.struct([("#list", pa.string())]))
    )
    with pytest.raises(ValueError, match="reserved"):
        encode_column(marker)
    suffix = pa.array([{"x#g0": 1}], type=pa.struct([("x#g0", pa.int64())]))
    with pytest.raises(ValueError, match="reserved"):
        encode_column(suffix)



def test_write_parquet_nested_lists(tmp_path):
    # list<list<prim>> chunks export directly (3-level LIST per level,
    # the inner list OPTIONAL iff the def budget has its level); the SAME
    # column also exports as a DremelColumn.  pyarrow and our tree reader
    # read both back equal
    from parquet4seastar_spark.codecs.pages import encode_column
    from parquet4seastar_spark.codecs.parquet_file import DremelColumn

    ll = pa.list_(pa.list_(pa.int64()))
    arrays = [
        pa.array([[[1, 2], [3]], [[4]], None, [[], [5, None]]], type=ll),
        pa.array([[[1, 2], None], [[4]], [], [[], [5]]], type=ll),
        pa.array(
            [[["a", None], None], None, [[], ["bc"]], [[""]]],
            type=pa.list_(pa.list_(pa.string())),
        ),
    ]
    for i, arr in enumerate(arrays):
        chunk = encode_chunk(arr, policy="plain")
        assert chunk.max_rep == 2
        for name, spec in [
            (f"ll{i}", chunk),
            (f"dremel{i}", DremelColumn(encode_column(arr, policy="plain"))),
        ]:
            path = str(tmp_path / f"{name}.parquet")
            write_parquet_file(path, {"ll": spec}, len(arr))
            back = pq.read_table(path).column("ll").combine_chunks()
            # the leaf keeps its annotation under both list levels
            assert back.type.value_type.value_type == arr.type.value_type.value_type, name
            assert back.to_pylist() == arr.to_pylist(), name
            out = ParquetFileReader(path).read_column("ll")
            assert out.cast(arr.type).to_pylist() == arr.to_pylist(), name


def test_column_metadata_sizes(tmp_path):
    # total_uncompressed_size must be headers + uncompressed page bodies,
    # total_compressed_size the on-disk bytes; equal when uncompressed,
    # strictly larger when the codec shrinks the pages (gzip, snappy)
    data = pa.array([("the quick brown fox " * 9) + str(i % 7) for i in range(4000)])
    for comp, check in (("uncompressed", "eq"), ("gzip", "gt"), ("snappy", "gt")):
        chunk = encode_chunk(data, policy="plain", compression=comp)
        path = str(tmp_path / f"{comp}.parquet")
        write_parquet_file(path, {"t": chunk}, len(data))
        meta = pq.ParquetFile(path).metadata.row_group(0).column(0)
        if check == "eq":
            assert meta.total_uncompressed_size == meta.total_compressed_size
        else:
            assert meta.total_uncompressed_size > meta.total_compressed_size
        assert pq.read_table(path).column("t").combine_chunks().equals(data.combine_chunks() if isinstance(data, pa.ChunkedArray) else data)


def test_reader_rejects_corrupt_containers(tmp_path):
    # error-path parity with the reference's footer checks
    # (file_reader.cc:28-64: magic check, encrypted 'PARE' rejection)
    import struct as _s

    good = str(tmp_path / "good.parquet")
    arr = pa.array([1, 2, 3], type=pa.int64())
    write_parquet_file(good, {"x": encode_chunk(arr, policy="plain")}, 3)
    blob = open(good, "rb").read()

    bad_magic = str(tmp_path / "bad_magic.parquet")
    open(bad_magic, "wb").write(b"XXXX" + blob[4:])
    with pytest.raises(ValueError, match="magic"):
        ParquetFileReader(bad_magic)

    pare = str(tmp_path / "pare.parquet")
    open(pare, "wb").write(blob[:-4] + b"PARE")
    with pytest.raises(ValueError, match="encrypted"):
        ParquetFileReader(pare)

    truncated = str(tmp_path / "trunc.parquet")
    # footer length pointing past the file start
    open(truncated, "wb").write(blob[:-8] + _s.pack("<I", 2**30) + b"PAR1")
    with pytest.raises(Exception):
        ParquetFileReader(truncated)


@pytest.mark.parametrize("policy", ["plain", "dict"])
def test_reader_names_an_unknown_page_encoding_id(tmp_path, monkeypatch, policy):
    # a V1 page header carrying an id the Encoding enum does not hold,
    # written with the writer's PLAIN id patched: the data page of a
    # 'plain' chunk, the dictionary page of a 'dict' one
    from parquet4seastar_spark.codecs import parquet_file

    path = str(tmp_path / "x.parquet")
    chunk = encode_chunk(pa.array(["a", "b", "a"]), policy=policy)
    with monkeypatch.context() as m:
        m.setitem(parquet_file.ENCODINGS, "PLAIN", 42)
        write_parquet_file(path, {"s": chunk}, 3)
    with pytest.raises(ValueError, match=r"^s: unknown page encoding id 42$"):
        ParquetFileReader(path).read_column("s")


def test_reader_names_an_unknown_v2_page_encoding_id(tmp_path, monkeypatch):
    # a V2 data page whose id the reader's Encoding enum lacks
    from parquet4seastar_spark.codecs import parquet_file

    path = str(tmp_path / "v2.parquet")
    pq.write_table(pa.table({"s": ["a", "b"]}), path, use_dictionary=False, data_page_version="2.0")
    monkeypatch.delitem(parquet_file.ENC_NAME, parquet_file.ENCODINGS["PLAIN"])
    with pytest.raises(ValueError, match=r"^s: unknown page encoding id 0$"):
        ParquetFileReader(path).read_column("s")


def test_write_struct_list_optional_field_pyarrow_reads(tmp_path):
    # list<struct> with an OPTIONAL field: the recursive schema emitter
    # writes every node OPTIONAL, so independent readers compute the same
    # max_def as the walker's leaf pages carry
    from parquet4seastar_spark.codecs.pages import encode_column
    from parquet4seastar_spark.codecs.parquet_file import DremelColumn

    t = pa.list_(pa.struct([("tok", pa.string()), ("attr", pa.int64())]))
    vals = [
        [{"tok": "a", "attr": 1}, {"tok": "b", "attr": None}],
        None,
        [],
        [{"tok": "c", "attr": 3}, None, {"tok": "d", "attr": None}],
    ] * 25
    arr = pa.array(vals, type=t)
    ch = encode_column(arr, policy="plain")
    by_path = {c.logical.split("|")[0][2:]: c for c in ch.values()}
    assert by_path["l.sattr"].max_def == 4  # list(2) + struct(3) + field(4)
    path = str(tmp_path / "spans.parquet")
    write_parquet_file(path, {"spans": DremelColumn(ch)}, len(arr))
    back = pq.read_table(path).column("spans").combine_chunks()
    assert back.to_pylist() == arr.to_pylist()
    # our own reader computes the 4-level geometry from the schema and
    # assembles the whole column: null rows, null structs and null fields
    r = ParquetFileReader(path)
    leaf = r.column(("spans", "list", "element", "attr"))
    assert leaf.max_def == 4 and leaf.max_rep == 1
    assert r.read_column("spans").to_pylist() == vals


def test_write_parquet_rejects_fsst(tmp_path):
    arr = pa.array(["for i in range(10): pass\n" + str(i % 3) for i in range(3000)])
    chunk = encode_chunk(arr, policy="FSST")
    with pytest.raises(ValueError, match="FSST"):
        write_parquet_file(str(tmp_path / "x.parquet"), {"t": chunk}, len(arr))


def test_write_parquet_decimal_column(tmp_path):
    from decimal import Decimal

    vals = [Decimal("12345.67"), None, Decimal("-0.01")] * 100
    arr = pa.array(vals, type=pa.decimal128(12, 2))
    chunks = {"d": encode_chunk(arr, policy="plain")}
    path = str(tmp_path / "dec.parquet")
    write_parquet_file(path, chunks, len(arr))
    back = pq.read_table(path).column("d").combine_chunks()
    assert back.cast(pa.decimal128(12, 2)).to_pylist() == vals
    assert ParquetFileReader(path).read_column("d").to_pylist() == vals


def test_read_column_pyarrow_nested(tmp_path):
    # general nested READ: a pyarrow-written file with struct / map /
    # list<list> / list<struct>, REQUIRED and OPTIONAL fields mixed, two
    # row groups -- assembled through the general Dremel path with the
    # schema's real repetition flags
    t = pa.schema([
        pa.field("s", pa.struct([
            pa.field("a", pa.int64(), nullable=False),
            pa.field("tags", pa.list_(pa.string())),
        ])),
        pa.field("m", pa.map_(pa.string(), pa.list_(pa.int64()))),
        pa.field("ll", pa.list_(pa.list_(pa.float64()))),
        pa.field("spans", pa.list_(pa.struct([("tok", pa.string()), ("pos", pa.int32())]))),
    ])
    rows = [
        {"s": {"a": 1, "tags": ["x", None]}, "m": [("k", [1, None]), ("e", [])],
         "ll": [[1.0], []], "spans": [{"tok": "a", "pos": 0}, None]},
        {"s": None, "m": None, "ll": None, "spans": None},
        {"s": {"a": 3, "tags": None}, "m": [], "ll": [None, [2.5]], "spans": []},
        {"s": {"a": 4, "tags": []}, "m": [("z", None)], "ll": [[]], "spans": [{"tok": None, "pos": None}]},
    ]
    tbl = pa.table(
        {f.name: pa.array([r[f.name] for r in rows], type=f.type) for f in t}, schema=t
    )
    path = str(tmp_path / "nested.parquet")
    pq.write_table(tbl, path, use_dictionary=False, row_group_size=2)
    r = ParquetFileReader(path)
    for name in ["s", "m", "ll", "spans"]:
        out = r.read_column(name)
        assert out.to_pylist() == tbl.column(name).combine_chunks().to_pylist(), name


def test_read_column_roundtrips_our_nested_export(tmp_path):
    # the loop closes: our nested export read back by OUR OWN reader
    from parquet4seastar_spark.codecs.pages import encode_column
    from parquet4seastar_spark.codecs.parquet_file import DremelColumn

    arr = pa.array(
        [[[1, 2], [3]], None, [], [[4, None]]], type=pa.list_(pa.list_(pa.int64()))
    )
    path = str(tmp_path / "ours.parquet")
    write_parquet_file(
        path, {"ll": DremelColumn(encode_column(arr, policy="plain"))}, len(arr)
    )
    out = ParquetFileReader(path).read_column("ll")
    assert out.cast(arr.type).to_pylist() == arr.to_pylist()
    # a flat column goes through the same assembly
    flat = pa.array(["a", None, "c"])
    p2 = str(tmp_path / "flat.parquet")
    write_parquet_file(p2, {"t": encode_chunk(flat, policy="plain")}, len(flat))
    out = ParquetFileReader(p2).read_column("t")
    assert out.type == flat.type and out.to_pylist() == flat.to_pylist()
