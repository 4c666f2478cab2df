"""End-to-end golden parity with the reference's cql_reader_alltypes_test:
dump each alltypes fixture to CQL and compare STRING-IDENTICAL against the
reference's inline golden text (tests/cql_reader_alltypes_test.cc:32-94;
golden constants :32-75, ported like the byte vectors elsewhere).

The six fixtures are built here by ``write_alltypes_fixture``: every column
name, annotation and value is read off the golden text, and each column is
an explicit schema leaf over an ``encode_chunk(policy="plain")`` chunk.
The reference's own fixture files are dumped too where a checkout of it
is present (``FIXTURE_DIR``)."""

import dataclasses
import os

import pyarrow as pa
import pytest

from parquet4seastar_spark.codecs.cql_dump import parquet_to_cql
from parquet4seastar_spark.codecs.pages import encode_chunk
from parquet4seastar_spark.codecs.parquet_file import (
    OPTIONAL,
    PHYS_ID,
    REPEATED,
    REQUIRED,
    group_node,
    write_parquet_file,
)

FIXTURE_DIR = "/root/reference/tests/test_data/alltypes"

BASIC_CQL = """
CREATE TABLE "parquet"("row_number" bigint PRIMARY KEY, "bool_ct" boolean, "bool_lt" boolean, "int8_ct" tinyint, "int8_lt" tinyint, "int16_ct" smallint, "int16_lt" smallint, "int32_ct" int, "int32_lt" int, "int64_ct" bigint, "int64_lt" bigint, "int96_ct" varint, "uint8_ct" smallint, "uint8_lt" smallint, "uint16_ct" int, "uint16_lt" int, "uint32_ct" bigint, "uint32_lt" bigint, "uint64_ct" varint, "uint64_lt" varint, "float_ct" float, "float_lt" float, "double_ct" double, "double_lt" double);
INSERT INTO "parquet"("row_number", "bool_ct", "bool_lt", "int8_ct", "int8_lt", "int16_ct", "int16_lt", "int32_ct", "int32_lt", "int64_ct", "int64_lt", "int96_ct", "uint8_ct", "uint8_lt", "uint16_ct", "uint16_lt", "uint32_ct", "uint32_lt", "uint64_ct", "uint64_lt", "float_ct", "float_lt", "double_ct", "double_lt") VALUES(0, false, false, -1, -1, -1, -1, -1, -1, -1, -1, -1, 255, 255, 65535, 65535, 4294967295, 4294967295, 18446744073709551615, 18446744073709551615, -1.100000e+00, -1.100000e+00, -1.111111e+00, -1.111111e+00);
INSERT INTO "parquet"("row_number", "bool_ct", "bool_lt", "int8_ct", "int8_lt", "int16_ct", "int16_lt", "int32_ct", "int32_lt", "int64_ct", "int64_lt", "int96_ct", "uint8_ct", "uint8_lt", "uint16_ct", "uint16_lt", "uint32_ct", "uint32_lt", "uint64_ct", "uint64_lt", "float_ct", "float_lt", "double_ct", "double_lt") VALUES(1, true, true, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0.000000e+00, 0.000000e+00, 0.000000e+00, 0.000000e+00);
INSERT INTO "parquet"("row_number", "bool_ct", "bool_lt", "int8_ct", "int8_lt", "int16_ct", "int16_lt", "int32_ct", "int32_lt", "int64_ct", "int64_lt", "int96_ct", "uint8_ct", "uint8_lt", "uint16_ct", "uint16_lt", "uint32_ct", "uint32_lt", "uint64_ct", "uint64_lt", "float_ct", "float_lt", "double_ct", "double_lt") VALUES(2, false, false, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1.100000e+00, 1.100000e+00, 1.111111e+00, 1.111111e+00);
"""

DATE_TIME_CQL = """
CREATE TABLE "parquet"("row_number" bigint PRIMARY KEY, "date_ct" int, "date_lt" int, "time_millis_ct" time, "time_utc_millis_lt" time, "time_nonutc_millis_lt" time, "time_micros_ct" time, "time_utc_micros_lt" time, "time_nonutc_micros_lt" time, "time_utc_nanos" time, "time_nonutc_nanos" time);
INSERT INTO "parquet"("row_number", "date_ct", "date_lt", "time_millis_ct", "time_utc_millis_lt", "time_nonutc_millis_lt", "time_micros_ct", "time_utc_micros_lt", "time_nonutc_micros_lt", "time_utc_nanos", "time_nonutc_nanos") VALUES(0, -1, -1, '00:00:00.000', '00:00:00.000', '00:00:00.000', '00:00:00.000000', '00:00:00.000000', '00:00:00.000000', '00:00:00.000000000', '00:00:00.000000000');
INSERT INTO "parquet"("row_number", "date_ct", "date_lt", "time_millis_ct", "time_utc_millis_lt", "time_nonutc_millis_lt", "time_micros_ct", "time_utc_micros_lt", "time_nonutc_micros_lt", "time_utc_nanos", "time_nonutc_nanos") VALUES(1, 0, 0, '01:01:01.000', '01:01:01.000', '01:01:01.000', '01:01:01.000000', '01:01:01.000000', '01:01:01.000000', '01:01:01.000000000', '01:01:01.000000000');
INSERT INTO "parquet"("row_number", "date_ct", "date_lt", "time_millis_ct", "time_utc_millis_lt", "time_nonutc_millis_lt", "time_micros_ct", "time_utc_micros_lt", "time_nonutc_micros_lt", "time_utc_nanos", "time_nonutc_nanos") VALUES(2, 1, 1, '02:02:02.000', '02:02:02.000', '02:02:02.000', '02:02:02.000000', '02:02:02.000000', '02:02:02.000000', '02:02:02.000000000', '02:02:02.000000000');
"""

TIMESTAMP_INTERVAL_CQL = """
CREATE TABLE "parquet"("row_number" bigint PRIMARY KEY, "timestamp_millis_ct" timestamp, "timestamp_utc_millis_lt" timestamp, "timestamp_nonutc_millis_lt" timestamp, "timestamp_micros_ct" bigint, "timestamp_utc_micros_lt" bigint, "timestamp_nonutc_micros_lt" bigint, "timestamp_utc_nanos" bigint, "timestamp_nonutc_nanos" bigint, "interval_ct" duration, "interval_lt" duration);
INSERT INTO "parquet"("row_number", "timestamp_millis_ct", "timestamp_utc_millis_lt", "timestamp_nonutc_millis_lt", "timestamp_micros_ct", "timestamp_utc_micros_lt", "timestamp_nonutc_micros_lt", "timestamp_utc_nanos", "timestamp_nonutc_nanos", "interval_ct", "interval_lt") VALUES(0, -1, -1, -1, -1, -1, -1, -1, -1, 0mo0d0ms, 0mo0d0ms);
INSERT INTO "parquet"("row_number", "timestamp_millis_ct", "timestamp_utc_millis_lt", "timestamp_nonutc_millis_lt", "timestamp_micros_ct", "timestamp_utc_micros_lt", "timestamp_nonutc_micros_lt", "timestamp_utc_nanos", "timestamp_nonutc_nanos", "interval_ct", "interval_lt") VALUES(1, 0, 0, 0, 0, 0, 0, 0, 0, 1mo1d1ms, 1mo1d1ms);
INSERT INTO "parquet"("row_number", "timestamp_millis_ct", "timestamp_utc_millis_lt", "timestamp_nonutc_millis_lt", "timestamp_micros_ct", "timestamp_utc_micros_lt", "timestamp_nonutc_micros_lt", "timestamp_utc_nanos", "timestamp_nonutc_nanos", "interval_ct", "interval_lt") VALUES(2, 1, 1, 1, 1, 1, 1, 1, 1, 2mo2d2ms, 2mo2d2ms);
"""

DECIMAL_CQL = """
CREATE TABLE "parquet"("row_number" bigint PRIMARY KEY, "decimal_int32_ct" decimal, "decimal_int32_lt" decimal, "decimal_int64_ct" decimal, "decimal_int64_lt" decimal, "decimal_byte_array_ct" decimal, "decimal_byte_array_lt" decimal, "decimal_flba_ct" decimal, "decimal_flba_lt" decimal);
INSERT INTO "parquet"("row_number", "decimal_int32_ct", "decimal_int32_lt", "decimal_int64_ct", "decimal_int64_lt", "decimal_byte_array_ct", "decimal_byte_array_lt", "decimal_flba_ct", "decimal_flba_lt") VALUES(0, -1e-5, -1e-5, -1e-10, -1e-10, -1e-2, -1e-2, -1e-5, -1e-5);
INSERT INTO "parquet"("row_number", "decimal_int32_ct", "decimal_int32_lt", "decimal_int64_ct", "decimal_int64_lt", "decimal_byte_array_ct", "decimal_byte_array_lt", "decimal_flba_ct", "decimal_flba_lt") VALUES(1, 0e-5, 0e-5, 0e-10, 0e-10, 0e-2, 0e-2, 0e-5, 0e-5);
INSERT INTO "parquet"("row_number", "decimal_int32_ct", "decimal_int32_lt", "decimal_int64_ct", "decimal_int64_lt", "decimal_byte_array_ct", "decimal_byte_array_lt", "decimal_flba_ct", "decimal_flba_lt") VALUES(2, 1e-5, 1e-5, 1e-10, 1e-10, 1e-2, 1e-2, 1e-5, 1e-5);
"""

BYTE_ARRAY_CQL = """
CREATE TABLE "parquet"("row_number" bigint PRIMARY KEY, "utf8" text, "string" text, "10_byte_array_ct" blob, "10_byte_array_lt" blob, "enum_ct" text, "enum_lt" text, "json_ct" text, "json_lt" text, "bson_ct" blob, "bson_lt" blob, "uuid" uuid);
INSERT INTO "parquet"("row_number", "utf8", "string", "10_byte_array_ct", "10_byte_array_lt", "enum_ct", "enum_lt", "json_ct", "json_lt", "bson_ct", "bson_lt", "uuid") VALUES(0, 'parquet00/', 'parquet00/', 0xFFFFFFFFFFFFFFFFFFFF, 0xFFFFFFFFFFFFFFFFFFFF, 'ENUM   000', 'ENUM   000', '{"key":"value"}', '{"key":"value"}', 0x42534F4E, 0x42534F4E, FFFFFFFF-FFFF-FFFF-FFFF-FFFFFFFFFFFF);
INSERT INTO "parquet"("row_number", "utf8", "string", "10_byte_array_ct", "10_byte_array_lt", "enum_ct", "enum_lt", "json_ct", "json_lt", "bson_ct", "bson_lt", "uuid") VALUES(1, 'parquet000', 'parquet000', 0x00000000000000000000, 0x00000000000000000000, 'ENUM   001', 'ENUM   001', '{"key":"value"}', '{"key":"value"}', 0x42534F4E, 0x42534F4E, 00000000-0000-0000-0000-000000000000);
INSERT INTO "parquet"("row_number", "utf8", "string", "10_byte_array_ct", "10_byte_array_lt", "enum_ct", "enum_lt", "json_ct", "json_lt", "bson_ct", "bson_lt", "uuid") VALUES(2, 'parquet001', 'parquet001', 0x01010101010101010101, 0x01010101010101010101, 'ENUM   002', 'ENUM   002', '{"key":"value"}', '{"key":"value"}', 0x42534F4E, 0x42534F4E, 01000000-0100-0000-0100-000001000000);
"""

COLLECTIONS_CQL = """
CREATE TABLE "parquet"("row_number" bigint PRIMARY KEY, "optional_uint32" bigint, "twice_repeated_uint16" frozen<list<int>>, "optional_undefined_null" int, "map_int32_int32" frozen<map<int, int>>, "map_key_value_bool_bool" frozen<map<boolean, boolean>>, "map_logical" frozen<map<int, int>>, "list_float" frozen<list<float>>, "list_double" frozen<list<double>>);
INSERT INTO "parquet"("row_number", "optional_uint32", "twice_repeated_uint16", "optional_undefined_null", "map_int32_int32", "map_key_value_bool_bool", "map_logical", "list_float", "list_double") VALUES(0, 4294967295, [0, 1], null, {-1: -1, 0: 0}, {false: false, false: false}, {-1: -1, 0: 0}, [-1.100000e+00, 0.000000e+00], [-1.111110e+00, 0.000000e+00]);
INSERT INTO "parquet"("row_number", "optional_uint32", "twice_repeated_uint16", "optional_undefined_null", "map_int32_int32", "map_key_value_bool_bool", "map_logical", "list_float", "list_double") VALUES(1, null, [2, 3], null, {0: 0, 1: 1}, {true: true, false: false}, {0: 0, 1: 1}, [0.000000e+00, 1.100000e+00], [0.000000e+00, 1.111110e+00]);
INSERT INTO "parquet"("row_number", "optional_uint32", "twice_repeated_uint16", "optional_undefined_null", "map_int32_int32", "map_key_value_bool_bool", "map_logical", "list_float", "list_double") VALUES(2, 1, [4, 5], null, {1: 1, 2: 2}, {false: false, true: true}, {1: 1, 2: 2}, [1.100000e+00, 2.200000e+00], [1.111110e+00, 2.222220e+00]);
"""

CASES = [
    ("basic", BASIC_CQL),
    ("collections", COLLECTIONS_CQL),
    ("decimal", DECIMAL_CQL),
    ("other", BYTE_ARRAY_CQL),
    ("time", DATE_TIME_CQL),
    ("timestamp", TIMESTAMP_INTERVAL_CQL),
]



# ---- the alltypes fixtures, built from the golden text --------------------
# A leaf is an explicit SchemaElement node: ``ct`` is a ConvertedType id
# (_ct columns), ``lt`` a LogicalType union member {id: struct} (_lt
# columns, field 10).  No LogicalType exists for INTERVAL, so interval_lt
# carries the ConvertedType as well.

_INT_CT = {8: 15, 16: 16, 32: 17, 64: 18}  # INT_8 .. INT_64
_UINT_CT = {8: 11, 16: 12, 32: 13, 64: 14}  # UINT_8 .. UINT_64
_UNIT = {"millis": {1: {}}, "micros": {2: {}}, "nanos": {3: {}}}  # TimeUnit


def _node(name, chunk, repetition=REQUIRED, ct=None, lt=None, scale=None, precision=None):
    """An explicit leaf node over ``chunk``."""
    el = {1: PHYS_ID[chunk.ptype], 2: chunk.type_length or None, 3: repetition, 4: name,
          6: ct, 7: scale, 8: precision, 10: lt}
    return {"el": {k: v for k, v in el.items() if v is not None}, "children": [], "chunk": chunk}


def _leaf(name, vals, typ, repetition=REQUIRED, **annotations):
    chunk = encode_chunk(pa.array(vals, type=typ), policy="plain",
                         nullable=repetition == OPTIONAL)
    return _node(name, chunk, repetition, **annotations)


def _list_leaf(name, rows, typ, repetition, elem_nullable, **annotations):
    """A repeated leaf, or a leaf under a map's repeated group (the map
    groups here are all OPTIONAL): one list of values per row."""
    chunk = encode_chunk(pa.array(rows, type=pa.list_(typ)), policy="plain",
                         nullable=repetition != REPEATED, elem_nullable=elem_nullable)
    return _node(name, chunk, repetition, **annotations)


def _map(name, rows, typ, middle, ct=None, lt=None):
    """OPTIONAL map group annotated ``ct`` (MAP or MAP_KEY_VALUE) or ``lt``
    (the MAP member) over a repeated ``middle`` group of a REQUIRED key
    and an OPTIONAL value."""
    kv = group_node(middle, REPEATED, [
        _list_leaf("key", [[k for k, _ in r] for r in rows], typ, REQUIRED, False),
        _list_leaf("value", [[v for _, v in r] for r in rows], typ, OPTIONAL, True),
    ])
    node = group_node(name, OPTIONAL, [kv], converted=ct)
    if lt is not None:
        node["el"][10] = lt
    return node


def _int96(name, vals):
    """INT96 leaf the reference renders as ``vals``: three LE int32 words
    per value, word 0 most significant (cql_reader.cc:210-217), written
    as a 12-byte FLBA chunk under the INT96 type."""
    words = [(v >> 64, (v >> 32) & 0xFFFFFFFF, v & 0xFFFFFFFF) for v in vals]
    raw = [b"".join(w.to_bytes(4, "little", signed=i == 0) for i, w in enumerate(ws))
           for ws in words]
    chunk = encode_chunk(pa.array(raw, type=pa.binary(12)), policy="plain")
    return _node(name, dataclasses.replace(chunk, ptype="INT96", type_length=0))


def _plain_list(rows, typ):
    """A standard 3-level LIST column: a plain list chunk as its spec."""
    return encode_chunk(pa.array(rows, type=pa.list_(typ)), policy="plain")


def _alltypes_nodes(name):
    """The golden's columns of one fixture, in its column order."""
    ints = [-1, 0, 1]
    i32, i64 = pa.int32(), pa.int64()
    if name == "basic":
        cols = [_leaf(f"bool_{s}", [False, True, False], pa.bool_()) for s in ("ct", "lt")]
        for w in (8, 16, 32, 64):
            t = i64 if w == 64 else i32
            cols += [_leaf(f"int{w}_ct", ints, t, ct=_INT_CT[w]),
                     _leaf(f"int{w}_lt", ints, t, lt={10: {1: w, 2: True}})]
        cols.append(_int96("int96_ct", ints))
        for w in (8, 16, 32, 64):
            t = i64 if w == 64 else i32
            cols += [_leaf(f"uint{w}_ct", ints, t, ct=_UINT_CT[w]),
                     _leaf(f"uint{w}_lt", ints, t, lt={10: {1: w, 2: False}})]
        for typ, v, t in (("float", 1.1, pa.float32()), ("double", 1.111111, pa.float64())):
            cols += [_leaf(f"{typ}_{s}", [-v, 0.0, v], t) for s in ("ct", "lt")]
        return cols
    if name == "collections":
        maps = [[(-1, -1), (0, 0)], [(0, 0), (1, 1)], [(1, 1), (2, 2)]]
        bools = [[(False, False)] * 2, [(True, True), (False, False)],
                 [(False, False), (True, True)]]
        return [
            _leaf("optional_uint32", [-1, None, 1], i32, OPTIONAL, ct=_UINT_CT[32]),
            _list_leaf("twice_repeated_uint16", [[0, 1], [2, 3], [4, 5]], i32, REPEATED,
                       False, ct=_UINT_CT[16]),
            _leaf("optional_undefined_null", [None] * 3, i32, OPTIONAL, lt={11: {}}),
            _map("map_int32_int32", maps, i32, "key_value", ct=1),
            _map("map_key_value_bool_bool", bools, pa.bool_(), "map", ct=2),
            _map("map_logical", maps, i32, "key_value", lt={2: {}}),
        ]
    if name == "decimal":
        cols = []
        for phys, t, vals, scale, precision in (
            ("int32", i32, ints, 5, 9),
            ("int64", i64, ints, 10, 18),
            ("byte_array", pa.binary(), [b"\xff", b"\x00", b"\x01"], 2, 4),
            ("flba", pa.binary(4), [b"\xff" * 4, bytes(4), bytes(3) + b"\x01"], 5, 9),
        ):
            dec = {"scale": scale, "precision": precision}
            cols += [_leaf(f"decimal_{phys}_ct", vals, t, ct=5, **dec),
                     _leaf(f"decimal_{phys}_lt", vals, t, lt={5: {1: scale, 2: precision}}, **dec)]
        return cols
    if name == "other":
        texts = ["parquet00/", "parquet000", "parquet001"]
        enums = [f"ENUM   00{i}" for i in range(3)]
        flba = [bytes([b]) * 10 for b in (0xFF, 0, 1)]
        uuids = [b"\xff" * 16, bytes(16), bytes.fromhex("01000000010000000100000001000000")]
        return [
            _leaf("utf8", texts, pa.binary(), ct=0),
            _leaf("string", texts, pa.binary(), lt={1: {}}),
            _leaf("10_byte_array_ct", flba, pa.binary(10)),
            _leaf("10_byte_array_lt", flba, pa.binary(10)),
            _leaf("enum_ct", enums, pa.binary(), ct=4),
            _leaf("enum_lt", enums, pa.binary(), lt={4: {}}),
            _leaf("json_ct", ['{"key":"value"}'] * 3, pa.binary(), ct=19),
            _leaf("json_lt", ['{"key":"value"}'] * 3, pa.binary(), lt={12: {}}),
            _leaf("bson_ct", [b"BSON"] * 3, pa.binary(), ct=20),
            _leaf("bson_lt", [b"BSON"] * 3, pa.binary(), lt={13: {}}),
            _leaf("uuid", uuids, pa.binary(16), lt={14: {}}),
        ]
    hms = 3661  # 01:01:01 in seconds
    if name == "time":
        cols = [_leaf("date_ct", ints, i32, ct=6), _leaf("date_lt", ints, i32, lt={6: {}})]
        for unit, scale, ct, t in (("millis", 10**3, 7, i32), ("micros", 10**6, 8, i64)):
            vals = [i * hms * scale for i in range(3)]
            cols.append(_leaf(f"time_{unit}_ct", vals, t, ct=ct))
            cols += [_leaf(f"time_{utc}_{unit}_lt", vals, t,
                           lt={7: {1: utc == "utc", 2: _UNIT[unit]}}) for utc in ("utc", "nonutc")]
        vals = [i * hms * 10**9 for i in range(3)]
        return cols + [_leaf(f"time_{utc}_nanos", vals, i64,
                             lt={7: {1: utc == "utc", 2: _UNIT["nanos"]}})
                       for utc in ("utc", "nonutc")]
    if name == "timestamp":
        cols = []
        for unit, ct in (("millis", 9), ("micros", 10)):
            cols.append(_leaf(f"timestamp_{unit}_ct", ints, i64, ct=ct))
            cols += [_leaf(f"timestamp_{utc}_{unit}_lt", ints, i64,
                           lt={8: {1: utc == "utc", 2: _UNIT[unit]}}) for utc in ("utc", "nonutc")]
        cols += [_leaf(f"timestamp_{utc}_nanos", ints, i64,
                       lt={8: {1: utc == "utc", 2: _UNIT["nanos"]}}) for utc in ("utc", "nonutc")]
        # months, days, millis: three LE u32 each
        intervals = [b"".join(n.to_bytes(4, "little") for _ in range(3)) for n in range(3)]
        return cols + [_leaf(f"interval_{s}", intervals, pa.binary(12), ct=21)
                       for s in ("ct", "lt")]
    raise KeyError(name)


def alltypes_spec(name):
    """``{column name: spec}`` of one alltypes fixture (three rows)."""
    spec = {n["el"][4]: n for n in _alltypes_nodes(name)}
    if name == "collections":
        spec["list_float"] = _plain_list([[-1.1, 0.0], [0.0, 1.1], [1.1, 2.2]], pa.float32())
        spec["list_double"] = _plain_list(
            [[-1.11111, 0.0], [0.0, 1.11111], [1.11111, 2.22222]], pa.float64()
        )
    return spec


def write_alltypes_fixture(name, path):
    """Write one of the six alltypes fixtures to ``path``."""
    write_parquet_file(path, alltypes_spec(name), 3)


ALLTYPES = [c[0] for c in CASES]


def alltypes_path(source, name, tmp_path):
    """Path of an alltypes fixture: ``built`` writes it under ``tmp_path``,
    ``reference`` is the reference's own file (skipped without a checkout)."""
    if source == "reference":
        if not os.path.isdir(FIXTURE_DIR):
            pytest.skip(f"{FIXTURE_DIR} is absent: the reference's fixtures are not checked out")
        return f"{FIXTURE_DIR}/{name}.uncompressed.plain.parquet"
    path = str(tmp_path / f"{name}.parquet")
    write_alltypes_fixture(name, path)
    return path


@pytest.mark.parametrize("source", ["built", "reference"])
@pytest.mark.parametrize("name,golden", CASES, ids=ALLTYPES)
def test_parquet_to_cql_golden(name, golden, source, tmp_path):
    out = parquet_to_cql(alltypes_path(source, name, tmp_path))
    assert out == golden, f"{name} CQL dump differs from the reference golden"


@pytest.mark.parametrize("name", ALLTYPES)
def test_alltypes_fixture_schema(name, tmp_path):
    # the footer holds exactly the tree that was written, and an
    # independent reader opens it
    import pyarrow.parquet as pq

    from parquet4seastar_spark.codecs.parquet_file import (
        ParquetFileReader,
        _column_node,
        _elements,
    )

    path = str(tmp_path / f"{name}.parquet")
    write_alltypes_fixture(name, path)
    written = [_column_node(n, s) for n, s in alltypes_spec(name).items()]

    def flat(nodes):
        return list(_elements({"el": {4: "schema"}, "children": nodes}))

    assert flat(ParquetFileReader(path).schema) == flat(written)
    assert pq.read_schema(path).names == [n["el"][4] for n in written]


# the reference's full end-to-end writer test (file_writer_test.cc:61-130):
# nested map<string,int32> (RLE_DICTIONARY+GZIP key, PLAIN+SNAPPY value) and
# list<struct<float,double>> with a NULL struct inside the list, written as
# TWO row groups, then dumped to CQL -- golden from file_writer_test.cc:120-126
FILE_WRITER_GOLDEN = """
CREATE TYPE "parquet_udt_0" ("Struct field 1" float, "Struct field 2" double);
CREATE TABLE "parquet"("row_number" bigint PRIMARY KEY, "Map" frozen<map<text, int>>, "List" frozen<list<"parquet_udt_0">>);
INSERT INTO "parquet"("row_number", "Map", "List") VALUES(0, null, null);
INSERT INTO "parquet"("row_number", "Map", "List") VALUES(1, {'key1': 1, 'key2': 1}, [null, {"Struct field 1": 1.000000e+00, "Struct field 2": 1.000000e+00}]);
"""


def write_file_writer_golden(path):
    """The reference's two-group file: the standard MAP group (REQUIRED key,
    converted MAP) and list<struct> (OPTIONAL struct, REQUIRED fields) as
    explicit schema trees over list chunks."""
    import pyarrow as pa

    from parquet4seastar_spark.codecs.pages import encode_chunk
    from parquet4seastar_spark.codecs.parquet_file import (
        OPTIONAL,
        REPEATED,
        REQUIRED,
        group_node,
        leaf_node,
        write_parquet_file,
    )

    def lchunk(vals, typ, policy="plain", compression="uncompressed", elem_nullable=None):
        arr = pa.array(vals, type=pa.list_(typ))
        return encode_chunk(
            arr, policy=policy, compression=compression, nullable=True,
            elem_nullable=elem_nullable,
        )

    def group(map_keys, map_vals, f1, f2):
        key = lchunk(map_keys, pa.string(), policy="dict", compression="gzip",
                     elem_nullable=False)
        value = lchunk(map_vals, pa.int32(), policy="plain", compression="snappy",
                       elem_nullable=False)
        fields = [
            leaf_node("Struct field 1", lchunk(f1, pa.float32(), elem_nullable=True), REQUIRED),
            leaf_node("Struct field 2", lchunk(f2, pa.float64(), elem_nullable=True), REQUIRED),
        ]
        key_value = [leaf_node("key", key, REQUIRED), leaf_node("value", value, REQUIRED)]
        return {
            "Map": group_node(
                "Map", OPTIONAL, [group_node("key_value", REPEATED, key_value)], converted=1
            ),
            "List": group_node(
                "List", OPTIONAL,
                [group_node("list", REPEATED, [group_node("Struct", OPTIONAL, fields)])],
                converted=3,
            ),
        }

    # row group 1: {Map: null, List: null}; row group 2: one row with a
    # 2-entry map and [null struct, struct(1, 1)] (file_writer_test.cc:96-115)
    g1 = group([None], [None], [None], [None])
    g2 = group([["key1", "key2"]], [[1, 1]], [[None, 1.0]], [[None, 1.0]])
    write_parquet_file(path, [g1, g2], [1, 1])


def test_file_writer_full_roundtrip_golden(tmp_path):
    import pyarrow.parquet as pq

    path = str(tmp_path / "full.parquet")
    write_file_writer_golden(path)

    assert parquet_to_cql(path) == FILE_WRITER_GOLDEN

    # independent cross-check: pyarrow reads the same nested structure
    back = pq.read_table(path).to_pylist()
    assert back == [
        {"Map": None, "List": None},
        {
            "Map": [("key1", 1), ("key2", 1)],
            "List": [None, {"Struct field 1": 1.0, "Struct field 2": 1.0}],
        },
    ]


@pytest.mark.parametrize(
    "typ,rows",
    [
        # two leaves under one scalar-looking column: "b" would be dropped
        (pa.struct([("a", pa.int32()), ("b", pa.string())]), [{"a": 1, "b": "x"}, None]),
        # map values nested deeper than one leaf: the values would be dropped
        (
            pa.map_(pa.string(), pa.struct([("x", pa.int32()), ("y", pa.int32())])),
            [[("k", {"x": 1, "y": 2})], None],
        ),
        # a struct around a list is not a list<struct>
        (pa.struct([("a", pa.list_(pa.int32()))]), [{"a": [1, 2]}, None]),
    ],
    ids=["struct", "map_of_struct", "struct_of_list"],
)
def test_parquet_to_cql_rejects_columns_it_cannot_render(tmp_path, typ, rows):
    from parquet4seastar_spark.codecs.pages import encode_column
    from parquet4seastar_spark.codecs.parquet_file import DremelColumn, write_parquet_file

    arr = pa.array(rows, type=typ)
    path = str(tmp_path / "c.parquet")
    write_parquet_file(path, {"c": DremelColumn(encode_column(arr, policy="plain"))}, 2)
    with pytest.raises(ValueError, match="column 'c'"):
        parquet_to_cql(path)


def test_dremel_map_dumps_as_a_cql_map(tmp_path):
    # DremelColumn writes a map as a LIST of a REQUIRED struct<key, value>;
    # the dump renders it as the map it is, not as a list of a UDT
    from parquet4seastar_spark.codecs.pages import encode_column
    from parquet4seastar_spark.codecs.parquet_file import DremelColumn

    arr = pa.array([[("a", 1), ("b", None)], None, []], type=pa.map_(pa.string(), pa.int32()))
    path = str(tmp_path / "m.parquet")
    write_parquet_file(path, {"m": DremelColumn(encode_column(arr, policy="plain"))}, 3)
    insert = 'INSERT INTO "parquet"("row_number", "m") VALUES'
    assert parquet_to_cql(path) == (
        '\nCREATE TABLE "parquet"("row_number" bigint PRIMARY KEY, "m" frozen<map<text, int>>);\n'
        f"{insert}(0, {{'a': 1, 'b': null}});\n{insert}(1, null);\n{insert}(2, {{}});\n"
    )
