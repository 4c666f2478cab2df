"""The codec x physical type table (``pages.CODEC_PTYPES``) is enforced
wherever a pair is formed: an explicit policy in ``encode_chunk``, every
listed column of ``encode_table`` (on the driver, by column name), and
every page the page reader decodes.  A pair outside the table used to
decode to wrong values (RLE on int64, DELTA_BINARY_PACKED on double) or
fail with an unrelated TypeError/KeyError inside a codec."""

import dataclasses

import pyarrow as pa
import pytest

from parquet4seastar_spark.codecs.pages import CODEC_PTYPES, decode_chunk, encode_chunk
from parquet4seastar_spark.engine.encode_job import encode_table

# one small array per physical type, and the Spark column that encodes as it
SAMPLES = {
    "BOOLEAN": (pa.array([True, False, True]), "c_bool boolean"),
    "INT32": (pa.array([1, 2, 3], pa.int32()), "c_int32 int"),
    "INT64": (pa.array([1, 2, 3], pa.int64()), "c_int64 bigint"),
    "FLOAT": (pa.array([1.5, 2.5, 3.5], pa.float32()), "c_float float"),
    "DOUBLE": (pa.array([1.5, 2.5, 3.5], pa.float64()), "c_double double"),
    "BYTE_ARRAY": (pa.array(["a", "bb", "ccc"]), "c_byte_array string"),
    "FIXED_LEN_BYTE_ARRAY": (pa.array([b"abcd", b"efgh", b"ijkl"], pa.binary(4)), "c_flba binary"),
}

OFF_TABLE = [(codec, ptype) for codec in CODEC_PTYPES for ptype in SAMPLES if ptype not in CODEC_PTYPES[codec]]


@pytest.mark.parametrize("all_null", [False, True], ids=["values", "all_null"])
@pytest.mark.parametrize("codec,ptype", OFF_TABLE)
def test_encode_chunk_refuses_an_off_table_pair(codec, ptype, all_null):
    arr = SAMPLES[ptype][0]
    if all_null:
        arr = pa.nulls(len(arr), arr.type)
    with pytest.raises(ValueError, match=rf"^policy '{codec}' does not apply to physical type {ptype} "):
        encode_chunk(arr, policy=codec)


@pytest.fixture(scope="module")
def typed_frame(spark):
    ddl = ", ".join(spark_col for _, spark_col in SAMPLES.values())
    return spark.createDataFrame([], f"row_id bigint, {ddl}")


@pytest.mark.parametrize("codec,ptype", OFF_TABLE)
def test_encode_table_refuses_an_off_table_pair_by_column(typed_frame, codec, ptype):
    col = SAMPLES[ptype][1].split()[0]
    with pytest.raises(ValueError, match=rf"^column '{col}': policy '{codec}' does not apply to physical type {ptype} "):
        encode_table(typed_frame, [col], policy={col: codec}, fixed_len={"c_flba": 4})


def test_encode_table_refuses_before_any_job(typed_frame, jobs_launched):
    # a string policy applies to every listed column: the first one it
    # does not fit is named, and the refusal launches no Spark job
    def call():
        try:
            encode_table(typed_frame, ["c_int64", "c_double"], policy="DELTA_BINARY_PACKED")
        except ValueError as e:
            return str(e)

    msg, jobs = jobs_launched(call)
    assert msg.startswith("column 'c_double': policy 'DELTA_BINARY_PACKED' does not apply to physical type DOUBLE")
    assert jobs == 0


def test_encode_table_checks_every_leaf_of_a_nested_column(spark):
    df = spark.createDataFrame([], "row_id bigint, st struct<a:string, b:int>")
    with pytest.raises(ValueError, match=r"^column 'st': policy 'FSST' does not apply to physical type INT32 "):
        encode_table(df, ["st"], policy="FSST")
    encode_table(df, ["st"], policy="reference", map_only=True)  # DBP on b, the dictionary on a


@pytest.mark.parametrize("key", ["other", "row_id"])
def test_encode_table_refuses_a_policy_key_naming_no_listed_column(typed_frame, key):
    with pytest.raises(ValueError, match=rf"policy names columns that are not encoded: \['{key}'\]"):
        encode_table(typed_frame, ["c_int64"], policy={"c_int64": "plain", key: "dict"})


@pytest.mark.parametrize("codec,arr,ptype,logical", [
    ("DELTA_BINARY_PACKED", pa.array([1, 2, 3], pa.int64()), "DOUBLE", "double"),
    ("RLE", pa.array([True, False, True]), "INT32", "int32"),
])
def test_page_reader_refuses_a_relabelled_chunk(codec, arr, ptype, logical):
    # a stored chunk (or a foreign file's page) declaring a pair the table
    # does not hold: these two used to decode to wrong values silently
    chunk = encode_chunk(arr, policy=codec)
    assert decode_chunk(chunk).to_pylist() == arr.to_pylist()
    relabelled = dataclasses.replace(chunk, ptype=ptype, logical=logical)
    with pytest.raises(ValueError, match=rf"^{codec} data page in a {ptype} chunk: that codec does not take {ptype}$"):
        decode_chunk(relabelled)


@pytest.mark.parametrize("policy,ptype,codecs", [
    ("reference", "INT32", {"DELTA_BINARY_PACKED"}),
    ("reference", "DOUBLE", {"RLE_DICTIONARY"}),
    ("reference", "BOOLEAN", {"RLE_DICTIONARY"}),
    ("plain", "BOOLEAN", {"PLAIN"}),
    ("dict", "FIXED_LEN_BYTE_ARRAY", {"RLE_DICTIONARY"}),
])
def test_named_policies_resolve_through_the_table(policy, ptype, codecs):
    arr = SAMPLES[ptype][0]
    chunk = encode_chunk(arr, policy=policy)
    assert set(chunk.encodings) == codecs
    assert decode_chunk(chunk).to_pylist() == arr.to_pylist()


@pytest.mark.parametrize("policy", ["dict", "reference"])
def test_boolean_dictionary_chunk_is_refused_by_the_container_writer(tmp_path, policy):
    # a deliberate limit: these policies write a BOOLEAN dictionary page
    # that the page reader reads, while standard readers do not implement
    # it (pyarrow raises), so the container writer refuses the chunk
    from parquet4seastar_spark.codecs.parquet_file import write_parquet_file

    arr = pa.array([True, False, None, True])
    chunk = encode_chunk(arr, policy=policy)
    assert chunk.encodings == ["RLE_DICTIONARY"]
    assert decode_chunk(chunk).to_pylist() == arr.to_pylist()
    with pytest.raises(ValueError, match=r"flag.*dictionary-encoded BOOLEAN is not readable by standard readers"):
        write_parquet_file(str(tmp_path / "flag.parquet"), {"flag": chunk}, len(arr))
