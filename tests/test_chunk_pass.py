"""The one per-chunk pass (decode_job._by_chunk) that decode_table,
audit_lineage and export_parquet_files share: groups split across Arrow
batch boundaries reach the chunk function whole, a chunk whose page set is
incomplete or duplicated is refused by name, and a store read by the
workers themselves (no exchange) gives the rows and file bytes the
exchange path gives."""

import os
from contextlib import contextmanager

import pyspark.sql.functions as F
import pytest

from parquet4seastar_spark.engine.decode_job import decode_table, prune_chunks
from parquet4seastar_spark.engine.encode_job import encode_table
from parquet4seastar_spark.engine.export import export_parquet_files
from parquet4seastar_spark.engine.store import read_store, write_store
from parquet4seastar_spark.engine.verify import audit_lineage

SF = "/root/testdata/sf0.001"
COLS = ["text", "n_chars", "words", "meta", "tags"]


@contextmanager
def _records_per_batch(spark, n):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


@pytest.fixture(scope="module")
def mixed(spark):
    """(source, pages): flat, list, struct and map columns encoded into
    many multi-page chunks."""
    src = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").alias("row_id"),
        "text",
        "n_chars",
        F.slice(F.split("text", r"\s+"), 1, 6).alias("words"),
        F.struct("lang", "n_chars").alias("meta"),
        F.create_map("lang", "n_chars").alias("tags"),
        "source",
    )
    enc = encode_table(
        src, columns=COLS, policy="auto_fast", salt_col="source", num_partitions=2,
        salt_target_rows=50, chunk_target_bytes=8 << 10, page_target_bytes=1 << 10,
    ).persist()
    chunks = enc.filter(F.col("kind") == "chunk")
    # several chunks, and chunks of three or more pages: with two records
    # per batch some chunk must straddle a batch boundary
    assert chunks.select("part_key", "chunk_seq").distinct().count() > 4
    assert chunks.agg(F.max("n_pages")).first()[0] >= 3
    yield src, enc
    enc.unpersist()


def _rows(df):
    return sorted((r.asDict(recursive=True) for r in df.collect()), key=lambda r: r["row_id"])


def test_decode_carries_chunks_across_batches(spark, mixed):
    src, enc = mixed
    want = _rows(src.select("row_id", *COLS))
    with _records_per_batch(spark, 2):
        assert _rows(decode_table(enc, COLS)) == want
        got = _rows(decode_table(enc, COLS, include_part_key=True))
    assert [{k: v for k, v in r.items() if k != "_part_key"} for r in got] == want
    keys = {r["part_key"] for r in enc.filter(F.col("kind") == "chunk").collect()}
    assert {r["_part_key"] for r in got} == keys


def test_audit_carries_chunks_across_batches(spark, mixed):
    _, enc = mixed
    n_chunks = enc.filter(F.col("kind") == "chunk").count()
    with _records_per_batch(spark, 2):
        rows = audit_lineage(enc).collect()
    assert len(rows) == n_chunks and all(r["ok"] for r in rows)


def test_export_bytes_do_not_depend_on_batch_size(spark, mixed, tmp_path):
    _, enc = mixed

    def export(out):
        export_parquet_files(enc, COLS, str(out)).collect()
        return {f: (out / f).read_bytes() for f in sorted(os.listdir(out))}

    default = export(tmp_path / "default")
    with _records_per_batch(spark, 2):
        small = export(tmp_path / "small")
    assert len(default) > 4 and small == default


def _doubled(spark):
    # a union of two map_only encodes of one scan split: both hold part_key
    # 'm0', so every chunk of the union has each page twice
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").alias("row_id"), "lang", "n_chars"
    )
    enc = encode_table(docs, columns=["lang", "n_chars"], policy="plain", map_only=True)
    return enc.union(enc)


_NAMED = r"ValueError: column '\w+' chunk part_key='m0' chunk_seq=0 has an incomplete or duplicated page set"


def test_decode_refuses_a_duplicated_page_set(spark):
    with pytest.raises(Exception, match=_NAMED + r".*duplicated page_idx \[0"):
        decode_table(_doubled(spark), ["lang", "n_chars"]).collect()


def test_export_refuses_a_duplicated_page_set(spark, tmp_path):
    with pytest.raises(Exception, match=_NAMED):
        export_parquet_files(_doubled(spark), ["lang", "n_chars"], str(tmp_path / "x")).collect()


def test_decode_refuses_a_missing_dictionary_page(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").alias("row_id"), "lang"
    )
    enc = encode_table(docs, columns=["lang"], policy="dict", map_only=True)
    no_dict = enc.filter(~((F.col("column") == "lang") & F.col("page_kind").eqNullSafe("dict")))
    msg = r"ValueError: column 'lang' chunk part_key='m0' chunk_seq=0 has an incomplete.*missing page_idx \[0\]"
    with pytest.raises(Exception, match=msg):
        decode_table(no_dict, ["lang"]).collect()


def _pass_of(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "files" if "MapInArrow by_file_group" in plan else "exchange" if "MapInArrow by_chunk" in plan else plan


@pytest.fixture(scope="module")
def layouts(mixed, tmp_path_factory):
    """The ``mixed`` pages written as a column store and as flat files."""
    _, enc = mixed
    root = tmp_path_factory.mktemp("layouts")
    write_store(enc, str(root / "store"))
    enc.write.parquet(str(root / "flat"))
    return str(root / "store"), str(root / "flat")


@pytest.mark.parametrize("layout", ["store", "flat"])
def test_store_files_and_exchange_paths_agree(spark, mixed, layouts, layout, tmp_path):
    src, _ = mixed
    store, flat = layouts
    bare = read_store(spark, store) if layout == "store" else spark.read.parquet(flat)
    # a computed, persisted copy of the same pages takes the exchange path
    copy = bare.withColumn("_x", F.lit(1)).drop("_x").persist()

    def export(frame, out):
        export_parquet_files(frame, COLS, str(out)).collect()
        return {f: (out / f).read_bytes() for f in sorted(os.listdir(out))}

    try:
        assert _pass_of(decode_table(bare, COLS)) == "files"
        assert _pass_of(decode_table(copy, COLS)) == "exchange"
        got = _rows(decode_table(bare, COLS))
        assert got == _rows(decode_table(copy, COLS)) == _rows(src.select("row_id", *COLS))
        with_key = _rows(decode_table(bare, COLS, include_part_key=True))
        assert with_key == _rows(decode_table(copy, COLS, include_part_key=True))
        audit = sorted(tuple(r) for r in audit_lineage(bare).collect())
        assert audit == sorted(tuple(r) for r in audit_lineage(copy).collect())
        assert len(audit) == copy.filter(F.col("kind") == "chunk").count() and all(r[3] for r in audit)
        files = export(bare, tmp_path / "files")
        assert len(files) > 4 and files == export(copy, tmp_path / "exchange")
    finally:
        copy.unpersist()


def test_store_decode_refuses_two_appends_of_one_key(spark, tmp_path):
    # two appends of one map_only encode both hold part_key 'm0': the key
    # is in two files per column directory, meets in one task, and its
    # page set is refused whole
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").alias("row_id"), "lang", "n_chars"
    )
    enc = encode_table(docs, columns=["lang", "n_chars"], policy="plain", map_only=True)
    store = str(tmp_path / "store")
    write_store(enc, store)
    write_store(enc, store, mode="append")
    dec = decode_table(read_store(spark, store), ["lang", "n_chars"])
    assert _pass_of(dec) == "files"
    with pytest.raises(Exception, match=_NAMED + r".*duplicated page_idx \[0"):
        dec.collect()


def test_store_with_one_file_per_directory_decodes_in_parallel(spark, mixed, tmp_path):
    src, enc = mixed
    store = str(tmp_path / "store")
    write_store(enc.coalesce(1), store)
    assert all(len([f for f in os.listdir(os.path.join(store, d)) if f.endswith(".parquet")]) == 1
               for d in os.listdir(store) if d.startswith("column="))
    n_keys = enc.select("part_key", "chunk_seq").distinct().count()
    dec = decode_table(read_store(spark, store, ["text"]), ["text"])
    assert dec.rdd.getNumPartitions() == min(n_keys, spark.sparkContext.defaultParallelism) > 1
    assert _rows(dec) == _rows(src.select("row_id", "text"))


def test_a_store_frame_with_no_keys_left_decodes_to_an_empty_frame(spark, mixed, layouts, tmp_path):
    _, enc = mixed
    store, _ = layouts
    planned = decode_table(read_store(spark, store), COLS).schema
    # every key pruned away (a filter: the exchange path) ...
    pruned = prune_chunks(read_store(spark, store), "n_chars", gt=10**9)
    # ... and a flat store of no rows (a bare scan: the worker path)
    empty = str(tmp_path / "empty")
    enc.filter(F.lit(False)).write.parquet(empty)
    for frame in (pruned, spark.read.parquet(empty)):
        dec = decode_table(frame, COLS)
        assert dec.schema == planned and dec.collect() == []
