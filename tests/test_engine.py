"""Distributed engine tests: generator determinism, salted repartition,
encode -> decode round trip on the source-repo table, lineage resume.

These mirror the reference's end-to-end tier (SURVEY.md §5 tier 3) with the
north-rule table shape (repo, path, commit, lang, content)."""

import pyspark.sql.functions as F
import pytest

from parquet4seastar_spark.engine.encode_job import encode_table, salted_repartition
from parquet4seastar_spark.engine.generator import generate_source_repos


def test_audit_lineage_detects_corruption(spark):
    import pyspark.sql.functions as F

    from parquet4seastar_spark.engine.encode_job import encode_table
    from parquet4seastar_spark.engine.verify import audit_lineage

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").alias("row_id"), "text", "n_chars", "source"
    )
    enc = encode_table(
        docs, columns=["text", "n_chars"], policy="plain", salt_col="source",
        num_partitions=2, salt_target_rows=2000,
    ).cache()
    clean = audit_lineage(enc)
    assert clean.filter(~F.col("ok")).count() == 0
    assert clean.count() > 0
    # flip one byte inside a PLAIN data page payload: decode still succeeds
    # but the recomputed content sha must diverge from the lineage
    import pandas as pd

    pdf = enc.toPandas()
    target = pdf[(pdf["kind"] == "page") & (pdf["column"] == "n_chars")].index[0]
    blob = bytearray(pdf.at[target, "data"])
    blob[-1] ^= 0xFF
    pdf.at[target, "data"] = bytes(blob)
    corrupted = spark.createDataFrame(pdf, schema=enc.schema)
    bad = audit_lineage(corrupted).filter(~F.col("ok"))
    assert bad.count() >= 1
    assert {r["column"] for r in bad.collect()} == {"n_chars"}
    enc.unpersist()


def test_encode_table_rejects_reserved_column_names(spark):
    # top-level column names ride the dot-joined leaf scheme too: 'a.b'
    # would silently reassemble as struct a{b} on decode (review finding)
    df = spark.createDataFrame([(1, "x")], ["row_id", "a.b"])
    with pytest.raises(ValueError, match="reserved"):
        encode_table(df, columns=["a.b"], salt_col="row_id", num_partitions=1)


def test_audit_lineage_list_of_lists(spark):
    """round-2 gap (ADVICE): the list<list> chunk sha hashed only structure,
    never element values, and chunk_content_sha could not flatten two
    repetition levels — audit over a list<list> column either crashed or
    could not detect value corruption even in principle."""
    import pyspark.sql.functions as F

    from parquet4seastar_spark.engine.encode_job import encode_table
    from parquet4seastar_spark.engine.verify import audit_lineage

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").alias("row_id"),
        F.transform(
            F.split("text", r"\. "), lambda s: F.split(F.trim(s), r"\s+")
        ).alias("sents"),
        "source",
    )
    enc = encode_table(
        docs, columns=["sents"], policy="plain", salt_col="source",
        num_partitions=2, salt_target_rows=2000,
    ).cache()
    clean = audit_lineage(enc)
    assert clean.filter(~F.col("ok")).count() == 0
    assert clean.count() > 0
    # corrupt one byte mid-payload of a PLAIN data page: recomputed sha must
    # diverge (the list2 sha now covers the value bytes)
    pdf = enc.toPandas()
    # list<list> columns are dremel leaf chunks ('sents#g0')
    pages = pdf[(pdf["kind"] == "page") & (pdf["column"].str.startswith("sents"))]
    target = max(pages.index, key=lambda i: len(pdf.at[i, "data"]))
    blob = bytearray(pdf.at[target, "data"])
    blob[len(blob) // 2] ^= 0x55
    pdf.at[target, "data"] = bytes(blob)
    corrupted = spark.createDataFrame(pdf, schema=enc.schema)
    bad = audit_lineage(corrupted).filter(~F.col("ok"))
    assert bad.count() >= 1
    enc.unpersist()


def test_list2_sha_covers_values():
    import pyarrow as pa

    from parquet4seastar_spark.codecs.pages import chunk_content_sha, decode_chunk, encode_chunk

    t = pa.list_(pa.list_(pa.int64()))
    a = pa.array([[[1, 2], [3]], None, [[], [4, None]], [], [[5]]], type=t)
    b = pa.array([[[1, 2], [3]], None, [[], [9, None]], [], [[5]]], type=t)  # one value differs
    ca, cb = encode_chunk(a, policy="plain"), encode_chunk(b, policy="plain")
    assert ca.sha256 != cb.sha256
    assert chunk_content_sha(decode_chunk(ca)) == ca.sha256
    assert chunk_content_sha(decode_chunk(cb)) == cb.sha256


def test_audit_lineage_list_of_decimals(spark):
    """The audit's recompute hashes list<decimal> values in the physical
    (unscaled integer / FLBA) form the encoder hashed, so clean chunks
    audit as ok."""
    from decimal import Decimal

    from pyspark.sql.types import (
        ArrayType, DecimalType, LongType, StringType, StructField, StructType,
    )

    from parquet4seastar_spark.engine.verify import audit_lineage

    schema = StructType([
        StructField("row_id", LongType()),
        StructField("prices", ArrayType(DecimalType(9, 2))),
        StructField("repo", StringType()),
    ])
    rows = [
        (i, None if i % 7 == 0 else [Decimal(i).scaleb(-2), None][: 1 + i % 2], f"r{i % 3}")
        for i in range(200)
    ]
    enc = encode_table(
        spark.createDataFrame(rows, schema), columns=["prices"], policy="plain",
        num_partitions=2, salt_target_rows=2000,
    )
    audit = audit_lineage(enc).collect()
    assert audit and all(r["ok"] for r in audit), [r["column"] for r in audit if not r["ok"]]


def test_export_parquet_files_spark_reads(spark, tmp_path):
    """The export sink writes standard .parquet per chunk group; Spark's own
    parquet reader (a fully independent implementation) reads it back."""
    import pyspark.sql.functions as F

    from parquet4seastar_spark.engine.encode_job import encode_table
    from parquet4seastar_spark.engine.export import export_parquet_files

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").alias("row_id"), "text", "lang", "n_chars", "source"
    )
    enc = encode_table(
        docs, columns=["text", "lang", "n_chars"], policy="auto_fast",
        salt_col="source", num_partitions=2, salt_target_rows=2000,
    )
    out_dir = str(tmp_path / "export")
    manifest = export_parquet_files(enc, ["text", "lang", "n_chars"], out_dir).collect()
    assert sum(r["num_rows"] for r in manifest) == docs.count()
    back = spark.read.parquet(out_dir)
    assert back.count() == docs.count()
    j = docs.join(
        back.select(
            "row_id",
            F.col("text").alias("t2"),
            F.col("lang").alias("l2"),
            F.col("n_chars").alias("n2"),
        ),
        "row_id",
    )
    bad = j.filter(
        ~F.col("text").eqNullSafe(F.col("t2"))
        | ~F.col("lang").eqNullSafe(F.col("l2"))
        | ~F.col("n_chars").eqNullSafe(F.col("n2"))
    )
    assert bad.count() == 0 and j.count() == docs.count()


def test_map_only_encode_no_value_shuffle(spark):
    """map_only encodes each scan split in place: the plan contains NO
    exchange at all (the full-corpus value shuffle is gone), decoded
    values are identical to the salted layout's, and the ratio is within
    ~1% (codecs adapt per chunk regardless of grouping)."""
    import pyspark.sql.functions as F

    from parquet4seastar_spark.engine.decode_job import decode_table

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").alias("row_id"), "text", "source"
    )
    enc = encode_table(docs, columns=["text"], map_only=True)
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    enc = enc.persist()
    got = {r["row_id"]: r["text"] for r in decode_table(enc, ["text"]).collect()}
    exp = {r["row_id"]: r["text"] for r in docs.collect()}
    assert got == exp
    pks = {r["part_key"] for r in enc.select("part_key").distinct().collect()}
    assert all(p.startswith("m") for p in pks)
    # ratio parity vs the salted layout
    def ratio(e):
        r = e.filter(F.col("kind") == "chunk").agg(
            F.sum("input_bytes").alias("i"), F.sum("compressed_size").alias("c")
        ).collect()[0]
        return r["c"] / r["i"]
    salted = encode_table(
        docs, columns=["text"], salt_col="source", salt_target_rows=2000,
        num_partitions=4,
    )
    # at this toy scale map_only packs ONE chunk vs the salted 20, so its
    # per-chunk tables amortize better — it must never be meaningfully
    # WORSE than salted (codecs adapt per chunk regardless of grouping)
    assert ratio(enc) <= ratio(salted) + 0.02
    enc.unpersist()
    with pytest.raises(ValueError, match="map_only"):
        encode_table(docs, columns=["text"], map_only=True, cluster_by="text")
    with pytest.raises(ValueError, match="resume"):
        encode_table(docs, columns=["text"], map_only=True, resume_lineage=salted)


def test_null_salt_keys_are_not_dropped(spark):
    """Rows with a NULL salt value must survive the per-key sizes join
    (an equi-join on the raw column silently drops null keys) and verify
    end-to-end under the fast path."""
    from parquet4seastar_spark.engine.decode_job import decode_table
    from parquet4seastar_spark.engine.verify import roundtrip_verify_fast

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").alias("row_id"),
        "n_chars",
        F.when(F.col("doc_id") % 5 == 0, F.lit(None)).otherwise(F.col("source")).alias("source"),
    )
    n_null = docs.filter(F.col("source").isNull()).count()
    assert n_null > 0
    enc = encode_table(
        docs, columns=["n_chars"], salt_col="source", num_partitions=4,
        salt_target_rows=2000,
    ).persist()
    dec = decode_table(enc, ["n_chars"])
    assert dec.count() == docs.count()  # null-keyed rows encoded too
    res = roundtrip_verify_fast(docs, enc, ["n_chars"], salt_col="source")
    rows = res.collect()
    assert rows and all(r["match"] for r in rows)
    # the null group verifies as its own part keys, and its row count is
    # accounted (a lossy join on both sides would also 'match')
    assert sum(r["rows_src"] for r in rows) == docs.count()
    enc.unpersist()


def test_cluster_by_makes_stats_pruning_effective(spark):
    """cluster_by range-partitions AND sorts within partitions, so chunk
    min/max ranges are narrow and a range predicate prunes most chunks —
    the layout knob that makes stats pruning win by construction.  The
    same predicate on a hash-salted layout prunes (almost) nothing, and
    decoded values are identical either way."""
    from parquet4seastar_spark.engine.decode_job import decode_table, prune_chunks

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").alias("row_id"), "n_chars", "source"
    )

    def kept(enc, **pred):
        enc = enc.persist()
        total = enc.filter((F.col("kind") == "chunk") & (F.col("column") == "n_chars")).count()
        pruned = prune_chunks(enc, "n_chars", **pred)
        k = pruned.filter((F.col("kind") == "chunk") & (F.col("column") == "n_chars")).count()
        rows = sorted(
            (r["row_id"], r["n_chars"])
            for r in decode_table(pruned, ["n_chars"])
            .filter(F.col("n_chars") > 520).collect()
        )
        enc.unpersist()
        return total, k, rows

    clustered = encode_table(
        docs, columns=["n_chars"], cluster_by="n_chars", num_partitions=8,
        chunk_target_bytes=1 << 12, page_target_bytes=1 << 10,
    )
    t_c, k_c, rows_c = kept(clustered, gt=520)
    hashed = encode_table(
        docs, columns=["n_chars"], salt_col="source", num_partitions=8,
        salt_target_rows=100, chunk_target_bytes=1 << 12,
        page_target_bytes=1 << 10,
    )
    t_h, k_h, rows_h = kept(hashed, gt=520)
    exp = sorted(
        (r["row_id"], r["n_chars"])
        for r in docs.filter(F.col("n_chars") > 520).collect()
    )
    assert rows_c == exp and rows_h == exp
    assert k_c <= t_c // 2, (k_c, t_c)  # clustered: most chunks pruned
    assert k_h > t_h // 2, (k_h, t_h)  # hash-salted: pruning can't help
    # part keys are range-bucket ids, one per partition
    pks = {r["part_key"] for r in clustered.select("part_key").distinct().collect()}
    assert pks <= {f"r{i}" for i in range(8)}
    # range boundaries are not stable across runs: resume is refused, and
    # the salted-layout fast verify fails fast instead of reporting a
    # spurious whole-table mismatch
    from parquet4seastar_spark.engine.verify import roundtrip_verify_fast

    with pytest.raises(ValueError, match="cluster_by"):
        encode_table(
            docs, columns=["n_chars"], cluster_by="n_chars",
            resume_lineage=clustered,
        )
    with pytest.raises(ValueError, match="row-level"):
        roundtrip_verify_fast(docs, clustered, ["n_chars"], salt_col="source")


def test_column_partitioned_store(spark, tmp_path):
    """Column-partitioned pages layout (engine/store.py): a single-column
    decode touches only that column's partition directories.

    - read_store path: inputFiles provably contains no text files;
    - plain spark.read.parquet path: Catalyst prunes the same directories
      (decode_table's column name filter is a partition predicate — the
      scan's PartitionFilters show it);
    - nested columns: '#g' dremel leaf names round-trip through Spark's
      partition-path escaping (column=meta%23g0)."""
    import os
    import re

    from parquet4seastar_spark.engine.decode_job import decode_table
    from parquet4seastar_spark.engine.store import (
        is_column_store,
        read_store,
        store_column_dirs,
        write_store,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").alias("row_id"), "text", "lang", "source",
        F.struct("n_chars", "lang").alias("meta"),
    )
    enc = encode_table(
        docs, columns=["text", "lang", "meta"], salt_col="source",
        num_partitions=4, salt_target_rows=2000,
    )
    store = str(tmp_path / "store")
    write_store(enc, store)
    assert is_column_store(store)
    dirs = sorted(os.path.basename(d) for d in os.listdir(store) if d.startswith("column="))
    assert "column=text" in dirs and "column=meta%23g0" in dirs

    sub = read_store(spark, store, ["lang"])
    files = set(sub.inputFiles())
    assert files and not any("column=text" in f for f in files), files
    got = {r["row_id"]: r["lang"] for r in decode_table(sub, ["lang"]).collect()}
    exp = {r["row_id"]: r["lang"] for r in docs.select("row_id", "lang").collect()}
    assert got == exp

    # nested: both dremel leaf dirs resolve for the logical column name,
    # and the struct reassembles from only those partitions
    meta_dirs = {os.path.basename(d) for d in store_column_dirs(store, ["meta"])}
    assert meta_dirs == {"column=meta%23g0", "column=meta%23g1", "column=row_id"}
    sub_meta = read_store(spark, store, ["meta"])
    assert not any("column=text" in f for f in sub_meta.inputFiles())
    m = decode_table(sub_meta, ["meta"]).filter(F.col("row_id") == 3).collect()[0]
    src = docs.filter(F.col("row_id") == 3).collect()[0]
    assert m["meta"]["n_chars"] == src["meta"]["n_chars"]
    assert m["meta"]["lang"] == src["meta"]["lang"]

    # plain read behind a filter (the exchange path): directory pruning
    # via Catalyst partition filters
    d = decode_table(spark.read.parquet(store).filter(F.col("part_key").isNotNull()), ["lang"])
    plan = d._jdf.queryExecution().executedPlan().toString()
    assert re.search(
        r"PartitionFilters: \[\(column#\d+ IN \(row_id,lang\)", plan
    ), plan

    # bare plain read (the workers read the files): the driver drops the
    # other columns' directories, so garbling every text file after the
    # read is planned leaves the decode untouched
    plain = spark.read.parquet(store)
    text_dir = os.path.join(store, "column=text")
    for name in os.listdir(text_dir):
        if name.endswith(".parquet"):
            with open(os.path.join(text_dir, name), "wb") as f:
                f.write(b"not parquet")
    got = {r["row_id"]: r["lang"] for r in decode_table(plain, ["lang"]).collect()}
    assert got == exp


def test_twelve_leaf_struct_keeps_leaf_order_in_every_consumer(spark, tmp_path):
    """A struct stored as 12 Dremel leaf chunks: '#g10' orders after '#g9'
    in the store's directory pick, decode_table, audit_lineage and
    export_parquet_files (read back by Spark)."""
    import re
    from urllib.parse import unquote

    from parquet4seastar_spark.engine.decode_job import decode_table
    from parquet4seastar_spark.engine.export import export_parquet_files
    from parquet4seastar_spark.engine.store import read_store, write_store
    from parquet4seastar_spark.engine.verify import audit_lineage

    kinds = ["string", "int", "array<int>"]

    def field(k, i):
        if (i + k) % (5 + k % 3) == 0:
            return None
        return [f"v{i}-{k}", i * k - 50, [i, k, None][: (i + k) % 4]][k % 3]

    rows = [
        (i, i % 3, None if i % 7 == 0 else {f"f{k}": field(k, i) for k in range(12)}, f"l{i % 4}")
        for i in range(60)
    ]
    struct = ",".join(f"f{k}:{kinds[k % 3]}" for k in range(12))
    src = spark.createDataFrame(rows, f"row_id long, salt int, big struct<{struct}>, lang string")
    store = str(tmp_path / "store")
    write_store(encode_table(
        src, columns=["big", "lang"], policy="plain", salt_col="salt", num_partitions=2,
        salt_target_rows=20,
    ), store)
    enc = read_store(spark, store, ["big"])
    # input files are URIs: one unquote gives the directory name on disk
    dirs = {re.search(r"/column=([^/]+)/", unquote(f)).group(1) for f in enc.inputFiles()}
    assert dirs == {"row_id", *(f"big%23g{k}" for k in range(12))}

    want = {i: big for i, _, big, _ in rows}

    def got(frame):
        return {
            r["row_id"]: None if r["big"] is None else r["big"].asDict(recursive=True)
            for r in frame.select("row_id", "big").collect()
        }

    assert got(decode_table(enc, ["big"])) == want
    audit = audit_lineage(enc).collect()
    assert len(audit) > 13 and all(r["ok"] for r in audit)
    out = str(tmp_path / "export")
    export_parquet_files(enc, ["big"], out).collect()
    assert got(spark.read.parquet(out)) == want


def test_chunk_stats_pruning(spark):
    import pyspark.sql.functions as F

    from parquet4seastar_spark.engine.decode_job import decode_table, prune_chunks
    from parquet4seastar_spark.engine.encode_job import encode_table

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # cluster chunks by value range so stats have pruning power: a salt
    # target below the big buckets' sizes gives each of them part keys of
    # its own (keys at or below the target are packed together)
    src = docs.select(
        F.col("doc_id").alias("row_id"),
        "n_chars",
        F.floor(F.col("n_chars") / 200).cast("string").alias("bucket"),
    )
    enc = encode_table(
        src, columns=["n_chars"], salt_col="bucket", num_partitions=4,
        salt_target_rows=50, size_col="bucket",
    ).cache()
    thr = 400
    pruned = prune_chunks(enc, "n_chars", gt=thr)
    assert pruned.count() < enc.count()  # chunks actually skipped
    got = decode_table(pruned, ["n_chars"]).filter(F.col("n_chars") > thr)
    exp = src.filter(F.col("n_chars") > thr)
    assert got.count() == exp.count()
    j = got.join(exp.select("row_id", F.col("n_chars").alias("e")), "row_id")
    assert j.filter(F.col("n_chars") != F.col("e")).count() == 0
    # string stats: equality prune on a low-cardinality clustered column
    src2 = docs.select(F.col("doc_id").alias("row_id"), "lang")
    enc2 = encode_table(
        src2, columns=["lang"], salt_col="lang", num_partitions=4,
        salt_target_rows=50, size_col="lang",
    ).cache()
    pruned2 = prune_chunks(enc2, "lang", eq="en")
    assert pruned2.count() < enc2.count()
    got2 = decode_table(pruned2, ["lang"]).filter(F.col("lang") == "en")
    assert got2.count() == docs.filter(F.col("lang") == "en").count()
    # fail-safe: an absent/typo'd column has an empty drop set -> prunes
    # NOTHING (and decode_table still raises on a truly missing column)
    assert prune_chunks(enc2, "no_such_column", gt=0).count() == enc2.count()
    enc.unpersist()
    enc2.unpersist()


def test_engine_array_column_roundtrip(spark):
    import pyspark.sql.functions as F

    from parquet4seastar_spark.engine.decode_job import decode_table
    from parquet4seastar_spark.engine.encode_job import encode_table

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        F.col("vec_id").alias("row_id"), "embedding", "label"
    )
    enc = encode_table(
        emb, columns=["embedding", "label"], policy="auto", salt_col="label",
        num_partitions=2, salt_target_rows=200, page_target_bytes=8 << 10,
    )
    dec = decode_table(enc, ["embedding", "label"])
    joined = emb.join(
        dec.withColumnRenamed("embedding", "e2").withColumnRenamed("label", "l2"), "row_id"
    )
    assert joined.count() == emb.count()
    bad = joined.filter(
        ~F.col("embedding").eqNullSafe(F.col("e2")) | ~F.col("label").eqNullSafe(F.col("l2"))
    )
    assert bad.count() == 0
from parquet4seastar_spark.engine.verify import lineage_table, metrics_summary, roundtrip_verify

N_ROWS = 600


@pytest.fixture(scope="module")
def source(spark):
    df = generate_source_repos(spark, N_ROWS, n_repos=25, seed=42).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def encoded(spark, source):
    enc = encode_table(
        source, policy="auto", num_partitions=4, page_target_bytes=64 << 10, chunk_target_bytes=1 << 20
    ).cache()
    enc.count()
    yield enc
    enc.unpersist()


def test_generator_deterministic(spark):
    a = generate_source_repos(spark, 100, n_repos=10, seed=7, partitions=2).orderBy("row_id").collect()
    b = generate_source_repos(spark, 100, n_repos=10, seed=7, partitions=5).orderBy("row_id").collect()
    assert a == b  # identical at any parallelism


def test_generator_shape(source):
    assert source.columns == ["row_id", "repo", "path", "commit", "lang", "content"]
    assert source.count() == N_ROWS
    # nullable lang/content present
    assert source.filter(F.col("lang").isNull()).count() > 0
    # zipf skew: top repo much bigger than median
    sizes = source.groupBy("repo").count().orderBy(F.desc("count")).collect()
    assert sizes[0]["count"] >= 5 * sizes[len(sizes) // 2]["count"]


def test_salted_repartition_splits_jumbo(spark, source):
    salted = salted_repartition(source, 4, salt_target_bytes=64 << 10)
    per_key = salted.groupBy("part_key").agg(F.sum(F.octet_length("content")).alias("b"))
    rows = per_key.collect()
    # jumbo repos are split: several part_keys for the biggest repo
    keys = [r["part_key"] for r in rows]
    repos = {k.rsplit("#", 1)[0] for k in keys}
    assert len(keys) > len(repos)


def test_roundtrip_all_columns(source, encoded):
    res = roundtrip_verify(source, encoded, ["repo", "path", "commit", "lang", "content"]).collect()[0]
    assert res["rows"] == N_ROWS
    for c in ["repo", "path", "commit", "lang", "content"]:
        assert res[f"{c}_mismatches"] == 0, c


def test_metrics_and_compression(source, encoded):
    m = {r["column"]: r for r in metrics_summary(encoded).collect()}
    assert set(m) == {"row_id", "repo", "path", "commit", "lang", "content"}
    # auto-selection must compress every column vs PLAIN on this table
    assert m["repo"]["ratio"] < 0.3  # low cardinality -> dict
    assert m["row_id"]["ratio"] < 0.5  # sequential ints -> DBP
    assert m["content"]["ratio"] < 0.9
    chunks = lineage_table(encoded)
    assert chunks.filter(F.col("sha256").isNull()).count() == 0


PACK_TARGET = 60  # rows: splits the biggest fixture repos, packs the rest


def _pairs(enc) -> set:
    """(part_key, salt key) pairs an encode's chunk rows record."""
    rows = enc.filter(F.col("kind") == "chunk").select("part_key", "salt_keys").collect()
    return {(r["part_key"], k) for r in rows for k in r["salt_keys"]}


def _packed_encode(df, **kw):
    return encode_table(
        df, columns=["path", "content"], policy="plain", num_partitions=4,
        salt_target_rows=PACK_TARGET, **kw,
    )


def _store_row_ids(spark, path, *encs) -> list:
    """Row ids decoded from ONE store holding every encode in ``encs``
    (the first written, the rest appended): a part key two encodes share
    fails the decode as a duplicated page set, a row stored twice shows
    up twice."""
    from parquet4seastar_spark.engine.decode_job import decode_table
    from parquet4seastar_spark.engine.store import read_store, write_store

    for i, enc in enumerate(encs):
        write_store(enc, str(path), mode="append" if i else "overwrite")
    stored = read_store(spark, str(path), ["path"])
    return sorted(r["row_id"] for r in decode_table(stored, ["path"]).select("row_id").collect())


def test_packed_layout_verifies_and_flags_an_altered_row(spark, source):
    """Keys at or below the salt target share packed part keys, keys above
    it are split; each chunk records its salt keys, each key's rows are
    contiguous in its chunk, the fast verify matches, and one altered row
    inside a packed key fails exactly that part key."""
    from parquet4seastar_spark.engine.decode_job import decode_table
    from parquet4seastar_spark.engine.encode_job import PACKED_BASE
    from parquet4seastar_spark.engine.verify import roundtrip_verify_fast

    enc = _packed_encode(source).persist()
    chunks = enc.filter((F.col("kind") == "chunk") & (F.col("column") == "row_id")).collect()
    packed = [r for r in chunks if r["part_key"].startswith(PACKED_BASE)]
    split = [r for r in chunks if not r["part_key"].startswith(PACKED_BASE)]
    assert split and all(r["salt_buckets"] > 1 for r in split)
    assert all(r["salt_keys"] == [r["part_key"].rsplit("#", 1)[0]] for r in split)
    assert packed and all(r["salt_buckets"] == 1 and r["part_key"].endswith("#0") for r in packed)
    assert max(len(r["salt_keys"]) for r in packed) > 1
    assert all(r["salt_keys"] == sorted(r["salt_keys"]) for r in chunks)
    # every small key sits whole in one packed key
    owners = {}
    for r in packed:
        for k in r["salt_keys"]:
            owners.setdefault(k, set()).add(r["part_key"])
    assert all(len(v) == 1 for v in owners.values())
    # a packed chunk holds each repo's rows as one run
    seq = decode_table(enc, ["path"], include_part_key=True).select("_part_key", "row_id").collect()
    repo_of = {r["row_id"]: r["repo"] for r in source.select("row_id", "repo").collect()}
    runs: dict = {}
    prev = None
    for r in seq:
        cur = (r["_part_key"], repo_of[r["row_id"]])
        if cur != prev:
            runs[cur] = runs.get(cur, 0) + 1
        prev = cur
    assert all(n == 1 for (pk, _), n in runs.items() if pk.startswith(PACKED_BASE))
    out = roundtrip_verify_fast(source, enc, ["path", "content"]).collect()
    assert out and all(r["match"] for r in out)
    assert sum(r["rows_src"] for r in out) == N_ROWS
    assert {r["part_key"] for r in out} == {r["part_key"] for r in chunks}
    # alter one source row of a repo packed with others
    shared = next(r for r in packed if len(r["salt_keys"]) > 1)
    victim = source.filter(F.col("repo") == shared["salt_keys"][-1]).first()["row_id"]
    altered = source.withColumn(
        "content",
        F.when(F.col("row_id") == victim, F.concat(F.coalesce("content", F.lit("")), F.lit("x")))
        .otherwise(F.col("content")),
    )
    bad = [r for r in roundtrip_verify_fast(altered, enc, ["path", "content"]).collect() if not r["match"]]
    assert [(r["part_key"], r["rows_src"], r["rows_dec"]) for r in bad] == [
        (shared["part_key"], shared["num_rows"], shared["num_rows"])
    ]
    enc.unpersist()


def test_verify_without_salt_keys_uses_the_bucket_rule(spark, source):
    """A lineage without ``salt_keys`` (written before the field existed)
    still verifies: part keys are rebuilt as '<key>#<salt>' from the
    recorded bucket counts, and an altered row still fails its key.  Every
    repo kept here is above the target, so the layout is the split one
    such a lineage describes."""
    from parquet4seastar_spark.engine.verify import roundtrip_verify_fast

    big = source.groupBy("repo").count().filter(F.col("count") > 8).select("repo")
    src = source.join(big, "repo").select(*source.columns).cache()
    enc = encode_table(
        src, columns=["path"], policy="plain", num_partitions=4, salt_target_rows=8
    ).persist()
    assert enc.filter(F.col("kind") == "chunk").agg(F.min("salt_buckets")).first()[0] > 1
    old = enc.drop("salt_keys")
    out = roundtrip_verify_fast(src, old, ["path"]).collect()
    assert out and all(r["match"] for r in out)
    assert sum(r["rows_src"] for r in out) == src.count()
    victim = src.first()["row_id"]
    altered = src.withColumn(
        "path", F.when(F.col("row_id") == victim, F.lit("altered")).otherwise(F.col("path"))
    )
    bad = [r for r in roundtrip_verify_fast(altered, old, ["path"]).collect() if not r["match"]]
    assert len(bad) == 1
    enc.unpersist()
    src.unpersist()


def test_part_keys_do_not_depend_on_num_partitions(spark, source):
    """The packing is a function of the size table and the target alone:
    the same row -> part key map under 2 and 4 partitions, and the packed
    bins follow the documented running-sum rule."""
    from parquet4seastar_spark.engine.encode_job import MIN_PACKED_BINS, PACKED_BASE

    def key_map(n):
        salted = salted_repartition(source, n, salt_target_rows=PACK_TARGET)
        return sorted(tuple(r) for r in salted.select("row_id", "repo", "part_key").collect())

    two, four = key_map(2), key_map(4)
    assert two == four
    sizes: dict = {}
    for _, repo, _ in two:
        sizes[repo] = sizes.get(repo, 0) + 1
    small = sorted((k for k in sizes if sizes[k] <= PACK_TARGET), key=lambda k: (-sizes[k], k))
    total = sum(sizes[k] for k in small)
    pack = min(PACK_TARGET, -(-total // MIN_PACKED_BINS))
    expect, cum = {}, 0
    for repo in small:
        cum += sizes[repo]
        expect[repo] = f"{PACKED_BASE}{(cum - 1) // pack}#0"
    got = {repo: pk for _, repo, pk in two if repo in expect}
    assert got == expect
    bins = sorted(set(got.values()))
    # the fixture is small, so the MIN_PACKED_BINS floor sets the pack size
    assert pack < PACK_TARGET and 1 < len(bins) <= MIN_PACKED_BINS
    for b in bins:  # each bin holds under two targets
        assert sum(sizes[k] for k, pk in got.items() if pk == b) < 2 * PACK_TARGET


def test_resume_skips_completed(spark, source, tmp_path):
    """A partial lineage (the chunks of some part keys) skips the rows it
    stores: its split buckets by part key, its packed keys' repos whole.
    The rest is encoded into part keys the lineage does not hold, and one
    store holding both encodes decodes every source row exactly once."""
    from parquet4seastar_spark.engine.encode_job import PACKED_BASE

    enc1 = _packed_encode(source).persist()
    lineage = enc1.filter(F.col("kind") == "chunk")
    all_keys = {r["part_key"] for r in lineage.select("part_key").distinct().collect()}
    done_keys = set(sorted(all_keys)[::2])
    assert len(all_keys) > 1
    assert any(k.startswith(PACKED_BASE) for k in done_keys)
    assert any(not k.startswith(PACKED_BASE) for k in done_keys)
    stored = enc1.filter(F.col("part_key").isin(sorted(done_keys)))
    enc2 = _packed_encode(source, resume_lineage=stored.filter(F.col("kind") == "chunk")).persist()
    pairs1, pairs2 = _pairs(enc1), _pairs(enc2)
    assert not {pk for pk, _ in pairs2} & done_keys
    split = lambda pairs: {pk for pk, _ in pairs if not pk.startswith(PACKED_BASE)}  # noqa: E731
    assert split(pairs2) == split(pairs1) - done_keys
    packed_repos = lambda pairs: {k for pk, k in pairs if pk.startswith(PACKED_BASE)}  # noqa: E731
    done_repos = {k for pk, k in pairs1 if pk in done_keys and pk.startswith(PACKED_BASE)}
    assert packed_repos(pairs2) == packed_repos(pairs1) - done_repos
    got = _store_row_ids(spark, tmp_path / "store", stored, enc2)
    assert got == list(range(N_ROWS))
    enc2.unpersist()
    enc1.unpersist()


def test_resume_after_a_new_small_repo_loses_no_row(spark, source, tmp_path):
    """A new small repo shifts the packing of the keys after it in the
    (size desc, key) order.  Resuming from the old lineage encodes only
    the new repo's rows, under a bin after the lineage's highest one, so
    one store holding both encodes decodes each source row exactly once,
    and the fast verify of both encodes against the grown source matches."""
    from parquet4seastar_spark.engine.encode_job import PACKED_BASE
    from parquet4seastar_spark.engine.verify import roundtrip_verify_fast

    enc1 = _packed_encode(source).persist()
    new = spark.createDataFrame(
        [(10_000 + i, "zz/new-repo", f"src/f{i}.py", "c0ffee", "Python", f"x = {i}") for i in range(3)],
        source.schema,
    )
    grown = source.unionByName(new)
    enc2 = _packed_encode(grown, resume_lineage=enc1.filter(F.col("kind") == "chunk")).persist()
    pairs1, pairs2 = _pairs(enc1), _pairs(enc2)
    assert {k for _, k in pairs2} == {"zz/new-repo"}
    bin_of = lambda pk: int(pk[len(PACKED_BASE):].split("#")[0])  # noqa: E731
    last_bin = max(bin_of(pk) for pk, _ in pairs1 if pk.startswith(PACKED_BASE))
    (new_key,) = {pk for pk, _ in pairs2}
    assert new_key.startswith(PACKED_BASE) and bin_of(new_key) > last_bin
    got = _store_row_ids(spark, tmp_path / "store", enc1, enc2)
    assert got == sorted(r["row_id"] for r in grown.select("row_id").collect())
    out = roundtrip_verify_fast(grown, enc1.unionByName(enc2), ["path", "content"]).collect()
    assert all(r["match"] for r in out) and sum(r["rows_src"] for r in out) == len(got)
    enc2.unpersist()
    enc1.unpersist()


def test_resume_refuses_a_lineage_without_salt_keys(spark, source):
    enc = _packed_encode(source)
    with pytest.raises(ValueError, match="no salt_keys column"):
        _packed_encode(source, resume_lineage=enc.filter(F.col("kind") == "chunk").drop("salt_keys"))


def test_reference_policy_not_smaller_than_auto(spark, source):
    enc_auto = encode_table(source, policy="auto", num_partitions=4)
    enc_ref = encode_table(source, policy="reference", num_partitions=4)
    a = {r["column"]: r["encoded_bytes"] for r in metrics_summary(enc_auto).collect()}
    r = {r["column"]: r["encoded_bytes"] for r in metrics_summary(enc_ref).collect()}
    for col in ["repo", "path", "commit", "lang", "content"]:
        assert a[col] <= r[col], col


def test_engine_gzip_compression(spark, source):
    enc = encode_table(
        source, columns=["content"], num_partitions=2, compression="gzip"
    )
    res = roundtrip_verify(source, enc, ["content"]).collect()[0]
    assert res["content_mismatches"] == 0
    chunks = enc.filter(F.col("kind") == "chunk").filter(F.col("column") == "content")
    row = chunks.agg(F.sum("uncompressed_size").alias("u"), F.sum("compressed_size").alias("c")).collect()[0]
    assert row["c"] < row["u"]  # gzip layer actually compresses


def test_encode_table_rejects_no_columns(spark):
    import pytest as _pytest

    df = spark.range(3).withColumnRenamed("id", "row_id").withColumn("x", F.lit("a"))
    with _pytest.raises(Exception, match="no encodable columns"):
        encode_table(df.select("row_id"), columns=None)


def test_export_parquet_files_nested_columns(spark, tmp_path):
    """Distributed export of NESTED columns (dremel leaf chunks wrapped in
    DremelColumn): Spark's own parquet reader gets the values back."""
    import pyspark.sql.functions as F

    from parquet4seastar_spark.engine.encode_job import encode_table
    from parquet4seastar_spark.engine.export import export_parquet_files

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").alias("row_id"),
        F.struct("lang", "n_chars").alias("meta"),
        F.transform(
            F.split("text", r"\. "), lambda s: F.split(F.trim(s), r"\s+")
        ).alias("sents"),
        "n_chars",
        "source",
    )
    enc = encode_table(
        docs, columns=["meta", "sents", "n_chars"], policy="auto_fast",
        salt_col="source", num_partitions=2, salt_target_rows=2000,
    )
    out = str(tmp_path / "out")
    export_parquet_files(enc, ["meta", "sents", "n_chars"], out).count()
    back = spark.read.parquet(out)
    src = docs.select(
        "row_id",
        F.col("meta.lang").alias("lang"),
        F.col("meta.n_chars").alias("mn"),
        F.array_join(F.transform("sents", lambda x: F.array_join(x, ",")), "|").alias("canon"),
        "n_chars",
    )
    got = back.select(
        "row_id",
        F.col("meta.lang").alias("lang"),
        F.col("meta.n_chars").alias("mn"),
        F.array_join(F.transform("sents", lambda x: F.array_join(x, ",")), "|").alias("canon"),
        "n_chars",
    )
    assert got.count() == src.count()
    assert src.exceptAll(got).count() == 0 and got.exceptAll(src).count() == 0


def test_decode_nested_field_names_with_spaces(spark):
    """Nested field names that aren't plain identifiers survive the decode
    schema hand-off (the output schema is a real StructType, never a DDL
    string that would need backtick escaping)."""
    import pyspark.sql.functions as F

    from parquet4seastar_spark.engine.decode_job import decode_table

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").alias("row_id"),
        F.struct(
            F.col("lang").alias("my lang"), F.col("n_chars").alias("char-count")
        ).alias("meta"),
        "source",
    )
    enc = encode_table(
        docs, columns=["meta"], policy="plain", salt_col="source",
        num_partitions=2, salt_target_rows=2000,
    )
    dec = decode_table(enc, ["meta"])
    got = dec.select(
        "row_id",
        F.col("meta").getField("my lang").alias("l"),
        F.col("meta").getField("char-count").alias("n"),
    )
    src = docs.select("row_id", F.col("meta").getField("my lang").alias("l"),
                      F.col("meta").getField("char-count").alias("n"))
    assert got.exceptAll(src).count() == 0 and src.exceptAll(got).count() == 0


def test_roundtrip_verify_fast_no_row_shuffle(spark):
    """Shuffle-free verify (PLANS.md §2 stretch): per-part_key commutative
    hashes match on clean data, catch a corrupted page, and the physical
    plan contains NO exchange of the decoded row values — only the tiny
    partial-aggregate and final per-key joins."""
    import pyspark.sql.functions as F

    from parquet4seastar_spark.engine.encode_job import encode_table
    from parquet4seastar_spark.engine.verify import roundtrip_verify_fast

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").alias("row_id"), "text", "n_chars", "source"
    )
    enc = encode_table(
        docs, columns=["text", "n_chars"], policy="plain", salt_col="source",
        num_partitions=2, salt_target_rows=2000,
    ).cache()
    out = roundtrip_verify_fast(docs, enc, ["text", "n_chars"], salt_col="source")
    rows = out.collect()
    assert rows and all(r["match"] for r in rows)
    assert sum(r["rows_src"] for r in rows) == docs.count()
    # plan: the decoded side aggregates in place -- no Exchange between the
    # decode (MapInArrow by_chunk) and its partial aggregate
    plan = out._jdf.queryExecution().executedPlan().toString()
    # plans print parents above children: the segment between the decode's
    # partial HashAggregate (nearest above) and the MapInArrow by_chunk node
    # must carry no Exchange -- the page-grouping shuffle BELOW the decode
    # is decode's own and inherent.  The name matters: the cached encode's
    # MapInArrow encode_partition prints higher up, under the source side's
    # broadcast of the salt buckets
    assert "MapInArrow by_chunk" in plan, plan
    pre = plan[: plan.index("MapInArrow by_chunk")]
    last_agg = pre.rindex("HashAggregate")
    assert "Exchange" not in pre[last_agg:], pre[last_agg:]
    # corruption detection: flip a byte in one text page
    pdf = enc.toPandas()
    target = pdf[(pdf["kind"] == "page") & (pdf["column"] == "text")].index[0]
    blob = bytearray(pdf.at[target, "data"])
    blob[len(blob) // 2] ^= 0x01
    pdf.at[target, "data"] = bytes(blob)
    corrupted = spark.createDataFrame(pdf, schema=enc.schema)
    bad = roundtrip_verify_fast(docs, corrupted, ["text", "n_chars"], salt_col="source")
    assert bad.filter(~F.col("match")).count() >= 1
    enc.unpersist()


def test_bloom_prunes_point_lookups_minmax_cannot(spark):
    """A literal INSIDE every chunk's [min, max] but present in none: range
    stats keep every chunk, the bloom drops them all; a present literal
    keeps exactly its chunks and decodes the right rows."""
    import pyspark.sql.functions as F

    from parquet4seastar_spark.engine.decode_job import decode_table, prune_chunks
    from parquet4seastar_spark.engine.encode_job import encode_table

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").alias("row_id"),
        F.concat(F.lit("key-"), F.format_string("%04d", F.col("doc_id"))).alias("k"),
        "source",
    )
    enc = encode_table(
        docs, columns=["k"], policy="plain", salt_col="source", num_partitions=2,
    ).cache()
    chunks = enc.filter(F.col("kind") == "chunk").filter(F.col("column") == "k")
    n_chunks = chunks.count()
    assert chunks.filter(F.col("bloom").isNotNull()).count() == n_chunks

    # absent but inside the global range ('key-0000' < 'key-00x0' < 'key-0499')
    pruned_absent = prune_chunks(enc, "k", eq="key-00x0")
    kept = pruned_absent.filter(
        (F.col("kind") == "chunk") & (F.col("column") == "k")
    ).count()
    assert kept == 0  # min/max alone would keep every chunk

    # present literal: its chunk survives and decode returns exactly it
    pruned_present = prune_chunks(enc, "k", eq="key-0123").persist()
    assert pruned_present.filter(
        (F.col("kind") == "chunk") & (F.col("column") == "k")
    ).count() >= 1
    rows = (
        decode_table(pruned_present, ["k"])
        .filter(F.col("k") == "key-0123")
        .collect()
    )
    assert [r["row_id"] for r in rows] == [123]
    pruned_present.unpersist()

    # isin: batched point lookups — chunks survive iff ANY value may match
    all_absent = prune_chunks(enc, "k", isin=["key-00x0", "key-01x1"])
    assert all_absent.filter(
        (F.col("kind") == "chunk") & (F.col("column") == "k")
    ).count() == 0
    mixed = prune_chunks(enc, "k", isin=["key-00x0", "key-0123"]).persist()
    assert mixed.filter(
        (F.col("kind") == "chunk") & (F.col("column") == "k")
    ).count() >= 1
    got = decode_table(mixed, ["k"]).filter(F.col("k").isin("key-00x0", "key-0123")).collect()
    assert [r["row_id"] for r in got] == [123]
    mixed.unpersist()
    enc.unpersist()


def test_bloom_ignored_on_type_domain_mismatch(spark):
    """A literal hashed in a different domain than the chunk's physical
    values (str vs int column) must NOT consult the bloom — Spark's
    cast-equality could still match rows, so pruning must stay
    conservative (the chunk survives)."""
    import pyspark.sql.functions as F

    from parquet4seastar_spark.engine.decode_job import prune_chunks
    from parquet4seastar_spark.engine.encode_job import encode_table

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").alias("row_id"), F.col("n_chars").alias("v"), "source"
    )
    enc = encode_table(
        docs, columns=["v"], policy="plain", salt_col="source", num_partitions=2
    ).cache()
    present_int = docs.select("v").first()["v"]
    n_chunks = enc.filter((F.col("kind") == "chunk") & (F.col("column") == "v")).count()
    # str literal against the INT64 column: bloom bits are in the int
    # domain; every chunk must survive (numeric stats vs a str literal are
    # also inapplicable), exactly the pre-bloom conservative behavior
    kept = prune_chunks(enc, "v", eq=str(present_int)).filter(
        (F.col("kind") == "chunk") & (F.col("column") == "v")
    ).count()
    assert kept == n_chunks
    enc.unpersist()


def test_decode_table_persists_nothing(spark):
    """decode_table leaves Spark's cache as it found it: encode -> decode
    -> count of a computed pages frame (one chained straight off
    encode_table) holds no more persisted RDDs than before."""
    from parquet4seastar_spark.engine.decode_job import decode_table
    from parquet4seastar_spark.engine.encode_job import encode_table

    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    enc = encode_table(_docs(spark), columns=["text"], policy="plain", salt_col="source", num_partitions=2)
    assert decode_table(enc, ["text"]).count() == 500
    assert persisted().size() == before
    assert not (enc.storageLevel.useMemory or enc.storageLevel.useDisk)


def test_verify_fast_empty_top_salt_bucket(spark):
    """A key whose HIGHEST salt bucket received zero rows must still verify
    clean: the bucket count is read from the recorded lineage, not inferred
    as max(observed salt)+1 (which would rehash every source row into a
    different part_key and report a spurious whole-table mismatch)."""
    import pyspark.sql.functions as F

    from parquet4seastar_spark.engine.encode_job import encode_table
    from parquet4seastar_spark.engine.verify import roundtrip_verify_fast

    # pick row_ids that never land in the top bucket of a 3-bucket salt
    # (buckets = ceil(9 rows / 4) = 3; keep ids with pmod(xxhash64) != 2)
    cand = (
        spark.range(400)
        .withColumn("b", F.pmod(F.xxhash64("id"), F.lit(3)))
        .filter(F.col("b") != 2)
        .limit(9)
        .collect()
    )
    ids = [r["id"] for r in cand]
    docs = spark.createDataFrame(
        [(i, "r1", f"text-{i}") for i in ids], "row_id long, repo string, content string"
    )
    enc = encode_table(
        docs, columns=["content"], policy="plain", num_partitions=2, salt_target_rows=4
    ).cache()
    chunks = enc.filter(F.col("kind") == "chunk")
    salts = sorted(
        int(r["part_key"].split("#")[-1]) for r in chunks.select("part_key").distinct().collect()
    )
    assert 2 not in salts and max(salts) < 2  # precondition: top bucket empty
    assert chunks.agg(F.max("salt_buckets")).collect()[0][0] == 3
    out = roundtrip_verify_fast(docs, enc, ["content"], salt_col="repo").collect()
    assert out and all(r["match"] for r in out)
    assert sum(r["rows_src"] for r in out) == 9
    enc.unpersist()


def test_nested_timestamp_roundtrip(spark):
    """Timestamps decode the same at any depth: flat, list, struct, map
    and list<struct> leaves all come back as Spark timestamp_ntz holding
    the source's UTC wall time (every output type is derived from one
    logical -> arrow map)."""
    import datetime

    from parquet4seastar_spark.engine.decode_job import decode_table

    t0 = datetime.datetime(2021, 3, 4, 5, 6, 7, 891011)
    rows = []
    for i in range(60):
        t = t0 + datetime.timedelta(hours=7 * i, microseconds=i)
        rows.append((
            i, i % 3, t,
            None if i % 11 == 0 else [t, None] if i % 4 else [],
            None if i % 7 == 0 else {"t": None if i % 5 == 0 else t},
            None if i % 9 == 0 else {f"k{j}": (None if j == 1 else t) for j in range(i % 4)},
            [] if i % 6 == 0 else [{"t": t}, None, {"t": None}],
        ))
    cols = ["ts", "a", "s", "m", "ls"]
    ntz = spark.createDataFrame(
        rows,
        "row_id long, salt int, ts timestamp_ntz, a array<timestamp_ntz>, "
        "s struct<t: timestamp_ntz>, m map<string, timestamp_ntz>, "
        "ls array<struct<t: timestamp_ntz>>",
    )
    # the map and list<struct> leaves hold session-zone (UTC) timestamps
    src = ntz.select(
        "row_id", "salt", "ts", "a", "s",
        F.col("m").cast("map<string, timestamp>").alias("m"),
        F.col("ls").cast("array<struct<t: timestamp>>").alias("ls"),
    )
    enc = encode_table(
        src, columns=cols, policy="plain", salt_col="salt",
        num_partitions=2, salt_target_rows=50,
    )
    dec = decode_table(enc, cols)
    assert [f.dataType.simpleString() for f in dec.schema.fields[1:]] == [
        "timestamp_ntz", "array<timestamp_ntz>", "struct<t:timestamp_ntz>",
        "map<string,timestamp_ntz>", "array<struct<t:timestamp_ntz>>",
    ]
    got = [r.asDict(recursive=True) for r in dec.orderBy("row_id").collect()]
    assert got == [dict(zip(["row_id", *cols], (i, *rest))) for i, _, *rest in rows]


def _planned_map(enc) -> dict:
    import json

    from parquet4seastar_spark.engine.encode_job import DECODED_SCHEMA_KEY

    raw = json.loads(enc.schema["logical"].metadata[DECODED_SCHEMA_KEY])
    return {name: tuple(v) for name, v in raw.items()}


def _discovered_map(enc) -> dict:
    """The map decode_table's discovery collects from the chunk rows."""
    return {
        r["column"]: (r["logical"], int(r["type_length"] or 0))
        for r in enc.filter(F.col("kind") == "chunk")
        .select("column", "logical", "type_length").distinct().collect()
    }


def _docs(spark):
    """500 rows of (row_id, text, lang, source): a small text corpus."""
    rows = [
        (i, f"doc {i} " + "lorem ipsum " * (i % 9), ("en", "de", "fr")[i % 3], f"src{i % 4}")
        for i in range(500)
    ]
    return spark.createDataFrame(rows, "row_id long, text string, lang string, source string")


def test_decoded_schema_map_equals_discovery(spark):
    """The decoded schema encode_table records from the input's types alone
    names the same chunks with the same (logical, type_length) as the chunk
    rows the encode writes, for every flat, list and Dremel shape."""
    import datetime
    import decimal

    from pyspark.sql.types import StructType

    from parquet4seastar_spark.engine.decode_job import decode_table

    t0 = datetime.datetime(2022, 1, 2, 3, 4, 5, 6)
    rows = []
    for i in range(40):
        rows.append((
            i, i % 2, None if i % 5 == 0 else i, i * 7, i / 3, i % 3 == 0,
            decimal.Decimal(i * 101) / 100, decimal.Decimal(10**20 + i) / 100,
            t0 + datetime.timedelta(seconds=i), t0 - datetime.timedelta(days=i),
            bytes([i, i + 1, i + 2]), [i, None] if i % 4 else None,
            [[i], [], None] if i % 3 else [], {"a": i, "b": str(i)} if i % 6 else None,
            {f"k{j}": j for j in range(i % 3)}, [{"x": i / 2, "y": None}, None],
        ))
    cols = ["i32", "i64", "d", "b", "dec", "dec_flba", "ts", "tsn", "fl",
            "l", "ll", "st", "m", "ls"]
    src = spark.createDataFrame(
        rows,
        "row_id long, salt int, i32 int, i64 long, d double, b boolean, "
        "dec decimal(12,2), dec_flba decimal(25,2), ts timestamp, tsn timestamp_ntz, "
        "fl binary, l array<int>, ll array<array<long>>, st struct<a:int,b:string>, "
        "m map<string,int>, ls array<struct<x:double,y:string>>",
    )
    enc = encode_table(
        src, columns=cols, policy="plain", salt_col="salt", num_partitions=2,
        salt_target_rows=50, fixed_len={"fl": 3},
    ).persist()
    planned = _planned_map(enc)
    # the pages frame's fields, declared once in arrow (ENCODED_SCHEMA)
    assert [(f.name, f.dataType, f.nullable) for f in enc.schema] == [
        (f.name, f.dataType, f.nullable) for f in StructType.fromDDL(
            "kind string, part_key string, chunk_id string, column string, chunk_seq int, "
            "page_idx int, page_kind string, encoding string, num_values long, "
            "num_non_null long, uncompressed_size long, compressed_size long, data binary, "
            "ptype string, logical string, nullable boolean, num_rows long, num_nulls long, "
            "cardinality long, encodings string, compression string, type_length int, "
            "input_bytes long, encoded_bytes long, sha256 string, n_pages int, "
            "max_def int, max_rep int, elem_nullable boolean, stat_min_num double, "
            "stat_max_num double, stat_min_bin binary, stat_max_bin binary, "
            "salt_buckets int, bloom array<long>, salt_keys array<string>"
        )
    ]
    assert planned == _discovered_map(enc)
    assert planned["fl"] == ("flba", 3) and planned["dec_flba"] == ("decimal(25,2)", 11)
    assert {n for n in planned if "#g" in n} >= {"ll#g0", "st#g1", "m#g1", "ls#g1"}
    # every planned entry passes decode_group's per-chunk check
    assert decode_table(enc, cols).count() == 40
    enc.unpersist()


def test_decode_rejects_chunk_that_contradicts_planned_schema(spark):
    """A recorded schema that disagrees with the pages fails loudly, naming
    the column, the chunk and both logicals, instead of casting wrongly."""
    import json

    from parquet4seastar_spark.engine.decode_job import decode_table
    from parquet4seastar_spark.engine.encode_job import DECODED_SCHEMA_KEY

    enc = encode_table(_docs(spark), columns=["lang"], policy="plain", salt_col="source", num_partitions=2)
    forged = enc.withMetadata("logical", {
        DECODED_SCHEMA_KEY: json.dumps({"row_id": ["int64", 0], "lang": ["int64", 0]})
    })
    dec = decode_table(forged, ["lang"])
    assert dec.schema["lang"].dataType.simpleString() == "bigint"
    with pytest.raises(Exception, match=(
        r"column 'lang' chunk part_key='[^']+' chunk_seq=\d+ holds 'string' "
        r"\(type_length 0\), but the decode planned 'int64'"
    )):
        dec.collect()
    forged.unpersist()


def _row_hashes(dec, cols) -> list[int]:
    return sorted(r[0] for r in dec.select(F.xxhash64("row_id", *cols)).collect())


def test_store_without_recorded_schema_decodes_through_discovery(spark, tmp_path, jobs_launched):
    """Stores written before the decoded schema was recorded still decode:
    a footer whose Spark schema lacks the map, and a footer with no Spark
    schema at all, both fall back to discovery with identical row hashes."""
    import os

    import pyarrow.parquet as pq

    from parquet4seastar_spark.engine.decode_job import decode_table
    from parquet4seastar_spark.engine.store import read_store, write_store

    enc = encode_table(_docs(spark), columns=["text", "lang"], salt_col="source", num_partitions=2).persist()
    planned, legacy, bare = (str(tmp_path / n) for n in ("planned", "legacy", "bare"))
    write_store(enc, planned)
    write_store(enc.withMetadata("logical", {}), legacy)
    write_store(enc.withMetadata("logical", {}), bare)
    enc.unpersist()
    for root, _, files in os.walk(bare):  # footers with no Spark schema key
        for name in files:
            if name.endswith(".parquet"):
                f = os.path.join(root, name)
                pq.write_table(pq.ParquetFile(f).read().replace_schema_metadata(None), f)
                os.remove(os.path.join(root, f".{name}.crc"))  # now stale

    cols = ["text", "lang"]
    want, jobs = jobs_launched(lambda: decode_table(read_store(spark, planned, cols), cols))
    assert jobs == 0
    want_h = _row_hashes(want, cols)
    assert len(want_h) == 500
    for store in (legacy, bare):
        got, jobs = jobs_launched(lambda: decode_table(read_store(spark, store, cols), cols))
        assert jobs >= 1  # discovery (and for the bare footer, inference) ran
        assert got.columns == want.columns
        assert _row_hashes(got, cols) == want_h


def test_union_missing_requested_column_falls_back_to_discovery(spark, jobs_launched):
    """A union keeps only its first child's recorded schema: when that map
    lacks a requested column, decode_table discovers the schema instead."""
    from parquet4seastar_spark.engine.decode_job import decode_table

    src = _docs(spark)
    # map_only keys chunks by input partition, so both encodes cut the
    # same (part_key, chunk_seq) chunks in the same row order
    first = encode_table(src, columns=["lang"], policy="plain", map_only=True)
    second = encode_table(src, columns=["text"], policy="plain", map_only=True)
    both = first.unionByName(second.filter(F.col("column") != "row_id"))
    assert "text" not in _planned_map(both)
    dec, jobs = jobs_launched(lambda: decode_table(both, ["lang", "text"]))
    assert jobs >= 1
    want = {r["row_id"]: (r["lang"], r["text"]) for r in src.collect()}
    assert {r["row_id"]: (r["lang"], r["text"]) for r in dec.collect()} == want
    both.unpersist()
