"""Driver contract for the spark-graft builder (PySpark target).

Queries cover the engine's operator surface (SURVEY.md §2 + the
training-data pipeline operators):

- roundtrip_*: encode column(s) -> pages -> decode -> return the decoded
  values.  The DuckDB oracle is the identity SELECT on the same table, so a
  value-hash match proves bit-identical round-trips through each codec
  (PLAIN, RLE_DICTIONARY(+fallback), DELTA_BINARY_PACKED,
  DELTA_LENGTH_BYTE_ARRAY, FSST, auto-selection, reference policy).
- text/dedup/similarity/multimodal operators over documents/embeddings.
- encode_metrics_documents / lineage_audit: input-side lineage numbers,
  SQL-oracled; encode_metrics_source_repos (generated input) and
  streaming_smoke stay rows-only.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


# shared between queries() and oracle_sql() so the planted constructions
# stay literally identical on both sides
FUZZY_CANARY = (
    "XQZ BENCHMARK CANARY question: what is the airspeed velocity of an unladen swallow"
)
FUZZY_ABSENT = "XQZ ABSENT CANARY entirely different text nothing matches here at all"
REPEAT_TAIL = (
    "\nREPEAT REPEAT REPEAT REPEAT"
    "\nREPEAT REPEAT REPEAT REPEAT"
    "\nREPEAT REPEAT REPEAT REPEAT"
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _docs_src(spark, sf_dir) -> DataFrame:
    """documents reshaped to the engine's (row_id, ...) convention."""
    return _docs(spark, sf_dir).select(
        F.col("doc_id").alias("row_id"), "text", "lang", "source", "n_chars"
    )


def _roundtrip(spark, sf_dir, columns: list[str], policy: str) -> DataFrame:
    from parquet4seastar_spark.engine.decode_job import decode_table
    from parquet4seastar_spark.engine.encode_job import encode_table

    src = _docs_src(spark, sf_dir)
    enc = encode_table(
        src,
        columns=columns,
        policy=policy,
        salt_col="source",
        num_partitions=4,
        page_target_bytes=64 << 10,
        chunk_target_bytes=4 << 20,
    )
    dec = decode_table(enc, columns)
    return dec.select(F.col("row_id").alias("doc_id"), *columns)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full-table auto-policy encode of documents at sf0.001 ->
    per-column compression metrics (rows > 0, stable schema)."""
    from parquet4seastar_spark.engine.encode_job import encode_table
    from parquet4seastar_spark.engine.verify import metrics_summary

    src = _docs_src(spark, "/root/testdata/sf0.001")
    enc = encode_table(
        src, columns=["text", "lang", "source", "n_chars"], policy="auto",
        salt_col="source", num_partitions=4,
    )
    return metrics_summary(enc)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from parquet4seastar_spark.operators import dedup, multimodal, similarity, text

    q: dict[str, Callable] = {}

    # ---- codec round-trips (oracle = identity SELECT => bit-identity).
    # Per-codec coverage is packed into COMPOSITE multi-column round-trips
    # (encode_table takes a per-column policy dict) so every oracle fits the
    # driver's ~50-row CORRECTNESS window with one green row per codec class.
    for name, cols, policy in [
        ("roundtrip_auto_all", ["text", "lang", "source", "n_chars"], "auto"),
        ("roundtrip_reference_policy", ["text", "lang", "n_chars"], "reference"),
    ]:
        q[name] = (lambda cols, policy: lambda spark, sf_dir: _roundtrip(spark, sf_dir, cols, policy))(
            cols, policy
        )

    # text column through PLAIN, FSST and DELTA_LENGTH_BYTE_ARRAY in ONE
    # encode job (three copies of the column, per-column policies)
    def roundtrip_text_codecs(spark, sf_dir):
        from parquet4seastar_spark.engine.decode_job import decode_table
        from parquet4seastar_spark.engine.encode_job import encode_table

        src = _docs(spark, sf_dir).select(
            F.col("doc_id").alias("row_id"),
            "text",
            F.col("text").alias("text_fsst"),
            F.col("text").alias("text_dlba"),
            "source",
        )
        cols = ["text", "text_fsst", "text_dlba"]
        enc = encode_table(
            src, columns=cols,
            policy={"text": "plain", "text_fsst": "FSST",
                    "text_dlba": "DELTA_LENGTH_BYTE_ARRAY"},
            salt_col="source", num_partitions=4,
            page_target_bytes=64 << 10, chunk_target_bytes=4 << 20,
        )
        return decode_table(enc, cols).select(F.col("row_id").alias("doc_id"), *cols)

    q["roundtrip_text_codecs"] = roundtrip_text_codecs

    # string columns through RLE_DICTIONARY, DELTA_BYTE_ARRAY and the
    # auto_fast policy in one encode job
    def roundtrip_string_codecs(spark, sf_dir):
        from parquet4seastar_spark.engine.decode_job import decode_table
        from parquet4seastar_spark.engine.encode_job import encode_table

        src = _docs(spark, sf_dir).select(
            F.col("doc_id").alias("row_id"),
            "lang",
            F.col("source").alias("src_dict"),
            F.col("source").alias("src_dba"),
            F.col("text").alias("text_af"),
            F.col("source").alias("src_af"),
            "source",
        )
        cols = ["lang", "src_dict", "src_dba", "text_af", "src_af"]
        enc = encode_table(
            src, columns=cols,
            policy={"lang": "dict", "src_dict": "dict",
                    "src_dba": "DELTA_BYTE_ARRAY",
                    "text_af": "auto_fast", "src_af": "auto_fast"},
            salt_col="source", num_partitions=4,
            page_target_bytes=64 << 10, chunk_target_bytes=4 << 20,
        )
        return decode_table(enc, cols).select(F.col("row_id").alias("doc_id"), *cols)

    q["roundtrip_string_codecs"] = roundtrip_string_codecs

    # scalar codec gaps in one job: DELTA_BINARY_PACKED ints, BOOLEAN
    # (RLE/PLAIN-bool), FIXED_LEN_BYTE_ARRAY (hex-projected for the harness)
    def roundtrip_scalar_codecs(spark, sf_dir):
        from parquet4seastar_spark.engine.decode_job import decode_table
        from parquet4seastar_spark.engine.encode_job import encode_table

        src = _docs(spark, sf_dir).select(
            F.col("doc_id").alias("row_id"),
            "n_chars",
            (F.col("n_chars") % 2 == 0).alias("is_even"),
            F.unhex(F.md5("text")).alias("h16"),
            "source",
        )
        cols = ["n_chars", "is_even", "h16"]
        enc = encode_table(
            src, columns=cols,
            policy={"n_chars": "DELTA_BINARY_PACKED"},
            salt_col="source", num_partitions=2, salt_target_rows=2000,
            fixed_len={"h16": 16},
        )
        return decode_table(enc, cols).select(
            F.col("row_id").alias("doc_id"),
            "n_chars",
            "is_even",
            F.lower(F.hex("h16")).alias("h16_hex"),
        )

    q["roundtrip_scalar_codecs"] = roundtrip_scalar_codecs

    # dictionary fallback exercised on a high-cardinality column (the 40-hex
    # commit analogue is doc text md5) -- small pages force multiple flushes
    def roundtrip_dict_fallback(spark, sf_dir):
        from parquet4seastar_spark.engine.decode_job import decode_table
        from parquet4seastar_spark.engine.encode_job import encode_table

        src = _docs(spark, sf_dir).select(
            F.col("doc_id").alias("row_id"), F.md5("text").alias("h")
        )
        enc = encode_table(
            src, columns=["h"], policy="reference", salt_col="h", num_partitions=2,
            page_target_bytes=8 << 10, chunk_target_bytes=4 << 20, size_col="h",
        )
        return decode_table(enc, ["h"]).select(F.col("row_id").alias("doc_id"), "h")

    q["roundtrip_dict_fallback"] = roundtrip_dict_fallback

    def roundtrip_bss(spark, sf_dir):
        from parquet4seastar_spark.engine.decode_job import decode_table
        from parquet4seastar_spark.engine.encode_job import encode_table

        ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            F.col("event_id").alias("row_id"), "value", "event_type"
        )
        enc = encode_table(
            ev, columns=["value"], policy="BYTE_STREAM_SPLIT", salt_col="event_type",
            num_partitions=2, salt_target_rows=20000,
        )
        return decode_table(enc, ["value"]).select(F.col("row_id").alias("event_id"), "value")

    q["roundtrip_bss"] = roundtrip_bss

    # ---- nested round-trip: array<float> through rep/def levels (Dremel).
    # Decoded vectors posexplode to (vec_id, pos, val) scalar rows: the
    # driver's pandas canonicalizer cannot sort/hash raw list cells (same
    # harness class as binary -> hex; see CLAUDE.md gotchas).
    def roundtrip_embeddings(spark, sf_dir):
        from parquet4seastar_spark.engine.decode_job import decode_table
        from parquet4seastar_spark.engine.encode_job import encode_table

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            F.col("vec_id").alias("row_id"), "embedding", "label"
        )
        cols = ["embedding", "label"]
        enc = encode_table(
            emb, columns=cols, policy="auto", salt_col="label", num_partitions=4,
            salt_target_rows=2000, page_target_bytes=16 << 10,
        )
        dec = decode_table(enc, cols)
        return dec.select(
            F.col("row_id").alias("vec_id"),
            "label",
            F.posexplode("embedding").alias("pos", "val_f"),
        ).select("vec_id", "label", "pos", F.col("val_f").cast("double").alias("val"))

    q["roundtrip_embeddings"] = roundtrip_embeddings

    # ---- lineitem round-trip (mixed types incl. doubles, low-card strings)
    def roundtrip_lineitem(spark, sf_dir):
        from parquet4seastar_spark.engine.decode_job import decode_table
        from parquet4seastar_spark.engine.encode_job import encode_table

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            (F.col("l_orderkey") * 100 + F.col("l_linenumber")).alias("row_id"),
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
            "l_returnflag",
        )
        cols = ["l_orderkey", "l_linenumber", "l_extendedprice", "l_returnflag"]
        # row-count salting: l_returnflag has THREE distinct values, so
        # byte-mode salting (1-char flags never reach 64 MB) pinned the
        # whole encode AND the decode's per-chunk groups to 3 tasks at any
        # core count; splitting hot keys by rows is the guide's skew fix
        # and scales the bucket count with data (decoded values identical
        # -- the oracle is an identity SELECT over row_id-joined output)
        enc = encode_table(
            li, columns=cols, policy="auto", salt_col="l_returnflag", num_partitions=4,
            salt_target_rows=65536,
        )
        return decode_table(enc, cols).select(cols)

    q["roundtrip_lineitem"] = roundtrip_lineitem

    # ---- stats-based chunk skipping: prune by lineage min/max, decode only
    # surviving chunks, exact filter after (beyond the reference, which
    # never writes statistics)
    def pruned_scan(spark, sf_dir):
        from parquet4seastar_spark.engine.decode_job import decode_table, prune_chunks
        from parquet4seastar_spark.engine.encode_job import encode_table

        src = _docs(spark, sf_dir).select(
            F.col("doc_id").alias("row_id"), "n_chars"
        )
        # persist the pages frame: it is read twice (prune_chunks' one
        # toArrow of the chunk index, then the decode pass) and an
        # unpersisted lineage would re-run the ENTIRE encode job for the
        # index (r3 bench regression; at cluster scale the encoded table
        # is a stored table, whose index prune_chunks reads with pyarrow).
        # The cache deliberately lives for the session (decode is lazy, so
        # there is no safe unpersist point inside this function); each
        # invocation caches one small
        # single-column pages frame, bounded by how often the harness runs
        # the query (once or twice per session).
        # cluster_by (round 6): range-partitioned + sorted layout — chunk
        # min/max ranges are narrow by construction, so the gt-predicate
        # prunes most chunks (the handcrafted bucket salt column this query
        # used before is the manual version of the same layout knob)
        enc = encode_table(
            src, columns=["n_chars"], cluster_by="n_chars", num_partitions=4,
        ).persist()
        pruned = prune_chunks(enc, "n_chars", gt=300)
        return (
            decode_table(pruned, ["n_chars"])
            .filter(F.col("n_chars") > 300)
            .select(F.col("row_id").alias("doc_id"), "n_chars")
        )

    q["pruned_scan"] = pruned_scan

    # ---- struct-of-primitives + struct<struct> + map<string,string> in ONE
    # encode job (three nested columns, each its own Dremel def-level
    # geometry; reassembled on decode and projected to scalars)
    def roundtrip_struct_map(spark, sf_dir):
        from parquet4seastar_spark.engine.decode_job import decode_table
        from parquet4seastar_spark.engine.encode_job import encode_table

        src = _docs(spark, sf_dir).select(
            F.col("doc_id").alias("row_id"),
            F.struct("lang", "n_chars").alias("meta"),
            F.struct(
                F.struct(
                    F.col("lang"),
                    F.when(F.col("doc_id") % 7 == 0, F.lit(None))
                    .otherwise(F.col("source"))
                    .alias("src"),
                ).alias("ident"),
                F.col("n_chars"),
            ).alias("meta2"),
            F.create_map(
                F.lit("lang"), F.col("lang"), F.lit("src"), F.col("source")
            ).alias("props"),
            "source",
        )
        cols = ["meta", "meta2", "props"]
        enc = encode_table(
            src, columns=cols, policy="auto", salt_col="source", num_partitions=2,
            salt_target_rows=2000,
        )
        return decode_table(enc, cols).select(
            F.col("row_id").alias("doc_id"),
            F.col("meta.lang").alias("lang"),
            F.col("meta.n_chars").alias("n_chars"),
            F.col("meta2.ident.lang").alias("lang2"),
            F.col("meta2.ident.src").alias("src2"),
            F.col("meta2.n_chars").alias("n_chars2"),
            F.element_at("props", "lang").alias("lang_v"),
            F.element_at("props", "src").alias("src_v"),
        )

    q["roundtrip_struct_map"] = roundtrip_struct_map

    # ---- deep repetition shapes in ONE encode job: array<array<string>>
    # (rep 2), array<array<array<string>>> (rep 3, peeled), and
    # map<string, array<string>> (rep-2 value chunks over map offsets).
    # Decoded structures canonicalize to one string per doc for the oracle.
    def roundtrip_deep_lists(spark, sf_dir):
        from parquet4seastar_spark.engine.decode_job import decode_table
        from parquet4seastar_spark.engine.encode_job import encode_table

        toks = F.split(F.trim("text"), r"\s+")
        src = _docs(spark, sf_dir).select(
            F.col("doc_id").alias("row_id"),
            F.transform(
                F.split("text", r"\. "), lambda s: F.split(F.trim(s), r"\s+")
            ).alias("sents"),
            F.when(F.col("doc_id") % 9 == 0, F.lit(None))
            .otherwise(
                F.transform(
                    F.split("text", r"\. "),
                    lambda s: F.transform(
                        F.split(F.trim(s), r"\s+"), lambda w: F.array(w, F.upper(w))
                    ),
                )
            )
            .alias("deep"),
            F.when(F.col("doc_id") % 6 == 0, F.lit(None))
            .otherwise(
                F.create_map(F.lit("tags"), toks, F.lit("first3"), F.slice(toks, 1, 3))
            )
            .alias("props"),
            # map<string, array<array<float>>> -- the per-token-logits shape
            # that was fail-fast before the recursive walker (whole-number
            # floats so the canon projection is engine-exact)
            F.when(F.col("doc_id") % 7 == 0, F.lit(None))
            .otherwise(
                F.create_map(
                    F.lit("l1"),
                    F.array(
                        F.array(
                            F.col("n_chars").cast("float"),
                            (F.col("n_chars") + 1).cast("float"),
                        ),
                        F.array().cast("array<float>"),
                    ),
                    F.lit("l2"),
                    F.array(F.array((F.col("n_chars") * 2).cast("float"))),
                )
            )
            .alias("logits"),
            "source",
        )
        cols = ["sents", "deep", "props", "logits"]
        enc = encode_table(
            src, columns=cols, policy="auto", salt_col="source", num_partitions=2,
            salt_target_rows=2000,
        )
        dec = decode_table(enc, cols)
        sents_canon = F.array_join(
            F.transform("sents", lambda x: F.array_join(x, ",")), "|"
        )
        deep_canon = F.array_join(
            F.transform(
                "deep",
                lambda s: F.array_join(F.transform(s, lambda w: F.array_join(w, "^")), ","),
            ),
            "|",
        )
        p = F.col("props")

        def ll_canon(col):
            return F.array_join(
                F.transform(
                    col,
                    lambda a: F.array_join(
                        F.transform(a, lambda x: x.cast("int").cast("string")), ","
                    ),
                ),
                "|",
            )

        return dec.select(
            F.col("row_id").alias("doc_id"),
            sents_canon.alias("sents_canon"),
            deep_canon.alias("deep_canon"),
            F.array_join(p["tags"], ",").alias("tags_canon"),
            F.array_join(p["first3"], ",").alias("first3_canon"),
            ll_canon(F.element_at("logits", "l1")).alias("l1_canon"),
            ll_canon(F.element_at("logits", "l2")).alias("l2_canon"),
        )

    q["roundtrip_deep_lists"] = roundtrip_deep_lists

    # ---- array<struct> token spans through the engine in ONE encode job,
    # three variants side by side: required fields, an OPTIONAL field (4th
    # Dremel def level), and a nested attrs struct (one def level per struct
    # level).  The three arrays share the tokenization, so one arrays_zip +
    # explode turns the decoded structures into scalar rows for the oracle.
    def roundtrip_token_spans(spark, sf_dir):
        from parquet4seastar_spark.engine.decode_job import decode_table
        from parquet4seastar_spark.engine.encode_job import encode_table

        toks = F.split(F.trim("text"), r"\s+")
        src = _docs(spark, sf_dir).select(
            F.col("doc_id").alias("row_id"),
            F.transform(
                toks,
                lambda x, i: F.struct(x.alias("tok"), i.cast("int").alias("pos")),
            ).alias("spans"),
            F.transform(
                toks,
                lambda x, i: F.struct(
                    x.alias("tok"),
                    F.when(i % 3 == 0, F.lit(None)).otherwise(i).cast("int").alias("pos"),
                ),
            ).alias("spans_n"),
            F.transform(
                toks,
                lambda x, i: F.struct(
                    x.alias("tok"),
                    F.when(i % 5 == 0, F.lit(None))
                    .otherwise(
                        F.struct(
                            F.upper(F.substring(x, 1, 1)).alias("upos"),
                            F.when(i % 4 == 0, F.lit(None))
                            .otherwise(i)
                            .cast("int")
                            .alias("feats"),
                        )
                    )
                    .alias("attrs"),
                ),
            ).alias("spans_nn"),
            "source",
        )
        cols = ["spans", "spans_n", "spans_nn"]
        enc = encode_table(
            src, columns=cols, policy="auto", salt_col="source", num_partitions=2,
            salt_target_rows=2000,
        )
        dec = decode_table(enc, cols)
        return dec.select(
            F.col("row_id").alias("doc_id"),
            F.explode(F.arrays_zip("spans", "spans_n", "spans_nn")).alias("z"),
        ).select(
            "doc_id",
            F.col("z.spans.tok").alias("tok"),
            F.col("z.spans.pos").alias("pos"),
            F.col("z.spans_n.pos").alias("pos_n"),
            F.col("z.spans_nn.attrs.upos").alias("upos"),
            F.col("z.spans_nn.attrs.feats").alias("feats"),
        )

    q["roundtrip_token_spans"] = roundtrip_token_spans

    # ---- structs with nested container FIELDS in ONE encode job:
    # struct<a, tags:array<string>> (optional levels above the repeated
    # level), struct<k, m:array<array<string>>> (rep-2 leaf under a struct), and
    # map<string, struct<...>> (per-field value leaves sharing map offsets)
    def roundtrip_struct_fields(spark, sf_dir):
        from parquet4seastar_spark.engine.decode_job import decode_table
        from parquet4seastar_spark.engine.encode_job import encode_table

        src = _docs(spark, sf_dir).select(
            F.col("doc_id").alias("row_id"),
            F.struct(
                F.col("n_chars").alias("a"),
                F.when(F.col("doc_id") % 5 == 0, F.lit(None))
                .otherwise(F.split(F.trim("text"), r"\s+"))
                .alias("tags"),
            ).alias("meta_wl"),
            F.struct(
                F.col("n_chars").alias("k"),
                F.when(F.col("doc_id") % 4 == 0, F.lit(None))
                .otherwise(
                    F.transform(
                        F.split("text", r"\. "), lambda s: F.split(F.trim(s), r"\s+")
                    )
                )
                .alias("m"),
            ).alias("meta_l2"),
            F.when(F.col("doc_id") % 6 == 0, F.lit(None))
            .otherwise(
                F.create_map(
                    F.lit("m1"),
                    F.struct(F.col("n_chars").alias("n"), F.col("lang").alias("s")),
                    F.lit("m2"),
                    F.struct(
                        (F.col("n_chars") * 2).alias("n"),
                        F.when(F.col("doc_id") % 3 == 0, F.lit(None))
                        .otherwise(F.col("source"))
                        .alias("s"),
                    ),
                )
            )
            .alias("props_ms"),
            "source",
        )
        cols = ["meta_wl", "meta_l2", "props_ms"]
        enc = encode_table(
            src, columns=cols, policy="auto", salt_col="source", num_partitions=2,
            salt_target_rows=2000,
        )
        dec = decode_table(enc, cols)
        m_canon = F.array_join(
            F.transform(F.col("meta_l2.m"), lambda x: F.array_join(x, ",")), "|"
        )
        p = F.col("props_ms")
        return dec.select(
            F.col("row_id").alias("doc_id"),
            F.col("meta_wl.a").alias("a"),
            F.array_join(F.col("meta_wl.tags"), ",").alias("tags_canon"),
            F.col("meta_l2.k").alias("k"),
            m_canon.alias("m_canon"),
            p["m1"]["n"].alias("m1_n"),
            p["m1"]["s"].alias("m1_s"),
            p["m2"]["n"].alias("m2_n"),
            p["m2"]["s"].alias("m2_s"),
        )

    q["roundtrip_struct_fields"] = roundtrip_struct_fields

    # ---- the full mixed tree: struct<k, spans: array<struct<tok, pos?>>>
    # (struct levels above AND below the repeated level in one geometry);
    # decoded rows explode_outer to scalars for the oracle
    def roundtrip_struct_spans(spark, sf_dir):
        from parquet4seastar_spark.engine.decode_job import decode_table
        from parquet4seastar_spark.engine.encode_job import encode_table

        src = _docs(spark, sf_dir).select(
            F.col("doc_id").alias("row_id"),
            F.struct(
                F.col("n_chars").alias("k"),
                F.when(F.col("doc_id") % 5 == 0, F.lit(None))
                .otherwise(
                    F.transform(
                        F.split(F.trim("text"), r"\s+"),
                        lambda x, i: F.struct(
                            x.alias("tok"),
                            F.when(i % 3 == 0, F.lit(None))
                            .otherwise(i)
                            .cast("int")
                            .alias("pos"),
                        ),
                    )
                )
                .alias("spans"),
            ).alias("meta"),
            "source",
        )
        enc = encode_table(
            src, columns=["meta"], policy="auto", salt_col="source", num_partitions=2,
            salt_target_rows=2000,
        )
        dec = decode_table(enc, ["meta"])
        return dec.select(
            F.col("row_id").alias("doc_id"),
            F.col("meta.k").alias("k"),
            F.explode_outer("meta.spans").alias("s"),
        ).select("doc_id", "k", F.col("s.tok").alias("tok"), F.col("s.pos").alias("pos"))

    q["roundtrip_struct_spans"] = roundtrip_struct_spans






    # ---- real-Parquet container interop: encode -> PAR1 file (Thrift page
    # headers + footer) -> read back with OUR reader -> identity oracle.
    # Includes a NESTED column (struct via DremelColumn + read_column:
    # the general recursive container write+read path), projected to
    # scalars for the compare harness.
    def roundtrip_parquet_file(spark, sf_dir):
        import tempfile

        import pyarrow as pa
        import pyarrow.parquet as pq

        from parquet4seastar_spark.codecs.pages import encode_chunk, encode_column
        from parquet4seastar_spark.codecs.parquet_file import (
            DremelColumn,
            ParquetFileReader,
            write_parquet_file,
        )

        tbl = pq.read_table(f"{sf_dir}/documents.parquet")
        cols = ["doc_id", "text", "lang", "n_chars"]
        chunks = {
            c: encode_chunk(tbl.column(c).combine_chunks(), policy="auto_fast")
            for c in cols
        }
        meta = pa.StructArray.from_arrays(
            [tbl.column("lang").combine_chunks(), tbl.column("n_chars").combine_chunks()],
            ["lang", "n_chars"],
        )
        chunks["meta"] = DremelColumn(encode_column(meta, policy="auto_fast"))
        with tempfile.TemporaryDirectory() as tmp:
            path = f"{tmp}/docs.parquet"
            write_parquet_file(path, chunks, tbl.num_rows)
            r = ParquetFileReader(path)
            arrays = {}
            for c in cols:
                a = r.read_column(c)
                want = tbl.column(c).type
                arrays[c] = a.cast(want) if a.type != want else a
            m = r.read_column("meta")
            arrays["m_lang"] = m.field("lang")
            arrays["m_n"] = m.field("n_chars").cast(pa.int64())
            out = pa.table(arrays)
        return spark.createDataFrame(out.to_pandas())

    q["roundtrip_parquet_file"] = roundtrip_parquet_file

    # ---- distributed export sink: engine chunks -> standard .parquet files
    # (one per chunk group) -> read back by SPARK'S OWN parquet reader
    def export_parquet_roundtrip(spark, sf_dir):
        import tempfile

        from parquet4seastar_spark.engine.encode_job import encode_table
        from parquet4seastar_spark.engine.export import export_parquet_files

        src = _docs_src(spark, sf_dir)
        enc = encode_table(
            src, columns=["text", "lang", "n_chars"], policy="auto_fast",
            salt_col="source", num_partitions=4, salt_target_rows=2000,
        )
        with tempfile.TemporaryDirectory() as tmp:
            export_parquet_files(enc, ["text", "lang", "n_chars"], f"{tmp}/out").count()
            return (
                spark.read.parquet(f"{tmp}/out")
                .select(F.col("row_id").alias("doc_id"), "text", "lang", "n_chars")
                .localCheckpoint()
            )

    q["export_parquet_roundtrip"] = export_parquet_roundtrip

    def lineage_audit(spark, sf_dir):
        """Self-contained integrity audit: decode every chunk, recompute the
        content sha256, compare to lineage.  On an uncorrupted table the
        output is deterministic (n_bad = 0 everywhere; n_chunks = one chunk
        per part key: the salt buckets of the sources above the salt target
        plus the packed bins of salted_repartition's running-sum rule over
        the rest), so it is SQL-oracled."""
        from parquet4seastar_spark.engine.encode_job import encode_table
        from parquet4seastar_spark.engine.verify import audit_lineage

        enc = encode_table(
            _docs_src(spark, sf_dir), columns=["text", "lang", "n_chars"],
            policy="auto", salt_col="source", num_partitions=4,
            # several chunks at any sf (see encode_metrics_documents)
            salt_target_rows=300,
        )
        return (
            audit_lineage(enc)
            .groupBy("column")
            .agg(
                F.count(F.lit(1)).alias("n_chunks"),
                F.sum(F.when(F.col("ok"), 0).otherwise(1)).alias("n_bad"),
            )
        )

    
    # ---- DECIMAL logical type: all three physical mappings
    # (p<=9 -> INT32, p<=18 -> INT64, else FLBA big-endian two's complement)
    def roundtrip_decimal(spark, sf_dir):
        from parquet4seastar_spark.engine.decode_job import decode_table
        from parquet4seastar_spark.engine.encode_job import encode_table

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            (F.col("l_orderkey") * 100 + F.col("l_linenumber")).alias("row_id"),
            F.col("l_discount").cast("decimal(7,2)").alias("disc_d7"),
            F.col("l_extendedprice").cast("decimal(12,2)").alias("price_d12"),
            F.col("l_extendedprice").cast("decimal(25,4)").alias("price_d25"),
            "l_returnflag",
        )
        cols = ["disc_d7", "price_d12", "price_d25"]
        enc = encode_table(
            li, columns=cols, policy="auto", salt_col="l_returnflag", num_partitions=4,
            salt_target_rows=50000,
        )
        # decimals compare as scale-preserving strings: the harness's pandas
        # conversion renders DuckDB decimals as floats otherwise
        return decode_table(enc, cols).select(
            F.col("row_id").alias("rid"),
            *[F.col(c).cast("string").alias(c) for c in cols],
        )

    q["roundtrip_decimal"] = roundtrip_decimal

    # ---- events round-trip: timestamp + double + strings through codecs
    def roundtrip_events(spark, sf_dir):
        from parquet4seastar_spark.engine.decode_job import decode_table
        from parquet4seastar_spark.engine.encode_job import encode_table

        ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            F.col("event_id").alias("row_id"), "ts", "user_id", "event_type", "value", "props"
        )
        cols = ["ts", "user_id", "event_type", "value", "props"]
        enc = encode_table(
            ev, columns=cols, policy="auto", salt_col="event_type", num_partitions=4,
            size_col="props",
        )
        return decode_table(enc, cols).select(F.col("row_id").alias("event_id"), *cols)

    q["roundtrip_events"] = roundtrip_events

    # ---- metrics: the INPUT-side lineage numbers (rows, nulls, PLAIN-size
    # input_bytes, chunk count = one chunk per part key) are
    # deterministic and SQL-oracled; the compression-side numbers
    # (encoded_bytes/ratio/encodings) are Spark-only and projected out of
    # the checked projection (they stay visible via entry()/bench)
    def encode_metrics_documents(spark, sf_dir):
        from parquet4seastar_spark.engine.encode_job import encode_table
        from parquet4seastar_spark.engine.verify import metrics_summary

        enc = encode_table(
            _docs_src(spark, sf_dir), columns=["text", "lang", "source", "n_chars"],
            policy="auto", salt_col="source", num_partitions=4,
            # a few hundred rows: small sources pack into several bins, and
            # big ones (sf1: 2,500 rows a source) split into buckets of
            # ~280 rows, none of them empty, so the oracle's chunk count
            # does not depend on xxhash64 routing
            salt_target_rows=300,
        )
        return metrics_summary(enc).select("column", "rows", "nulls", "input_bytes", "chunks")

    def encode_metrics_source_repos(spark, sf_dir):
        from parquet4seastar_spark.engine.encode_job import encode_table
        from parquet4seastar_spark.engine.generator import generate_source_repos
        from parquet4seastar_spark.engine.verify import metrics_summary

        src = generate_source_repos(spark, 1500, n_repos=30, seed=42)
        enc = encode_table(src, policy="auto", num_partitions=4)
        return metrics_summary(enc)

    
    # ---- documents stats (SQL-oracled)
    def doc_stats_by_lang(spark, sf_dir):
        return (
            _docs(spark, sf_dir)
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("total_chars"),
                F.min("doc_id").alias("first_doc"),
            )
        )

    q["doc_stats_by_lang"] = doc_stats_by_lang

    # ---- text operators
    q["token_counts"] = lambda spark, sf_dir: text.token_counts(_docs(spark, sf_dir))
    q["token_counts_bpe"] = lambda spark, sf_dir: text.token_counts_bpe(_docs(spark, sf_dir))
    q["stopword_stats"] = lambda spark, sf_dir: text.stopword_stats(_docs(spark, sf_dir))
    q["quality_scores"] = lambda spark, sf_dir: text.quality_scores(_docs(spark, sf_dir))
    q["language_id"] = lambda spark, sf_dir: text.language_id(_docs(spark, sf_dir))
    q["fingerprints"] = lambda spark, sf_dir: text.fingerprints(_docs(spark, sf_dir))
    q["top_terms_by_lang"] = lambda spark, sf_dir: text.top_terms_by_lang(
        _docs(spark, sf_dir), k=5
    )
    q["stratified_sample"] = lambda spark, sf_dir: text.stratified_sample(
        _docs(spark, sf_dir)
    ).select("doc_id", "lang")

    def redact_pii(spark, sf_dir):
        # plant PII-shaped spans on 1/7 of the docs so the scrubber has
        # real work; the oracle plants identically
        docs = _docs(spark, sf_dir).select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.when(
                    F.col("doc_id") % 7 == 0,
                    F.lit(" contact: bob@example.com or 555-123-4567 ssn 123-45-6789"),
                ).otherwise(F.lit("")),
            ).alias("text"),
        )
        return text.redact_pii(docs)

    q["redact_pii"] = redact_pii

    # ---- dedup operators
    q["dedup_exact"] = lambda spark, sf_dir: dedup.exact_dedup(_docs(spark, sf_dir))

    def dedup_minhash_lsh(spark, sf_dir):
        # planted exact duplicates (identical text -> identical signature ->
        # identical band buckets, so LSH recall on them is 1 by construction)
        # make the output deterministic: the checked projection is the pairs
        # the LSH pipeline surfaced whose texts are byte-identical, which the
        # DuckDB oracle reproduces with a plain text self-join.  A broken
        # shingle/minhash/banding stage loses planted pairs -> hash mismatch.
        docs = _docs(spark, sf_dir).select("doc_id", "text")
        dup = docs.filter(F.col("doc_id") < 10).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
        all_docs = docs.union(dup)
        pairs = dedup.minhash_lsh_pairs(all_docs, threshold=0.3)
        ta = all_docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
        tb = all_docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
        return (
            pairs.join(ta, "doc_a")
            .join(tb, "doc_b")
            .filter(F.col("text_a") == F.col("text_b"))
            .select("doc_a", "doc_b")
        )

    q["dedup_minhash_lsh"] = dedup_minhash_lsh
    
    def dedup_simhash_pairs(spark, sf_dir):
        # planted exact duplicates: identical text -> identical fingerprint
        # -> hamming 0, and by pigeonhole the banded join is GUARANTEED to
        # surface them.  Checked projection = surfaced pairs with identical
        # text (deterministic; oracled by a text self-join); the broader
        # hamming<=3 behavior is pytest-covered.
        docs = _docs(spark, sf_dir).select("doc_id", "text")
        dup = docs.filter(F.col("doc_id") < 10).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
        all_docs = docs.union(dup)
        pairs = dedup.simhash_near_dups(all_docs, max_hamming=3)
        ta = all_docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
        tb = all_docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
        return (
            pairs.join(ta, "doc_a")
            .join(tb, "doc_b")
            .filter(F.col("text_a") == F.col("text_b"))
            .select("doc_a", "doc_b")
        )

    q["dedup_simhash_pairs"] = dedup_simhash_pairs

    def dedup_ngram_jaccard(spark, sf_dir):
        # planted exact duplicates: identical shingle sets -> exact Jaccard
        # 1.0, and the LSH candidate stage surfaces them with recall 1; the
        # checked projection (pairs with identical text) is deterministic
        docs = _docs(spark, sf_dir).select("doc_id", "text")
        dup = docs.filter(F.col("doc_id") < 10).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
        all_docs = docs.union(dup)
        pairs = dedup.ngram_jaccard_dedup(all_docs, threshold=0.5)
        ta = all_docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
        tb = all_docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
        return (
            pairs.join(ta, "doc_a")
            .join(tb, "doc_b")
            .filter(F.col("text_a") == F.col("text_b"))
            .select("doc_a", "doc_b")
        )

    q["dedup_ngram_jaccard"] = dedup_ngram_jaccard

    # ---- similarity search
    def _queries_df(spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )

    def ann_bruteforce(spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return similarity.brute_force_topk(emb, _queries_df(spark, sf_dir), k=10)

    q["ann_bruteforce_topk"] = ann_bruteforce

    # the approximate indexes have one deterministic invariant that is exact
    # regardless of bucketing/clustering: every query vector is drawn from
    # the corpus, lands in its own bucket/cluster by construction, and
    # cosine(v, v) ~ 1 strictly dominates every other corpus vector (testdata
    # cosines top out ~0.6) -- so the rank-1 neighbor of each query is
    # itself.  That subset is the checked projection (oracle: identity rows);
    # full top-k recall is pytest-gated against brute force.
    def ann_indexed(spark, sf_dir):
        # BOTH approximate indexes in one checked row: LSH and IVF rank-1
        # neighbors side by side (each must be the query itself)
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        qdf = _queries_df(spark, sf_dir)
        lsh = (
            similarity.lsh_topk(emb, qdf, k=5, bits=4)
            .filter(F.col("rank") == 1)
            .select("query_id", F.col("neighbor_id").alias("lsh_neighbor"))
        )
        ivf = (
            similarity.ivf_topk(emb, qdf, k=5, n_clusters=8, n_probe=4)
            .filter(F.col("rank") == 1)
            .select("query_id", F.col("neighbor_id").alias("ivf_neighbor"))
        )
        return lsh.join(ivf, "query_id")

    q["ann_indexed_topk"] = ann_indexed

    def embedding_near_dups(spark, sf_dir):
        # plant near-duplicates by positive scaling (cosine 1.0, and signs --
        # hence every LSH band bucket -- are preserved exactly, so recall on
        # the planted pairs is 1 by construction); original testdata vectors
        # top out around cosine 0.6, so only planted pairs clear 0.9 and the
        # brute-force DuckDB oracle matches the LSH result exactly
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
        planted = emb.filter(F.col("vec_id") < 20).select(
            (F.col("vec_id") + 10_000_000).alias("vec_id"),
            F.transform("embedding", lambda x: (x * F.lit(1.01)).cast("float")).alias("embedding"),
        )
        return similarity.embedding_near_dups(emb.union(planted), threshold=0.9).select(
            "id_a", "id_b"
        )

    q["embedding_near_dups"] = embedding_near_dups

    # ---- near-dup pairs -> duplicate GROUPS (connected components, rep =
    # min id).  Two scaled copies per planted vector make 3-cliques whose
    # components are fully deterministic (original corpus cosines < 0.9,
    # so every component is a planted group).
    def dedup_groups(spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
        base = emb.filter(F.col("vec_id") < 10)

        def scaled(offset, factor):
            return base.select(
                (F.col("vec_id") + offset).alias("vec_id"),
                F.transform("embedding", lambda x: (x * F.lit(factor)).cast("float")).alias(
                    "embedding"
                ),
            )

        allv = emb.union(scaled(10_000_000, 1.01)).union(scaled(20_000_000, 1.02))
        pairs = similarity.embedding_near_dups(allv, threshold=0.9).select("id_a", "id_b")
        comps = dedup.connected_components(pairs)
        return comps.select(F.col("id").alias("vec_id"), "rep")

    q["dedup_groups"] = dedup_groups

    # ---- the END-TO-END dedup story in one query: LSH candidates ->
    # identical-text confirm -> connected components -> drop non-reps ->
    # filtered corpus.  Deterministic: confirmed edges are exactly the
    # identical-text pairs (planted + organic), so kept ids = min-id per
    # text class — one SQL group-by for the oracle.
    def dedup_filtered_corpus(spark, sf_dir):
        docs = _docs(spark, sf_dir).select("doc_id", "text")
        dup = docs.filter(F.col("doc_id") < 10).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
        all_docs = docs.union(dup)
        pairs = dedup.minhash_lsh_pairs(all_docs, threshold=0.9)
        ta = all_docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
        tb = all_docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
        confirmed = (
            pairs.join(ta, "doc_a")
            .join(tb, "doc_b")
            .filter(F.col("text_a") == F.col("text_b"))
            .select("doc_a", "doc_b")
        )
        comps = dedup.connected_components(confirmed, id_a="doc_a", id_b="doc_b")
        drop = comps.filter(F.col("id") != F.col("rep")).select(F.col("id").alias("doc_id"))
        return all_docs.join(drop, "doc_id", "left_anti").select("doc_id")

    q["dedup_filtered_corpus"] = dedup_filtered_corpus

    # ---- benchmark decontamination: planted 24-char canaries; the
    # blocklist's shingles broadcast, the corpus never shuffles its text.
    # A 24-char blocklist entry has exactly ONE 24-shingle (itself), so
    # contaminated <=> the doc contains that exact substring — one SQL
    # contains() for the oracle.
    def decontaminate_docs(spark, sf_dir):
        canary = "XQZ-BENCHMARK-CANARY-001"
        absent = "XQZ-BENCHMARK-CANARY-002"
        tainted = _docs(spark, sf_dir).select(
            "doc_id",
            F.concat(
                "text",
                F.when(F.col("doc_id") % 9 == 0, F.lit(" " + canary)).otherwise(F.lit("")),
            ).alias("text"),
        )
        blocklist = spark.createDataFrame([(canary,), (absent,)], ["text"])
        return dedup.decontaminate(tainted, blocklist, shingle_k=24)

    q["decontaminate"] = decontaminate_docs

    # ---- sequence packing: fixed-token-budget bins, per-stratum prefix sums
    q["pack_sequences"] = lambda spark, sf_dir: text.pack_sequences(
        _docs(spark, sf_dir), max_tokens=500
    )

    # ---- fuzzy (near-match) decontamination: a MUTATED canary (edit
    # distance one token from the blocklist entry) defeats exact 24-gram
    # matching but shares ~80% of its 9-shingles; flagged <=> containment
    # of a blocklist entry's shingle set >= 0.5.  The oracle computes the
    # same containment from raw substrings in SQL.
    def decontaminate_fuzzy_docs(spark, sf_dir):
        mutated = FUZZY_CANARY.replace("velocity", "speed")
        tainted = _docs(spark, sf_dir).select(
            "doc_id",
            F.concat(
                "text",
                F.when(F.col("doc_id") % 7 == 0, F.lit(" " + mutated)).otherwise(F.lit("")),
            ).alias("text"),
        )
        blocklist = spark.createDataFrame([(FUZZY_CANARY,), (FUZZY_ABSENT,)], ["text"])
        return dedup.decontaminate_fuzzy(tainted, blocklist, shingle_k=9, threshold=0.5)

    q["decontaminate_fuzzy"] = decontaminate_fuzzy_docs

    # ---- intra-document repetition quality signal: planted docs append
    # three identical lines of repeated tokens; scores are floored percents
    # so the DuckDB substring-n-gram oracle compares exactly
    def doc_repetition_q(spark, sf_dir):
        planted = _docs(spark, sf_dir).select(
            "doc_id",
            F.concat(
                "text",
                F.when(F.col("doc_id") % 11 == 0, F.lit(REPEAT_TAIL)).otherwise(F.lit("")),
            ).alias("text"),
        )
        return text.doc_repetition(planted, ngram_k=8)

    q["doc_repetition"] = doc_repetition_q

    # ---- incremental dedup against a persisted signature store: batch 2
    # (planted copies) band-joins against batch 1's MATERIALIZED signatures
    # -- batch-1 text is never re-shingled (plan-asserted in pytest).
    # Checked projection = surfaced pairs with byte-identical text, same
    # deterministic confirm as dedup_minhash_lsh.
    def dedup_minhash_incremental(spark, sf_dir):
        docs = _docs(spark, sf_dir).select("doc_id", "text")
        store = dedup.minhash_signatures(docs).localCheckpoint()
        batch2 = docs.filter(F.col("doc_id") % 50 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
        pairs, _ = dedup.minhash_lsh_pairs_incremental(batch2, store, threshold=0.9)
        all_docs = docs.union(batch2)
        ta = all_docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
        tb = all_docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
        return (
            pairs.join(ta, "doc_a")
            .join(tb, "doc_b")
            .filter(F.col("text_a") == F.col("text_b"))
            .select("doc_a", "doc_b")
        )

    q["dedup_minhash_incremental"] = dedup_minhash_incremental

    # ---- multimodal plumbing (deterministic fake decode; SQL-oracled meta)
    def multimodal_ingest(spark, sf_dir):
        # covers ingest + typed-metadata extraction in one oracled row (the
        # former multimodal_meta query was a strict sub-projection of this):
        # md5 is the DuckDB-matchable digest (sha1 has no DuckDB equivalent,
        # so it stays out of the checked projection but is still computed)
        media = multimodal.ingest_media(_docs(spark, sf_dir))
        return media.select("doc_id", "media_type", "n_bytes", "md5", "width", "height")

    q["multimodal_ingest"] = multimodal_ingest

    def multimodal_frames(spark, sf_dir):
        media = multimodal.ingest_media(_docs(spark, sf_dir))
        return multimodal.frame_sample(media, every_n_bytes=1024)

    q["multimodal_frames"] = multimodal_frames

    # ---- streaming shapes
    def windowed_events(spark, sf_dir):
        from parquet4seastar_spark.engine.streaming import windowed_event_counts

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        return windowed_event_counts(ev, window="1 hour")

    q["windowed_event_counts"] = windowed_events

    # the simhash RAW-fingerprint surface has no SQL oracle (bit-vote over
    # hashed shingles); the operator stays covered by the oracled
    # dedup_simhash_pairs query plus tests/test_operators.py
    q["lineage_audit"] = lineage_audit
    q["encode_metrics_documents"] = encode_metrics_documents

    def streaming_smoke(spark, sf_dir):
        """ALL THREE streaming surfaces in one rows-only smoke: availableNow
        encode (documents -> pages+lineage via foreachBatch),
        arbitrary-stateful cross-batch exact dedup (applyInPandasWithState:
        duplicates planted in a second micro-batch are dropped by the
        persisted seen-fingerprint state), and continuous NEAR-dedup
        (foreachBatch + incremental LSH against the parquet signature
        store).  Output: (surface, metric, value) rows."""
        import tempfile

        from parquet4seastar_spark.engine.streaming import (
            stream_dedup,
            stream_encode,
            stream_near_dedup,
        )
        from parquet4seastar_spark.engine.verify import metrics_summary

        with tempfile.TemporaryDirectory() as tmp:
            src = f"{tmp}/in"
            _docs_src(spark, sf_dir).write.parquet(src)
            qry = stream_encode(
                spark,
                src,
                "row_id long, text string, lang string, source string, n_chars long",
                f"{tmp}/out",
                f"{tmp}/ckpt",
                columns=["text", "lang", "source", "n_chars"],
                salt_col="source",
            )
            qry.awaitTermination()
            enc = spark.read.parquet(f"{tmp}/out")
            encode_part = (
                metrics_summary(enc)
                .select(
                    F.lit("stream_encode").alias("surface"),
                    F.col("column").alias("metric"),
                    F.col("rows").cast("long").alias("value"),
                )
                .localCheckpoint()
            )
        with tempfile.TemporaryDirectory() as tmp:
            docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("row_id"), "text")
            docs.coalesce(1).write.parquet(f"{tmp}/in")
            docs.select(F.col("row_id") + 1000000, "text").coalesce(1).write.mode(
                "append"
            ).parquet(f"{tmp}/in")
            stream = (
                spark.readStream.schema("row_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{tmp}/in")
            )
            qry = (
                stream_dedup(stream)
                .writeStream.format("memory")
                .queryName("p4s_stream_dedup")
                .outputMode("append")
                .option("checkpointLocation", f"{tmp}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            qry.awaitTermination()
            dedup_part = spark.sql(
                "select 'stream_dedup' as surface, 'n_unique' as metric, "
                "cast(count(*) as long) as value from p4s_stream_dedup"
            ).localCheckpoint()
        with tempfile.TemporaryDirectory() as tmp:
            docs = _docs(spark, sf_dir).select("doc_id", "text").limit(40)
            docs.coalesce(1).write.parquet(f"{tmp}/in")
            docs.filter(F.col("doc_id") < 10).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "text"
            ).coalesce(1).write.mode("append").parquet(f"{tmp}/in")
            qry = stream_near_dedup(
                spark, f"{tmp}/in", "doc_id long, text string",
                f"{tmp}/sigs", f"{tmp}/pairs", f"{tmp}/ckpt2",
                threshold=0.9, max_files_per_trigger=1, compact_every=2,
            )
            qry.awaitTermination()
            near_part = (
                spark.read.parquet(f"{tmp}/pairs")
                .agg(F.count(F.lit(1)).cast("long").alias("value"))
                .select(
                    F.lit("stream_near_dedup").alias("surface"),
                    F.lit("n_pairs").alias("metric"),
                    "value",
                )
                .localCheckpoint()
            )
        return encode_part.union(dedup_part).union(near_part)

    # ---- rows-only queries register LAST: every oracled query stays
    # inside the driver's ~50-entry CORRECTNESS window regardless of the
    # exact cap
    q["encode_metrics_source_repos"] = encode_metrics_source_repos
    q["streaming_smoke"] = streaming_smoke

    return q


def oracle_sql() -> dict[str, str]:
    docs_cols = "doc_id, text, lang, source, n_chars"
    o: dict[str, str] = {}

    o["roundtrip_auto_all"] = "SELECT doc_id, text, lang, source, n_chars FROM documents"
    o["roundtrip_reference_policy"] = "SELECT doc_id, text, lang, n_chars FROM documents"
    o["roundtrip_text_codecs"] = (
        "SELECT doc_id, text, text AS text_fsst, text AS text_dlba FROM documents"
    )
    o["roundtrip_string_codecs"] = (
        "SELECT doc_id, lang, source AS src_dict, source AS src_dba, "
        "text AS text_af, source AS src_af FROM documents"
    )
    o["roundtrip_scalar_codecs"] = (
        "SELECT doc_id, n_chars, n_chars % 2 = 0 AS is_even, md5(text) AS h16_hex "
        "FROM documents"
    )
    o["roundtrip_dict_fallback"] = "SELECT doc_id, md5(text) AS h FROM documents"
    o["roundtrip_embeddings"] = (
        "SELECT vec_id, label, CAST(u.i - 1 AS INT) AS pos, CAST(u.val AS DOUBLE) AS val "
        "FROM (SELECT vec_id, label, unnest(embedding) AS val, "
        "unnest(generate_series(1, len(embedding))) AS i FROM embeddings) "
        "AS u(vec_id, label, val, i)"
    )
    o["roundtrip_bss"] = "SELECT event_id, value FROM events"
    o["roundtrip_lineitem"] = (
        "SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag FROM lineitem"
    )
    o["pruned_scan"] = "SELECT doc_id, n_chars FROM documents WHERE n_chars > 300"
    o["roundtrip_struct_map"] = (
        "SELECT doc_id, lang, n_chars, lang AS lang2, "
        "CASE WHEN doc_id % 7 = 0 THEN NULL ELSE source END AS src2, "
        "n_chars AS n_chars2, lang AS lang_v, source AS src_v FROM documents"
    )
    o["roundtrip_deep_lists"] = (
        "SELECT doc_id, "
        "array_to_string(list_transform(regexp_split_to_array(text, '\\. '), "
        "s -> array_to_string(regexp_split_to_array(trim(s), '\\s+'), ',')), '|') "
        "AS sents_canon, "
        "CASE WHEN doc_id % 9 = 0 THEN NULL ELSE "
        "array_to_string(list_transform(regexp_split_to_array(text, '\\. '), "
        "s -> array_to_string(list_transform(regexp_split_to_array(trim(s), '\\s+'), "
        "w -> concat(w, '^', upper(w))), ',')), '|') END AS deep_canon, "
        "CASE WHEN doc_id % 6 = 0 THEN NULL ELSE "
        "array_to_string(regexp_split_to_array(trim(text), '\\s+'), ',') END AS tags_canon, "
        "CASE WHEN doc_id % 6 = 0 THEN NULL ELSE "
        "array_to_string(list_slice(regexp_split_to_array(trim(text), '\\s+'), 1, 3), ',') END "
        "AS first3_canon, "
        "CASE WHEN doc_id % 7 = 0 THEN NULL ELSE "
        "concat(CAST(CAST(n_chars AS INT) AS VARCHAR), ',', "
        "CAST(CAST(n_chars + 1 AS INT) AS VARCHAR), '|') END AS l1_canon, "
        "CASE WHEN doc_id % 7 = 0 THEN NULL ELSE "
        "CAST(CAST(n_chars * 2 AS INT) AS VARCHAR) END AS l2_canon FROM documents"
    )
    o["roundtrip_token_spans"] = (
        "SELECT doc_id, u.tok AS tok, CAST(u.i - 1 AS INT) AS pos, "
        "CASE WHEN (u.i - 1) % 3 = 0 THEN NULL ELSE CAST(u.i - 1 AS INT) END AS pos_n, "
        "CASE WHEN (u.i - 1) % 5 = 0 THEN NULL ELSE upper(substring(u.tok, 1, 1)) END AS upos, "
        "CASE WHEN (u.i - 1) % 5 = 0 THEN NULL WHEN (u.i - 1) % 4 = 0 THEN NULL "
        "ELSE CAST(u.i - 1 AS INT) END AS feats FROM ("
        "SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok, "
        "unnest(generate_series(1, len(regexp_split_to_array(trim(text), '\\s+')))) AS i "
        "FROM documents) AS u(doc_id, tok, i)"
    )
    o["roundtrip_struct_fields"] = (
        "SELECT doc_id, n_chars AS a, "
        "CASE WHEN doc_id % 5 = 0 THEN NULL "
        "ELSE array_to_string(regexp_split_to_array(trim(text), '\\s+'), ',') END "
        "AS tags_canon, "
        "n_chars AS k, "
        "CASE WHEN doc_id % 4 = 0 THEN NULL ELSE "
        "array_to_string(list_transform(regexp_split_to_array(text, '\\. '), "
        "s -> array_to_string(regexp_split_to_array(trim(s), '\\s+'), ',')), '|') END "
        "AS m_canon, "
        "CASE WHEN doc_id % 6 = 0 THEN NULL ELSE n_chars END AS m1_n, "
        "CASE WHEN doc_id % 6 = 0 THEN NULL ELSE lang END AS m1_s, "
        "CASE WHEN doc_id % 6 = 0 THEN NULL ELSE n_chars * 2 END AS m2_n, "
        "CASE WHEN doc_id % 6 = 0 OR doc_id % 3 = 0 THEN NULL ELSE source END AS m2_s "
        "FROM documents"
    )
    o["roundtrip_struct_spans"] = (
        "SELECT doc_id, n_chars AS k, u.tok AS tok, "
        "CASE WHEN (u.i - 1) % 3 = 0 THEN NULL ELSE CAST(u.i - 1 AS INT) END AS pos FROM ("
        "SELECT doc_id, n_chars, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok, "
        "unnest(generate_series(1, len(regexp_split_to_array(trim(text), '\\s+')))) AS i "
        "FROM documents WHERE doc_id % 5 <> 0) AS u(doc_id, n_chars, tok, i) "
        "UNION ALL "
        "SELECT doc_id, n_chars AS k, CAST(NULL AS VARCHAR) AS tok, CAST(NULL AS INT) AS pos "
        "FROM documents WHERE doc_id % 5 = 0"
    )
    o["roundtrip_parquet_file"] = (
        "SELECT doc_id, text, lang, n_chars, lang AS m_lang, n_chars AS m_n "
        "FROM documents"
    )
    o["export_parquet_roundtrip"] = "SELECT doc_id, text, lang, n_chars FROM documents"
    o["roundtrip_decimal"] = (
        "SELECT l_orderkey * 100 + l_linenumber AS rid, "
        "CAST(CAST(l_discount AS DECIMAL(7,2)) AS VARCHAR) AS disc_d7, "
        "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR) AS price_d12, "
        "CAST(CAST(l_extendedprice AS DECIMAL(25,4)) AS VARCHAR) AS price_d25 FROM lineitem"
    )
    o["roundtrip_events"] = (
        "SELECT event_id, ts, user_id, event_type, value, props FROM events"
    )
    o["doc_stats_by_lang"] = (
        "SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars, "
        "min(doc_id) AS first_doc FROM documents GROUP BY lang"
    )
    o["token_counts"] = (
        "SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens, "
        "length(text) AS n_chars_obs FROM documents"
    )
    from parquet4seastar_spark.operators.text import BPE_PATTERN, STOPWORDS

    o["token_counts_bpe"] = (
        f"SELECT doc_id, len(regexp_extract_all(text, ' ?[\\p{{L}}]+| ?[\\p{{N}}]+|"
        f" ?[^\\s\\p{{L}}\\p{{N}}]+|\\s+')) AS n_bpe_tokens, "
        "len(regexp_split_to_array(trim(text), '\\s+')) AS n_word_tokens FROM documents"
    )
    # one alternation pass, mirroring text._marker_count (whole-word matches
    # on distinct words are disjoint, so the count equals the per-word sum)
    stop_sum = (
        f"len(regexp_extract_all(lower(text), '\\b({'|'.join(STOPWORDS)})\\b'))"
    )
    o["stopword_stats"] = (
        f"SELECT doc_id, ({stop_sum}) AS n_stopwords, "
        "len(regexp_split_to_array(trim(text), '\\s+')) AS n_word_tokens, "
        f"CAST(floor(({stop_sum}) * 100 / greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1)) AS BIGINT)"
        " AS stopword_pct FROM documents"
    )
    o["quality_scores"] = (
        "SELECT doc_id, length(text) AS n_chars_q, "
        "length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha_chars, "
        "length(regexp_replace(text, '[^0-9]', '', 'g')) AS digit_chars, "
        "length(regexp_replace(text, '[^ \t\n]', '', 'g')) AS space_chars, "
        "length(text) - length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) "
        " - length(regexp_replace(text, '[^0-9]', '', 'g')) "
        " - length(regexp_replace(text, '[^ \t\n]', '', 'g')) AS other_chars, "
        "CASE WHEN length(text) < 100 THEN 'short' WHEN length(text) < 2000 THEN 'medium' "
        "ELSE 'long' END AS len_bucket FROM documents"
    )
    # language_id: marker counts via whole-word regex splits, same formula
    from parquet4seastar_spark.operators.text import LANG_MARKERS

    score_exprs = []
    for lang, words in LANG_MARKERS.items():
        parts = f"len(regexp_extract_all(lower(text), '\\b({'|'.join(words)})\\b'))"
        score_exprs.append(f"({parts}) AS score_{lang}")
    langs = list(LANG_MARKERS)
    greatest = f"greatest({', '.join('score_' + l for l in langs)})"
    case = f"CASE WHEN {greatest} <= 0 THEN 'und' " + " ".join(
        f"WHEN score_{l} = {greatest} THEN '{l}'" for l in langs
    ) + " END AS lang_guess"
    o["language_id"] = (
        "SELECT doc_id, " + ", ".join(f"score_{l}" for l in langs) + ", " + case
        + f" FROM (SELECT doc_id, {', '.join(score_exprs)} FROM documents)"
    )
    o["fingerprints"] = (
        "SELECT doc_id, md5(text) AS fp_md5, substring(md5(text), 1, 16) AS fp_prefix64 FROM documents"
    )
    o["stratified_sample"] = (
        "SELECT doc_id, lang FROM documents "
        "WHERE substring(md5(concat(coalesce(lang, ''), ':', "
        "coalesce(CAST(doc_id AS VARCHAR), ''))), 1, 2) < '40'"
    )
    from parquet4seastar_spark.operators.text import PII_PATTERNS

    _pii_src = (
        "SELECT doc_id, concat(text, CASE WHEN doc_id % 7 = 0 THEN "
        "' contact: bob@example.com or 555-123-4567 ssn 123-45-6789' ELSE '' END) AS t "
        "FROM documents"
    )
    # count each pattern against the PREVIOUS pattern's output, mirroring
    # the operator (no double-count of spans consumed by an earlier pattern)
    _red = "t"
    _cnt = []
    for _pat, _tag in PII_PATTERNS:
        _cnt.append(f"(len(regexp_split_to_array({_red}, '{_pat}')) - 1)")
        _red = f"regexp_replace({_red}, '{_pat}', '{_tag}', 'g')"
    o["redact_pii"] = (
        f"SELECT doc_id, {_red} AS text_redacted, "
        f"CAST({' + '.join(_cnt)} AS INT) AS n_redactions FROM ({_pii_src})"
    )
    o["dedup_filtered_corpus"] = """
        WITH all_docs AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 10
        )
        SELECT a.doc_id FROM all_docs a
        JOIN (SELECT text, min(doc_id) AS rep FROM all_docs GROUP BY text) r
          ON a.text = r.text AND a.doc_id = r.rep
    """
    o["top_terms_by_lang"] = (
        "SELECT lang, term, cnt, rank FROM ("
        "SELECT lang, term, cnt, CAST(row_number() OVER "
        "(PARTITION BY lang ORDER BY cnt DESC, term ASC) AS INT) AS rank FROM ("
        "SELECT lang, term, CAST(count(*) AS BIGINT) AS cnt FROM ("
        "SELECT lang, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term "
        "FROM documents) GROUP BY 1, 2)) WHERE rank <= 5"
    )
    o["dedup_groups"] = """
        SELECT vec_id, CAST(vec_id % 10000000 AS BIGINT) AS rep FROM (
            SELECT vec_id FROM embeddings WHERE vec_id < 10
            UNION ALL SELECT vec_id + 10000000 FROM embeddings WHERE vec_id < 10
            UNION ALL SELECT vec_id + 20000000 FROM embeddings WHERE vec_id < 10
        ) AS p(vec_id)
    """
    o["dedup_exact"] = (
        "SELECT min(doc_id) AS keep_id, count(*) AS n_copies FROM documents GROUP BY text"
    )
    # identical-text pairs among planted-union docs: the deterministic subset
    # the LSH / banded-simhash pipelines are guaranteed (recall 1) to surface
    _planted_pairs = """
        WITH all_docs AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 10
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM all_docs a JOIN all_docs b ON a.text = b.text AND a.doc_id < b.doc_id
    """
    o["dedup_minhash_lsh"] = _planted_pairs
    o["dedup_simhash_pairs"] = _planted_pairs
    o["dedup_ngram_jaccard"] = _planted_pairs
    # self-match invariant: each query vector is drawn from the corpus and is
    # its own rank-1 neighbor under cosine (see queries() comment)
    o["ann_indexed_topk"] = (
        "SELECT vec_id AS query_id, vec_id AS lsh_neighbor, vec_id AS ivf_neighbor "
        "FROM embeddings WHERE vec_id < 5"
    )
    o["decontaminate"] = (
        "SELECT doc_id, "
        "CASE WHEN doc_id % 9 = 0 THEN 1 ELSE 0 END AS n_hits, "
        "doc_id % 9 = 0 AS contaminated FROM documents"
    )
    o["pack_sequences"] = (
        "SELECT doc_id, lang, "
        "len(regexp_split_to_array(trim(coalesce(text, '')), '\\s+')) AS n_tokens, "
        "CAST(floor(coalesce(sum(len(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'))) "
        "OVER (PARTITION BY lang ORDER BY doc_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 500) AS BIGINT) "
        "AS seq_bin FROM documents"
    )
    o["ann_bruteforce_topk"] = """
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        scored AS (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   list_cosine_similarity(q.qv, e.embedding) AS cosine
            FROM embeddings e CROSS JOIN q
        ),
        ranked AS (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 10
    """
    o["embedding_near_dups"] = """
        WITH all_vecs AS (
            SELECT vec_id, embedding FROM embeddings
            UNION ALL
            SELECT vec_id + 10000000,
                   list_transform(embedding, x -> CAST(x * 1.01 AS FLOAT))
            FROM embeddings WHERE vec_id < 20
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM all_vecs a JOIN all_vecs b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.9
    """
    o["multimodal_ingest"] = (
        "SELECT doc_id, 'text/plain' AS media_type, "
        "octet_length(encode(text)) AS n_bytes, md5(text) AS md5, "
        "CAST(octet_length(encode(text)) % 640 AS INT) AS width, "
        "CAST(octet_length(encode(text)) % 480 AS INT) AS height FROM documents"
    )
    o["windowed_event_counts"] = (
        "SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type, "
        "count(*) AS n_events FROM events GROUP BY 1, 2"
    )
    o["multimodal_frames"] = """
        SELECT doc_id, (u - 1) * 1024 AS frame_offset
        FROM (
            SELECT doc_id,
                   unnest(range(1, greatest(octet_length(encode(text)) // 1024, 1) + 1)) AS u
            FROM documents
        )
    """
    # fuzzy decontamination: containment of each blocklist entry's distinct
    # 9-grams in the (identically planted) doc text, computed from raw
    # substrings — flagged <=> any entry clears the 0.5 threshold
    _fz_mut = FUZZY_CANARY.replace("velocity", "speed")
    o["decontaminate_fuzzy"] = f"""
        WITH bl AS (
            SELECT 1 AS bid, '{FUZZY_CANARY}' AS btext
            UNION ALL SELECT 2, '{FUZZY_ABSENT}'
        ),
        blg AS (
            SELECT DISTINCT bid, substr(btext, CAST(i AS INT), 9) AS g
            FROM (SELECT bid, btext, unnest(range(1, length(btext) - 9 + 2)) AS i FROM bl)
        ),
        bln AS (SELECT bid, count(*) AS bn FROM blg GROUP BY bid),
        docs2 AS (
            SELECT doc_id, concat(text,
                CASE WHEN doc_id % 7 = 0 THEN ' {_fz_mut}' ELSE '' END) AS t
            FROM documents
        ),
        dg AS (
            SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 9) AS g
            FROM (SELECT doc_id, t,
                  unnest(range(1, greatest(length(t) - 9 + 1, 0) + 1)) AS i FROM docs2)
        ),
        hits AS (
            SELECT doc_id, blg.bid, count(*) AS nh
            FROM dg JOIN blg USING (g) GROUP BY doc_id, blg.bid
        ),
        m AS (
            SELECT h.doc_id, CAST(count(*) AS BIGINT) AS n_entry_matches
            FROM hits h JOIN bln USING (bid)
            WHERE nh >= bn * 0.5 GROUP BY h.doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(m.n_entry_matches, 0) AS BIGINT) AS n_entry_matches,
               coalesce(m.n_entry_matches, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN m USING (doc_id)
    """
    # intra-document repetition: distinct-vs-total substring 8-grams and
    # repeated non-empty lines over the identically planted text
    _rep_tail = REPEAT_TAIL.replace("\n", "' || chr(10) || '")
    o["doc_repetition"] = f"""
        WITH docs2 AS (
            SELECT doc_id, concat(text,
                CASE WHEN doc_id % 11 = 0 THEN '{_rep_tail}' ELSE '' END) AS t
            FROM documents
        ),
        ng AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS total,
                   CAST(count(DISTINCT substr(t, CAST(i AS INT), 8)) AS BIGINT) AS uniq
            FROM (SELECT doc_id, t,
                  unnest(range(1, greatest(length(t) - 8 + 1, 0) + 1)) AS i FROM docs2)
            GROUP BY doc_id
        ),
        ln AS (
            SELECT doc_id,
              CAST(len(list_filter(string_split(t, chr(10)), x -> length(trim(x)) > 0)) AS BIGINT) AS n_lines,
              CAST(len(list_distinct(list_filter(string_split(t, chr(10)), x -> length(trim(x)) > 0))) AS BIGINT) AS n_uniq
            FROM docs2
        )
        SELECT d.doc_id,
               CAST(coalesce(ng.total, 0) AS BIGINT) AS n_ngrams,
               CAST(floor((coalesce(ng.total, 0) - coalesce(ng.uniq, 0)) * 100
                    / greatest(coalesce(ng.total, 0), 1)) AS BIGINT) AS dup_ngram_pct,
               ln.n_lines AS n_lines,
               CAST(floor((ln.n_lines - ln.n_uniq) * 100
                    / greatest(ln.n_lines, 1)) AS BIGINT) AS dup_line_pct
        FROM docs2 d LEFT JOIN ng USING (doc_id) JOIN ln USING (doc_id)
    """
    # incremental dedup: identical-text pairs whose higher id is in the new
    # batch (store-vs-store pairs are precisely what incremental mode must
    # NOT re-emit)
    o["dedup_minhash_incremental"] = """
        WITH all_docs AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM all_docs a JOIN all_docs b
          ON a.text = b.text AND a.doc_id < b.doc_id AND b.doc_id >= 1000000
    """
    # lineage audit on an uncorrupted table: one chunk per part key (the sf
    # tables are far below one chunk target per key), zero sha mismatches.
    # The part keys are salted_repartition's: a source above the target is
    # split into ceil(rows / target) buckets; the rest are packed, over the
    # sources ordered by rows desc, into bin = floor((running rows - 1) /
    # pack), pack = min(target, ceil(small rows / MIN_PACKED_BINS = 8)).  Ties
    # in rows leave the running sums, and so the bin count, unchanged.
    _pack_target = 300
    _packed_bins = f"""(
        WITH sizes AS (SELECT count(*) AS n FROM documents GROUP BY source),
        small AS (
            SELECT sum(n) OVER (ORDER BY n DESC ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
            FROM sizes WHERE n <= {_pack_target}
        ),
        pack AS (
            SELECT least({_pack_target}, greatest(1, ceil(coalesce(sum(n), 0) / 8.0))) AS p
            FROM sizes WHERE n <= {_pack_target}
        )
        SELECT CAST(
            (SELECT count(DISTINCT floor(greatest(cum - 1, 0) / p)) FROM small, pack)
            + (SELECT coalesce(sum(ceil(n / {_pack_target})), 0) FROM sizes WHERE n > {_pack_target})
        AS BIGINT)
    )"""
    _audit_k = _packed_bins
    o["lineage_audit"] = " UNION ALL ".join(
        f"SELECT '{c}' AS \"column\", {_audit_k} AS n_chunks, CAST(0 AS BIGINT) AS n_bad"
        for c in ["lang", "n_chars", "row_id", "text"]
    )
    # encode metrics, input side: rows/nulls/PLAIN input_bytes/chunk count
    # are all derivable from the source table (compression metrics are
    # Spark-only and projected out of the checked projection)
    _m_k = _packed_bins
    _m_rows = "(SELECT CAST(count(*) AS BIGINT) FROM documents)"
    o["encode_metrics_documents"] = " UNION ALL ".join(
        f"SELECT '{c}' AS \"column\", {_m_rows} AS \"rows\", CAST(0 AS BIGINT) AS nulls, "
        f"{b} AS input_bytes, {_m_k} AS chunks"
        for c, b in [
            ("lang", "(SELECT CAST(sum(4 + octet_length(encode(lang))) AS BIGINT) FROM documents)"),
            ("n_chars", "(SELECT CAST(8 * count(*) AS BIGINT) FROM documents)"),
            ("row_id", "(SELECT CAST(8 * count(*) AS BIGINT) FROM documents)"),
            ("source", "(SELECT CAST(sum(4 + octet_length(encode(source))) AS BIGINT) FROM documents)"),
            ("text", "(SELECT CAST(sum(4 + octet_length(encode(text))) AS BIGINT) FROM documents)"),
        ]
    )
    return o
