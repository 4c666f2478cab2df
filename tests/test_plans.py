"""Physical-plan regression tests: lock in the scale-critical properties
documented in PLANS.md (broadcast joins, predicate pushdown, column
pruning, single-shuffle salting)."""

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_salted_repartition_broadcasts_sizes(spark):
    from parquet4seastar_spark.engine.encode_job import salted_repartition

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").alias("row_id"), "text", F.col("source").alias("repo")
    )
    plan = _plan(salted_repartition(docs, 4, size_col="text"))
    assert "BroadcastHashJoin" in plan  # per-repo sizes join is broadcast
    # exactly ONE shuffle moves the value bytes (the part_key repartition);
    # the second hashpartitioning is the tiny one-row-per-repo aggregate
    assert plan.count("Exchange hashpartitioning(part_key") == 1


def test_scan_pruning_and_pushdown(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.select("doc_id", "lang").filter(F.col("lang") == "en")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan


def test_exact_dedup_exchange_carries_fingerprints_not_text(spark):
    """The dedup aggregate shuffles 16-byte fingerprints, never the corpus
    bytes: keys are the two salted xxhash64 values, the map-side partial
    min/count runs below the exchange, and no exchange partitions on text."""
    import re

    from parquet4seastar_spark.operators.dedup import exact_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(exact_dedup(docs))
    assert "Exchange hashpartitioning(_fp" in plan
    assert "Exchange hashpartitioning(text" not in plan
    assert re.search(r"HashAggregate\(keys=\[_fp#\d+L?, _fp2#\d+L?\], functions=\[partial_min", plan), plan


def test_row_count_salting_prunes_value_column(spark):
    from parquet4seastar_spark.engine.encode_job import salted_repartition

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").alias("row_id"), "text", F.col("source").alias("repo")
    )
    salted = salted_repartition(docs, 4, salt_target_rows=1000)
    # the sizes aggregate subtree must not read the value bytes
    opt = _optimized(salted)
    assert "count(1)" in opt  # row-count mode, not octet_length sum


def test_multimodal_plan_has_no_python_stage(spark):
    # ingest metadata + frame sampling are pure column math: the plan must
    # stay JVM-side (no ArrowEvalPython / MapInPandas / BatchEvalPython)
    from parquet4seastar_spark.operators.multimodal import frame_sample, ingest_media

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    media = ingest_media(docs)
    for df in (media, frame_sample(media, every_n_bytes=1024)):
        plan = _plan(df)
        for marker in ("Python", "MapInPandas", "ArrowEval"):
            assert marker not in plan, plan


def test_ann_corpus_never_shuffles(spark):
    from parquet4seastar_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plan = _plan(brute_force_topk(emb, q, k=5))
    assert "BroadcastNestedLoopJoin" in plan  # queries broadcast to the corpus
    assert "WindowGroupLimit" in plan  # top-k rank pushdown before the sort


def test_ann_scores_each_pair_once(spark):
    # the NULL-score drop must sit after the top-k window: a filter on the
    # score below it is pushed into the candidate join's condition, and
    # every pair's dot product is then computed twice
    from parquet4seastar_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cb = S.pq_train(emb, m=2, k=4)
    paths = {
        "brute_force": S.brute_force_topk(emb, q, k=5),
        "lsh": S.lsh_topk(emb, q, k=5, bits=4),
        "ivf": S.ivf_topk(emb, q, k=5, n_clusters=4),
        "pq_rerank": S.pq_topk(S.pq_encode(emb, cb), cb, q, k=5, rerank=emb),
    }
    for name, df in paths.items():
        assert _optimized(df).count("zip_with") == 1, name


def test_near_dups_score_each_pair_once(spark, monkeypatch):
    # a filter over the aliased score is pushed below its projection and
    # evaluates the score twice; every near-dup confirm keeps it once
    from parquet4seastar_spark.operators import dedup as D, similarity as S

    monkeypatch.setattr(S, "_BROADCAST_CONFIRM_BYTES", -1)  # the shuffled confirm
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
    store = D.minhash_signatures(docs.filter(F.col("doc_id") < 100))
    incremental, _ = D.minhash_lsh_pairs_incremental(docs.filter(F.col("doc_id") >= 100), store)
    paths = {
        "minhash": D.minhash_lsh_pairs(docs),
        "incremental": incremental,
        "embedding": S.embedding_near_dups(emb, threshold=0.5),
    }
    for name, df in paths.items():
        assert _optimized(df).count("zip_with") == 1, name
    assert _optimized(D.simhash_near_dups(docs)).count("bit_count") == 1


def test_stratified_sample_is_map_side_only(spark):
    # hash-prefix sampling must be a pure scan+filter: no Exchange, no
    # Python stage -- the filter rides whole-stage codegen past pruning
    from parquet4seastar_spark.operators.text import stratified_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(stratified_sample(docs).select("doc_id", "lang"))
    assert "Exchange" not in plan, plan
    for marker in ("Python", "MapInPandas", "ArrowEval"):
        assert marker not in plan, plan


def test_redact_pii_is_map_side_only(spark):
    from parquet4seastar_spark.operators.text import redact_pii

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(redact_pii(docs))
    assert "Exchange" not in plan, plan
    for marker in ("Python", "MapInPandas", "ArrowEval"):
        assert marker not in plan, plan


def test_top_terms_window_group_limit(spark):
    # per-lang top-k must push rank<=k below the sort (WindowGroupLimit):
    # only k rows per lang survive the window region at scale
    from parquet4seastar_spark.operators.text import top_terms_by_lang

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(top_terms_by_lang(docs, k=5))
    assert "WindowGroupLimit" in plan, plan
    # one aggregate shuffle + one window shuffle, nothing more (count only
    # shuffle Exchanges — 'Exchange' alone also matches Broadcast/Reused)
    import re

    n_shuffles = len(re.findall(r"\bExchange hashpartitioning", plan))
    assert n_shuffles <= 2, plan


def _bloom_store(spark, tmp_path) -> str:
    """A column store of a unique-key column ``k`` with per-chunk blooms."""
    from parquet4seastar_spark.engine.encode_job import encode_table
    from parquet4seastar_spark.engine.store import write_store

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").alias("row_id"),
        F.concat(F.lit("key-"), F.format_string("%04d", F.col("doc_id"))).alias("k"),
        "source",
    )
    store = str(tmp_path / "store")
    write_store(
        # 20 sources of 25 rows packed two to a part key: 10 chunks
        encode_table(docs, columns=["k"], policy="plain", salt_col="source", num_partitions=2,
                     salt_target_rows=50), store
    )
    return store


def test_prune_chunks_is_a_key_filter_on_the_scan(spark, tmp_path):
    # the survivors are decided on the driver: the pruned frame is the
    # stored scan under one predicate on (part_key, chunk_seq) -- no join,
    # no broadcast, no aggregate
    from parquet4seastar_spark.engine.decode_job import prune_chunks
    from parquet4seastar_spark.engine.store import read_store

    stored = read_store(spark, _bloom_store(spark, tmp_path), ["k"])
    plan = _plan(prune_chunks(stored, "k", eq="key-0123"))
    for marker in ("Join", "BroadcastExchange", "Aggregate", "Exchange"):
        assert marker not in plan, plan
    top = plan.splitlines()[0]
    assert "Filter" in top and "part_key" in top and "chunk_seq" in top, plan
    assert "FileScan parquet" in plan, plan


def test_prune_chunks_on_a_store_launches_no_jobs(spark, tmp_path, jobs_launched):
    # a read_store frame's chunk index is read with pyarrow on the driver;
    # a miss that drops every chunk is an empty local relation, so its
    # plan scans no file at all
    from parquet4seastar_spark.engine.decode_job import prune_chunks
    from parquet4seastar_spark.engine.store import read_store

    store = _bloom_store(spark, tmp_path)
    hit, n = jobs_launched(lambda: prune_chunks(read_store(spark, store, ["k"]), "k", eq="key-0123"))
    assert n == 0
    miss, n = jobs_launched(lambda: prune_chunks(read_store(spark, store, ["k"]), "k", eq="key-00x0"))
    assert n == 0
    plan = _plan(miss)
    assert "LocalTableScan" in plan and "FileScan" not in plan, plan
    assert miss.count() == 0
    assert miss.schema == read_store(spark, store, ["k"]).schema
    assert "p4s.decoded_schema" in miss.schema["logical"].metadata
    rows = hit.filter((F.col("kind") == "chunk") & (F.col("column") == "k")).count()
    assert rows >= 1


def test_store_and_chained_decodes_launch_no_planning_jobs(spark, tmp_path, jobs_launched):
    # the decoded schema rides on the pages frame: read_store takes Spark's
    # schema from one footer (no inference job) and decode_table reads the
    # recorded map (no discovery collect), so building either decode plan
    # launches no Spark job before its action
    from parquet4seastar_spark.engine.decode_job import decode_table
    from parquet4seastar_spark.engine.encode_job import encode_table
    from parquet4seastar_spark.engine.store import read_store, write_store

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").alias("row_id"), "text", "lang", "source"
    )
    store = str(tmp_path / "store")
    write_store(
        encode_table(docs, columns=["text", "lang"], salt_col="source", num_partitions=2),
        store,
    )
    stored, n = jobs_launched(lambda: decode_table(read_store(spark, store, ["lang"]), ["lang"]))
    assert n == 0
    assert stored.count() == 500

    enc = {}

    def chained():
        enc["df"] = encode_table(docs, columns=["text"], salt_col="source", num_partitions=2)
        return decode_table(enc["df"], ["text"])

    dec, n = jobs_launched(chained)
    assert n == 0
    assert dec.count() == 500
    enc["df"].unpersist()


def _chunk_pass_plans(spark, tmp_path, frames) -> dict:
    """{(frame, pass): executed plan} of decode_table, audit_lineage and
    export_parquet_files over each of ``frames(store, flat)``, both
    written from one encode."""
    from parquet4seastar_spark.engine.decode_job import decode_table
    from parquet4seastar_spark.engine.encode_job import encode_table
    from parquet4seastar_spark.engine.export import export_parquet_files
    from parquet4seastar_spark.engine.store import write_store
    from parquet4seastar_spark.engine.verify import audit_lineage

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").alias("row_id"), "lang", "n_chars", "source"
    )
    enc = encode_table(docs, columns=["lang", "n_chars"], policy="plain", salt_col="source",
                       num_partitions=2).persist()
    store, flat = str(tmp_path / "store"), str(tmp_path / "flat")
    write_store(enc, store)
    enc.write.parquet(flat)
    enc.unpersist()
    plans = {}
    for name, frame in frames(store, flat).items():
        plans[name, "decode"] = _plan(decode_table(frame, ["lang"]))
        plans[name, "audit"] = _plan(audit_lineage(frame))
        plans[name, "export"] = _plan(export_parquet_files(frame, ["lang", "n_chars"], str(tmp_path / "x")))
    return plans


def test_chunk_passes_on_an_in_memory_frame_repartition_once_then_map_in_arrow(spark, tmp_path):
    # decode, audit and export share one per-chunk pass; over a frame that
    # is not a bare scan of local files it is a single repartition on
    # (part_key, chunk_seq) with no partition count (AQE may coalesce it)
    # and one mapInArrow over key runs -- no grouped-map stage
    import re

    from parquet4seastar_spark.engine.store import read_store

    persisted = []

    def frames(store, flat):
        persisted.append(read_store(spark, store, ["lang", "n_chars"]).persist())
        return {"persisted": persisted[0]}

    plans = _chunk_pass_plans(spark, tmp_path, frames)
    persisted[0].unpersist()
    for name, plan in plans.items():
        assert "FlatMapGroupsIn" not in plan, (name, plan)
        assert "MapInArrow by_chunk" in plan, (name, plan)
        assert plan.count("Exchange ") == 1, (name, plan)
        pattern = r"Exchange hashpartitioning\(part_key#\d+, chunk_seq#\d+, \d+\), REPARTITION_BY_COL"
        assert len(re.findall(pattern, plan)) == 1, (name, plan)


def test_chunk_passes_on_a_store_read_its_files_without_an_exchange(spark, tmp_path):
    # a bare parquet scan of local files (read_store, or a plain read of a
    # flat store) is read by the workers: one mapInArrow over a Range, with
    # no Exchange and no Spark file scan below it
    from parquet4seastar_spark.engine.store import read_store

    plans = _chunk_pass_plans(spark, tmp_path, lambda store, flat: {
        "read_store": read_store(spark, store, ["lang", "n_chars"]),
        "flat": spark.read.parquet(flat),
    })
    for name, plan in plans.items():
        assert "MapInArrow by_file_group" in plan, (name, plan)
        below = plan[plan.index("MapInArrow by_file_group"):]
        assert "Exchange" not in below and "FileScan" not in below and "Range (0, " in below, (name, plan)
