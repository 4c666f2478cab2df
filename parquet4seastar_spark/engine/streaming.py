"""Structured Streaming ingestion into the encode engine.

The reference has no stream processing (Seastar futures are async I/O, not
streaming -- SURVEY.md §2.4); this module is the engine's scale-path for
continuously arriving source files: a file-source stream is encoded in
micro-batches via foreachBatch -> encode_table, writing pages+lineage to
the metrics table.  foreachBatch alone is at-least-once on batch retry;
each batch therefore writes to its own ``batch_id=N`` partition directory
with overwrite mode, so a retried batch replaces (not duplicates) its own
output -- end-to-end idempotent given Spark's checkpointed batch ids.  The
lineage anti-join (encode_job.resume) additionally makes manual re-runs
idempotent.

Also provides the watermarked windowed-aggregation shape over an event
stream (late data tolerated up to the watermark), usable in both batch and
streaming mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .encode_job import encode_table


def stream_encode(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    output_dir: str,
    checkpoint_dir: str,
    *,
    columns: list[str] | None = None,
    policy: str = "auto",
    salt_col: str = "repo",
    id_cols: list[str] | None = None,
    available_now: bool = True,
):
    """Encode a growing directory of parquet files as a stream.

    Each micro-batch runs the full distributed encode (salting, codec
    auto-selection, lineage) and appends to ``output_dir``.  ``row_id`` is
    derived deterministically from ``id_cols`` (xxhash64) when the input
    has no row_id column.
    """
    stream = spark.readStream.schema(schema).parquet(input_dir)

    def process_batch(df: DataFrame, batch_id: int) -> None:
        if "row_id" not in df.columns:
            df = df.withColumn("row_id", F.xxhash64(*(id_cols or df.columns)))
        enc = encode_table(df, columns=columns, policy=policy, salt_col=salt_col)
        # batch-scoped overwrite: a retried micro-batch replaces its own
        # partition directory instead of appending duplicates (idempotent
        # under the checkpointed batch ids -> exactly-once output)
        enc.write.mode("overwrite").parquet(f"{output_dir}/batch_id={batch_id}")

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dedup(
    docs_stream: DataFrame,
    key_col: str = "text",
    id_col: str = "row_id",
    n_state_shards: int = 64,
):
    """Custom stateful streaming operator: cross-micro-batch exact dedup.

    Emits only the FIRST occurrence of each ``key_col`` value across the
    whole stream.  Keys are reduced to a 128-bit fingerprint (two
    independently-salted xxhash64 values; collision odds ~2^-128, the
    standard content-hash dedup contract at any realistic corpus size),
    sharded by a hash prefix group (``n_state_shards`` state keys -> state
    shards scale with parallelism; each shard's state is one long array,
    not per-row entries).  Implemented with applyInPandasWithState -- the
    arbitrary-stateful shape Structured Streaming provides for operators
    the built-in aggregations can't express.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_fields = docs_stream.schema.fields
    out_ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in out_fields)
    out_cols = [f.name for f in out_fields]

    from ..operators.dedup import fingerprint_cols

    fp, fp2 = fingerprint_cols(key_col)
    hashed = (
        docs_stream.withColumn("_fp", fp)
        .withColumn("_fp2", fp2)
        .withColumn("_g", F.pmod(F.col("_fp"), F.lit(n_state_shards)).cast("int"))
    )

    def _pair_member(fp: "np.ndarray", seen: "np.ndarray") -> "np.ndarray":
        """Row-wise membership of (n,2) int64 keys in the (m,2) seen set
        (np.unique(axis=0) row semantics -- exact integer compare)."""
        if not len(seen):
            return np.zeros(len(fp), dtype=bool)
        both = np.concatenate([seen, fp])
        _, inverse = np.unique(both, axis=0, return_inverse=True)
        flags = np.zeros(inverse.max() + 1, dtype=bool)
        flags[inverse[: len(seen)]] = True
        return flags[inverse[len(seen) :]]

    def dedup_group(key, pdfs, state: "GroupState"):
        # state = interleaved (fp, fp2) pairs: a (n, 2) 128-bit key matrix
        seen = (
            np.array(state.get[0], dtype=np.int64).reshape(-1, 2)
            if state.exists
            else np.zeros((0, 2), np.int64)
        )
        outs = []
        for pdf in pdfs:
            fp = np.column_stack(
                [pdf["_fp"].to_numpy(dtype=np.int64), pdf["_fp2"].to_numpy(dtype=np.int64)]
            )
            # first occurrence within the batch AND not seen in prior batches
            _, first_idx = np.unique(fp, axis=0, return_index=True)
            keep = np.zeros(len(fp), dtype=bool)
            keep[first_idx] = True
            keep &= ~_pair_member(fp, seen)
            if keep.any():
                outs.append(pdf.loc[keep, out_cols])
                seen = np.concatenate([seen, fp[keep]])
        state.update((seen.reshape(-1).tolist(),))
        if outs:
            yield pd.concat(outs)

    return hashed.groupBy("_g").applyInPandasWithState(
        dedup_group,
        outputStructType=out_ddl,
        stateStructType="seen array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _committed_sig_parts(sig_dir: str) -> list[tuple[int, str]]:
    """[(batch_id, dir)] for batch partitions holding committed part files
    (a crashed mid-write batch leaves only _temporary/ content, which must
    not count as data)."""
    import os

    out = []
    if not os.path.isdir(sig_dir):
        return out
    for d in os.listdir(sig_dir):
        if not d.startswith("batch_id="):
            continue
        path = os.path.join(sig_dir, d)
        has = False
        for root, dirs, files in os.walk(path):
            dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
            if any(not f.startswith(("_", ".")) for f in files):
                has = True
                break
        if has:
            out.append((int(d.split("=", 1)[1]), path))
    return sorted(out)


def _compaction_marker(sig_dir: str, checkpoint_dir: str | None = None) -> int | None:
    """batch_id of the committed latest-only snapshot partition, if any.

    The marker records the CHECKPOINT identity alongside the snapshot id
    (ADVICE r6): batch ids restart at 0 under a fresh checkpoint, so a
    stale marker from a previous stream lifecycle must not make the new
    stream's same-numbered batch look like a committed no-op.  A marker
    whose recorded checkpoint differs from the running one is treated as
    snapshot-only metadata (the store view still honors it); legacy
    markers without the field keep the old coupled-lifecycle behavior.
    """
    import json
    import os

    p = os.path.join(sig_dir, "_compaction.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        meta = json.load(f)
    if (
        checkpoint_dir is not None
        and "checkpoint" in meta
        and meta["checkpoint"] != os.path.abspath(checkpoint_dir)
    ):
        return None
    return int(meta["snapshot"])


def _write_compaction_marker(sig_dir: str, batch_id: int, checkpoint_dir: str | None = None) -> None:
    import json
    import os

    tmp = os.path.join(sig_dir, "._compaction.json.tmp")
    meta = {"snapshot": batch_id}
    if checkpoint_dir is not None:
        meta["checkpoint"] = os.path.abspath(checkpoint_dir)
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(sig_dir, "_compaction.json"))


def near_dedup_store_view(
    spark: SparkSession,
    sig_dir: str,
    exclude_batch: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Latest-wins (doc_id, sig) view of a stream_near_dedup signature
    store.

    Without compaction the view is a row_number window over every batch
    partition — a full-store shuffle that grows with stream lifetime.
    After a compaction batch, the snapshot partition is KNOWN unique
    (``_compaction.json`` records its batch_id), so the window covers only
    the post-snapshot partitions (bounded by the compaction interval) and
    the snapshot contributes via a broadcast anti-join on the recent ids —
    the snapshot rows never shuffle.

    ``exclude_batch``: drop that batch's partition from the view.
    process_batch passes its own batch_id so a RETRIED batch never reads
    its previous attempt's leftover partition — in particular, a retried
    compaction batch whose snapshot committed but whose marker write
    crashed would otherwise scan the very path its compacted rewrite
    overwrites (self-overwrite = wedged stream / store loss).

    ``checkpoint_dir``: the running stream's checkpoint.  When the marker
    was written under a different checkpoint, the snapshot belongs to an
    earlier stream lifecycle: batch ids restarted at 0, so every other
    partition is newer than the snapshot whatever its batch id, and the
    snapshot loses every latest-wins tie."""
    from pyspark.sql import Window

    def latest(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("doc_id").orderBy(F.col("batch_id").desc())
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("doc_id", "sig")
        )

    parts = _committed_sig_parts(sig_dir)
    if exclude_batch is not None:
        parts = [(bid, p) for bid, p in parts if bid != exclude_batch]
    if not parts:
        return spark.createDataFrame([], "doc_id long, sig array<long>")
    snap = _compaction_marker(sig_dir)
    by_id = dict(parts)
    if snap is not None and snap in by_id:
        snap_df = spark.read.parquet(by_id[snap]).select("doc_id", "sig")
        other_lifecycle = (
            checkpoint_dir is not None
            and _compaction_marker(sig_dir, checkpoint_dir) is None
        )
        recent = [
            p for bid, p in parts
            if (bid != snap if other_lifecycle else bid > snap)
        ]
        if not recent:
            return snap_df
        rec_latest = latest(spark.read.option("basePath", sig_dir).parquet(*recent))
        return snap_df.join(
            F.broadcast(rec_latest.select("doc_id")), "doc_id", "left_anti"
        ).union(rec_latest)
    # no snapshot yet: latest-wins over the whole store (bounded only by
    # how many batches have run before the first compaction)
    return latest(spark.read.option("basePath", sig_dir).parquet(*(p for _, p in parts)))


def stream_near_dedup(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    sig_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    *,
    threshold: float = 0.9,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 9,
    seed: int = 42,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    compact_every: int | None = None,
):
    """Continuous NEAR-duplicate detection over a growing document
    directory: each micro-batch runs the incremental MinHash-LSH operator
    against the persisted signature store, so a batch's text is shingled
    exactly once for the stream's lifetime (the continuous-ingest shape of
    ``dedup.minhash_lsh_pairs_incremental``; old batches contribute only
    their stored ids+signatures).

    Output layout (both written per ``batch_id=N`` partition with
    overwrite, the same batch-retry-exactly-once contract as
    :func:`stream_encode`):
    - ``pairs_dir``:  (doc_a, doc_b, est_jaccard) cross/intra-batch pairs;
    - ``sig_dir``:    the signature store itself — each batch appends its
      own signatures, so the store doubles as the stream's dedup state and
      survives checkpoint loss (state lives in data, not in the stream
      engine).

    Delivery semantics: a RETRIED micro-batch replaces its own partitions
    (exactly-once under engine retries), but a doc RE-DELIVERED by the
    source (same doc_id in a later file) re-reports its pairs into the new
    batch partition — the global pairs table is therefore at-least-once
    per logical pair under source-level duplication; consumers dedupe by
    (doc_a, doc_b) (e.g. dropDuplicates before connected components),
    which is cheap and what the batch operators already do internally.

    ``compact_every=K`` rewrites the store latest-only every K batches:
    the compaction batch's partition becomes the whole-store snapshot,
    every other partition is deleted, and ``_compaction.json`` records the
    snapshot id — after which every store read windows only the
    post-snapshot partitions (bounded by K) and anti-joins the snapshot
    without shuffling it (see :func:`near_dedup_store_view`).  Ordering
    is crash-safe: snapshot write -> marker update -> cleanup, and a
    retried compaction batch whose marker already points at it is a
    committed no-op.
    """
    import os
    import shutil

    from ..operators.dedup import minhash_lsh_pairs_incremental

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)

    def process_batch(df: DataFrame, batch_id: int) -> None:
        if _compaction_marker(sig_dir, checkpoint_dir) == batch_id:
            # the marker is the LAST write of a compaction batch: its
            # presence means pairs, sigs, and snapshot are all durable —
            # a retry is a committed no-op.  The checkpoint identity in
            # the marker keeps a FRESH checkpoint over an old store from
            # matching a stale marker (batch ids restart at 0).
            return
        batch = df.select("doc_id", "text")
        compacting = bool(compact_every) and (batch_id + 1) % compact_every == 0
        # exclude_batch: a retried batch must never read its own previous
        # attempt's partition (and the compacted rewrite below must never
        # read the path it overwrites, in any crash state)
        store = near_dedup_store_view(
            spark, sig_dir, exclude_batch=batch_id, checkpoint_dir=checkpoint_dir
        )
        if compacting:
            # the view feeds BOTH the pairs job and the compacted rewrite;
            # persist it for the batch so the full-store window+anti-join
            # runs once, not twice
            store = store.persist()
        new_sigs = None
        try:
            pairs, new_sigs = minhash_lsh_pairs_incremental(
                batch, store, num_hashes=num_hashes, bands=bands,
                shingle_k=shingle_k, threshold=threshold, seed=seed,
            )
            pairs.write.mode("overwrite").parquet(
                f"{pairs_dir}/batch_id={batch_id}"
            )
            if compacting:
                # latest-only whole store = (pre-batch view minus this
                # batch's ids) + this batch's sigs; sources are the OLDER
                # partitions (exclude_batch above) plus the persisted
                # new_sigs, so overwriting this batch's own partition never
                # reads what it writes — even on a retry whose earlier
                # attempt already committed a snapshot there
                compacted = store.join(
                    F.broadcast(new_sigs.select("doc_id")), "doc_id", "left_anti"
                ).union(new_sigs.select("doc_id", "sig"))
                compacted.write.mode("overwrite").parquet(
                    f"{sig_dir}/batch_id={batch_id}"
                )
                _write_compaction_marker(sig_dir, batch_id, checkpoint_dir)
                # every other partition is folded into the snapshot,
                # including an earlier lifecycle's with higher batch ids
                for bid, path in _committed_sig_parts(sig_dir):
                    if bid != batch_id:
                        shutil.rmtree(path, ignore_errors=True)
            else:
                new_sigs.write.mode("overwrite").parquet(
                    f"{sig_dir}/batch_id={batch_id}"
                )
        finally:
            # a failed-and-retried batch must not strand persisted frames
            # (each retry would otherwise pin another full-store copy)
            if compacting:
                store.unpersist()
            if new_sigs is not None:
                new_sigs.unpersist()

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Watermarked tumbling-window counts; works on both a static and a
    streaming DataFrame (the watermark is a no-op in batch mode)."""
    src = events
    if dict(src.dtypes).get(ts_col) == "timestamp_ntz":
        # watermarks require TIMESTAMP; interpret NTZ in the session zone
        src = src.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if src.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    return (
        src.groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            key_col,
            "n_events",
        )
    )
