"""Round-trip verification + lineage/metrics helpers.

North-rule contract (BASELINE.json): encode column -> pages -> decode ->
compare, with per-row content sha256 equality vs the original, and a
lineage/metrics table (chunk id, codec chosen, compressed bytes, sha256)
enabling resumable re-runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .decode_job import decode_table


def roundtrip_verify(source: DataFrame, encoded: DataFrame, columns: list[str]) -> DataFrame:
    """Decode ``columns`` and join back to ``source`` on row_id.

    Returns one row: ``rows`` (the joined row count) and one
    ``<column>_mismatches`` count per column.
    String columns compare on sha2(); other types compare value equality --
    both null-safe (<=> semantics).
    """
    decoded = decode_table(encoded, columns)
    src = source.select("row_id", *columns)
    joined = src.alias("s").join(decoded.alias("d"), "row_id", "full_outer")
    aggs = []
    for c in columns:
        s, d = F.col(f"s.`{c}`"), F.col(f"d.`{c}`")
        # sha2 for strings keeps the comparison cheap to shuffle; eqNullSafe
        # for everything else
        match = (
            F.sha2(s, 256).eqNullSafe(F.sha2(d, 256))
            if dict(src.dtypes)[c] == "string"
            else s.eqNullSafe(d)
        )
        aggs.append(F.sum(F.when(match, 0).otherwise(1)).alias(f"{c}_mismatches"))
    totals = joined.agg(F.count(F.lit(1)).alias("rows"), *aggs)
    return totals


def roundtrip_verify_fast(
    source: DataFrame, encoded: DataFrame, columns: list[str], salt_col: str = "repo"
) -> DataFrame:
    """Round-trip verification WITHOUT any row-level shuffle of the values
    (the stretch goal PLANS.md §2 flags: the classic verify join shuffles
    BOTH sides on row_id — two full passes over the value bytes at 100 TB).

    Per-part_key COMMUTATIVE content hashes instead: each side computes
    sum(xxhash64(row_id, values) mod 2^31) grouped by part_key — a
    multiset hash, so row order inside a partition is irrelevant.

    - source side: part_key is recomputed from the LINEAGE's own key space
      (a tiny broadcast), then the aggregate partial-combines map-side:
      only one (part_key, hash, count) row per task reaches the shuffle.
      A lineage with ``salt_keys`` maps each salt key to its part key
      base and bucket count, so packed keys ('\\x00p<bin>#0') rebuild
      exactly; an older lineage rebuilds '<key>#<salt>' from the bucket
      counts (``salt_buckets``, else max salt + 1).  A source key the
      lineage never saw keeps its own key, one bucket, and so reports a
      source-only part key instead of dropping out of the join.
    - decoded side: decode emits part_key with each row and the frame is
      already partitioned by it, so the aggregate is map-side too.
    The final equality join runs over one row per part_key (tiny).
    Overflow-safe by construction: per-key row counts are bounded by two
    salt targets (~2^15) and each term < 2^31, so sums stay < 2^46.

    Returns (part_key, rows_src, rows_dec, match) — every row must have
    match = true.
    """
    chunks = encoded.filter(F.col("kind") == "chunk")
    # fail fast on a cluster_by layout: its part keys ('r<i>') carry no
    # '<salt_col>#<salt>' structure, so the source side cannot rebuild
    # them — without this check every part_key would report a spurious
    # mismatch.  Range-clustered tables verify with the row-level join.
    # The layout is homogeneous per table, so ONE chunk row answers it
    # (a filter+count would scan every chunk row — an extra full pass on
    # exactly the 100 TB path this function exists to avoid).
    probe = chunks.select("part_key").first()
    if probe is not None and "#" not in probe["part_key"]:
        raise ValueError(
            "roundtrip_verify_fast requires the salted layout "
            "('<salt_col>#<salt>' part keys); this table was encoded with "
            "a positional layout (cluster_by 'r<i>' or map_only 'm<i>' "
            "part keys) — use roundtrip_verify (row-level join) instead"
        )
    strip_salt = F.expr(
        "substring(part_key, 1, length(part_key) - length(substring_index(part_key, '#', -1)) - 1)"
    )
    if "salt_keys" in encoded.columns:
        # the recorded key -> part key map: a key packed with others
        # rebuilds its shared part key, a split key its own buckets
        buckets = (
            chunks.select(
                F.explode("salt_keys").alias("_key"), strip_salt.alias("_base"), "salt_buckets"
            )
            .groupBy("_key", "_base")
            .agg(F.max("salt_buckets").alias("_salt_buckets"))
        )
    elif "salt_buckets" in encoded.columns:
        # bucket counts recorded in the lineage at encode time: exact even
        # when the highest salt bucket received zero rows (inferring the
        # modulus from observed salts would undercount then, rehash every
        # source row into different part keys, and report a spurious
        # whole-table mismatch)
        buckets = (
            chunks.withColumn("_key", strip_salt)
            .groupBy("_key")
            .agg(F.max("salt_buckets").alias("_salt_buckets"))
            .withColumn("_base", F.col("_key"))
        )
    else:  # pre-salt_buckets lineage tables: fall back to the inference
        sep = F.expr("substring_index(part_key, '#', -1)")
        buckets = (
            chunks.select("part_key")
            .distinct()
            .withColumn("_salt", sep.cast("int"))
            .withColumn("_key", strip_salt)
            .groupBy("_key")
            .agg((F.max("_salt") + 1).alias("_salt_buckets"))
            .withColumn("_base", F.col("_key"))
        )
    # the same null-key sentinel the encode side uses: rows with a NULL
    # salt value must land in the same part_key space, not silently drop
    # out of the join (which would "verify" a lossy table as matching)
    from .encode_job import NULL_SALT_KEY

    skey = F.coalesce(F.col(salt_col).cast("string"), F.lit(NULL_SALT_KEY))
    src = source.join(F.broadcast(buckets), skey == F.col("_key"), "left").withColumn(
        "_part_key",
        F.concat_ws(
            "#",
            F.coalesce(F.col("_base"), skey),
            F.pmod(F.xxhash64("row_id"), F.coalesce(F.col("_salt_buckets"), F.lit(1))).cast("int"),
        ),
    )

    def side_hash(df):
        h = F.pmod(F.xxhash64("row_id", *columns), F.lit(1 << 31))
        return df.groupBy("_part_key").agg(
            F.sum(h).alias("_h"), F.count(F.lit(1)).alias("_n")
        )

    s = side_hash(src)
    d = side_hash(decode_table(encoded, columns, include_part_key=True))
    return (
        s.alias("s")
        .join(d.alias("d"), "_part_key", "full_outer")
        .select(
            F.col("_part_key").alias("part_key"),
            F.col("s._n").alias("rows_src"),
            F.col("d._n").alias("rows_dec"),
            (
                F.col("s._h").eqNullSafe(F.col("d._h"))
                & F.col("s._n").eqNullSafe(F.col("d._n"))
            ).alias("match"),
        )
    )


def audit_lineage(encoded: DataFrame) -> DataFrame:
    """Self-contained integrity audit: decode every chunk, recompute its
    content sha256 and compare against the lineage -- detects bit rot /
    page corruption WITHOUT the source table.  Returns one row per chunk:
    (part_key, chunk_seq, column, ok, stored_sha, recomputed_sha).

    Scale shape: the decoder's one per-chunk pass (decode_job._by_chunk:
    with no exchange over a bare scan of a local store); each group
    audits independently.
    """
    import pyarrow as pa

    from ..codecs.pages import content_sha
    from .decode_job import _by_chunk, _ChunkGroup

    def audit_group(group: _ChunkGroup) -> pa.Table:
        tbl = group.tbl
        stored = {
            c: sha
            for k, c, sha in zip(
                tbl.column("kind").to_pylist(),
                tbl.column("column").to_pylist(),
                tbl.column("sha256").to_pylist(),
            )
            if k == "chunk"
        }
        cols, oks, st, rec = [], [], [], []
        for c, sha in stored.items():
            try:
                recomputed = content_sha(group.chunk(c))
            except Exception as e:  # corrupt pages may fail to decode at all
                recomputed = f"decode-error:{type(e).__name__}"
            cols.append(c)
            st.append(sha)
            rec.append(recomputed)
            oks.append(recomputed == sha)
        n = len(cols)
        return pa.table(
            {
                "part_key": pa.array([group.part_key] * n, type=pa.string()),
                "chunk_seq": pa.array([group.chunk_seq] * n, type=pa.int32()),
                "column": pa.array(cols, type=pa.string()),
                "ok": pa.array(oks, type=pa.bool_()),
                "stored_sha": pa.array(st, type=pa.string()),
                "recomputed_sha": pa.array(rec, type=pa.string()),
            }
        )

    return _by_chunk(
        encoded,
        audit_group,
        "part_key string, chunk_seq int, column string, ok boolean, "
        "stored_sha string, recomputed_sha string",
    )


def lineage_table(encoded: DataFrame) -> DataFrame:
    """The chunk-summary rows = per-partition lineage/metrics."""
    return encoded.filter(F.col("kind") == "chunk").select(
        "part_key",
        "chunk_id",
        "column",
        "chunk_seq",
        "ptype",
        "logical",
        "nullable",
        "num_rows",
        "num_nulls",
        "cardinality",
        "encodings",
        "compression",
        "input_bytes",
        "encoded_bytes",
        F.col("compressed_size").alias("compressed_bytes"),
        "sha256",
        "n_pages",
    )


def metrics_summary(encoded: DataFrame) -> DataFrame:
    """Per-column aggregate compression metrics from chunk rows."""
    chunks = encoded.filter(F.col("kind") == "chunk")
    return (
        chunks.groupBy("column")
        .agg(
            F.sum("num_rows").alias("rows"),
            F.sum("num_nulls").alias("nulls"),
            F.sum("input_bytes").alias("input_bytes"),
            F.sum("encoded_bytes").alias("encoded_bytes"),
            F.count(F.lit(1)).alias("chunks"),
            F.concat_ws(",", F.array_sort(F.array_distinct(F.flatten(F.collect_list(F.split("encodings", ",")))))).alias(
                "encodings"
            ),
        )
        .withColumn("ratio", F.round(F.col("encoded_bytes") / F.col("input_bytes"), 4))
        .orderBy("column")
    )
