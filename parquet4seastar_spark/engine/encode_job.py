"""Distributed per-column chunk encoding.

Spark-first architecture (SURVEY.md §3.1 re-architecture):

    input DF (row_id, repo, path, commit, lang, content)
      -> salted repartition on repo (size-aware, computed distributively)
      -> mapInArrow(encode_partition): each partition plays the role of a
         parquet row group; per part key, per ~chunk_target_bytes slice,
         rows ordered by salt key, the codec layer (codecs/pages.py)
         builds stats, auto-selects the codec per column, and emits page
         rows + one chunk summary row
      -> one output DataFrame with kind in ('page', 'chunk')

The chunk rows ARE the lineage/metrics table (chunk id, codec, bytes,
sha256, the salt keys a chunk holds): written to parquet they give
resumable re-runs via anti-joins on the salt keys and part keys already
stored (north rule: per-partition checkpointed lineage).

Scale notes:
- the layout is computed with a groupBy(repo) size aggregate, binned by
  a running sum and joined back (broadcast when small) -- no driver-side
  collect, works at 10^12 rows (the running sum is one task over the
  one-row-per-repo table: PLANS.md §1);
- a part key holds about one salt target: a jumbo repo is split into
  ceil(size / target) salt buckets, so no single task serializes the job
  (Zipf skew, FIXTURES.md §1), and repos at or below the target are
  packed whole into shared part keys, so the fixed per-chunk codec cost
  (FSST training, trial encodes, sample gathers) is paid per target, not
  per repo (a table under MIN_PACKED_BINS targets still gets about that
  many part keys, so it does not encode in one task);
- arrow end-to-end: mapInArrow in, RecordBatch out -- column values never
  materialize as Python objects (no per-row Python anywhere).
"""

from __future__ import annotations

import hashlib
import json
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructField, StructType

from ..codecs.pages import column_chunks, column_leaves, encode_column, leaf_ptype, policy_codec

# the pages frame: one row per page and one lineage row per chunk (kind).
# Declared once, in arrow: encode tasks build their batches from it without
# a JVM, and _encoded_schema derives the Spark schema from it.
ENCODED_SCHEMA = pa.schema(
    [
        ("kind", pa.string()),
        ("part_key", pa.string()),
        ("chunk_id", pa.string()),
        ("column", pa.string()),
        ("chunk_seq", pa.int32()),
        ("page_idx", pa.int32()),
        ("page_kind", pa.string()),
        ("encoding", pa.string()),
        ("num_values", pa.int64()),
        ("num_non_null", pa.int64()),
        ("uncompressed_size", pa.int64()),
        ("compressed_size", pa.int64()),
        ("data", pa.binary()),
        ("ptype", pa.string()),
        ("logical", pa.string()),
        ("nullable", pa.bool_()),
        ("num_rows", pa.int64()),
        ("num_nulls", pa.int64()),
        ("cardinality", pa.int64()),
        ("encodings", pa.string()),
        ("compression", pa.string()),
        ("type_length", pa.int32()),
        ("input_bytes", pa.int64()),
        ("encoded_bytes", pa.int64()),
        ("sha256", pa.string()),
        ("n_pages", pa.int32()),
        ("max_def", pa.int32()),
        ("max_rep", pa.int32()),
        ("elem_nullable", pa.bool_()),
        ("stat_min_num", pa.float64()),
        ("stat_max_num", pa.float64()),
        ("stat_min_bin", pa.binary()),
        ("stat_max_bin", pa.binary()),
        # the salt-bucket count of this part_key's key, recorded so
        # verify can rebuild part keys without inferring the modulus
        # from observed salts (a zero-row top bucket would undercount
        # and trip a spurious whole-table mismatch)
        ("salt_buckets", pa.int32()),
        # equality-pruning bloom (prune_chunks eq=...); None when the
        # column/chunk is outside the bloom caps (codecs/bloom.py)
        ("bloom", pa.list_(pa.int64())),
        # the salt keys whose rows this chunk holds, sorted (chunk rows of
        # the salted layout; None on pages and positional layouts): the
        # key -> part_key map verify and resume rebuild part keys from
        ("salt_keys", pa.list_(pa.string())),
    ]
)

DATA_COLUMNS = ["repo", "path", "commit", "lang", "content"]

# field-metadata key on the pages frame's ``logical`` field: JSON
# {leaf chunk name: [logical, type_length]} of every chunk the encode
# writes, so decode_table and read_store need no job to learn the schema
DECODED_SCHEMA_KEY = "p4s.decoded_schema"

# NULL salt keys group under this sentinel: an equi-join on the raw salt
# column would silently DROP every null-keyed row (null never equals null
# in a join), losing data with no error.  '\x00' keeps it out of any
# realistic key space and off the '#' separator.
NULL_SALT_KEY = "\x00null"


# packed part keys: '<PACKED_BASE><bin>#0'.  The '\x00' prefix keeps the
# label out of any realistic salt value space, as NULL_SALT_KEY does, and
# 'p' keeps it apart from that sentinel.
PACKED_BASE = "\x00p"

# a table whose small keys total under this many salt targets is packed
# into about this many bins, not one: packing a small table whole would
# run its encode in one task
MIN_PACKED_BINS = 8


def salted_repartition(
    df: DataFrame,
    num_partitions: int,
    salt_target_bytes: int = 64 << 20,
    size_col: str = "content",
    salt_col: str = "repo",
    salt_target_rows: int | None = None,
    resume_lineage: DataFrame | None = None,
) -> DataFrame:
    """Repartition so that each part key holds about one salt target of
    rows (``salt_target_rows``) or bytes of ``size_col``
    (``salt_target_bytes``), in both directions:

    - a salt key above the target is split into ceil(size / target) salt
      buckets, '<key>#<salt>', rows routed by pmod(xxhash64(row_id));
    - keys at or below the target are packed whole into shared part keys
      '\\x00p<bin>#0' (salt_buckets = 1): over the small keys ordered by
      (size desc, key), ``bin = floor((cum - 1) / pack)`` where ``cum`` is
      the running size sum and ``pack = min(target, ceil(small total /
      MIN_PACKED_BINS))``, so a small table still spreads over about
      MIN_PACKED_BINS part keys.  A bin holds under two targets; a bin
      number may go unused when a key is bigger than ``pack``.

    The per-key sizes are one distributed aggregate, binned by a running
    sum over that one-row-per-key table and joined back by broadcast: no
    driver collect, no extra job.  Part keys depend only on the size table
    and the target, never on ``num_partitions``, so a re-run over the same
    rows produces the same keys.  The running sum is a window with no
    partitioning, so the size table is binned in one task (PLANS.md §1).

    ``resume_lineage`` (chunk rows with ``salt_keys``): a salt key recorded
    in a packed chunk is done whole and its rows are dropped before the
    sizes are taken; the remaining small keys are binned after the
    lineage's highest bin, so no new part key equals a stored one; a split
    key's buckets that the lineage holds are dropped by part key.  The
    rows of keys the lineage holds are assumed unchanged.  The highest
    bin is one aggregate row collected to the driver.

    The output keeps ``_skey``, the row's salt key (NULL_SALT_KEY for a
    null), so the encode can order each chunk's rows by key and record
    which keys a chunk holds.
    """
    from pyspark.sql import Window

    # null-keyed rows group under a sentinel: a raw equi-join on salt_col
    # would silently drop them (null never joins null)
    skey = F.coalesce(F.col(salt_col).cast("string"), F.lit(NULL_SALT_KEY))
    keyed = df.withColumn("_skey", skey)
    first_bin = 0
    if resume_lineage is not None:
        done = resume_lineage.filter(F.col("kind") == "chunk")
        packed_done = done.filter(F.col("part_key").startswith(PACKED_BASE))
        keys_done = packed_done.select(F.explode("salt_keys").alias("_skey")).distinct()
        keyed = keyed.join(F.broadcast(keys_done), "_skey", "left_anti")
        bin_no = F.substring_index(
            F.expr(f"substring(part_key, {len(PACKED_BASE) + 1})"), "#", 1
        ).cast("long")
        # one aggregate row, collected: the offset is a literal in the plan
        last_bin = packed_done.agg(F.max(bin_no)).first()[0]
        first_bin = 0 if last_bin is None else last_bin + 1
    if salt_target_rows is not None:
        # row-count salting: scans only the key column (cheap); row count is
        # a good skew proxy when row sizes are iid within a key
        sizes = keyed.groupBy("_skey").agg(F.count(F.lit(1)).alias("_repo_size"))
        target = salt_target_rows
    else:
        sizes = keyed.groupBy("_skey").agg(
            F.sum(F.coalesce(F.octet_length(size_col), F.lit(0))).alias("_repo_size")
        )
        target = salt_target_bytes
    size = F.col("_repo_size")
    small = size <= F.lit(target)
    small_size = F.when(small, size).otherwise(F.lit(0))
    # one window over the whole size table (one row per key).  coalesce(1)
    # runs the final aggregate, the sort and the running sum in one task
    # of the aggregate's stage: a window's own exchange to one partition
    # would cost the broadcast one more job.  Spark warns that the window
    # has no partition: on one row per key, that is the intent.
    sizes = sizes.coalesce(1)
    ordered = Window.orderBy(F.desc("_repo_size"), "_skey")
    cum = F.sum(small_size).over(ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    total = F.sum(small_size).over(
        ordered.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    pack = F.least(F.lit(target), F.greatest(F.lit(1), F.ceil(total / F.lit(MIN_PACKED_BINS))))
    packed_bin = F.floor(F.greatest(cum - 1, F.lit(0)) / pack) + F.lit(first_bin)
    sizes = sizes.select(
        "_skey",
        F.when(small, F.concat(F.lit(PACKED_BASE), packed_bin.cast("string")))
        .otherwise(F.col("_skey"))
        .alias("_base"),
        F.when(small, F.lit(1)).otherwise(F.ceil(size / F.lit(target))).cast("int").alias("salt_buckets"),
    )
    salted = keyed.join(F.broadcast(sizes), "_skey").withColumn(
        "part_key",
        F.concat_ws("#", "_base", F.pmod(F.xxhash64("row_id"), F.col("salt_buckets")).cast("int")),
    ).drop("_base")
    if resume_lineage is not None:
        split_done = done.filter(~F.col("part_key").startswith(PACKED_BASE)).select("part_key").distinct()
        salted = salted.join(F.broadcast(split_done), "part_key", "left_anti")
    return salted.repartition(num_partitions, "part_key")


def _payload_column(payloads) -> pa.Array:
    """Binary column from page payloads (bytes | None), built directly on
    arrow buffers: one vectorized memcpy per payload into the final buffer,
    no per-element Python object conversion inside pyarrow."""
    n = len(payloads)
    lens = np.fromiter(
        (len(p) if p is not None else 0 for p in payloads), dtype=np.int64, count=n
    )
    offsets64 = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets64[1:])
    total = int(offsets64[-1])
    if total > (1 << 31) - 1:  # pa.binary() carries int32 offsets
        raise ValueError("page payload batch exceeds 2 GiB; lower chunk_target_bytes")
    buf = np.empty(total, dtype=np.uint8)
    pos = 0
    null_count = 0
    for p in payloads:
        if p is None:
            null_count += 1
            continue
        m = len(p)
        buf[pos : pos + m] = np.frombuffer(p, dtype=np.uint8)
        pos += m
    validity = None
    if null_count:
        valid = np.fromiter((p is not None for p in payloads), dtype=bool, count=n)
        validity = pa.py_buffer(np.packbits(valid, bitorder="little").tobytes())
    return pa.Array.from_buffers(
        pa.binary(),
        n,
        [validity, pa.py_buffer(offsets64.astype(np.int32)), pa.py_buffer(buf)],
        null_count=null_count if null_count else 0,
    )


def _encoded_type(col: str, t: pa.DataType, fixed_len) -> pa.DataType:
    """The arrow type column ``col`` is encoded as: FIXED_LEN_BYTE_ARRAY
    for the ``fixed_len`` columns (spark has no fixed-size binary type, so
    equal-length binary columns opt in here), else its own type."""
    return pa.binary(fixed_len[col]) if fixed_len and col in fixed_len else t


def decoded_schema(types: dict[str, pa.DataType], fixed_len) -> dict[str, tuple[str, int]]:
    """{chunk name: (logical, type_length)} of every chunk an encode of
    columns with these arrow types writes, from the types alone
    (``pages.column_leaves``: no codec or kernel run).  A type the codec
    layer does not take raises TypeError naming the column."""
    leaves = {}
    for col, t in types.items():
        try:
            col_leaves = column_leaves(_encoded_type(col, t, fixed_len))
        except TypeError as e:
            raise TypeError(f"column {col!r}: {e}") from None
        leaves.update((col + suffix, leaf) for suffix, leaf in col_leaves.items())
    return leaves


def _encode_partition_factory(
    policies, page_target_bytes, chunk_target_bytes, compression, fixed_len=None
):
    def encode_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from parquet4seastar_spark import _alloc

        _alloc.tune_allocator()
        pending: list[pa.Table] = []
        pending_bytes = 0
        chunk_seq_by_key: dict[str, int] = {}

        def flush(tables: list[pa.Table]) -> Iterator[pa.RecordBatch]:
            tbl = pa.concat_tables(tables).combine_chunks()
            # one chunk per (part_key) slice; the partition may hold several
            # part_keys after hash routing -- encode each separately so
            # lineage stays per part key.  Inside a slice the rows are
            # ordered by salt key (a stable sort), so each repo's rows are
            # contiguous in a packed key's chunk.  Arrow-native group
            # split: one sort by (part_key, _skey), one take, zero-copy
            # slices of the runs.  A slice of one key and one salt key
            # (always true under map_only/cluster_by, and for a split
            # jumbo key) skips the sort + take: both are full-table
            # memcpys of the value bytes.
            keys = tbl.column("part_key").combine_chunks().dictionary_encode()
            if len(keys.dictionary) == 1 and pc.count_distinct(tbl.column("_skey")).as_py() <= 1:
                key = keys.dictionary[0].as_py()
                seq = chunk_seq_by_key.get(key, 0)
                chunk_seq_by_key[key] = seq + 1
                yield _encode_chunk_rows(tbl, key, seq)
                return
            order = pc.sort_indices(tbl, sort_keys=[("part_key", "ascending"), ("_skey", "ascending")])
            tbl = tbl.take(order)
            np_keys = np.asarray(keys.indices.take(order))
            boundaries = np.flatnonzero(np.diff(np_keys)) + 1
            starts = np.concatenate([[0], boundaries])
            ends = np.concatenate([boundaries, [len(np_keys)]])
            for st, en in zip(starts.tolist(), ends.tolist()):
                sub = tbl.slice(st, en - st)
                key = sub.column("part_key")[0].as_py()
                seq = chunk_seq_by_key.get(key, 0)
                chunk_seq_by_key[key] = seq + 1
                yield _encode_chunk_rows(sub, key, seq)

        def _encode_chunk_rows(tbl: pa.Table, part_key: str, seq: int) -> pa.RecordBatch:
            salt_buckets = int(tbl.column("salt_buckets")[0].as_py())
            skeys = tbl.column("_skey")
            # rows arrive sorted by salt key, so unique() is sorted too
            salt_keys = None if skeys.null_count == len(skeys) else pc.unique(skeys).to_pylist()
            # rows are field-order TUPLES (zip-transposed once at the end),
            # not per-row dicts; the page payload column is assembled
            # arrow-native from the payload buffers (one memcpy into the
            # final arrow buffer, no per-element Python binary path)
            rows = []
            leaf_chunks: list[tuple[str, object]] = []
            for col, cpolicy in policies.items():
                arr = tbl.column(col).combine_chunks()
                t = _encoded_type(col, arr.type, fixed_len)
                if t != arr.type:
                    arr = arr.cast(t)
                for suffix, chunk in encode_column(
                    arr, policy=cpolicy, page_target_bytes=page_target_bytes, compression=compression
                ).items():
                    leaf_chunks.append((col + suffix, chunk))
            for col, chunk in leaf_chunks:
                chunk_id = hashlib.sha1(f"{part_key}|{col}|{seq}".encode()).hexdigest()[:20]
                encs = ",".join(chunk.encodings)
                for pi, page in enumerate(chunk.pages):
                    # field order = ENCODED_SCHEMA
                    rows.append((
                        "page", part_key, chunk_id, col, seq, pi,
                        page.kind, page.encoding, page.num_values,
                        page.num_non_null, page.uncompressed_size,
                        page.compressed_size, page.data,
                        chunk.ptype, chunk.logical, chunk.nullable,
                        chunk.num_rows, chunk.num_nulls, chunk.cardinality,
                        encs, chunk.compression, chunk.type_length,
                        None, None, None, len(chunk.pages),
                        chunk.max_def, chunk.max_rep, chunk.elem_nullable,
                        None, None, None, None, None, None, None,
                    ))
                rows.append((
                    "chunk", part_key, chunk_id, col, seq, -1,
                    None, None, chunk.num_rows,
                    chunk.num_rows - chunk.num_nulls, chunk.encoded_bytes,
                    chunk.compressed_bytes, None,
                    chunk.ptype, chunk.logical, chunk.nullable,
                    chunk.num_rows, chunk.num_nulls, chunk.cardinality,
                    encs, chunk.compression, chunk.type_length,
                    chunk.input_bytes, chunk.encoded_bytes, chunk.sha256,
                    len(chunk.pages), chunk.max_def, chunk.max_rep,
                    chunk.elem_nullable, chunk.stat_min_num,
                    chunk.stat_max_num, chunk.stat_min_bin, chunk.stat_max_bin,
                    salt_buckets,
                    chunk.bloom.tolist() if chunk.bloom is not None else None,
                    salt_keys,
                ))
            by_field = list(zip(*rows))
            data_idx = ENCODED_SCHEMA.get_field_index("data")
            arrays = []
            for i, f in enumerate(ENCODED_SCHEMA):
                if i == data_idx:
                    arrays.append(_payload_column(by_field[i]))
                else:
                    arrays.append(pa.array(list(by_field[i]), type=f.type))
            return pa.RecordBatch.from_arrays(arrays, schema=ENCODED_SCHEMA)

        for rb in batches:
            t = pa.Table.from_batches([rb])
            pending.append(t)
            pending_bytes += t.nbytes
            if pending_bytes >= chunk_target_bytes:
                yield from flush(pending)
                pending = []
                pending_bytes = 0
        if pending:
            yield from flush(pending)

    return encode_partition


def encode_table(
    df: DataFrame,
    columns: list[str] | None = None,
    *,
    policy: str | dict[str, str] = "auto",
    num_partitions: int | None = None,
    page_target_bytes: int = 1 << 20,
    chunk_target_bytes: int = 32 << 20,
    salt_target_bytes: int = 64 << 20,
    compression: str = "uncompressed",
    resume_lineage: DataFrame | None = None,
    salt_col: str = "repo",
    size_col: str | None = None,
    salt_target_rows: int | None = None,
    fixed_len: dict[str, int] | None = None,
    cluster_by: str | None = None,
    map_only: bool = False,
) -> DataFrame:
    """Encode ``df`` (must carry row_id + the data columns) into a pages+
    lineage DataFrame (see ENCODED_SCHEMA).

    ``policy``: one chunk policy for every listed column, or {column:
    policy} (an unnamed column is 'auto'; a key that names no listed
    column is refused); row_id is always 'auto'.  A policy that one of a
    column's leaf physical types does not take (``pages.CODEC_PTYPES``)
    raises ValueError naming the column, on the driver.

    ``resume_lineage``: a previously written lineage table (kind='chunk'
    rows, with ``salt_keys``); the rows it already stores are skipped by
    broadcast anti-joins, and the rest is encoded into part keys the
    lineage does not hold (``salted_repartition``; north rule: resumable
    re-runs).

    ``cluster_by``: range-clustered layout instead of salted hash
    partitioning — rows are range-partitioned AND sorted within partitions
    on the given column, so every chunk covers a narrow value range and
    the chunk min/max statistics (plus blooms) actually prune range and
    point predicates (``prune_chunks``).  On unsorted data, stats pruning
    only wins when values are naturally clustered; this is the layout
    knob that makes it win by construction.  part_key becomes the range
    bucket id ('r<i>').  Unlike the salted layout, these labels are
    POSITIONAL, not a pure function of row data: separate evaluations of
    an unmaterialized plan can sample different range boundaries (the
    sampler is seeded from the RDD id), so PERSIST OR WRITE the returned
    frame before feeding it to anything that evaluates it more than once
    (prune_chunks reads the chunk index, then the decode reads the pages;
    the repo's own callers persist/write already — pruned_scan persists,
    the CLI writes to parquet).  For the same reason ``resume_lineage``
    is refused in this mode and round-trip verification uses the
    row-level join (``roundtrip_verify_fast`` rejects unsalted part
    keys).  The salting parameters are ignored in this mode.

    ``map_only``: encode each SCAN partition in place — ZERO value
    shuffle.  At corpus scale the salted exchange moves every input byte
    once; when repo-grouped chunks are not required (pure archival
    compression, or input already laid out as desired), this deletes
    that full-corpus shuffle and the whole job is one map pass over the
    scan splits.  Chunk grouping follows storage order (part_key =
    'm<scan split>'); compression stays comparable — codecs adapt per
    chunk regardless of grouping.  Same caveats as
    cluster_by: positional part keys (persist/write before multi-subtree
    use), no resume, row-level verification.
    """
    if map_only and (cluster_by is not None):
        raise ValueError("map_only and cluster_by are mutually exclusive")
    if resume_lineage is not None and "salt_keys" not in resume_lineage.columns:
        raise ValueError(
            "resume_lineage has no salt_keys column: a lineage written "
            "before packed part keys cannot say which keys are done"
        )
    if map_only and resume_lineage is not None:
        raise ValueError(
            "resume_lineage cannot be combined with map_only: scan-split "
            "part keys shift when file layout or split size changes"
        )
    if cluster_by is not None and resume_lineage is not None:
        raise ValueError(
            "resume_lineage cannot be combined with cluster_by: range "
            "bucket boundaries (and so part keys) are not stable across "
            "runs, and the anti-join would silently skip shifted rows"
        )
    columns = columns or [c for c in DATA_COLUMNS if c in df.columns]
    if not columns:
        raise ValueError(
            "no encodable columns: pass columns=[...] explicitly "
            f"(input has {df.columns}; defaults cover {DATA_COLUMNS})"
        )
    for c in ["row_id", *columns]:
        # nested leaf names are built as '<col>#g<i>' (and dremel field
        # paths are dot-joined): a top-level column named with '.' or '#'
        # would silently misroute on decode — fail fast, like struct field
        # names do at the codec layer
        if "." in c or "#" in c:
            raise ValueError(
                f"column name {c!r} collides with the dot-joined leaf path "
                "scheme ('.' and '#' are reserved); rename before encoding"
            )
    # engine-generated columns: an input column with one of these names
    # would otherwise surface as a deep AMBIGUOUS_REFERENCE inside the
    # salting plan instead of a clear error here
    for c in ("part_key", "salt_buckets", "_repo_size", "_skey", "_base"):
        if c in df.columns:
            raise ValueError(
                f"input column name {c!r} is reserved by the encode engine "
                "(salting/lineage); rename before encoding"
            )
    from pyspark.sql.pandas.types import to_arrow_type

    types = {c: to_arrow_type(df.schema[c].dataType) for c in ["row_id", *columns]}
    leaves = decoded_schema(types, fixed_len)
    policies = _column_policies(policy, columns, leaves)
    spark = df.sparkSession
    num_partitions = num_partitions or max(spark.sparkContext.defaultParallelism, 8)
    if map_only:
        salted = df.withColumn(
            "part_key",
            F.concat(F.lit("m"), F.spark_partition_id().cast("string")),
        ).withColumn("salt_buckets", F.lit(1)).withColumn("_skey", F.lit(None).cast("string"))
    elif cluster_by is not None:
        salted = (
            df.repartitionByRange(num_partitions, cluster_by)
            .sortWithinPartitions(cluster_by)
            .withColumn(
                "part_key",
                F.concat(F.lit("r"), F.spark_partition_id().cast("string")),
            )
            .withColumn("salt_buckets", F.lit(1))
            .withColumn("_skey", F.lit(None).cast("string"))
        )
    else:
        if size_col is None:
            size_col = "content" if "content" in df.columns else columns[-1]
        salted = salted_repartition(
            df, num_partitions, salt_target_bytes, size_col, salt_col, salt_target_rows,
            resume_lineage,
        )
    fn = _encode_partition_factory(
        policies, page_target_bytes, chunk_target_bytes, compression, fixed_len
    )
    return salted.select("part_key", "salt_buckets", "_skey", "row_id", *columns).mapInArrow(
        fn, schema=_encoded_schema(leaves)
    )


def _column_policies(policy, columns: list[str], leaves: dict[str, tuple[str, int]]) -> dict[str, str]:
    """{column: policy} for row_id and the data columns, in encode order,
    checked on the driver so a bad policy fails here and not inside an
    executor task.  row_id gets int auto-selection regardless of the value
    policy (sequential ids -> DBP ~free; random ids -> PLAIN); a dict
    policy maps column -> policy (default auto) and may name listed
    columns only; every leaf of a column (``leaves``, the decoded schema)
    must take its policy (``pages.policy_codec``)."""
    if not isinstance(policy, dict):
        policy = dict.fromkeys(columns, policy)
    stray = sorted(set(policy) - set(columns))
    if stray:
        raise ValueError(f"policy names columns that are not encoded: {stray} (columns: {columns})")
    policies = {"row_id": "auto", **{c: policy.get(c, "auto") for c in columns}}
    for col, cpolicy in policies.items():
        for name in column_chunks(col, leaves):
            try:
                policy_codec(cpolicy, leaf_ptype(*leaves[name]))
            except ValueError as e:
                raise ValueError(f"column {col!r}: {e}") from None
    return policies


def _encoded_schema(leaves: dict[str, tuple[str, int]]) -> StructType:
    """ENCODED_SCHEMA with the decoded schema ``leaves`` recorded on
    ``logical``."""
    from pyspark.sql.pandas.types import from_arrow_schema

    plan = {DECODED_SCHEMA_KEY: json.dumps(leaves)}
    return StructType([
        StructField(f.name, f.dataType, f.nullable, plan if f.name == "logical" else None)
        for f in from_arrow_schema(ENCODED_SCHEMA)
    ])
