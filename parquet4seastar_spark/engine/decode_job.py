"""Distributed decode: pages DataFrame -> reconstructed column values.

Mirrors the reference read path (SURVEY.md §3.2): pages grouped per chunk,
dictionary page loaded first, values reassembled with nulls from def levels.
Spark shape (``_by_chunk``, shared with verify.audit_lineage and
export.export_parquet_files): every (part_key, chunk_seq) group reaches
the chunk function whole, its rows sorted by (column, page_idx), through
the same run loop (``_chunk_groups``: one Python call per Arrow batch of
key runs, not one Arrow round trip per chunk), by one of two paths.  A
bare, unpersisted parquet scan of local files (``read_store``, or a plain
``spark.read.parquet`` of a flat or column-partitioned store) is read by
the Python workers themselves, like the reference's column chunk reader
(file_reader.cc:114-154): the driver deals the keys to tasks by bytes and
each task reads the files that hold its keys with pyarrow -- no exchange.
Any other frame is repartitioned on (part_key, chunk_seq) and sorted
within each partition by (part_key, chunk_seq, column, page_idx) before
ONE mapInArrow.  Output is
(row_id, <column values>) rows over the row_id chunk + the requested
column chunks, joinable back to the source for the round-trip sha256
verification (BASELINE.json per-row invariant).

Which chunks make up a column, their order and the column's type come
from codecs/pages.py alone (``column_chunks``, ``column_type``,
``decode_column``): one chunk for a flat or list<primitive> column, one
per Dremel leaf for any other nested type, reassembled by the ONE
recursive walker (reference: the single recursive record_reader,
record_reader.hh:469-505).

Arrow end-to-end: page payloads arrive as arrow binary, decoded values
leave as arrow arrays -- the decoded strings never materialize as Python
objects.
"""

from __future__ import annotations

import heapq
import json
import operator
from collections import Counter
from urllib.parse import unquote, urlparse

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StructType
from pyspark.storagelevel import StorageLevel

from ..codecs.bloom import probe_positions
from ..codecs.pages import (
    EncodedChunk,
    Page,
    column_chunks,
    column_type,
    decode_column,
    leaf_prefix,
)
from .encode_job import DECODED_SCHEMA_KEY

_META_FIELDS = (
    "ptype", "logical", "nullable", "num_rows", "num_nulls", "cardinality",
    "encodings", "compression", "type_length", "max_def", "max_rep", "elem_nullable",
)


def _rebuild_chunk(tbl: pa.Table, idxs: list[int]) -> EncodedChunk:
    """Build an EncodedChunk from page rows ``idxs`` of an arrow table.

    The rows, in order, must hold page_idx exactly 0..n_pages-1 (``n_pages``
    rides on every page row; _by_chunk sorts each chunk's pages); an
    incomplete or duplicated page set -- e.g. a union of two encodes that
    share a part_key -- raises a ValueError naming the chunk instead of
    decoding or exporting wrong.  Metadata scalars are
    read per row (tens of rows); page payloads stay zero-copy arrow buffers
    -- they never round-trip through Python bytes.
    """
    cols = {name: tbl.column(name) for name in (
        "page_idx", "page_kind", "encoding", "num_values", "num_non_null",
        "uncompressed_size", "compressed_size", "data", "n_pages", *_META_FIELDS,
    )}
    f = idxs[0]
    got = [cols["page_idx"][i].as_py() for i in idxs]
    n_pages = cols["n_pages"][f].as_py()
    if got != list(range(n_pages)):
        seen = Counter(got)
        raise ValueError(
            f"column {tbl.column('column')[f].as_py()!r} chunk "
            f"part_key={tbl.column('part_key')[f].as_py()!r} "
            f"chunk_seq={tbl.column('chunk_seq')[f].as_py()} has an incomplete or "
            f"duplicated page set: n_pages={n_pages}, {len(got)} page rows, "
            f"missing page_idx {sorted(set(range(n_pages)) - set(seen))}, "
            f"duplicated page_idx {sorted(p for p, k in seen.items() if k > 1)}"
        )
    chunk = EncodedChunk(
        ptype=cols["ptype"][f].as_py(),
        logical=cols["logical"][f].as_py(),
        nullable=bool(cols["nullable"][f].as_py()),
        num_rows=int(cols["num_rows"][f].as_py()),
        num_nulls=int(cols["num_nulls"][f].as_py()),
        cardinality=int(cols["cardinality"][f].as_py()),
        encodings=(cols["encodings"][f].as_py() or "").split(","),
        compression=cols["compression"][f].as_py(),
        type_length=int(cols["type_length"][f].as_py() or 0),
        max_def=int(cols["max_def"][f].as_py() if cols["max_def"][f].is_valid else -1),
        max_rep=int(cols["max_rep"][f].as_py() or 0),
        elem_nullable=bool(cols["elem_nullable"][f].as_py() or False),
    )
    data = cols["data"]
    for i in idxs:
        chunk.pages.append(
            Page(
                kind=cols["page_kind"][i].as_py(),
                encoding=cols["encoding"][i].as_py(),
                num_values=int(cols["num_values"][i].as_py()),
                num_non_null=int(cols["num_non_null"][i].as_py()),
                uncompressed_size=int(cols["uncompressed_size"][i].as_py()),
                compressed_size=int(cols["compressed_size"][i].as_py()),
                data=data[i].as_buffer(),  # zero-copy view into the arrow batch
            )
        )
    return chunk


class _ChunkGroup:
    """The rows of one (part_key, chunk_seq) group: ``tbl`` (one arrow
    chunk per column), the key, and ``page_rows``: column -> its page rows."""

    def __init__(self, tbl: pa.Table):
        self.tbl = tbl.combine_chunks()
        self.part_key = self.tbl.column("part_key")[0].as_py()
        self.chunk_seq = int(self.tbl.column("chunk_seq")[0].as_py())
        self.page_rows: dict[str, list[int]] = {}
        kinds = self.tbl.column("kind").to_pylist()
        for i, (k, c) in enumerate(zip(kinds, self.tbl.column("column").to_pylist())):
            if k == "page":
                self.page_rows.setdefault(c, []).append(i)

    def chunk(self, name: str) -> EncodedChunk:
        return _rebuild_chunk(self.tbl, self.page_rows[name])

    def column(self, name: str) -> dict[str, EncodedChunk]:
        """{chunk name: chunk} of top-level column ``name``, in leaf order."""
        names = column_chunks(name, self.page_rows)
        if not names:
            raise ValueError(f"column not present in encoded table: {name}")
        return {n: self.chunk(n) for n in names}


def _chunk_filter(columns: list[str]) -> Column:
    """The rows of row_id's and ``columns``' chunks: a column's own name or
    its Dremel leaf prefix (a partition predicate on a column store)."""
    pred = F.col("column").isin(["row_id", *columns])
    for c in columns:
        pred = pred | F.col("column").startswith(leaf_prefix(c))
    return pred


def _is_wanted(name: str | None, columns: list[str]) -> bool:
    """``_chunk_filter`` for one chunk name, in Python."""
    return name is not None and (
        name in ("row_id", *columns) or name.startswith(tuple(leaf_prefix(c) for c in columns))
    )


def _key_runs(batch: pa.RecordBatch) -> list[tuple[int, int]]:
    """[start, end) row ranges of equal (part_key, chunk_seq) in ``batch``.
    A NULL key cuts a run; the caller rejoins runs with equal keys."""
    n = batch.num_rows
    if n == 0:
        return []
    cut = np.zeros(n - 1, dtype=bool)
    for name in ("part_key", "chunk_seq"):
        col = batch.column(name)
        cut |= pc.fill_null(pc.not_equal(col.slice(0, n - 1), col.slice(1)), True).to_numpy(
            zero_copy_only=False
        )
    bounds = [0, *(np.flatnonzero(cut) + 1).tolist(), n]
    return list(zip(bounds[:-1], bounds[1:]))


def _chunk_groups(batches, fn):
    """``fn(_ChunkGroup)``'s batches for each (part_key, chunk_seq) run of
    ``batches``, which arrive sorted by key.  The run that reaches the end
    of a batch is carried into the next one, so a group split by a batch
    boundary still reaches ``fn`` whole; the carry never holds more than
    one group."""
    carry: list[pa.RecordBatch] = []
    key = None
    for batch in batches:
        pks, seqs = batch.column("part_key"), batch.column("chunk_seq")
        for lo, hi in _key_runs(batch):
            k = (pks[lo].as_py(), seqs[lo].as_py())
            if carry and k != key:
                yield from fn(_ChunkGroup(pa.Table.from_batches(carry))).to_batches()
                carry = []
            carry.append(batch.slice(lo, hi - lo))
            key = k
    if carry:
        yield from fn(_ChunkGroup(pa.Table.from_batches(carry))).to_batches()


# the fields a chunk group's rows carry to ``_ChunkGroup`` and the chunk
# functions (audit_lineage reads sha256), and the order both paths sort by
_GROUP_FIELDS = (
    "part_key", "chunk_seq", "kind", "column", "page_idx", "page_kind", "encoding",
    "num_values", "num_non_null", "uncompressed_size", "compressed_size", "data",
    "n_pages", "sha256", *_META_FIELDS,
)
_SORT_KEYS = ("part_key", "chunk_seq", "column", "page_idx")


def _by_chunk(encoded: DataFrame, fn, schema, columns: list[str] | None = None) -> DataFrame:
    """``fn(_ChunkGroup) -> pa.Table`` (rows of ``schema``) once per
    (part_key, chunk_seq) group of ``encoded``'s rows: every row when
    ``columns`` is None, else the page rows of row_id's and ``columns``'
    chunks (``_chunk_filter``).

    Each group reaches ``fn`` whole, its rows sorted by column and
    page_idx, through one of two paths:

    - a bare parquet scan of local files (``_local_scan_files`` resolves:
      ``read_store``, or ``spark.read.parquet`` of a flat or
      column-partitioned store) that is not persisted is read by the
      Python workers themselves (``_by_file_group``), with no exchange;
    - any other frame (persisted or computed frames, ``prune_chunks``'
      filtered output, an encode's output) takes one exchange on the key
      with no partition count (AQE may coalesce it), a sort within each
      partition by key, column and page_idx, then one mapInArrow that
      cuts each Arrow batch into key runs.
    """
    files = None if encoded.storageLevel != StorageLevel.NONE else _local_scan_files(encoded)
    if files is not None:
        return _by_file_group(encoded, files, fn, schema, columns)

    def by_chunk(batches):
        from parquet4seastar_spark import _alloc

        _alloc.tune_allocator()
        yield from _chunk_groups(batches, fn)

    if columns is not None:
        encoded = encoded.filter((F.col("kind") == "page") & _chunk_filter(columns))
    return (
        encoded.repartition("part_key", "chunk_seq")
        .sortWithinPartitions(*_SORT_KEYS)
        .mapInArrow(by_chunk, schema)
    )


def _by_file_group(encoded: DataFrame, files, fn, schema, columns: list[str] | None) -> DataFrame:
    """``_by_chunk`` over the local parquet ``files`` of a bare scan, with
    no exchange.

    The driver reads the (part_key, chunk_seq) and compressed_size of
    every row of the needed files with pyarrow (``_read_index_local``, the
    reader prune_chunks uses: no Spark job), sums each key's bytes and deals
    the keys to ``min(#keys, defaultParallelism)`` tasks by bytes, largest
    first, each to the least loaded task.  A task's keys are grouped by
    the set of files that hold them; the task reads one such file group at
    a time (``_read_group_rows``): its rows of those keys, sorted as the
    exchange path sorts them, go through the same run loop.  A key spread
    over several files (two appends that share a part key) meets in one
    task, so its page set is checked whole.
    """
    if columns is not None:  # a partition directory of another column is never read
        files = [(path, value) for path, value in files if value is None or _is_wanted(value, columns)]
    keys, _ = _read_index_local(files, None, [], [], encoded.schema)
    holders: dict[tuple, list[int]] = {}
    size: Counter = Counter()
    if keys:
        per_file = pa.concat_tables(keys).group_by(["part_key", "chunk_seq", "file"]).aggregate(
            [("bytes", "sum")]
        )
        for pk, seq, f, b in zip(*(per_file.column(c).to_pylist() for c in (
                "part_key", "chunk_seq", "file", "bytes_sum"))):
            holders.setdefault((pk, seq), []).append(f)
            size[pk, seq] += b or 0
    spark = encoded.sparkSession
    n_tasks = min(len(holders), spark.sparkContext.defaultParallelism)
    if n_tasks == 0:
        return spark.createDataFrame([], schema)
    load = [(0, t) for t in range(n_tasks)]
    plan: list[dict[tuple, list]] = [{} for _ in range(n_tasks)]
    for k in sorted(holders, key=lambda k: (-size[k], repr(k))):
        used, t = heapq.heappop(load)
        plan[t].setdefault(tuple(sorted(holders[k])), []).append(k)
        heapq.heappush(load, (used + size[k], t))
    fields = [c for c in _GROUP_FIELDS if c in encoded.columns]
    types = {c: to_arrow_type(encoded.schema[c].dataType) for c in fields}

    def by_file_group(batches):
        from parquet4seastar_spark import _alloc

        _alloc.tune_allocator()
        for batch in batches:
            for t in batch.column("id").to_pylist():
                for group, group_keys in plan[t].items():
                    rows = _read_group_rows([files[i] for i in group], set(group_keys), columns, types)
                    yield from _chunk_groups(rows.to_batches(), fn)

    return spark.range(0, n_tasks, 1, n_tasks).mapInArrow(by_file_group, schema)


def _read_group_rows(files, keys: set, columns: list[str] | None, types: dict) -> pa.Table:
    """The rows of ``keys`` in ``files`` (only page rows of ``columns``'
    chunks unless ``columns`` is None), with the fields of ``types`` (a
    field a file lacks reads as nulls, ``column`` of a partitioned file is
    its directory's value), sorted by ``_SORT_KEYS`` as Spark sorts:
    nulls first."""
    parts = []
    for path, value in files:
        with pq.ParquetFile(path) as pf:
            have = set(pf.schema_arrow.names)
            read = [c for c in types if c in have and not (c == "column" and value is not None)]
            for batch in pf.iter_batches(columns=read):
                n = batch.num_rows
                cols = {c: batch.column(c) if c in read else pa.nulls(n, types[c]) for c in types}
                if value is not None:
                    cols["column"] = pa.array([value] * n, types["column"])
                keep = [k in keys for k in zip(cols["part_key"].to_pylist(), cols["chunk_seq"].to_pylist())]
                if columns is not None:
                    keep = [
                        m and kind == "page" and _is_wanted(name, columns)
                        for m, kind, name in zip(keep, cols["kind"].to_pylist(), cols["column"].to_pylist())
                    ]
                part = pa.table(cols)
                parts.append(part if all(keep) else part.filter(pa.array(keep, pa.bool_())))
    rows = pa.concat_tables(parts)
    order = pc.sort_indices(rows, sort_keys=[(c, "ascending") for c in _SORT_KEYS], null_placement="at_start")
    return rows.take(order)


def _cmp(x, op: str, v) -> np.ndarray:
    """``x <op> v`` per chunk under Spark's ordering: ``x`` is a list of
    bytes (unsigned lexicographic, as in Python; None compares false) or
    a float64 array (Spark orders NaN above every double and equal to
    itself)."""
    if isinstance(v, bytes):
        test = getattr(operator, op)
        return np.array([b is not None and test(b, v) for b in x], dtype=bool)
    x_nan, v_nan = np.isnan(x), bool(np.isnan(v))
    gt = (x > v) | (x_nan & (not v_nan))
    eq = (x == v) | (x_nan & v_nan)
    return {"gt": gt, "ge": gt | eq, "lt": ~(gt | eq), "le": ~gt}[op]


def _local_scan_files(encoded: DataFrame) -> list[tuple[str, str | None]] | None:
    """``(path, column partition value or None)`` of every file of a frame
    whose analyzed plan is a bare parquet file scan over local ``file:``
    paths, flat or ``column=``-partitioned (``read_store`` and a plain
    ``spark.read.parquet`` of a store); None for any other frame."""
    try:
        plan = encoded._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRelation":
            return None
        rel = plan.relation()
        if rel.getClass().getSimpleName() != "HadoopFsRelation" or rel.fileFormat().toString() != "Parquet":
            return None
        parts = [f["name"] for f in json.loads(rel.partitionSchema().json())["fields"]]
        # the file URIs in one py4j call, not one per file (a URI escapes
        # any newline)
        jvm = encoded.sparkSession._jvm
        listed = jvm.scala.collection.immutable.ArraySeq.unsafeWrapArray(rel.location().inputFiles())
        files = [f for f in listed.mkString("\n").split("\n") if f]
    except Py4JError:
        return None
    if parts not in ([], ["column"]) or not all(f.startswith("file:") for f in files):
        return None
    out = []
    for f in files:
        path = unquote(urlparse(f).path)
        value = None
        if parts:
            dirs = [d for d in path.split("/")[:-1] if d.startswith("column=")]
            if not dirs:
                return None
            value = unquote(dirs[-1].split("=", 1)[1])  # Hive path escaping
        out.append((path, value))
    return out


def _probe_words(bloom: pa.ListArray, words: list[int]) -> dict[str, pa.Array]:
    """Column ``w<i>``: the i-th int64 word of each bloom; null where the
    bloom is null or shorter.  Only these words are kept, never a whole
    bloom."""
    starts = bloom.offsets.to_numpy()[:-1]
    length = pc.fill_null(pc.list_value_length(bloom), 0).to_numpy()
    return {f"w{w}": bloom.values.take(pa.array(starts + w, mask=length <= w)) for w in words}


def _read_index_local(files, column: str | None, want: list[str], words: list[int], schema: StructType):
    """``(keys, chunks)`` read with pyarrow: the (part_key, chunk_seq) of
    every row with its ``file`` (index into ``files``) and ``bytes``
    (compressed_size), and (part_key, chunk_seq, *want, probe words) of
    the ``column`` chunk rows (none when ``column`` is None).  A column a
    file lacks reads as nulls."""

    def get(batch, c):
        if c in batch.schema.names:
            return batch.column(c)
        return pa.nulls(batch.num_rows, to_arrow_type(schema[c].dataType))

    keys, chunks = [], []
    for i, (path, value) in enumerate(files):
        pf = pq.ParquetFile(path)
        have = set(pf.schema_arrow.names)
        probed = column is not None and (value is None or value == column)
        cols = ["part_key", "chunk_seq", "compressed_size"]
        if probed:
            cols += ["kind", *(["column"] if value is None else []), *want]
            cols += ["bloom"] if words else []
        for batch in pf.iter_batches(columns=[c for c in cols if c in have]):
            keys.append(pa.table({
                "part_key": batch.column("part_key"), "chunk_seq": batch.column("chunk_seq"),
                "file": pa.array(np.full(batch.num_rows, i, dtype=np.int32)),
                "bytes": get(batch, "compressed_size"),
            }))
            if not probed:
                continue
            hit = pc.equal(batch.column("kind"), "chunk")
            if value is None:
                hit = pc.and_(hit, pc.equal(batch.column("column"), column))
            hit = pc.fill_null(hit, False)
            if not pc.any(hit).as_py():
                continue
            batch = batch.filter(hit)
            cols_out = {c: get(batch, c) for c in ("part_key", "chunk_seq", *want)}
            if words:
                cols_out.update(_probe_words(get(batch, "bloom"), words))
            chunks.append(pa.table(cols_out))
    return keys, chunks


def _read_index_spark(encoded: DataFrame, column: str, want: list[str], words: list[int]):
    """``(keys, chunks)`` as ``_read_index_local`` returns them (the keys
    without ``file`` and ``bytes``), from ONE ``toArrow()`` of the frame
    projected to its keys plus, on the ``column`` chunk rows, the index
    columns."""
    hit = F.coalesce((F.col("kind") == "chunk") & (F.col("column") == column), F.lit(False))
    tbl = encoded.select(
        "part_key", "chunk_seq", hit.alias("_hit"),
        *[F.when(hit, F.col(c)).alias(c) for c in want],
        *[F.when(hit, F.try_element_at("bloom", F.lit(w + 1))).alias(f"w{w}") for w in words],
    ).toArrow()
    return [tbl.select(["part_key", "chunk_seq"])], [tbl.filter(tbl.column("_hit")).drop(["_hit"])]


def prune_chunks(
    encoded: DataFrame,
    column: str,
    *,
    gt=None,
    ge=None,
    lt=None,
    le=None,
    eq=None,
    isin=None,
) -> DataFrame:
    """Stats- and bloom-based chunk skipping (beyond the reference: it
    never writes ColumnMetaData statistics).

    Drops every (part_key, chunk_seq) group whose ``column`` chunk
    provably cannot satisfy the predicate -- the other columns' pages for
    those rows go with it.  Pruning is CONSERVATIVE (stats are
    ulp-widened doubles / truncate-and-incremented byte prefixes): decode
    output must still be filtered exactly; this only avoids decoding
    chunks that cannot match.

    The decision is made once, on the driver, from the frame's chunk
    index: every row's (part_key, chunk_seq) plus, on the ``column``
    chunk rows, ptype, the stats of the literal's domain and only the
    bloom words at the literals' probe positions.  A bare parquet scan of
    local files (``read_store``, or ``spark.read.parquet`` of a flat or
    column-partitioned store) is read with pyarrow, with no Spark job;
    any other frame with one ``toArrow()`` of that projection, so a
    computed frame should be persisted (it is read again to decode).  The
    result is a plain filter, with no join: the frame itself when nothing
    is dropped, an empty relation (same schema and metadata) when every
    key is, else one IN predicate over the surviving keys.  Chunk rows
    with missing stats or bloom survive, and a key with no ``column``
    chunk row survives -- an absent column prunes nothing, and
    decode_table still raises on a column that truly isn't in the table.
    """
    points = [eq] if eq is not None else []
    ranges = [(op, v) for op, v in (("gt", gt), ("ge", ge), ("lt", lt), ("le", le)) if v is not None]
    if not (points or isin or ranges):
        return encoded
    probe = (points or list(isin or []) or [v for _, v in ranges])[0]
    is_bin = isinstance(probe, (str, bytes))

    def lit(v):
        if isinstance(v, (str, bytes)) != is_bin:
            raise TypeError(f"prune_chunks: {v!r} and {probe!r} compare against different stats")
        return v.encode("utf-8") if isinstance(v, str) else v if is_bin else float(v)

    # the bloom only speaks the column's PHYSICAL value domain: a str
    # literal against an int column (or vice versa) hashes in a different
    # domain than the stored bits, so consulting it would wrongly drop
    # chunks that match under Spark's cast-equality -- it is consulted
    # only for chunks whose ptype matches the literal
    blooms = "bloom" in encoded.columns and "ptype" in encoded.columns
    probes = {
        i: probe_positions(v)
        for i, v in enumerate([*points, *(isin or [])])
        if blooms and isinstance(v, (str, bytes, int)) and not isinstance(v, bool)
    }
    words = sorted({b // 64 for pos in probes.values() for b in pos})
    want = ["stat_min_bin", "stat_max_bin"] if is_bin else ["stat_min_num", "stat_max_num"]
    want += ["ptype"] if probes else []
    files = _local_scan_files(encoded)
    keys, chunks = (
        _read_index_local(files, column, want, words, encoded.schema)
        if files is not None
        else _read_index_spark(encoded, column, want, words)
    )
    chunks = [t for t in chunks if t.num_rows]
    if not chunks:
        return encoded
    ch = pa.concat_tables(chunks)
    n = ch.num_rows

    def stat(name):  # (values, null mask); a null stat never drops a chunk
        col = ch.column(name)
        values = col.to_pylist() if is_bin else col.fill_null(0.0).to_numpy()
        return values, col.is_null().to_numpy(zero_copy_only=False)

    (lo, lo_null), (hi, hi_null) = stat(want[0]), stat(want[1])

    def below(op, v):  # may hold a value with lo <op> v
        return lo_null | _cmp(lo, op, v)

    def above(op, v):  # may hold a value with hi <op> v
        return hi_null | _cmp(hi, op, v)

    def point(i, v):  # may hold v: inside [lo, hi] and not refuted by the bloom
        c = below("le", lit(v)) & above("ge", lit(v))
        if i in probes:
            domain = ("BYTE_ARRAY",) if isinstance(v, (str, bytes)) else ("INT32", "INT64")
            absent = np.zeros(n, bool)  # a probe bit is known to be 0
            for b in probes[i]:
                # a null word (no bloom) reads as all ones: no bit refutes
                word = ch.column(f"w{b // 64}").fill_null(-1).to_numpy().view(np.uint64)
                absent |= ((word >> np.uint64(b % 64)) & np.uint64(1)) == 0
            c &= ~(np.array([p in domain for p in ch.column("ptype").to_pylist()]) & absent)
        return c

    may = np.ones(n, bool)
    for op, v in ranges:
        may &= above(op, lit(v)) if op in ("gt", "ge") else below(op, lit(v))
    if eq is not None:
        may &= point(0, eq)
    if isin:
        may &= np.logical_or.reduce([point(len(points) + j, v) for j, v in enumerate(isin)])

    # a null key never matched the anti-join this rule was written as: it
    # is never dropped
    drop = {
        k for k, m in zip(zip(ch.column("part_key").to_pylist(), ch.column("chunk_seq").to_pylist()), may)
        if not m and None not in k
    }
    universe = pa.concat_tables(keys).group_by(["part_key", "chunk_seq"]).aggregate([])
    keys_all = set(zip(universe.column("part_key").to_pylist(), universe.column("chunk_seq").to_pylist()))
    kept = keys_all - drop
    if len(kept) == len(keys_all):
        return encoded
    if not kept:
        return encoded.filter(F.lit(False))  # PruneFilters: an empty LocalRelation
    # one IN over the key "<chunk_seq>:<part_key>" (the first ':' splits
    # it, so it is injective), its literals handed to the JVM as one list
    key = F.concat(F.col("chunk_seq").cast("string"), F.lit(":"), F.col("part_key"))
    literals = sorted(f"{q}:{p}" for p, q in kept if None not in (p, q))
    pred = Column(key._jc.isin(encoded.sparkSession._jvm.PythonUtils.toSeq(literals)))
    if any(None in k for k in kept):
        pred = pred | F.col("part_key").isNull() | F.col("chunk_seq").isNull()
    return encoded.filter(pred)


def _planned_schema(encoded: DataFrame, columns: list[str]) -> dict | None:
    """The decoded schema encode_table recorded on the frame's ``logical``
    field, cut to row_id + ``columns``; None unless it covers them all."""
    raw = encoded.schema["logical"].metadata.get(DECODED_SCHEMA_KEY)
    if raw is None:
        return None
    planned = {name: tuple(v) for name, v in json.loads(raw).items()}
    out = {}
    for c in ["row_id", *columns]:
        names = column_chunks(c, planned)
        if not names:
            return None
        out.update((n, planned[n]) for n in names)
    return out


def decode_table(
    encoded: DataFrame,
    columns: list[str],
    *,
    include_part_key: bool = False,
) -> DataFrame:
    """Decode the given columns from a pages DataFrame.

    Returns a DataFrame (row_id, *columns).  Output types follow the chunk
    metadata (logical types), taken from the first of:

    - the decoded schema encode_table records on the frame's ``logical``
      field (``DECODED_SCHEMA_KEY``), when it covers row_id and every
      requested column.  It survives filters, selects, prune_chunks,
      persist and a store write + read_store, so neither a chained nor a
      store-backed decode runs a job to plan;
    - DISCOVERY: an eager collect of the tiny ``kind='chunk'`` lineage
      rows (one row per chunk, payload column never touched).  It still
      runs for frames without the record (pages written before it
      existed, or a plain ``spark.read.parquet`` of a store whose footer
      lacks it) and for a union whose FIRST child's record lacks a
      requested column (a union keeps only that child's metadata).

    Every rebuilt chunk is checked against its planned (logical,
    type_length) entry; a mismatch raises a ValueError naming the chunk.
    Nothing is persisted: a computed frame that needs discovery is
    evaluated once for the collect and again for the decode, unless the
    caller persisted it.
    """
    schema = _planned_schema(encoded, columns)
    if schema is None:
        schema = {
            r["column"]: (r["logical"], int(r["type_length"] or 0))
            for r in encoded.filter((F.col("kind") == "chunk") & _chunk_filter(columns))
            .select("column", "logical", "type_length")
            .distinct()
            .collect()
        }
    members = {c: column_chunks(c, schema) for c in ["row_id", *columns]}
    for c, names in members.items():
        if not names:
            raise ValueError(f"column not present in encoded table: {c}")

    # every output type, flat, list or nested, comes from the pages'
    # logical -> arrow map, read by Spark with timestamp_us as timestamp_ntz.
    # The output schema is a real StructType (a DDL string would need
    # backtick-escaping of every nested field name); the arrow targets are
    # Spark's own arrow form of it (flba leaves arrive as plain binary).
    from pyspark.sql.pandas.types import from_arrow_type
    from pyspark.sql.types import LongType, StringType, StructField

    col_types = {
        c: from_arrow_type(column_type(schema[n] for n in members[c]), prefer_timestamp_ntz=True)
        for c in columns
    }
    out_schema = StructType(
        ([StructField("_part_key", StringType())] if include_part_key else [])
        + [StructField("row_id", LongType())]
        + [StructField(c, col_types[c]) for c in columns]
    )
    targets = {"row_id": pa.int64(), **{c: to_arrow_type(t) for c, t in col_types.items()}}

    def decode_group(group: _ChunkGroup) -> pa.Table:
        pk = group.part_key

        def planned_chunk(name: str) -> EncodedChunk:
            # the output types were planned, not read from these pages: a
            # chunk that disagrees would cast wrongly or fail obscurely
            chunk = group.chunk(name)
            if (chunk.logical, chunk.type_length) != schema[name]:
                raise ValueError(
                    f"column {name!r} chunk part_key={pk!r} "
                    f"chunk_seq={group.chunk_seq} holds "
                    f"{chunk.logical!r} (type_length {chunk.type_length}), but "
                    f"the decode planned {schema[name][0]!r} (type_length {schema[name][1]})"
                )
            return chunk

        out = {}
        for c, names in members.items():
            arr = decode_column({n: planned_chunk(n) for n in names})
            out[c] = arr if arr.type == targets[c] else arr.cast(targets[c])
        if include_part_key:
            out = {"_part_key": pa.array([pk] * len(out["row_id"]), type=pa.string()), **out}
        return pa.table(out)

    return _by_chunk(encoded, decode_group, out_schema, columns)
