"""Standard-parquet export sink: pages+lineage DataFrame -> real .parquet
files, one per (part_key, chunk_seq) group, written distributively.

This is the bridge from the engine's page store to ANY parquet consumer:
chunks encoded with standard encodings (auto_fast / reference / plain /
dict / DBP / DLBA / DBA / BSS, uncompressed or snappy) serialize through
codecs/parquet_file.py with Thrift metadata; Spark's built-in parquet
reader (and pyarrow, DuckDB, ...) reads the output directly.  FSST chunks
are rejected with guidance -- FSST is not a standard parquet encoding, so
export from the 'auto' profile requires re-encoding.

Each column's chunks come from the codec layer's one column rule
(``decode_job._ChunkGroup.column``, ``pages.column_chunks``) and reach the
container writer as one ``DremelColumn``: a flat or list<primitive>
column's single chunk and a nested column's Dremel leaves alike.

Scale shape: the decoder's one per-chunk pass (decode_job._by_chunk: the
workers read a local store's files themselves; any other frame takes a
repartition on (part_key, chunk_seq); then one mapInArrow over key runs);
each task writes its own files to the (shared) output directory -- no
driver-side collection of data.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame

from ..codecs.parquet_file import DremelColumn, write_parquet_file
from .decode_job import _by_chunk, _ChunkGroup


def export_parquet_files(
    encoded: DataFrame, columns: list[str], out_dir: str
) -> DataFrame:
    """Write each (part_key, chunk_seq) chunk group as a standard .parquet
    file under ``out_dir``; returns (part_key, chunk_seq, file, num_rows)."""
    os.makedirs(out_dir, exist_ok=True)

    def write_group(group: _ChunkGroup) -> pa.Table:
        chunks = {c: group.column(c) for c in ["row_id", *columns]}
        num_rows = chunks["row_id"]["row_id"].num_rows
        part_key, chunk_seq = group.part_key, group.chunk_seq
        safe_key = "".join(ch if ch.isalnum() else "_" for ch in part_key)
        path = os.path.join(out_dir, f"part-{safe_key}-{chunk_seq:05d}.parquet")
        write_parquet_file(path, {c: DremelColumn(leaves) for c, leaves in chunks.items()}, num_rows)
        return pa.table(
            {
                "part_key": pa.array([part_key], type=pa.string()),
                "chunk_seq": pa.array([chunk_seq], type=pa.int32()),
                "file": pa.array([path], type=pa.string()),
                "num_rows": pa.array([num_rows], type=pa.int64()),
            }
        )

    return _by_chunk(
        encoded, write_group, "part_key string, chunk_seq int, file string, num_rows long", columns
    )
