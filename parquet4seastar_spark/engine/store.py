"""Column-partitioned stored pages layout.

A pages/lineage table written flat forces every reader to row-group-skip
its way past the other columns' page payloads.  Writing it partitioned by
``column`` (one Hive-style ``column=<name>`` directory per stored chunk
name: a nested column's Dremel leaves get one each, ``column=meta%23g0``
etc., and ``pages.column_chunks`` maps a column to its directories) turns
a single-column decode or a bloom point-lookup into a scan of ONLY that
column's files — directory-level pruning, before any parquet footer is
even opened.  At 100 TB the text payload dominates the store; a decode of
a metadata column must not touch it.

Two read paths:

- :func:`read_store` resolves the partition directories in the driver and
  hands Spark only the matching paths — pruning guaranteed by
  construction, and ``df.inputFiles()`` provably contains no other
  column's files (``DataFrame.inputFiles`` reports the unpruned file
  index, so a filter-based read cannot make that assertion).
- A plain ``spark.read.parquet(store)`` works too: ``decode_table``'s
  ``column`` name filter is a partition-column predicate, so Catalyst
  prunes the same directories at file-listing time (the plan's
  FileSourceScan shows the PartitionFilters).

The layout is plain Hive partitioning — any parquet reader understands
it, and the ``column`` values round-trip through Spark's partition-path
escaping (``#`` -> ``%23``).

:func:`read_store` also reads the Spark schema from ONE data file's
footer on the driver (pyarrow; Spark's writer records it under
``org.apache.spark.sql.parquet.row.metadata``, together with the decoded
schema encode_table put on the ``logical`` field) and hands it to
``spark.read.schema``: no schema-inference job, and decode_table needs no
discovery job either.  A footer without that key reads as before, with
Spark's inference.

LOCAL-FS LIMITATION (ADVICE r6): :func:`is_column_store`,
:func:`store_column_dirs` and :func:`read_store` resolve partition
directories with ``os.listdir`` and read that footer from the driver's
filesystem, so driver-side auto-detection, guaranteed pruning and the
job-free schema only work for paths the driver's filesystem can see
(local disk, NFS, fuse mounts).  The per-chunk passes (decode_table,
audit_lineage, export_parquet_files) over a bare scan of ``file:`` paths
go further: the driver reads every file's keys with pyarrow and the
Python workers open the files themselves (``decode_job._by_chunk``), so
those paths must be readable at the same place on every worker, as
Spark's own ``file:`` scan already requires.  On HDFS/S3 URLs the CLI's
auto-detect degrades to the plain-read path — which STILL prunes via
Catalyst's partition filters (the second read path above), just without
the ``inputFiles``-provable guarantee — and the per-chunk passes take
their exchange path; decode_table still plans from the recorded schema
once Spark has inferred it.  Porting to the Hadoop FileSystem API is the
known follow-up for remote stores.
"""

from __future__ import annotations

import json
import os
from urllib.parse import unquote

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from ..codecs.pages import column_chunks

# the footer key under which Spark's parquet writer records the row schema
SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def write_store(encoded: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write a pages+lineage frame as a column-partitioned store."""
    encoded.write.mode(mode).partitionBy("column").parquet(path)


def is_column_store(path: str) -> bool:
    """True if ``path`` holds a column-partitioned store layout."""
    try:
        return any(d.startswith("column=") for d in os.listdir(path))
    except OSError:
        return False


def store_column_dirs(path: str, columns: list[str] | None = None) -> list[str]:
    """Partition directories for the requested logical columns (always
    including row_id; a column brings every chunk ``pages.column_chunks``
    gives it).  ``columns=None`` returns every partition."""
    dirs = {
        unquote(d.split("=", 1)[1]): os.path.join(path, d)
        for d in sorted(os.listdir(path))
        if d.startswith("column=")
    }
    keep = dirs if columns is None else {n for c in ["row_id", *columns] for n in column_chunks(c, dirs)}
    return [d for name, d in dirs.items() if name in keep]


def read_store(
    spark: SparkSession, path: str, columns: list[str] | None = None
) -> DataFrame:
    """Read a column-partitioned store, touching only the requested
    columns' directories.  The returned frame carries the ``column``
    partition column and feeds ``decode_table`` / ``prune_chunks`` /
    ``metrics_summary`` unchanged."""
    dirs = store_column_dirs(path, columns)
    if not dirs:
        raise ValueError(
            f"no matching column partitions under {path!r} for {columns!r}"
        )
    reader = spark.read.option("basePath", path)
    schema = _footer_schema(dirs[0])
    if schema is not None:  # else Spark infers it, with a job
        reader = reader.schema(schema.add(StructField("column", StringType())))
    return reader.parquet(*dirs)


def _footer_schema(column_dir: str) -> StructType | None:
    """The Spark schema Spark's writer recorded in the footer of one data
    file under ``column_dir`` (None if there is no such file or key)."""
    for name in sorted(os.listdir(column_dir)):
        if name.startswith(("_", ".")):
            continue
        meta = pq.read_schema(os.path.join(column_dir, name)).metadata or {}
        row = meta.get(SPARK_ROW_METADATA)
        return StructType.fromJson(json.loads(row)) if row else None
    return None
