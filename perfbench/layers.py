"""Per-layer probes for traced runs.

``substrate`` times Spark itself on the workload's own table.  ``codecs``
times the codec layer in this single process, without Spark, on one chunk
per column of the workload's own data.  Run as a script it prints the
encode figures of the numpy fallback path for the content column; the
benchmark runs it in a subprocess with ``P4S_NO_NATIVE=1`` set.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCE_COLUMNS = ["row_id", "repo", "path", "commit", "lang", "content"]


def _median_s(fn, reps: int) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def substrate(h, df, bytes_col: str) -> dict:
    """Spark floor figures: an empty job, a JVM-only scan of ``bytes_col``
    and an identity ``mapInArrow`` that carries every column through the
    Python workers."""
    from pyspark.sql import functions as F

    spark = h.spark

    def empty_job():
        with h.tracer.span("range(1).count", "spark"):
            return spark.range(0, 1, 1, 1).count()

    def scan():
        with h.tracer.span("sum(octet_length)", "spark"):
            return df.agg(F.sum(F.octet_length(bytes_col))).collect()[0][0]

    def identity(batches):
        yield from batches

    def arrow_roundtrip():
        with h.tracer.span("mapInArrow(identity)", "spark"):
            return df.mapInArrow(identity, schema=df.schema).agg(F.count(F.lit(1))).collect()[0][0]

    out = {}
    for name, fn, reps in (
        ("spark.empty_job_s", empty_job, 5),
        ("spark.scan_s", scan, 3),
        ("spark.arrow_roundtrip_s", arrow_roundtrip, 2),
    ):
        walls = []
        for _ in range(reps):
            h.op(f"probe.{name}", fn, timed=False)
            walls.append(h.ops[-1].wall_s)
        out[name] = statistics.median(walls)
    return out


def _ragged(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(lengths, payload) of the non-null values of a string column."""
    arr = arr.drop_null().cast(pa.large_binary())
    offsets = np.frombuffer(arr.buffers()[1], dtype=np.int64, count=len(arr) + 1, offset=arr.offset * 8)
    payload = np.frombuffer(arr.buffers()[2], dtype=np.uint8)[offsets[0] : offsets[-1]]
    return np.diff(offsets), payload


def codecs(h, source_path: str, rows: int, reps: int = 3) -> dict:
    """codecs.pages and the per-codec kernels on the first ``rows`` rows of
    the source table, plus the numpy-fallback content encode measured in a
    subprocess."""
    from parquet4seastar_spark.codecs import _native, bloom, delta, dictionary, fsst, levels, plain
    from parquet4seastar_spark.codecs.pages import chunk_content_sha, decode_chunk, encode_chunk

    tbl = pq.read_table(source_path, columns=SOURCE_COLUMNS).slice(0, rows).combine_chunks()
    out = {"native.kernel_loaded": 1.0 if _native.get_kernel() is not None else 0.0}
    for col in SOURCE_COLUMNS:
        arr = tbl.column(col).chunk(0)
        with h.tracer.span(f"encode_chunk[{col}]", "codecs.pages"):
            enc_s = _median_s(lambda: encode_chunk(arr, policy="auto"), reps)
        chunk = encode_chunk(arr, policy="auto")
        with h.tracer.span(f"decode_chunk[{col}]", "codecs.pages"):
            dec_s = _median_s(lambda: decode_chunk(chunk), reps)
        mb = chunk.input_bytes / 1e6
        out[f"pages.encode_chunk.{col}.mb_s"] = mb / enc_s
        out[f"pages.encode_chunk.{col}.ratio"] = chunk.compressed_bytes / chunk.input_bytes
        out[f"pages.decode_chunk.{col}.mb_s"] = mb / dec_s

    content = tbl.column("content").chunk(0)
    lengths, payload = _ragged(content)
    content_mb = payload.nbytes / 1e6
    with h.tracer.span("chunk_content_sha", "codecs.pages"):
        out["pages.chunk_sha256.content.mb_s"] = content_mb / _median_s(lambda: chunk_content_sha(content), reps)

    with h.tracer.span("fsst", "codecs.fsst"):
        sample = np.ascontiguousarray(payload[: 1 << 15])
        out["fsst.train_symbol_table_ms"] = 1e3 * _median_s(lambda: fsst.train_symbol_table(sample), reps)
        table = fsst.train_symbol_table(sample)
        blob = fsst.fsst_encode(payload, table)
        out["fsst.fsst_encode.mb_s"] = content_mb / _median_s(lambda: fsst.fsst_encode(payload, table), reps)
        out["fsst.fsst_decode.mb_s"] = content_mb / _median_s(lambda: fsst.fsst_decode(blob), reps)

    row_ids = tbl.column("row_id").chunk(0).to_numpy()
    path_lengths, path_payload = _ragged(tbl.column("path").chunk(0))
    with h.tracer.span("delta", "codecs.delta"):
        out["delta.dbp_encode.mb_s"] = row_ids.nbytes / 1e6 / _median_s(lambda: delta.dbp_encode(row_ids, 8), reps)
        raw = payload.tobytes()
        out["delta.dlba_encode.mb_s"] = content_mb / _median_s(lambda: delta.dlba_encode(lengths, raw), reps)
        out["delta.delta_byte_array_encode.mb_s"] = path_payload.nbytes / 1e6 / _median_s(
            lambda: delta.delta_byte_array_encode(path_lengths, path_payload), reps
        )
    with h.tracer.span("plain", "codecs.plain"):
        out["plain.plain_encode_byte_array.mb_s"] = content_mb / _median_s(
            lambda: plain.plain_encode_byte_array(lengths, raw), reps
        )
    lang = tbl.column("lang").chunk(0).drop_null()
    with h.tracer.span("dictionary", "codecs.dictionary"):
        out["dictionary.build_dict.mb_s"] = _ragged(lang)[1].nbytes / 1e6 / _median_s(
            lambda: dictionary.build_dict(lang), reps
        )
    commit_lengths, commit_payload = _ragged(tbl.column("commit").chunk(0))
    with h.tracer.span("bloom", "codecs.bloom"):
        out["bloom.bytes_hashes.mb_s"] = commit_payload.nbytes / 1e6 / _median_s(
            lambda: bloom.bytes_hashes(commit_lengths, commit_payload), reps
        )
    def_levels = np.asarray(content.is_valid(), dtype=np.uint8)
    with h.tracer.span("levels", "codecs.levels"):
        out["levels.encode_levels_v1.mb_s"] = def_levels.nbytes / 1e6 / _median_s(
            lambda: levels.encode_levels_v1(def_levels, 1), reps
        )

    with h.tracer.span("fallback subprocess", "codecs._native"):
        fallback = subprocess.run(
            [sys.executable, os.path.abspath(__file__), source_path, str(rows)],
            env={**os.environ, "P4S_NO_NATIVE": "1"},
            capture_output=True, text=True, timeout=150, check=True,
        )
    out.update(json.loads(fallback.stdout.strip().splitlines()[-1]))
    return out


def _fallback_main(source_path: str, rows: int) -> None:
    from parquet4seastar_spark.codecs import _native
    from parquet4seastar_spark.codecs.pages import encode_chunk

    if _native.get_kernel() is not None:
        raise SystemExit("numpy fallback requested but the C kernel loaded")
    content = pq.read_table(source_path, columns=["content"]).slice(0, rows).column("content").combine_chunks()
    t0 = time.perf_counter()
    chunk = encode_chunk(content, policy="auto")
    wall = time.perf_counter() - t0
    print(json.dumps({
        "native.encode_chunk.content.fallback_mb_s": chunk.input_bytes / 1e6 / wall,
        "native.encode_chunk.content.fallback_ratio": chunk.compressed_bytes / chunk.input_bytes,
    }))


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    _fallback_main(sys.argv[1], int(sys.argv[2]))
