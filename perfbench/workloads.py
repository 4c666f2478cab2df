"""The benchmark's workloads, both over the generated source-repo table.

Each workload sets up its inputs (timed as ``setup_s``), runs whole rounds of
its operations for the measured interval, checks every output, and reports
the end-to-end metrics of BENCHMARK.json; README.md gives their meaning per
workload.
"""

from __future__ import annotations

import itertools
import os
import statistics

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from . import data, layers, queries

ENCODE_ARGS = dict(
    compression="uncompressed",
    chunk_target_bytes=16 << 20,
    # row-count salting, as the engine's own benchmark uses
    salt_target_rows=16384,
)
DATA_COLUMNS = ["repo", "path", "commit", "lang", "content"]


def xxh(col: str):
    """Order-insensitive content hash of (row_id, col), as
    ``roundtrip_verify_fast`` computes it."""
    return F.sum(F.pmod(F.xxhash64("row_id", col), F.lit(1 << 31)))


def _hash_row(df, col: str) -> tuple[int, int]:
    r = df.agg(F.count(F.lit(1)), xxh(col)).collect()[0]
    return int(r[0]), int(r[1] or 0)


def _peak(ops) -> float:
    """Peak RSS of the hungriest operation kind: per kind the median of its
    operations' peaks, so one garbage-collection swing does not set it."""
    by_kind: dict[str, list[float]] = {}
    for r in ops:
        by_kind.setdefault(r.kind, []).append(r.peak_rss_mb)
    return max((statistics.median(v) for v in by_kind.values()), default=float("nan"))


def _corrupt_one_page(store: str, column: str) -> None:
    """Flip one byte in the middle of the largest page payload of
    ``column`` (the self-test's injected fault)."""
    part = os.path.join(store, f"column={column}")
    path = os.path.join(part, sorted(f for f in os.listdir(part) if f.endswith(".parquet"))[0])
    tbl = pq.read_table(path)
    payloads = tbl.column("data").to_pylist()
    i = max(range(len(payloads)), key=lambda j: len(payloads[j] or b""))
    blob = bytearray(payloads[i])
    blob[len(blob) // 2] ^= 0xFF
    payloads[i] = bytes(blob)
    idx = tbl.schema.get_field_index("data")
    pq.write_table(tbl.set_column(idx, "data", pa.array(payloads, tbl.schema.field("data").type)), path)


class Workload:
    """A workload over the generated source-repo table."""

    def __init__(self, h, cfg: dict, seed: int, work: str):
        self.h, self.cfg, self.seed, self.work = h, cfg, seed, work
        self.spark = h.spark
        self.details: dict = {}

    def e2e(self, traced: bool | None = None) -> dict:
        return {
            "throughput_mb_s": self.mb / self.h.median_wall(self.kinds[0], traced),
            "pass_s": sum(self.h.median_wall(k, traced) for k in self.kinds),
            "stored_ratio": self.stored_ratio,
            "peak_rss_mb": _peak(self.h.timed(traced=traced)),
        }

    def write_source(self) -> None:
        self.src_path = os.path.join(self.work, "source")
        with self.h.tracer.span("generate_source_repos", "engine.generator"):
            self.rows, content_bytes = data.write_source_repos(
                self.spark, self.src_path, self.cfg["rows"], self.seed
            )
        self.mb = content_bytes / 1e6
        self.src = self.spark.read.parquet(self.src_path)
        # partitions sized by data, floored at three task waves (bench.py)
        self.parts = max(3 * self.spark.sparkContext.defaultParallelism, content_bytes // (24 << 20) + 1)
        self.details.update(rows=self.rows, content_mb=round(self.mb, 3))

    def encode(self, **kw):
        from parquet4seastar_spark.engine.encode_job import encode_table

        with self.h.tracer.span("encode_table", "engine.encode_job"):
            return encode_table(self.src, num_partitions=self.parts, **{**ENCODE_ARGS, **kw})

    def lineage(self, enc) -> dict:
        with self.h.tracer.span("lineage aggregate", "spark"):
            r = (
                enc.filter(F.col("kind") == "chunk")
                .agg(
                    F.sum("input_bytes").alias("input_bytes"),
                    F.sum("compressed_size").alias("stored_bytes"),
                    F.count(F.lit(1)).alias("chunks"),
                    F.sum("n_pages").alias("pages"),
                    F.countDistinct("part_key").alias("part_keys"),
                    F.sum(F.when(F.col("column") == "row_id", F.col("num_rows"))).alias("rows"),
                )
                .collect()[0]
            )
        return r.asDict()

    def check_lineage(self, lin: dict) -> str | None:
        if lin["rows"] != self.rows:
            return f"row_id chunks hold {lin['rows']} rows, the source has {self.rows}"
        return None

    def probes(self) -> dict:
        """Per-layer figures of a traced run.  The driver queries are
        measured here too, split between the two workloads: as a workload of
        their own they would double the benchmark's running time."""
        out = layers.substrate(self.h, self.src, "content")
        out.update(layers.codecs(self.h, self.src_path, self.cfg["codec_rows"]))
        return out


class BulkEncode(Workload):
    """encode_table, default salted layout, policy auto, uncompressed pages;
    the sink is the lineage aggregate."""

    kinds = ["encode"]

    def setup(self) -> None:
        self.write_source()
        # warm-up: one encode, checked end to end by roundtrip_verify_fast
        self.reference = None
        self.h.op("warmup.roundtrip_verify_fast", self._verify, self._check_verify, timed=False)
        if self.reference is None:
            raise RuntimeError("warm-up encode failed its round-trip check")
        self.stored_ratio = self.reference["stored_bytes"] / self.reference["input_bytes"]
        # the first encode after the verify still runs well above steady state
        self.h.op("warmup.encode", self._encode_op, self._check_encode, timed=False)

    def _verify(self):
        from parquet4seastar_spark.engine.verify import roundtrip_verify_fast

        # the lineage aggregate fills the cache, so the verify span covers
        # decode, hashing and comparison but not the encode it checks
        enc = self.encode(policy="auto").persist()
        lin = self.lineage(enc)
        with self.h.tracer.span("roundtrip_verify_fast", "engine.verify"):
            rows = roundtrip_verify_fast(self.src, enc, DATA_COLUMNS).collect()
        return rows, lin

    def _check_verify(self, result) -> str | None:
        rows, lin = result
        bad = [r["part_key"] for r in rows if not r["match"]]
        if not rows or bad:
            return f"roundtrip_verify_fast: {len(bad)} of {len(rows)} part keys differ, e.g. {bad[:3]}"
        self.reference = lin
        return self.check_lineage(lin)

    def _encode_op(self):
        return self.lineage(self.encode(policy="auto"))

    def _check_encode(self, lin: dict) -> str | None:
        if lin != self.reference:
            return f"lineage {lin} differs from the verified warm-up encode {self.reference}"
        return None

    def schedule(self):
        return [("encode", self._encode_op, self._check_encode)]

    def e2e(self, traced: bool | None = None) -> dict:
        out = super().e2e(traced)
        self.details["encode_mb_s"] = out["throughput_mb_s"]
        return out

    def probes(self) -> dict:
        from parquet4seastar_spark.engine.encode_job import salted_repartition

        out = super().probes()
        for name, kw in (
            ("plain", dict(policy="plain")),
            ("map_only", dict(policy="auto", map_only=True)),
            ("auto_fast", dict(policy="auto_fast")),
        ):
            self.h.op(f"probe.encode_table.{name}", lambda kw=kw: self.lineage(self.encode(**kw)),
                      self.check_lineage, timed=False)
            out[f"encode_job.encode_table.{name}_s"] = self.h.ops[-1].wall_s

        def repartition():
            with self.h.tracer.span("salted_repartition", "engine.encode_job"):
                salted = salted_repartition(
                    self.src, self.parts, size_col="content", salt_col="repo",
                    salt_target_rows=ENCODE_ARGS["salt_target_rows"],
                )
            with self.h.tracer.span("sum(octet_length)", "spark"):
                return salted.agg(F.sum(F.octet_length("content"))).collect()

        self.h.op("probe.salted_repartition", repartition, timed=False)
        out["encode_job.salted_repartition_s"] = self.h.ops[-1].wall_s
        for k in ("chunks", "pages", "part_keys"):
            out[f"encode_job.encode_table.{k}"] = float(self.reference[k])
        out["verify.roundtrip_verify_fast_s"] = self.h.tracer.median_s("roundtrip_verify_fast", None)
        out.update(queries.measure(self.h, self.cfg, self.seed, self.work, queries.split()["bulk_encode"]))
        return out


class ColumnRead(Workload):
    """Full ``content`` decode, narrow ``lang`` decode and point lookups on
    ``commit`` against a column-partitioned store written in set-up."""

    kinds = ["decode_content", "decode_lang", "lookup_hit", "lookup_miss"]

    def setup(self) -> None:
        from parquet4seastar_spark.engine.store import write_store

        self.write_source()
        with self.h.tracer.span("source hashes", "spark"):
            r = self.src.agg(F.count(F.lit(1)), xxh("content"), xxh("lang")).collect()[0]
        self.expected = {"content": (int(r[0]), int(r[1])), "lang": (int(r[0]), int(r[2]))}
        self._pick_lookup_keys()
        self.store = os.path.join(self.work, "store")
        self.flat = os.path.join(self.work, "flat")

        def write():
            enc = self.encode(policy="auto")
            if self.h.trace:  # the flat layout only feeds a traced probe
                enc = enc.persist()
                with self.h.tracer.span("write flat pages", "spark"):
                    enc.write.parquet(self.flat)
            with self.h.tracer.span("write_store", "engine.store"):
                write_store(enc, self.store)
            return self.lineage(self.spark.read.parquet(self.store))

        lin = self.h.op("setup.write_store", write, self.check_lineage, timed=False)
        if lin is None:
            raise RuntimeError("writing the column store failed")
        self.stored_ratio = lin["stored_bytes"] / lin["input_bytes"]
        if self.cfg["corrupt"]:
            _corrupt_one_page(self.store, "content")
        for kind, fn, check, *_ in self.schedule():  # warm-up: one round
            self.h.op(f"warmup.{kind}", fn, check, timed=False)

    def _pick_lookup_keys(self) -> None:
        tbl = pq.read_table(self.src_path, columns=["row_id", "commit"])
        commits = sorted(pc.unique(tbl.column("commit")).to_pylist())
        rng = np.random.default_rng(self.seed)
        n = self.cfg["lookup_keys"]
        present = [commits[i] for i in rng.choice(len(commits), n, replace=False)]
        known = set(commits)
        absent = ["".join(rng.choice(list("0123456789abcdef"), 40)) for _ in range(n)]
        absent = [a for a in absent if a not in known]
        self.expected_rows = {k: [] for k in absent}
        for k in present:
            ids = tbl.filter(pc.equal(tbl.column("commit"), k)).column("row_id").to_pylist()
            self.expected_rows[k] = sorted(ids)
        self._hits, self._misses = itertools.cycle(present), itertools.cycle(absent)

    def _decode(self, col: str):
        from parquet4seastar_spark.engine.decode_job import decode_table
        from parquet4seastar_spark.engine.store import read_store

        with self.h.tracer.span("read_store", "engine.store"):
            enc = read_store(self.spark, self.store, [col])
        with self.h.tracer.span("decode_table", "engine.decode_job"):
            dec = decode_table(enc, [col])
        with self.h.tracer.span("hash aggregate", "spark"):
            return _hash_row(dec, col)

    def _check_decode(self, col: str):
        def check(got):
            want = self.expected[col]
            return None if got == want else f"{col}: (rows, hash) {got} != source {want}"
        return check

    def _lookup(self, keys):
        from parquet4seastar_spark.engine.decode_job import decode_table, prune_chunks
        from parquet4seastar_spark.engine.store import read_store

        key = next(keys)
        with self.h.tracer.span("read_store", "engine.store"):
            enc = read_store(self.spark, self.store, ["commit"])
        # the shape of ``p4s_cli lookup``, less its count of all chunks:
        # prune by stats and bloom, persist and count the surviving chunks,
        # decode only those, then filter exactly
        with self.h.tracer.span("prune_chunks", "engine.decode_job"):
            pruned = prune_chunks(enc, "commit", eq=key).persist()
            with self.h.tracer.span("count kept chunks", "spark"):
                kept = pruned.filter((F.col("kind") == "chunk") & (F.col("column") == "commit")).count()
        if kept == 0:
            return key, kept, 0, []
        with self.h.tracer.span("decode_table", "engine.decode_job"):
            dec = decode_table(pruned, ["commit"], include_part_key=True)
        with self.h.tracer.span("filter collect", "spark"):
            rows = dec.filter(F.col("commit") == key).select("_part_key", "row_id").collect()
        holders = len({r[0] for r in rows})
        return key, kept, holders, sorted(r[1] for r in rows)

    def _check_lookup(self, result) -> str | None:
        key, _, _, ids = result
        want = self.expected_rows[key]
        return None if ids == want else f"commit {key}: rows {ids[:5]}... != source {want[:5]}..."

    def schedule(self):
        # present and absent keys are separate kinds: their latencies differ
        # by the decode a miss skips, so a pooled median would jump between
        lookup_info = lambda r: {"kept": r[1], "holders": r[2]}
        return [
            ("decode_content", lambda: self._decode("content"), self._check_decode("content")),
            ("decode_lang", lambda: self._decode("lang"), self._check_decode("lang")),
            ("lookup_hit", lambda: self._lookup(self._hits), self._check_lookup, lookup_info),
            ("lookup_miss", lambda: self._lookup(self._misses), self._check_lookup, lookup_info),
        ]

    def e2e(self, traced: bool | None = None) -> dict:
        self.details.update(
            decode_mb_s=self.mb / self.h.median_wall("decode_content", traced),
            narrow_decode_s=self.h.median_wall("decode_lang", traced),
            lookup_s_p50=statistics.median(
                r.wall_s for r in self.h.timed(traced=traced) if r.kind.startswith("lookup")
            ),
            lookup_hit_s=self.h.median_wall("lookup_hit", traced),
            lookup_miss_s=self.h.median_wall("lookup_miss", traced),
            lookup_samples=len([r for r in self.h.timed(traced=traced) if r.kind.startswith("lookup")]),
        )
        return super().e2e(traced)

    def probes(self) -> dict:
        from parquet4seastar_spark.engine.decode_job import decode_table
        from parquet4seastar_spark.engine.store import read_store
        from parquet4seastar_spark.engine.verify import audit_lineage

        timed_ops = {r.op_id for r in self.h.timed()}
        out = {
            # decode_table's eager schema discovery is the wall time of the call
            "decode_job.schema_discovery_s": self.h.tracer.median_s("decode_table", timed_ops),
            "decode_job.prune_chunks_s": self.h.tracer.median_s("prune_chunks", timed_ops),
        }
        lookups = self.h.timed("lookup_hit") + self.h.timed("lookup_miss")
        out["decode_job.prune_chunks.kept_chunks"] = float(statistics.median(r.info["kept"] for r in lookups))
        kept = sum(r.info["kept"] for r in self.h.timed("lookup_hit"))
        out["decode_job.prune_chunks.useful_ratio"] = (
            sum(r.info["holders"] for r in self.h.timed("lookup_hit")) / kept if kept else 0.0
        )
        out.update(super().probes())
        out["store.read_store_files"] = float(len(read_store(self.spark, self.store, ["content"]).inputFiles()))
        out["store.write_store_s"] = self.h.tracer.median_s("write_store", None)

        def row_id_only():
            with self.h.tracer.span("decode_table", "engine.decode_job"):
                dec = decode_table(read_store(self.spark, self.store, []), [])
            with self.h.tracer.span("count", "spark"):
                return dec.count()

        self.h.op("probe.decode_table.row_id", row_id_only,
                  lambda n: None if n == self.rows else f"{n} row ids, source has {self.rows}", timed=False)
        out["decode_job.decode_table.row_id_s"] = self.h.ops[-1].wall_s

        def content_flat():
            with self.h.tracer.span("decode_table", "engine.decode_job"):
                dec = decode_table(self.spark.read.parquet(self.flat), ["content"])
            with self.h.tracer.span("hash aggregate", "spark"):
                return _hash_row(dec, "content")

        self.h.op("probe.decode_table.content_flat", content_flat, self._check_decode("content"), timed=False)
        out["decode_job.decode_table.content_flat_s"] = self.h.ops[-1].wall_s

        def audit():
            with self.h.tracer.span("audit_lineage", "engine.verify"):
                r = audit_lineage(self.spark.read.parquet(self.store)).agg(
                    F.count(F.lit(1)), F.sum(F.when(~F.col("ok"), 1).otherwise(0))
                ).collect()[0]
            return int(r[0]), int(r[1] or 0)

        self.h.op("probe.audit_lineage", audit,
                  lambda r: None if r[0] > 0 and r[1] == 0 else f"{r[1]} of {r[0]} chunks fail their sha256",
                  timed=False)
        out["verify.audit_lineage_s"] = self.h.ops[-1].wall_s
        out.update(queries.measure(self.h, self.cfg, self.seed, self.work, queries.split()["column_read"]))
        return out


WORKLOADS = {"bulk_encode": BulkEncode, "column_read": ColumnRead}
