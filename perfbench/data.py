"""Seeded inputs for the workloads.

The engine sees only what these functions write: the source-repo table made
by the engine's own generator, and the ``documents``, ``lineitem`` and
``embeddings`` tables the driver queries read.  Those three follow the shape
of the repository's TPC-H-like query data at sf0.1 (sf0.001 for the tiny
self-test): the same columns, row counts and value distributions, made here
from the seed because a run may read only files of its own checkout.  The
same seed always gives the same inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the 30 words of the documents' text; "a" and "the" keep the stop-word and
# language-marker operators busy
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"], dtype=object)
LANG_WEIGHTS = [0.41, 0.15, 0.15, 0.15, 0.14]
EMBED_DIM = 64
# rows per table at each scale factor of the query data
QUERY_ROWS = {
    "sf0.1": dict(documents=5000, lineitem=600_000, embeddings=2000),
    "sf0.001": dict(documents=500, lineitem=6000, embeddings=500),
}


def write_source_repos(spark, path: str, rows: int, seed: int) -> tuple[int, int]:
    """Generate the source-repo table (``engine.generator``) and write it as
    parquet.  Returns (rows, content bytes)."""
    from pyspark.sql import functions as F

    from parquet4seastar_spark.engine.generator import generate_source_repos

    df = generate_source_repos(spark, rows, n_repos=max(50, rows // 2000), seed=seed)
    df.write.mode("overwrite").parquet(path)
    stats = (
        spark.read.parquet(path)
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.coalesce(F.octet_length("content"), F.lit(0))).alias("bytes"),
        )
        .collect()[0]
    )
    return int(stats["rows"]), int(stats["bytes"])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    n_words = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(n_words.sum()))
    vocab = np.array(VOCAB, dtype=object)
    texts, pos = [], 0
    for k in n_words.tolist():
        texts.append(" ".join(vocab[words[pos : pos + k]]))
        pos += k
    # 5% near-duplicates: another document's text with " dup" appended; two
    # that copy the same document are exact duplicates of each other
    for i in rng.choice(n, size=n // 20, replace=False).tolist():
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_WEIGHTS), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    day = np.datetime64("1995-01-02") + rng.integers(0, 2499, n).astype("timedelta64[D]")
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n // 4, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 20000, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 1000, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64), pa.float64()),
            "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n), 2), pa.float64()),
            "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, n), 2), pa.float64()),
            "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n), 2), pa.float64()),
            "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"], dtype=object), n), pa.string()),
            "l_linestatus": pa.array(rng.choice(np.array(["O", "F"], dtype=object), n), pa.string()),
            "l_shipdate": pa.array(day.astype("datetime64[us]"), pa.timestamp("us")),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    # unit vectors in 64 dimensions: pairwise cosines stay far below the
    # 0.9 near-duplicate threshold
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM), pa.int32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def write_query_tables(root: str, seed: int, scale: str) -> None:
    """Write documents/lineitem/embeddings parquet files under ``root`` with
    the row counts of ``scale``, a key of QUERY_ROWS."""
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng(seed)
    rows = QUERY_ROWS[scale]
    for name, make in (("documents", _documents), ("lineitem", _lineitem), ("embeddings", _embeddings)):
        pq.write_table(make(rng, rows[name]), os.path.join(root, f"{name}.parquet"), compression="snappy")
