"""Deduplication operators for large-scale training-data pipelines.

All shuffle-conscious: exact dedup is one hash aggregate; MinHash-LSH and
SimHash bucket first and only join within buckets, so the candidate-pair
space stays linear-ish instead of O(n^2).  At cluster scale the bucket join
is a standard shuffled equi-join Catalyst/AQE can re-plan (skewed buckets
split by AQE).

One banded join and one confirm serve every near-duplicate path, the
embedding near-dups of ``similarity`` included: :func:`_band_pairs` joins
(id, band, bucket) triples on (band, bucket), and :func:`_confirm` scores
each candidate pair ONCE (a filter over the aliased score would not).

Vectorization: shingle hashing runs over ONE concatenated buffer per Arrow
batch (mapInArrow + the offsets/payload layout from codecs.pages), with
doc-boundary masking -- no per-document Python loop anywhere.  Signatures
do NOT ride the band shuffle: only (doc_id, band, bucket) explodes; the
64-long signatures join back exactly once after candidate pairs are
deduplicated.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..codecs.pages import ba_components
from ._util import fan_out

# 2^31 - 1: Mersenne prime small enough that a*x+b (a,b,x < p) fits uint64
# exactly -- the (a*x+b) mod p universal family without 128-bit math
_P31 = np.uint64((1 << 31) - 1)


def fingerprint_cols(key_col: str):
    """The engine's 128-bit content-fingerprint contract: two
    independently-salted xxhash64 columns, collision odds ~2^-128 per
    pair.  ONE definition shared by exact_dedup and the streaming
    stateful dedup (engine/streaming.py) so the salt constant can never
    drift between them."""
    return F.xxhash64(key_col), F.xxhash64(F.lit("p4s#2"), key_col)


def exact_dedup(docs: DataFrame, key: str = "text") -> DataFrame:
    """Group identical texts: (keep_id = min doc_id, n_copies).

    Groups by the 128-bit :func:`fingerprint_cols` fingerprint instead of
    the raw text, so the aggregation exchange carries 16 bytes per row
    rather than the document bytes (a full-corpus value shuffle at
    100 TB).  Null and empty keys hash distinctly (xxhash64 skips nulls,
    so all-null keys share the seed-only value, matching GROUP BY's null
    bucket)."""
    fp, fp2 = fingerprint_cols(key)
    return (
        docs.select(fp.alias("_fp"), fp2.alias("_fp2"), "doc_id")
        .groupBy("_fp", "_fp2")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies")
    )


def _shingle_stream(
    arr: pa.Array, k: int, unique: bool = True
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Sorted-unique k-byte-shingle hashes for every doc of an arrow string
    array, in ONE vectorized pass over the concatenated batch payload.

    Returns (starts int64[n], counts int64[n], hashes uint64[total]):
    doc i's hashes are ``hashes[starts[i] : starts[i]+counts[i]]``, sorted
    ascending.  Docs that are null or shorter than k get the single
    sentinel hash 0 (so every segment is non-empty).

    ``unique=False`` returns the RAW per-doc gram stream (duplicates kept,
    position order) and skips the batch-wide lexsort — the dominant cost
    of this function.  Correct whenever the consumer is duplicate-
    insensitive: MinHash minima over a multiset equal minima over its set,
    so signatures are bit-identical either way.
    """
    if arr.null_count:
        arr = arr.fill_null("")
    lengths, payload = ba_components(arr)
    n = len(lengths)
    grams = np.maximum(lengths - k + 1, 0)
    m = len(payload)

    # polynomial rolling hash of every k-gram of the whole batch buffer
    if m >= k:
        h_all = np.zeros(m - k + 1, dtype=np.uint64)
        mult = np.uint64(1099511628211)
        pb = payload.astype(np.uint64)
        for j in range(k):
            h_all = h_all * mult + pb[j : m - k + 1 + j]
    else:
        h_all = np.zeros(0, dtype=np.uint64)

    # gather each doc's grams (positions that span doc boundaries are never
    # touched: doc i's valid gram positions are [payload_start_i, +grams_i))
    counts = np.where(grams > 0, grams, 1).astype(np.int64)
    starts = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=starts[1:])
    out = np.zeros(int(starts[-1]), dtype=np.uint64)  # zeros = sentinel
    has = grams > 0
    if has.any():
        payload_starts = np.zeros(n, dtype=np.int64)
        payload_starts[1:] = np.cumsum(lengths)[:-1]
        g = grams[has]
        src_base = np.repeat(payload_starts[has], g)
        dst_base = np.repeat(starts[:-1][has], g)
        rel = np.arange(int(g.sum()), dtype=np.int64) - np.repeat(np.cumsum(g) - g, g)
        out[dst_base + rel] = h_all[src_base + rel]

    if not unique:
        return starts[:-1].copy(), counts, out

    # segmented unique: sort within docs, drop consecutive repeats
    owner = np.repeat(np.arange(n, dtype=np.int64), counts)
    order = np.lexsort((out, owner))
    so = out[order]
    oo = owner[order]
    keep = np.ones(len(so), dtype=bool)
    if len(so) > 1:
        keep[1:] = (so[1:] != so[:-1]) | (oo[1:] != oo[:-1])
    u_h = so[keep]
    u_counts = np.bincount(oo[keep], minlength=n).astype(np.int64)
    u_starts = np.zeros(n, dtype=np.int64)
    u_starts[1:] = np.cumsum(u_counts)[:-1]
    return u_starts, u_counts, u_h


def _batch_text(rb: pa.RecordBatch, col: str) -> pa.Array:
    return pa.Table.from_batches([rb]).column(col).combine_chunks()


def _minhash_sig_matrix(
    arr: pa.Array, shingle_k: int, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """(n, num_hashes) int64 MinHash signature matrix for a string array.

    C kernel when available (codecs/_native.py p4s_minhash: one fused
    pass — the gram hash stays in a register, the minima in L1); numpy
    fallback pinned BIT-IDENTICAL (same polynomial hash, same Mersenne
    fold sequence; fuzz-tested in tests/test_operators.py).  Min over the
    raw gram multiset equals min over its set, so neither path sorts.
    """
    from ..codecs import _native

    num_hashes = len(a)
    lib = _native.get_kernel()
    if lib is not None and num_hashes <= 256:
        import ctypes

        if arr.null_count:
            arr = arr.fill_null("")
        lengths, payload = ba_components(arr)
        n = len(lengths)
        sig = np.empty((n, num_hashes), dtype=np.int64)
        payload = np.ascontiguousarray(payload)
        dl = np.ascontiguousarray(lengths, dtype=np.int64)
        aa = np.ascontiguousarray(a, dtype=np.uint64)
        bb = np.ascontiguousarray(b, dtype=np.uint64)
        lib.p4s_minhash(
            ctypes.c_void_p(payload.ctypes.data), ctypes.c_void_p(dl.ctypes.data),
            n, shingle_k,
            ctypes.c_void_p(aa.ctypes.data), ctypes.c_void_p(bb.ctypes.data),
            num_hashes, ctypes.c_void_p(sig.ctypes.data),
        )
        return sig
    # raw gram stream: min over a multiset == min over its set, so the
    # batch-wide sorted-unique pass (the dominant shingle cost) is
    # skipped — signatures are bit-identical
    starts, counts, h = _shingle_stream(arr, shingle_k, unique=False)
    hp = h % _P31
    n = len(counts)
    sig = np.empty((n, num_hashes), dtype=np.int64)
    # (a*x+b) mod 2^31-1 via Mersenne folding (2^31 === 1 mod p):
    # ~3x faster than integer % and zero per-permutation allocations
    tmp = np.empty_like(hp)
    hi = np.empty_like(hp)
    for i in range(num_hashes):
        np.multiply(hp, a[i], out=tmp)
        tmp += b[i]  # < 2^62 + 2^31: no overflow
        for _ in range(2):
            np.right_shift(tmp, np.uint64(31), out=hi)
            tmp &= _P31
            tmp += hi
        tmp[tmp >= _P31] -= _P31
        sig[:, i] = np.minimum.reduceat(tmp, starts).astype(np.int64)
    return sig


def minhash_signatures(
    docs: DataFrame, num_hashes: int = 64, shingle_k: int = 9, seed: int = 42
) -> DataFrame:
    """(doc_id, sig array<long>): MinHash signatures over k-shingles.

    mapInArrow end-to-end: the whole batch's signatures come from ONE
    call into :func:`_minhash_sig_matrix` (C kernel with a bit-identical
    numpy fallback) -- the (a*x+b) mod 2^31-1 permutations are exact in
    uint64.
    """
    rng = np.random.default_rng(seed)
    a = rng.integers(1, int(_P31), num_hashes, dtype=np.uint64)
    b = rng.integers(0, int(_P31), num_hashes, dtype=np.uint64)

    def compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from parquet4seastar_spark import _alloc

        _alloc.tune_allocator()
        for rb in batches:
            if rb.num_rows == 0:
                continue
            doc_id = _batch_text(rb, "doc_id")
            sig = _minhash_sig_matrix(_batch_text(rb, "text"), shingle_k, a, b)
            n = len(sig)
            offsets = pa.array((np.arange(n + 1, dtype=np.int64) * num_hashes).astype(np.int32))
            sig_arr = pa.ListArray.from_arrays(offsets, pa.array(sig.reshape(-1), type=pa.int64()))
            yield pa.RecordBatch.from_arrays(
                [doc_id.cast(pa.int64()), sig_arr], names=["doc_id", "sig"]
            )

    return fan_out(docs.select("doc_id", "text")).mapInArrow(
        compute, schema="doc_id long, sig array<long>"
    )


def _explode_bands(df: DataFrame, id_col: str, buckets: list) -> DataFrame:
    """(id_col, band, bucket): one row per band, ``buckets[i]`` being band
    i's bucket expression.  ONLY ids ride the band explode -- the value the
    buckets come from does not get duplicated x bands through the
    shuffle."""
    return df.select(
        id_col,
        F.explode(
            F.array(*[F.struct(F.lit(i).alias("band"), c.alias("bucket")) for i, c in enumerate(buckets)])
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


def _banded_buckets(sigs: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc_id, band, bucket) of MinHash signatures, ``bands`` bands of r =
    num_hashes/bands positions.  More bands than hashes would slice every
    band empty and put every doc in one bucket (a quadratic join), so that
    raises.

    The band hash is xxhash64 over the sliced signature values DIRECTLY
    (hash functions take complex types): the former rendering of every
    slice to a string materialized ~40 chars per (row, band) just to feed
    the hash.  Equal slices still collide and unequal ones spread, so LSH
    recall properties are unchanged (identical signatures collide in
    every band under any hash)."""
    if bands > num_hashes:
        raise ValueError(f"bands={bands} exceeds num_hashes={num_hashes}")
    r = num_hashes // bands
    return _explode_bands(sigs, "doc_id", [F.xxhash64(F.slice("sig", i * r + 1, r)) for i in range(bands)])


def _band_pairs(
    banded: DataFrame, id_col: str, a: str, b: str, new: DataFrame | None = None, distinct: bool = True
) -> DataFrame:
    """(a, b): id pairs sharing a (band, bucket) in (id_col, band, bucket)
    frames, ``a < b`` -- the one candidate join of every LSH path.

    All-vs-all by default (``l.id < r.id``).  With ``new``, only pairs
    with a side in ``new`` (new-vs-all, ``banded`` holding every id, new
    ones included): ``l.id != r.id``, ordered by least/greatest, so a
    new-new pair found from both sides collapses in the dedup.  A pair
    sharing several bands is one candidate after the dedup;
    ``distinct=False`` leaves that to the caller."""
    left = (banded if new is None else new).alias("l")
    li, ri = F.col(f"l.{id_col}"), F.col(f"r.{id_col}")
    on = (F.col("l.band") == F.col("r.band")) & (F.col("l.bucket") == F.col("r.bucket"))
    if new is None:
        pairs = left.join(banded.alias("r"), on & (li < ri)).select(li.alias(a), ri.alias(b))
    else:
        pairs = left.join(banded.alias("r"), on & (li != ri)).select(
            F.least(li, ri).alias(a), F.greatest(li, ri).alias(b)
        )
    return pairs.dropDuplicates([a, b]) if distinct else pairs


def _confirm(cand: DataFrame, side, score, keep, name: str) -> DataFrame:
    """(a, b, name): the candidate pairs whose ``score`` passes ``keep``,
    scored ONCE per pair.  ``side(s)`` is the value frame keyed by the
    pair's id column of side ``s`` ("a" or "b"); each joins back once.

    A ``score >= t`` filter over the aliased score is pushed below its
    projection and evaluates the score a second time; a predicate inside
    the generator (``explode(filter(array(score), keep))``) cannot be, so
    the plan holds the score once."""
    a, b = cand.columns
    return cand.join(side("a"), a).join(side("b"), b).select(
        a, b, F.explode(F.filter(F.array(score), keep)).alias(name)
    )


def _minhash_confirm(cand: DataFrame, sigs: DataFrame, num_hashes: int, threshold: float) -> DataFrame:
    """(doc_a, doc_b, est_jaccard): the fraction of equal signature
    positions, kept when >= ``threshold``."""
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(num_hashes)
    return _confirm(
        cand,
        lambda s: sigs.select(F.col("doc_id").alias(f"doc_{s}"), F.col("sig").alias(f"sig_{s}")),
        est,
        lambda e: e >= threshold,
        "est_jaccard",
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 9,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded LSH + exact signature check.

    banding: sig split into ``bands`` bands of r = num_hashes/bands rows;
    docs sharing any band-hash become candidates (shuffle = bucket
    equi-join over (doc_id, band, bucket) triples only); candidate pairs
    are deduplicated, THEN the signatures join back once to estimate
    Jaccard (fraction of equal signature positions) >= threshold.
    """
    sigs = minhash_signatures(docs, num_hashes, shingle_k, seed)
    banded = _banded_buckets(sigs, num_hashes, bands)  # raises before anything is cached
    # three subtrees consume the signatures (banding + both join-backs);
    # persist so the shingle/minhash UDF runs once, not three times.  At
    # cluster scale you'd materialize signatures to a table instead.
    sigs.persist()
    # the self-join consumes the banded triples twice; persisting the
    # (tiny, ids-only) frame guarantees the explode runs once even when
    # the planner does not reuse the exchange
    banded.persist()
    cand = _band_pairs(banded, "doc_id", "doc_a", "doc_b")
    return _minhash_confirm(cand, sigs, num_hashes, threshold)


def minhash_lsh_pairs_incremental(
    new_docs: DataFrame,
    sig_store: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 9,
    threshold: float = 0.5,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-duplicate detection against a persisted signature
    store — the operational 100-TB pattern: each ingest batch is checked
    against everything seen so far WITHOUT re-shingling the old corpus.

    ``sig_store`` is a previously materialized (doc_id, sig array<long>)
    table (e.g. written by ``minhash_signatures(...).write.parquet``; same
    num_hashes/shingle_k/seed).  Only the NEW batch's text is shingled;
    the store contributes banded bucket rows derived from its (tiny,
    ids+sigs-only) signature rows.  Candidate pairs = new-vs-store plus
    new-vs-new; store-vs-store pairs were already emitted by earlier
    batches (reference analogy: the encode job's lineage resume anti-join,
    engine/encode_job.py resume path — work already recorded is never
    redone).

    Returns ``(pairs, new_sigs)``: union ``new_sigs`` into the store for
    the next batch.  ``pairs`` columns: (doc_a, doc_b, est_jaccard), with
    doc_a < doc_b.

    Re-ingested ids are handled like the encode job's resume path: store
    rows whose doc_id appears in the new batch are superseded by the new
    signature (an ids-only broadcast anti-join), so a retried or
    overlapping batch neither duplicates pair rows nor poisons the store.
    ``new_sigs`` is persisted here (three consumers); the CALLER owns the
    unpersist once the pairs and the store union are materialized.
    """
    new_sigs = minhash_signatures(new_docs, num_hashes, shingle_k, seed)
    banded_new = _banded_buckets(new_sigs, num_hashes, bands)  # raises before anything is cached
    new_sigs.persist()
    sig_store = sig_store.join(
        F.broadcast(new_sigs.select("doc_id")), "doc_id", "left_anti"
    )
    banded_all = _banded_buckets(sig_store, num_hashes, bands).union(banded_new)
    cand = _band_pairs(banded_all, "doc_id", "doc_a", "doc_b", new=banded_new)
    pairs = _minhash_confirm(cand, sig_store.union(new_sigs), num_hashes, threshold)
    return pairs, new_sigs


def connected_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iter: int = 20,
    checkpoint_interval: int = 5,
) -> DataFrame:
    """(id, rep): connected components over near-duplicate pairs, rep = min
    id in the component — the step that turns pairwise matches into
    keep/drop GROUPS (keep rep, drop the rest).

    Min-label propagation: each round every node takes the min of its own
    label and its neighbors' labels (one ids-only shuffle per round).
    Rounds needed = graph diameter; duplicate groups from banded LSH are
    cliques or min-id stars (diameter <= 2), so 2-3 rounds close them.
    Only edge endpoints carry labels — at 10^9 docs with 1% dups the label
    frame is 10^7 rows, never the corpus.  The convergence check is one
    count on the (tiny) changed-labels frame per round; ``max_iter`` caps
    pathological chains.

    Cache ownership: the RETURNED frame stays persisted (it was
    materialized by the final convergence check; recomputing the whole
    iteration chain lazily would be far worse) — the caller unpersists it
    when done.  Superseded per-round frames and the edge frame are
    unpersisted here.

    Every ``checkpoint_interval`` rounds the label frame is
    localCheckpoint'ed: persists bound recompute but the PLAN still grows
    one join deeper per round, so a long-diameter graph (adversarial
    chains; LSH groups are diameter <= 2 and never hit this) would pay
    linearly growing optimizer time and an unbounded recovery lineage.
    The checkpoint truncates it.
    """
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (
        edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .persist()
    )
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn("rep", F.col("id"))
    labels = labels.persist()
    prev_checkpointed = False
    for it in range(max_iter):
        nbr = (
            edges.join(
                labels.select(F.col("id").alias("dst"), F.col("rep").alias("nrep")), "dst"
            )
            .groupBy("src")
            .agg(F.min("nrep").alias("min_nbr"))
        )
        new_labels = labels.join(nbr.withColumnRenamed("src", "id"), "id", "left").select(
            "id",
            F.least(F.col("rep"), F.coalesce("min_nbr", F.col("rep"))).alias("rep"),
        )
        checkpointed = (it + 1) % checkpoint_interval == 0
        if checkpointed:
            new_labels = new_labels.localCheckpoint(eager=True)
        else:
            new_labels = new_labels.persist()
        changed = (
            new_labels.join(labels.withColumnRenamed("rep", "old"), "id")
            .filter(F.col("rep") != F.col("old"))
            .limit(1)
            .count()
        )
        if not prev_checkpointed:
            # unpersist is a no-op on localCheckpoint blocks (those are
            # released by the ContextCleaner once the frame is unreferenced)
            labels.unpersist()
        labels = new_labels
        prev_checkpointed = checkpointed
        if changed == 0:
            break
    edges.unpersist()
    return labels


def simhash(docs: DataFrame, bits: int = 64, shingle_k: int = 6) -> DataFrame:
    """(doc_id, simhash long): bit-vote fingerprint over unique shingles.

    mapInArrow + segmented bit-voting: per bit, ones = np.add.reduceat over
    the batch shingle stream; bit set where ones*2 > count.
    """

    def compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from parquet4seastar_spark import _alloc

        _alloc.tune_allocator()
        one = np.uint64(1)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            doc_id = _batch_text(rb, "doc_id")
            starts, counts, h = _shingle_stream(_batch_text(rb, "text"), shingle_k)
            n = len(counts)
            fp = np.zeros(n, dtype=np.uint64)
            for bit in range(bits):
                ones = np.add.reduceat((h >> np.uint64(bit)) & one, starts)
                fp |= ((ones * 2 > counts).astype(np.uint64)) << np.uint64(bit)
            yield pa.RecordBatch.from_arrays(
                [doc_id.cast(pa.int64()), pa.array(fp.astype(np.int64), type=pa.int64())],
                names=["doc_id", "simhash"],
            )

    return fan_out(docs.select("doc_id", "text")).mapInArrow(
        compute, schema="doc_id long, simhash long"
    )


def simhash_near_dups(
    docs: DataFrame, max_hamming: int = 3, bits: int = 64, shingle_k: int = 6
) -> DataFrame:
    """(doc_a, doc_b, hamming): near-duplicate pairs via banded SimHash.

    Fingerprints split into max_hamming+1 bands: by pigeonhole, any pair
    within ``max_hamming`` differing bits agrees EXACTLY on at least one
    band, so the banded equi-join has zero recall loss vs all-pairs while
    shuffling only (doc_id, band, band_value) triples.  The confirm step is
    a JVM built-in: bit_count(xor) <= max_hamming.
    """
    nb = max_hamming + 1
    if bits % nb:
        raise ValueError(f"bits={bits} must divide into {nb} bands")
    width = bits // nb
    mask = (1 << width) - 1
    # banding + both join-backs consume the fingerprints: persist once
    fp = simhash(docs, bits, shingle_k).persist()
    banded = _explode_bands(
        fp, "doc_id", [F.shiftrightunsigned("simhash", i * width).bitwiseAND(F.lit(mask)) for i in range(nb)]
    )
    return _confirm(
        _band_pairs(banded, "doc_id", "doc_a", "doc_b"),
        lambda s: fp.select(F.col("doc_id").alias(f"doc_{s}"), F.col("simhash").alias(f"fp_{s}")),
        F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))),
        lambda h: h <= max_hamming,
        "hamming",
    )


def ngram_jaccard_dedup(
    docs: DataFrame, shingle_k: int = 9, threshold: float = 0.8, seed: int = 42
) -> DataFrame:
    """Exact n-gram Jaccard on LSH candidate pairs (verification pass).

    LSH proposes candidates (cheap); the exact Jaccard over shingle sets
    confirms.  Shingle streams for the candidate texts are batch-hashed
    (one buffer per side); only the per-pair sorted-set intersection is a
    loop -- bounded by the candidate count, which LSH keeps small.
    """
    cand = minhash_lsh_pairs(docs, threshold=min(threshold - 0.2, 0.5), shingle_k=shingle_k, seed=seed)
    texts = docs.select("doc_id", "text")
    joined = (
        cand.join(texts.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("text", "text_a"), "doc_a")
        .join(texts.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("text", "text_b"), "doc_b")
    )

    def exact(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from parquet4seastar_spark import _alloc

        _alloc.tune_allocator()
        for rb in batches:
            if rb.num_rows == 0:
                continue
            sa, ca, ha = _shingle_stream(_batch_text(rb, "text_a"), shingle_k)
            sb, cb, hb = _shingle_stream(_batch_text(rb, "text_b"), shingle_k)
            # segmented set intersection over the WHOLE batch in one sorted
            # pass (both sides are per-pair sorted-unique): a shared hash
            # appears as two adjacent entries of the same pair after the
            # (pair, hash) lexsort -- no per-pair Python loop
            n = rb.num_rows
            pair_ids = np.concatenate(
                [np.repeat(np.arange(n, dtype=np.int64), ca),
                 np.repeat(np.arange(n, dtype=np.int64), cb)]
            )
            hashes = np.concatenate([ha, hb])
            order = np.lexsort((hashes, pair_ids))
            kp = pair_ids[order]
            kh = hashes[order]
            if len(kp) > 1:
                dup = (kp[1:] == kp[:-1]) & (kh[1:] == kh[:-1])
                inter = np.bincount(kp[1:][dup], minlength=n).astype(np.int64)
            else:
                inter = np.zeros(n, dtype=np.int64)
            union = ca + cb - inter
            jac = inter / np.maximum(union, 1)
            yield pa.RecordBatch.from_arrays(
                [
                    _batch_text(rb, "doc_a").cast(pa.int64()),
                    _batch_text(rb, "doc_b").cast(pa.int64()),
                    pa.array(jac, type=pa.float64()),
                ],
                names=["doc_a", "doc_b", "jaccard"],
            )

    out = joined.mapInArrow(exact, schema="doc_a long, doc_b long, jaccard double")
    return out.filter(F.col("jaccard") >= threshold)


def _shingle_hashes(
    df: DataFrame, shingle_k: int, id_col: str, text_col: str
) -> DataFrame:
    """(id, shingle): exploded per-doc UNIQUE k-shingle hashes (sentinel 0
    rows for null/short docs included; callers filter them)."""

    def compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from parquet4seastar_spark import _alloc

        _alloc.tune_allocator()
        for rb in batches:
            if rb.num_rows == 0:
                continue
            starts, counts, h = _shingle_stream(_batch_text(rb, text_col), shingle_k)
            ids = np.repeat(
                np.asarray(_batch_text(rb, id_col).cast(pa.int64())), counts
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, type=pa.int64()),
                    pa.array(h.view(np.int64), type=pa.int64()),
                ],
                names=[id_col, "shingle"],
            )

    return df.select(id_col, text_col).mapInArrow(
        compute, schema=f"{id_col} long, shingle long"
    )


def decontaminate(
    docs: DataFrame,
    blocklist: DataFrame,
    shingle_k: int = 24,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_hits, contaminated): flag documents sharing any k-byte
    n-gram with a benchmark/blocklist corpus — the decontamination pass a
    training-data pipeline runs so evaluation data never leaks into
    training data.

    Scale shape: the blocklist's distinct shingle set is tiny relative to
    the corpus (benchmarks are MBs against 100 TB), so it BROADCASTS; each
    document's shingles match map-side (the inner broadcast join keeps only
    matching rows — near-zero at contamination rates), and one doc-keyed
    aggregate counts hits.  The corpus text itself never shuffles.
    ``n_hits`` counts the document's distinct matching shingles.
    """
    doc_sh = _shingle_hashes(docs, shingle_k, id_col, text_col).filter(
        F.col("shingle") != 0
    )
    bl_sh = _blocklist_shingles(blocklist, shingle_k, text_col).select("shingle").distinct()
    hits = doc_sh.join(F.broadcast(bl_sh), "shingle").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return docs.select(id_col).join(hits, id_col, "left").select(
        id_col,
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
    )


def _blocklist_shingles(blocklist: DataFrame, shingle_k: int, text_col: str) -> DataFrame:
    """(_bid, shingle): per-entry UNIQUE shingle hashes of a blocklist.

    The entry id is xxhash64 of the entry text — DETERMINISTIC across plan
    re-evaluations, unlike monotonically_increasing_id, so two subtrees
    that both derive from this frame (e.g. the shingle rows and the
    per-entry size table) can never disagree on which entry a shingle
    belongs to after a shuffle or task retry.  Identical entries merge
    into one id, which is harmless (identical shingle sets)."""
    bl = blocklist.select(F.xxhash64(text_col).alias("_bid"), F.col(text_col))
    # _shingle_hashes already emits per-doc UNIQUE shingles; only the
    # sentinel rows need filtering
    return _shingle_hashes(bl, shingle_k, "_bid", text_col).filter(F.col("shingle") != 0)


def decontaminate_fuzzy(
    docs: DataFrame,
    blocklist: DataFrame,
    shingle_k: int = 9,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_entry_matches, contaminated): near-match decontamination.

    A document is flagged when it contains >= ``threshold`` of ANY single
    blocklist entry's distinct k-shingles — shingle-set CONTAINMENT of the
    entry in the doc, which catches paraphrased / lightly-edited benchmark
    leakage that exact long-k-gram matching (:func:`decontaminate`) misses
    (an edit every few tokens destroys every 24-gram but only a local
    neighborhood of 9-grams).

    Scale shape: identical to the exact path — the blocklist's (entry id,
    shingle) rows plus per-entry shingle counts BROADCAST (benchmarks are
    MBs against 100 TB); each doc's shingles match map-side via the inner
    broadcast join, so only matching shingle rows (contamination-rate-
    sized) reach the (doc, entry) aggregate; the corpus text never
    shuffles.  ``n_entry_matches`` counts blocklist entries whose
    containment in the doc clears the threshold.
    """
    doc_sh = _shingle_hashes(docs, shingle_k, id_col, text_col).filter(
        F.col("shingle") != 0
    )
    bl_sh = _blocklist_shingles(blocklist, shingle_k, text_col)
    bl_sized = bl_sh.join(
        bl_sh.groupBy("_bid").agg(F.count(F.lit(1)).alias("_bl_n")), "_bid"
    )
    entry_hits = (
        doc_sh.join(F.broadcast(bl_sized), "shingle")
        .groupBy(id_col, "_bid", "_bl_n")
        .agg(F.count(F.lit(1)).alias("_n_hit"))
        .filter(F.col("_n_hit") >= F.col("_bl_n") * F.lit(threshold))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_entry_matches"))
    )
    return docs.select(id_col).join(entry_hits, id_col, "left").select(
        id_col,
        F.coalesce("n_entry_matches", F.lit(0)).alias("n_entry_matches"),
        (F.coalesce("n_entry_matches", F.lit(0)) > 0).alias("contaminated"),
    )
