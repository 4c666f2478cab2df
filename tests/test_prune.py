"""prune_chunks keeps exactly the chunks the JVM expression rule kept.

The oracle below is the rule prune_chunks applied as Spark expressions
before it decided on the driver: a range test on the stats and a bloom
membership test built from ``element_at``/``shiftrightunsigned`` per
probe position; a key is dropped (the left-anti join) when one of its
``column`` chunk rows has a false condition.  Both must keep the same (part_key, chunk_seq) set on every
predicate, over both index sources: a stored frame (read with pyarrow)
and a persisted computed frame (read with one ``toArrow()``).
"""

import functools

import pyspark.sql.functions as F
import pytest
from pyspark.sql import DataFrame

def _jvm_keep(encoded, *, gt=None, ge=None, lt=None, le=None, eq=None, isin=None):
    """The expression-tree rule: a chunk row is dropped where this is false."""
    from parquet4seastar_spark.codecs.bloom import probe_positions

    probe = (
        eq
        if eq is not None
        else (isin[0] if isin else (gt if gt is not None else (ge if ge is not None else (lt if lt is not None else le))))
    )
    is_bin = isinstance(probe, (str, bytes))
    lo_col = F.col("stat_min_bin") if is_bin else F.col("stat_min_num")
    hi_col = F.col("stat_max_bin") if is_bin else F.col("stat_max_num")

    def _lit(v):
        if isinstance(v, str):
            return F.encode(F.lit(v), "utf-8")
        if isinstance(v, bytes):
            return F.lit(v)
        return F.lit(float(v))

    cond = F.lit(True)
    if gt is not None:
        cond = cond & (hi_col.isNull() | (hi_col > _lit(gt)))
    if ge is not None:
        cond = cond & (hi_col.isNull() | (hi_col >= _lit(ge)))
    if lt is not None:
        cond = cond & (lo_col.isNull() | (lo_col < _lit(lt)))
    if le is not None:
        cond = cond & (lo_col.isNull() | (lo_col <= _lit(le)))

    def _point_cond(v):
        c = (lo_col.isNull() | (lo_col <= _lit(v))) & (hi_col.isNull() | (hi_col >= _lit(v)))
        if (
            "bloom" in encoded.columns
            and "ptype" in encoded.columns
            and isinstance(v, (str, bytes, int))
            and not isinstance(v, bool)
        ):
            applicable = (
                F.col("ptype") == "BYTE_ARRAY"
                if isinstance(v, (str, bytes))
                else F.col("ptype").isin("INT32", "INT64")
            )
            present = F.lit(True)
            for b in probe_positions(v):
                word = F.element_at(F.col("bloom"), b // 64 + 1)
                present = present & (F.shiftrightunsigned(word, b % 64).bitwiseAND(F.lit(1)) == 1)
            c = c & (~applicable | F.col("bloom").isNull() | present)
        return c

    if eq is not None:
        cond = cond & _point_cond(eq)
    if isin:
        any_v = _point_cond(isin[0])
        for v in isin[1:]:
            any_v = any_v | _point_cond(v)
        cond = cond & any_v
    return cond


def _jvm_kept(encoded, cases) -> list[set]:
    """Kept (part_key, chunk_seq) set per (column, predicate) case under
    the expression rule: the drop set is the ``column`` chunk rows whose
    condition is false, and the left-anti join on the key removes every
    row of a dropped key.  All cases' drop sets come from one collect."""
    drops = [
        F.coalesce((F.col("column") == column) & ~_jvm_keep(encoded, **pred), F.lit(False))
        for column, pred in cases
    ]
    rows = _chunk_keys(encoded, *drops).collect()
    every = {(r[-2], r[-1]) for r in rows}
    return [every - {(r[-2], r[-1]) for r in rows if r[i]} for i in range(len(cases))]


def _chunk_keys(df, *extra):
    return df.filter(F.col("kind") == "chunk").select(*extra, "part_key", "chunk_seq")


def _kept(df) -> set:
    return {tuple(r) for r in _chunk_keys(df).collect()}


# (column, predicate): str, bytes and int literals, every range operator,
# point lookups present and absent, a str literal on the INT64 column,
# text chunks (long values: no bloom) and an absent column
PREDICATES = [
    ("k", dict(eq="key-0123")),
    ("k", dict(eq="key-00x0")),
    ("k", dict(eq=b"key-0321")),
    ("k", dict(isin=["key-00x0", "key-01x1"])),
    ("k", dict(isin=["key-00x0", "key-0123", "key-0456"])),
    ("k", dict(gt="key-0400")),
    ("k", dict(ge="key-0100", lt="key-0120")),
    ("k", dict(le="key-0010", gt="key-0000")),
    ("k", dict(eq="key-0123", lt="key-0200")),
    ("b", dict(eq=b"key-0042")),
    ("b", dict(eq=b"key-00x0")),
    ("b", dict(isin=[b"key-00x0", "key-0007"])),
    ("b", dict(lt=b"key-0050")),
    ("n", dict(eq=700)),
    ("n", dict(eq=123456)),
    ("n", dict(isin=[123456, 700, 10**12])),
    ("n", dict(gt=400, le=480)),
    ("n", dict(ge=300.5)),
    ("n", dict(eq=str(700))),
    ("text", dict(eq="zzz")),
    ("text", dict(gt="The")),
    ("nope", dict(gt=0)),
    ("nope", dict(eq="key-0123")),
]


@pytest.fixture(scope="module")
def frames(spark, tmp_path_factory):
    """name -> pages frame: the same tampered encode as a column store
    (read_store and a plain read) and persisted; a union of two encodes,
    one without ``k``, stored flat and persisted; the store's rows as flat
    files of which some lack the bloom and bin stats columns."""
    from parquet4seastar_spark.engine.encode_job import encode_table
    from parquet4seastar_spark.engine.store import read_store, write_store

    tmp = tmp_path_factory.mktemp("prune")
    key = F.concat(F.lit("key-"), F.format_string("%04d", F.col("id")))
    docs = spark.range(500).select(
        F.col("id").alias("row_id"),
        key.alias("k"),
        F.encode(key, "utf-8").alias("b"),
        (F.col("id") * 7919 % 1000 + F.col("id") % 2 * 200).alias("n"),
        # 12 to 480 bytes: chunks holding a value over 256 bytes get no bloom
        F.expr("concat(repeat('The text ', cast(id % 53 as int)), cast(id as string))").alias("text"),
        (F.col("id") % 7).cast("string").alias("source"),
    )
    # 7 sources of ~71 rows, each split in two salt buckets: 14 part keys
    enc = encode_table(docs, columns=["k", "b", "n", "text"], policy="plain", salt_col="source",
                       num_partitions=2, salt_target_rows=50)
    # chunk rows with null stats (both, or only the upper bound) and with
    # null blooms, chosen by key
    sel = F.xxhash64("part_key", "chunk_seq") % 4
    for c in ("stat_min_bin", "stat_max_bin", "stat_min_num", "stat_max_num"):
        nulled = (sel == 0) | ((sel == 2) & F.lit(c.startswith("stat_max")))
        enc = enc.withColumn(c, F.when(nulled, None).otherwise(F.col(c)))
    enc = enc.withColumn("bloom", F.when(sel == 1, None).otherwise(F.col("bloom")))
    store = str(tmp / "store")
    write_store(enc, store)

    other = encode_table(
        docs.filter(F.col("row_id") % 3 == 0), columns=["n"], policy="auto", salt_col="source",
        num_partitions=2, salt_target_rows=50,
    )
    union = spark.read.parquet(store).unionByName(other, allowMissingColumns=True)
    flat = str(tmp / "flat")
    union.write.parquet(flat)
    # files written without bloom and bin stats beside full ones: Spark
    # reads the missing columns as nulls, and so must the pyarrow index
    mixed = str(tmp / "mixed")
    stored = spark.read.parquet(store)
    half = F.xxhash64("part_key") % 2 == 0
    stored.filter(half).drop("bloom", "stat_min_bin", "stat_max_bin").write.parquet(f"{mixed}/old")
    stored.filter(~half).write.parquet(f"{mixed}/new")
    out = {
        "read_store": read_store(spark, store, ["k", "b", "n", "text"]),
        "plain_read": spark.read.parquet(store),
        "computed": enc.persist(),
        "union_flat": spark.read.parquet(flat),
        "union_computed": union.persist(),
        "mixed_flat": spark.read.schema(stored.schema).parquet(f"{mixed}/old", f"{mixed}/new"),
    }
    yield out
    out["computed"].unpersist()
    out["union_computed"].unpersist()


@pytest.mark.parametrize(
    "source", ["read_store", "plain_read", "computed", "union_flat", "union_computed", "mixed_flat"]
)
def test_prune_chunks_keeps_what_the_expression_rule_kept(spark, frames, source):
    from parquet4seastar_spark.engine.decode_job import _local_scan_files, prune_chunks

    enc = frames[source]
    # the stored frames read their index with pyarrow, the computed ones with Spark
    assert (_local_scan_files(enc) is None) == source.endswith("computed")
    every = _kept(enc)
    # every case's pruned frame, tagged, in one collect
    pruned = [
        prune_chunks(enc, column, **pred).select(F.lit(i).alias("case"), "*")
        for i, (column, pred) in enumerate(PREDICATES)
    ]
    got = [set() for _ in PREDICATES]
    for r in _chunk_keys(functools.reduce(DataFrame.unionByName, pruned), "case").collect():
        got[r[0]].add((r[1], r[2]))
    shapes = set()
    for (column, pred), want, kept in zip(PREDICATES, _jvm_kept(enc, PREDICATES), got):
        assert kept == want, (source, column, pred, sorted(kept ^ want))
        shapes.add("none" if not kept else "all" if kept == every else "some")
    # the predicates do prune (all of a key set only where every chunk row
    # carries its bloom and stats)
    assert shapes == ({"some", "all"} if source == "mixed_flat" else {"none", "some", "all"})
