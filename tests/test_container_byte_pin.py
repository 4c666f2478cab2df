"""Byte pin for the container writer.

``write_parquet_file`` output for a fixed set of files is pinned by
sha256: the file_writer golden (map + list<struct>, two row groups), flat
files over six types with and without nulls under ``plain`` and ``dict``
with each compression, list<prim> with nullable and required elements,
walker-encoded struct / list<struct> / map columns, and a flat file in two
row groups.  A change to how the writer lays out its schema, pages or
footer must leave every digest unchanged.

``write_pin_files(out_dir)`` writes the same files and returns their
digests, so two checkouts can be compared directly:

    python -c "import sys; sys.path.insert(0, 'tests'); \\
        from test_container_byte_pin import write_pin_files; \\
        [print(k, v) for k, v in sorted(write_pin_files('/tmp/pins').items())]"
"""

import hashlib
import os
from decimal import Decimal

import pyarrow as pa
import pytest

from parquet4seastar_spark.codecs.pages import encode_chunk, encode_column
from parquet4seastar_spark.codecs.parquet_file import DremelColumn, write_parquet_file


def _flat_columns(policy, compression, n=240, start=0):
    rows = range(start, start + n)
    base = {
        "i32": (pa.int32(), [i * 7 - 500 for i in rows]),
        "i64": (pa.int64(), [i * 1_000_003 - (1 << 40) for i in rows]),
        "f64": (pa.float64(), [i / 8 - 3.5 for i in rows]),
        "bool": (pa.bool_(), [i % 3 == 0 for i in rows]),
        "dec": (pa.decimal128(12, 2), [Decimal(i * 37 - 4000).scaleb(-2) for i in rows]),
        "str": (pa.string(), [f"value-{i % 17}" for i in rows]),
    }
    chunks = {}
    for name, (typ, vals) in base.items():
        # standard readers cannot read dictionary-encoded BOOLEAN
        pol = "RLE" if typ == pa.bool_() and policy == "dict" else policy
        nulled = [None if i % 5 == 1 else v for i, v in zip(rows, vals)]
        for col, vs in ((name, vals), (f"{name}_n", nulled)):
            chunks[col] = encode_chunk(pa.array(vs, type=typ), policy=pol, compression=compression)
    return chunks


def _flat(policy, compression):
    def write(path):
        write_parquet_file(path, _flat_columns(policy, compression), 240)

    return write


def _two_groups(path):
    groups = [_flat_columns("plain", "uncompressed", 150), _flat_columns("dict", "gzip", 90, 150)]
    write_parquet_file(path, groups, [150, 90])


def _lists(path):
    opt = pa.array([[1, None, 3], None, [], [4, 5]] * 30, type=pa.list_(pa.int64()))
    req = pa.array([[1, 2], None, [], [3]] * 30, type=pa.list_(pa.int64()))
    strs = pa.array([["a", None], None, ["bc"], []] * 30, type=pa.list_(pa.string()))
    chunks = {
        "opt": encode_chunk(opt, policy="plain"),
        "req": encode_chunk(req, policy="plain", elem_nullable=False),
        "strs": encode_chunk(strs, policy="dict", compression="snappy", elem_nullable=True),
    }
    assert chunks["opt"].elem_nullable and not chunks["req"].elem_nullable
    write_parquet_file(path, chunks, 120)


def _dremel(typ, rows, policy="plain"):
    def write(path):
        arr = pa.array(rows, type=typ)
        leaves = encode_column(arr, policy=policy)
        write_parquet_file(path, {"c": DremelColumn(leaves)}, len(arr))

    return write


def _golden(path):
    from test_cql_dump import write_file_writer_golden

    write_file_writer_golden(path)


CASES = {
    "file_writer_golden": _golden,
    **{
        f"flat_{p}_{c}": _flat(p, c)
        for p in ("plain", "dict")
        for c in ("uncompressed", "gzip", "snappy")
    },
    "lists": _lists,
    "dremel_struct": _dremel(
        pa.struct([("a", pa.int32()), ("b", pa.string())]),
        [{"a": 1, "b": "x"}, None, {"a": None, "b": "yz"}, {"a": 4, "b": None}] * 10,
    ),
    "dremel_list_struct": _dremel(
        pa.list_(pa.struct([("tok", pa.string()), ("pos", pa.int32())])),
        [[{"tok": "a", "pos": 0}, None], None, [], [{"tok": None, "pos": 7}]] * 10,
        policy="auto_fast",
    ),
    "dremel_map": _dremel(
        pa.map_(pa.string(), pa.float64()),
        [[("k", 1.5), ("e", None)], None, [], [("z", -2.0)]] * 10,
    ),
    "two_row_groups": _two_groups,
}

# sha256 per file: the schema-tree writer reproduces the bytes of the
# per-kind writer it replaced
PINS = {
    "dremel_list_struct": "5208501a5332c48b28ccecd6a8df2691f4c13e71a7d64e993b72cea3bdd1f30f",
    "dremel_map": "6a28eed4f2592ef347791905fd0b4cb72613d7f238f653507df6e5b7f84e3f1d",
    "dremel_struct": "9fbfc68447b626a15f62a041785b0c4823bccd365796fbd222dfd336e8255753",
    "file_writer_golden": "3ffab119706df3ffb7d1774c4b9b16d8e57a8da1d99fd01d76ef6473afbd046d",
    "flat_dict_gzip": "a219a8979cb22e0a08b9fe1f985092cc4f1f3035d70e6aa6251917c39a63833e",
    "flat_dict_snappy": "073a54584c74f47607696714305629dd628a46c1f192eb542617e0c92ca006b1",
    "flat_dict_uncompressed": "c4c96239c24615a5de5c6bd30ec767daa206dcbff1ea0455c3723e790ef02db9",
    "flat_plain_gzip": "86e0098bc5940152504d627918583f2fa6b477ea7151afe101f85ff02dc2e727",
    "flat_plain_snappy": "ba9e7cd6afeaf6cdded08eb6019b9ef5b4bb906393a64acd4a26f88ffcfd9bcc",
    "flat_plain_uncompressed": "0ba85282489ed4f895ac9555f28124c4a945c5300f86591d6463f73c347a2a71",
    "lists": "da62f03a8c1338cfa51a6191ff83177e7fad7b22127e77bb1991b3797dd594cd",
    "two_row_groups": "2a0f30f3f24630214d6e121eee6cb40bd15e189e33a9201dae080478474e7d92",
}


def write_pin_files(out_dir: str) -> dict[str, str]:
    """Write every pinned file under ``out_dir``; returns name -> sha256."""
    os.makedirs(out_dir, exist_ok=True)
    digests = {}
    for name, write in CASES.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        write(path)
        with open(path, "rb") as f:
            digests[name] = hashlib.sha256(f.read()).hexdigest()
    return digests


@pytest.mark.parametrize("name", sorted(CASES))
def test_container_bytes_pinned(name, tmp_path):
    path = str(tmp_path / f"{name}.parquet")
    CASES[name](path)
    with open(path, "rb") as f:
        assert hashlib.sha256(f.read()).hexdigest() == PINS[name], name
