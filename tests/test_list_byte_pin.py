"""Byte pin for flat, list<prim> and list<list<prim>> chunks.

Every page byte and every chunk metadata field that ``encode_chunk``
writes for a fixed corpus is folded into one sha256 per (shape, policy,
compression).  The corpus covers twelve element types, null rows, null
inner lists and null elements, sizes 0 / 1 / 40, a multi-page size that
overflows the 16 KiB dictionary (and takes FSST or DELTA_BYTE_ARRAY
under ``auto`` for text), a sliced input, and every nullability flag
combination that the data does not contradict.  Flat chunks also pin
their bloom filter bytes and one FSST symbol table shared through
``fsst_cache`` by two slices of a text column.  The digests pin the
wire bytes: a change to how any of these chunks are encoded must leave
them unchanged.
"""

import datetime
import decimal
import hashlib
import random

import pyarrow as pa
import pytest

from parquet4seastar_spark.codecs.pages import decode_chunk, encode_chunk


def _int32(r):
    return r.randint(-300, 300)


def _int64(r):
    return r.randint(-(1 << 40), 1 << 40)


def _double(r):
    return r.choice([0.5, -1.25, 3.0, 1e300, r.random()])


def _bool(r):
    return r.random() < 0.7


def _string(r):
    return r.choice(["py", "go", "rust", "", "zig"]) + str(r.randint(0, 30))


_WORDS = ["the", "column", "chunk", "page", "level", "record", "reader", "writer", "value", "null"]


def _text(r):
    return " ".join(r.choice(_WORDS) for _ in range(r.randint(3, 8)))


def _path(r):
    return f"src/engine/module_{r.randint(0, 40)}/file_{r.randint(0, 999)}.py"


def _binary(r):
    return bytes(r.randrange(256) for _ in range(r.randint(0, 5)))


def _dec9(r):
    return decimal.Decimal(r.randint(-99999, 99999)).scaleb(-2)


def _dec20(r):
    return decimal.Decimal(r.randint(-(10**17), 10**17)).scaleb(-3)


def _ts(r):
    return datetime.datetime(2020, 1, 1) + datetime.timedelta(microseconds=r.randint(0, 10**12))


def _date(r):
    return datetime.date(2000, 1, 1) + datetime.timedelta(days=r.randint(0, 9000))


ELEMENTS = [
    ("int32", pa.int32(), _int32),
    ("int64", pa.int64(), _int64),
    ("double", pa.float64(), _double),
    ("bool", pa.bool_(), _bool),
    ("string", pa.string(), _string),
    ("text", pa.string(), _text),
    ("path", pa.string(), _path),
    ("binary", pa.binary(), _binary),
    ("dec9", pa.decimal128(9, 2), _dec9),
    ("dec20", pa.decimal128(20, 3), _dec20),
    ("ts", pa.timestamp("us"), _ts),
    ("date", pa.date32(), _date),
]

FLAGS = [None, True, False]


def _gen_list(r, n, elem, null_p, null_elem_p, max_len=4):
    rows = []
    for _ in range(n):
        if r.random() < null_p:
            rows.append(None)
            continue
        rows.append(
            [None if r.random() < null_elem_p else elem(r) for _ in range(r.randint(0, max_len))]
        )
    return rows


def _list_cases():
    """(case id, arr, encode kwargs, page_target_bytes) for list<prim>."""
    r = random.Random(20261017)
    for name, typ, elem in ELEMENTS:
        t = pa.list_(typ)
        arrays = []
        for row_nulls in (0.0, 0.25):
            for elem_nulls in (0.0, 0.3):
                for n in (0, 1, 40):
                    rows = _gen_list(r, n, elem, row_nulls, elem_nulls)
                    arrays.append((f"{row_nulls}/{elem_nulls}/{n}", pa.array(rows, type=t), 256))
        big = pa.array(_gen_list(r, 1200, elem, 0.1, 0.1), type=t)
        arrays.append(("big", big, 2048))
        arrays.append(("slice", big.slice(7, 300), 1024))
        for tag, arr, target in arrays:
            row_nulls = arr.null_count > 0
            elem_nulls = arr.flatten().null_count > 0
            for nullable in FLAGS:
                if nullable is False and row_nulls:
                    continue
                for elem_nullable in FLAGS:
                    if elem_nullable is False and elem_nulls:
                        continue
                    kw = {}
                    if nullable is not None:
                        kw["nullable"] = nullable
                    if elem_nullable is not None:
                        kw["elem_nullable"] = elem_nullable
                    yield f"{name}/{tag}/{nullable}/{elem_nullable}", arr, kw, target


def _list2_cases():
    """(case id, arr, encode kwargs, page_target_bytes) for list<list<prim>>."""
    r = random.Random(17102026)
    for name, typ, elem in ELEMENTS:
        t = pa.list_(pa.list_(typ))
        arrays = []
        for outer_nulls in (0.0, 0.25):
            for inner_nulls in (0.0, 0.25):
                for elem_nulls in (0.0, 0.3):
                    for n in (0, 1, 40):
                        rows = [
                            None
                            if r.random() < outer_nulls
                            else [
                                None
                                if r.random() < inner_nulls
                                else _gen_list(r, 1, elem, 0.0, elem_nulls)[0]
                                for _ in range(r.randint(0, 3))
                            ]
                            for _ in range(n)
                        ]
                        tag = f"{outer_nulls}/{inner_nulls}/{elem_nulls}/{n}"
                        arrays.append((tag, pa.array(rows, type=t), 256))
        big_rows = [
            None if r.random() < 0.1 else [_gen_list(r, 1, elem, 0.0, 0.1)[0] for _ in range(r.randint(0, 3))]
            for _ in range(800)
        ]
        big = pa.array(big_rows, type=t)
        arrays.append(("big", big, 2048))
        arrays.append(("slice", big.slice(5, 200), 1024))
        for tag, arr, target in arrays:
            for nullable in FLAGS:
                if nullable is False and arr.null_count:
                    continue
                kw = {} if nullable is None else {"nullable": nullable}
                yield f"{name}/{tag}/{nullable}", arr, kw, target


def _flat_cases():
    """(case id, arr, encode kwargs, page_target_bytes) for flat columns."""
    r = random.Random(10172026)
    for name, typ, elem in ELEMENTS:
        arrays = []
        for null_p in (0.0, 0.3):
            for n in (0, 1, 40):
                rows = [None if r.random() < null_p else elem(r) for _ in range(n)]
                arrays.append((f"{null_p}/{n}", pa.array(rows, type=typ), 256))
        big = pa.array([None if r.random() < 0.1 else elem(r) for _ in range(3000)], type=typ)
        arrays.append(("big", big, 2048))
        arrays.append(("slice", big.slice(11, 700), 1024))
        for tag, arr, target in arrays:
            for nullable in FLAGS:
                if nullable is False and arr.null_count:
                    continue
                kw = {} if nullable is None else {"nullable": nullable}
                yield f"{name}/{tag}/{nullable}", arr, kw, target
    # two slices of one text column sharing an FSST symbol table: the
    # second slice encodes with the table the first one trained
    text = pa.array([_text(r) for _ in range(4000)], type=pa.string())
    for i, part in enumerate((text.slice(0, 2000), text.slice(2000))):
        yield f"fsst_cache/{i}", part, {"fsst_cache_key": "text"}, 1 << 20


def _chunk_bytes(chunk) -> bytes:
    meta = (
        chunk.ptype, chunk.logical, chunk.nullable, chunk.elem_nullable, chunk.num_rows,
        chunk.num_nulls, chunk.cardinality, chunk.encodings, chunk.compression,
        chunk.type_length, chunk.input_bytes, chunk.encoded_bytes, chunk.compressed_bytes,
        chunk.sha256, chunk.max_def, chunk.max_rep, chunk.stat_min_num, chunk.stat_max_num,
        chunk.stat_min_bin, chunk.stat_max_bin, chunk.bloom is None,
    )
    out = [repr(meta).encode()]
    for p in chunk.pages:
        out.append(repr((p.kind, p.encoding, p.num_values, p.num_non_null,
                         p.uncompressed_size, p.compressed_size)).encode())
        out.append(p.data)
    if chunk.bloom is not None:
        out.append(chunk.bloom.tobytes())
    return b"".join(out)


# sha256 over every case of the shape, in corpus order
PINNED = {
    ("flat", "auto", "uncompressed"):
        "2ab78dab80000e33f0e704995d6fc3dfbb8ecb115bd816938054017ae4a34552",
    ("flat", "auto", "gzip"):
        "ad3e7b7a4e4645dbdb56115492184264a21b9f22bb7ffa9963b45b719c99c958",
    ("flat", "plain", "uncompressed"):
        "ef00b71e575612924a68a4bd3760a8f3487354118ed49df37fbb8b829b0b7cbf",
    ("flat", "plain", "gzip"):
        "54b6877e9e979055598e3e7b6174eac1a85cb01d2e2609406217c52a79728fdb",
    ("flat", "dict", "uncompressed"):
        "ab4c6f5bb7148c04fe4e6bf01e98765e99df15e41ac16e183c6b932302a3e372",
    ("flat", "dict", "gzip"):
        "526bff1acb9e70ffdeee9d8431aef47c5e1983856ddcd60de0bcfa05ce1b0973",
    ("flat", "reference", "uncompressed"):
        "eb8d98c61838daecffa9034cff53be187589701b243501221776a7d0ec3ce778",
    ("flat", "reference", "gzip"):
        "24ecec7e9717afc81d70338fce3898c12c9208e9249da5bf18497fff61fcea0e",
    ("list", "auto", "uncompressed"):
        "13841b17f4f8df2d804e2d7a237618304a3d2e8b666cbcdec352c33827c6ed5d",
    ("list", "auto", "gzip"):
        "580c2bd8572b523b4c75664419310c5b5bd2075843a2f60945ceeca273fb0e61",
    ("list", "plain", "uncompressed"):
        "532600bde4733538d095fc962e55b4c89a18c619395f43999f3f2c12fadaa21a",
    ("list", "plain", "gzip"):
        "c5e9cc802cc94c30a0d740718904a2cc14c51f9a1d50b294398134ddb236ce2a",
    ("list", "dict", "uncompressed"):
        "2cecf9547b1fd382309991c73cd501156cabcc192e38a47874dc20b5a54cb654",
    ("list", "dict", "gzip"):
        "eeade5f1092a7dd9424dc53e0043a0e510c2a5f302535d31dd439fc8154ca5d0",
    ("list", "reference", "uncompressed"):
        "412118b44dc47ca868d23e4a6ad45b34597b096f3366cbd936d8898c86123786",
    ("list", "reference", "gzip"):
        "05b33ccfc4ef5534cb37f4314420781294c4ab1b0ee2027c0d4c12f261d360b1",
    ("list2", "auto", "uncompressed"):
        "7acc9df2c2c09bcfad6241e766e047c54053ae4326f6410242ddb4d32c664ff8",
    ("list2", "auto", "gzip"):
        "cd592751db767a01b64e826857f91f0ff52bb9a561b08e5c4365b67a3e7c54c5",
    ("list2", "plain", "uncompressed"):
        "9be0f4e219ff287cfa7c10c33580c2ffd328cae0fdfc73403a342c1aed70de37",
    ("list2", "plain", "gzip"):
        "b89c323c98b567162793982b7f7fb93753d94bb11f54c83b39704d44e4dac68f",
    ("list2", "dict", "uncompressed"):
        "7864ea137ce585320d3c50d7ad4d54556e971110da136a8fcf5182302b51864d",
    ("list2", "dict", "gzip"):
        "c331f7277ad0d8d8d488af5b99c82740023e6a090cd0fc35f6a7f025f6424e65",
    ("list2", "reference", "uncompressed"):
        "55624d423b3e89823e2e8f74087b4fcc8808184e121195eb583907c5ed530702",
    ("list2", "reference", "gzip"):
        "7d515e5996feb57f52c370251db45774c662e2c2f1385c5e00c1666dce0a906b",
}

CASES = {"flat": list(_flat_cases()), "list": list(_list_cases()), "list2": list(_list2_cases())}


@pytest.mark.parametrize("shape,policy,compression", sorted(PINNED))
def test_list_pages_byte_identical(shape, policy, compression):
    h = hashlib.sha256()
    fsst_cache = {}  # fresh per digest: the shared table is trained here
    for case_id, arr, kw, target in CASES[shape]:
        if "fsst_cache_key" in kw:
            kw = {**kw, "fsst_cache": fsst_cache}
        chunk = encode_chunk(
            arr, policy=policy, compression=compression, page_target_bytes=target, **kw
        )
        h.update(case_id.encode())
        h.update(_chunk_bytes(chunk))
        if compression == "gzip" and policy == "auto":
            assert decode_chunk(chunk).to_pylist() == arr.to_pylist(), case_id
    assert h.hexdigest() == PINNED[(shape, policy, compression)]
