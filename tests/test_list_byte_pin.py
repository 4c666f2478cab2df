"""Byte pin for flat, list<prim> and list<list<prim>> chunks.

Every page byte and every chunk metadata field that ``encode_chunk``
writes for a fixed corpus is folded into one sha256 per (shape, policy,
compression).  The corpus covers twelve element types, null rows, null
inner lists and null elements, sizes 0 / 1 / 40, a multi-page size that
overflows the 16 KiB dictionary (and takes FSST or DELTA_BYTE_ARRAY
under ``auto`` for text), a sliced input, and every nullability flag
combination that the data does not contradict.  Flat chunks also pin
their bloom filter bytes, two slices of one text column (each trains
its own FSST symbol table: no codec state carries from one chunk to the
next), and every explicit codec policy on the element types it accepts.
The digests pin the wire bytes: a change to how any of these chunks are
encoded must leave them unchanged.
"""

import datetime
import decimal
import hashlib
import random

import pyarrow as pa
import pytest

from parquet4seastar_spark.codecs.pages import CODEC_PTYPES, decode_chunk, encode_chunk, pa_ptype


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
    # two slices of one text column: each trains its own FSST symbol
    # table on its own sample.  The case ids feed every flat digest, so
    # they keep the name they were pinned under.
    text = pa.array([_text(r) for _ in range(4000)], type=pa.string())
    for i, part in enumerate((text.slice(0, 2000), text.slice(2000))):
        yield f"fsst_cache/{i}", part, {}, 1 << 20


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


# physical types each explicit codec policy accepts (the rest: every type)
ACCEPTS = {
    "DELTA_BINARY_PACKED": {"INT32", "INT64"},
    "DELTA_LENGTH_BYTE_ARRAY": {"BYTE_ARRAY"},
    "DELTA_BYTE_ARRAY": {"BYTE_ARRAY"},
    "FSST": {"BYTE_ARRAY"},
    "RLE": {"BOOLEAN"},
    "BYTE_STREAM_SPLIT": {"INT32", "INT64", "FLOAT", "DOUBLE"},
}
EVERY_PTYPE = {"BOOLEAN", "INT32", "INT64", "FLOAT", "DOUBLE", "BYTE_ARRAY", "FIXED_LEN_BYTE_ARRAY"}


def test_codec_table_is_the_expected_one():
    # the package's codec x type table, against this independent copy:
    # PLAIN and RLE_DICTIONARY take every type, the rest what ACCEPTS says
    assert CODEC_PTYPES["PLAIN"] == CODEC_PTYPES["RLE_DICTIONARY"] == EVERY_PTYPE
    rest = {c: set(t) for c, t in CODEC_PTYPES.items() if c not in ("PLAIN", "RLE_DICTIONARY")}
    assert rest == ACCEPTS


# sha256 over every accepted case of the shape, in corpus order
PINNED = {
    ("flat", "auto", "uncompressed"):
        "53c509fabc50778b8f0a224b140df64670b796476e20e0bcd400310ef77cdca2",
    ("flat", "auto", "gzip"):
        "19c23badabfc91b5be11a85c0fab01767561924daae052d3202ca64f43c3fd26",
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
    ("flat", "auto_fast", "uncompressed"):
        "a87a3f4328a6a5fdea0ec9745d3322c6c7f863e7c09f8977c1becb4215ea3e8e",
    ("flat", "auto_fast", "gzip"):
        "04172f3d41e0145a2bf0a4f840c3a74edd0b36ab990c516852d2a15fda4ca419",
    ("flat", "PLAIN", "uncompressed"):
        "ef00b71e575612924a68a4bd3760a8f3487354118ed49df37fbb8b829b0b7cbf",
    ("flat", "PLAIN", "gzip"):
        "54b6877e9e979055598e3e7b6174eac1a85cb01d2e2609406217c52a79728fdb",
    ("flat", "DELTA_BINARY_PACKED", "uncompressed"):
        "d077713b6bd0939e274f706a0a8b316dc22419dad17fa083f4c5f9bd14281cbc",
    ("flat", "DELTA_BINARY_PACKED", "gzip"):
        "77583d543e51b6f3166ff141e95236b57dd62650ee6e83adc5e6c4f7948dfec4",
    ("flat", "DELTA_LENGTH_BYTE_ARRAY", "uncompressed"):
        "56ca73676221e464306a909945b2bf0b514edf1bcd1ad9c7ac0059cd806ab509",
    ("flat", "DELTA_LENGTH_BYTE_ARRAY", "gzip"):
        "349cf1386ad815a90682d0450697a790fbafa9a95b5c2a1a982a19db6d319f9e",
    ("flat", "DELTA_BYTE_ARRAY", "uncompressed"):
        "edf222c5c41aabd14d43573fcb0ff352752d1f61edbed3157b85b7cb9fb89cb3",
    ("flat", "DELTA_BYTE_ARRAY", "gzip"):
        "e5da973f15784f31d78c4faacea56936874b0adad3e208d642d5bfa91c75d3cf",
    ("flat", "FSST", "uncompressed"):
        "47294485a2fbd00bcd6e6afd2eeb710a7c9e3b2fc5bd7dd35ddb28625bf23422",
    ("flat", "FSST", "gzip"):
        "a8c857355225a47c39f84ea2ea4248d45e4a8cb4840acc4a1f45e845111dd908",
    ("flat", "RLE", "uncompressed"):
        "9cb104f1fa942e99be08e6b443a597e23ac17fa5b8dd268807ad27acb5f7dae7",
    ("flat", "RLE", "gzip"):
        "93f6ef529eb76f5ad88e5e7e38d45c8f93d46b039e7b5be5c15d60fdff5af095",
    ("flat", "BYTE_STREAM_SPLIT", "uncompressed"):
        "9102444f24a97967f5c1d5b5aa8d9ba3d2b2f178a70374facaab46a1a7383352",
    ("flat", "BYTE_STREAM_SPLIT", "gzip"):
        "388e6b8284b15e120d6113cd7abf3c3c0419d42fd86d9f7e94c68be96192d7ed",
    ("flat", "RLE_DICTIONARY", "uncompressed"):
        "ab4c6f5bb7148c04fe4e6bf01e98765e99df15e41ac16e183c6b932302a3e372",
    ("flat", "RLE_DICTIONARY", "gzip"):
        "526bff1acb9e70ffdeee9d8431aef47c5e1983856ddcd60de0bcfa05ce1b0973",
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
    accepts = ACCEPTS.get(policy)
    for case_id, arr, kw, target in CASES[shape]:
        if accepts is not None and pa_ptype(arr.type)[0] not in accepts:
            continue
        chunk = encode_chunk(
            arr, policy=policy, compression=compression, page_target_bytes=target, **kw
        )
        h.update(case_id.encode())
        h.update(_chunk_bytes(chunk))
        if compression == "gzip" and policy not in ("plain", "dict", "reference"):
            assert decode_chunk(chunk).to_pylist() == arr.to_pylist(), case_id
    assert h.hexdigest() == PINNED[(shape, policy, compression)]
