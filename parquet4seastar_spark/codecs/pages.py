"""Column-chunk encode/decode: pages, dictionary fallback, codec selection.

This is the Spark-facing equivalent of the reference's
``column_chunk_writer``/``column_chunk_reader`` pair re-architected for
columnar batches:

- A *chunk* is the slice of one column held by one Spark partition (or a
  bounded sub-slice of it).  Pages are produced per ~page_target_bytes of
  value data (caller-driven page sizing, like the reference's manual
  ``flush_page`` -- column_chunk_writer.hh:91-96, examples/example.cc:188-210).
- One page writer (``_write_pages``) and one page reader (``_read_pages``)
  serve every shape.  V1 page layout: [u32-LE rep-level length][RLE rep
  levels] (only when max_rep > 0), [u32-LE def-level length][RLE def
  levels], [value bytes] (column_chunk_writer.hh:98-139).  Values are
  encoded only for def == max_def entries (nulls skipped,
  column_chunk_writer.hh:75-89).
- Every chunk -- flat, list<prim>, list<list<prim>> and every nested
  leaf -- is shredded by the Dremel walker (codecs/dremel.py, with
  per-node OPTIONAL flags for the standard list geometry; a flat column is
  a leaf of its own) and written by one leaf encoder (``_encode_leaf``)
  on record boundaries.  One sizing rule: an entry counts its value
  bytes, plus ~1 B for its levels when the leaf is repeated (max_rep > 0).
- One rule, here alone, maps a top-level column to its chunks
  (``encode_column`` and the ``column_*`` helpers): see "top-level
  columns -> chunks" below.
- One type model.  A leaf's type is decided in one table,
  ``LOGICAL_TYPES`` (leaf logical -> arrow types, physical type, parquet
  ConvertedTypes; 'flba' and 'decimal(p,s)' carry parameters and take one
  helper): the encoder, the decoder, decode planning and the container in
  both directions read it, and an arrow type with no row raises TypeError
  naming it.  A new logical type is one row.  A column's shape is decided
  by one tree rule: ``leaf_spec`` gives every chunk a node path (one 'l'
  per list level of a standard chunk, '' for a flat one, the walker's path
  for a Dremel leaf), ``column_opts`` the column's OPTIONAL flags (a
  standard chunk's from its levels, none for Dremel leaves), and
  ``decode_column``, ``column_type`` and the container writer build the
  same ``dremel.build_tree`` tree from them.
- Every column decodes the same way too (``decode_column``; a chunk is a
  column of one leaf): the page reader yields each leaf's level streams
  and its non-null values, and the walker's assembly
  (``dremel.assemble_tree``) places them -- a flat column is a leaf with
  no list above it.
- Values cross between Arrow and the codec kernels in one *flat form*,
  ``(values, lengths, payload)``: numpy values for the fixed-width types
  (an (n, k) uint8 matrix for FIXED_LEN_BYTE_ARRAY), or int64 lengths and
  a uint8 payload for BYTE_ARRAY.  One conversion pair crosses it:
  ``_leaf_components`` (Arrow -> flat) and ``_physical_array`` (flat -> a
  null-free physical Arrow array).  A dictionary page is just PLAIN values
  (dict_builder/dict_decoder, encoding.cc:710-761, 117-131): written by
  the PLAIN encoder, read by the PLAIN decoder into an Arrow array, and an
  RLE_DICTIONARY page is that array's ``take`` of its codes.  A chunk's
  decoded pages stay flat parts, concatenated in numpy, and Arrow is built
  once per chunk: concatenating per-page Arrow arrays allocates the chunk
  afresh from Arrow's pool, which page-faults where numpy reuses the
  tuned heap (_alloc.py).
- Dictionary fallback: pages are dictionary-encoded until, at a page flush,
  the accumulated dictionary exceeds 16 KiB; subsequent pages are PLAIN and
  the dictionary page (entries first seen up to the overflow page) is still
  written (dict_or_plain_encoder, src/encoding.cc:801-845, threshold :814,
  check :833).
- Codec auto-selection (our generalization of that fallback heuristic):
  candidate codecs are *actually encoded* (cheap ones) or sample-estimated
  (FSST) and the smallest wins; the reference's static policy is always a
  candidate, so the selected total never exceeds the reference-policy size.

Whole-page compression: UNCOMPRESSED, GZIP (zlib, gzip framing) or SNAPPY
(src/compression.cc:29-158, through pyarrow's snappy) -- the primary metric
is encoded bytes, compression is an orthogonal layer.  Pages are a function
of the input, the policy and the compression alone: the C kernels and their
numpy fallbacks write the same bytes.
"""

from __future__ import annotations

import hashlib
import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

from . import delta, dictionary, fsst, plain
from .bitpack import uleb128_decode
from .dremel import Leaf, assemble_tree, build_tree, shred, tree_arrow_type
from .levels import decode_levels_v1, encode_levels_v1

__all__ = ["encode_column", "decode_column", "column_chunks", "column_leaves", "column_type",
           "column_opts", "content_sha", "leaf_prefix", "leaf_spec", "leaf_ptype", "encode_chunk",
           "decode_chunk", "chunk_content_sha", "ba_components", "policy_codec", "logical_row",
           "annotated_logical", "CODEC_PTYPES", "LOGICAL_TYPES", "EncodedChunk", "Page"]

DICT_FALLBACK_THRESHOLD = 16 * 1024  # dict_or_plain_encoder::fallback_threshold

_FIXED_DTYPES = {
    "INT32": np.dtype("<i4"),
    "INT64": np.dtype("<i8"),
    "FLOAT": np.dtype("<f4"),
    "DOUBLE": np.dtype("<f8"),
}

# The one codec x physical type table: codec -> the physical types it
# encodes and decodes.  The reference builds each encoder per type in one
# typed factory (make_value_encoder<T>, encoding.cc:998-1048) with a
# matching decoder dispatch (encoding.cc:527-586), so a wrong pair cannot
# be built; here explicit policies (``policy_codec``), auto's candidates,
# the page reader and the container export all read this table.  A new
# pairing is one row.
_ANY_PTYPE = frozenset(("BOOLEAN", "INT32", "INT64", "FLOAT", "DOUBLE", "BYTE_ARRAY", "FIXED_LEN_BYTE_ARRAY"))
CODEC_PTYPES = {
    "PLAIN": _ANY_PTYPE,
    "RLE_DICTIONARY": _ANY_PTYPE,
    "DELTA_BINARY_PACKED": frozenset(("INT32", "INT64")),
    "DELTA_LENGTH_BYTE_ARRAY": frozenset(("BYTE_ARRAY",)),
    "DELTA_BYTE_ARRAY": frozenset(("BYTE_ARRAY",)),
    "FSST": frozenset(("BYTE_ARRAY",)),
    "RLE": frozenset(("BOOLEAN",)),
    "BYTE_STREAM_SPLIT": frozenset(("INT32", "INT64", "FLOAT", "DOUBLE")),
}

# The one logical-type table: leaf logical -> (its arrow types, physical
# type, parquet ConvertedTypes).  The reference checks every logical ->
# physical pairing in one place (logical_type.cc:27-120); here the encoder
# (``pa_ptype_scalar``), the decoder and decode planning (``logical_row``)
# and the container in both directions (``parquet_file.leaf_node``, and
# ``annotated_logical`` for the reader) all read this table.  The first
# arrow type is the one a decode gives and the first ConvertedType the one
# an export writes; the others are read as the same logical.  The two
# logicals with parameters, 'flba' and 'decimal(p,s)', take one helper
# (``_param_row``).  A new logical type is one row.
LOGICAL_TYPES = {
    "bool": ((pa.bool_(),), "BOOLEAN", ()),
    "int32": ((pa.int32(),), "INT32", ()),
    "int64": ((pa.int64(),), "INT64", ()),
    "float": ((pa.float32(),), "FLOAT", ()),
    "double": ((pa.float64(),), "DOUBLE", ()),
    "string": ((pa.string(), pa.large_string()), "BYTE_ARRAY", (0, 4, 19)),  # UTF8; ENUM, JSON
    "binary": ((pa.binary(), pa.large_binary()), "BYTE_ARRAY", ()),
    "date": ((pa.date32(),), "INT32", (6,)),  # DATE annotates INT32
    "timestamp_us": ((pa.timestamp("us"),), "INT64", (10,)),  # TIMESTAMP_MICROS on INT64 (logical_type.cc:47)
}
_BY_ARROW = {t: logical for logical, (types, _, _) in LOGICAL_TYPES.items() for t in types}
_BY_ANNOTATION = {
    (ptype, c): logical for logical, (_, ptype, convs) in LOGICAL_TYPES.items() for c in convs or (None,)
}
DECIMAL = 5  # ConvertedType DECIMAL


@dataclass
class Page:
    kind: str  # 'dict' | 'data'
    encoding: str  # a CODEC_PTYPES codec (dictionary pages: PLAIN)
    num_values: int  # level count (rows) for data pages; entries for dict page
    num_non_null: int
    uncompressed_size: int
    compressed_size: int
    data: bytes


@dataclass
class EncodedChunk:
    ptype: str  # physical type of the LEAF values
    logical: str  # flat: 'string'|'binary'|'int32'|...; nested: 'list<elem>'
    nullable: bool
    num_rows: int
    num_nulls: int
    cardinality: int
    encodings: list[str]
    compression: str
    type_length: int = 0
    pages: list[Page] = field(default_factory=list)
    input_bytes: int = 0  # uncompressed logical bytes (PLAIN-equivalent size)
    encoded_bytes: int = 0  # sum of page uncompressed sizes (post-encoding)
    compressed_bytes: int = 0
    sha256: str = ""
    # Dremel level geometry (reader_schema.cc:79-93 / file_writer.hh:50-81):
    # flat optional column -> (1, 0); list<prim> -> max_rep = 1 and
    # max_def = outer_optional + 1 (repeated) + elem_optional; list<list>
    # adds one repeated level and the inner list's optional level
    max_def: int = -1  # -1: derive from `nullable` (flat back-compat)
    max_rep: int = 0
    elem_nullable: bool = False
    # chunk statistics for scan pruning (beyond the reference: it never
    # writes ColumnMetaData statistics).  Numeric bounds are ulp-widened so
    # double storage stays conservative; byte bounds are 16-byte prefixes
    # with the upper bound truncate-and-incremented (parquet-style).
    stat_min_num: float | None = None
    stat_max_num: float | None = None
    stat_min_bin: bytes | None = None
    stat_max_bin: bytes | None = None
    # equality-pruning bloom filter (int64[bloom.BLOOM_WORDS] or None):
    # min/max stats cannot prune point lookups on unsorted data; the bloom
    # proves ABSENCE of a literal, so prune_chunks(eq=...) can drop chunks
    # the range test keeps.  Built for flat key-like columns only (see
    # codecs/bloom.py caps).
    bloom: np.ndarray | None = None


def pa_ptype(t: pa.DataType) -> tuple[str, str]:
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        # up to TWO levels of repetition (standard parquet 3-level LIST,
        # writer_schema.cc:30-134); ptype reports the LEAF physical type
        elem = t.value_type
        if pa.types.is_list(elem) or pa.types.is_large_list(elem):
            inner = elem.value_type
            if pa.types.is_nested(inner):
                raise TypeError(
                    f"encode_chunk caps at list<list<primitive>> (standard "
                    f"single-spec geometry); use encode_column for {t}"
                )
            elem_ptype, elem_logical = pa_ptype_scalar(inner)
            return elem_ptype, f"list<list<{elem_logical}>>"
        if pa.types.is_nested(elem):
            raise TypeError(
                f"encode_chunk handles primitive list elements; use "
                f"encode_column for {t}"
            )
        elem_ptype, elem_logical = pa_ptype_scalar(elem)
        return elem_ptype, f"list<{elem_logical}>"
    return pa_ptype_scalar(t)


def _decimal_byte_width(precision: int) -> int:
    """Minimal FLBA width holding 10^p - 1 in two's complement (the
    reference's DECIMAL/FLBA validation rule, logical_type.cc:94-115)."""
    w = 1
    while (1 << (8 * w - 1)) <= 10**precision - 1:
        w += 1
    return w


def pa_ptype_scalar(t: pa.DataType) -> tuple[str, str]:
    """(physical type, leaf logical) of a primitive arrow type, from
    ``LOGICAL_TYPES``; a type with no row raises TypeError naming it."""
    if pa.types.is_decimal128(t):
        logical = f"decimal({t.precision},{t.scale})"
    elif pa.types.is_fixed_size_binary(t):
        logical = "flba"
    else:  # a timestamp's zone is not stored: it reads back naive
        logical = _BY_ARROW.get(pa.timestamp(t.unit) if pa.types.is_timestamp(t) else t)
        if logical is None:
            raise TypeError(f"unsupported arrow type for chunk encoding: {t}")
    return logical_row(logical)[1], logical


def _param_row(logical: str, type_length: int) -> tuple[pa.DataType, str, int | None]:
    """The ``LOGICAL_TYPES`` row of a logical with parameters: 'flba' is
    binary(type_length) on FIXED_LEN_BYTE_ARRAY; 'decimal(p,s)' is DECIMAL
    on INT32 up to 9 digits, INT64 up to 18, else FIXED_LEN_BYTE_ARRAY
    (logical_type.cc:94-115)."""
    if logical == "flba":
        return pa.binary(type_length), "FIXED_LEN_BYTE_ARRAY", None
    p, s = map(int, logical[8:-1].split(","))
    return pa.decimal128(p, s), "INT32" if p <= 9 else "INT64" if p <= 18 else "FIXED_LEN_BYTE_ARRAY", DECIMAL


def logical_row(logical: str, type_length: int = 0) -> tuple[pa.DataType, str, int | None]:
    """(arrow type a decode gives, physical type, ConvertedType an export
    writes) of a leaf logical: its ``LOGICAL_TYPES`` row."""
    if logical not in LOGICAL_TYPES:
        return _param_row(logical, type_length)
    types, ptype, convs = LOGICAL_TYPES[logical]
    return types[0], ptype, next(iter(convs), None)


def annotated_logical(ptype: str, converted: int | None, precision=None, scale=None) -> str:
    """The leaf logical a parquet leaf of physical type ``ptype`` and
    ConvertedType ``converted`` reads as: DECIMAL with a precision on any
    physical type (BYTE_ARRAY too, logical_type.cc:94-115), 'flba' on
    FIXED_LEN_BYTE_ARRAY, else the ``LOGICAL_TYPES`` row of the pair, or
    the physical type's bare row (an annotation with no row reads as its
    storage)."""
    if converted == DECIMAL and precision is not None:
        return f"decimal({precision},{scale or 0})"
    if ptype == "FIXED_LEN_BYTE_ARRAY":
        return "flba"
    return _BY_ANNOTATION.get((ptype, converted)) or _BY_ANNOTATION[ptype, None]


def flba_width(t: pa.DataType) -> int:
    """chunk.type_length of a leaf of arrow type ``t``: its
    FIXED_LEN_BYTE_ARRAY width (decimals past 18 digits included), else 0."""
    if pa.types.is_decimal(t):
        return _decimal_byte_width(t.precision) if t.precision > 18 else 0
    return t.byte_width if pa.types.is_fixed_size_binary(t) else 0


def ba_components(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(lengths int64[n], payload uint8[]) for a null-free binary/string array."""
    if len(arr) == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.uint8)
    if pa.types.is_string(arr.type) or pa.types.is_binary(arr.type):
        arr = arr.cast(pa.large_binary())
    elif pa.types.is_large_string(arr.type):
        arr = arr.cast(pa.large_binary())
    buffers = arr.buffers()
    offsets = np.frombuffer(buffers[1], dtype=np.int64, count=len(arr) + 1, offset=arr.offset * 8)
    data = np.frombuffer(buffers[2], dtype=np.uint8) if buffers[2] is not None else np.zeros(0, dtype=np.uint8)
    lengths = np.diff(offsets)
    payload = data[offsets[0] : offsets[-1]]
    return lengths.astype(np.int64), payload


def _decimal_to_physical(arr: pa.Array, ptype: str) -> pa.Array:
    """decimal128 -> unscaled INT32/INT64 values, or big-endian
    two's-complement FLBA (the parquet wire form for DECIMAL on FLBA)."""
    n = len(arr)
    if arr.offset:
        arr = arr.take(np.arange(n, dtype=np.int64))  # rebase sliced input
    p = arr.type.precision
    validity = arr.buffers()[0]
    raw = np.frombuffer(arr.buffers()[1], dtype=np.int64, count=2 * n).reshape(n, 2)
    if ptype == "INT32":
        # |unscaled| < 10^9 < 2^31: the low word reinterpreted signed IS it
        vals = raw[:, 0].astype(np.int32)
        return pa.Array.from_buffers(pa.int32(), n, [validity, pa.py_buffer(vals.tobytes())])
    if ptype == "INT64":
        return pa.Array.from_buffers(
            pa.int64(), n, [validity, pa.py_buffer(np.ascontiguousarray(raw[:, 0]).tobytes())]
        )
    w = _decimal_byte_width(p)
    le16 = np.frombuffer(arr.buffers()[1], dtype=np.uint8, count=16 * n).reshape(n, 16)
    be = le16[:, ::-1][:, 16 - w :]  # big-endian two's complement, w bytes
    return pa.Array.from_buffers(
        pa.binary(w), n, [validity, pa.py_buffer(np.ascontiguousarray(be).tobytes())]
    )


def _to_physical(arr: pa.Array, ptype: str) -> pa.Array:
    """Logical values -> the physical values pages store: timestamp[us] ->
    INT64, date32 -> INT32, decimal -> _decimal_to_physical."""
    t = arr.type
    if pa.types.is_timestamp(t):
        return arr.cast(pa.int64())
    if pa.types.is_date32(t):
        return arr.cast(pa.int32())
    if pa.types.is_decimal(t):
        return _decimal_to_physical(arr, ptype)
    return arr


def _int_to_decimal(vals: np.ndarray, t: pa.Decimal128Type) -> pa.Array:
    n = len(vals)
    pairs = np.empty((n, 2), dtype=np.int64)
    pairs[:, 0] = vals.astype(np.int64)
    pairs[:, 1] = np.where(pairs[:, 0] < 0, np.int64(-1), np.int64(0))
    return pa.Array.from_buffers(t, n, [None, pa.py_buffer(pairs.tobytes())])


def _varbin_to_decimal(lens: np.ndarray, payload: np.ndarray, t: pa.Decimal128Type) -> pa.Array:
    """Big-endian two's complement of any lengths -> decimal128: DECIMAL on
    BYTE_ARRAY (4th mapping, logical_type.cc:94-115), and on
    FIXED_LEN_BYTE_ARRAY with every length equal."""
    if (lens > 16).any():
        raise ValueError(f"{t}: a stored value is wider than 16 bytes")
    n = len(lens)
    if n and (lens == lens[0]).all():
        # one width k (FLBA): the payload is an (n, k) matrix, right-aligned
        # by one slice assignment; the bytes left of it take the sign of
        # its first byte
        k = int(lens[0])
        vals = payload.reshape(n, k)
        be16 = np.empty((n, 16), dtype=np.uint8)
        be16[:, 16 - k:] = vals
        be16[:, : 16 - k] = (vals[:, :1] >= 128) * np.uint8(255) if k else 0
    else:
        # each value right-aligned in 16 bytes: the mask's cells, read row
        # by row, are the payload in order; the cells left of a value take
        # its sign
        own = np.arange(16) >= (16 - lens)[:, None]
        be16 = np.zeros(own.shape, dtype=np.uint8)
        be16[own] = payload
        neg = be16[np.arange(n), np.minimum(16 - lens, 15)] >= 128  # the first byte (0 when empty)
        be16[~own & neg[:, None]] = 255
    return pa.Array.from_buffers(t, len(lens), [None, pa.py_buffer(np.ascontiguousarray(be16[:, ::-1]).tobytes())])


def _compress(data: bytes, compression: str) -> bytes:
    if compression == "uncompressed":
        return data
    if compression == "gzip":
        # gzip FRAMING (wbits=31), the parquet GZIP codec's wire format --
        # our pages and real .parquet files share one representation
        co = zlib.compressobj(6, zlib.DEFLATED, 31)
        return co.compress(bytes(data)) + co.flush()
    if compression == "snappy":
        return pa.compress(data, "snappy", asbytes=True)
    raise ValueError(f"unsupported compression: {compression}")


def _decompress(data: bytes, compression: str) -> bytes:
    if compression == "uncompressed":
        return data
    if compression == "gzip":
        # wbits=47 auto-detects gzip or zlib frames (reads both the current
        # format and pages written before the framing switch)
        return zlib.decompress(bytes(data), 47)
    if compression == "snappy":
        # the size comes from the stream's own ULEB128 preamble (a bad one
        # raises VarintError, a ValueError): given a larger size,
        # pa.decompress returns trailing garbage, not an error
        size = uleb128_decode(data, 0)[0]
        try:
            return pa.decompress(data, size, "snappy", asbytes=True)
        except OSError as e:
            raise ValueError(f"snappy: corrupt stream ({e})") from None
    raise ValueError(f"unsupported compression: {compression}")


# ---------------------------------------------------------------------------
# value payload encode/decode per codec


def _encode_values(encoding: str, ptype: str, values, lengths=None, payload=None, fsst_table=None) -> bytes:
    """Encode the non-null values of one page."""
    if encoding == "PLAIN":
        if ptype == "BOOLEAN":
            return plain.plain_encode_bool(values)
        if ptype == "BYTE_ARRAY":
            return plain.plain_encode_byte_array(lengths, payload.tobytes())
        if ptype == "FIXED_LEN_BYTE_ARRAY":
            return plain.plain_encode_flba(values.tobytes())
        return plain.plain_encode_fixed(values)
    if encoding == "DELTA_BINARY_PACKED":
        nbytes = 4 if ptype == "INT32" else 8
        return delta.dbp_encode(values, nbytes)
    if encoding == "DELTA_LENGTH_BYTE_ARRAY":
        return delta.dlba_encode(lengths.astype(np.int32), payload.tobytes())
    if encoding == "DELTA_BYTE_ARRAY":
        return delta.delta_byte_array_encode(lengths, payload)
    if encoding == "FSST":
        # symbol table trained once per chunk and shared across pages
        # (training costs ~6-10 ms; per-page training caps throughput)
        blob = fsst.fsst_encode(payload, fsst_table)
        return delta.dbp_encode(lengths.astype(np.int32), 4) + blob
    if encoding == "RLE":  # boolean RLE
        # the spec prefixes RLE-encoded DATA values (booleans) with their
        # byte length as u32-LE (Encodings.md; levels carry the prefix only
        # in V1 pages).  Interop-fuzz finding: pyarrow V2 boolean pages use
        # exactly this layout, and pyarrow equally expects it when reading
        # our exports.  It is the V1 level stream of width 1.
        return encode_levels_v1(values, 1)
    if encoding == "BYTE_STREAM_SPLIT":
        return delta.byte_stream_split_encode(values)
    raise ValueError(f"unknown value encoding {encoding}")


def _decode_values(encoding: str, ptype: str, buf, n: int, type_length: int = 0):
    """Decode the n non-null values of one page into the flat form:
    (values, None, None), or (None, lengths, payload) for BYTE_ARRAY."""
    values = lengths = payload = None
    if encoding == "PLAIN":
        if ptype == "BOOLEAN":
            values = plain.plain_decode_bool(buf, n)
        elif ptype == "BYTE_ARRAY":
            lengths, payload = plain.plain_decode_byte_array(buf, n)
        elif ptype == "FIXED_LEN_BYTE_ARRAY":
            raw = plain.plain_decode_flba(bytes(buf), type_length, n)
            values = np.frombuffer(raw, dtype=np.uint8).reshape(n, type_length)
        else:
            values = plain.plain_decode_fixed(bytes(buf), _FIXED_DTYPES[ptype], n)
    elif encoding == "DELTA_BINARY_PACKED":
        nbytes = 4 if ptype == "INT32" else 8
        values, _ = delta.dbp_decode(buf, nbytes)
        if len(values) != n:
            raise ValueError("DELTA_BINARY_PACKED count mismatch")
    elif encoding == "DELTA_LENGTH_BYTE_ARRAY":
        lengths, payload = delta.dlba_decode(buf, n)
    elif encoding == "DELTA_BYTE_ARRAY":
        lengths, payload = delta.delta_byte_array_decode_components(buf, n)
    elif encoding == "FSST":
        lengths, pos = delta.dbp_decode(buf, 4)
        if len(lengths) != n:
            raise ValueError("FSST count mismatch")
        payload = fsst.fsst_decode(memoryview(buf)[pos:])
        if len(payload) != int(lengths.astype(np.int64).sum()):
            raise ValueError("FSST payload length mismatch")
    elif encoding == "RLE":  # boolean RLE: a width-1 V1 level stream
        values = decode_levels_v1(buf, 1, n)[0].astype(bool)
    elif encoding == "BYTE_STREAM_SPLIT":
        values = delta.byte_stream_split_decode(bytes(buf), _FIXED_DTYPES[ptype], n)
    else:
        raise ValueError(f"unknown value encoding {encoding}")
    if lengths is not None:
        return None, lengths.astype(np.int64), np.frombuffer(payload, dtype=np.uint8)
    return values, None, None


# ---------------------------------------------------------------------------


def _page_boundaries(row_bytes: np.ndarray, target: int) -> np.ndarray:
    """Row indices where pages end (ends with n; none when n is 0)."""
    n = len(row_bytes)
    cum = np.cumsum(row_bytes, dtype=np.int64)
    ends = []
    start = 0
    base = 0
    while start < n:
        # first row where page exceeds target
        end = int(np.searchsorted(cum, base + target, side="left")) + 1
        end = max(end, start + 1)
        end = min(end, n)
        ends.append(end)
        base = int(cum[end - 1])
        start = end
    return np.array(ends, dtype=np.int64)


def _chunk_bloom(chunk: EncodedChunk, ptype: str, values, lengths, payload) -> None:
    """Fill the equality-pruning bloom from the non-null flat values."""
    from . import bloom as _bloom

    if ptype in ("INT32", "INT64") and values is not None and 0 < len(values) <= _bloom.MAX_BLOOM_VALUES:
        h1, h2 = _bloom.int_hashes(values)
    elif (
        ptype == "BYTE_ARRAY"
        and lengths is not None
        and 0 < len(lengths) <= _bloom.MAX_BLOOM_VALUES
        and int(lengths.max()) <= _bloom.MAX_BLOOM_VALUE_LEN
    ):
        h1, h2 = _bloom.bytes_hashes(lengths, payload)
    else:
        return
    chunk.bloom = _bloom.build_bloom(h1, h2)


def _chunk_stats(chunk: EncodedChunk, ptype: str, values, lengths, payload) -> None:
    """Fill conservative min/max stats from the non-null flat values."""
    if ptype in _FIXED_DTYPES and values is not None and len(values):
        # NaN would poison min/max (and NaN bounds make every range test
        # false -> wrong pruning): skip stats when any value is NaN
        if values.dtype.kind == "f" and bool(np.isnan(values).any()):
            return
        lo = float(values.min())
        hi = float(values.max())
        # double can't represent every int64: widen one ulp each way so the
        # stored bounds always contain the true range (past +-DBL_MAX the
        # bound is +-inf, which is right: no overflow warning)
        with np.errstate(over="ignore"):
            chunk.stat_min_num = float(np.nextafter(lo, -np.inf))
            chunk.stat_max_num = float(np.nextafter(hi, np.inf))
    elif ptype == "BYTE_ARRAY" and lengths is not None and len(lengths):
        k = min(16, int(lengths.max()))
        if k == 0:  # every value is the empty string: exact degenerate bounds
            chunk.stat_min_bin = b""
            chunk.stat_max_bin = b""
            return
        lo_i, hi_i, min_len = plain.byte_array_extremes(lengths, payload, k)
        offs = np.zeros(len(lengths) + 1, dtype=np.int64)
        np.cumsum(lengths, out=offs[1:])
        # lower bound: the shortest prefix among the values tied with the
        # minimum (see byte_array_extremes), so it is <= every tied value
        chunk.stat_min_bin = payload[offs[lo_i] : offs[lo_i] + min_len].tobytes()
        # upper bound: ALWAYS truncate-and-increment (strictly greater than
        # every value sharing the prefix -- covers embedded-NUL ties and
        # >16-byte values alike); an all-0xFF prefix can't increment -> no
        # upper stat, never prune on that side
        hi_prefix = bytearray(payload[offs[hi_i] : offs[hi_i] + min(k, int(lengths[hi_i]))])
        for j in range(len(hi_prefix) - 1, -1, -1):
            if hi_prefix[j] != 0xFF:
                hi_prefix[j] += 1
                chunk.stat_max_bin = bytes(hi_prefix[: j + 1])
                break


def _plain_size(ptype: str, n: int, lengths=None, type_length: int = 0) -> int:
    if ptype == "BYTE_ARRAY":
        return int(lengths.sum()) + 4 * n
    if ptype == "BOOLEAN":
        return (n + 7) // 8
    if ptype == "FIXED_LEN_BYTE_ARRAY":
        return type_length * n
    return _FIXED_DTYPES[ptype].itemsize * n


def _leaf_components(nn_arr: pa.Array, ptype: str):
    """Null-free physical leaf array -> (values, lengths, payload,
    per-value bytes, type_length): the flat form the codec kernels consume.
    With its inverse ``_physical_array``, the one conversion between Arrow
    and the flat form."""
    lengths = payload = values = None
    type_length = 0
    if ptype == "BYTE_ARRAY":
        lengths, payload = ba_components(nn_arr)
        nn_row_bytes = lengths + 4
    elif ptype == "FIXED_LEN_BYTE_ARRAY":
        type_length = nn_arr.type.byte_width
        buf = nn_arr.buffers()[1]
        values = np.frombuffer(buf, dtype=np.uint8, count=len(nn_arr) * type_length,
                               offset=nn_arr.offset * type_length).reshape(-1, type_length)
        nn_row_bytes = np.full(len(nn_arr), type_length, dtype=np.int64)
    elif ptype == "BOOLEAN":
        values = nn_arr.to_numpy(zero_copy_only=False).astype(bool)
        nn_row_bytes = np.full(len(values), 1, dtype=np.int64)
    else:
        values = np.ascontiguousarray(nn_arr.to_numpy(zero_copy_only=False), dtype=_FIXED_DTYPES[ptype])
        nn_row_bytes = np.full(len(values), _FIXED_DTYPES[ptype].itemsize, dtype=np.int64)
    return values, lengths, payload, nn_row_bytes, type_length


def _physical_array(ptype: str, values, lengths, payload) -> pa.Array:
    """Flat form -> null-free physical arrow array, the inverse of
    ``_leaf_components``: large_binary for BYTE_ARRAY, binary(k) for
    FIXED_LEN_BYTE_ARRAY (k = ``values.shape[1]``, the flat form's (n, k)
    bytes), else the values' own type.  The flat buffers are not copied."""
    if ptype == "BYTE_ARRAY":
        offsets = np.zeros(len(lengths) + 1, dtype=np.int64)
        np.cumsum(lengths, out=offsets[1:])
        buffers = [None, pa.py_buffer(offsets), pa.py_buffer(np.ascontiguousarray(payload))]
        return pa.Array.from_buffers(pa.large_binary(), len(lengths), buffers)
    if ptype == "FIXED_LEN_BYTE_ARRAY":
        buffers = [None, pa.py_buffer(np.ascontiguousarray(values))]
        return pa.Array.from_buffers(pa.binary(values.shape[1]), len(values), buffers)
    return pa.array(values)


def encode_chunk(
    arr: pa.Array,
    *,
    policy: str = "auto",
    page_target_bytes: int = 1 << 20,
    compression: str = "uncompressed",
    nullable: bool | None = None,
    elem_nullable: bool | None = None,
) -> EncodedChunk:
    """Encode one column chunk into pages.

    policy: 'auto' (codec auto-selection, never worse than 'reference'),
            'auto_fast' (auto without FSST and DELTA_BYTE_ARRAY),
            'reference' (the reference's static policy: DELTA_BINARY_PACKED
            for INT32/INT64, else RLE_DICTIONARY with the 16 KiB fallback
            to PLAIN; see BASELINE.md), 'plain' (PLAIN, the baseline),
            'dict' (RLE_DICTIONARY, no fallback), or an explicit codec name
            that ``CODEC_PTYPES`` pairs with the chunk's physical type; any
            other pair raises ValueError (``policy_codec``).  On BOOLEAN,
            'dict' and 'reference' write a dictionary page: the pages
            table reads it, but ``write_parquet_file`` refuses the chunk
            (standard readers do not implement dictionary-encoded
            BOOLEAN), so export such a column under 'plain' or 'auto'.

    Every shape takes one path: ``shred(arr, opts)`` (opts = token path
    -> OPTIONAL, from the flags and the data), then the leaf encoder the
    nested '#g' leaves use.  Flat columns keep max_def <= 1, max_rep = 0;
    list<prim> and list<list<prim>> columns take the standard parquet list
    geometry.  ``nullable`` / ``elem_nullable`` (list<prim> only) default
    to whether the data holds nulls; a flag of False over data holding
    nulls raises.
    """
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    ptype, logical = pa_ptype(arr.type)  # caps at list<list<primitive>>
    spine = _list_spine(arr)
    paths = _list_paths(len(spine) - 1)
    opts = {path: level.null_count > 0 for path, level in zip(paths, spine)}
    if nullable is not None:
        opts[""] = nullable
    if elem_nullable is not None and len(spine) == 2:
        opts["l"] = elem_nullable
    (leaf,) = shred(arr, opts)
    return _encode_leaf(
        leaf, _structure_sha(spine), policy=policy, page_target_bytes=page_target_bytes,
        compression=compression, logical=logical, nullable=opts[""], num_nulls=arr.null_count,
        elem_nullable=len(spine) > 1 and opts[paths[-1]],
    )


def _write_pages(
    chunk: EncodedChunk, policy, values, lengths, payload, def_, rep, level_ends, nn_page_ends
) -> None:
    """Plan the codecs, then write the chunk's dictionary page and V1 data
    pages: [u32+rep levels (iff max_rep > 0)][u32+def levels][values]
    (column_chunk_writer.hh:98-139).  Data page i holds the level entries
    up to ``level_ends[i]`` and the plan's i-th value body, the encoded
    values up to ``nn_page_ends[i]``."""
    compression = chunk.compression
    per_page_enc, dict_page, cardinality, bodies = _plan_codecs(
        policy, chunk.ptype, values, lengths, payload, nn_page_ends, compression
    )
    chunk.cardinality = cardinality
    if dict_page is not None:
        comp = _compress(dict_page, compression)
        chunk.pages.append(Page("dict", "PLAIN", cardinality, cardinality, len(dict_page), len(comp), comp))

    nn_start = 0
    lvl_start = 0
    for pi, body in enumerate(bodies):
        lvl_end = int(level_ends[pi])
        nn_end = int(nn_page_ends[pi])
        head = b""
        if chunk.max_rep > 0:
            head = encode_levels_v1(rep[lvl_start:lvl_end], chunk.max_rep)
        head += encode_levels_v1(def_[lvl_start:lvl_end], chunk.max_def)
        page_raw = head + body
        comp = _compress(page_raw, compression)
        chunk.pages.append(
            Page("data", per_page_enc[pi], lvl_end - lvl_start, nn_end - nn_start, len(page_raw), len(comp), comp)
        )
        nn_start = nn_end
        lvl_start = lvl_end

    chunk.encodings = sorted({p.encoding for p in chunk.pages if p.kind == "data"})
    chunk.encoded_bytes = sum(p.uncompressed_size for p in chunk.pages)
    chunk.compressed_bytes = sum(p.compressed_size for p in chunk.pages)


# ---------------------------------------------------------------------------
# list columns: the standard parquet LIST geometry on the Dremel level model
#
# Level semantics match the reference's level computation (REPEATED =>
# ++def,++rep; OPTIONAL => ++def -- reader_schema.cc:79-93,
# file_writer.hh:50-81) and its record assembly contract
# (record_reader.hh:469-505).  For list<prim> with an optional outer field:
#   def 0            = list is NULL
#   def d_empty      = list present but empty          (d_empty = outer opt)
#   def max_def - 1  = element slot, element NULL      (iff elem optional)
#   def max_def      = element value present
#   rep 0 starts a new row; rep 1 continues the current list.
# list<list<prim>> nests one more list level (rep 1 starts an inner list,
# rep 2 continues it).  A list level is OPTIONAL iff it holds nulls (the
# outer one also per ``nullable``), the element iff ``elem_nullable`` (or
# the data, for list<list>).


def _list_spine(arr: pa.Array) -> list[pa.Array]:
    """[arr, its flattened elements, ...] down to the primitive leaf."""
    spine = [arr]
    while pa.types.is_list(spine[-1].type) or pa.types.is_large_list(spine[-1].type):
        spine.append(spine[-1].flatten())
    return spine


def _list_paths(n_lists: int) -> list[str]:
    """Dremel token paths of the list nodes and the leaf: ['', 'l', ...]."""
    return [".".join(["l"] * i) for i in range(n_lists + 1)]


# ---------------------------------------------------------------------------
# content sha256 (lineage): for each list level its validity bits and int64
# lengths, then the leaf validity bits and the physical non-null values


def _valid_bits(arr: pa.Array) -> bytes:
    valid = np.ones(len(arr), dtype=bool) if arr.null_count == 0 else np.asarray(arr.is_valid())
    return np.packbits(valid, bitorder="little").tobytes()


def _structure_sha(spine: list[pa.Array]):
    """sha256 fed with the structural streams of a _list_spine (a flat
    array is a spine of one: just its validity bits)."""
    h = hashlib.sha256()
    for level in spine[:-1]:
        h.update(_valid_bits(level))
        lens = pa.compute.list_value_length(level)
        h.update(np.asarray(lens.fill_null(0) if level.null_count else lens).astype(np.int64).tobytes())
    h.update(_valid_bits(spine[-1]))
    return h


def _sha_update_values(h, ptype, values, lengths, payload) -> None:
    if ptype == "BYTE_ARRAY":
        h.update(np.ascontiguousarray(lengths, dtype=np.int64).tobytes())
        h.update(np.ascontiguousarray(payload).tobytes())
    elif ptype == "BOOLEAN":
        h.update(np.packbits(values, bitorder="little").tobytes())
    else:
        h.update(np.ascontiguousarray(values).tobytes())


def chunk_content_sha(arr: pa.Array) -> str:
    """Canonical content sha256 of an arrow array -- byte-identical to the
    sha256 encode_chunk records in lineage for the same values.  Used by the
    lineage audit (decode -> recompute -> compare) to detect bit rot or
    page corruption without the source table."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    ptype, _ = pa_ptype(arr.type)
    spine = _list_spine(arr)
    h = _structure_sha(spine)
    leaf = spine[-1]
    leaf = _to_physical(leaf.drop_null() if leaf.null_count else leaf, ptype)
    values, lengths, payload, _, _ = _leaf_components(leaf, ptype)
    _sha_update_values(h, ptype, values, lengths, payload)
    return h.hexdigest()


# ---------------------------------------------------------------------------
# codec planning


def _dict_plan(ptype, values, lengths, payload, nn_page_ends, *, fallback: bool):
    """The dictionary plan, its bodies lazy: every page RLE_DICTIONARY over
    the whole dictionary, or with ``fallback`` the 16 KiB split -- PLAIN
    after the page at whose flush the dictionary outgrows
    DICT_FALLBACK_THRESHOLD, the dictionary page holding the entries first
    seen by then.  A chunk with no values plans PLAIN pages."""
    codes, dict_arr = dictionary.build_dict(_physical_array(ptype, values, lengths, payload))
    card = len(dict_arr)
    if card == 0:
        return _plan("PLAIN", ptype, values, lengths, payload, nn_page_ends)

    # first-occurrence position of each entry; entries sorted by code ARE
    # sorted by first_pos (insertion order), so searchsorted gives the number
    # of entries seen by each page flush.
    first_pos = np.full(card, len(codes), dtype=np.int64)
    np.minimum.at(first_pos, codes, np.arange(len(codes), dtype=np.int64))
    entries_by_page = np.searchsorted(first_pos, nn_page_ends, side="left")
    n_pages = len(nn_page_ends)
    per_page = ["RLE_DICTIONARY"] * n_pages

    if fallback:
        # per-entry plain size; dict size after each page flush = bytes of
        # entries first seen by then
        cum_entry_sizes = np.cumsum(_leaf_components(dict_arr, ptype)[3], dtype=np.int64)
        dict_size_at_page = np.where(entries_by_page > 0, cum_entry_sizes[entries_by_page - 1], 0)
        over = np.flatnonzero(dict_size_at_page > DICT_FALLBACK_THRESHOLD)
        if len(over):
            fb = int(over[0])  # page at whose flush the overflow is detected
            per_page = ["RLE_DICTIONARY" if i <= fb else "PLAIN" for i in range(n_pages)]
            dict_arr = dict_arr.slice(0, int(entries_by_page[fb]))
    bodies = _page_bodies(per_page, ptype, values, lengths, payload, nn_page_ends, codes, entries_by_page)
    # the dictionary page is the entries' PLAIN values (dict_builder,
    # encoding.cc:710-761)
    dict_page = _encode_values("PLAIN", ptype, *_leaf_components(dict_arr, ptype)[:3])
    return per_page, dict_page, len(dict_arr), bodies


def _plan_codecs(policy, ptype, values, lengths, payload, nn_page_ends, compression="uncompressed"):
    """Resolve the policy into the chunk's plan, one shape for every
    policy: (per-page encodings, dictionary page bytes or None,
    cardinality, the value body of each page)."""
    args = (ptype, values, lengths, payload, nn_page_ends)
    enc = policy_codec(policy, ptype)
    if enc is None:
        return _auto_plan(*args, allow_fsst=policy == "auto", compression=compression)
    if enc == "RLE_DICTIONARY":
        return _dict_plan(*args, fallback=policy == "reference")
    return _plan(enc, *args)


def policy_codec(policy: str, ptype: str) -> str | None:
    """The codec a policy writes on values of physical type ``ptype``, or
    None for the auto profiles ('auto', 'auto_fast'): 'plain' is PLAIN,
    'dict' RLE_DICTIONARY, a codec name is itself, and 'reference' (the
    reference's static schema policy) is DELTA_BINARY_PACKED where
    ``CODEC_PTYPES`` takes it, else RLE_DICTIONARY with the 16 KiB
    fallback.  A codec the table does not pair with ``ptype`` raises
    ValueError naming the policy and the type, before any value is
    encoded.  BOOLEAN under 'dict' or 'reference' is RLE_DICTIONARY on
    purpose (the table and the reference's static policy both allow it):
    the pages table reads such a chunk, and ``write_parquet_file``
    refuses it by name, since standard readers do not implement
    dictionary-encoded BOOLEAN."""
    if policy in ("auto", "auto_fast"):
        return None
    if policy == "reference":
        return "DELTA_BINARY_PACKED" if ptype in CODEC_PTYPES["DELTA_BINARY_PACKED"] else "RLE_DICTIONARY"
    enc = {"plain": "PLAIN", "dict": "RLE_DICTIONARY"}.get(policy, policy)
    if enc not in CODEC_PTYPES:
        raise ValueError(f"unknown policy {policy}")
    if ptype not in CODEC_PTYPES[enc]:
        raise ValueError(
            f"policy {policy!r} does not apply to physical type {ptype} "
            f"({enc} takes {', '.join(sorted(CODEC_PTYPES[enc]))})"
        )
    return enc


def _plan(enc, ptype, values, lengths, payload, nn_page_ends, fsst_table=None):
    """The plan that writes every page with ``enc`` and no dictionary, its
    bodies lazy.  FSST pages share the chunk's symbol table, trained here
    unless the caller holds it already (auto trains it to estimate)."""
    encs = [enc] * len(nn_page_ends)
    if enc == "FSST" and encs and fsst_table is None:
        _, fsst_table = _fsst_train(payload)
    bodies = _page_bodies(encs, ptype, values, lengths, payload, nn_page_ends, fsst_table=fsst_table)
    return encs, None, 0, bodies


def _fsst_train(payload: np.ndarray):
    """(sample, symbol table): the chunk's ``_fsst_sample`` and the FSST
    table trained on it, one table per input as the FSST paper fits it.
    The one place a table is trained, for policy FSST and auto alike; no
    table outlives its chunk."""
    sample = _fsst_sample(payload)
    return sample, fsst.train_symbol_table(sample)


_FSST_PIECE = 512
_FSST_SAMPLE = 1 << 17


def _fsst_sample(payload: np.ndarray) -> np.ndarray:
    """FSST's training/estimate sample: the whole payload up to 128 KiB,
    else 256 pieces of 512 B at evenly spaced offsets (the FSST paper
    trains on a sample spread over the input).  A prefix sample made the
    table and the codec choice depend on row order: one repo's rows, or
    one sorted run, stood for the whole chunk.  A chunk of a packed part
    key holds many repos, and 256 pieces (not 64) give each of them a
    say: on a 38-repo, 26 MB content chunk the table encodes to 0.423 of
    the input against 0.450 with 64 pieces (a 4x larger training input)."""
    if len(payload) <= _FSST_SAMPLE:
        return np.ascontiguousarray(payload)
    k = _FSST_SAMPLE // _FSST_PIECE
    starts = np.linspace(0, len(payload) - _FSST_PIECE, num=k, dtype=np.int64)
    return payload[(starts[:, None] + np.arange(_FSST_PIECE)).reshape(-1)]


def _page_bodies(encs, ptype, values, lengths, payload, nn_page_ends, codes=None, card_by_page=None, fsst_table=None):
    """Yield the value body of each page: page i encodes the non-null
    values up to ``nn_page_ends[i]`` with ``encs[i]``.  RLE_DICTIONARY
    pages write ``codes`` at the bit width of the dictionary size at that
    page's flush, ``card_by_page[i]`` (dict_encoder::index_bit_width,
    encoding.cc:769-771)."""
    start = 0
    off = 0
    for pi, enc in enumerate(encs):
        end = int(nn_page_ends[pi])
        pl = lengths[start:end] if ptype == "BYTE_ARRAY" else None
        if enc == "RLE_DICTIONARY":
            yield dictionary.encode_dict_indices(codes[start:end], int(card_by_page[pi]))
        elif pl is not None:
            yield _encode_values(enc, ptype, None, pl, payload[off : off + int(pl.sum())], fsst_table)
        else:
            yield _encode_values(enc, ptype, values[start:end])
        if pl is not None:
            off += int(pl.sum())
        start = end


# auto's candidates, ties going to the one listed first; ``CODEC_PTYPES``
# picks those a chunk's type takes.  BYTE_STREAM_SPLIT is no candidate:
# its pages are PLAIN's size, it only helps a compressor run after it.
_AUTO_CANDIDATES = (
    "PLAIN", "RLE_DICTIONARY", "DELTA_BINARY_PACKED", "RLE", "DELTA_LENGTH_BYTE_ARRAY",
    "DELTA_BYTE_ARRAY", "FSST",
)


def _auto_plan(ptype, values, lengths, payload, nn_page_ends, allow_fsst=True, compression="uncompressed"):
    """Pick the chunk's cheapest plan among the ``_AUTO_CANDIDATES`` its
    physical type takes, codec name -> (size, plan).  A size counts the
    value bodies and the dictionary page (level bytes are the same for
    every candidate).  PLAIN and DELTA_LENGTH_BYTE_ARRAY are sized exactly
    without encoding and keep lazy bodies; RLE_DICTIONARY (the 16 KiB
    fallback), DELTA_BINARY_PACKED, RLE, DELTA_BYTE_ARRAY and FSST are
    encoded to be sized and keep the bodies, so the winner's go to
    ``_write_pages`` as they are and no candidate is encoded twice.
    RLE_DICTIONARY joins when a sample of the values repeats,
    DELTA_BYTE_ARRAY when a sample of neighbours shares prefixes, FSST when
    its estimate on the chunk's ``_fsst_sample`` beats every other
    candidate.

    The reference static policy is always a candidate, so the auto-selected
    total never exceeds it (BASELINE.md compression target).
    ``allow_fsst=False`` is the 'auto_fast' profile: dict/DLBA/DBP/RLE/plain
    only (~10-20x higher encode throughput, weaker ratio on natural text).
    """
    n_pages = len(nn_page_ends)
    if n_pages == 0:
        return [], None, 0, []
    args = (ptype, values, lengths, payload, nn_page_ends)

    def sized(plan):
        encs, dict_page, card, bodies = plan
        bodies = list(bodies)
        return len(dict_page or b"") + sum(map(len, bodies)), (encs, dict_page, card, bodies)

    nn = int(nn_page_ends[-1])
    takes = {enc for enc in _AUTO_CANDIDATES if ptype in CODEC_PTYPES[enc]}
    type_length = values.shape[1] if ptype == "FIXED_LEN_BYTE_ARRAY" else 0
    # PLAIN takes every type: auto always has a candidate
    candidates = {"PLAIN": (_plain_size(ptype, nn, lengths, type_length), _plan("PLAIN", *args))}

    # dictionary candidate (with fallback = reference policy for this column).
    # Sampled uniformly across the chunk (not the prefix) so a unique head
    # followed by a repetitive tail still admits the dict candidate.
    # BOOLEAN never takes the dict candidate: RLE-bool matches it within
    # bytes (2-entry dictionary, 1-bit indices) and major standard readers
    # don't implement dictionary-encoded booleans (pyarrow raises), which
    # would poison container export for ~zero ratio gain
    if nn and "RLE_DICTIONARY" in takes and ptype != "BOOLEAN":
        k = min(nn, {"BYTE_ARRAY": 512, "FIXED_LEN_BYTE_ARRAY": 2048}.get(ptype, 4096))
        idx = np.linspace(0, nn - 1, num=k, dtype=np.int64)
        sample = _physical_array(ptype, values, lengths, payload).take(idx)
        if len(sample.unique()) / k < 0.98:
            candidates["RLE_DICTIONARY"] = sized(_dict_plan(*args, fallback=True))
    if "DELTA_BINARY_PACKED" in takes:
        candidates["DELTA_BINARY_PACKED"] = sized(_plan("DELTA_BINARY_PACKED", *args))
    if "RLE" in takes:
        candidates["RLE"] = sized(_plan("RLE", *args))

    if "DELTA_LENGTH_BYTE_ARRAY" in takes and nn:
        # DLBA size is exact without encoding: DBP(lengths) + payload
        size = 0
        start = 0
        for end in nn_page_ends.tolist():
            end = int(end)
            size += len(delta.dbp_encode(lengths[start:end].astype(np.int32), 4)) + int(
                lengths[start:end].sum()
            )
            start = end
        candidates["DELTA_LENGTH_BYTE_ARRAY"] = (size, _plan("DELTA_LENGTH_BYTE_ARRAY", *args))
    # DELTA_BYTE_ARRAY (front coding): wins on sorted/shared-prefix data
    # (paths, URLs, sorted keys).  Gate on a cheap consecutive-pair
    # prefix sample so random text skips the extra encode pass.
    if "DELTA_BYTE_ARRAY" in takes and allow_fsst and nn >= 8:
        k = min(nn - 1, 256)
        idx = np.linspace(0, nn - 2, num=k, dtype=np.int64)
        offs = np.zeros(nn + 1, dtype=np.int64)
        np.cumsum(lengths, out=offs[1:])
        cmp_len = np.minimum(np.minimum(lengths[idx], lengths[idx + 1]), 64)
        if cmp_len.any():
            # each pair's shared prefix: one (k x 65) byte-window compare,
            # column 64 and the bytes past the shorter value forced unequal
            # (the gather clips them into the payload)
            win = np.arange(65)
            a, b = (payload[np.minimum(offs[i][:, None] + win, len(payload) - 1)] for i in (idx, idx + 1))
            mean_prefix = float(np.argmin((a == b) & (win < cmp_len[:, None]), axis=1).mean())
            mean_len = float(np.mean(lengths[idx])) or 1.0
            # front coding must promise real savings: long values with a
            # short shared header (e.g. source text) skip the extra pass
            if mean_prefix >= 4.0 and mean_prefix >= 0.25 * mean_len:
                candidates["DELTA_BYTE_ARRAY"] = sized(_plan("DELTA_BYTE_ARRAY", *args))
    # FSST: estimate from a sample spread over the chunk; the full
    # encode pass runs when the estimate beats the best cheap
    # candidate.  The rule is the same whichever FSST kernel runs, so
    # pages depend only on the input, the policy and the compression.
    if "FSST" in takes and allow_fsst and len(payload) >= 1024:
        sample, table = _fsst_train(payload)
        est_ratio = len(fsst.fsst_encode(sample, table)) / len(sample)
        payload_len = int(lengths.sum())
        # FSST body = DBP(lengths) + symbol table + token payload; the
        # DBP part equals DLBA's non-payload bytes (computed exactly
        # above), tables are ~300 B per page
        est_fsst = (
            candidates["DELTA_LENGTH_BYTE_ARRAY"][0]
            - payload_len
            + 300 * n_pages
            + est_ratio * payload_len
        )
        run_fsst = est_fsst < min(size for size, _ in candidates.values())
        if run_fsst and compression == "gzip":
            # the pages gzip AFTER encoding, and deflate recovers much
            # of what FSST would have squeezed (both are entropy
            # reductions of the same redundancy; measured on bench
            # content the post-gzip FSST gain is ~8% vs ~55% without
            # gzip): FSST must also win AFTER gzip over the raw byte
            # stream before the full encode pass runs.  The probe uses
            # a 128 KiB slice — a 32 KiB one understates the converged
            # gain (deflate's window covers the whole sample there;
            # 2.4% vs the true 8.3% on bench content).  It stays one
            # contiguous prefix: deflate matches need contiguous bytes.
            gz_sample = payload[: 1 << 17]
            enc_blob = fsst.fsst_encode(gz_sample, table)
            run_fsst = len(zlib.compress(bytes(enc_blob), 6)) < len(
                zlib.compress(gz_sample.tobytes(), 6)
            )
        if run_fsst:
            candidates["FSST"] = sized(_plan("FSST", *args, fsst_table=table))

    return min((candidates[enc] for enc in _AUTO_CANDIDATES if enc in candidates), key=lambda c: c[0])[1]


# ---------------------------------------------------------------------------
# decode


def _read_pages(chunk: EncodedChunk, max_def: int):
    """Decode every page of a chunk (column_chunk_reader.hh:101-157): the
    dictionary page is PLAIN values, loaded as a physical arrow array
    (dict_decoder, encoding.cc:117-131, 468-508); a data page yields its
    rep levels (iff max_rep > 0), def levels, and the values of its def ==
    max_def entries in the flat form (an RLE_DICTIONARY page gathers them
    from the dictionary with ``take``).  Returns (def levels, rep levels or
    None, the flat parts of the pages)."""
    ptype = chunk.ptype
    max_rep = chunk.max_rep
    dict_arr = None
    rep_parts: list[np.ndarray] = []
    def_parts: list[np.ndarray] = []
    parts: list[tuple] = []  # per data page: (values, lengths, payload)
    for page in chunk.pages:
        # a stored chunk or a foreign file can declare any pair: one the
        # table does not hold would decode to wrong values, or fail inside
        # a codec with an unrelated error
        if ptype not in CODEC_PTYPES.get(page.encoding, ()):
            raise ValueError(f"{page.encoding} {page.kind} page in a {ptype} chunk: that codec does not take {ptype}")
        raw = _decompress(page.data, chunk.compression)
        if page.kind == "dict":
            flat = _decode_values("PLAIN", ptype, raw, page.num_values, chunk.type_length)
            dict_arr = _physical_array(ptype, *flat)
            continue
        off = 0
        if max_rep > 0:
            rep, off = decode_levels_v1(raw, max_rep, page.num_values)
            rep_parts.append(rep)
        def_, c2 = decode_levels_v1(memoryview(raw)[off:], max_def, page.num_values)
        body = bytes(memoryview(raw)[off + c2 :])
        nn = int((def_ == max_def).sum())
        # num_non_null == -1: unknown (pages from a standard parquet file,
        # whose DataPageHeader carries only the level count)
        if page.num_non_null >= 0 and nn != page.num_non_null:
            raise ValueError(f"page value count mismatch: {nn} != {page.num_non_null}")
        if page.encoding == "RLE_DICTIONARY":
            if dict_arr is None:
                raise ValueError("RLE_DICTIONARY data page before any dictionary page")
            codes = dictionary.decode_dict_indices(body, nn, len(dict_arr))
            parts.append(_leaf_components(dict_arr.take(codes), ptype)[:3])
        else:
            parts.append(_decode_values(page.encoding, ptype, body, nn, chunk.type_length))
        def_parts.append(def_)
    def_all = np.concatenate(def_parts) if def_parts else np.zeros(0, dtype=np.int32)
    rep_all = None
    if max_rep > 0:
        rep_all = np.concatenate(rep_parts) if rep_parts else np.zeros(0, dtype=np.int32)
    return def_all, rep_all, parts


def effective_max_def(chunk: EncodedChunk) -> int:
    """The chunk's max_def, with -1 (flat back-compat) derived from
    ``nullable``."""
    return chunk.max_def if chunk.max_def >= 0 else int(chunk.nullable)


def decode_chunk(chunk: EncodedChunk) -> pa.Array:
    """Decode pages back into a (nullable) arrow array: a standard chunk
    (flat, list<prim>, list<list<prim>>) is a column of one leaf."""
    return decode_column({"": chunk})


def _build_leaf_array(ptype: str, logical: str, type_length: int, parts: list) -> pa.Array:
    """The pages' flat parts -> the typed leaf arrow array, with no nulls:
    assembly places them (``dremel.assemble_tree``).  The parts are
    concatenated field by field in numpy and Arrow is built once: a fresh
    multi-MB arrow buffer (``pa.concat_arrays``) comes from Arrow's own
    pool and page-faults, where numpy reuses the tuned heap (_alloc.py)."""
    target = logical_row(logical, type_length)[0]
    if not parts:
        return pa.array([], type=target)
    values, lengths, payload = (None if f[0] is None else np.concatenate(f) for f in zip(*parts))
    if pa.types.is_decimal(target):
        if ptype == "FIXED_LEN_BYTE_ARRAY":  # fixed-length big-endian bytes
            lengths, payload = np.full(len(values), values.shape[1], dtype=np.int64), values.reshape(-1)
        if lengths is None:
            return _int_to_decimal(values, target)
        return _varbin_to_decimal(lengths, payload, target)
    if ptype == "BYTE_ARRAY" and len(payload) > np.iinfo(np.int32).max:
        raise ValueError("BYTE_ARRAY chunk exceeds int32 offsets")
    leaf = _physical_array(ptype, values, lengths, payload)
    return leaf if leaf.type == target else leaf.cast(target)


# ---------------------------------------------------------------------------
# top-level columns -> chunks, the ONE rule: a flat or list<primitive>
# column is one chunk named after it (``encode_chunk``); any other nested
# type is one chunk per leaf of the ONE recursive Dremel walker
# (codecs/dremel.py; record_reader.hh:469-505, level rule
# reader_schema.cc:79-93), named '<col>#g<i>' in leaf order, its logical
# 'g:<node path>|<leaf logical>'.  Every node of that geometry is OPTIONAL
# (type-determined, stable across chunks; constant def runs are ~free).


def _is_dremel(t: pa.DataType) -> bool:
    """Whether a column of arrow type ``t`` is stored as Dremel leaf chunks."""
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return pa.types.is_nested(t.value_type)
    return pa.types.is_nested(t)


def leaf_prefix(column: str) -> str:
    """The prefix every Dremel leaf chunk name of ``column`` starts with."""
    return f"{column}#g"


def leaf_spec(logical: str) -> tuple[str, str]:
    """(node path, leaf logical) of a chunk's logical: a Dremel leaf's
    'g:<node path>|<leaf logical>', or a standard chunk's 'list<' levels
    around its leaf logical, one 'l' token each ('' for a flat chunk)."""
    if logical.startswith("g:"):
        path, leaf_logical = logical[2:].rsplit("|", 1)
        return path, leaf_logical
    n_lists = 0
    while logical.startswith("list<", 5 * n_lists):
        n_lists += 1
    return _list_paths(n_lists)[-1], logical[5 * n_lists : len(logical) - n_lists]


def column_opts(chunks) -> dict[str, bool]:
    """OPTIONAL flag per node path of the tree a column's chunks build, the
    map ``dremel.assemble_tree`` and the container schema take: none for
    Dremel leaves (every node OPTIONAL, the walker's geometry).  A standard
    chunk flags the column, each inner list and the element: a flat column
    is OPTIONAL iff its max_def is positive, a list column follows
    ``nullable``, its element ``elem_nullable``, and an inner list
    (list<list>) is OPTIONAL iff the def budget has its level."""
    chunk = next(iter(chunks))
    if chunk.logical.startswith("g:"):
        return {}
    if not chunk.max_rep:
        return {"": effective_max_def(chunk) > 0}
    inner = chunk.max_def - chunk.nullable - chunk.elem_nullable - 2 >= 1
    flags = [chunk.nullable, *[inner] * (chunk.max_rep - 1), chunk.elem_nullable]
    return dict(zip(_list_paths(chunk.max_rep), flags))


def leaf_ptype(logical: str, type_length: int) -> str:
    """Physical type of a chunk from its (logical, type_length), the pair
    ``column_leaves`` gives (no data needed)."""
    return logical_row(leaf_spec(logical)[1], type_length)[1]


def _leaf_logical(leaf: Leaf) -> str:
    return f"g:{leaf.path}|{pa_ptype_scalar(leaf.values.type)[1]}"


def _levels_sha(def_, rep):
    """sha256 fed with a dremel leaf's level streams (its content sha adds
    the non-null values)."""
    h = hashlib.sha256()
    h.update(np.ascontiguousarray(def_, dtype="<u4").tobytes())
    h.update(np.ascontiguousarray(rep, dtype="<u4").tobytes())
    return h


def encode_column(
    arr: pa.Array,
    *,
    policy: str = "auto",
    page_target_bytes: int = 1 << 20,
    compression: str = "uncompressed",
) -> dict[str, EncodedChunk]:
    """Encode one top-level column -> {chunk name suffix: chunk}: ``''`` for
    a flat or list<primitive> column (``encode_chunk``, nullability from
    the data), else one ``'#g<i>'`` leaf chunk per Dremel leaf, in leaf
    order."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if not _is_dremel(arr.type):
        return {"": encode_chunk(
            arr, policy=policy, page_target_bytes=page_target_bytes, compression=compression
        )}
    return {
        f"#g{i}": _encode_leaf(
            leaf, _levels_sha(leaf.def_, leaf.rep), policy=policy,
            page_target_bytes=page_target_bytes, compression=compression,
            logical=_leaf_logical(leaf), nullable=True,
            num_nulls=len(leaf.def_) - len(leaf.values), elem_nullable=True,
        )
        for i, leaf in enumerate(shred(arr))
    }


def column_leaves(t: pa.DataType) -> dict[str, tuple[str, int]]:
    """{chunk name suffix: (logical, type_length)} of the chunks
    ``encode_column`` writes for arrow type ``t``: a shred of an EMPTY
    array, with no codec or kernel run."""
    leaves = shred(pa.array([], type=t))
    if not _is_dremel(t):
        return {"": (pa_ptype(t)[1], flba_width(leaves[0].values.type))}
    return {f"#g{i}": (_leaf_logical(leaf), flba_width(leaf.values.type)) for i, leaf in enumerate(leaves)}


def column_chunks(column: str, names) -> list[str]:
    """The chunk names of top-level ``column`` among ``names``, in leaf
    order: ``[column]`` for a column stored as one chunk, else its Dremel
    leaves ([] when the column is absent)."""
    if column in names:
        return [column]
    prefix = leaf_prefix(column)
    leaves = [n for n in names if n.startswith(prefix) and n[len(prefix):].isdigit()]
    return sorted(leaves, key=lambda n: int(n[len(prefix):]))


def column_type(leaves) -> pa.DataType:
    """Arrow type of a column from its chunks' (logical, type_length)
    pairs, in leaf order (``column_leaves`` values or the lineage's): the
    tree ``decode_column`` assembles."""
    specs = [(leaf_spec(logical), type_length) for logical, type_length in leaves]
    return tree_arrow_type(build_tree([(path, logical_row(lg, tl)[0]) for (path, lg), tl in specs]))


def decode_column(chunks: dict[str, EncodedChunk]) -> pa.Array:
    """{chunk name: chunk} of one column, in leaf order (as
    ``encode_column`` and ``column_chunks`` give them) -> the column: each
    leaf's level streams and non-null values (``_decode_dremel_leaf``),
    then Dremel assembly (record_reader.hh:469-505) of the ``leaf_spec``
    tree under the ``column_opts`` flags."""
    leaves: dict[str, Leaf] = {}
    for c in chunks.values():
        path, leaf_logical = leaf_spec(c.logical)
        def_, rep, vals = _decode_dremel_leaf(c, leaf_logical)
        leaves[path] = Leaf(path, vals, def_, rep, effective_max_def(c), c.max_rep)
    tree = build_tree([(path, leaf.values.type) for path, leaf in leaves.items()])
    return assemble_tree(tree, leaves, c.num_rows, column_opts(chunks.values()))


def content_sha(chunk: EncodedChunk) -> str:
    """Decode one chunk and recompute the content sha256 its lineage row
    records (the lineage audit: detects page corruption without the
    source table)."""
    if not chunk.logical.startswith("g:"):
        return chunk_content_sha(decode_chunk(chunk))
    # a Dremel leaf: its level streams, then its non-null values
    def_, rep, vals = _decode_dremel_leaf(chunk, leaf_spec(chunk.logical)[1])
    values, lengths, payload, _, _ = _leaf_components(_to_physical(vals, chunk.ptype), chunk.ptype)
    h = _levels_sha(def_, rep)
    _sha_update_values(h, chunk.ptype, values, lengths, payload)
    return h.hexdigest()


def _encode_leaf(
    leaf: Leaf, sha, *, policy, page_target_bytes, compression, **meta
) -> EncodedChunk:
    """One shredded leaf -> chunk, paged on record boundaries: the one
    leaf encoder behind every chunk shape (column_chunk_writer::put,
    column_chunk_writer.hh:75-89).  ``sha`` holds the structural part of
    the content hash; ``meta`` carries the shape's chunk fields (logical,
    nullable, num_nulls, elem_nullable)."""
    ptype, _ = pa_ptype_scalar(leaf.values.type)
    vals = _to_physical(leaf.values, ptype)
    values, lengths, payload, nn_val_bytes, type_length = _leaf_components(vals, ptype)
    def_ = np.ascontiguousarray(leaf.def_, dtype=np.uint64)
    rep = np.ascontiguousarray(leaf.rep, dtype=np.uint64)
    n_entries = len(def_)
    enc_mask = def_ == leaf.max_def

    # record-aligned paging (pages start at rep == 0 -- a parquet invariant,
    # so these pages stay export-grade), sized by value bytes; a repeated
    # leaf's record spans several entries, each counting ~1 B of levels
    rec_starts = np.flatnonzero(rep == 0)
    n_rows = len(rec_starts)
    entry_bytes = np.full(n_entries, int(leaf.max_rep > 0), dtype=np.int64)
    entry_bytes[enc_mask] += nn_val_bytes
    cs = np.zeros(n_entries + 1, dtype=np.int64)
    np.cumsum(entry_bytes, out=cs[1:])
    rec_ends = np.append(rec_starts[1:], n_entries)
    rec_bytes = cs[rec_ends] - cs[rec_starts]
    page_ends = _page_boundaries(rec_bytes, page_target_bytes)
    level_ends = rec_ends[page_ends - 1]
    nn_page_ends = np.cumsum(enc_mask, dtype=np.int64)[level_ends - 1]

    chunk = EncodedChunk(
        ptype=ptype,
        num_rows=n_rows,
        cardinality=0,
        encodings=[],
        compression=compression,
        type_length=type_length,
        input_bytes=_plain_size(ptype, int(enc_mask.sum()), lengths, type_length),
        max_def=leaf.max_def,
        max_rep=leaf.max_rep,
        **meta,
    )
    _sha_update_values(sha, ptype, values, lengths, payload)
    chunk.sha256 = sha.hexdigest()
    _chunk_stats(chunk, ptype, values, lengths, payload)
    if leaf.path == "":  # the leaf is the column: prune_chunks(eq=) probes it
        _chunk_bloom(chunk, ptype, values, lengths, payload)
    _write_pages(chunk, policy, values, lengths, payload, def_, rep, level_ends, nn_page_ends)
    return chunk


def _decode_dremel_leaf(chunk: "EncodedChunk", leaf_logical: str):
    """Leaf chunk pages -> (def levels, rep levels, non-null typed values);
    the def levels are read against ``effective_max_def``."""
    def_, rep, parts = _read_pages(chunk, effective_max_def(chunk))
    if rep is None:
        rep = np.zeros(len(def_), dtype=np.uint32)
    vals = _build_leaf_array(chunk.ptype, leaf_logical, chunk.type_length, parts)
    return def_.astype(np.uint32, copy=False), rep.astype(np.uint32, copy=False), vals
