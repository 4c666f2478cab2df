"""Minimal Thrift Compact Protocol encoder/decoder.

Implements exactly the subset the Parquet file format needs (struct, bool,
i32/i64 zigzag varints, binary/string, lists) from the public Apache Thrift
compact-protocol spec.  The reference consumes the same wire format through
its generated serdes (src/thrift_serdes.hh:117-154); we hand-roll the ~10
rules instead of vendoring 10k generated lines.

Wire rules (public spec):
- field header: one byte ``(field_id_delta << 4) | type`` when the id delta
  fits 1..15, else ``type`` byte + zigzag-varint field id.
- types: 1 BOOL_TRUE, 2 BOOL_FALSE, 3 BYTE, 4 I16, 5 I32, 6 I64, 7 DOUBLE,
  8 BINARY, 9 LIST, 10 SET, 11 MAP, 12 STRUCT.
- i16/i32/i64 payloads: zigzag then ULEB128 varint.
- binary: varint length + bytes.
- list header: ``(size << 4) | elem_type`` for size < 15, else
  ``0xF0 | elem_type`` + varint size.
- struct end: 0x00.
"""

from __future__ import annotations

import struct

CT_STOP = 0
CT_BOOL_TRUE = 1
CT_BOOL_FALSE = 2
CT_BYTE = 3
CT_I16 = 4
CT_I32 = 5
CT_I64 = 6
CT_DOUBLE = 7
CT_BINARY = 8
CT_LIST = 9
CT_SET = 10
CT_MAP = 11
CT_STRUCT = 12


def _zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63)


def _unzigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def write_varint(out: bytearray, v: int) -> None:
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


class CompactWriter:
    """Field-by-field struct writer; nest with begin_struct/end_struct."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self._last_fid = [0]

    def _field_header(self, fid: int, ctype: int) -> None:
        delta = fid - self._last_fid[-1]
        if 1 <= delta <= 15:
            self.buf.append((delta << 4) | ctype)
        else:
            self.buf.append(ctype)
            write_varint(self.buf, _zigzag(fid) & 0xFFFFFFFFFFFFFFFF)
        self._last_fid[-1] = fid

    def field_bool(self, fid: int, v: bool) -> None:
        self._field_header(fid, CT_BOOL_TRUE if v else CT_BOOL_FALSE)

    def field_i8(self, fid: int, v: int) -> None:
        self._field_header(fid, CT_BYTE)
        self.buf.append(v & 0xFF)

    def field_i32(self, fid: int, v: int) -> None:
        self._field_header(fid, CT_I32)
        write_varint(self.buf, _zigzag(v) & 0xFFFFFFFFFFFFFFFF)

    def field_i64(self, fid: int, v: int) -> None:
        self._field_header(fid, CT_I64)
        write_varint(self.buf, _zigzag(v) & 0xFFFFFFFFFFFFFFFF)

    def field_binary(self, fid: int, v: bytes) -> None:
        self._field_header(fid, CT_BINARY)
        write_varint(self.buf, len(v))
        self.buf.extend(v)

    def field_string(self, fid: int, v: str) -> None:
        self.field_binary(fid, v.encode())

    def begin_field_struct(self, fid: int) -> None:
        self._field_header(fid, CT_STRUCT)
        self._last_fid.append(0)

    def end_struct(self) -> None:
        self.buf.append(CT_STOP)
        self._last_fid.pop()

    def begin_field_list(self, fid: int, elem_type: int, size: int) -> None:
        self._field_header(fid, CT_LIST)
        if size < 15:
            self.buf.append((size << 4) | elem_type)
        else:
            self.buf.append(0xF0 | elem_type)
            write_varint(self.buf, size)

    # list elements are written raw by the caller:
    def elem_i32(self, v: int) -> None:
        write_varint(self.buf, _zigzag(v) & 0xFFFFFFFFFFFFFFFF)

    def elem_binary(self, v: bytes) -> None:
        write_varint(self.buf, len(v))
        self.buf.extend(v)

    def elem_struct_begin(self) -> None:
        self._last_fid.append(0)

    # elem_struct ends via end_struct()

    def finish(self) -> bytes:
        self.buf.append(CT_STOP)  # close the top-level struct
        return bytes(self.buf)


class CompactReader:
    """Generic reader: parses a struct into {field_id: value} dicts; structs
    nest as dicts, lists as Python lists.  Schema-free -- callers pick the
    field ids they care about (parquet.thrift is the public map)."""

    def __init__(self, buf, pos: int = 0) -> None:
        self.buf = memoryview(buf)
        self.pos = pos

    def _byte(self) -> int:
        b = self.buf[self.pos]
        self.pos += 1
        return b

    def read_varint(self) -> int:
        out = 0
        shift = 0
        while True:
            b = self._byte()
            out |= (b & 0x7F) << shift
            if not b & 0x80:
                return out
            shift += 7

    def _zigzag_int(self) -> int:
        return _unzigzag(self.read_varint())

    def read_binary(self) -> bytes:
        n = self.read_varint()
        v = bytes(self.buf[self.pos : self.pos + n])
        if len(v) != n:
            raise ValueError("thrift binary truncated")
        self.pos += n
        return v

    def _read_value(self, ctype: int):
        if ctype in (CT_BOOL_TRUE, CT_BOOL_FALSE):
            # only valid inside lists; field bools are in the header
            return self._byte() == CT_BOOL_TRUE
        if ctype == CT_BYTE:
            return self._byte()
        if ctype in (CT_I16, CT_I32, CT_I64):
            return self._zigzag_int()
        if ctype == CT_DOUBLE:
            v = struct.unpack_from("<d", self.buf, self.pos)[0]
            self.pos += 8
            return v
        if ctype == CT_BINARY:
            return self.read_binary()
        if ctype == CT_LIST or ctype == CT_SET:
            header = self._byte()
            size = header >> 4
            elem = header & 0x0F
            if size == 15:
                size = self.read_varint()
            return [self._read_value(elem) for _ in range(size)]
        if ctype == CT_STRUCT:
            return self.read_struct()
        if ctype == CT_MAP:
            size = self.read_varint()
            if size == 0:
                return {}
            kv = self._byte()
            kt, vt = kv >> 4, kv & 0x0F
            return {self._read_value(kt): self._read_value(vt) for _ in range(size)}
        raise ValueError(f"unsupported thrift compact type {ctype}")

    def read_struct(self) -> dict:
        out: dict = {}
        last_fid = 0
        while True:
            b = self._byte()
            if b == CT_STOP:
                return out
            delta = b >> 4
            ctype = b & 0x0F
            fid = last_fid + delta if delta else _unzigzag(self.read_varint())
            last_fid = fid
            if ctype == CT_BOOL_TRUE:
                out[fid] = True
            elif ctype == CT_BOOL_FALSE:
                out[fid] = False
            else:
                out[fid] = self._read_value(ctype)
