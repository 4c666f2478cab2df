"""parquet -> CQL text dump, string-identical to the reference's
``cql::parquet_to_cql`` (src/cql_reader.cc: schema->CQL :239-400, row
rendering :150-222; driven by apps/parquet2cql/main.cc).

The reference's own golden end-to-end test (cql_reader_alltypes_test.cc:
32-94) compares the dump of its six alltypes fixtures against inline CQL
strings; tests/test_cql_dump.py runs the SAME comparison against this
renderer, so every logical type's rendering (unsigned widening, varint
INT96, duration intervals, unscaled-decimal notation, time formatting,
uuid) is pinned to the reference byte for byte.
"""

from __future__ import annotations

from .parquet_file import REPEATED, LeafColumn, ParquetFileReader

# parquet.thrift ConvertedType ids
_CONV_UINT = {11: 8, 12: 16, 13: 32, 14: 64}
_CONV_INT = {15: 8, 16: 16, 17: 32, 18: 64}


def _int_logical(leaf: LeafColumn) -> tuple[int, bool] | None:
    """(bit_width, signed) from converted or LogicalType INTEGER."""
    if leaf.converted in _CONV_UINT:
        return _CONV_UINT[leaf.converted], False
    if leaf.converted in _CONV_INT:
        return _CONV_INT[leaf.converted], True
    lr = leaf.logical_raw or {}
    if 10 in lr:  # INTEGER{1: bitWidth, 2: isSigned}
        return int(lr[10][1]), bool(lr[10][2])
    return None


def _time_unit(lr_member: dict) -> str:
    unit = lr_member.get(2, {})
    return {1: "millis", 2: "micros", 3: "nanos"}.get(next(iter(unit), 1), "millis")


def _leaf_kind(leaf: LeafColumn) -> str:
    """Semantic kind driving both CQL type and value rendering."""
    lr = leaf.logical_raw or {}
    if leaf.converted == 5 or 5 in lr:
        return "decimal"
    if leaf.ptype == "BOOLEAN":
        return "bool"
    if leaf.ptype == "INT96":
        return "varint96"
    if leaf.ptype in ("FLOAT", "DOUBLE"):
        return leaf.ptype.lower()
    if leaf.converted == 6 or 6 in lr:
        return "date"
    if leaf.converted in (7, 8) or 7 in lr:
        member = lr.get(7, {})
        unit = _time_unit(member) if member else ("millis" if leaf.converted == 7 else "micros")
        return f"time_{unit}"
    if leaf.converted in (9, 10) or 8 in lr:
        member = lr.get(8, {})
        unit = _time_unit(member) if member else ("millis" if leaf.converted == 9 else "micros")
        return f"timestamp_{unit}"
    if leaf.converted == 21:
        return "interval"
    if 14 in lr:
        return "uuid"
    if leaf.ptype == "BYTE_ARRAY":
        # UTF8 / ENUM / JSON render as text; BSON and plain as blob
        if leaf.converted in (0, 4, 19) or 1 in lr or 4 in lr or 12 in lr:
            return "text"
        return "blob"
    if leaf.ptype == "FIXED_LEN_BYTE_ARRAY":
        return "blob"
    il = _int_logical(leaf)
    if il is not None:
        w, signed = il
        return f"{'int' if signed else 'uint'}{w}"
    if 11 in lr:  # UNKNOWN (always-null)
        return "int32"
    return {"INT32": "int32", "INT64": "int64"}[leaf.ptype]


_CQL_TYPES = {
    "bool": "boolean",
    "int8": "tinyint",
    "int16": "smallint",
    "int32": "int",
    "int64": "bigint",
    "uint8": "smallint",
    "uint16": "int",
    "uint32": "bigint",
    "uint64": "varint",
    "varint96": "varint",
    "float": "float",
    "double": "double",
    "date": "int",
    "time_millis": "time",
    "time_micros": "time",
    "time_nanos": "time",
    "timestamp_millis": "timestamp",
    "timestamp_micros": "bigint",
    "timestamp_nanos": "bigint",
    "interval": "duration",
    "uuid": "uuid",
    "text": "text",
    "blob": "blob",
    "decimal": "decimal",
}


def _render(v, kind: str, leaf: LeafColumn) -> str:
    if v is None:
        return "null"
    if kind == "bool":
        return "true" if v else "false"
    if kind.startswith("uint"):
        w = int(kind[4:])
        return str(int(v) & ((1 << w) - 1))
    if kind in ("float", "double"):
        return f"{float(v):e}"
    if kind == "varint96":
        # the reference composes int96 from its 3 LE int32 words with word 0
        # MOST significant (cql_reader.cc:210-217)
        b = bytes(v)
        w0 = int.from_bytes(b[0:4], "little", signed=True)
        w1 = int.from_bytes(b[4:8], "little", signed=False)
        w2 = int.from_bytes(b[8:12], "little", signed=False)
        return str((w0 << 64) + (w1 << 32) + w2)
    if kind.startswith("time_"):
        unit = kind[5:]
        scale = {"millis": 10**3, "micros": 10**6, "nanos": 10**9}[unit]
        digits = {"millis": 3, "micros": 6, "nanos": 9}[unit]
        t = int(v)
        frac = t % scale
        secs = t // scale
        return f"'{secs // 3600:02d}:{secs // 60 % 60:02d}:{secs % 60:02d}.{frac:0{digits}d}'"
    if kind == "date":
        import datetime as _dt

        if isinstance(v, _dt.date):
            return str((v - _dt.date(1970, 1, 1)).days)
        return str(int(v))
    if kind.startswith("timestamp_"):
        # the reference prints the raw epoch integer in the source unit
        import datetime as _dt

        if isinstance(v, _dt.datetime):
            td = v.replace(tzinfo=None) - _dt.datetime(1970, 1, 1)
            us = (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds
            return str(us)
        return str(int(v))
    if kind == "interval":
        b = bytes(v)
        mo = int.from_bytes(b[0:4], "little")
        d = int.from_bytes(b[4:8], "little")
        ms = int.from_bytes(b[8:12], "little")
        return f"{mo}mo{d}d{ms}ms"
    if kind == "uuid":
        h = bytes(v).hex().upper()
        return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"
    if kind == "text":
        s = v if isinstance(v, str) else bytes(v).decode()
        return "'" + s.replace("'", "''") + "'"
    if kind == "blob":
        return "0x" + bytes(v).hex().upper()
    if kind == "decimal":
        # unscaled-integer exponent notation (cql_reader.cc decimal math)
        from decimal import Decimal

        d = v if isinstance(v, Decimal) else Decimal(v)
        unscaled = int(d.scaleb(leaf.scale))
        return f"{unscaled}e-{leaf.scale}"
    return str(int(v))


def _struct_fields(node: dict) -> list[dict]:
    """Field nodes of a list<struct> column (column -> repeated group ->
    struct), or [] for any other shape."""
    kids = node["children"]
    if len(kids) != 1 or kids[0]["el"].get(3) != REPEATED or len(kids[0]["children"]) != 1:
        return []
    return kids[0]["children"][0]["children"]


def parquet_to_cql(path: str, table: str = "parquet", pk: str = "row_number") -> str:
    """Dump a parquet file as CREATE TABLE + INSERT statements, matching the
    reference's output format exactly."""
    r = ParquetFileReader(path)
    # group leaves into top-level fields in schema order
    fields: list[tuple[str, list[LeafColumn]]] = []
    for leaf in r.leaves:
        top = leaf.path[0]
        if fields and fields[-1][0] == top:
            fields[-1][1].append(leaf)
        else:
            fields.append((top, [leaf]))

    def fits(ok: bool, top: str, shape: str) -> None:
        # each rendering below reads only the leaves its shape names; a
        # column with other leaves would lose them from the dump
        if not ok:
            raise ValueError(f"column {top!r}: its leaves do not fit a CQL {shape}")

    cols = []  # (name, cql_type, render_fn over row index)
    udts: list[str] = []  # CREATE TYPE statements, numbered in encounter order
    for top, leaves in fields:
        if len(leaves[0].path) >= 4 and leaves[0].path[-1] != "key":
            # list<struct<...>>: one leaf per struct field -> a UDT
            # (cql_reader.cc:277-323 renders struct nodes as numbered UDTs)
            struct = _struct_fields(next(n for n in r.schema if n["el"][4] == top))
            fits(
                len(struct) == len(leaves) and not any(f["children"] for f in struct),
                top, "list of a struct of primitive fields",
            )
            udt_name = f"{table}_udt_{len(udts)}"
            kinds = [_leaf_kind(l) for l in leaves]
            udt_fields = ", ".join(
                f'"{l.path[-1]}" {_CQL_TYPES[k]}' for l, k in zip(leaves, kinds)
            )
            udts.append(f'CREATE TYPE "{udt_name}" ({udt_fields});\n')
            arrs = [r.read_column(l.path).to_pylist() for l in leaves]

            def render_udt_list(i, arrs=arrs, kinds=kinds, leaves=leaves):
                rows = [a[i] for a in arrs]
                if rows[0] is None:
                    return "null"
                out_elems = []
                for j in range(len(rows[0])):
                    if rows[0][j] is None:  # null struct element
                        out_elems.append("null")
                    else:
                        inner = ", ".join(
                            f'"{l.path[-1]}": {_render(a[i][j], k, l)}'
                            for l, k, a in zip(leaves, kinds, arrs)
                        )
                        out_elems.append("{" + inner + "}")
                return "[" + ", ".join(out_elems) + "]"

            cols.append((top, f'frozen<list<"{udt_name}">>', render_udt_list))
        elif leaves[0].path[-1] == "key" and leaves[0].max_rep:  # map
            fits(
                len(leaves) == 2 and leaves[0].path[:-1] == leaves[1].path[:-1],
                top, "map of a primitive key and value",
            )
            kleaf, vleaf = leaves
            kkind, vkind = _leaf_kind(kleaf), _leaf_kind(vleaf)
            ktype, vtype = _CQL_TYPES[kkind], _CQL_TYPES[vkind]
            karr = r.read_column(kleaf.path).to_pylist()
            varr = r.read_column(vleaf.path).to_pylist()

            def render_map(i, karr=karr, varr=varr, kk=kkind, vk=vkind, kl=kleaf, vl=vleaf):
                ks, vs = karr[i], varr[i]
                if ks is None:
                    return "null"
                items = ", ".join(
                    f"{_render(k, kk, kl)}: {_render(v, vk, vl)}" for k, v in zip(ks, vs)
                )
                return "{" + items + "}"

            cols.append((top, f"frozen<map<{ktype}, {vtype}>>", render_map))
        elif leaves[0].max_rep:  # list
            fits(len(leaves) == 1, top, "list of a primitive")
            leaf = leaves[0]
            kind = _leaf_kind(leaf)
            arr = r.read_column(leaf.path).to_pylist()

            def render_list(i, arr=arr, kind=kind, leaf=leaf):
                vs = arr[i]
                if vs is None:
                    return "null"
                return "[" + ", ".join(_render(v, kind, leaf) for v in vs) + "]"

            cols.append((top, f"frozen<list<{_CQL_TYPES[kind]}>>", render_list))
        else:
            fits(len(leaves) == 1, top, "scalar")
            leaf = leaves[0]
            kind = _leaf_kind(leaf)
            arr = r.read_column(leaf.path).to_pylist()

            def render_scalar(i, arr=arr, kind=kind, leaf=leaf):
                return _render(arr[i], kind, leaf)

            cols.append((top, _CQL_TYPES[kind], render_scalar))

    out = ["\n"]
    out.extend(udts)
    ddl_cols = ", ".join(f'"{n}" {t}' for n, t, _ in cols)
    out.append(f'CREATE TABLE "{table}"("{pk}" bigint PRIMARY KEY, {ddl_cols});\n')
    names = ", ".join(f'"{n}"' for n, _, _ in cols)
    for i in range(r.num_rows):
        vals = ", ".join(fn(i) for _, _, fn in cols)
        out.append(f'INSERT INTO "{table}"("{pk}", {names}) VALUES({i}, {vals});\n')
    return "".join(out)
