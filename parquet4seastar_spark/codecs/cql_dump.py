"""parquet -> CQL text dump, string-identical to the reference's
``cql::parquet_to_cql`` (src/cql_reader.cc: schema->CQL :239-400, row
rendering :150-222; driven by apps/parquet2cql/main.cc).

The reference's own golden end-to-end test (cql_reader_alltypes_test.cc:
32-94) compares the dump of its six alltypes fixtures against inline CQL
strings; tests/test_cql_dump.py runs the SAME comparison against this
renderer, over the six fixtures rebuilt from the golden text with our
writer (and over the reference's files where a checkout is present), so
every logical type's rendering (unsigned widening, varint INT96, duration
intervals, unscaled-decimal notation, time formatting, uuid) is pinned to
the reference byte for byte.
"""

from __future__ import annotations

from .parquet_file import LeafColumn, ParquetFileReader

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


def _shape(tree) -> tuple[str, list[str]]:
    """CQL shape of a column's token tree and, for a UDT list, its field
    names; ``("", [])`` for a shape with no CQL rendering."""
    kind, elem = tree[0], tree[1] if tree[0] == "list" else None
    if kind == "leaf":
        return "scalar", []
    if kind == "map" and tree[1][0] == tree[2][0] == "leaf":
        return "map", []
    if elem and elem[0] == "leaf":
        return "list", []
    if elem and elem[0] == "struct" and all(t[0] == "leaf" for _, t in elem[1]):
        names = [f for f, _ in elem[1]]
        # DremelColumn writes a map as a LIST of struct<key, value>
        return ("map", []) if names == ["key", "value"] else ("udt", names)
    return "", []


def _wrap(brackets: str, items) -> str:
    return brackets[0] + ", ".join(items) + brackets[1]


def _entry(e) -> tuple:
    """A map entry as (key, value): arrow map entries are tuples already,
    struct<key, value> entries are dicts."""
    return tuple(e.values()) if isinstance(e, dict) else e


def parquet_to_cql(path: str, table: str = "parquet", pk: str = "row_number") -> str:
    """Dump a parquet file as CREATE TABLE + INSERT statements, matching the
    reference's output format exactly.  Each top-level column is read once
    (``ParquetFileReader.read_column``) and its assembled shape picks the
    CQL type: a leaf is a scalar, list(leaf) a list, map(leaf, leaf) a map,
    and list(struct of leaves) a list of a numbered UDT
    (cql_reader.cc:277-323)."""
    r = ParquetFileReader(path)
    cols = []  # (name, cql type, cell renderer, the column's values)
    udts: list[str] = []  # CREATE TYPE statements, numbered in encounter order
    for node in r.schema:
        name = node["el"][4]
        tree, _, infos = r._column_token_tree(name)
        shape, fields = _shape(tree)
        if not shape:
            raise ValueError(f"column {name!r}: a {tree[0]} of this shape has no CQL type")
        leaves = [r.leaves[li] for _, li, _ in infos]
        kinds = [_leaf_kind(l) for l in leaves]
        cql = [_CQL_TYPES[k] for k in kinds]
        fn = [lambda v, k=k, l=l: _render(v, k, l) for k, l in zip(kinds, leaves)]
        if shape == "scalar":
            ctype, cell = cql[0], fn[0]
        elif shape == "list":
            ctype = f"frozen<list<{cql[0]}>>"
            cell = lambda vs, f=fn[0]: _wrap("[]", map(f, vs))
        elif shape == "map":
            ctype = f"frozen<map<{cql[0]}, {cql[1]}>>"
            cell = lambda vs, fk=fn[0], fv=fn[1]: _wrap(
                "{}", (f"{fk(k)}: {fv(v)}" for k, v in map(_entry, vs))
            )
        else:
            udt = f"{table}_udt_{len(udts)}"
            udt_fields = ", ".join(f'"{f}" {t}' for f, t in zip(fields, cql))
            udts.append(f'CREATE TYPE "{udt}" ({udt_fields});\n')
            ctype = f'frozen<list<"{udt}">>'
            elem = lambda e, fields=fields, fn=fn: "null" if e is None else _wrap(
                "{}", (f'"{n}": {f(e[n])}' for n, f in zip(fields, fn))
            )
            cell = lambda vs, elem=elem: _wrap("[]", map(elem, vs))
        cols.append((name, ctype, cell, r.read_column(name).to_pylist()))

    out = ["\n"]
    out.extend(udts)
    ddl_cols = ", ".join(f'"{n}" {t}' for n, t, _, _ in cols)
    out.append(f'CREATE TABLE "{table}"("{pk}" bigint PRIMARY KEY, {ddl_cols});\n')
    names = ", ".join(f'"{n}"' for n, *_ in cols)
    for i in range(r.num_rows):
        vals = ", ".join("null" if v[i] is None else cell(v[i]) for _, _, cell, v in cols)
        out.append(f'INSERT INTO "{table}"("{pk}", {names}) VALUES({i}, {vals});\n')
    return "".join(out)
