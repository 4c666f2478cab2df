"""The 16 headline driver queries of ``bench.py``, as a traced-run probe.

The queries run over generated ``documents``, ``lineitem`` and ``embeddings``
tables of the sf0.1 shape (see ``data``): one measured pass, with Spark's
cache cleared before every query.  It has no warm-up pass of its own: it runs
after the workload's timed section and probes, which have started the Python
workers and compiled the engine's plans, and a warm-up pass would add a fifth
to a traced run's length, which must stay well inside its time limit.  Every
output is compared with the query's DuckDB oracle (``oracle_sql()``),
canonicalised the way ``tools/check_oracles.py`` does it.

Each traced run measures part of the queries, so that no run outgrows its
time limit: bulk_encode the ``roundtrip_*`` queries, column_read the rest.
"""

from __future__ import annotations

import os

from . import data


def split() -> dict[str, list[str]]:
    """The headline queries each workload measures."""
    from bench import HEADLINE_QUERIES

    roundtrips = [n for n in HEADLINE_QUERIES if n.startswith("roundtrip_")]
    return {"bulk_encode": roundtrips, "column_read": [n for n in HEADLINE_QUERIES if n not in roundtrips]}


def _oracles(h, tables: str, names: list[str]) -> dict:
    import duckdb

    import __spark_entry__ as entry
    from tools.check_oracles import canon

    with h.tracer.span("oracles", "duckdb"):
        con = duckdb.connect()
        try:
            for t in ("documents", "lineitem", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
            oracles = entry.oracle_sql()
            return {n: canon(con.execute(oracles[n]).fetchdf()) for n in names}
        finally:
            con.close()


def measure(h, cfg: dict, seed: int, work: str, names: list[str]) -> dict:
    import __spark_entry__ as entry
    from tools.check_oracles import canon

    fns = entry.queries()

    def run(name, tables):
        def fn():
            with h.tracer.span(f"queries()[{name}]", "spark_entry"):
                df = fns[name](h.spark, tables)
            with h.tracer.span("toPandas", "spark"):
                return df.toPandas()
        return fn

    def check(name, expected):
        def fn(pdf):
            got = canon(pdf)
            return None if got == expected[name] else f"{name}: (rows, columns, hash) {got} != oracle {expected[name]}"
        return fn

    out = {}
    passes = {"jobs": 0, "tasks": 0, "shuffle_write_mb": 0.0}
    tables = os.path.join(work, "tables")
    with h.tracer.span("write_query_tables", "bench"):
        data.write_query_tables(tables, seed, cfg["query_data"])
    expected = _oracles(h, tables, names)
    for name in names:
        h.op(f"query.{name}", run(name, tables), check(name, expected), timed=False)
        rec = h.ops[-1]
        out[f"query.{name}_s"] = rec.wall_s if rec.ok else 0.0
        for k in passes:
            passes[k] += getattr(rec, k)
    out["query.total_s"] = sum(out.values())
    out.update({f"spark.{k}.query_pass": float(v) for k, v in passes.items()})
    return out
