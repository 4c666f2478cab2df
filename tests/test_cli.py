"""tools/p4s_cli.py commands, run in-process against the session fixture."""

import argparse
import importlib.util
import os

import pytest

_CLI = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "p4s_cli.py")


def _load_cli():
    spec = importlib.util.spec_from_file_location("p4s_cli", _CLI)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture
def cli(spark, monkeypatch):
    """The CLI module, its commands running on the test session (which
    they must not stop)."""
    mod = _load_cli()
    monkeypatch.setattr(mod, "_spark", lambda args: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    return mod


def test_cql_value_quotes_dates_and_timestamps():
    # an unquoted 2020-01-02 is arithmetic in CQL, not a date
    import datetime

    value = _load_cli()._cql_value
    assert value(datetime.date(2020, 1, 2), "date") == "'2020-01-02'"
    assert value(datetime.datetime(2020, 1, 2, 3, 4, 5), "timestamp_us") == "'2020-01-02T03:04:05'"
    assert value([datetime.date(1969, 12, 31), None], "list<date>") == "['1969-12-31', null]"


def test_dump_cql_renders_one_chunk_columns_and_refuses_dremel_ones(spark, cli, capsys, tmp_path):
    """dump-cql over a column store holding string, int, list<int> and
    struct columns: the first three render as CREATE TABLE + INSERT lines;
    the struct, stored as Dremel leaf chunks, is refused by name."""
    from parquet4seastar_spark.engine.encode_job import encode_table
    from parquet4seastar_spark.engine.store import write_store

    src = spark.createDataFrame(
        [
            (0, 0, "it's", 7, [1, None], {"a": 1, "b": "x"}),
            (1, 1, None, None, None, None),
            (2, 0, "x", -3, [], {"a": None, "b": None}),
        ],
        "row_id long, salt int, s string, n int, l array<int>, st struct<a:int,b:string>",
    )
    store = str(tmp_path / "store")
    write_store(encode_table(
        src, ["s", "n", "l", "st"], policy="plain", salt_col="salt", size_col="s", num_partitions=2,
    ), store)

    def dump(columns):
        cli.cmd_dump_cql(argparse.Namespace(
            master=None, encoded=store, table="t", pk="row_id", columns=columns, limit=20,
        ))
        return capsys.readouterr().out.splitlines()

    assert dump("s,n,l") == [
        "CREATE TABLE t (row_id bigint, s text, n int, l list<int>, PRIMARY KEY (row_id));",
        "INSERT INTO t (row_id, s, n, l) VALUES (0, 'it''s', 7, [1, null]);",
        "INSERT INTO t (row_id, s, n, l) VALUES (1, null, null, null);",
        "INSERT INTO t (row_id, s, n, l) VALUES (2, 'x', -3, []);",
    ]
    with pytest.raises(ValueError, match="column 'st' is stored as Dremel leaf chunks"):
        dump("s,st")


def test_lookup_prints_counts_and_rows_and_caches_nothing(spark, cli, capsys, tmp_path):
    """lookup over a column store: the printed chunk counts and rows for a
    present key and an absent one, and no RDD left persisted."""
    from parquet4seastar_spark.engine.encode_job import encode_table
    from parquet4seastar_spark.engine.store import write_store

    src = spark.createDataFrame(
        [(i, i % 4, f"key{i:03d}", i * 10) for i in range(200)],
        "row_id long, salt int, k string, v int",
    )
    store = str(tmp_path / "store")
    write_store(encode_table(src, ["k", "v"], salt_col="salt", num_partitions=4), store)
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()

    def lookup(values):
        cli.cmd_lookup(argparse.Namespace(
            master=None, encoded=store, column="k", values=values, type="str", limit=20,
        ))
        return capsys.readouterr().out.splitlines()

    assert lookup("key042") == [
        "{'chunks_total': 4, 'chunks_decoded': 1, 'rows': 1}",
        "{'row_id': 42, 'k': 'key042'}",
    ]
    assert lookup("nokey") == ["{'chunks_total': 4, 'chunks_decoded': 0, 'rows': 0}"]
    assert persisted().size() == before
