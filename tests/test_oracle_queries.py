"""The t2 correctness gate, locally: every registered query with an
oracle must match DuckDB exactly (row count, columns, value multiset)
at sf0.001. The driver repeats this at sf0.01."""

from __future__ import annotations

import pytest

from amadou_spark.oracle import duckdb_connection, check_query
from amadou_spark.queries import REGISTRY, _load

_load()


@pytest.fixture(scope="module")
def con(sf_dir):
    return duckdb_connection(sf_dir)


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(query_run, con, name):
    result = check_query(con, query_run(name))
    assert result.ok, f"{name}: {result.detail}"


def test_gates_share_one_run_per_query(query_run, con):
    """Every registry gate reads the session's one record per query: a
    probe requested through three gates runs its query function once."""
    from amadou_spark.oracle import single_partition_flags
    from amadou_spark.queries import Query
    from amadou_spark.typeparity import type_flags

    calls = []

    def probe(s, d):
        calls.append(d)
        return s.range(3)

    name = "zz_test_run_once_probe"
    oracle = "SELECT range AS id FROM range(3)"
    REGISTRY[name] = Query(name, probe, oracle, "test-only run counter", ())
    try:
        assert check_query(con, query_run(name)).ok
        assert type_flags(con, query_run(name)) == []
        assert single_partition_flags(query_run(name)) == []
    finally:
        REGISTRY.pop(name, None)
    assert len(calls) == 1


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(e.oracle_sql()) <= set(e.queries())


@pytest.mark.parametrize("argv", [["--round"], ["--round", "x", "q1"], ["q1", "--round", "1.5"]])
def test_check_sf1_round_must_be_an_integer(monkeypatch, argv):
    """tools/check_sf1.py exits with a message naming --round instead of
    a bare IndexError / unnamed ValueError."""
    import sys

    from tools import check_sf1

    monkeypatch.setattr(sys, "argv", ["check_sf1.py", *argv])
    with pytest.raises(SystemExit, match="--round"):
        check_sf1.main()
