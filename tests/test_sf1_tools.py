"""The sf1 tools: ``tools/sf1_slice.py`` builds 10 key-shifted disjoint
replicas whose foreign keys join within their own replica, and
``tools/bench_sf1.py`` merges a subset run into its artifact by fixed
rules. Slice contents are counted with DuckDB, independently of the
Spark that wrote them."""

from __future__ import annotations

import os

import duckdb
import pytest

from tools.bench_sf1 import merge_subset
from tools.sf1_slice import MARKER, REPLICAS, SHIFTS, ensure_sf1

#: replicated table -> a key that is unique per replica in TPC-H terms
KEYS = {
    "lineitem": "l_orderkey, l_linenumber",
    "orders": "o_orderkey",
    "customer": "c_custkey",
    "part": "p_partkey",
    "supplier": "s_suppkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

JOINS = {
    "lineitem-orders": "lineitem JOIN orders ON l_orderkey = o_orderkey",
    "lineitem-part": "lineitem JOIN part ON l_partkey = p_partkey",
    "lineitem-supplier": "lineitem JOIN supplier ON l_suppkey = s_suppkey",
    "orders-customer": "orders JOIN customer ON o_custkey = c_custkey",
}


def _count(sf_dir: str, sql: str) -> int:
    """Run ``SELECT count(...) FROM <sql>`` with each table name bound
    to its parquet file or directory under ``sf_dir``."""
    con = duckdb.connect()
    for name in os.listdir(sf_dir):
        if name.endswith(".parquet"):
            path = os.path.join(sf_dir, name)
            glob = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
            con.execute(
                f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{glob}')"
            )
    return con.execute(sql).fetchone()[0]


def _files(root: str) -> dict[str, int]:
    return {
        os.path.join(d, f): os.lstat(os.path.join(d, f)).st_mtime_ns
        for d, _, fs in os.walk(root)
        for f in fs
    }


@pytest.fixture(scope="module")
def sf1(spark, sf_dir, tmp_path_factory):
    dst = str(tmp_path_factory.mktemp("slice") / "sf1")
    ensure_sf1(spark, src=sf_dir, dst=dst)
    return dst


def test_slice_sizes(sf1, sf_dir):
    assert set(KEYS) == set(SHIFTS)
    for table, key in KEYS.items():
        for sql in (
            f"SELECT count(*) FROM {table}",
            f"SELECT count(DISTINCT ({key})) FROM {table}",
        ):
            assert _count(sf1, sql) == REPLICAS * _count(sf_dir, sql), sql


@pytest.mark.parametrize("join", sorted(JOINS))
def test_foreign_keys_join_within_their_replica(sf1, sf_dir, join):
    sql = f"SELECT count(*) FROM {JOINS[join]}"
    assert _count(sf1, sql) == REPLICAS * _count(sf_dir, sql) > 0


def test_replicas_keep_sampling_and_value_domains_disjoint(sf1, sf_dir):
    for sql in (
        "SELECT count(*) FROM lineitem WHERE l_orderkey % 5 = 0",
        "SELECT count(DISTINCT text) FROM documents",
        "SELECT count(DISTINCT label) FROM embeddings",
        "SELECT count(DISTINCT s_name) FROM supplier",
        "SELECT count(DISTINCT c_name) FROM customer",
    ):
        assert _count(sf1, sql) == REPLICAS * _count(sf_dir, sql) > 0, sql


def test_fixed_size_tables_link_to_the_source(sf1, sf_dir):
    for table in ("nation", "region"):
        path = os.path.join(sf1, f"{table}.parquet")
        assert os.path.islink(path)
        assert os.path.realpath(path) == os.path.realpath(
            os.path.join(sf_dir, f"{table}.parquet")
        )


def test_rebuild_writes_only_unfinished_tables(spark, sf1, sf_dir):
    before = _files(sf1)
    ensure_sf1(spark, src=sf_dir, dst=sf1)
    assert _files(sf1) == before

    os.remove(os.path.join(sf1, "supplier.parquet", "_SUCCESS"))
    ensure_sf1(spark, src=sf_dir, dst=sf1)
    after = _files(sf1)
    assert os.path.join(sf1, "supplier.parquet", "_SUCCESS") in after
    untouched = {
        p: t
        for p, t in before.items()
        if "supplier.parquet" not in p and not p.endswith(MARKER)
    }
    assert {p: after[p] for p in untouched} == untouched
    sql = "SELECT count(*) FROM lineitem JOIN supplier ON l_suppkey = s_suppkey"
    assert _count(sf1, sql) == REPLICAS * _count(sf_dir, sql)


ROW = {"sf0_1_sec": 1.0, "sf1_sec": 5.0, "ratio": 5.0}
NEW = {"sf0_1_sec": 2.0, "sf1_sec": 4.0, "ratio": 2.0}


def test_merge_drops_the_stale_row_of_a_query_that_now_errors():
    prior = {"queries": {"a": ROW, "b": ROW}, "errors": {}}
    rows, errors = merge_subset(prior, {}, {"a": "boom"}, ["a"])
    assert rows == {"b": ROW}
    assert errors == {"a": "boom"}


def test_merge_clears_the_old_error_of_a_query_that_now_passes():
    prior = {"queries": {"b": ROW}, "errors": {"a": "boom"}}
    rows, errors = merge_subset(prior, {"a": NEW}, {}, ["a"])
    assert rows == {"a": NEW, "b": ROW}
    assert errors == {}


def test_merge_keeps_rows_and_errors_of_queries_the_run_did_not_touch():
    prior = {"queries": {"b": ROW, "c": ROW}, "errors": {"d": "old"}}
    rows, errors = merge_subset(prior, {"c": NEW}, {"e": "new"}, ["c", "e"])
    assert rows == {"b": ROW, "c": NEW}
    assert errors == {"d": "old", "e": "new"}
