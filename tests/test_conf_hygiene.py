"""Session-conf hygiene, registry-wide.

The bench regression class: an operator that mutates shared session
conf as a side effect (running_totals_stream used to flip the
state-store provider permanently) silently changes the environment
every LATER query runs under. Every registry query's shared
``query_run`` record carries the full before/after diff of the
session's SQL conf (``oracle.conf_snapshot``: every explicitly-set key
except the documented one-way ``spark.sql.legacy.parquet.nanosAsLong``),
so any leak turns into a red test naming the key, not a bench-drift
mystery two rounds later. The streaming family, where the class was
found, keeps its own parametrization.
"""

from __future__ import annotations

import pytest

from amadou_spark.queries import REGISTRY, Query, _load

_load()

STREAMING = [
    "b06_sliding_batch",
    "b06_stream_daily_rollup",
    "b06_tumbling_stream",
    "b07_session_windows",
    "b07_stateful_counts",
    "b07_stream_dedup",
    "b07_stream_upsert",
    "b07_tws_running_totals",
    "b08_stream_static_join",
    "b09_stream_stream_join",
    "b09_stream_stream_left_outer",
    "b09_stream_stream_full_outer",
    "b09_chained_join_window",
]


def test_check_all_flags_and_restores_a_conf_leak(spark, sf_dir):
    """r10 (review): the registry-wide conf gate must (a) fail the
    leaking row naming the key AND (b) restore the pre-query conf, so
    one leaky query can't silently change the environment every later
    row in the sweep runs (and is measured) under."""
    from amadou_spark.oracle import check_all
    from amadou_spark.queries import REGISTRY, Query

    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key, None)

    def leaky(s, d):
        s.conf.set(key, "12345b")
        return s.range(3)

    name = "zz_test_leaky_conf"
    REGISTRY[name] = Query(name, leaky, None, "test-only leak probe", ())
    try:
        results = check_all(spark, sf_dir, [name])
    finally:
        REGISTRY.pop(name, None)
    assert len(results) == 1 and not results[0].ok
    assert "session conf leak" in results[0].detail
    assert key in results[0].detail
    assert spark.conf.get(key, None) == before  # blast radius contained


def _assert_no_leak(run) -> None:
    assert not run.conf_leak, f"{run.name} leaked session conf: {run.conf_leak}"


@pytest.mark.parametrize("name", STREAMING)
def test_streaming_query_leaves_session_conf_untouched(query_run, name):
    _assert_no_leak(query_run(name))


@pytest.mark.parametrize("name", sorted(set(REGISTRY) - set(STREAMING)))
def test_query_leaves_session_conf_untouched(query_run, name):
    _assert_no_leak(query_run(name))


def test_sweep_fails_a_conf_leak_naming_the_key_and_restores(spark, sf_dir):
    """The record-based gate keeps check_all's contract: a leak through
    the sweep fails the leaking query naming the key, and the session
    is back to its pre-query conf."""
    from amadou_spark.oracle import sweep

    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key, None)

    def leaky(s, d):
        s.conf.set(key, "12345b")
        return s.range(3)

    name = "zz_test_sweep_leak"
    REGISTRY[name] = Query(name, leaky, None, "test-only leak probe", ())
    try:
        (run,) = sweep(spark, sf_dir, [name])
    finally:
        REGISTRY.pop(name, None)
    assert run.conf_leak[key] == (before, "12345b")
    with pytest.raises(AssertionError, match=key):
        _assert_no_leak(run)
    assert spark.conf.get(key, None) == before
