"""Session factory: SPARK_GRAFT_CPUS and SPARK_GRAFT_DRIVER_MEM are
validated where the session is built, naming the variable, instead of
failing deep inside Spark; the codegen cache holds a repeated query's
compiled classes."""

from __future__ import annotations

import pytest

from amadou_spark.session import (
    default_driver_memory,
    default_master,
    driver_memory,
    get_spark,
)


@pytest.mark.parametrize(
    ("var", "value"),
    [
        pytest.param("SPARK_GRAFT_CPUS", "", id=""),
        pytest.param("SPARK_GRAFT_CPUS", "0", id="0"),
        pytest.param("SPARK_GRAFT_CPUS", "abc", id="abc"),
        pytest.param("SPARK_GRAFT_DRIVER_MEM", "lots", id="driver_mem-lots"),
        pytest.param("SPARK_GRAFT_DRIVER_MEM", "", id="driver_mem-empty"),
        pytest.param("SPARK_GRAFT_DRIVER_MEM", "2.5g", id="driver_mem-2.5g"),
        pytest.param("SPARK_GRAFT_DRIVER_MEM", "-1g", id="driver_mem--1g"),
        pytest.param("SPARK_GRAFT_DRIVER_MEM", "4gbb", id="driver_mem-4gbb"),
    ],
)
def test_bad_cpus_env_fails_when_the_session_is_built(monkeypatch, var, value):
    monkeypatch.setenv(var, value)
    with pytest.raises(ValueError, match=var):
        get_spark("amadou-bad-env")


@pytest.mark.parametrize("value", ["512m", "2G", "4gb", "1024", "1Tb"])
def test_driver_mem_env_accepts_spark_sizes(monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", value)
    assert driver_memory() == value
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    assert driver_memory() == default_driver_memory()


def test_default_driver_memory_is_half_of_physical_capped_at_32g(monkeypatch):
    """Unset, the driver heap is half of physical memory in whole GiB,
    at least 1g and at most 32g: a 32g heap on a 15 GB host let the JVM
    outgrow the host."""
    import os

    gib = 2**30
    for phys, want in [(15 * gib, "7g"), (128 * gib, "32g"), (1 * gib, "1g")]:
        sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys // 4096}
        monkeypatch.setattr(os, "sysconf", sizes.__getitem__)
        assert default_driver_memory() == want


def test_cpus_env_sets_the_local_master(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_master() == "local[3]"
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert default_master() == "local[*]"


def test_repeated_queries_compile_no_new_classes(spark, sf_dir):
    """The iterative benchmark's four queries, run again in the same
    session, find their generated classes in Spark's codegen cache:
    Janino runs 0 times. With Spark's default cache of 100 classes every
    repeat recompiled 104-105 of the 134 at sf0.001."""
    from amadou_spark.metrics import MetricsCollector
    from amadou_spark.oracle import run_query

    names = [
        "q150_label_propagation",
        "llm_dedup_minhash",
        "b06_tumbling_stream",
        "llm_similarity_topk",
    ]
    collector = MetricsCollector(spark)

    def compiles_in_one_round() -> float:
        before = collector.codegen_compiles()["codegen_compiles"]
        for name in names:
            assert run_query(spark, name, sf_dir).error is None, name
        return collector.codegen_compiles()["codegen_compiles"] - before

    compiles_in_one_round()
    # A repeat may still meet a plan no earlier round produced: AQE takes
    # a broadcast join's build side from whichever shuffle stage finishes
    # first, so q150's label join has two shapes, each compiled once.
    repeats = []
    while len(repeats) < 3 and 0 not in repeats:
        repeats.append(compiles_in_one_round())
    assert 0 in repeats, f"compiles per repeated round: {repeats}"
