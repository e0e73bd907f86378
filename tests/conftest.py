from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    """Shared local SparkSession (the reference's SparkJobSuiteBase
    pattern: one session per suite, SparkJobSuiteBase.scala:29-49)."""
    from amadou_spark.session import get_spark

    spark = get_spark("amadou-tests", conf={"spark.sql.shuffle.partitions": "8"})
    yield spark


@pytest.fixture(scope="session")
def both_paths():
    """``both_paths(fn)`` -> ``(fn() on the driver-local graph path,
    fn() on the distributed loops)``. The graph operators pick their
    path by ``graph.LOCAL_GRAPH_MAX_EDGES``, read at call time, so the
    second call patches it to 0 (every test graph is far below the real
    gate). Session-scoped because hypothesis rejects function-scoped
    fixtures; the patch lives only inside the call."""
    from unittest import mock

    from amadou_spark.operators import graph

    def run(fn):
        local = fn()
        with mock.patch.object(graph, "LOCAL_GRAPH_MAX_EDGES", 0):
            return local, fn()

    return run


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def query_run(spark, sf_dir):
    """``query_run(name)`` -> that registry query's
    :class:`amadou_spark.oracle.QueryRun` at ``sf_dir``. Each query is
    built and run once per session; every registry gate (oracle, type
    parity, conf leak, plan hygiene and pins) reads the same record."""
    from amadou_spark.oracle import run_query

    runs: dict = {}

    def get(name: str):
        if name not in runs:
            runs[name] = run_query(spark, name, sf_dir)
        return runs[name]

    return get
