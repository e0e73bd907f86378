"""Spark job-count pins for the graph family.

Each query's jobs carry a job tag for the span of building it and
collecting its result (``fn(spark, sf_dir).collect()``), so eager actions
inside the query function — checkpoints, gate counts, loop rounds,
driver-side collects — count as well as the final one. A query whose
count moves fails here, in the suite, instead of as a drift in a
benchmark on a noisy host: a change that cuts jobs lowers its pin, and
one that adds jobs says why when it raises it.

The counts are exact: two sweeps in separate sessions gave the same
numbers. They are taken at the test scale (sf0.001), where every graph
below is far under ``graph.LOCAL_GRAPH_MAX_EDGES`` and so runs its
driver-local path; :data:`DISTRIBUTED_JOB_PINS` counts the same queries
with the gate patched to 0, so their distributed loops (the path the
sf1 slice takes) are pinned too.
"""

from __future__ import annotations

import itertools
from unittest import mock

import pytest

from amadou_spark.operators import graph
from amadou_spark.queries import REGISTRY, _load

#: query -> Spark jobs for build + collect at sf0.001
JOB_PINS: dict[str, int] = {
    "q70_pagerank": 3,
    "q97_bfs_levels": 4,
    "q98_kcore": 4,
    "q102_sssp": 3,
    "q150_label_propagation": 4,
    "q159_hits": 3,
    # connected-components-backed dedup: the candidate-pair build
    # dominates; components add one bounded collect
    "llm_dedup_clusters": 11,
    "llm_dedup_keep_best": 15,
    "llm_dedup_cluster_stats": 11,
    "llm_split_leakage_safe": 14,
}


#: query -> Spark jobs for build + collect at sf0.001 with the local
#: graph gate at 0. The loops run under AQE, which runs each shuffle
#: stage as its own job, so a round costs several jobs.
DISTRIBUTED_JOB_PINS: dict[str, int] = {
    "q70_pagerank": 22,
    "q97_bfs_levels": 44,
    "q98_kcore": 39,
    "q102_sssp": 22,
    "q150_label_propagation": 17,
    "q159_hits": 23,
    "llm_dedup_clusters": 63,
    "llm_dedup_keep_best": 65,
    "llm_dedup_cluster_stats": 65,
    "llm_split_leakage_safe": 64,
}

_tags = itertools.count()


def count_jobs(spark, name: str, sf_dir: str) -> int:
    """Spark jobs run while building and collecting query ``name``."""
    sc = spark.sparkContext
    # a tag keeps every job it ever tagged, so each count gets its own
    tag = f"job-pin-{name}-{next(_tags)}"
    sc.addJobTag(tag)
    try:
        REGISTRY[name].fn(spark, sf_dir).collect()
    finally:
        sc.removeJobTag(tag)
    jsc = sc._jsc.sc()
    # the status store is filled by the asynchronous listener bus
    jsc.listenerBus().waitUntilEmpty()
    return len(jsc.statusTracker().getJobIdsForTag(tag))


def _registered(spark, sf_dir):
    from amadou_spark.catalog import register_tables

    _load()
    # table registration is not the query's work: its first call in a
    # process may infer parquet schemas, which runs jobs
    register_tables(spark, sf_dir)


@pytest.mark.parametrize("name", sorted(JOB_PINS))
def test_job_count_pinned(spark, sf_dir, name):
    _registered(spark, sf_dir)
    assert count_jobs(spark, name, sf_dir) == JOB_PINS[name]


@pytest.mark.parametrize("name", sorted(DISTRIBUTED_JOB_PINS))
def test_distributed_job_count_pinned(spark, sf_dir, name):
    _registered(spark, sf_dir)
    with mock.patch.object(graph, "LOCAL_GRAPH_MAX_EDGES", 0):
        assert count_jobs(spark, name, sf_dir) == DISTRIBUTED_JOB_PINS[name]
