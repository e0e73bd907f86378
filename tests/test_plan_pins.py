"""Executed-plan signature pins.

The bench catches a plan regression only as a timing drift on a noisy
VM; these pins make the SUITE fail instead. For the most expensive /
most plan-claim-bearing queries we assert the structural properties
their PLANS.md entries promise — a silent broadcast->sort-merge flip, a
reintroduced single-partition sort, a lost TakeOrderedAndProject, or a
new cartesian product turns into a red test, not a 1.4x bench mystery.

Pins are written against the FINAL AQE plan (collect() first, then
``executedPlan().toString()`` truncated at the "Initial Plan" section)
and use only properties that hold at ANY scale factor: absence lists
always, minimum operator counts only where the plan shape guarantees
them structurally (a 6-way dim join has >= 5 joins at any sf). How a
driver-side result plans depends on what PySpark's createDataFrame is
given: q164's list of tuples plans through applySchemaToPythonRDD as a
`Scan ExistingRDD`, while a pandas frame goes through Arrow and plans
as a LocalRelation (`LocalTableScan`), as the graph operators' local
results do. Exact counts are deliberately avoided — AQE may legally
specialize empty branches at tiny sf.
"""

from __future__ import annotations

import re

import pytest

from amadou_spark.queries import REGISTRY, _load

#: name -> (forbidden substrings, {substring: min count})
PINS: dict[str, tuple[list[str], dict[str, int]]] = {
    # 6-way join showcase: every dim side broadcasts, never sort-merge
    "q29_tpch_q5": (
        ["SortMergeJoin", "CartesianProduct", "Exchange SinglePartition"],
        {"BroadcastHashJoin": 5},
    ),
    # flagship agg: pure scan->partial->final agg, no join, no 1-task sort
    "q13_tpch_q1": (
        [
            "SortMergeJoin",
            "CartesianProduct",
            "Exchange SinglePartition",
            "BroadcastNestedLoopJoin",
        ],
        {"HashAggregate": 2},
    ),
    # RFM census: lookup tables are LocalRelations joined broadcast;
    # the only sorts are the <=3-boundary-run windows
    "q118_rfm_segments": (
        ["SortMergeJoin", "CartesianProduct", "Exchange SinglePartition"],
        {"BroadcastHashJoin": 3, "LocalTableScan": 3},
    ),
    # price deciles: the $1000-grid lookup table is a LocalRelation
    # joined broadcast; only the <=9 boundary runs reach a window
    "q160_price_decile_bands": (
        [
            "BroadcastNestedLoopJoin",
            "CartesianProduct",
            "Exchange SinglePartition",
        ],
        {"LocalTableScan": 1},
    ),
    # r10: the 8 power iterations run driver-side over the collected
    # bounded |types|^2 matrix, so the returned plan is the local
    # stationary vector renormalized against a 1-row broadcast
    # aggregate — no distributed join may reappear. (SinglePartition is
    # NOT forbidden here: the |states|-row final sort and the 1-row
    # renormalization aggregate are allowlisted bounded grains —
    # oracle.SP_ALLOWLIST owns that nuance.)
    "q164_markov_stationary": (
        ["SortMergeJoin", "CartesianProduct", "BroadcastHashJoin"],
        {"Scan ExistingRDD": 1},
    ),
    # graph fixpoints: below graph.LOCAL_GRAPH_MAX_EDGES (every test
    # scale) the rounds run on the driver and the final plan is the
    # sorted one-partition LocalRelation of the result — no join, and
    # no single-partition exchange for the final sort
    "q102_sssp": (
        ["SortMergeJoin", "CartesianProduct", "Exchange SinglePartition"],
        {"LocalTableScan": 1},
    ),
    "q98_kcore": (
        ["SortMergeJoin", "CartesianProduct", "Exchange SinglePartition"],
        {"LocalTableScan": 1},
    ),
    "q97_bfs_levels": (
        ["SortMergeJoin", "CartesianProduct", "Exchange SinglePartition"],
        {"LocalTableScan": 1},
    ),
    "q150_label_propagation": (
        ["SortMergeJoin", "CartesianProduct", "Exchange SinglePartition"],
        {"LocalTableScan": 1},
    ),
    # wedge self-join after r8/r9 hash-never-sort gating: broadcast or
    # shuffle_hash, never sort-merge; the scalar triangle total's final
    # 1-row aggregate is an allowlisted bounded SinglePartition
    "q99_link_prediction": (
        ["SortMergeJoin", "CartesianProduct"],
        {"TakeOrderedAndProject": 1},
    ),
    # degree-oriented wedge join; the BNLJ legs are broadcast bounded
    # aggregates and the global count is a 1-row agg — only a true
    # cartesian would be a regression
    "q96_triangle_count": (
        ["CartesianProduct"],
        {},
    ),
    "llm_dedup_keep_best": (
        ["CartesianProduct", "Exchange SinglePartition"],
        {},
    ),
    # r9: the bucketized range join must stay an equi-join on the
    # bucket key — a naive theta-join regression would plan as
    # BroadcastNestedLoopJoin/CartesianProduct
    "q168_range_join_bucketed": (
        ["CartesianProduct", "BroadcastNestedLoopJoin", "Exchange SinglePartition"],
        {},
    ),
    # r9: bitmap rollup is two hash aggregations and NO join at all
    "q169_bitmap_distinct_rollup": (
        [
            "SortMergeJoin",
            "BroadcastHashJoin",
            "ShuffledHashJoin",
            "BroadcastNestedLoopJoin",
            "CartesianProduct",
            "Exchange SinglePartition",
        ],
        {"HashAggregate": 2},
    ),
    # local HITS: the L1 normalization happens on the driver too, so
    # the final plan is the sorted LocalRelation of the scores
    "q159_hits": (
        ["SortMergeJoin", "CartesianProduct", "Exchange SinglePartition"],
        {"LocalTableScan": 1},
    ),
    "llm_split_leakage_safe": (
        ["CartesianProduct", "Exchange SinglePartition"],
        {},
    ),
    # BM25: scoring is per-row arithmetic off a 1-row broadcast — a
    # reintroduced fact-grain join would resurface as sort-merge
    # (the 1-row df/n/avgdl fold is an allowlisted bounded
    # SinglePartition aggregate — not pinned away)
    "llm_text_bm25": (
        ["SortMergeJoin", "CartesianProduct"],
        {"TakeOrderedAndProject": 1},
    ),
    # r10 (VERDICT r9 #4): the one above-drift r9 bench mover. Its
    # PLANS.md shape: MG candidates from mapInPandas, recount behind a
    # BROADCAST semi-join (the only fact-grain join — pinned broadcast,
    # a sort-merge flip here is exactly the drift the pin kills), then
    # a crossJoin against the broadcast 1-ROW total (BNLJ over one row
    # + its SinglePartition fold are allowlisted bounded grains)
    "q115_heavy_hitters": (
        ["SortMergeJoin", "CartesianProduct"],
        {"BroadcastHashJoin": 1, "HashAggregate": 2},
    ),
    # r10 (VERDICT r9 #6): composes checkpointed ngram-LSH +
    # star-contraction; the FINAL plan reads the checkpointed cluster
    # table and aggregates at bounded histogram grain — join-free, no
    # single-partition stage at all
    "llm_dedup_cluster_stats": (
        [
            "SortMergeJoin",
            "BroadcastHashJoin",
            "ShuffledHashJoin",
            "BroadcastNestedLoopJoin",
            "CartesianProduct",
            "Exchange SinglePartition",
        ],
        {"HashAggregate": 2},
    ),
    # r10 (VERDICT r9 #6): itemset joins ride broadcast (pair/item
    # count tables are frequency-capped); the 1-row n_transactions
    # crossJoin (BNLJ) + its fold are allowlisted bounded grains; the
    # top-k is separately pinned heap-based in TOPK_PINNED
    "q120_association_rules": (
        ["SortMergeJoin", "CartesianProduct"],
        {"BroadcastHashJoin": 2},
    ),
    # r10: histogram rollup mirrors q169's shape — the final plan reads
    # the checkpointed (type, day, bucket) histogram for BOTH grains
    # and must stay join-free with no single-partition stage
    "q170_histogram_quantile_rollup": (
        [
            "SortMergeJoin",
            "BroadcastHashJoin",
            "ShuffledHashJoin",
            "BroadcastNestedLoopJoin",
            "CartesianProduct",
            "Exchange SinglePartition",
        ],
        {"Window": 4},
    ),
    # r10 (VERDICT r9 #6): PQ ADC scoring joins only against broadcast
    # bounded sides (codebooks, anchor queries); ground-truth recall
    # compare rides broadcast too. BNLJ legs are 1-row/bounded
    # broadcast aggregates, never a fact-grain loop
    "llm_similarity_pq_recall": (
        ["SortMergeJoin", "CartesianProduct"],
        {"BroadcastHashJoin": 1},
    ),
}

#: top-k claimants (PLANS.md "TakeOrderedAndProject, no global sort"):
#: resolved dynamically because the registry names differ per family
TOPK_PINNED = ["q19_top_k", "q120_association_rules"]


def _final_plan(query_run, name) -> str:
    # the shared record reads the plan after collect(): the real AQE
    # final plan, not the template
    run = query_run(name)
    assert run.error is None, f"{name}: {run.error}"
    return run.plan.split("Initial Plan")[0]


@pytest.mark.parametrize("name", sorted(PINS))
def test_plan_signature(query_run, name):
    forbidden, mins = PINS[name]
    plan = _final_plan(query_run, name)
    for bad in forbidden:
        assert bad not in plan, f"{name}: {bad} entered the plan\n{plan[:3000]}"
    for op, n in mins.items():
        found = len(re.findall(re.escape(op), plan))
        assert found >= n, (
            f"{name}: expected >= {n} {op}, found {found}\n{plan[:3000]}"
        )


@pytest.mark.parametrize("name", TOPK_PINNED)
def test_topk_stays_heap_based(query_run, name):
    """LIMIT+ORDER must plan as TakeOrderedAndProject (per-partition
    heaps); a global range-sort would be an Exchange rangepartitioning
    + Sort over the full input."""
    _load()
    if name not in REGISTRY:
        pytest.skip(f"{name} not registered")
    plan = _final_plan(query_run, name)
    assert "TakeOrderedAndProject" in plan, plan[:3000]
    assert "Exchange rangepartitioning" not in plan, plan[:3000]
