"""Plan-hygiene pins, starting with the broadcast fixes.

Two queries used to force-broadcast a corpus-dependent table
(`llm_dedup_lines`: the duplicated-chunk set; `llm_quality_unigram_logprob`:
the token-frequency vocabulary). Both tables grow with corpus size, so a
broadcast *hint* is a latent 100 TB OOM even though it works at test scale.
These tests pin the fix: no broadcast hint survives analysis, and no
shuffle/broadcast exchange ever carries the `text` column — only hash /
token / id columns go wide. AQE remains free to pick broadcast at runtime
when the observed size fits; that is size-based, not forced, and is exactly
the behavior we want.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest

from amadou_spark.oracle import (
    SP_ALLOWLIST,
    cartesian_flags,
    single_partition_flags,
)
from amadou_spark.queries import REGISTRY, _load


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _exchange_blocks(formatted: str) -> list[str]:
    """Node blocks (header + Input/Arguments lines) for every exchange."""
    blocks, cur = [], None
    for line in formatted.splitlines():
        if re.match(r"\(\d+\) ", line):
            if cur is not None:
                blocks.append("\n".join(cur))
            cur = [line]
        elif cur is not None:
            if line.strip() == "":
                blocks.append("\n".join(cur))
                cur = None
            else:
                cur.append(line)
    if cur is not None:
        blocks.append("\n".join(cur))
    return [b for b in blocks if "Exchange" in b.splitlines()[0]]


@pytest.mark.parametrize(
    "name", ["llm_dedup_lines", "llm_quality_unigram_logprob"]
)
def test_no_broadcast_hint(spark, sf_dir, name):
    """The analyzed plan carries no ResolvedHint: join strategy is left
    to size statistics / AQE, never forced."""
    _load()
    df = REGISTRY[name].fn(spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    n_hints = analyzed.count("ResolvedHint")
    if name == "llm_quality_unigram_logprob":
        # the 1-row corpus `total` is a structurally-bounded broadcast
        # and keeps its hint; the vocabulary join must not have one
        assert n_hints <= 1, analyzed[:2000]
        hinted = [
            ln for ln in analyzed.splitlines() if "ResolvedHint" in ln
        ]
        for ln in hinted:
            assert "tok" not in ln, analyzed[:2000]
    else:
        assert n_hints == 0, analyzed[:2000]


@pytest.mark.parametrize(
    "name", ["llm_dedup_lines", "llm_quality_unigram_logprob"]
)
def test_no_document_text_through_exchanges(spark, sf_dir, name):
    """No exchange (shuffle or broadcast) carries the raw `text` column:
    only fixed-width hashes, tokens and ids go wide. This is the property
    that makes the op scale-safe regardless of join strategy."""
    _load()
    df = REGISTRY[name].fn(spark, sf_dir)
    formatted = _formatted_plan(df)
    exchanges = _exchange_blocks(formatted)
    assert exchanges, formatted[:2000]  # plans do shuffle on the keys
    for block in exchanges:
        assert not re.search(r"\btext#", block), block


@pytest.mark.parametrize(
    "name", ["q96_triangle_count", "q99_link_prediction"]
)
def test_graph_wedge_joins_are_equi(query_run, name):
    """The wedge generators must plan as hash/sort-merge EQUI-joins on
    the shared center node — a CartesianProduct here means the equi-key
    was lost and the query is O(m^2) at scale. q96's two 1-row
    aggregate crossJoins legitimately plan as BroadcastNestedLoopJoin
    (Cross, 1-row build side), so only Inner/outer BNLJs are banned."""
    plan = query_run(name).plan
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "Cross" in line, f"non-cross BNLJ in {name}: {line}"
    # the wedge self-join survived as an equi-join
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_no_single_partition_sorts_outside_allowlist(query_run):
    """An unpartitioned window/global rank executes as
    `Exchange SinglePartition` + a ONE-TASK sort of its whole input —
    invisible to local benches and linear scale probes (single-task
    time scales linearly too; the failure mode is lost parallelism and
    per-task memory at cluster scale). This reads every registry
    query's executed plan and fails on any SinglePartition exchange
    feeding a Sort/Window, except the enumerated allowlist of
    provably-BOUNDED grains (value-domain tables, duration grids,
    bounded histogram tables — see oracle.SP_ALLOWLIST). This is
    the detector whose absence let llm_curriculum_order's docs claim a
    range-partitioned plan its executed plan did not have. The same
    sweep pins the registry-wide no-CartesianProduct invariant."""
    _load()
    runs = [query_run(name) for name in sorted(REGISTRY)]
    failed = {r.name: r.error for r in runs if r.error is not None}
    cartesian = [r.name for r in runs if cartesian_flags(r)]
    bad = {
        r.name: hits
        for r in runs
        if r.name not in SP_ALLOWLIST and (hits := single_partition_flags(r))
    }
    assert not failed, f"queries failed: {failed}"
    assert not cartesian, f"CartesianProduct in: {cartesian}"
    assert not bad, f"unallowlisted SinglePartition sorts: {bad}"


def test_allowlisted_single_partition_queries_still_flag(query_run):
    """The allowlist entries must stay HONEST: each names a query whose
    plan really does contain a SinglePartition sort/window (over its
    documented bounded grain). If a rewrite removes the pattern, the
    entry must be deleted — a stale allowlist would mask a future
    regression on that query."""
    for name in SP_ALLOWLIST:
        run = query_run(name)
        assert run.error is None, f"{name}: {run.error}"
        assert not single_partition_flags(run), (
            f"{name} is allowlisted but its plan has no SinglePartition "
            "sort — remove the stale entry"
        )


def test_date_partition_pruning_reaches_scan(spark, tmp_path):
    """A date filter over a date-partitioned table must become a
    PartitionFilters entry on the scan (directory pruning — at 100 TB
    this is the difference between listing one partition and scanning
    the table). Written via io.write_date_partition, read back with an
    equality filter: the plan shows the pruned partition filter and the
    scan reads only the matching partition's rows."""
    from pyspark.sql import functions as F

    from amadou_spark.dates import DateInterval
    from amadou_spark.io import write_date_partition

    root = str(tmp_path / "part_tbl")
    for day in ("2024-03-01", "2024-03-02", "2024-03-03"):
        df = spark.range(100).select(
            F.col("id"), F.lit(day).alias("tag")
        )
        write_date_partition(df, root, DateInterval.parse(day))

    got = spark.read.parquet(root).filter(F.col("date") == "2024-03-02")
    plan = _formatted_plan(got)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m is not None, plan
    assert "2024-03-02" in m.group(1), m.group(1)
    # only the one partition's rows are read
    assert got.count() == 100
    assert [r.tag for r in got.select("tag").distinct().collect()] == [
        "2024-03-02"
    ]


def test_deterministic_input_call_sites_are_audited():
    """`global_rank(deterministic_input=True)` skips the pinning
    materialize on a caller PROMISE that the input plan is
    per-partition order-stable — nothing enforces it at runtime, and a
    shuffle-parented nondeterministic input would produce silently
    wrong ranks that still look plausible (ADVICE r6). Keep the
    promise auditable: any new call site must be reviewed for the
    order-stability contract and added here."""
    import pathlib

    audited = {
        "amadou_spark/queries/tier_a.py",  # q20: raw file scan input
    }
    root = pathlib.Path(__file__).resolve().parents[1]
    found = set()
    for p in (root / "amadou_spark").rglob("*.py"):
        if p.name == "scale.py":  # the definition + docstring
            continue
        if "deterministic_input=True" in p.read_text():
            found.add(str(p.relative_to(root)))
    assert found == audited, (
        f"deterministic_input=True call sites changed: {found ^ audited}. "
        "Audit the new site's input for per-partition order stability "
        "(raw scan or checkpointed frame; never a chained global_rank) "
        "and update the audited set."
    )


def test_q20_rank_tail_preserves_partition_order(spark, sf_dir):
    """q20's global order contract (ADVICE r6): the offsets table must
    join back via BroadcastHashJoin with NO exchange between the range
    sort and the final sortWithinPartitions — a shuffle join there
    (broadcast threshold / AQE change) would silently break the global
    pos order that collect() relies on."""
    _load()
    df = REGISTRY["q20_sort_nulls"].fn(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    lines = plan.splitlines()
    top_sort = next(
        i for i, ln in enumerate(lines) if re.search(r"\bSort \[pos", ln)
    )
    # final sort is within-partition (global=false), not a range sort
    assert "false" in lines[top_sort]
    bhj = next(
        i for i, ln in enumerate(lines) if "BroadcastHashJoin" in ln
    )
    assert bhj > top_sort
    between = lines[top_sort + 1 : bhj]
    assert not any(
        "Exchange" in ln and "BroadcastExchange" not in ln
        for ln in between
    ), between
