"""Local replica of the driver's correctness gate.

Every registered query is built and run ONCE (:func:`run_query`, over
the registry :func:`sweep`) into a :class:`QueryRun` record of plain
data. Each per-query gate is a function of that record:

- :func:`check_query`: the DuckDB oracle compare — row count, column
  names and an order-insensitive value multiset. Exact equality is
  required (the driver hashes values); a separate "close" verdict
  distinguishes float-noise from real bugs when something does mismatch;
- :func:`amadou_spark.typeparity.type_flags`: output-type parity;
- the session-conf diff the record carries (``conf_leak``);
- :func:`single_partition_flags` over :data:`SP_ALLOWLIST` and
  :func:`cartesian_flags`: plan hygiene of the executed plan.

:func:`check_all` applies all of them.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field
from typing import Iterator

import duckdb
from pyspark.sql import SparkSession

from amadou_spark.catalog import table_path
from amadou_spark.contracts import TABLE_NAMES
from amadou_spark.queries import REGISTRY, _load
from amadou_spark.session import restore_conf


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Views named exactly like the driver pre-registers them.

    Handles both layouts: the driver's single-file tables AND
    Spark-written directory tables (part-*.parquet under the path) —
    the latter appear when the gate runs against synthesized slices
    like scale_probe_data/sf1."""
    import os

    con = duckdb.connect()
    for name in TABLE_NAMES:
        p = table_path(sf_dir, name)
        if os.path.isdir(p):
            p = f"{p}/**/*.parquet"
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')"
        )
    return con


def _canon(value: object, signed: bool = False) -> object:
    """Canonicalize a cell for multiset comparison. ``signed=True``
    keeps the -0.0 / +0.0 distinction (the driver's value hash does)."""
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        # repr(-0.0) == '-0.0'; `+ 0.0` collapses the sign when unsigned
        return repr(value if signed else value + 0.0)
    if isinstance(value, list):
        return tuple(_canon(v, signed) for v in value)
    return value


def multiset(columns, rows, signed: bool = False) -> list[tuple]:
    """Order-insensitive value multiset of a result: columns sorted by
    name (the driver's compare does the same), cells :func:`_canon`-ed,
    rows sorted by ``repr``."""
    ix = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(
        (tuple(_canon(r[i], signed) for i in ix) for r in rows), key=repr
    )


def _close(a: object, b: object, tol: float = 1e-9) -> bool:
    if isinstance(a, str) and isinstance(b, str):
        return a == b
    try:
        fa, fb = float(a), float(b)  # type: ignore[arg-type]
        return math.isclose(fa, fb, rel_tol=tol, abs_tol=tol)
    except (TypeError, ValueError):
        return a == b


# Keys a query function may set ONE-WAY as a documented engine-level
# behavior (not a leak). nanosAsLong: catalog.load_table /
# read_events_stream widen what parquet footers the session can read —
# deliberately sticky, see tests/test_conf_hygiene.py.
CONF_ONE_WAY = {"spark.sql.legacy.parquet.nanosAsLong"}


def conf_snapshot(spark: SparkSession) -> dict:
    """Full snapshot of every EXPLICITLY-SET SQL conf key (``SET``
    lists session-set + spark-defaults keys), minus the documented
    one-way keys. Any key a query sets and fails to restore shows up
    in a before/after diff — no allowlist of 'keys we thought of'."""
    rows = spark.sql("SET").collect()
    return {r.key: r.value for r in rows if r.key not in CONF_ONE_WAY}


@dataclass(frozen=True)
class QueryRun:
    """One registry query, built and run once, as plain data. It never
    holds the DataFrame, so it pins no cached or checkpointed blocks."""

    name: str
    columns: tuple[str, ...]
    rows: tuple  # the collected Rows
    types: dict[str, str]  # column -> Spark type simpleString
    plan: str  # executedPlan().toString(), read after collect()
    conf_leak: dict[str, tuple]  # key -> (before, after)
    error: str | None = None


def run_query(spark: SparkSession, name: str, sf_dir: str) -> QueryRun:
    """Build and collect one registered query and record it. A raised
    exception is recorded, not propagated. Any session SQL conf the
    query leaves changed is recorded in ``conf_leak`` and then restored,
    so the leak is attributed to this query only — without the rollback
    every later query runs under the leaked setting (its before-snapshot
    already includes the leak, so it passes while silently measuring a
    different plan)."""
    _load()
    before = conf_snapshot(spark)
    columns, rows, types, plan, error = (), (), {}, "", None
    try:
        df = REGISTRY[name].fn(spark, sf_dir)
        columns = tuple(df.columns)
        types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        rows = tuple(df.collect())
        # read after collect() on THIS DataFrame: the final AQE plan
        # (.count() would wrap a new plan and leave this one's template)
        plan = df._jdf.queryExecution().executedPlan().toString()
    except Exception as exc:  # the gates report it, naming the query
        error = f"{type(exc).__name__}: {exc}"
    after = conf_snapshot(spark)
    leak = {
        k: (before.get(k), after.get(k))
        for k in before.keys() | after.keys()
        if before.get(k) != after.get(k)
    }
    restore_conf(spark, {k: old for k, (old, _) in leak.items()})
    return QueryRun(name, columns, rows, types, plan, leak, error)


def sweep(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> Iterator[QueryRun]:
    """:func:`run_query` over the named queries (default: the whole
    registry, sorted), one record at a time."""
    _load()
    for name in names or sorted(REGISTRY):
        yield run_query(spark, name, sf_dir)


@dataclass
class CheckResult:
    name: str
    ok: bool
    detail: str = ""
    spark_rows: int = -1
    oracle_rows: int = -1
    #: gate name -> failure detail, for every gate that failed
    failed: dict[str, str] = field(default_factory=dict)


def check_query(con: duckdb.DuckDBPyConnection, run: QueryRun) -> CheckResult:
    """Oracle compare of one record against the query's DuckDB SQL."""
    name, s_cols, s_rows = run.name, run.columns, run.rows
    if run.error is not None:
        return CheckResult(name, False, f"EXCEPTION: {run.error}")
    q = REGISTRY[name]
    if q.oracle is None:
        return CheckResult(name, True, "no oracle (rows-only check)", len(s_rows), -1)

    cur = con.execute(q.oracle)
    o_cols = [d[0] for d in cur.description]
    o_rows = cur.fetchall()

    if sorted(s_cols) != sorted(o_cols):
        return CheckResult(
            name, False, f"column mismatch: spark={list(s_cols)} oracle={o_cols}",
            len(s_rows), len(o_rows),
        )
    if len(s_rows) != len(o_rows):
        return CheckResult(
            name, False, f"row count mismatch: spark={len(s_rows)} oracle={len(o_rows)}",
            len(s_rows), len(o_rows),
        )

    s_set = multiset(s_cols, s_rows)
    o_set = multiset(o_cols, o_rows)
    if s_set == o_set:
        # Hash-divergence armor: our canonicalization collapses
        # -0.0 == +0.0 but the DRIVER's value hash does not —
        # b04_grouped_zscore once failed solely because DuckDB's
        # C-style ROUND preserves the sign of -0.0 while Spark's
        # BigDecimal round emits +0.0. Only fail when the SIGN-SENSITIVE
        # multisets actually diverge (both engines emitting -0.0 in the
        # same cells hashes identically at the driver — that is a pass,
        # not a false alarm). Fix pattern: append `+ 0.0` to the rounded
        # oracle expression (IEEE -0.0 + 0.0 = +0.0) or avoid
        # sign-preserving rounding.
        has_negzero = any(
            isinstance(v, float) and v == 0.0 and math.copysign(1.0, v) < 0
            for rows in (s_rows, o_rows)
            for r in rows
            for v in r
        )
        if has_negzero and multiset(s_cols, s_rows, True) != multiset(
            o_cols, o_rows, True
        ):
            return CheckResult(
                name,
                False,
                "negative-zero sign divergence: values match with "
                "-0.0 == +0.0 but the driver's hash distinguishes "
                "them — normalize with `+ 0.0` (oracle) / avoid "
                "sign-preserving rounding (spark)",
                len(s_rows),
                len(o_rows),
            )
        return CheckResult(name, True, "exact match", len(s_rows), len(o_rows))

    # diagnose: first differing row pair + closeness verdict
    n_diff = sum(1 for a, b in zip(s_set, o_set) if a != b)
    first = next((i for i, (a, b) in enumerate(zip(s_set, o_set)) if a != b), -1)
    all_close = all(
        len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
        for a, b in zip(s_set, o_set)
    )
    detail = (
        f"value mismatch in {n_diff}/{len(s_set)} rows "
        f"({'float-noise-close' if all_close else 'REAL DIVERGENCE'}); "
        f"first diff @{first}:\n  spark:  {s_set[first] if first >= 0 else None}\n"
        f"  oracle: {o_set[first] if first >= 0 else None}"
    )
    return CheckResult(name, False, detail, len(s_rows), len(o_rows))


#: Queries whose SinglePartition sort/window exchanges ride a PROVABLY
#: BOUNDED grain — input row count bounded by a value/config domain,
#: independent of data size. Every other registry entry must plan with
#: zero SinglePartition sort/window exchanges.
SP_ALLOWLIST: dict[str, str] = {
    # value-domain prefix sums (q124 shape): input = distinct measure
    # values, bounded by the measure's fixed precision
    "q124_ks_test": "collapsed 2-decimal acctbal value domain",
    # duration grid: one row per distinct day-count, bounded by the
    # observation window
    "q131_kaplan_meier": "per-distinct-duration grid (days)",
    # bounded histogram / group-count tables feeding rank offsets
    "llm_curriculum_order": "token-length histogram + <=9970 (decile,hash) groups",
    # later queries sharing the two bounded grains above
    "q145_mann_whitney": "collapsed 2-decimal acctbal value domain (q124 shape)",
    "q151_hazard_rate": "per-distinct-duration grid (q131 shape)",
    # whole-dollar price domain: <=~600k distinct values at any scale
    # factor (bounded by the price range, not the row count).
    # ACCEPTED at this grain: this is the largest allowlisted
    # single-task grain; ~600k slim (val, grp, c) rows is a ~20 MB
    # one-task sort — data-size-independent and far under task limits.
    # Coarsening to $10 buckets would change the midrank semantics
    # (Kruskal-Wallis H is tie-corrected on the VALUE grid), so the
    # honest bound stays.
    "q152_kruskal_wallis": "collapsed whole-dollar totalprice value domain (q124 shape)",
    # same duration grid as q131/q151
    "q165_survival_rmst": "per-distinct-duration grid (q131 shape)",
    # pairwise-slope grid over the calendar month domain —
    # <= |months|^2/2 distinct slope values at any sf (~3.5k rows);
    # the full bound note lives in its PLANS.md entry
    "q166_theil_sen": "month-pair slope grid (calendar^2-bounded)",
}


def _depth(line: str) -> int:
    """Tree depth of a plan line in executedPlan().toString() output.

    Spark renders children with 3-char ladder segments (`+- `, `:- `,
    `:  `, `   `) before the operator name; the marker offset is the
    depth. Root lines (no marker) are depth -1 so any child nests
    under them."""
    m = re.search(r"(\+-|:-) ", line)
    return m.start() if m else -1


def single_partition_sort_exchanges(plan: str) -> list[str]:
    """Scale-killer detector (the blind spot that let a documented
    'range-partitioned' plan ship as a one-task sort): return the
    parent operator line for every `Exchange SinglePartition` that
    feeds a Sort or Window, i.e. a GLOBAL one-task sort of its input.
    Benign SinglePartition exchanges — the final leg of a global
    aggregate (input = one partial-agg row per partition) or a
    CollectLimit — have aggregate/limit parents and are not returned.
    Whether a flagged exchange is acceptable depends on its INPUT being
    a bounded grain (a value-domain table, a #partitions-row offset
    table); :data:`SP_ALLOWLIST` names those queries."""
    lines = plan.splitlines()
    flagged = []
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        d = _depth(line)
        parent = None
        for j in range(i - 1, -1, -1):
            if _depth(lines[j]) < d:
                # nearest ancestor is enough: Sort directly consumes
                # the exchange when a Window/global sort is realized
                parent = lines[j]
                break
        if parent is not None and re.search(r"\b(Sort|Window)\b", parent):
            flagged.append(parent.strip())
    return flagged


def single_partition_flags(run: QueryRun) -> list[str]:
    """SinglePartition gate: no one-task sort/window outside
    :data:`SP_ALLOWLIST`, and every allowlisted query still has one (a
    stale entry would mask a future regression on that query)."""
    hits = single_partition_sort_exchanges(run.plan)
    if run.name not in SP_ALLOWLIST:
        return hits
    if hits or run.error is not None:
        return []
    return ["allowlisted but the plan has no SinglePartition sort — remove the stale entry"]


def cartesian_flags(run: QueryRun) -> list[str]:
    """No CartesianProduct anywhere: every intentional cross is a
    1-row/bounded broadcast (BroadcastNestedLoopJoin Cross), and a
    Cartesian means a join lost its equi-key (O(n*m) at scale)."""
    return ["CartesianProduct in the executed plan"] if "CartesianProduct" in run.plan else []


#: the per-query gates :func:`check_all` applies, in report order
GATES = ("oracle", "types", "conf", "single_partition", "cartesian")


def check_all(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> list[CheckResult]:
    """Run the named queries once each (:func:`sweep`) and apply every
    gate in :data:`GATES` to each record. A result is ok only when all
    pass; ``failed`` maps each failing gate to its detail, and a conf
    leak fails its row naming the key (the sweep already restored it)."""
    from amadou_spark.typeparity import type_flags

    con = duckdb_connection(sf_dir)
    results = []
    for run in sweep(spark, sf_dir, names):
        try:
            res = check_query(con, run)
            types = type_flags(con, run)
        except Exception as exc:  # a DuckDB-side failure names its row
            res, types = CheckResult(run.name, False, f"EXCEPTION: {exc}"), []
        failed = {
            "oracle": "" if res.ok else res.detail,
            "types": "; ".join(types),
            "conf": f"session conf leak: {run.conf_leak}" if run.conf_leak else "",
            "single_partition": "; ".join(single_partition_flags(run)),
            "cartesian": "; ".join(cartesian_flags(run)),
        }
        failed = {g: d for g, d in failed.items() if d}
        detail = "; ".join(f"{g}: {d}" for g, d in failed.items())
        results.append(
            CheckResult(
                run.name, not failed, detail, res.spark_rows, res.oracle_rows, failed
            )
        )
    return results
