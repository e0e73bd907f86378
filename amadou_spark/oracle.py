"""Local replica of the driver's correctness gate.

Runs every registered query through BOTH engines — our PySpark
implementation and the DuckDB oracle SQL — on the same parquet tables,
then compares row count, column names, and an order-insensitive value
multiset. Exact equality is required (the driver hashes values); a
separate "close" verdict distinguishes float-noise from real bugs when
something does mismatch.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

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


def _close(a: object, b: object, tol: float = 1e-9) -> bool:
    if isinstance(a, str) and isinstance(b, str):
        return a == b
    try:
        fa, fb = float(a), float(b)  # type: ignore[arg-type]
        return math.isclose(fa, fb, rel_tol=tol, abs_tol=tol)
    except (TypeError, ValueError):
        return a == b


@dataclass
class CheckResult:
    name: str
    ok: bool
    detail: str = ""
    spark_rows: int = -1
    oracle_rows: int = -1
    notes: list[str] = field(default_factory=list)


def check_query(
    spark: SparkSession,
    con: duckdb.DuckDBPyConnection,
    name: str,
    sf_dir: str,
) -> CheckResult:
    q = REGISTRY[name]
    sdf = q.fn(spark, sf_dir)
    s_cols = sdf.columns
    s_rows = sdf.collect()

    if q.oracle is None:
        return CheckResult(name, True, "no oracle (rows-only check)", len(s_rows), -1)

    cur = con.execute(q.oracle)
    o_cols = [d[0] for d in cur.description]
    o_rows = cur.fetchall()

    if sorted(s_cols) != sorted(o_cols):
        return CheckResult(
            name, False, f"column mismatch: spark={s_cols} oracle={o_cols}",
            len(s_rows), len(o_rows),
        )
    if len(s_rows) != len(o_rows):
        return CheckResult(
            name, False, f"row count mismatch: spark={len(s_rows)} oracle={len(o_rows)}",
            len(s_rows), len(o_rows),
        )

    # driver compare sorts columns by name → do the same
    s_ix = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
    o_ix = sorted(range(len(o_cols)), key=lambda i: o_cols[i])
    s_set = sorted(
        (tuple(_canon(r[i]) for i in s_ix) for r in s_rows), key=repr
    )
    o_set = sorted(
        (tuple(_canon(r[i]) for i in o_ix) for r in o_rows), key=repr
    )
    if s_set == o_set:
        # Hash-divergence armor (VERDICT r3 #7, refined r5 per ADVICE):
        # our canonicalization collapses -0.0 == +0.0 but the DRIVER's
        # value hash does not — b04_grouped_zscore once failed a round
        # solely because DuckDB's C-style ROUND preserves the sign of
        # -0.0 while Spark's BigDecimal round emits +0.0. Only fail when
        # the SIGN-SENSITIVE multisets actually diverge (both engines
        # emitting -0.0 in the same cells hashes identically at the
        # driver — that is a pass, not a false alarm). Fix pattern:
        # append `+ 0.0` to the rounded oracle expression (IEEE
        # -0.0 + 0.0 = +0.0) or avoid sign-preserving rounding.
        has_negzero = any(
            isinstance(v, float) and v == 0.0 and math.copysign(1.0, v) < 0
            for rows in (s_rows, o_rows)
            for r in rows
            for v in r
        )
        if has_negzero:
            s_signed = sorted(
                (tuple(_canon(r[i], signed=True) for i in s_ix) for r in s_rows),
                key=repr,
            )
            o_signed = sorted(
                (tuple(_canon(r[i], signed=True) for i in o_ix) for r in o_rows),
                key=repr,
            )
            if s_signed != o_signed:
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


def check_all(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> list[CheckResult]:
    """Oracle-compare the named queries; additionally assert that NO
    query leaks session SQL conf — the sweep fails loudly naming the
    key, and restores the pre-query conf."""
    _load()
    con = duckdb_connection(sf_dir)
    results = []
    for name in names or sorted(REGISTRY):
        before = conf_snapshot(spark)
        try:
            res = check_query(spark, con, name, sf_dir)
        except Exception as exc:
            res = CheckResult(name, False, f"EXCEPTION: {exc}")
        after = conf_snapshot(spark)
        leaked = {
            k: (before.get(k), after.get(k))
            for k in set(before) | set(after)
            if before.get(k) != after.get(k)
        }
        if leaked:
            res = CheckResult(
                name,
                False,
                f"session conf leak: {leaked}"
                + (f"; (query itself: {res.detail})" if not res.ok else ""),
                res.spark_rows,
                res.oracle_rows,
            )
            # contain the blast radius: restore the pre-query conf so
            # the leak is attributed to THIS row only — without this,
            # every later query in the sweep runs under the leaked
            # setting (its before-snapshot already includes the leak,
            # so it passes while silently measuring a different plan)
            restore_conf(spark, {k: old for k, (old, _) in leaked.items()})
        results.append(res)
    return results
