"""Declarative data-quality expectations, evaluated in ONE pass.

The reference's pipelines gate stages on schema contracts
(``core/.../Schema.scala`` asserts StructType equality in tests); the
row-level complement is an expectations check: not-null rates, value
ranges, set membership, uniqueness, row-level predicates. This module
evaluates a whole rule list, uniqueness keys included, as ONE aggregate
over one scan: one Spark action, no per-rule jobs.

Scale design: each row rule is a conditional ``sum`` (map-side partial
aggregation, a 1-row result); each uniqueness key adds one
``count(DISTINCT struct(key))`` to the same aggregate, so only the key
columns are shuffled (fixed-width, payload never moves). The report is
a list of (rule, violations, total, pass) rows read on the driver;
``check_expectations`` wraps it as a DataFrame for callers that warn,
fail, or write an audit row.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Expectation:
    """One rule: ``name`` for reporting, ``violated`` a boolean Column
    that is true on BAD rows. Build via the rule_* helpers or supply
    any row-level predicate."""

    name: str
    violated: Column


def rule_not_null(col: str) -> Expectation:
    return Expectation(f"not_null({col})", F.col(col).isNull())


def rule_between(col: str, lo, hi) -> Expectation:
    """Closed-range check; NULL passes (combine with rule_not_null)."""
    c = F.col(col)
    return Expectation(
        f"between({col},{lo},{hi})", c.isNotNull() & ~c.between(lo, hi)
    )


def rule_in_set(col: str, allowed) -> Expectation:
    """Membership check; NULL passes (combine with rule_not_null). A
    ``None`` in ``allowed`` is dropped: ``x IN (.., NULL)`` is NULL for
    every non-member ``x``, which would let it through uncounted."""
    c = F.col(col)
    values = [v for v in allowed if v is not None]
    return Expectation(f"in_set({col})", c.isNotNull() & ~c.isin(values))


def rule_matches(col: str, regex: str) -> Expectation:
    c = F.col(col)
    return Expectation(
        f"matches({col})", c.isNotNull() & ~c.rlike(regex)
    )


def rule_predicate(name: str, good: Column) -> Expectation:
    """Custom row-level rule from a GOOD-row predicate; NULL counts as
    a violation (ANSI three-valued logic made explicit)."""
    return Expectation(name, ~F.coalesce(good, F.lit(False)))


_REPORT_SCHEMA = "rule string, violations long, total long, pass boolean"


def _report(
    df: DataFrame,
    rules: list[Expectation],
    unique_keys: list[list[str]] | None,
) -> list[tuple[str, int, int, bool]]:
    """(rule, violations, total, pass) per rule, from ONE aggregate.

    A uniqueness key's violations are ``total - count(DISTINCT
    struct(cols))``: the rows beyond the first per duplicate key (the
    number a dedup would drop). A struct is never NULL and groups NULL,
    NaN and -0.0 fields exactly as ``groupBy(cols)`` does."""
    keys = unique_keys or []
    total, *values = df.agg(
        F.count(F.lit(1)),
        *[F.sum(r.violated.cast("long")) for r in rules],
        *[F.count_distinct(F.struct(*cols)) for cols in keys],
    ).collect()[0]
    names = [r.name for r in rules] + [f"unique({','.join(c)})" for c in keys]
    violations = [v or 0 for v in values[: len(rules)]] + [
        total - distinct for distinct in values[len(rules):]
    ]
    return [(n, v, total, v == 0) for n, v in zip(names, violations)]


def check_expectations(
    df: DataFrame,
    rules: list[Expectation],
    unique_keys: list[list[str]] | None = None,
) -> DataFrame:
    """Evaluate all rules; returns (rule, violations, total, pass).

    Every rule, and every entry of ``unique_keys`` (a list of column
    lists), is counted in one aggregate over one scan; each uniqueness
    key adds one key-only shuffle to it."""
    return df.sparkSession.createDataFrame(
        _report(df, rules, unique_keys), _REPORT_SCHEMA
    )


def assert_expectations(
    df: DataFrame,
    rules: list[Expectation],
    unique_keys: list[list[str]] | None = None,
) -> DataFrame:
    """Fail-fast variant: raises with every violated rule listed, else
    returns ``df`` unchanged (stage-compose like the reference's sinks
    pass their input through)."""
    bad = [r for r in _report(df, rules, unique_keys) if not r[3]]
    if bad:
        lines = ", ".join(f"{name}: {v}/{t}" for name, v, t, _ in bad)
        raise ValueError(f"expectations violated — {lines}")
    return df


def check_referential(
    df: DataFrame,
    col: str,
    dim: DataFrame,
    dim_col: str,
) -> DataFrame:
    """Foreign-key expectation: rows of ``df`` whose ``col`` has no
    match in ``dim.dim_col`` (NULLs pass — compose with rule_not_null).
    One action: ``df``'s key column left-joined to the distinct dim
    keys (fixed-width shuffle; AQE broadcasts the dim side when it
    fits), counting rows and non-NULL unmatched keys in one aggregate.
    Returns the same (rule, violations, total, pass) shape as
    check_expectations."""
    key, ref = F.col("_key"), F.col("_ref")
    total, orphans = (
        df.select(F.col(col).alias("_key"))
        .join(dim.select(F.col(dim_col).alias("_ref")).distinct(),
              key == ref, "left")
        .agg(
            F.count(F.lit(1)),
            F.count(F.when(key.isNotNull() & ref.isNull(), 1)),
        )
        .collect()[0]
    )
    return df.sparkSession.createDataFrame(
        [(f"references({col}->{dim_col})", orphans, total, orphans == 0)],
        _REPORT_SCHEMA,
    )


def combined_violation_filter(rules: list[Expectation]) -> Column:
    """Row-level OR of every rule — quarantine-split helper:
    ``bad = df.filter(combined); good = df.filter(~combined)``."""
    return reduce(Column.__or__, (r.violated for r in rules))
