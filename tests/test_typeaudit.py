"""Registry-wide Arrow-schema type-parity gate.

The driver's value hash is TYPE-sensitive while the local oracle gate
is not: DuckDB silently promotes integer window/aggregate arithmetic to
HUGEINT (``decimal128(38,0)`` at the Arrow layer), which hashes
differently from Spark's ``bigint`` even when every value is equal.
This kept ``q131_kaplan_meier`` red for two rounds (q69 was the round-2
precedent). Running the parity check as a pytest gate — not a recipe
note — makes the class structurally impossible: a new oracle whose
types diverge fails at registration time.

The Spark side reads each query's types from its shared
``query_run`` record (no rebuild); the DuckDB side binds the oracle SQL
without executing it.
"""

from __future__ import annotations

import pytest

from amadou_spark.oracle import duckdb_connection
from amadou_spark.queries import REGISTRY, _load
from amadou_spark.typeparity import type_flags

_load()

_WITH_ORACLE = sorted(n for n in REGISTRY if REGISTRY[n].oracle is not None)


@pytest.fixture(scope="module")
def con(sf_dir):
    return duckdb_connection(sf_dir)


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_arrow_type_parity(query_run, con, name):
    run = query_run(name)
    assert run.error is None, f"{name}: {run.error}"
    flags = type_flags(con, run)
    assert not flags, (
        f"{name}: Spark/DuckDB output types diverge — the driver hash "
        f"is type-sensitive, so this row can NEVER hash-match even if "
        f"all values are equal. CAST on both sides. {flags}"
    )


def test_known_equivalents_are_used():
    """The OK_PAIRS table documents driver-hash-equal pairs; keep it
    honest by asserting the core identity pairs are present (a pair
    removed by accident would flag half the registry, a pair added
    without evidence should be caught in review)."""
    from amadou_spark.typeparity import OK_PAIRS

    assert ("bigint", "int64") in OK_PAIRS
    assert ("double", "double") in OK_PAIRS
    # HUGEINT must NEVER be considered equivalent to anything
    assert not any("decimal128" in d or "hugeint" in d.lower() for _, d in OK_PAIRS)
