"""Spark-vs-DuckDB OUTPUT TYPE parity for registered oracles.

The local oracle gate (:mod:`amadou_spark.oracle`) compares Python
values from ``.collect()``/``.fetchall()``, which erases type tags:
DuckDB HUGEINT (int128 from SUM/arithmetic over integers), DECIMAL and
unsigned types all arrive as plain Python ints/Decimals and compare
equal to Spark's BIGINT/DOUBLE. The driver's hash, however, is computed
over the serialized values WITH their types — exactly how
``q69_skew_profile`` passed locally but failed the round-2 driver row,
and how ``q131_kaplan_meier``/``q151_hazard_rate`` stayed red through
rounds 5–6 (DuckDB promotes ``BIGINT - SUM(BIGINT) OVER`` to HUGEINT =
``decimal128(38,0)`` at the Arrow layer, vs Spark's ``bigint``).

This module compares the ARROW-level schema of both results. Any pair
outside the known-equivalent set is a latent driver hash mismatch: fix
it with explicit CASTs on BOTH sides (the repo convention).

:func:`type_flags` is one of the per-record gates of
:func:`amadou_spark.oracle.check_all` (``tools/check.py``), and
``tests/test_typeaudit.py`` runs it registry-wide so the class is
structurally impossible to reintroduce.
"""

from __future__ import annotations

import duckdb

from amadou_spark.queries import REGISTRY

# (spark simpleString, duckdb/arrow type str) pairs that hash the same
# on the driver (same arrow logical type after its normalization).
OK_PAIRS = {
    ("bigint", "int64"),
    ("int", "int32"),
    # int32-vs-int64 width differences hash equal on the driver —
    # empirical: llm_embedding_quantize and q64_histogram both carry
    # one and both have green hash_match rows in CORRECTNESS_r02.json.
    # The dangerous divergences are the ones that change the PYTHON
    # value class (HUGEINT/DECIMAL -> Decimal/float), not the width.
    ("int", "int64"),
    ("double", "double"),
    ("float", "float"),
    ("string", "large_string"),
    ("string", "string"),
    ("boolean", "bool"),
    ("date", "date32[day]"),
    ("timestamp", "timestamp[us]"),
    ("timestamp_ntz", "timestamp[us]"),
}


def duck_arrow_types(
    con: duckdb.DuckDBPyConnection, sql: str
) -> dict[str, str]:
    """Column -> Arrow type string, as the driver's hasher sees it. The
    types are fixed when the SQL binds, so a zero-row read of the
    relation gives them without executing the query."""
    tbl = con.sql(sql).limit(0).arrow()
    return {f.name: str(f.type) for f in tbl.schema}


def column_flags(st: dict[str, str], dt: dict[str, str]) -> list[str]:
    """Human-readable flag per column whose (spark, duckdb-arrow) type
    pair is outside :data:`OK_PAIRS`."""
    flags = []
    for col in sorted(set(st) | set(dt)):
        s, d = st.get(col, "<missing>"), dt.get(col, "<missing>")
        base_ok = (s, d) in OK_PAIRS
        # arrays: compare element types through the same table
        if s.startswith("array<") and d.startswith(("list<", "large_list<")):
            se = s[6:-1]
            de = d.split("<", 1)[1][:-1].replace("item: ", "")
            base_ok = (se, de) in OK_PAIRS
        if not base_ok:
            flags.append(f"{col}: spark={s} duckdb={d}")
    return flags


def type_flags(con: duckdb.DuckDBPyConnection, run) -> list[str]:
    """Flags for one :class:`amadou_spark.oracle.QueryRun` record; an
    empty list is type-parity green. Queries without an oracle have no
    driver hash to diverge from, and a failed run is reported by the
    oracle gate, so neither is flagged here."""
    oracle = REGISTRY[run.name].oracle
    if oracle is None or run.error is not None:
        return []
    return column_flags(run.types, duck_arrow_types(con, oracle))
