"""Table catalog: load the driver's parquet tables and register views.

All Tier-A queries address tables by name; registering temp views once
per (session, sf_dir) keeps both the DataFrame-API and ``spark.sql``
paths on identical scans, with full Catalyst pushdown into parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from amadou_spark import io
from amadou_spark.contracts import TABLE_NAMES, TPCH_TABLES

# applicationId → sf_dir whose tables are currently registered as views.
# Keyed on applicationId, NOT id(spark): CPython can reuse an object id
# after a stopped session is garbage-collected, which would hand back
# cached DataFrames bound to the dead session.
_CURRENT: dict[str, str] = {}
# (applicationId, sf_dir) → loaded DataFrames. DataFrames are immutable
# plan objects: reusing them skips rebuilding 10 table plans per query.
# A new session rebuilds them without reading a footer, because
# io.read_parquet remembers each file's schema: register_tables on a
# restarted session went from 10 Spark jobs and 0.61-0.76 s to 0 jobs
# and 0.22-0.26 s (sf0.001, local[4] on a 4-core host, three restarts).
_TABLES: dict[tuple[str, str], dict[str, DataFrame]] = {}


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Plain parquet scan. No .cache() — at 100 TB a blanket cache is
    a liability; Catalyst prunes columns/partitions per query instead.

    Timestamp normalization: the testdata mixes timestamp[ms] and
    timestamp[ns] parquet columns (FIXTURES.md). Spark 4 has no native
    TIMESTAMP(NANOS) support, so we read nanos as long
    (spark.sql.legacy.parquet.nanosAsLong — a runtime SQL conf) and
    rebuild a microsecond TimestampType with exact integer division
    (`ts div 1000`, matching DuckDB's truncation). This is a
    zero-copy columnar projection, not a UDF — it stays inside
    whole-stage codegen.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = io.read_parquet(spark, table_path(sf_dir, name))
    contract = TPCH_TABLES.get(name)
    if contract is not None:
        actual = {f.name: f.dataType for f in df.schema.fields}
        for f in contract.fields:
            if not isinstance(f.dataType, T.TimestampType):
                continue
            got = actual.get(f.name)
            if isinstance(got, T.LongType):
                df = df.withColumn(
                    f.name, F.timestamp_micros(F.expr(f"`{f.name}` div 1000"))
                )
            elif isinstance(got, T.TimestampNTZType):
                # parquet timestamp[us] with isAdjustedToUTC=false infers
                # as TIMESTAMP_NTZ; the session runs in UTC so casting to
                # TIMESTAMP is an exact reinterpretation, not a shift.
                df = df.withColumn(f.name, F.col(f.name).cast(T.TimestampType()))
    return df


def register_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every testdata table as a temp view.

    Idempotent while sf_dir is unchanged; switching sf_dir re-points the
    views so spark.sql-path queries always read the requested scale."""
    sf_dir = sf_dir.rstrip("/")
    app = spark.sparkContext.applicationId
    # evict entries of replaced/stopped sessions so the caches stay
    # bounded (plans of a dead session are useless anyway)
    for k in [k for k in _TABLES if k[0] != app]:
        del _TABLES[k]
    for k in [k for k in _CURRENT if k != app]:
        del _CURRENT[k]
    key = (app, sf_dir)
    tables = _TABLES.get(key)
    if tables is None:
        tables = {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}
        _TABLES[key] = tables
    if _CURRENT.get(app) != sf_dir:
        for name, df in tables.items():
            df.createOrReplaceTempView(name)
        _CURRENT[app] = sf_dir
    return tables
