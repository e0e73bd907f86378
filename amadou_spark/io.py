"""Reader/writer surface (reference: core/.../package.scala:26-43).

Thin, format-complete wrappers over ``spark.read`` / ``df.write`` —
csv/json/parquet/orc/text plus generic load/save — with the engine's
conventions baked in: explicit schemas (no production inferSchema),
Hive-style date partitioning on writes, and idempotent overwrite of
single date partitions (the scale-safe incremental sink: re-running a
date replaces exactly that partition, nothing else).

Parquet schemas are inferred once per file version. Spark infers a
parquet schema with a footer-reading job on every ``spark.read.parquet``;
:func:`read_parquet` remembers the ``StructType`` it got, process-wide
and across sessions, under the key (each path's qualified name, length
and modification time; the reader options; the session values of
``_INFERENCE_CONFS``), and a later read with the same key passes it to
``spark.read.schema`` and launches no job. Only reads whose every path
is a plain file are remembered: a directory's files can change while
its own status does not, and checking them would cost a second listing,
so directories, globs and missing paths go through Spark's inference
(and its error text) every time.
"""

from __future__ import annotations

import copy
import threading
from collections import OrderedDict
from typing import Any

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from amadou_spark.dates import DateInterval
from amadou_spark.urls import DataUrl


def _paths(urls: tuple[DataUrl | str, ...]) -> list[str]:
    return [str(u) for u in urls]


# ---------------------------------------------------------------- readers

def read_csv(
    spark: SparkSession,
    *urls: DataUrl | str,
    schema: T.StructType | None = None,
    header: bool = True,
    date_format: str | None = None,
    **options: Any,
) -> DataFrame:
    reader = spark.read.options(header=header, **options)
    if date_format:
        reader = reader.option("dateFormat", date_format)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(_paths(urls))


def read_json(
    spark: SparkSession, *urls: DataUrl | str, schema: T.StructType | None = None, **options: Any
) -> DataFrame:
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(_paths(urls))


# Session SQL confs whose values change the schema parquet inference
# returns (nanos as long, binary as string, INT96 as timestamp, NTZ
# inference, footer merging): a remembered schema is served only under
# the values it was inferred with.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)
# Remembered schemas, least recently used first. A session reads about
# a dozen distinct files; the bound only keeps a long-lived process that
# reads many dated files from growing without limit.
_SCHEMAS_MAX = 256
_SCHEMAS: OrderedDict[tuple, T.StructType] = OrderedDict()
_SCHEMAS_LOCK = threading.Lock()
# Characters that make Hadoop expand a path as a glob.
_GLOB_CHARS = frozenset("{}[]*?\\")


def _file_versions(spark: SparkSession, paths: list[str]) -> tuple | None:
    """(qualified name, length, modification time) of each path, or
    None unless every path is a plain, existing file."""
    if any(_GLOB_CHARS.intersection(p) for p in paths):
        return None
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    versions = []
    for p in paths:
        path = jvm.org.apache.hadoop.fs.Path(p)
        try:
            status = path.getFileSystem(conf).getFileStatus(path)
        except Py4JJavaError:  # e.g. FileNotFoundException: Spark reports it
            return None
        if not status.isFile():
            return None
        versions.append(
            (status.getPath().toString(), status.getLen(), status.getModificationTime())
        )
    return tuple(versions)


def read_parquet(spark: SparkSession, *urls: DataUrl | str, **options: Any) -> DataFrame:
    """``spark.read.parquet`` that infers a file's schema once per file
    version (see the module docstring)."""
    paths = _paths(urls)
    reader = spark.read.options(**options)
    versions = _file_versions(spark, paths)
    if versions is None:
        return reader.parquet(*paths)
    key = (
        versions,
        tuple(sorted((k, str(v)) for k, v in options.items())),
        tuple(spark.conf.get(c) for c in _INFERENCE_CONFS),
    )
    with _SCHEMAS_LOCK:
        schema = _SCHEMAS.get(key)
        if schema is not None:
            _SCHEMAS.move_to_end(key)
    if schema is not None:
        return reader.schema(schema).parquet(*paths)
    df = reader.parquet(*paths)
    # a copy: df.schema is cached on df, and a caller may mutate it
    schema = copy.deepcopy(df.schema)
    with _SCHEMAS_LOCK:
        _SCHEMAS[key] = schema
        if len(_SCHEMAS) > _SCHEMAS_MAX:
            _SCHEMAS.popitem(last=False)
    return df


def read_orc(spark: SparkSession, *urls: DataUrl | str, **options: Any) -> DataFrame:
    return spark.read.options(**options).orc(*_paths(urls))


def read_text(spark: SparkSession, *urls: DataUrl | str, **options: Any) -> DataFrame:
    return spark.read.options(**options).text(_paths(urls))


def load(spark: SparkSession, url: DataUrl | str, fmt: str, **options: Any) -> DataFrame:
    return spark.read.format(fmt).options(**options).load(str(url))


# ---------------------------------------------------------------- writers

def write_csv(df: DataFrame, url: DataUrl | str, mode: str = "overwrite", **options: Any) -> None:
    df.write.mode(mode).options(header=True, **options).csv(str(url))


def write_json(df: DataFrame, url: DataUrl | str, mode: str = "overwrite", **options: Any) -> None:
    df.write.mode(mode).options(**options).json(str(url))


def write_parquet(
    df: DataFrame, url: DataUrl | str, mode: str = "overwrite", **options: Any
) -> None:
    df.write.mode(mode).options(**options).parquet(str(url))


def write_orc(df: DataFrame, url: DataUrl | str, mode: str = "overwrite", **options: Any) -> None:
    df.write.mode(mode).options(**options).orc(str(url))


def write_text(df: DataFrame, url: DataUrl | str, mode: str = "overwrite", **options: Any) -> None:
    df.write.mode(mode).options(**options).text(str(url))


def save(df: DataFrame, url: DataUrl | str, fmt: str, mode: str = "overwrite", **options: Any) -> None:
    df.write.format(fmt).mode(mode).options(**options).save(str(url))


# ------------------------------------------------- partitioned incremental sink

def write_date_partition(
    df: DataFrame,
    root: DataUrl | str,
    date: DateInterval,
    partition_col: str = "date",
    fmt: str = "parquet",
) -> None:
    """Idempotent single-partition overwrite: write `root/date=<d>/` for
    one DateInterval, replacing ONLY that partition (dynamic partition
    overwrite), never the table. The retry-safe incremental sink —
    whole-stage retry (SparkRunner) plus this makes reruns exact no-ops.
    """
    (
        df.withColumn(partition_col, F.lit(date.partition_value()))
        .write.mode("overwrite")
        # per-WRITE option, not a session conf: setting the session-wide
        # spark.sql.sources.partitionOverwriteMode would silently turn
        # every later plain overwrite in the same session into a
        # partition-level overwrite (stale partitions left behind)
        .option("partitionOverwriteMode", "dynamic")
        .format(fmt)
        .partitionBy(partition_col)
        .save(str(root))
    )


def has_data_for_date(
    spark: SparkSession,
    root: DataUrl | str,
    date: DateInterval,
    partition_col: str = "date",
) -> bool:
    """Freshness probe for should_run_for_date (the engine-local analog
    of the reference's BigQuery hasDataForDate,
    bigquery/.../BigQueryClient.scala:142-169): does the output already
    have a non-empty partition for this date? Checks for at least one
    non-hidden data file inside the partition directory (a bare
    directory-existence probe would return True for a partial dir left
    by a crashed write, making the backfill takewhile skip that date
    forever) — one FS listing, no data scan."""
    url = DataUrl(str(root)) / f"{partition_col}={date.partition_value()}"
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(str(url))
    fs = path.getFileSystem(conf)
    if not fs.exists(path):
        return False
    for status in fs.listStatus(path):
        name = status.getPath().getName()
        if status.isFile() and status.getLen() > 0 and not name.startswith(("_", ".")):
            return True
    return False
