"""End-to-end ETL pipeline test — the new-engine re-derivation of the
reference's TestEtl/TestEtlSpec (core/.../test/TestEtl.scala:30-105,
TestEtlSpec.scala:23-61): CSV fixture with spaced column names →
rename/derive transform → date-partitioned parquet sink; asserts exact
output schema, row count, and partition paths, then re-runs the date
to prove idempotent partition overwrite."""

from __future__ import annotations

import os
import shutil
import tempfile
from datetime import date

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from amadou_spark.dates import DateInterval, Schedule
from amadou_spark.io import has_data_for_date, read_csv, write_date_partition
from amadou_spark.monitoring.messaging import RecordingMessagingSystem
from amadou_spark.runner import SparkJob, SparkRunner, retry_max
from amadou_spark.config import Config, load_config
from amadou_spark.stage import sink, source, transform
from amadou_spark.urls import DataUrl

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "test_etl")

RAW_SCHEMA = T.StructType(
    [
        T.StructField("Object Name", T.StringType()),
        T.StructField("Object Colour", T.StringType()),
        T.StructField("Observed Time", T.TimestampType()),
        T.StructField("Observed Latitude", T.DoubleType()),
        T.StructField("Observed Longitude", T.DoubleType()),
        T.StructField("Speed", T.LongType()),
    ]
)

CLEAN_FIELDS = [
    ("name", T.StringType()),
    ("isPink", T.BooleanType()),
    ("eventDate", T.TimestampType()),
    ("latitude", T.DoubleType()),
    ("longitude", T.DoubleType()),
    ("speed", T.LongType()),
    ("processingDate", T.TimestampType()),
]


@pytest.fixture()
def workdir():
    d = tempfile.mkdtemp(prefix="amadou_etl_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def build_job(clean_root: str) -> SparkJob:
    @source("ReadRaw")
    def read_raw(ctx):
        url = DataUrl(FIXTURE, "year=%Y/month=%m") / ctx.date
        return read_csv(ctx.spark, url, schema=RAW_SCHEMA, date_format="yyyy-MM-dd")

    @transform("Clean")
    def clean(ctx):
        df = ctx.value
        return df.select(
            F.col("Object Name").alias("name"),
            (F.lower(F.col("Object Colour")) == "pink").alias("isPink"),
            F.col("Observed Time").alias("eventDate"),
            F.col("Observed Latitude").alias("latitude"),
            F.col("Observed Longitude").alias("longitude"),
            F.col("Speed").alias("speed"),
            F.lit(ctx.date.as_datetime().replace(tzinfo=None)).alias("processingDate"),
        )

    @sink("WriteClean")
    def write_clean(ctx):
        write_date_partition(ctx.value, clean_root, ctx.date)

    return SparkJob(
        name="test_etl",
        stages=read_raw >> clean >> write_clean,
        schedule=Schedule.daily(until=date(2017, 2, 21)),
        should_run_for_date=lambda spark, d: not has_data_for_date(spark, clean_root, d),
    )


def test_etl_end_to_end(spark, workdir):
    clean_root = os.path.join(workdir, "clean")
    job = build_job(clean_root)
    runner = SparkRunner(job, Config({"retry.max": 1, "retry.delay_seconds": 0}))
    runner.messaging = RecordingMessagingSystem()

    os.environ["START_DATE"] = "2017-02-21"
    try:
        ran = runner.run(spark)
    finally:
        del os.environ["START_DATE"]

    assert [str(d) for d in ran] == ["2017-02-21"]
    # partition path exists (reference asserts raw/clean partition paths)
    assert os.path.isdir(os.path.join(clean_root, "date=2017-02-21"))

    out = spark.read.parquet(clean_root).filter(F.col("date") == "2017-02-21")
    # exact schema contract (TestEtlSpec.scala:28-45) + the partition col
    got = [(f.name, f.dataType) for f in out.schema.fields if f.name != "date"]
    assert got == [(n, t) for n, t in CLEAN_FIELDS]
    rows = {r.name: r for r in out.collect()}
    assert len(rows) == 3
    assert rows["Car"].isPink is True
    assert rows["Bus"].isPink is False and rows["Truck"].isPink is False
    assert all(r.processingDate.date() == date(2017, 2, 21) for r in rows.values())

    # stage + run lifecycle events in order
    states = [
        (getattr(e, "stage", ""), e.state) for e in runner.messaging.events
    ]
    assert ("ReadRaw", "starting") in states and ("WriteClean", "complete") in states
    assert states[0][1] == "starting" and states[-1][0] == ""  # run-level frames


def test_etl_rerun_is_idempotent_and_skipped(spark, workdir):
    clean_root = os.path.join(workdir, "clean")
    job = build_job(clean_root)
    runner = SparkRunner(job, Config({"retry.max": 1, "retry.delay_seconds": 0}))
    runner.messaging = RecordingMessagingSystem()
    os.environ["START_DATE"] = "2017-02-21"
    try:
        runner.run(spark)
    finally:
        del os.environ["START_DATE"]

    # second run WITHOUT the pin: freshness probe sees the partition and
    # plans zero dates (backfill takeWhile stops immediately)
    runner2 = SparkRunner(job, Config({"retry.max": 1, "retry.delay_seconds": 0}))
    runner2.messaging = RecordingMessagingSystem()
    ran = runner2.run(spark)
    assert ran == []

    # forced rerun replaces the partition exactly (idempotent overwrite)
    os.environ["START_DATE"] = "2017-02-21"
    try:
        runner3 = SparkRunner(job, Config({"retry.max": 1, "retry.delay_seconds": 0}))
        runner3.messaging = RecordingMessagingSystem()
        runner3.run(spark)
    finally:
        del os.environ["START_DATE"]
    out = spark.read.parquet(clean_root)
    assert out.count() == 3  # not 6 — partition replaced, not appended


@pytest.mark.parametrize(
    "env, configured, source",
    [
        ("", 3, "AMADOU_RETRY_MAX"),
        ("0", 3, "AMADOU_RETRY_MAX"),
        ("-2", 3, "AMADOU_RETRY_MAX"),
        ("abc", 3, "AMADOU_RETRY_MAX"),
        (None, "0", "retry.max"),
        (None, "abc", "retry.max"),
        (None, 1.5, "retry.max"),
    ],
)
def test_bad_retry_max_fails_naming_its_source(monkeypatch, env, configured, source):
    if env is None:
        monkeypatch.delenv("AMADOU_RETRY_MAX", raising=False)
    else:
        monkeypatch.setenv("AMADOU_RETRY_MAX", env)
    with pytest.raises(ValueError, match=source):
        retry_max(Config({"retry.max": configured}))


def test_retry_max_env_wins_over_config(monkeypatch):
    monkeypatch.setenv("AMADOU_RETRY_MAX", "2")
    assert retry_max(Config({"retry.max": 5})) == 2
    monkeypatch.delenv("AMADOU_RETRY_MAX")
    assert retry_max(Config({"retry.max": 5})) == 5
    assert retry_max(Config({})) == 3


def test_runner_rejects_bad_retry_max_before_running(spark, monkeypatch, workdir):
    monkeypatch.setenv("AMADOU_RETRY_MAX", "0")
    runner = SparkRunner(build_job(os.path.join(workdir, "clean")), Config({}))
    runner.messaging = RecordingMessagingSystem()
    with pytest.raises(ValueError, match="AMADOU_RETRY_MAX"):
        runner.run(spark)
    assert runner.messaging.events == []
