"""ManagedIO-equivalent close-semantics matrix (reference:
ManagedIOSpec.scala:46-117), Slack notifier payload/error behavior
(Slack.scala:40-67), and metrics snapshot shape."""

from __future__ import annotations

import json

import pytest

from amadou_spark.managed import Managed, managed
from amadou_spark.monitoring.slack import Slack, SlackError


class Resource:
    def __init__(self, log, name):
        self.log = log
        self.name = name

    def close(self):
        self.log.append(f"close:{self.name}")


class TestManaged:
    def test_closes_on_success(self):
        log = []
        with managed(Resource(log, "a")) as r:
            log.append(f"use:{r.name}")
        assert log == ["use:a", "close:a"]

    def test_closes_on_error(self):
        log = []
        with pytest.raises(ValueError):
            with managed(Resource(log, "a")):
                raise ValueError("boom")
        assert log == ["close:a"]

    def test_use_maps_and_closes(self):
        log = []
        m = Managed.of(lambda: Resource(log, "a")).map(lambda r: (r, "mapped"))
        result = m.use(lambda pair: pair[1])
        assert result == "mapped"
        assert log == ["close:a"]

    def test_flat_map_closes_both_in_reverse(self):
        log = []
        m = Managed.of(lambda: Resource(log, "outer")).flat_map(
            lambda o: Managed.of(lambda: Resource(log, "inner"))
        )
        m.use(lambda r: log.append(f"use:{r.name}"))
        assert log == ["use:inner", "close:inner", "close:outer"]


class TestSlack:
    def test_posts_json_payload(self):
        sent = {}

        def transport(url, payload):
            sent["url"] = url
            sent["body"] = json.loads(payload)
            return 200

        Slack("https://hooks.example/x", "#jobs", transport=transport).post("done")
        assert sent["url"] == "https://hooks.example/x"
        assert sent["body"]["channel"] == "#jobs"
        assert sent["body"]["text"] == "done"

    def test_raises_on_non_200(self):
        with pytest.raises(SlackError):
            Slack("u", "#c", transport=lambda u, p: 500).post("x")


def test_metrics_snapshot_shape(spark):
    from amadou_spark.metrics import MetricsCollector

    spark.range(10).count()  # ensure at least one job exists
    snap = MetricsCollector(spark).snapshot()
    assert {"jobs_total", "jobs_active", "stages_active", "default_parallelism"} <= set(snap)
    assert snap["default_parallelism"] > 0


def test_metrics_snapshot_counts_codegen_compiles(spark):
    """Every snapshot carries ``codegen_compiles``, the JVM-wide count of
    Janino compilations: a counter, so it never decreases, and a query
    whose generated code no earlier query produced raises it."""
    import uuid

    from amadou_spark.metrics import MetricsCollector

    collector = MetricsCollector(spark)
    before = collector.snapshot()["codegen_compiles"]
    # a literal no other query uses makes generated source no cache holds
    novel = uuid.uuid4().int % 1_000_000_007
    spark.range(10).selectExpr(f"id * {novel} AS x").filter("x >= 0").count()
    after = collector.snapshot()["codegen_compiles"]
    assert after > before >= 0
    assert collector.snapshot()["codegen_compiles"] >= after


def test_metrics_per_task_io_counters(spark, sf_dir):
    """SparkRunner.scala:202-216 parity: after a real parquet scan the
    per-task input byte/record totals accumulated by the JVM listener
    must be visible (and grow monotonically, counter-style)."""
    from amadou_spark.metrics import MetricsCollector

    collector = MetricsCollector(spark)
    before = collector.io_totals()
    n = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    after = collector.io_totals()
    assert after["bytes_read"] > 0
    assert after["records_read"] >= before.get("records_read", 0) + n
    assert set(after) >= {
        "bytes_read",
        "records_read",
        "bytes_written",
        "records_written",
        "shuffle_bytes_read",
        "shuffle_bytes_written",
    }


def test_observed_counters_ride_the_query(spark, sf_dir):
    from pyspark.sql import functions as F

    from amadou_spark.catalog import load_table
    from amadou_spark.metrics import observed

    orders = load_table(spark, sf_dir, "orders")
    df, obs = observed(
        orders.filter(F.col("o_totalprice") > 0),
        "probe",
        n=F.count(F.lit(1)),
        total=F.round(F.sum("o_totalprice"), 2),
    )
    out = df.groupBy("o_orderpriority").count()
    n_groups = out.count()  # the action that materializes the metrics
    got = obs.get
    assert got["n"] == orders.filter(F.col("o_totalprice") > 0).count()
    assert got["total"] > 0
    assert n_groups > 0
