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


_EVICTION_SCRIPT = """
import json, sys
sys.path.insert(0, sys.argv[1])
from amadou_spark.metrics import MetricsCollector
from amadou_spark.session import get_spark

conf = {
    "spark.driver.memory": "1g",
    "spark.sql.shuffle.partitions": "2",
    "spark.ui.retainedStages": "4",
}
spark = get_spark("amadou-io-ledger", master="local[2]", conf=conf)
path = sys.argv[2]
spark.range(1500).coalesce(1).write.parquet(path)
collector = MetricsCollector(spark)
seen = [collector.io_totals()["records_read"]]
for _ in range(6):
    spark.read.parquet(path).groupBy().count().collect()
    seen.append(collector.io_totals()["records_read"])
spark.stop()
print(json.dumps(seen))
"""


def test_io_totals_never_fall_when_stages_are_evicted(tmp_path):
    """The status store keeps only ``spark.ui.retainedStages`` stages.
    With 4 retained, a scan of a 1,500-row file (three stages: scan,
    skipped, final) stays in the store until the next scans evict it.
    The collector's totals must rise by the full 1,500 records per scan
    and never fall; summing the store alone drops every evicted stage's
    records."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _EVICTION_SCRIPT, repo, str(tmp_path / "t.parquet")],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    seen = json.loads(proc.stdout.strip().splitlines()[-1])
    assert all(b >= a + 1500 for a, b in zip(seen, seen[1:])), seen


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
