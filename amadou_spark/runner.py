"""Job runner: the production driver (reference: SparkRunner.scala:39-112).

Lifecycle per run:
1. resolve layered config; 2. pick messaging (Kafka if configured,
else stdout); 3. build the SparkSession with every `spark.*` config key
forwarded; 4. plan dates: schedule.take(60).takewhile(should_run),
reversed to chronological (`START_DATE` env pins one date); 5. per
date: publish process-starting → run the stage graph → process-complete
(failures publish process-failed and re-raise); 6. teardown.

Stage-level parallelism is intentionally sequential (reference parity);
at 100 TB the parallelism lives INSIDE each stage via Spark.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import SparkSession

from amadou_spark.config import Config, load_config
from amadou_spark.dates import DateInterval, Schedule, backfill_dates
from amadou_spark.metrics import MetricsCollector
from amadou_spark.monitoring.events import RunEvent
from amadou_spark.monitoring.messaging import create_messaging
from amadou_spark.session import get_spark
from amadou_spark.stage import Context, RetryPolicy, Stage


@dataclass
class SparkJob:
    """A job = name + schedule + stage graph + freshness probe."""

    name: str
    stages: Stage
    schedule: Schedule = field(default_factory=Schedule.daily)
    should_run_for_date: Callable[[SparkSession, DateInterval], bool] = (
        lambda spark, d: True
    )


def retry_max(config: Config) -> int:
    """Attempts per stage: ``AMADOU_RETRY_MAX`` when set, else the
    ``retry.max`` config key. Anything but an integer >= 1 fails here,
    naming its source, instead of silently meaning one attempt."""
    value = os.environ.get("AMADOU_RETRY_MAX")
    source = "AMADOU_RETRY_MAX"
    if value is None:
        value, source = config.get("retry.max", 3), "retry.max"
    text = str(value)
    if not (text.isascii() and text.isdigit() and int(text) >= 1):
        raise ValueError(f"{source} must be an integer >= 1, got {value!r}")
    return int(text)


class SparkRunner:
    def __init__(self, job: SparkJob, config: Config | None = None):
        self.job = job
        self.config = config or load_config()
        self.messaging = create_messaging(self.config.values)

    def run(self, spark: SparkSession | None = None) -> list[DateInterval]:
        """Execute the backfill loop; returns the dates actually run."""
        retry = RetryPolicy(
            max_attempts=retry_max(self.config),
            delay_seconds=float(self.config.get("retry.delay_seconds", 0.0)),
        )
        own_session = spark is None
        if spark is None:
            spark = get_spark(self.job.name, conf=self.config.spark_conf())
        metrics = MetricsCollector(spark)
        dates = backfill_dates(
            self.job.schedule,
            should_run=lambda d: self.job.should_run_for_date(spark, d),
            start=os.environ.get("START_DATE"),
        )
        try:
            for date in dates:
                ctx = Context(
                    spark=spark,
                    date=date,
                    value=spark,
                    job_name=self.job.name,
                    process_id=uuid.uuid4().hex[:12],
                    retry=retry,
                    messaging=self.messaging,
                )
                started = time.time()
                self.messaging.publish(RunEvent.starting(ctx))
                try:
                    self.job.stages(ctx)
                except Exception as exc:
                    self.messaging.publish(RunEvent.failed(ctx, exc))
                    raise
                self.messaging.publish(RunEvent.complete(ctx, time.time() - started))
                metrics.publish_snapshot(ctx)
        finally:
            self.messaging.stop()
            if own_session:
                spark.stop()
        return dates


def main(job: SparkJob, config_overrides: dict[str, Any] | None = None) -> int:
    """CLI-style entry (reference: SparkRunner.main wraps run() in Try,
    exits 1 on failure)."""
    try:
        SparkRunner(job, load_config(overrides=config_overrides)).run()
        return 0
    except Exception:
        import traceback

        traceback.print_exc()
        return 1
