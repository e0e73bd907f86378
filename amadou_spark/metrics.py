"""Execution metrics (reference: SparkRunner.scala:165-216 — Prometheus
counters fed by a SparkListener accumulating bytes/records per task).

PySpark has no first-class listener API, so the collector reads the
same numbers one layer down: the JVM's AppStatusListener already
accumulates every ``onTaskEnd``'s taskMetrics into AppStatusStore, and
:meth:`MetricsCollector.io_totals` sums the per-stage input/output/
shuffle bytes and records from that store over py4j — the same values
the reference's listener increments its Prometheus counters with
(SparkRunner.scala:207-216), without a cross-language callback server.
Job/stage counts come from ``sc.statusTracker()``; the JVM-wide count
of Janino compilations from Spark's ``CodegenMetrics`` (a rise between
two snapshots means some stage compiled generated code instead of
reusing a cached class); wall-clock durations are stamped by the Stage
context. `prometheus_client` is optional (import-gated) — when present,
gauges mirror every snapshot; when absent, snapshots still flow to the
monitoring topic.
"""

from __future__ import annotations

import logging
from typing import Any

from amadou_spark.monitoring.events import MetricsEvent

logger = logging.getLogger(__name__)

try:  # optional dependency — not in the test image
    from prometheus_client import Gauge  # type: ignore[import-not-found]

    _HAVE_PROM = True
except ImportError:
    _HAVE_PROM = False


#: io_totals key -> the AppStatusStore StageData getter it sums
_IO_FIELDS = {
    "bytes_read": "inputBytes",
    "records_read": "inputRecords",
    "bytes_written": "outputBytes",
    "records_written": "outputRecords",
    "shuffle_bytes_read": "shuffleReadBytes",
    "shuffle_bytes_written": "shuffleWriteBytes",
}

#: stage attempts whose metrics can no longer change
_FINAL_STAGE_STATUSES = {"COMPLETE", "FAILED", "SKIPPED"}


class MetricsCollector:
    def __init__(self, spark: Any):
        self.spark = spark
        self._gauges: dict[str, Any] = {}
        self._compile_histogram: Any = None
        # (stageId, attemptId) -> that attempt's _IO_FIELDS values, as
        # last read; see io_totals
        self._stage_io: dict[tuple[int, int], tuple[float, ...]] = {}
        self._final_stages: set[tuple[int, int]] = set()

    def snapshot(self) -> dict[str, float]:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(None) or []
        n_active = len(tracker.getActiveJobsIds() or [])
        n_stages = len(tracker.getActiveStageIds() or [])
        metrics: dict[str, float] = {
            "jobs_total": float(len(job_ids)),
            "jobs_active": float(n_active),
            "stages_active": float(n_stages),
            "default_parallelism": float(sc.defaultParallelism),
        }
        metrics.update(self.io_totals())
        metrics.update(self.codegen_compiles())
        return metrics

    def codegen_compiles(self) -> dict[str, float]:
        """``{"codegen_compiles": n}``: Janino compilations in this JVM so
        far, a counter that never decreases. Spark bumps it on every
        codegen-cache miss (``CodegenMetrics.METRIC_COMPILATION_TIME``).
        The histogram handle is resolved once per collector: a full-name
        py4j lookup costs ~2 ms a call, a held handle ~0.2 ms."""
        try:
            if self._compile_histogram is None:
                jvm = self.spark.sparkContext._jvm
                source = jvm.org.apache.spark.metrics.source
                self._compile_histogram = (
                    source.CodegenMetrics.METRIC_COMPILATION_TIME()
                )
            return {"codegen_compiles": float(self._compile_histogram.getCount())}
        except Exception:  # internal JVM surface — degrade, don't fail jobs
            logger.warning("CodegenMetrics unavailable", exc_info=True)
            return {}

    def io_totals(self) -> dict[str, float]:
        """Bytes/records read+written, accumulated per task by the JVM's
        AppStatusListener (onTaskEnd → taskMetrics) and summed across
        all stages of this application — parity with the reference's
        spark_bytes_read / spark_records_read / spark_records_written
        counters (SparkRunner.scala:202-216).

        The totals never fall. The listener bus is drained first, so the
        store has seen every task of an action that has returned. The
        store keeps only ``spark.ui.retainedStages`` stages, so each
        collector keeps a ledger of every stage attempt it has read: an
        evicted stage still counts, and a finished one is not re-read."""
        sc = self.spark.sparkContext
        try:
            jvm, gw = sc._jvm, sc._gateway
            jsc = sc._jsc.sc()
            jsc.listenerBus().waitUntilEmpty()
            stages = jsc.statusStore().stageList(
                jvm.java.util.ArrayList(),  # all statuses
                False,  # details
                False,  # withSummaries
                gw.new_array(jvm.double, 0),  # unsortedQuantiles
                jvm.java.util.ArrayList(),  # all task statuses
            )
            for i in range(stages.size()):
                stage = stages.apply(i)
                key = (stage.stageId(), stage.attemptId())
                if key in self._final_stages:
                    continue
                self._stage_io[key] = tuple(
                    float(getattr(stage, getter)()) for getter in _IO_FIELDS.values()
                )
                if str(stage.status()) in _FINAL_STAGE_STATUSES:
                    self._final_stages.add(key)
            return {
                name: sum(io[i] for io in self._stage_io.values())
                for i, name in enumerate(_IO_FIELDS)
            }
        except Exception:  # internal JVM surface — degrade, don't fail jobs
            logger.warning("AppStatusStore metrics unavailable", exc_info=True)
            return {}

    def publish_snapshot(self, ctx: Any, stage: str = "") -> dict[str, float]:
        metrics = self.snapshot()
        if _HAVE_PROM:  # pragma: no cover
            for key, value in metrics.items():
                gauge = self._gauges.get(key)
                if gauge is None:
                    gauge = Gauge(f"amadou_{key}", f"amadou_spark {key}")
                    self._gauges[key] = gauge
                gauge.set(value)
        ctx.messaging.publish(MetricsEvent.snapshot(ctx, stage, metrics))
        return metrics


def observed(df: Any, name: str, **metrics: Any) -> tuple[Any, Any]:
    """Attach inline row-level counters to a DataFrame via Spark's
    Observation API — the idiomatic replacement for the reference's
    per-job record counters when you want PER-QUERY numbers rather
    than application totals (io_totals): the metrics are computed by
    the running query itself, cost no extra pass, and arrive on the
    driver when the first action completes.

    >>> from pyspark.sql import functions as F  # doctest: +SKIP
    >>> df2, obs = observed(df, "etl", n=F.count(F.lit(1)),
    ...                     nulls=F.count_if(F.col("x").isNull()))
    >>> df2.write.parquet(path); obs.get  # doctest: +SKIP
    {'n': 1000, 'nulls': 3}

    Returns (instrumented_df, Observation); read ``obs.get`` AFTER an
    action has run."""
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *(v.alias(k) for k, v in metrics.items())), obs
