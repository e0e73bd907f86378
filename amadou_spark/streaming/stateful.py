"""Arbitrary stateful streaming via Spark 4's transformWithStateInPandas.

`applyInPandasWithState` (used by b07_stateful_counts) is the legacy
arbitrary-state API; transformWithState is its successor: typed state
handles (value/list/map) with per-key TTL, timers, and state
evolvability — the API a NEW deployment should target. This module
keeps a running per-key aggregate as a ValueState and emits the updated
running totals each micro-batch.

State-store posture at scale: state lives in the executor-local RocksDB
store (transformWithState requires it; see ``ROCKSDB_PROVIDER_CONF``),
partitioned by the grouping key —
the same shuffle partitioning as any groupBy, so state size per
executor is bounded by key-space share, not stream length. TTL (or
timers) is what keeps abandoned keys from accumulating forever.

Runtime requirement: transformWithState's control channel is
protobuf-based; `google.protobuf` must be importable on driver and
executors. `protobuf_available()` probes this, first arming the compat
shim (amadou_spark/compat) where no native install exists; callers
skip or fail when it returns False.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)


# The conf a transformWithState query must see at START. No session
# carries it by default (session.py: the in-heap store avoids a native
# RocksDB open per state partition); callers pass it to
# run_stream_to_table's confs= (set/restored around start), or wrap
# their own writeStream.start() in session.conf_scope.
ROCKSDB_PROVIDER_CONF = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
}


def protobuf_available() -> bool:
    """transformWithState needs google.protobuf for its state-server
    protocol; absent → the query crashes at init, so probe first.

    r8: probes THROUGH the compat shim — on images with no protobuf
    distribution but a system Google Cloud SDK, the cloudsdk-bundled
    pure-Python runtime is aliased in (driver side here; workers via
    the PYTHONPATH sitecustomize armed by ``session.get_spark`` —
    see ``amadou_spark/compat/protobuf_compat.py``)."""
    try:
        from amadou_spark.compat.protobuf_compat import install_protobuf_shim

        return install_protobuf_shim()
    except Exception:
        return False


class RunningTotals(StatefulProcessor):
    """Per-key running (count, sum) — the canonical stateful shape
    (deduped metrics, per-entity counters, feature freshness)."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState("totals", "n BIGINT, total DOUBLE")

    def handleInputRows(
        self, key: Any, rows: Iterator[pd.DataFrame], timerValues: Any
    ) -> Iterator[pd.DataFrame]:
        prev = self._state.get()
        n, total = (prev[0], prev[1]) if prev is not None else (0, 0.0)
        for pdf in rows:
            n += len(pdf)
            total += float(pdf["value"].sum())
        self._state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    def close(self) -> None:
        pass


def running_totals_stream(events: DataFrame) -> DataFrame:
    """events stream -> per-user running totals, one output row per
    (user, micro-batch that touched it). Update output mode: downstream
    sinks see the LATEST running value per key.

    State-store REQUIREMENT (not set here, so building the DataFrame
    mutates no shared session conf): this operator needs the RocksDB
    provider at query START — transformWithState keeps each state
    variable in its own column family, which the default
    HDFSBackedStateStoreProvider rejects
    ([UNSUPPORTED_FEATURE.STATE_STORE_MULTIPLE_COLUMN_FAMILIES]).
    Neither ``session.get_spark`` nor a vanilla session selects it, so
    pass ``confs=ROCKSDB_PROVIDER_CONF`` to ``run_stream_to_table``, or
    wrap your own ``writeStream.start()`` in
    ``session.conf_scope(spark, ROCKSDB_PROVIDER_CONF)``."""
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            RunningTotals(),
            outputStructType="user_id BIGINT, n_events BIGINT, total_value DOUBLE",
            outputMode="Update",
            timeMode="None",
        )
    )
