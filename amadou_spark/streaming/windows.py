"""Windowed streaming aggregations over the events table.

Batch/stream duality is the design point: every streaming query here
has a batch-equivalent DataFrame expression (same `F.window` /
`F.session_window` calls on a batch read), which is what the DuckDB
oracle checks. The streaming path is exercised by replaying the events
parquet through a FileStreamSource into a memory sink.

Watermark notes for the real (unbounded) deployment: `withWatermark`
bounds state: windows older than (max event time − delay) are finalized
and dropped from the state store; late rows beyond the watermark are
discarded. State size ~ O(active windows × groups), independent of
stream length — that is what makes these queries run forever at scale.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from amadou_spark import io
from amadou_spark.session import conf_scope

_CHANGELOG_KEY = (
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
)

# Shuffle width a streaming query starts with, which fixes its number
# of state-store instances: Spark pins one state store per shuffle
# partition at query START, and every microbatch pays a task per store.
# With the batch-tuned 32-partition default, stateful queries here spent
# 2× longer on store bookkeeping than on data (7.7 s → 1.2 s at sf0.1,
# measured on the RocksDB store). Sized to expected STATE, not batch
# shuffle width. The Python-stateful queries (applyInPandasWithState,
# transformWithState on RocksDB) are no slower at 4 than at 8: bench.py
# at sf0.1 on a 4-core host, min of 3, two alternating pairs gave
# b07_stateful_counts 1.02/0.97 s at 4 vs 1.12/1.27 s at 8 and
# b07_tws_running_totals 3.06/2.41 s vs 3.67/3.13 s.
STATE_PARTITIONS = 4


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the events table as a stream.

    FileStreamSource requires an explicit schema and a
    directory-resolvable path, so the exact file is matched with a
    one-character glob (`events.parque[t]`). The schema is the one a
    batch read of the same file infers, rather than a hard-coded one:
    the testdata's `ts` column has shipped both as TIMESTAMP(NANOS)
    (read as long under nanosAsLong, then rebuilt) and as plain
    timestamp[us] — the stream must follow whichever the file has,
    matching amadou_spark.catalog.load_table. That read goes through
    ``io.read_parquet``, so it reads the footer only the first time
    the process sees this version of the file.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    exact = f"{sf_dir.rstrip('/')}/events.parquet"
    schema = io.read_parquet(spark, exact).schema
    path = f"{sf_dir.rstrip('/')}/events.parque[t]"
    stream = spark.readStream.schema(schema).parquet(path)
    if isinstance(schema["ts"].dataType, T.LongType):
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(schema["ts"].dataType, T.TimestampNTZType):
        # withWatermark requires TIMESTAMP (with tz); the session runs
        # in UTC so this cast is an exact reinterpretation, not a shift.
        stream = stream.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return stream


def run_stream_to_table(
    stream_df: DataFrame,
    mode: str = "complete",
    confs: dict[str, str] | None = None,
) -> DataFrame:
    """Drive a (finite) streaming query to completion through a memory
    sink and return the result as a batch DataFrame. Test/verification
    harness — a production deployment writes to Kafka/parquet instead.
    The query starts with ``STATE_PARTITIONS`` shuffle partitions, so
    that many state-store instances.

    ``confs``: extra session confs the query must see at START (e.g.
    ``stateful.ROCKSDB_PROVIDER_CONF`` for transformWithState, which
    the default in-heap store cannot run). All start confs are set only
    around ``start()`` and then restored, so nothing leaks into later
    queries."""
    spark = stream_df.sparkSession
    name = f"amadou_stream_{uuid.uuid4().hex[:8]}"
    # Changelog checkpointing must be ON at query start for the commit
    # path to write deltas instead of full per-store snapshots (see
    # session._DEFAULTS; this covers vanilla sessions too). Caller confs
    # win, then an EXPLICIT session value, then the engine default.
    start_confs = {
        _CHANGELOG_KEY: spark.conf.get(_CHANGELOG_KEY, "true"),
        **(confs or {}),
        "spark.sql.shuffle.partitions": str(STATE_PARTITIONS),
    }
    with conf_scope(spark, start_confs):
        q = (
            stream_df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .start()
        )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def tumbling_counts(events: DataFrame, width: str = "10 minutes") -> DataFrame:
    """Per-(window, event_type) counts over non-overlapping windows.
    Works identically on a batch or streaming `events` input."""
    df = events
    if df.isStreaming:
        df = df.withWatermark("ts", "1 hour")
    return (
        df.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("wstart"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame, width: str = "10 minutes", slide: str = "5 minutes"
) -> DataFrame:
    """Overlapping (sliding) windows: each event lands in width/slide
    windows. Same code path batch or stream."""
    df = events
    if df.isStreaming:
        df = df.withWatermark("ts", "1 hour")
    return (
        df.groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("wstart"), "event_type", "n_events")
    )


def session_windows_batch(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-user session windows (gap-based). `F.session_window` works on
    batch DataFrames too — session = run of events where consecutive
    gaps < gap; window.end = last event + gap."""
    df = events
    if df.isStreaming:
        df = df.withWatermark("ts", "1 hour")
    return (
        df.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def stream_dedup_by_key(events: DataFrame, *keys: str, watermark: str = "1 hour") -> DataFrame:
    """Stateful streaming dedup: dropDuplicatesWithinWatermark keeps
    per-key state only inside the watermark horizon (bounded state —
    the scale-safe variant of dropDuplicates on an unbounded stream)."""
    if not events.isStreaming:
        return events.dropDuplicates(list(keys))
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(list(keys))


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    within: str = "10 minutes",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join with an event-time range bound: pair
    each left row with right rows of the same user arriving in
    [left.ts, left.ts + within].

    Both sides carry watermarks and the join condition bounds event
    time in BOTH directions, so Spark can size the join state: a
    buffered left row is dropped once the right watermark passes
    left.ts + within (state ~ O(rows inside the horizon), independent
    of stream length). Works identically on batch inputs (the oracle
    path) — the condition is the same range predicate.

    ``how="leftOuter"`` (r9) additionally emits each unmatched left
    row with a NULL right_id — but only once its join window can no
    longer match, i.e. when the query watermark passes
    left.ts + within. The query watermark is the MIN over BOTH
    watermark operators (max event time seen per side − delay,
    millisecond precision), so on a finite replay the unmatched tail
    newer than min(max_left_ts, max_right_ts) − delay − within is
    HELD BACK in state forever — the documented, deterministic
    difference from a batch left join (the registry oracle encodes
    exactly this holdback)."""
    a, b = left.alias("a"), right.alias("b")
    if left.isStreaming:
        a = left.withWatermark("ts", watermark).alias("a")
        b = right.withWatermark("ts", watermark).alias("b")
    cond = (
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") >= F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr(f"INTERVAL {within}"))
    )
    return a.join(b, cond, how).select(
        F.col("a.user_id").alias("user_id"),
        F.col("a.event_id").alias("left_id"),
        F.col("b.event_id").alias("right_id"),
    )


def stateful_user_counts(events_stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running event counts held in explicit GroupState.

    This is the engine's 'arbitrary stateful processing' surface — the
    escape hatch when windows/dedup built-ins can't express the state
    machine. State is (n BIGINT) per user: O(|users|), independent of
    stream length; with real unbounded input you would add a TTL via
    GroupStateTimeout instead of NoTimeout."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def count_per_user(key, pdfs, state: GroupState):
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [total]})

    return events_stream.groupBy("user_id").applyInPandasWithState(
        count_per_user,
        outputStructType="user_id long, n_events long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def daily_rollup(events: DataFrame) -> DataFrame:
    """The (event_type, day) rollup the analytics family (q104-q143)
    consumes, batch OR stream: one tumbling 1-day window. The avg is
    floor-half-up rounded the way q126's engine-stable form does
    (Spark ROUND rounds the shortest decimal repr; floor(x*1e4+0.5)
    is pure double arithmetic, identical on any engine)."""
    df = events
    if df.isStreaming:
        df = df.withWatermark("ts", "1 hour")
    return (
        df.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            (F.floor(F.avg("value") * 10000.0 + 0.5) / 10000.0).alias(
                "v"
            ),
        )
        .select(
            F.col("w.start").cast("date").alias("day"),
            "event_type",
            "n_events",
            "sum_value",
            "v",
        )
    )
