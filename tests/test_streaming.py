"""Streaming ↔ batch duality tests (SURVEY §2.2 B06/B07): the streaming
result must equal the batch expression of the same window logic."""

from __future__ import annotations

from pyspark.sql import functions as F

from amadou_spark.catalog import load_table
from amadou_spark.streaming.windows import (
    read_events_stream,
    run_stream_to_table,
    session_windows_batch,
    sliding_counts,
    stream_dedup_by_key,
    tumbling_counts,
)


def _sorted_rows(df, *cols):
    return [tuple(r) for r in df.orderBy(*cols).collect()]


def test_tumbling_stream_equals_batch(spark, sf_dir):
    stream_out = run_stream_to_table(
        tumbling_counts(read_events_stream(spark, sf_dir)), mode="complete"
    )
    batch_out = tumbling_counts(load_table(spark, sf_dir, "events"))
    assert _sorted_rows(stream_out, "wstart", "event_type") == _sorted_rows(
        batch_out, "wstart", "event_type"
    )


def test_sliding_stream_equals_batch(spark, sf_dir):
    stream_out = run_stream_to_table(
        sliding_counts(read_events_stream(spark, sf_dir)), mode="complete"
    )
    batch_out = sliding_counts(load_table(spark, sf_dir, "events"))
    assert _sorted_rows(stream_out, "wstart", "event_type") == _sorted_rows(
        batch_out, "wstart", "event_type"
    )


def test_session_windows_stream_equals_batch(spark, sf_dir):
    stream_out = run_stream_to_table(
        session_windows_batch(read_events_stream(spark, sf_dir)), mode="complete"
    )
    batch_out = session_windows_batch(load_table(spark, sf_dir, "events"))
    key = ("user_id", "session_start")
    assert _sorted_rows(stream_out, *key) == _sorted_rows(batch_out, *key)


def test_stream_dedup_drops_in_watermark_duplicates(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    doubled = stream.union(stream)
    deduped = stream_dedup_by_key(doubled, "event_id")
    counts = run_stream_to_table(
        deduped.groupBy("event_type").agg(F.count("*").alias("n")), mode="complete"
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    assert _sorted_rows(counts, "event_type") == _sorted_rows(batch, "event_type")


def test_watermark_append_mode_semantics(spark, tmp_path):
    """Append-mode watermark semantics end-to-end across two real
    microbatches (maxFilesPerTrigger=1). Asserts Spark's DOCUMENTED
    guarantees: on-time windows are finalized exactly once with correct
    counts once the watermark passes them; no window is ever emitted
    twice (a late row can no longer merge into a finalized window — the
    engine MAY still admit it as new state, which is explicitly allowed:
    the watermark bounds state, it does not promise to drop late data);
    windows still ahead of the watermark are not emitted."""
    import time as _time
    from pyspark.sql import functions as F

    d = str(tmp_path / "late_events")
    base = "2024-01-01 "
    batch_a = spark.createDataFrame(
        [(1, base + "10:00:00"), (2, base + "10:05:00"), (3, base + "10:20:00")],
        "event_id LONG, ts_s STRING",
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"))
    batch_b = spark.createDataFrame(
        [(4, base + "08:00:00"),   # LATE: far behind the watermark
         (5, base + "11:00:00")],  # on-time; advances the watermark
        "event_id LONG, ts_s STRING",
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"))
    batch_a.coalesce(1).write.parquet(d)            # file 1
    _time.sleep(1.1)                                 # distinct mod-times
    batch_b.coalesce(1).write.mode("append").parquet(d)  # file 2

    stream = (
        spark.readStream.schema("event_id LONG, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_test")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table("late_test").collect()
    emitted = {(r.w.start.strftime("%H:%M"), r.n) for r in rows}
    # on-time windows finalized exactly once, with the late 08:00 row
    # NOT merged into them, once the 11:00 event advanced the watermark
    assert ("10:00", 2) in emitted
    assert ("10:20", 1) in emitted
    # append-mode invariant: every window emitted at most once
    starts = [r.w.start for r in rows]
    assert len(starts) == len(set(starts))
    # 11:00 is still ahead of the watermark -> not finalized
    assert not any(w == "11:00" for w, _ in emitted)


# ---------------------------------------------------------------- foreachBatch upsert


def test_foreachbatch_upsert_last_writer_wins_and_resumes(spark, tmp_path):
    import pyspark.sql.functions as F

    from amadou_spark.streaming.sinks import run_stream_upsert

    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    # two input files -> forced into separate micro-batches
    spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "b")], "k INT, ver INT, payload STRING"
    ).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(
        [(2, 20, "b2"), (3, 10, "c")], "k INT, ver INT, payload STRING"
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("k INT, ver INT, payload STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_stream_upsert(stream, table, ["k"], ckpt)

    rows = {r.k: (r.ver, r.payload) for r in spark.read.parquet(table).collect()}
    assert rows == {1: (10, "a"), 2: (20, "b2"), 3: (10, "c")}

    # restart with the same checkpoint and no new input: no-op resume
    stream2 = (
        spark.readStream.schema("k INT, ver INT, payload STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_stream_upsert(stream2, table, ["k"], ckpt)
    rows2 = {r.k: (r.ver, r.payload) for r in spark.read.parquet(table).collect()}
    assert rows2 == rows

    # a later file updates one key only
    spark.createDataFrame(
        [(1, 30, "a3")], "k INT, ver INT, payload STRING"
    ).coalesce(1).write.mode("append").parquet(src)
    stream3 = (
        spark.readStream.schema("k INT, ver INT, payload STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_stream_upsert(stream3, table, ["k"], ckpt)
    rows3 = {r.k: (r.ver, r.payload) for r in spark.read.parquet(table).collect()}
    assert rows3 == {1: (30, "a3"), 2: (20, "b2"), 3: (10, "c")}


# ---------------------------------------------------------------- transformWithState


def test_transform_with_state_running_totals(spark, sf_dir, tmp_path):
    import pyspark.sql.functions as F
    import pytest

    from amadou_spark.catalog import load_table
    from amadou_spark.session import conf_scope
    from amadou_spark.streaming.stateful import (
        ROCKSDB_PROVIDER_CONF,
        protobuf_available,
        running_totals_stream,
    )

    if not protobuf_available():
        # r8: protobuf_available() now arms the compat shim (cloudsdk
        # runtime aliased to google.protobuf), so on this image the
        # test RUNS; the skip remains only for hosts with neither a
        # native protobuf nor a Google Cloud SDK install
        pytest.skip("transformWithState needs google.protobuf (no native install, no cloudsdk copy to shim)")

    events = load_table(spark, sf_dir, "events").filter("user_id < 20")
    src = str(tmp_path / "src")
    # two files -> two micro-batches: state must carry across batches
    events.filter("event_id % 2 = 0").coalesce(1).write.mode("overwrite").parquet(src)
    events.filter("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    name = "twstate_out"
    # transformWithState needs the RocksDB store at START; the session
    # default is the in-heap store.
    with conf_scope(spark, ROCKSDB_PROVIDER_CONF):
        q = (
            running_totals_stream(stream)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()

    out = spark.table(name).toPandas()
    # latest emission per user = the max running count for that user
    latest = out.sort_values("n_events").groupby("user_id").last()
    exact = {
        r["user_id"]: (r["n"], round(r["t"], 2))
        for r in events.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    assert len(latest) == len(exact)
    for uid, row in latest.iterrows():
        n, t = exact[uid]
        assert row["n_events"] == n, uid
        assert abs(row["total_value"] - t) < 0.05, uid
    spark.catalog.dropTempView(name)


def test_foreachbatch_upsert_versioned_survives_out_of_order(spark, tmp_path):
    """version_cols merge: a LATER micro-batch carrying an OLDER version
    must NOT clobber the stored row (last-writer-wins would) — the
    final table is the global max-version row per key regardless of
    batch boundaries."""
    from amadou_spark.streaming.sinks import run_stream_upsert

    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    # file 1: the NEWEST version of k=1; file 2 (a later micro-batch):
    # an older, stale version of k=1 plus a new key
    spark.createDataFrame(
        [(1, 20, "new")], "k INT, ver INT, payload STRING"
    ).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(
        [(1, 10, "stale"), (2, 10, "b")], "k INT, ver INT, payload STRING"
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("k INT, ver INT, payload STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_stream_upsert(stream, table, ["k"], ckpt, version_cols=["ver"])

    rows = {r.k: (r.ver, r.payload) for r in spark.read.parquet(table).collect()}
    assert rows == {1: (20, "new"), 2: (10, "b")}


def test_kafka_read_path_decodes_and_windows(spark, sf_dir, tmp_path):
    """Kafka read-path CI test without a broker (VERDICT r4 #6): the
    events fixture is re-serialized into kafka wire shape (key/value
    BINARY, timestamp, topic, partition, offset), streamed through a
    FileStreamSource carrying KAFKA_WIRE_SCHEMA, decoded by the SAME
    decode_kafka_frame that read_kafka_stream uses, and windowed by the
    b06 tumbling aggregation — which must equal the batch result on the
    original table. Only `.format("kafka").load()` itself stays
    untested (needs the connector + a broker)."""
    from amadou_spark.sources.kafka import (
        KAFKA_WIRE_SCHEMA,
        decode_kafka_frame,
    )
    from amadou_spark.streaming.windows import (
        run_stream_to_table,
        tumbling_counts,
    )

    events = load_table(spark, sf_dir, "events")
    wire_dir = str(tmp_path / "kafka_wire")
    # ts rides inside the JSON value as epoch micros: exact roundtrip,
    # no dependence on to_json/from_json timestamp format defaults
    events.select(
        F.col("user_id").cast("string").cast("binary").alias("key"),
        F.to_json(
            F.struct(
                "event_id",
                "user_id",
                "event_type",
                F.unix_micros("ts").alias("ts_us"),
                "value",
            )
        ).cast("binary").alias("value"),
        F.col("ts").alias("timestamp"),
        F.lit("events").alias("topic"),
        F.pmod("user_id", F.lit(4)).cast("int").alias("partition"),
        F.col("event_id").cast("long").alias("offset"),
    ).write.mode("overwrite").parquet(wire_dir)

    wire = spark.readStream.schema(KAFKA_WIRE_SCHEMA).parquet(wire_dir)
    ddl = (
        "event_id LONG, user_id LONG, event_type STRING, "
        "ts_us LONG, value DOUBLE"
    )
    decoded = decode_kafka_frame(wire, value_schema_ddl=ddl)
    assert decoded.isStreaming
    # the decode contract read_kafka_stream promises
    for col in ("key", "value", "ts", "topic", "partition", "offset", "parsed"):
        assert col in decoded.columns, decoded.columns

    ev = decoded.select("parsed.*").withColumn(
        "ts", F.timestamp_micros("ts_us")
    )
    stream_out = run_stream_to_table(tumbling_counts(ev), mode="complete")
    batch_out = tumbling_counts(events)
    assert _sorted_rows(stream_out, "wstart", "event_type") == _sorted_rows(
        batch_out, "wstart", "event_type"
    )


def test_run_stream_to_table_restores_extra_confs(spark, sf_dir):
    """Confs passed for query START must be set/RESTORED around start —
    no stateful operator may leak session conf into later queries (a
    leaked provider key would silently move every later stateful query
    onto RocksDB)."""
    from amadou_spark.streaming.windows import (
        read_events_stream,
        run_stream_to_table,
        tumbling_counts,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(key)
    sentinel = {
        key: (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        )
    }
    # a sentinel equal to the session value could not show a leak
    assert before != sentinel[key]
    out = run_stream_to_table(
        tumbling_counts(read_events_stream(spark, sf_dir)),
        mode="complete",
        confs=sentinel,
    )
    assert out.count() > 0
    assert spark.conf.get(key) == before


def test_stateful_queries_use_in_heap_store_unless_rocksdb_asked(spark, sf_dir):
    """A stateful run_stream_to_table query runs on Spark's in-heap
    state store by default (no per-partition RocksDB open); the same
    query with ROCKSDB_PROVIDER_CONF, which b07_tws_running_totals
    passes, runs on RocksDB. Read from the state operator's progress:
    only a RocksDB store reports rocksdb* custom metrics."""
    import threading

    from pyspark.sql.streaming import StreamingQueryListener

    from amadou_spark.streaming.stateful import ROCKSDB_PROVIDER_CONF

    class StateMetrics(StreamingQueryListener):
        def __init__(self):
            self.metrics: dict = {}
            self.done: set = set()
            self.cond = threading.Condition()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            ops = event.progress.stateOperators
            if ops:
                with self.cond:
                    keys = self.metrics.setdefault(str(event.progress.id), set())
                    keys.update(ops[0].customMetrics)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.cond:
                self.done.add(str(event.id))
                self.cond.notify_all()

    def state_metric_keys(confs):
        seen = set(listener.done)
        run_stream_to_table(
            tumbling_counts(read_events_stream(spark, sf_dir)),
            mode="complete",
            confs=confs,
        )
        # listener events arrive asynchronously; termination comes last
        with listener.cond:
            assert listener.cond.wait_for(lambda: listener.done - seen, 60)
            (qid,) = listener.done - seen
            return listener.metrics.get(qid, set())

    listener = StateMetrics()
    spark.streams.addListener(listener)
    try:
        default_keys = state_metric_keys(None)
        rocksdb_keys = state_metric_keys(ROCKSDB_PROVIDER_CONF)
    finally:
        spark.streams.removeListener(listener)
    assert default_keys, "no state-operator progress was reported"
    assert not {k for k in default_keys if k.startswith("rocksdb")}, default_keys
    assert "loadedMapCacheHitCount" in default_keys
    assert {k for k in rocksdb_keys if k.startswith("rocksdb")}, rocksdb_keys


def test_repo_google_path_tracks_late_syspath_additions(tmp_path):
    """r9 (ADVICE): the repo-root google package's __path__ rescans
    sys.path on iteration, so google.* distributions reachable only
    via sys.path entries added AFTER first import still resolve."""
    import importlib
    import sys

    import google  # the repo-root bootstrap package

    pkg = tmp_path / "google" / "late_probe_pkg"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("MARKER = 'late'\n")
    sys.path.insert(0, str(tmp_path))
    try:
        importlib.invalidate_caches()
        mod = importlib.import_module("google.late_probe_pkg")
        assert mod.MARKER == "late"
    finally:
        sys.path.remove(str(tmp_path))
        sys.modules.pop("google.late_probe_pkg", None)


def test_repo_google_path_drops_removed_syspath_entries(tmp_path):
    """r10 (ADVICE): a google/ dir discovered via sys.path must stop
    resolving once its sys.path entry is removed — only MANUAL
    ``__path__`` appends persist (tracked separately in ``_extras``),
    so scanned and appended entries are no longer conflated."""
    import importlib
    import sys

    import pytest

    import google  # the repo-root bootstrap package

    pkg = tmp_path / "google" / "gone_probe_pkg"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("MARKER = 'gone'\n")
    sys.path.insert(0, str(tmp_path))
    try:
        importlib.invalidate_caches()
        assert importlib.import_module("google.gone_probe_pkg").MARKER == "gone"
    finally:
        sys.path.remove(str(tmp_path))
        sys.modules.pop("google.gone_probe_pkg", None)
    importlib.invalidate_caches()
    # reachable only via the removed sys.path entry, never manually
    # appended -> must have dropped out of __path__ on rescan
    assert str(tmp_path / "google") not in list(google.__path__)
    with pytest.raises(ImportError):
        importlib.import_module("google.gone_probe_pkg")
    # a MANUAL append (pkgutil-style) does persist across rescans
    google.__path__.append(str(tmp_path / "google"))
    try:
        importlib.invalidate_caches()
        assert importlib.import_module("google.gone_probe_pkg").MARKER == "gone"
        assert str(tmp_path / "google") in list(google.__path__)
    finally:
        sys.modules.pop("google.gone_probe_pkg", None)
        google.__path__._extras.remove(str(tmp_path / "google"))
        google.__path__._rescan()


def test_repo_google_path_augmented_assign_and_priority_insert(tmp_path):
    """r10 (review): `google.__path__ += [...]` must persist across
    rescans (CPython's list.__iadd__ would otherwise bypass the
    overridden extend and the entry would be wiped), and insert(0, ...)
    must yield priority over sys.path-scanned dirs."""
    import importlib
    import sys

    import google

    d1 = tmp_path / "aug" / "google"
    (d1 / "iadd_probe_pkg").mkdir(parents=True)
    (d1 / "iadd_probe_pkg" / "__init__.py").write_text("MARKER = 'iadd'\n")
    google.__path__ += [str(d1)]
    try:
        importlib.invalidate_caches()
        assert importlib.import_module("google.iadd_probe_pkg").MARKER == "iadd"
        assert str(d1) in list(google.__path__)  # survived the rescan
    finally:
        sys.modules.pop("google.iadd_probe_pkg", None)
        google.__path__._extras.remove(str(d1))
        google.__path__._rescan()

    # insert(0): front extra shadows a sys.path-scanned dir
    shadowed = tmp_path / "scanned" / "google" / "prio_probe_pkg"
    shadowed.mkdir(parents=True)
    (shadowed / "__init__.py").write_text("MARKER = 'scanned'\n")
    front = tmp_path / "front" / "google" / "prio_probe_pkg"
    front.mkdir(parents=True)
    (front / "__init__.py").write_text("MARKER = 'front'\n")
    sys.path.insert(0, str(tmp_path / "scanned"))
    google.__path__.insert(0, str(tmp_path / "front" / "google"))
    try:
        importlib.invalidate_caches()
        mod = importlib.import_module("google.prio_probe_pkg")
        assert mod.MARKER == "front"  # front extra wins over scanned
        paths = list(google.__path__)
        assert paths.index(str(tmp_path / "front" / "google")) < paths.index(
            str((tmp_path / "scanned" / "google").resolve())
        )
    finally:
        sys.path.remove(str(tmp_path / "scanned"))
        sys.modules.pop("google.prio_probe_pkg", None)
        google.__path__._extras_front.remove(str(tmp_path / "front" / "google"))
        google.__path__._rescan()
