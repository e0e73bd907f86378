"""SparkSession factory with config forwarding.

Mirrors the reference's session bootstrap (SparkRunner.scala:66-77):
every ``spark.*`` key from user config is forwarded into the builder
with set-if-missing semantics; sensitive credentials (S3) are injected
into the Hadoop configuration AFTER the session is built so they never
appear in logged SparkConf (SparkRunner.scala:83-87).

Defaults are tuned for correctness-vs-oracle and for scale posture:
UTC session timezone (cross-engine timestamp determinism), AQE on
(runtime re-planning, skew-join handling at scale), Arrow on (fast
pandas-UDF path), and a codegen cache of 4096 compiled classes
(``spark.sql.codegen.cache.maxEntries``; Spark's default is 100): the
registry's working set is about 3,370 distinct generated classes, so
at 100 a repeated query re-ran Janino for every stage, projection and
predicate it compiled before.

That cache size is a static conf, fixed by the first session built in
a JVM. A session built outside :func:`get_spark` (a driver's plain
``SparkSession.builder`` session, ``tools/check.py --vanilla``) keeps
Spark's 100.
"""

from __future__ import annotations

import os
import re
from contextlib import contextmanager
from typing import Mapping

from pyspark.sql import SparkSession

# Keys every session gets unless the caller overrides them. At 100 TB on a
# real cluster the shuffle-partition count is sized by AQE coalescing from
# an intentionally-high initial value; on local[N] we start near the core
# count to avoid tiny-partition overhead.
_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.ui.enabled": "false",
    # Iterative operators (CC, PageRank) cut lineage with checkpoints
    # every round; without this the ContextCleaner never deletes
    # reliable-checkpoint files and long runs accumulate unbounded
    # checkpoint-filesystem usage (we also delete eagerly in
    # operators/graph.py _release — this is the GC-path backstop).
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
    # No state-store provider is set: stateful operators run on Spark's
    # default in-heap HDFSBackedStateStoreProvider. A RocksDB store pays a
    # native RocksDB.open of 110-165 ms for each state partition a query
    # loads, at any data size; on the registry's replayed streams that
    # open was most of each micro-batch's executor time.
    # transformWithState needs RocksDB (one column family per state
    # variable) and asks for it per query (stateful.ROCKSDB_PROVIDER_CONF).
    # A deployment whose state outgrows the heap sets
    # spark.sql.streaming.stateStore.providerClass in its job config,
    # which overrides these defaults.
    #
    # RocksDB changelog checkpointing (for the queries that do run on
    # RocksDB). Without it every micro-batch
    # commit uploads a full SST snapshot per state store (16-36 s of
    # summed commitTimeMs per batch across the b06/b09 family for ~40k
    # rows of state). With it, commit writes only the batch's state
    # delta and full snapshots happen asynchronously in the maintenance
    # thread: commit latency is O(delta), not O(state).
    # streaming.windows.run_stream_to_table honours an explicit session
    # value, so a deployment can still turn it off per session.
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    # Janino-compiled classes are cached JVM-wide in an LRU of this many
    # entries, keyed by the generated source. Spark's default of 100 is
    # smaller than the engine's working set: one sf0.001 registry sweep
    # compiles about 3,370 distinct classes (5,103 compiles at 100), and
    # one round of the four iterative queries (q150, MinHash dedup, b06,
    # cosine top-k) at sf0.01 compiles 134, of which every repeat at 100
    # compiled 125 again; at 4096 a repeated query compiles nothing. The
    # cost is metaspace: 236 MB in use after a full sweep and a GC,
    # against 211 MB at 100. Static conf: the first session in a JVM
    # fixes it for the JVM's life.
    "spark.sql.codegen.cache.maxEntries": "4096",
}


def default_master() -> str:
    """``local[$SPARK_GRAFT_CPUS]``, or ``local[*]`` when it is not set.
    A value that is not a positive integer fails here, naming the
    variable, instead of deep inside Spark's master-URL parser."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus is None:
        return "local[*]"
    if not (cpus.isascii() and cpus.isdigit() and int(cpus) > 0):
        raise ValueError(
            f"SPARK_GRAFT_CPUS must be a positive integer, got {cpus!r}"
        )
    return f"local[{int(cpus)}]"


def default_driver_memory() -> str:
    """The smaller of 32g and half of physical memory, in whole GiB (at
    least 1g). In local mode the driver is the whole memory budget; 32g
    is sized for a 128 GiB host, and a heap larger than the host lets
    the JVM grow until something outside it kills the process."""
    half_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**31
    return f"{max(1, min(32, half_gib))}g"


def driver_memory() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM``, or :func:`default_driver_memory`
    when it is not set. A value outside Spark's size syntax (digits,
    then an optional b/k/kb/m/mb/g/gb/t/tb/p/pb suffix in any case)
    fails here, naming the variable, instead of as a JVM that exits
    before the Java gateway starts."""
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem is None:
        return default_driver_memory()
    if not re.fullmatch(r"[0-9]+[kmgtp]?b?", mem, re.IGNORECASE):
        raise ValueError(
            f"SPARK_GRAFT_DRIVER_MEM must be a size like 2g or 512m, got {mem!r}"
        )
    return mem


def restore_conf(spark: SparkSession, saved: Mapping[str, str | None]) -> None:
    """Put session SQL conf keys back to ``saved``, where None means the
    key was unset (``spark.conf.get(k, None)`` is None only for unset
    keys). Such a key is unset again, never re-set to its effective
    default: that would flip it to explicitly set, which the conf-leak
    gate (``oracle.run_query``) reports as a leak."""
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


@contextmanager
def conf_scope(spark: SparkSession, confs: Mapping[str, str]):
    """Set ``confs`` on the session for the body of the ``with`` and
    restore every key afterwards (also on an exception), by
    :func:`restore_conf`'s rule. Scopes nest: each restores what it
    found."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        restore_conf(spark, saved)


def get_spark(
    app_name: str = "amadou_spark",
    master: str | None = None,
    conf: Mapping[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``conf`` entries win over our defaults; both are applied with plain
    ``config`` (last writer wins before getOrCreate). Secrets should go
    through :func:`inject_s3_credentials` after the session exists.
    """
    # Arm the protobuf compat shim for Python WORKERS before the JVM
    # exists (workers inherit the executor JVM's env, so a later
    # os.environ edit never reaches them): prepend the sitecustomize
    # dir that installs google.protobuf from the system gcloud SDK.
    # No-op on images with a real protobuf or without the SDK copy.
    # See amadou_spark/compat/protobuf_compat.py.
    try:
        from amadou_spark.compat.protobuf_compat import (
            worker_pythonpath_entries,
        )

        extra = worker_pythonpath_entries()
        if extra:
            prior = os.environ.get("PYTHONPATH", "")
            parts = [p for p in extra if p not in prior.split(os.pathsep)]
            if parts:
                os.environ["PYTHONPATH"] = os.pathsep.join(
                    parts + ([prior] if prior else [])
                )
    except Exception:
        pass
    builder = SparkSession.builder.appName(app_name).master(master or default_master())
    merged = {**_DEFAULTS, "spark.driver.memory": driver_memory()}
    if conf:
        merged.update(conf)
    for key, value in merged.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def inject_s3_credentials(
    spark: SparkSession, access_key: str, secret_key: str
) -> None:
    """Set s3a credentials post-session so they never hit logged conf.

    Reference behavior: SparkRunner.scala:83-87 reads an AWS_CREDENTIALS
    profile file and sets the two Hadoop keys on the live context.
    """
    hadoop_conf = spark.sparkContext._jsc.hadoopConfiguration()
    hadoop_conf.set("fs.s3a.access.key", access_key)
    hadoop_conf.set("fs.s3a.secret.key", secret_key)


def configure_gcs(
    spark: SparkSession,
    project_id: str | None = None,
    json_keyfile: str | None = None,
    pk12_keyfile: str | None = None,
) -> None:
    """GCS connector configuration, post-session and Hadoop-conf only
    (never logged SparkConf) — mirrors the reference's
    BigQuerySparkSession (bigquery/.../package.scala:75-118):
    ``fs.gs.impl`` registered set-if-missing, project id forwarded to
    the connector, service-account key file set for both the mapred
    and fs layers.

    No Google jars ship in this build; this only sets configuration,
    which is exactly what the reference does too — the connector class
    resolves at first filesystem access on a cluster that has it.
    """
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    if conf.get("fs.gs.impl") is None:
        conf.set(
            "fs.gs.impl", "com.google.cloud.hadoop.fs.gcs.GoogleHadoopFileSystem"
        )
    if project_id is not None:
        conf.set("mapred.bq.project.id", project_id)
        if conf.get("fs.gs.project.id") is None:
            conf.set("fs.gs.project.id", project_id)
    if json_keyfile is not None:
        conf.set("mapred.bq.auth.service.account.json.keyfile", json_keyfile)
        conf.set("fs.gs.auth.service.account.json.keyfile", json_keyfile)
    if pk12_keyfile is not None:
        conf.set("google.cloud.auth.service.account.keyfile", pk12_keyfile)
        conf.set("mapred.bq.auth.service.account.keyfile", pk12_keyfile)
        conf.set("fs.gs.auth.service.account.keyfile", pk12_keyfile)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
