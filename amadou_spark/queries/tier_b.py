"""Tier B declared queries (SURVEY.md §2.2 B01-B07): arrays, maps, JSON,
UDF surface, approximate aggregates, streaming windows.

Where the semantics are portable SQL, a DuckDB oracle is attached
(engine-specific spellings differ — e.g. map access returns a scalar in
Spark's element_at but a single-element LIST in DuckDB — the oracle
normalizes to the same scalar output). Approx aggregates are
tolerance-verified in tests instead of hash-checked.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from amadou_spark.catalog import register_tables
from amadou_spark.queries import query
from amadou_spark.streaming.windows import (
    read_events_stream,
    run_stream_to_table,
    session_windows_batch,
    sliding_counts,
    stream_dedup_by_key,
    tumbling_counts,
)

# ---------------------------------------------------------------- B01 arrays

@query(
    "b01_array_ops",
    oracle="""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
               list_contains(string_split(text, ' '), 'spark') AS has_spark,
               string_split(text, ' ')[1] AS first_token
        FROM documents ORDER BY doc_id
    """,
    description="array functions: split/size/array_contains/element access "
    "[R: DuckDB lists are 1-indexed, Spark element_at is 1-indexed too]",
)
def b01_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    return (
        t["documents"]
        .select(
            "doc_id",
            F.size(toks).alias("n_tokens"),
            F.array_contains(toks, "spark").alias("has_spark"),
            F.element_at(toks, 1).alias("first_token"),
        )
        .orderBy("doc_id")
    )


@query(
    "b01_explode_tokens",
    oracle="""
        SELECT tok, count(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY tok ORDER BY tok
    """,
    description="explode + re-aggregate: corpus token frequencies",
)
def b01_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    return (
        t["documents"]
        .select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy("tok")
    )


@query(
    "b01_collect_list_sorted",
    oracle="""
        SELECT lang, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids
        FROM documents WHERE doc_id < 50 GROUP BY lang ORDER BY lang
    """,
    description="deterministic collect_list: sorted aggregation rendered as a "
    "string so both engines hash identically",
)
def b01_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    return (
        t["documents"]
        .filter(F.col("doc_id") < 50)
        .groupBy("lang")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string")
                ),
            ).alias("doc_ids")
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------- B02 maps

@query(
    "b02_map_ops",
    oracle="""
        SELECT event_id,
               map(['type','uid'], [event_type, CAST(user_id AS VARCHAR)])['type'][1] AS et,
               CAST(len(map_keys(map(['type','uid'], [event_type, CAST(user_id AS VARCHAR)]))) AS INT) AS n_keys
        FROM events ORDER BY event_id
    """,
    description="map construction/access/keys [R: DuckDB map access yields a "
    "1-element list — normalized with [1]]",
)
def b02_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    m = F.create_map(
        F.lit("type"), F.col("event_type"), F.lit("uid"), F.col("user_id").cast("string")
    )
    return (
        t["events"]
        .select(
            "event_id",
            F.element_at(m, "type").alias("et"),
            F.size(F.map_keys(m)).alias("n_keys"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------- B03 JSON

@query(
    "b03_json_extract",
    oracle="""
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
               CAST(json_extract_string(props, '$.missing') AS BIGINT) AS missing
        FROM events ORDER BY event_id
    """,
    description="JSON scalar extraction from string column (events.props)",
)
def b03_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    return (
        t["events"]
        .select(
            "event_id",
            F.get_json_object("props", "$.k").cast("bigint").alias("k"),
            F.get_json_object("props", "$.missing").cast("bigint").alias("missing"),
        )
        .orderBy("event_id")
    )


@query(
    "b03_from_json_agg",
    oracle="""
        SELECT event_type,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    description="from_json schema projection + aggregate over parsed field",
)
def b03_from_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    parsed = F.from_json(F.col("props"), "k BIGINT")
    return (
        t["events"]
        .select("event_type", parsed.getField("k").alias("k"))
        .groupBy("event_type")
        .agg(F.sum("k").cast("bigint").alias("sum_k"))
        .orderBy("event_type")
    )


@query(
    "b03_variant",
    oracle="""
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
               CAST(json_extract_string(props, '$.absent') AS BIGINT) AS absent
        FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
        ORDER BY event_id
    """,
    description="Spark 4 VariantType path: parse_json(props) -> binary "
    "variant -> variant_get typed extraction (+ try_variant_get for a "
    "missing path). Variant keeps semi-structured data in a shredded "
    "binary encoding so repeated path extraction skips re-tokenizing "
    "the JSON text — the idiomatic Spark-4 answer to schemaless "
    "columns; oracle = plain JSON extraction of the same paths",
)
def b03_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    v = F.parse_json(F.col("props"))
    return (
        t["events"]
        .select(
            "event_id",
            F.variant_get(v, "$.k", "bigint").alias("k"),
            F.try_variant_get(v, "$.absent", "bigint").alias("absent"),
        )
        .filter(F.col("k") >= 50)
        .orderBy("event_id")
    )


# ---------------------------------------------------------------- B04 UDFs

@query(
    "b04_pandas_udf_scalar",
    oracle="""
        SELECT event_id, ROUND(value * 1.1 + CAST(event_id % 7 AS DOUBLE), 4) AS scaled
        FROM events ORDER BY event_id
    """,
    description="vectorized pandas UDF (Arrow batches) — the sanctioned slow "
    "path; the oracle recomputes the same arithmetic in SQL",
)
def b04_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)

    @F.pandas_udf(T.DoubleType())
    def scale(value: pd.Series, event_id: pd.Series) -> pd.Series:
        return value * 1.1 + (event_id % 7).astype("float64")

    return (
        t["events"]
        .select("event_id", F.round(scale("value", "event_id"), 4).alias("scaled"))
        .orderBy("event_id")
    )


@query(
    "b04_python_udf",
    oracle="""
        SELECT event_id, UPPER(event_type) || '-' || CAST(user_id % 10 AS VARCHAR) AS tag
        FROM events ORDER BY event_id
    """,
    description="row-at-a-time Python UDF (kept OUT of hot paths; here only to "
    "pin the API surface — the reference's one UDF is TestEtl.scala:92)",
)
def b04_python_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)

    @F.udf(T.StringType())
    def tag(event_type: str, user_id: int) -> str:
        return f"{event_type.upper()}-{user_id % 10}"

    return t["events"].select("event_id", tag("event_type", "user_id").alias("tag")).orderBy(
        "event_id"
    )


@query(
    "b04_grouped_zscore",
    oracle="""
        SELECT event_id,
               ROUND((value - AVG(value) OVER (PARTITION BY user_id))
                     / NULLIF(STDDEV_SAMP(value) OVER (PARTITION BY user_id), 0), 2)
               + 0.0 AS zscore
        FROM events ORDER BY event_id
    """,

    description="grouped-map applyInPandas (per-group pandas DataFrame) "
    "computing per-user z-scores; oracle = window AVG/STDDEV",
)
def b04_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        g = pdf.groupby("user_id")["value"]
        std = g.transform("std")  # pandas std is ddof=1
        z = (pdf["value"] - g.transform("mean")) / std.where(std != 0)
        return pd.DataFrame({"event_id": pdf["event_id"], "zscore": z})

    # Grouping key = a 64-way hash BUCKET of user_id, not user_id itself:
    # applyInPandas pays a Python call + Arrow batch per GROUP, so
    # thousands of tiny per-user groups are the slow shape. Bucketing
    # amortizes that to 64 calls while the per-user statistics are
    # computed vectorized inside pandas (groupby.transform) — identical
    # semantics because every user's rows land in exactly one bucket.
    out = (
        t["events"]
        .select("user_id", "event_id", "value")
        .groupBy(F.pmod(F.hash("user_id"), F.lit(64)).alias("bucket"))
        .applyInPandas(zscore, "event_id bigint, zscore double")
    )
    return out.select("event_id", F.round("zscore", 2).alias("zscore")).orderBy("event_id")


# ---------------------------------------------------------------- B05 approx

@query(
    "b05_approx_count_distinct",
    oracle="""
        SELECT event_type,
               COUNT(DISTINCT user_id) AS exact_users,
               TRUE AS within_tol
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    description="HyperLogLog++ distinct estimate per event_type, made "
    "hash-checkable: the query returns the EXACT distinct count (which "
    "DuckDB recomputes) plus a Spark-side boolean asserting the HLL "
    "estimate is within 5% relative error of it — so the driver's hash "
    "check now covers approximation quality, not just row counts",
)
def b05_approx_cd(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    agg = (
        t["events"]
        .groupBy("event_type")
        .agg(
            # rsd=0.01: the default 0.05 relative standard deviation can
            # legitimately exceed the 5% within_tol gate at a few
            # thousand distinct (measured 1400 vs 1500 exact at sf0.1);
            # at 1% rsd the estimate is within 0.5% at every sf
            F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
            F.count_distinct("user_id").alias("exact_users"),
        )
    )
    within = (
        F.abs(F.col("approx_users") - F.col("exact_users"))
        / F.col("exact_users")
    ) <= F.lit(0.05)
    return agg.select(
        "event_type", "exact_users", within.alias("within_tol")
    ).orderBy("event_type")


@query(
    "b05_percentile_approx",
    oracle="""
        SELECT event_type,
               ROUND(quantile_cont(value, 0.5), 2) + 0.0 AS exact_p50,
               ROUND(quantile_cont(value, 0.9), 2) + 0.0 AS exact_p90,
               TRUE AS within_tol
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    description="approximate percentiles of event value per type, made "
    "hash-checkable: returns the EXACT interpolated percentiles (both "
    "engines implement SQL percentile_cont semantics) plus a Spark-side "
    "within_tol asserting the KLL/GK approx answers sit within 5% "
    "relative error",
)
def b05_pctl(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    agg = (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.percentile_approx("value", 0.5, 10000).alias("a50"),
            F.percentile_approx("value", 0.9, 10000).alias("a90"),
            F.percentile("value", F.lit(0.5)).alias("e50"),
            F.percentile("value", F.lit(0.9)).alias("e90"),
        )
    )
    def _tol(a, e):  # |approx-exact| <= max(5% of |exact|, tiny abs floor)
        return F.abs(F.col(a) - F.col(e)) <= F.greatest(
            F.lit(0.05) * F.abs(F.col(e)), F.lit(1e-6)
        )
    return agg.select(
        "event_type",
        F.round("e50", 2).alias("exact_p50"),
        F.round("e90", 2).alias("exact_p90"),
        (_tol("a50", "e50") & _tol("a90", "e90")).alias("within_tol"),
    ).orderBy("event_type")


# ---------------------------------------------------------------- B06/B07 streaming

@query(
    "b06_tumbling_stream",
    oracle="""
        SELECT time_bucket(INTERVAL '10 minutes', ts) AS wstart,
               event_type,
               count(*) AS n_events,
               ROUND(SUM(value), 2) AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY wstart, event_type
    """,
    description="Structured Streaming tumbling windows: events parquet "
    "replayed through FileStreamSource → watermark → windowed agg → memory "
    "sink; oracle is the batch-equivalent bucketing",
)
def b06_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir)
    result = run_stream_to_table(tumbling_counts(stream), mode="complete")
    return result.orderBy("wstart", "event_type")


@query(
    "b06_sliding_batch",
    oracle="""
        SELECT time_bucket(INTERVAL '5 minutes', ts) - i.i * INTERVAL '5 minutes' AS wstart,
               event_type, count(*) AS n_events
        FROM events CROSS JOIN (VALUES (0), (1)) i(i)
        GROUP BY 1, 2 ORDER BY wstart, event_type
    """,
    description="sliding windows (10 min / 5 min): every event in exactly 2 "
    "windows; oracle materializes both memberships",
)
def b06_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    return sliding_counts(t["events"]).orderBy("wstart", "event_type")


@query(
    "b07_session_windows",
    oracle="""
        WITH gaps AS (
            SELECT user_id, ts,
                   CASE WHEN LAG(ts) OVER w IS NULL
                             OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS is_new
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), sess AS (
            SELECT user_id, ts,
                   SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS sid
            FROM gaps
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL '30 minutes' AS session_end,
               count(*) AS n_events
        FROM sess GROUP BY user_id, sid
        ORDER BY user_id, session_start
    """,
    description="gap-based session windows (F.session_window, 30 min gap); "
    "oracle = classic lag/cumsum sessionization",
)
def b07_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    return session_windows_batch(t["events"]).orderBy("user_id", "session_start")


@query(
    "b07_stream_dedup",
    oracle="""
        SELECT event_type, count(*) AS n
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    description="stateful streaming dedup: events stream unioned with itself "
    "(every row duplicated) → dropDuplicatesWithinWatermark(event_id) → "
    "per-type counts equal the original singles",
)
def b07_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir)
    # duplicate every row via explode (single source read — a self-union
    # would run the FileStreamSource twice per microbatch)
    doubled = stream.withColumn("_copy", F.explode(F.array(F.lit(0), F.lit(1)))).drop(
        "_copy"
    )
    deduped = stream_dedup_by_key(doubled, "event_id")
    counts = deduped.groupBy("event_type").agg(F.count("*").alias("n"))
    return run_stream_to_table(counts, mode="complete").orderBy("event_type")


@query(
    "b07_stream_upsert",
    oracle="""
        SELECT user_id, ts, event_id, event_type, value
        FROM events
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC
        ) = 1
        ORDER BY user_id
    """,
    description="streaming keyed upsert via foreachBatch "
    "(streaming/sinks.py): the events stream drives an idempotent "
    "read-modify-write parquet serving table, VERSIONED on "
    "(ts, event_id) — the stored row only loses to a higher version, "
    "so the final table is the global latest row per user REGARDLESS "
    "of micro-batch boundaries or arrival order (the out-of-order-safe "
    "CDC semantics; plain last-writer-wins is batch-split-dependent "
    "and kept as the default for in-order feeds). Oracle = the batch "
    "latest-per-key window — the streaming path must land exactly "
    "where q92_cdc_compaction lands",
)
def b07_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from amadou_spark.streaming.sinks import run_stream_upsert
    from amadou_spark.streaming.windows import read_events_stream

    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    base = f"/tmp/amadou_spark_upsert/{sf_tag}"
    shutil.rmtree(base, ignore_errors=True)  # fresh, idempotent run
    stream = read_events_stream(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    run_stream_upsert(
        stream,
        f"{base}/table",
        keys=["user_id"],
        checkpoint=f"{base}/ckpt",
        version_cols=["ts", "event_id"],
    )
    return spark.read.parquet(f"{base}/table").orderBy("user_id")


@query(
    "b01_array_higher_order",
    oracle="""
        SELECT vec_id,
               ROUND(list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x),
                                 (a, b) -> a + b), 6) AS sumsq,
               CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
               ROUND(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))), 6)
                 AS max_abs
        FROM embeddings ORDER BY vec_id
    """,
    description="higher-order array functions over embeddings: transform / "
    "filter / aggregate (sequential double fold — reproducible cross-engine)",
)
def b01_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    vec = F.col("embedding")
    dbl = F.transform(vec, lambda x: x.cast("double"))
    return (
        t["embeddings"]
        .select(
            "vec_id",
            F.round(
                F.aggregate(
                    F.transform(dbl, lambda x: x * x), F.lit(0.0), lambda a, b: a + b
                ),
                6,
            ).alias("sumsq"),
            F.size(F.filter(vec, lambda x: x > 0)).alias("n_pos"),
            F.round(F.array_max(F.transform(dbl, lambda x: F.abs(x))), 6).alias("max_abs"),
        )
        .orderBy("vec_id")
    )


@query(
    "b07_stateful_counts",
    oracle="""
        SELECT user_id, count(*) AS n_events
        FROM events GROUP BY user_id ORDER BY user_id
    """,
    description="custom stateful streaming operator (applyInPandasWithState): "
    "per-user running counts in explicit GroupState; the parquet replay is a "
    "single microbatch, so the update-mode output equals the batch aggregate",
)
def b07_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.streaming.windows import stateful_user_counts

    stream = read_events_stream(spark, sf_dir)
    out = run_stream_to_table(stateful_user_counts(stream), mode="update")
    return out.orderBy("user_id")


@query(
    "b04_pandas_udaf",
    oracle="""
        SELECT event_type,
               ROUND(SUM(value * (event_id % 10 + 1)) / SUM(event_id % 10 + 1), 2)
                 AS weighted_mean
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    description="pandas UDAF (grouped-aggregate pandas UDF returning one "
    "scalar per group): weighted mean; oracle recomputes the same ratio",
)
def b04_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)

    @F.pandas_udf(T.DoubleType())
    def wmean(value: pd.Series, weight: pd.Series) -> float:
        return float((value * weight).sum() / weight.sum())

    return (
        t["events"]
        .withColumn("w", (F.col("event_id") % 10 + 1).cast("double"))
        .groupBy("event_type")
        .agg(F.round(wmean("value", "w"), 2).alias("weighted_mean"))
        .orderBy("event_type")
    )


@query(
    "b08_stream_static_join",
    oracle="""
        SELECT c_mktsegment, count(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    description="stream-static join: the events STREAM enriched against the "
    "static customer dimension (broadcast into every microbatch — the "
    "standard streaming enrichment shape), then aggregated per segment",
)
def b08_stream_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.catalog import load_table

    stream = read_events_stream(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer")
    enriched = stream.join(
        F.broadcast(customer), stream["user_id"] == customer["c_custkey"]
    )
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value")
    )
    return run_stream_to_table(agg, mode="complete").orderBy("c_mktsegment")


@query(
    "b09_stream_stream_join",
    oracle="""
        SELECT a.user_id,
               a.event_id AS left_id,
               b.event_id AS right_id
        FROM events a
        JOIN events b
          ON a.user_id = b.user_id
         AND b.ts >= a.ts
         AND b.ts <= a.ts + INTERVAL 30 MINUTE
        WHERE a.event_type = 'click' AND b.event_type = 'view'
        ORDER BY a.user_id, left_id, right_id
    """,
    description="stream-stream inner join with event-time range bound: clicks "
    "paired with same-user views within 30 min. Watermarks on both sides plus "
    "the two-sided time condition bound the join state (buffered rows drop "
    "once the other side's watermark passes), so state is O(horizon), not "
    "O(stream). Oracle = the identical range join on the batch table.",
)
def b09_stream_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.streaming.windows import stream_stream_join

    stream = read_events_stream(spark, sf_dir)
    clicks = stream.filter(F.col("event_type") == "click")
    views = stream.filter(F.col("event_type") == "view")
    joined = stream_stream_join(clicks, views, within="30 minutes")
    return run_stream_to_table(joined, mode="append").orderBy(
        "user_id", "left_id", "right_id"
    )


@query(
    "b09_chained_join_window",
    oracle="""
        WITH wm AS (
            SELECT date_trunc('milliseconds',
                     LEAST((SELECT MAX(ts) FROM events
                            WHERE event_type = 'click'),
                           (SELECT MAX(ts) FROM events
                            WHERE event_type = 'view')))
                   - INTERVAL 1 HOUR AS w
        ), pairs AS (
            SELECT a.ts AS ts,
                   epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
            FROM events a JOIN events b
              ON a.user_id = b.user_id
             AND b.ts >= a.ts
             AND b.ts <= a.ts + INTERVAL 30 MINUTE
            WHERE a.event_type = 'click' AND b.event_type = 'view'
        )
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us
        FROM pairs
        GROUP BY 1
        HAVING CAST(date_trunc('day', ts) AS DATE) + INTERVAL 1 DAY
               <= (SELECT w FROM wm)
        ORDER BY 1
    """,
    description="CHAINED stateful operators in ONE streaming query — "
    "the Spark 3.5+/4.x multiple-stateful-operator capability: a "
    "stream-stream range join feeding a tumbling 1-day window "
    "aggregate, both stateful, one micro-batch pipeline (no "
    "intermediate sink). Emission composes BOTH holdbacks: the join "
    "emits matched pairs in-batch (append), and the downstream window "
    "finalizes only when the propagated watermark passes the window "
    "END — so the oracle is the batch join + daily rollup HAVING "
    "day + 1 day <= the min-of-both-sides watermark (the final day's "
    "window is withheld in state on a finite replay; verified "
    "row-for-row at sf0.001 and sf0.01). Engine stability: the summed "
    "gap is exact BIGINT microseconds. At scale this is the shape "
    "that replaces a two-job join-then-rollup pipeline with one "
    "always-on query: join state O(horizon), window state O(open "
    "windows x groups), both watermark-bounded",
)
def b09_chained_join_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir)
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .withWatermark("ts", "1 hour")
        .alias("a")
    )
    views = (
        stream.filter(F.col("event_type") == "view")
        .withWatermark("ts", "1 hour")
        .alias("b")
    )
    cond = (
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") >= F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 30 MINUTE"))
    )
    pairs = clicks.join(views, cond, "inner").select(
        F.col("a.ts").alias("ts"),
        (F.unix_micros(F.col("b.ts")) - F.unix_micros(F.col("a.ts"))).alias(
            "gap_us"
        ),
    )
    agg = (
        pairs.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum("gap_us").cast("bigint").alias("sum_gap_us"),
        )
        .select(
            F.col("w.start").cast("date").alias("day"),
            "n_pairs",
            "sum_gap_us",
        )
    )
    return run_stream_to_table(agg, mode="append").orderBy("day")


@query(
    "b09_stream_stream_full_outer",
    oracle="""
        WITH wm AS (
            SELECT date_trunc('milliseconds',
                     LEAST((SELECT MAX(ts) FROM events
                            WHERE event_type = 'click'),
                           (SELECT MAX(ts) FROM events
                            WHERE event_type = 'view')))
                   - INTERVAL 1 HOUR AS w
        )
        SELECT a.user_id AS left_user, b.user_id AS right_user,
               a.event_id AS left_id, b.event_id AS right_id
        FROM (SELECT * FROM events WHERE event_type = 'click') a
        FULL JOIN (SELECT * FROM events WHERE event_type = 'view') b
          ON a.user_id = b.user_id
         AND b.ts >= a.ts
         AND b.ts <= a.ts + INTERVAL 30 MINUTE
        WHERE (a.event_id IS NOT NULL AND b.event_id IS NOT NULL)
           OR (b.event_id IS NULL
               AND a.ts + INTERVAL 30 MINUTE < (SELECT w FROM wm))
           OR (a.event_id IS NULL AND b.ts < (SELECT w FROM wm))
        ORDER BY 1, 2, 3, 4
    """,
    description="stream-stream FULL OUTER join — completes the "
    "streaming join-mode matrix (b09 inner, left outer, full outer) "
    "with a TWO-SIDED watermark-holdback oracle: unmatched clicks emit "
    "when the query watermark passes click.ts + 30min (the upper end "
    "of their match window), unmatched views when it passes view.ts "
    "(a view matches clicks in [view.ts - 30min, view.ts], so its "
    "window closes at its own timestamp) — both against the "
    "min-of-both-sides watermark at millisecond precision. The "
    "asymmetry of the two eviction bounds falls directly out of the "
    "one-sided range condition and is pinned row-for-row by the hash "
    "compare (verified against the stream at sf0.001 and sf0.01 "
    "before registration). State posture: identical O(horizon) bound "
    "— outer emission is evict-time behavior, not extra state",
)
def b09_stream_stream_full_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    stream = read_events_stream(spark, sf_dir)
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .withWatermark("ts", "1 hour")
        .alias("a")
    )
    views = (
        stream.filter(F.col("event_type") == "view")
        .withWatermark("ts", "1 hour")
        .alias("b")
    )
    cond = (
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") >= F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 30 MINUTE"))
    )
    j = clicks.join(views, cond, "fullOuter").select(
        F.col("a.user_id").alias("left_user"),
        F.col("b.user_id").alias("right_user"),
        F.col("a.event_id").alias("left_id"),
        F.col("b.event_id").alias("right_id"),
    )
    return run_stream_to_table(j, mode="append").orderBy(
        "left_user", "right_user", "left_id", "right_id"
    )


@query(
    "b09_stream_stream_left_outer",
    oracle="""
        WITH wm AS (
            SELECT date_trunc('milliseconds',
                     LEAST((SELECT MAX(ts) FROM events
                            WHERE event_type = 'click'),
                           (SELECT MAX(ts) FROM events
                            WHERE event_type = 'view')))
                   - INTERVAL 1 HOUR AS w
        )
        SELECT a.user_id, a.event_id AS left_id, b.event_id AS right_id
        FROM events a
        LEFT JOIN events b
          ON b.event_type = 'view'
         AND a.user_id = b.user_id
         AND b.ts >= a.ts
         AND b.ts <= a.ts + INTERVAL 30 MINUTE
        WHERE a.event_type = 'click'
          AND (b.event_id IS NOT NULL
               OR a.ts + INTERVAL 30 MINUTE < (SELECT w FROM wm))
        ORDER BY a.user_id, left_id, right_id
    """,
    description="stream-stream LEFT OUTER join with watermark holdback "
    "— the marquee outer-join semantics of Structured Streaming, "
    "registered with an oracle that encodes them EXACTLY rather than "
    "approximating with a batch left join: an unmatched click emits "
    "its NULL-matched row only when the query watermark passes "
    "click.ts + 30min, and the query watermark is the MIN over both "
    "sides' watermark operators (per-side max event time seen, "
    "millisecond precision, minus the 1h delay). On a finite replay "
    "the unmatched tail newer than min(max_click_ts, max_view_ts) - "
    "1h - 30min therefore stays in state, never emitted — the oracle's "
    "WHERE reproduces that holdback with the LEAST(...)-derived "
    "watermark, so the hash compare pins the real streaming semantics "
    "(verified row-for-row against the stream at sf0.001 and sf0.01 "
    "before registration; the boundary row that distinguishes the "
    "min-of-both-sides rule from a global-max rule exists in the "
    "data). State posture at scale: same O(horizon) bound as the "
    "inner variant — outer rows add no state, only an emit-on-evict",
)
def b09_stream_stream_left_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from amadou_spark.streaming.windows import stream_stream_join

    stream = read_events_stream(spark, sf_dir)
    clicks = stream.filter(F.col("event_type") == "click")
    views = stream.filter(F.col("event_type") == "view")
    joined = stream_stream_join(
        clicks, views, within="30 minutes", how="leftOuter"
    )
    return run_stream_to_table(joined, mode="append").orderBy(
        "user_id", "left_id", "right_id"
    )


@query(
    "b06_stream_daily_rollup",
    oracle="""
        SELECT CAST(time_bucket(INTERVAL '1 day', ts) AS DATE) AS day,
               event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               ROUND(SUM(value), 2) AS sum_value,
               FLOOR(AVG(value) * 10000.0 + 0.5) / 10000.0 AS v
        FROM events GROUP BY 1, 2 ORDER BY day, event_type
    """,
    description="the analytics family's shared DAILY ROLLUP maintained "
    "as a STREAM: events replayed through FileStreamSource -> watermark "
    "-> tumbling 1-day windows -> memory sink, and the result hash-"
    "matches the batch rollup the q104-q143 statistical pack consumes — "
    "batch/stream duality for the entire daily analytics layer (at "
    "100 TB the rollup is maintained incrementally by a streaming job "
    "and the downstream EWMA/backtest/anomaly queries read the rollup "
    "TABLE, never raw events). The avg uses the engine-stable floor "
    "half-up rounding from q126",
)
def b06_stream_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.streaming.windows import daily_rollup

    stream = read_events_stream(spark, sf_dir)
    result = run_stream_to_table(daily_rollup(stream), mode="complete")
    return result.orderBy("day", "event_type")


@query(
    "b07_tws_running_totals",
    oracle="""
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                    AS DOUBLE) AS total_cents
        FROM events GROUP BY user_id ORDER BY user_id
    """,
    description="Spark 4 transformWithState (typed ValueState, the "
    "applyInPandasWithState successor) EXECUTED end-to-end: per-user "
    "running (count, sum) carried in a ValueState through the RocksDB "
    "state store, driven over the events parquet replayed as a stream. "
    "The single-microbatch replay makes the update-mode output equal "
    "the batch aggregate — the batch/stream duality oracle. Engine "
    "stability: the summed column is pre-mapped to exact integer CENTS "
    "(floor-half-up, the q133 pin) so the pandas float accumulation "
    "inside the processor is exact-integer arithmetic and association "
    "order can never matter. Runs on this image via the protobuf "
    "compat shim (amadou_spark/compat) — the operator the r5-r7 "
    "rounds could only cover by its legacy-API twin b07_stateful_counts",
)
def b07_tws_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.streaming.stateful import (
        ROCKSDB_PROVIDER_CONF,
        protobuf_available,
        running_totals_stream,
    )

    if not protobuf_available():  # pragma: no cover - other images
        raise RuntimeError(
            "transformWithState needs google.protobuf (no native "
            "install and no cloudsdk copy to shim)"
        )
    stream = read_events_stream(spark, sf_dir).withColumn(
        "value", F.floor(F.col("value") * 100 + 0.5).cast("double")
    )
    # RocksDB is required at START (multi-column-family state), and
    # every session (get_spark or vanilla) defaults to the HDFS-backed
    # provider; the conf is set/RESTORED around start so nothing leaks.
    out = run_stream_to_table(
        running_totals_stream(stream),
        mode="update",
        confs=ROCKSDB_PROVIDER_CONF,
    )
    return out.withColumnRenamed("total_value", "total_cents").orderBy(
        "user_id"
    )
