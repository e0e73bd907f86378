"""Statistical / time-series analytics queries (round 5 widening).

The reference framework (see SURVEY.md §2) ships no statistics layer;
these operators extend the declared surface with the per-group
statistical primitives a training-data/feature pipeline runs at scale:
autocorrelation, inequality/concentration indices, changepoint scans,
correlation matrices and rolling anomaly detection. Every query is
ANSI-SQL-expressible and oracle-gated; every plan is one or two hash
aggregations and at most one window sort — no collects, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from amadou_spark.catalog import register_tables
from amadou_spark.queries import query


@query(
    "q104_autocorr",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   AVG(value) AS v
            FROM events GROUP BY 1, 2
        ), lagged AS (
            SELECT event_type, v,
                   lag(v, 1) OVER w AS v1,
                   lag(v, 2) OVER w AS v2,
                   lag(v, 3) OVER w AS v3
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY day)
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_days,
               ROUND(corr(v, v1), 4) AS acf1,
               ROUND(corr(v, v2), 4) AS acf2,
               ROUND(corr(v, v3), 4) AS acf3
        FROM lagged
        GROUP BY event_type
        ORDER BY event_type
    """,
    description="autocorrelation function (lags 1-3) of the daily mean "
    "event value per event type — the stationarity diagnostic run "
    "before sequence modeling. Daily rollup (one map-side-combined "
    "agg), one window sort per type for the lags, then corr() per lag "
    "in a single second agg. At 100 TB the daily rollup collapses the "
    "data 10^6x before the window ever sorts, so the lag/corr stage "
    "is trivially small; nothing driver-side",
    tags=("stats", "timeseries", "events"),
)
def q104_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    daily = (
        t["events"]
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.avg("value").alias("v"))
    )
    w = W.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "v",
        F.lag("v", 1).over(w).alias("v1"),
        F.lag("v", 2).over(w).alias("v2"),
        F.lag("v", 3).over(w).alias("v3"),
    )
    return (
        lagged.groupBy("event_type")
        .agg(
            F.count("*").alias("n_days"),
            F.round(F.corr("v", "v1"), 4).alias("acf1"),
            F.round(F.corr("v", "v2"), 4).alias("acf2"),
            F.round(F.corr("v", "v3"), 4).alias("acf3"),
        )
        .orderBy("event_type")
    )


@query(
    "q105_gini",
    oracle="""
        WITH r AS (
            SELECT o_orderpriority, o_totalprice,
                   row_number() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice, o_orderkey)
                       AS i
            FROM orders
        )
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               ROUND((2.0 * SUM(i * o_totalprice)
                      - (count(*) + 1) * SUM(o_totalprice))
                     / (count(*) * SUM(o_totalprice)), 6) AS gini
        FROM r
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    description="Gini inequality coefficient of order value per "
    "priority class via the rank formula G = (2*SUM(i*x_i) - (n+1)*"
    "SUM(x)) / (n*SUM(x)) over values ranked ascending — how "
    "concentrated spend is within each class. The oracle ranks rows "
    "directly; the Spark side computes the SAME sums scale-safely "
    "(r5 VERDICT: a rank window keyed on the ~5-value priority column "
    "sorts n/5 FACT rows per task at 100x): rows collapse to "
    "per-(priority, distinct price) counts first — prices are a "
    "2-decimal bounded domain, the q124 shape — and a tie run of c "
    "rows at cumulative offset C contributes v*(c*C + c*(c+1)/2) to "
    "SUM(i*x) exactly (consecutive ranks over equal values; the "
    "orderkey tie-break never changes the sum). The prefix-sum window "
    "rides the bounded value domain, never row count",
    tags=("stats",),
)
def q105_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    cnt = t["orders"].groupBy("o_orderpriority", "o_totalprice").agg(
        F.count("*").cast("bigint").alias("c")
    )
    w_prev = (
        W.partitionBy("o_orderpriority")
        .orderBy("o_totalprice")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    ranked = cnt.withColumn(
        "cum_before", F.coalesce(F.sum("c").over(w_prev), F.lit(0))
    )
    # doubles before multiplying: c*C overflows BIGINT at ~1e10 rows
    c_d = F.col("c").cast("double")
    six = F.sum(
        F.col("o_totalprice")
        * (
            c_d * F.col("cum_before").cast("double")
            + c_d * (c_d + 1.0) / 2.0
        )
    )
    n = F.sum("c")
    sx = F.sum(F.col("o_totalprice") * c_d)
    return (
        ranked.groupBy("o_orderpriority")
        .agg(
            n.alias("n_orders"),
            F.round(
                (2.0 * six - (n + 1) * sx) / (n * sx), 6
            ).alias("gini"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q106_cusum_changepoint",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY 1, 2
        ), m AS (
            SELECT event_type, AVG(x) AS mu FROM daily GROUP BY 1
        ), s AS (
            SELECT d.event_type, d.day,
                   ROUND(ABS(SUM(d.x - m.mu) OVER
                       (PARTITION BY d.event_type ORDER BY d.day)), 4)
                       AS abs_s
            FROM daily d JOIN m USING (event_type)
        ), peak AS (
            SELECT event_type, MAX(abs_s) AS peak_s FROM s GROUP BY 1
        )
        SELECT s.event_type, MIN(s.day) AS change_day, peak.peak_s
        FROM s JOIN peak
          ON s.event_type = peak.event_type AND s.abs_s = peak.peak_s
        GROUP BY s.event_type, peak.peak_s
        ORDER BY s.event_type
    """,
    description="CUSUM changepoint scan over the daily event-count "
    "series per type: S_i = cumsum(x_i - mean), changepoint = argmax "
    "|S| (Page 1954). Daily rollup, per-type mean joined back "
    "(broadcast — one row per type), one window cumsum, then a "
    "max-join argmax with a MIN(day) tie-break so both engines pick "
    "the same peak. The rollup-first shape keeps the window input at "
    "O(days x types) regardless of raw volume",
    tags=("stats", "timeseries", "events"),
)
def q106_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    daily = (
        t["events"]
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("x"))
    )
    m = daily.groupBy("event_type").agg(F.avg("x").alias("mu"))
    w = W.partitionBy("event_type").orderBy("day")
    from amadou_spark.scale import materialize_shared

    # s feeds BOTH the peak aggregation and the argmax join; without
    # an eager cut the broadcast consumer defeats ReusedExchange and
    # the whole rollup+window subtree runs twice (plan audit r5). The
    # materialized frame is O(days x types) — tiny at any scale.
    s = materialize_shared(
        daily.join(F.broadcast(m), "event_type").select(
            "event_type",
            "day",
            F.round(F.abs(F.sum(F.col("x") - F.col("mu")).over(w)), 4).alias(
                "abs_s"
            ),
        )
    )
    peak = (
        s.groupBy(F.col("event_type").alias("pk_type"))
        .agg(F.max("abs_s").alias("peak_s"))
    )
    return (
        s.join(
            F.broadcast(peak),
            (F.col("event_type") == F.col("pk_type"))
            & (F.col("abs_s") == F.col("peak_s")),
        )
        .groupBy("event_type", "peak_s")
        .agg(F.min("day").alias("change_day"))
        .select("event_type", "change_day", "peak_s")
        .orderBy("event_type")
    )


@query(
    "q107_corr_matrix",
    oracle="""
        WITH c AS (
            SELECT corr(l_quantity, l_extendedprice) AS qty_price,
                   corr(l_quantity, l_discount)      AS qty_disc,
                   corr(l_quantity, l_tax)           AS qty_tax,
                   corr(l_extendedprice, l_discount) AS price_disc,
                   corr(l_extendedprice, l_tax)      AS price_tax,
                   corr(l_discount, l_tax)           AS disc_tax
            FROM lineitem
        )
        SELECT col_x, col_y, ROUND(r, 4) AS r FROM (
            SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
                   qty_price AS r FROM c
            UNION ALL SELECT 'l_quantity', 'l_discount', qty_disc FROM c
            UNION ALL SELECT 'l_quantity', 'l_tax', qty_tax FROM c
            UNION ALL SELECT 'l_extendedprice', 'l_discount',
                             price_disc FROM c
            UNION ALL SELECT 'l_extendedprice', 'l_tax', price_tax FROM c
            UNION ALL SELECT 'l_discount', 'l_tax', disc_tax FROM c
        ) ORDER BY col_x, col_y
    """,
    description="pairwise Pearson correlation matrix of the lineitem "
    "numeric measures in long form (C(4,2)=6 pairs) — the feature-"
    "redundancy screen run before model training. All six corr() "
    "aggregates ride ONE scan and one map-side-combinable agg (Spark "
    "fuses them into a single ObjectHashAggregate); the 6-row result "
    "is then unpivoted driver-free via stack(). At 100 TB this stays "
    "a single pass over the fact table regardless of pair count",
    tags=("stats",),
)
def q107_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    pairs = [
        (a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]
    ]
    aggd = t["lineitem"].agg(
        *[
            F.round(F.corr(a, b), 4).alias(f"r_{i}")
            for i, (a, b) in enumerate(pairs)
        ]
    )
    stack_args = ", ".join(
        f"'{a}', '{b}', r_{i}" for i, (a, b) in enumerate(pairs)
    )
    return (
        aggd.selectExpr(
            f"stack({len(pairs)}, {stack_args}) AS (col_x, col_y, r)"
        )
        .orderBy("col_x", "col_y")
    )


@query(
    "q108_hhi_concentration",
    oracle="""
        WITH rev AS (
            SELECT s.s_nationkey, l.l_suppkey,
                   SUM(l.l_extendedprice * (1 - l.l_discount)) AS r
            FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
            GROUP BY 1, 2
        ), tot AS (
            SELECT s_nationkey, SUM(r) AS tr,
                   CAST(count(*) AS BIGINT) AS n_suppliers
            FROM rev GROUP BY 1
        )
        SELECT n.n_name, tot.n_suppliers,
               ROUND(SUM((rev.r / tot.tr) * (rev.r / tot.tr)), 6) AS hhi
        FROM rev
        JOIN tot USING (s_nationkey)
        JOIN nation n ON n.n_nationkey = rev.s_nationkey
        GROUP BY n.n_name, tot.n_suppliers
        ORDER BY n.n_name
    """,
    description="Herfindahl-Hirschman concentration index of supplier "
    "revenue share within each nation (HHI = SUM(share^2); 1/n = "
    "perfectly even, 1 = monopoly). Fact-dim join (supplier broadcast), "
    "supplier-level revenue rollup, per-nation totals joined back "
    "(25-row broadcast), one final agg. The heavy lineitem aggregation "
    "happens FIRST, so everything after it is dimension-sized — the "
    "canonical share-of-total shape at 100 TB",
    tags=("stats", "tpch"),
)
def q108_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    rev = (
        t["lineitem"]
        .join(
            F.broadcast(t["supplier"]),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("r")
        )
    )
    tot = rev.groupBy("s_nationkey").agg(
        F.sum("r").alias("tr"), F.count("*").alias("n_suppliers")
    )
    share = F.col("r") / F.col("tr")
    return (
        rev.join(F.broadcast(tot), "s_nationkey")
        .join(
            F.broadcast(t["nation"]),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .groupBy("n_name", "n_suppliers")
        .agg(F.round(F.sum(share * share), 6).alias("hhi"))
        .orderBy("n_name")
    )


@query(
    "q109_rolling_anomaly",
    oracle="""
        WITH z AS (
            SELECT event_id, user_id, value,
                   AVG(value) OVER pw AS mu,
                   STDDEV_SAMP(value) OVER pw AS sd,
                   COUNT(*) OVER pw AS n_hist
            FROM events
            WINDOW pw AS (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
        )
        SELECT event_id, user_id, ROUND(value, 4) AS value,
               ROUND((value - mu) / sd, 3) AS z
        FROM z
        WHERE n_hist >= 8 AND sd > 1e-9 AND ABS((value - mu) / sd) > 2.5
        ORDER BY event_id
    """,
    description="rolling z-score anomaly detector over each user's "
    "event-value stream: score each point against the mean/std of its "
    "own PRIOR 20 events (frame ends at 1 PRECEDING so the point never "
    "contaminates its own baseline), flag |z| > 2.5 after an 8-event "
    "warmup. ONE window spec carries mean, std and history count — one "
    "shuffle on user_id, one per-partition sort, streaming frame "
    "evaluation. This is the online-monitoring shape: at 100 TB the "
    "same plan runs per-key incrementally under Structured Streaming "
    "(b07's applyInPandasWithState variant)",
    tags=("stats", "timeseries", "events"),
)
def q109_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    pw = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    z = t["events"].select(
        "event_id",
        "user_id",
        "value",
        F.avg("value").over(pw).alias("mu"),
        F.stddev_samp("value").over(pw).alias("sd"),
        F.count("*").over(pw).alias("n_hist"),
    )
    zscore = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        z.filter(
            (F.col("n_hist") >= 8)
            & (F.col("sd") > 1e-9)
            & (F.abs(zscore) > 2.5)
        )
        .select(
            "event_id",
            "user_id",
            F.round("value", 4).alias("value"),
            F.round(zscore, 3).alias("z"),
        )
        .orderBy("event_id")
    )


@query(
    "q111_fuzzy_name_pairs",
    oracle="""
        WITH names AS (SELECT DISTINCT p_name FROM part),
        blocked AS (
            SELECT p_name, split_part(p_name, ' ', 1) AS blk FROM names
        )
        SELECT a.blk, a.p_name AS name_a, b.p_name AS name_b,
               CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        FROM blocked a JOIN blocked b
          ON a.blk = b.blk AND a.p_name < b.p_name
        WHERE levenshtein(a.p_name, b.p_name) <= 4
        ORDER BY a.blk, name_a, name_b
    """,
    description="blocked fuzzy record linkage over part names: "
    "canonicalize to DISTINCT name strings first (entity resolution "
    "always dedups to the entity table before pairwise work), block "
    "on the first token so the quadratic comparison runs within "
    "blocks only, then Levenshtein-score candidate pairs and keep "
    "edit distance <= 4. The distinct-then-block shape is the 100 TB "
    "contract: pairwise cost is sum over blocks of |block|^2 on the "
    "DISTINCT entity table (tiny), never on the raw fact rows; "
    "levenshtein runs JVM-side on both engines",
    tags=("linkage", "text"),
)
def q111_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    names = t["part"].select("p_name").distinct()
    blocked = names.select(
        "p_name", F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("blk")
    )
    a = blocked.alias("a")
    b = blocked.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .filter(dist <= 4)
        .select(
            F.col("a.blk").alias("blk"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            dist.cast("bigint").alias("dist"),
        )
        .orderBy("blk", "name_a", "name_b")
    )


@query(
    "q112_assortativity",
    oracle="""
        WITH pl AS (SELECT l_orderkey, l_partkey FROM lineitem
                    WHERE l_orderkey % 5 = 0),
        e AS (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM pl a JOIN pl b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
        ),
        deg AS (
            SELECT node, CAST(count(*) AS BIGINT) AS d
            FROM (SELECT u AS node FROM e
                  UNION ALL SELECT v AS node FROM e)
            GROUP BY node
        ),
        sym AS (
            SELECT u AS a, v AS b FROM e
            UNION ALL SELECT v AS a, u AS b FROM e
        )
        SELECT CAST(count(*) / 2 AS BIGINT) AS n_edges,
               ROUND(corr(da.d, db.d), 4) AS assortativity
        FROM sym
        JOIN deg da ON sym.a = da.node
        JOIN deg db ON sym.b = db.node
    """,
    description="degree assortativity of the co-order part graph "
    "(Newman 2002): Pearson correlation of endpoint degrees over the "
    "symmetrized edge list — do high-degree parts co-order with other "
    "high-degree parts? Shares the q96-q99 sampled edge builder "
    "(lockstep CTEs); two degree joins (the degree table is node-"
    "sized, broadcastable) and ONE corr aggregate. No wedge "
    "materialization — edge-linear, hub-safe at any scale",
    tags=("graph", "stats"),
)
def q112_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.queries.frontier import _co_order_edges

    from amadou_spark.scale import materialize_shared

    t = register_tables(spark, sf_dir)
    # checkpoint the edge list: FOUR consumers (degree agg + both
    # symmetrization legs + the broadcast deg tables' subtrees) would
    # otherwise each re-run the lineitem self-join + distinct — pruning
    # specializes the copies so exchange reuse can't dedup them (10
    # lineitem scans in the r7 dup audit)
    e = materialize_shared(_co_order_edges(t).distinct())
    deg = (
        e.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    sym = e.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        e.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("deg_b"))
    return (
        sym.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .agg(
            (F.count("*") / 2).cast("bigint").alias("n_edges"),
            F.round(F.corr("deg_a", "deg_b"), 4).alias("assortativity"),
        )
    )


@query(
    "q113_zipf_fit",
    oracle="""
        WITH tok AS (
            SELECT unnest(string_split(text, ' ')) AS t FROM documents
        ), cnt AS (
            SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok
            WHERE t <> '' GROUP BY t
        ), ranked AS (
            SELECT ln(row_number() OVER (ORDER BY c DESC, t)) AS x,
                   ln(c) AS y
            FROM cnt
            ORDER BY c DESC, t LIMIT 500
        ), s AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   SUM(x) AS sx, SUM(y) AS sy,
                   SUM(x * x) AS sxx, SUM(x * y) AS sxy
            FROM ranked
        )
        SELECT n AS n_ranks,
               ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 4)
                   AS zipf_slope,
               ROUND((sy - (n * sxy - sx * sy)
                           / (n * sxx - sx * sx) * sx) / n, 4)
                   AS log_intercept
        FROM s
    """,
    description="Zipf's-law fit over the document corpus: OLS slope "
    "of ln(frequency) on ln(rank) for the top-500 tokens (natural "
    "corpora run slope ~ -1; a far-off slope flags synthetic or "
    "degenerate text — a standard corpus-health check). Token count "
    "(map-side combined), top-500 via TakeOrderedAndProject with a "
    "full (count DESC, token) tie-break so both engines rank "
    "identically, then the q100 BIGINT-moment regression shape on "
    "500 rows. The heavy stage is the token count; everything after "
    "is constant-sized regardless of corpus scale",
    tags=("text", "stats"),
)
def q113_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    cnt = (
        t["documents"]
        .select(F.explode(F.split(F.col("text"), " ")).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.count("*").alias("c"))
    )
    top = cnt.orderBy(F.col("c").desc(), "t").limit(500)
    w = W.orderBy(F.col("c").desc(), "t")
    ranked = top.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    s = ranked.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num / den
    return s.select(
        F.col("n").alias("n_ranks"),
        F.round(slope, 4).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 4).alias(
            "log_intercept"
        ),
    )


@query(
    "q114_lexical_diversity",
    oracle="""
        WITH tok AS (
            SELECT source, unnest(string_split(text, ' ')) AS t
            FROM documents
        ), cnt AS (
            SELECT source, t, CAST(count(*) AS BIGINT) AS c
            FROM tok WHERE t <> '' GROUP BY source, t
        )
        SELECT source,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_types,
               ROUND(count(*) / CAST(SUM(c) AS DOUBLE), 6) AS ttr,
               ROUND(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 6) AS hapax_share
        FROM cnt GROUP BY source ORDER BY source
    """,
    description="lexical-diversity profile per document source: "
    "type-token ratio and hapax-legomenon share (the vocabulary-"
    "breadth signals corpus curation tracks per provenance — low TTR "
    "or hapax share flags templated/boilerplate sources). Two stacked "
    "hash aggregations ((source, token) counts, then per-source "
    "rollup) — both map-side combinable, all exact BIGINT arithmetic "
    "until the two final ratios",
    tags=("text", "stats"),
)
def q114_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    cnt = (
        t["documents"]
        .select(
            "source", F.explode(F.split(F.col("text"), " ")).alias("t")
        )
        .filter(F.col("t") != "")
        .groupBy("source", "t")
        .agg(F.count("*").alias("c"))
    )
    return (
        cnt.groupBy("source")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("n_types"),
            F.round(F.count("*") / F.sum("c").cast("double"), 6).alias(
                "ttr"
            ),
            F.round(
                F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
                / F.count("*").cast("double"),
                6,
            ).alias("hapax_share"),
        )
        .orderBy("source")
    )


@query(
    "q116_bitmap_intersection",
    oracle="""
        WITH tu AS (
            SELECT DISTINCT event_type, user_id FROM events
        )
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS n_both
        FROM tu a JOIN tu b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    description="audience-overlap matrix via a distributed bitmap "
    "index: user ids bucket into 64-wide words (bucket = id/64, bit = "
    "id%64), each (event_type, bucket) rolls up to one BIGINT word by "
    "bit_or (map-side combined), and every type-pair overlap is then "
    "SUM(bit_count(w1 & w2)) over a bucket-keyed equi-join of the two "
    "bitmaps — the roaring-bitmap shape OLAP engines use for segment "
    "intersection. The bitmap table is |types| x |id-space|/64 words "
    "(~64x smaller than the distinct pairs), so P pairwise overlaps "
    "cost P tiny word joins, never P distinct-user self-joins; the "
    "oracle IS the naive self-join, pinning exactness",
    tags=("bitmap", "events"),
)
def q116_bitmap_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.scale import materialize_shared

    t = register_tables(spark, sf_dir)
    # the bitmap table is read by both sides of the pair join; the
    # eager cut stops the raw-events aggregation from running twice
    # (plan audit r5) — the bitmap itself is |types| x |ids|/64 words
    words = materialize_shared(
        t["events"]
        .select(
            "event_type",
            (F.col("user_id") / 64).cast("bigint").alias("bucket"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))"
            ).alias("bit"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.bit_or("bit").alias("w"))
    )
    a = words.select(
        F.col("event_type").alias("type_a"), "bucket", F.col("w").alias("wa")
    )
    b = words.select(
        F.col("event_type").alias("type_b"), "bucket", F.col("w").alias("wb")
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(F.bit_count(F.col("wa").bitwiseAND(F.col("wb"))))
            .cast("bigint")
            .alias("n_both")
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "q117_seasonal_index",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   isodow(CAST(ts AS DATE)) AS dow,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY 1, 2, 3
        ), base AS (
            SELECT event_type, AVG(x) AS mu FROM daily GROUP BY 1
        )
        SELECT d.event_type, CAST(d.dow AS BIGINT) AS dow,
               CAST(count(*) AS BIGINT) AS n_days,
               ROUND(AVG(d.x) / ANY_VALUE(b.mu), 4) AS seasonal_index
        FROM daily d JOIN base b USING (event_type)
        GROUP BY d.event_type, d.dow
        ORDER BY d.event_type, dow
    """,
    description="day-of-week seasonal index per event type: mean "
    "daily volume on each ISO weekday divided by the type's overall "
    "daily mean (index > 1 = above-trend weekday) — the seasonality "
    "profile extracted before detrending a forecast. Daily rollup "
    "first (the only pass over raw events), then two dimension-sized "
    "aggs and a per-type broadcast join. ISO weekday (Mon=1) is "
    "Spark weekday()+1 and DuckDB isodow, pinned to agree",
    tags=("stats", "timeseries", "events"),
)
def q117_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    daily = (
        t["events"]
        .groupBy(
            "event_type",
            F.to_date("ts").alias("day"),
            (F.weekday(F.to_date("ts")) + 1).cast("bigint").alias("dow"),
        )
        .agg(F.count("*").alias("x"))
    )
    base = daily.groupBy(F.col("event_type").alias("bt")).agg(
        F.avg("x").alias("mu")
    )
    return (
        daily.join(F.broadcast(base), F.col("event_type") == F.col("bt"))
        .groupBy("event_type", "dow")
        .agg(
            F.count("*").alias("n_days"),
            F.round(F.avg("x") / F.any_value("mu"), 4).alias(
                "seasonal_index"
            ),
        )
        .orderBy("event_type", "dow")
    )


@query(
    "q118_rfm_segments",
    oracle="""
        WITH rfm AS (
            SELECT o_custkey,
                   MAX(o_orderdate) AS last_order,
                   CAST(count(*) AS BIGINT) AS freq,
                   SUM(o_totalprice) AS monetary
            FROM orders GROUP BY 1
        ), scored AS (
            -- monetary ordered by exact integer CENTS (floor-half-up,
            -- the q133 pin): o_totalprice carries 2dp, so the cents of
            -- the SUM are mathematically exact while the raw double
            -- sum differs between engines by ~1e-9 association-order
            -- noise — ordering by the double would let a near-tie pair
            -- straddle a quartile boundary differently per engine
            SELECT o_custkey,
                   ntile(4) OVER (ORDER BY last_order, o_custkey) AS r,
                   ntile(4) OVER (ORDER BY freq, o_custkey) AS f,
                   ntile(4) OVER (ORDER BY
                       CAST(FLOOR(monetary * 100 + 0.5) AS BIGINT),
                       o_custkey) AS m,
                   monetary
            FROM rfm
        )
        SELECT r, f, m,
               CAST(count(*) AS BIGINT) AS n_customers,
               ROUND(SUM(monetary), 2) AS segment_value
        FROM scored GROUP BY r, f, m
        ORDER BY r, f, m
    """,
    description="RFM customer segmentation: per-customer recency/"
    "frequency/monetary rollup from orders, quartile-scored (custkey "
    "tie-break pins both engines to identical quartile boundaries), "
    "then the 4x4x4 segment census with value totals — the lifecycle-"
    "marketing workhorse. The oracle says ntile(4); the Spark side "
    "computes the SAME buckets with ZERO fact-grain sorts: one "
    "bounded_domain_ntile call scores all three measures off value-"
    "domain ntile lookup tables (one melted domain-sized collect off "
    "the checkpoint, prefix sums in Python, LocalRelation broadcasts; "
    "never an ordered window). Recency and frequency "
    "domains are naturally bounded (observation-window dates, "
    "small-int order counts); near-unique monetary becomes bounded by "
    "the monotone $1000 coarsening trick — ntile(ORDER BY cents, "
    "custkey) == ntile(ORDER BY floor(cents/1e5), cents, custkey), "
    "with monetary pinned to exact integer CENTS in both engines (the "
    "q133 floor-half-up pin; the raw double sum differs across "
    "engines by association-order noise). Rows whose three tie runs "
    "each sit inside one bucket aggregate straight off the broadcast "
    "tables; only the <=3 boundary-crossing runs per measure detour "
    "through per-run row_number windows (filtered BEFORE the "
    "shuffle), and both branches feed ONE 64-cell census aggregate — "
    "at 100 TB nothing larger than a boundary run is ever sorted",
    tags=("stats", "windows"),
)
def q118_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.scale import bounded_domain_ntile, materialize_shared

    t = register_tables(spark, sf_dir)
    rfm = materialize_shared(
        t["orders"]
        .groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("freq"),
            F.sum("o_totalprice").alias("monetary"),
        )
        # exact integer cents (oracle comment: the q133 pin) + the
        # monotone $1000 coarsening that makes monetary's quartiles a
        # bounded-domain problem: ntile(ORDER BY mon_c, custkey) ==
        # ntile(ORDER BY floor(mon_c/1e5), mon_c, custkey), and the
        # $1000 grid is bounded by the PRICE RANGE (order totalprice x
        # max order count), never by the customer count
        .withColumn(
            "mon_c", F.floor(F.col("monetary") * 100 + 0.5).cast("bigint")
        )
        .withColumn(
            "m_kilo", F.floor(F.col("mon_c") / 100000).cast("bigint")
        )
    )
    # rfm is CHECKPOINTED because exchange reuse cannot dedup it:
    # bounded_domain_ntile reads it twice (the domain melt, then the
    # join), and column pruning specializes each consumer's copy of the
    # agg, so the agg exchanges are not canonically equal (measured: 21
    # duplicate o_custkey exchanges without the materialize). One
    # orders scan + one fact-grain shuffle total; persist measured
    # SLOWER (columnar cache fill + cache-manager growth across calls).
    scored = bounded_domain_ntile(
        rfm,
        [
            ("last_order", ["o_custkey"], 4, "r"),
            ("freq", ["o_custkey"], 4, "f"),
            ("m_kilo", ["mon_c", "o_custkey"], 4, "m"),
        ],
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.round(F.sum("monetary"), 2).alias("segment_value"),
        )
        .orderBy("r", "f", "m")
    )


@query(
    "q119_rolling_distinct",
    oracle="""
        WITH du AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ), days AS (
            SELECT DISTINCT day FROM du
        )
        SELECT d.day,
               CAST(count(DISTINCT u.user_id) AS BIGINT) AS users_7d
        FROM days d
        JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
        GROUP BY d.day
        ORDER BY d.day
    """,
    description="rolling 7-day distinct users per day — the windowed "
    "COUNT(DISTINCT) SQL windows cannot express. Spark side uses the "
    "scalable form: collapse to DISTINCT (user, day) first, then "
    "explode each observation into the <=7 target days it contributes "
    "to (sequence()), and count distinct per target day — ONE bounded "
    "7x fan-out and one agg, no range join. The oracle is the "
    "equivalent day-range join, pinning the two formulations to the "
    "same answer. At 100 TB the fan-out rides the collapsed "
    "(user, day) grain, never raw events",
    tags=("timeseries", "events"),
)
def q119_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.scale import materialize_shared

    t = register_tables(spark, sf_dir)
    # materialize the collapsed (user, day) grain ONCE: both the 7x
    # fan-out and the observed-day list derive from it, so raw events
    # are scanned a single time (plan audit showed the days subtree
    # re-running the full scan+distinct otherwise)
    du = materialize_shared(
        t["events"]
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    days = du.select("day").distinct()
    contrib = du.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("target_day"),
    )
    return (
        contrib.join(
            F.broadcast(days),
            contrib["target_day"] == days["day"],
            "left_semi",
        )
        .groupBy(F.col("target_day").alias("day"))
        .agg(F.count_distinct("user_id").alias("users_7d"))
        .orderBy("day")
    )


@query(
    "q120_association_rules",
    oracle="""
        WITH baskets AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), n AS (
            SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
            FROM baskets
        ), item AS (
            SELECT l_partkey, CAST(count(*) AS BIGINT) AS s
            FROM baskets GROUP BY 1
        ), pair AS (
            SELECT a.l_partkey AS x, b.l_partkey AS y,
                   CAST(count(*) AS BIGINT) AS sxy
            FROM baskets a JOIN baskets b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING count(*) >= 2
        )
        SELECT p.x, p.y, p.sxy,
               ROUND(p.sxy / CAST(ix.s AS DOUBLE), 4) AS confidence,
               ROUND(p.sxy * (SELECT n_orders FROM n)
                     / (CAST(ix.s AS DOUBLE) * iy.s), 4) AS lift
        FROM pair p
        JOIN item ix ON p.x = ix.l_partkey
        JOIN item iy ON p.y = iy.l_partkey
        ORDER BY lift DESC, p.x, p.y LIMIT 25
    """,
    description="market-basket association rules over order baskets: "
    "pair support from the within-order self-join (bounded — baskets "
    "hold a handful of items, so pair fan-out is O(orders x "
    "items_per_order^2), never |parts|^2), with TWO a-priori cuts: "
    "items below min support are semi-joined OUT of the baskets "
    "BEFORE the pair self-join (sxy <= min(sx, sy), so no surviving "
    "pair can contain a sub-threshold item — this shrinks the "
    "explosion's input, not just its output), and the min-support "
    "HAVING prunes again at the pair aggregation. Confidence and "
    "lift from the item-support table joined back; top-25 by lift "
    "via TakeOrdered with full tie-breaks",
    tags=("stats", "tpch"),
)
def q120_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.scale import materialize_shared

    t = register_tables(spark, sf_dir)
    all_baskets = materialize_shared(
        t["lineitem"].select("l_orderkey", "l_partkey").distinct()
    )
    n_orders = all_baskets.select(
        F.count_distinct("l_orderkey").alias("n_orders")
    )
    item = all_baskets.groupBy("l_partkey").agg(F.count("*").alias("s"))
    # a-priori item prune: a pair with support >= 2 needs both items
    # at support >= 2, so sub-threshold items leave before the
    # quadratic fan-out (r5 VERDICT #7). Result-identical: the HAVING
    # below would have dropped every pair these rows could form.
    baskets = all_baskets.join(
        item.filter(F.col("s") >= 2).select("l_partkey"),
        "l_partkey",
        "left_semi",
    )
    a, b = baskets.alias("a"), baskets.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("x"), F.col("b.l_partkey").alias("y")
        )
        .agg(F.count("*").alias("sxy"))
        .filter(F.col("sxy") >= 2)
    )
    ix = item.select(F.col("l_partkey").alias("x"), F.col("s").alias("sx"))
    iy = item.select(F.col("l_partkey").alias("y"), F.col("s").alias("sy"))
    return (
        pair.join(ix, "x")
        .join(iy, "y")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "x",
            "y",
            "sxy",
            F.round(F.col("sxy") / F.col("sx").cast("double"), 4).alias(
                "confidence"
            ),
            F.round(
                F.col("sxy")
                * F.col("n_orders")
                / (F.col("sx").cast("double") * F.col("sy")),
                4,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "x", "y")
        .limit(25)
    )


@query(
    "q121_snaive_backtest",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY 1, 2
        ), f AS (
            SELECT event_type, day, x,
                   lag(x, 7) OVER (PARTITION BY event_type
                                   ORDER BY day) AS forecast
            FROM daily
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_scored,
               ROUND(AVG(ABS(x - forecast) / CAST(x AS DOUBLE)), 4)
                   AS mape,
               ROUND(AVG(ABS(CAST(x - forecast AS DOUBLE))), 4) AS mae
        FROM f WHERE forecast IS NOT NULL AND x > 0
        GROUP BY event_type
        ORDER BY event_type
    """,
    description="seasonal-naive forecast backtest: forecast(day) = "
    "actual(day - 7), scored with MAPE and MAE per event type — the "
    "baseline every forecasting pipeline must beat, and the shape "
    "a backtest harness runs at scale (the forecast is a lag, so "
    "evaluation is ONE window + one agg, zero joins). Daily rollup "
    "first as always; the window rides the day-grain remnant",
    tags=("timeseries", "events"),
)
def q121_snaive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    daily = (
        t["events"]
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("x"))
    )
    w = W.partitionBy("event_type").orderBy("day")
    f = daily.select(
        "event_type", "x", F.lag("x", 7).over(w).alias("forecast")
    )
    return (
        f.filter(F.col("forecast").isNotNull() & (F.col("x") > 0))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_scored"),
            F.round(
                F.avg(
                    F.abs(F.col("x") - F.col("forecast"))
                    / F.col("x").cast("double")
                ),
                4,
            ).alias("mape"),
            F.round(
                F.avg(F.abs((F.col("x") - F.col("forecast")).cast("double"))),
                4,
            ).alias("mae"),
        )
        .orderBy("event_type")
    )


@query(
    "q122_exact_quantiles",
    oracle="""
        WITH r AS (
            SELECT c_mktsegment, c_acctbal,
                   row_number() OVER (PARTITION BY c_mktsegment
                                      ORDER BY c_acctbal, c_custkey) AS rn,
                   count(*) OVER (PARTITION BY c_mktsegment) AS n
            FROM customer
        )
        SELECT c_mktsegment,
               ROUND(MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                              THEN c_acctbal END), 2) AS p50,
               ROUND(MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT)
                              THEN c_acctbal END), 2) AS p90,
               ROUND(MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT)
                              THEN c_acctbal END), 2) AS p99
        FROM r
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    description="EXACT distributed quantiles (p50/p90/p99, lower-rank "
    "definition) per segment via rank selection — exact, "
    "deterministic, engine-agnostic, unlike percentile_approx (B05) "
    "whose sketch is engine-specific. The oracle ranks rows directly; "
    "the Spark side selects the SAME elements scale-safely (r5 "
    "VERDICT: a rank window keyed on the ~5-value segment column "
    "sorts n/5 FACT rows per task at 100x): rows collapse to "
    "per-(segment, distinct balance) counts first — balances are a "
    "2-decimal bounded domain, the q124 shape — and the element at "
    "rank ceil(q*n) is the distinct value whose tie run [cum_before+1"
    ", cum] covers that rank (all tied rows share the value, so the "
    "custkey tie-break cannot change the selected VALUE). The "
    "prefix-sum window rides the bounded value domain, never rows",
    tags=("stats",),
)
def q122_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    cnt = t["customer"].groupBy("c_mktsegment", "c_acctbal").agg(
        F.count("*").cast("bigint").alias("c")
    )
    w_cum = (
        W.partitionBy("c_mktsegment")
        .orderBy("c_acctbal")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_all = W.partitionBy("c_mktsegment")
    r = cnt.select(
        "c_mktsegment",
        "c_acctbal",
        F.sum("c").over(w_cum).alias("cum"),
        F.col("c"),
        F.sum("c").over(w_all).alias("n"),
    ).withColumn("cum_before", F.col("cum") - F.col("c"))

    def pick(q: float):
        target = F.ceil(F.lit(q) * F.col("n")).cast("bigint")
        return F.round(
            F.max(
                F.when(
                    (target > F.col("cum_before"))
                    & (target <= F.col("cum")),
                    F.col("c_acctbal"),
                )
            ),
            2,
        )

    return (
        r.groupBy("c_mktsegment")
        .agg(
            pick(0.5).alias("p50"),
            pick(0.9).alias("p90"),
            pick(0.99).alias("p99"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q123_chi_square",
    oracle="""
        WITH o AS (
            SELECT c_mktsegment AS s, c_nationkey AS k,
                   CAST(count(*) AS DOUBLE) AS obs
            FROM customer GROUP BY 1, 2
        ), m AS (
            SELECT s, k, obs,
                   sum(obs) OVER (PARTITION BY s) AS rs,
                   sum(obs) OVER (PARTITION BY k) AS cs,
                   sum(obs) OVER () AS n
            FROM o
        )
        SELECT ROUND(SUM((obs - rs * cs / n) * (obs - rs * cs / n)
                         / (rs * cs / n)), 4) AS chi2,
               CAST((count(DISTINCT s) - 1) * (count(DISTINCT k) - 1)
                    AS BIGINT) AS dof,
               CAST(MAX(n) AS BIGINT) AS n,
               ROUND(SQRT(SUM((obs - rs * cs / n) * (obs - rs * cs / n)
                              / (rs * cs / n))
                          / (MAX(n) * LEAST(count(DISTINCT s) - 1,
                                            count(DISTINCT k) - 1))), 4)
                   AS cramers_v
        FROM m
    """,
    description="chi-square test of independence (segment x nation) "
    "with Cramer's V effect size — the categorical-association test a "
    "feature-selection pass runs per feature pair. One hash agg builds "
    "the contingency table; the marginals are per-category tables "
    "(bounded by the category domain, not the data) so broadcasting "
    "them back is safe at any scale; expected counts and the chi2 sum "
    "ride the contingency grain (|S| x |K| rows). At 100 TB the only "
    "pass over raw data is the first agg",
    tags=("stats",),
)
def q123_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.scale import materialize_shared

    t = register_tables(spark, sf_dir)
    # the contingency table feeds FOUR consumers (cells, both marginals,
    # grand total) — materialize it once so raw data is scanned once
    obs = materialize_shared(
        t["customer"]
        .groupBy(
            F.col("c_mktsegment").alias("s"), F.col("c_nationkey").alias("k")
        )
        .agg(F.count("*").cast("double").alias("obs"))
    )
    rs = obs.groupBy("s").agg(F.sum("obs").alias("rs"))
    cs = obs.groupBy("k").agg(F.sum("obs").alias("cs"))
    n = obs.agg(F.sum("obs").alias("n"))
    cell = (
        obs.join(F.broadcast(rs), "s")
        .join(F.broadcast(cs), "k")
        .crossJoin(F.broadcast(n))
    )
    e = F.col("rs") * F.col("cs") / F.col("n")
    term = (F.col("obs") - e) * (F.col("obs") - e) / e
    chi2 = F.sum(term)
    dof_r = F.count_distinct("s") - 1
    dof_c = F.count_distinct("k") - 1
    return cell.agg(
        F.round(chi2, 4).alias("chi2"),
        (dof_r * dof_c).cast("bigint").alias("dof"),
        F.max("n").cast("bigint").alias("n"),
        F.round(
            F.sqrt(chi2 / (F.max("n") * F.least(dof_r, dof_c))), 4
        ).alias("cramers_v"),
    )


@query(
    "q124_ks_test",
    oracle="""
        WITH v AS (
            SELECT c_acctbal AS val,
                   CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
                       AS in_a
            FROM customer
            WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        ), cnt AS (
            SELECT val,
                   CAST(sum(in_a) AS BIGINT) AS ca,
                   CAST(sum(1 - in_a) AS BIGINT) AS cb
            FROM v GROUP BY val
        ), cum AS (
            SELECT sum(ca) OVER (ORDER BY val) AS cum_a,
                   sum(cb) OVER (ORDER BY val) AS cum_b,
                   (SELECT sum(ca) FROM cnt) AS na,
                   (SELECT sum(cb) FROM cnt) AS nb
            FROM cnt
        )
        SELECT ROUND(MAX(ABS(cum_a / CAST(na AS DOUBLE)
                             - cum_b / CAST(nb AS DOUBLE))), 6) AS ks_d,
               CAST(MAX(na) AS BIGINT) AS n_a,
               CAST(MAX(nb) AS BIGINT) AS n_b
        FROM cum
    """,
    description="two-sample Kolmogorov-Smirnov statistic (BUILDING vs "
    "MACHINERY account balances): D = max |ECDF_a - ECDF_b|, the "
    "distribution-drift test a data-quality monitor runs between "
    "snapshots. Scale shape: raw rows collapse to per-DISTINCT-VALUE "
    "counts first (one hash agg), so the prefix-sum window rides the "
    "value domain, not the row count — for fixed-precision measures "
    "the domain is bounded (~1.1M two-decimal values here) no matter "
    "how many rows. The ordered pass is an UNPARTITIONED window, i.e. "
    "a single-partition sort — acceptable (and allowlisted in the "
    "plan-hygiene audit) only because its input is the bounded "
    "collapsed value table, never raw rows",
    tags=("stats",),
)
def q124_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    v = (
        t["customer"]
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            F.col("c_acctbal").alias("val"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1)
            .otherwise(0)
            .alias("in_a"),
        )
    )
    cnt = v.groupBy("val").agg(
        F.sum("in_a").cast("bigint").alias("ca"),
        F.sum(1 - F.col("in_a")).cast("bigint").alias("cb"),
    )
    tot = cnt.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    # The ordered prefix sum runs on the collapsed distinct-value grain
    # (bounded by the value domain), never on raw rows — that is what
    # makes an exact distributed KS feasible.
    w = W.orderBy("val").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = cnt.select(
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
    ).crossJoin(F.broadcast(tot))
    return cum.agg(
        F.round(
            F.max(
                F.abs(
                    F.col("cum_a") / F.col("na").cast("double")
                    - F.col("cum_b") / F.col("nb").cast("double")
                )
            ),
            6,
        ).alias("ks_d"),
        F.max("na").cast("bigint").alias("n_a"),
        F.max("nb").cast("bigint").alias("n_b"),
    )


@query(
    "q125_benford",
    oracle="""
        WITH d AS (
            SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
                                    AS VARCHAR), 1, 1) AS BIGINT) AS digit
            FROM orders
        ), tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM d)
        SELECT digit,
               CAST(count(*) AS BIGINT) AS n,
               ROUND(count(*) / (SELECT n FROM tot), 6) AS obs_freq,
               ROUND(LOG10(1.0 + 1.0 / digit), 6) AS benford_freq,
               ROUND(count(*) / (SELECT n FROM tot)
                     - LOG10(1.0 + 1.0 / digit), 6) AS deviation
        FROM d GROUP BY digit ORDER BY digit
    """,
    description="Benford's-law first-digit audit of order totals — the "
    "classic fraud / synthetic-data smell test. The leading digit is "
    "extracted from the BIGINT integer part via string head (exact and "
    "engine-portable; floor(log10(x)) would be 1-ulp fragile at powers "
    "of ten), so the whole query is one narrow projection plus one "
    "9-bucket hash agg — embarrassingly parallel at any scale",
    tags=("stats", "quality"),
)
def q125_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    d = t["orders"].select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("bigint")
        .alias("digit")
    )
    tot = d.agg(F.count("*").cast("double").alias("tn"))
    return (
        d.groupBy("digit")
        .agg(F.count("*").alias("n"))
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("n") / F.col("tn"), 6).alias("obs_freq"),
            F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias(
                "benford_freq"
            ),
            F.round(
                F.col("n") / F.col("tn")
                - F.log10(1.0 + 1.0 / F.col("digit")),
                6,
            ).alias("deviation"),
        )
        .orderBy("digit")
    )


# Exponential weights for q126, built by repeated multiplication and
# embedded into BOTH engines as the same Python double literals
# (repr() round-trips exactly; the SQL parser reads the literal to the
# nearest double = the identical bits — CAST AS DOUBLE because bare
# decimal literals parse as DECIMAL in DuckDB, which would silently
# switch the whole expression to decimal arithmetic) so the two sides
# are in numeric lockstep with no cross-engine pow() dependence.
_EWMA_ALPHA = 0.3
_EWMA_W: list[float] = [1.0]
for _i in range(7):
    _EWMA_W.append(_EWMA_W[-1] * (1.0 - _EWMA_ALPHA))

_EWMA_NUMER_SQL = " + ".join(
    f"COALESCE(lag(v, {i}) OVER w, 0.0) * CAST({w!r} AS DOUBLE)"
    for i, w in enumerate(_EWMA_W)
)
_EWMA_DENOM_SQL = " + ".join(
    f"CASE WHEN lag(v, {i}) OVER w IS NOT NULL"
    f" THEN CAST({w!r} AS DOUBLE) ELSE 0.0 END"
    for i, w in enumerate(_EWMA_W)
)

# Engine-stable half-up rounding: Spark's ROUND rounds the SHORTEST
# DECIMAL REPR of a double (38.378750 -> 38.3788) while DuckDB rounds
# the exact binary value (38.3787499999... -> 38.3787), so any value
# whose decimal form is a tie diverges SYSTEMATICALLY. floor(x*1e4+0.5)
# is pure double arithmetic — identical inputs give identical bits on
# both engines, no decimal-repr dependence.
_R4_SQL = "FLOOR({expr} * 10000.0 + 0.5) / 10000.0"


def _r4(col):  # Spark twin of _R4_SQL
    return F.floor(col * 10000.0 + 0.5) / 10000.0


@query(
    "q126_ewma",
    oracle=f"""
        WITH daily AS (
            -- the smoother runs on the PRE-ROUNDED daily series so both
            -- engines feed the EWMA identical doubles (a raw AVG is
            -- 1-ulp partial-agg-order sensitive; sf0.001 actually lands
            -- an avg on the exact decimal tie 38.378750)
            SELECT event_type, CAST(ts AS DATE) AS day,
                   {_R4_SQL.format(expr="AVG(value)")} AS v
            FROM events GROUP BY 1, 2
        )
        SELECT event_type, day, v,
               {_R4_SQL.format(
                   expr=f"({_EWMA_NUMER_SQL}) / ({_EWMA_DENOM_SQL})"
               )} AS ewma
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day)
        ORDER BY event_type, day
    """,
    description="exponentially-weighted moving average (alpha=0.3) of "
    "the daily value series per event type — the standard smoother a "
    "monitoring/forecast pipeline applies before thresholding. Uses "
    "the BOUNDED form (8 exponential weights over a row window, "
    "renormalized at series starts): weights below (1-a)^8 ~ 6% are "
    "dropped, which makes EWMA expressible as ONE window over the "
    "daily rollup — no recursion, no iterative state. Raw events "
    "collapse to the (type, day) grain first, so the window sort "
    "rides thousands of rows regardless of raw volume",
    tags=("timeseries", "events"),
)
def q126_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    daily = (
        t["events"]
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(_r4(F.avg("value")).alias("v"))
    )
    w = W.partitionBy("event_type").orderBy("day")
    numer = None
    denom = None
    for i, wt in enumerate(_EWMA_W):
        lagged = F.lag("v", i).over(w)
        nterm = F.coalesce(lagged, F.lit(0.0)) * F.lit(wt)
        dterm = (
            F.when(lagged.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0))
        )
        numer = nterm if numer is None else numer + nterm
        denom = dterm if denom is None else denom + dterm
    return daily.select(
        "event_type",
        "day",
        "v",
        _r4(numer / denom).alias("ewma"),
    ).orderBy("event_type", "day")


@query(
    "q127_attribution",
    oracle="""
        WITH e AS (
            SELECT user_id, ts, event_id, event_type, value,
                   CASE WHEN event_type <> 'purchase'
                        THEN event_type END AS ch
            FROM events
        ), f AS (
            SELECT *,
                   count(ch) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS grp
            FROM e
        ), g AS (
            SELECT *, max(ch) OVER (PARTITION BY user_id, grp) AS channel
            FROM f
        )
        SELECT COALESCE(channel, '(direct)') AS channel,
               CAST(count(*) AS BIGINT) AS n_purchases,
               ROUND(SUM(value), 2) AS revenue
        FROM g WHERE event_type = 'purchase'
        GROUP BY 1 ORDER BY 1
    """,
    description="last-touch revenue attribution: each purchase is "
    "credited to the user's most recent preceding non-purchase event "
    "type ('(direct)' when none), then revenue rolls up per channel — "
    "the canonical marketing-analytics query. Spark side is ONE "
    "user-partitioned window (last non-null carry-forward via "
    "last(ignorenulls), so a single shuffle on user_id) plus the "
    "final channel rollup; the oracle pins the same semantics with "
    "the engine-portable gaps-and-islands form (running count of "
    "non-nulls = island id, max within island). Ordering ties broken "
    "by event_id, so both sides are deterministic",
    tags=("events", "timeseries"),
)
def q127_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    e = t["events"].select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.when(F.col("event_type") != "purchase", F.col("event_type")).alias(
            "ch"
        ),
    )
    attributed = e.withColumn(
        "channel", F.last("ch", ignorenulls=True).over(w)
    )
    return (
        attributed.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.coalesce(F.col("channel"), F.lit("(direct)")).alias("channel")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("revenue"),
        )
        .orderBy("channel")
    )


@query(
    "q128_twap",
    oracle="""
        WITH e AS (
            SELECT event_type, CAST(ts AS DATE) AS day, value,
                   epoch_us(ts) AS t_us,
                   lead(epoch_us(ts)) OVER (
                       PARTITION BY event_type, CAST(ts AS DATE)
                       ORDER BY ts, event_id) AS next_us
            FROM events
        )
        SELECT event_type, day,
               CAST(count(*) AS BIGINT) AS n_intervals,
               ROUND(SUM(value * (next_us - t_us))
                     / SUM(CAST(next_us - t_us AS DOUBLE)), 4) AS twap
        FROM e WHERE next_us IS NOT NULL
        GROUP BY event_type, day
        HAVING SUM(next_us - t_us) > 0
        ORDER BY event_type, day
    """,
    description="time-weighted average value (TWAP) per event type and "
    "day: each observation is weighted by the microsecond interval it "
    "was 'in effect' (until the next event in the same stream) — the "
    "correct average for irregularly-sampled series, where the naive "
    "mean over-weights bursts. Interval arithmetic stays in exact "
    "BIGINT microseconds (unix_micros / epoch_us on both engines); one "
    "window for lead + one hash agg, both riding the (type, day) "
    "partitioning — no global sort at any scale",
    tags=("timeseries", "events"),
)
def q128_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    w = W.partitionBy("event_type", F.to_date("ts")).orderBy(
        "ts", "event_id"
    )
    e = t["events"].select(
        "event_type",
        F.to_date("ts").alias("day"),
        "value",
        F.unix_micros("ts").alias("t_us"),
        F.lead(F.unix_micros("ts")).over(w).alias("next_us"),
    )
    dt = F.col("next_us") - F.col("t_us")
    return (
        e.filter(F.col("next_us").isNotNull())
        .groupBy("event_type", "day")
        .agg(
            F.count("*").cast("bigint").alias("n_intervals"),
            F.round(
                F.sum(F.col("value") * dt) / F.sum(dt.cast("double")), 4
            ).alias("twap"),
            F.sum(dt).alias("_dt"),
        )
        .filter(F.col("_dt") > 0)
        .drop("_dt")
        .orderBy("event_type", "day")
    )


@query(
    "q129_max_drawdown",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day, AVG(value) AS v
            FROM events GROUP BY 1, 2
        ), dd AS (
            SELECT event_type, v,
                   MAX(v) OVER (PARTITION BY event_type ORDER BY day
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS peak
            FROM daily
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_days,
               ROUND(MAX((peak - v) / peak), 6) AS max_drawdown,
               ROUND(MAX(peak), 4) AS peak_value
        FROM dd
        GROUP BY event_type
        ORDER BY event_type
    """,
    description="maximum drawdown of the daily value series per event "
    "type: running peak via a cumulative MAX window, drawdown = "
    "(peak - v)/peak, then the per-type max — the risk metric every "
    "financial/monitoring pipeline computes. Raw events collapse to "
    "the (type, day) grain first; the cumulative window and final agg "
    "ride that grain partitioned by type — one shuffle for the rollup, "
    "one for the window, no global sort",
    tags=("timeseries", "events", "stats"),
)
def q129_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    daily = (
        t["events"]
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.avg("value").alias("v"))
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    dd = daily.select(
        "event_type", "v", F.max("v").over(w).alias("peak")
    )
    return (
        dd.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.round(
                F.max((F.col("peak") - F.col("v")) / F.col("peak")), 6
            ).alias("max_drawdown"),
            F.round(F.max("peak"), 4).alias("peak_value"),
        )
        .orderBy("event_type")
    )


@query(
    "q130_target_encoding",
    oracle="""
        WITH j AS (
            SELECT o.o_orderkey, c.c_mktsegment AS seg, o.o_totalprice AS y
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ), s AS (
            SELECT seg, SUM(y) AS sy, CAST(count(*) AS BIGINT) AS n
            FROM j GROUP BY seg
        )
        SELECT j.o_orderkey, j.seg,
               ROUND((s.sy - j.y) / (s.n - 1), 4) AS loo_encoding,
               s.n AS seg_n
        FROM j JOIN s USING (seg)
        ORDER BY j.o_orderkey LIMIT 100
    """,
    description="leave-one-out target encoding of customer segment "
    "against order value — the standard high-cardinality categorical "
    "feature for gradient-boosted models, in its leakage-safe LOO form "
    "(each row's own target is subtracted: (sum - y_i)/(n - 1)). The "
    "fact-dim join is UNHINTED (customer is a fact-sized table at "
    "100 TB); the per-category sums are one hash agg whose output is "
    "category-bounded and broadcasts back; top-100 by key via "
    "TakeOrdered. No window needed — the LOO trick turns a per-row "
    "exclusion into pure arithmetic on group totals",
    tags=("stats", "tpch"),
)
def q130_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    j = (
        t["orders"]
        .join(
            t["customer"],
            t["orders"]["o_custkey"] == t["customer"]["c_custkey"],
        )
        .select(
            "o_orderkey",
            F.col("c_mktsegment").alias("seg"),
            F.col("o_totalprice").alias("y"),
        )
    )
    s = j.groupBy("seg").agg(
        F.sum("y").alias("sy"), F.count("*").cast("bigint").alias("n")
    )
    return (
        j.join(F.broadcast(s), "seg")
        .select(
            "o_orderkey",
            "seg",
            F.round(
                (F.col("sy") - F.col("y")) / (F.col("n") - 1), 4
            ).alias("loo_encoding"),
            F.col("n").alias("seg_n"),
        )
        .orderBy("o_orderkey")
        .limit(100)
    )


def _km_duration_grid(events: DataFrame):
    """Shared survival-analysis base for q131/q151/q165: per-user
    time-to-first-purchase durations (no-purchase users
    right-censored at last activity) and the distinct-duration grid.

    Returns ``(durations, grid, total)`` where ``durations`` is
    checkpointed — the grid AND the total both consume it, and
    without the lineage cut each consumer re-executes the fact-grain
    per-user aggregate (the r7 duplicate-subtree rule).
    """
    from amadou_spark.scale import materialize_shared

    day = F.to_date("ts")
    per_user = events.groupBy("user_id").agg(
        F.min(day).alias("t0"),
        F.min(
            F.when(F.col("event_type") == "purchase", day)
        ).alias("tp"),
        F.max(day).alias("tlast"),
    )
    durations = materialize_shared(
        per_user.select(
            F.when(F.col("tp").isNotNull(), F.datediff("tp", "t0"))
            .otherwise(F.datediff("tlast", "t0"))
            .alias("t"),
            F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("obs"),
        )
    )
    grid = durations.groupBy("t").agg(
        F.sum("obs").cast("bigint").alias("d"),
        F.count("*").cast("bigint").alias("c"),
    )
    total = durations.agg(F.count("*").cast("bigint").alias("n_total"))
    return durations, grid, total


def _km_survival_components(events: DataFrame):
    """Shared Kaplan-Meier machinery for q131 (curve) and q165
    (RMST/median) on top of :func:`_km_duration_grid`: at-risk prefix
    sums and the engine-stable survival double (the q126
    floor-half-up-the-log-sum pattern; see the q131 oracle comment
    for the full rationale).

    Returns ``(durations, km)`` where ``km`` carries
    ``(t, d, n_risk, s)`` with ``s`` the raw survival double, for the
    caller to round/fix-point as its output requires.
    """
    durations, grid, total = _km_duration_grid(events)
    w_prev = W.orderBy("t").rowsBetween(W.unboundedPreceding, -1)
    w_cum = W.orderBy("t").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    km = (
        grid.crossJoin(F.broadcast(total))
        .withColumn(
            "n_risk",
            F.col("n_total")
            - F.coalesce(F.sum("c").over(w_prev), F.lit(0)),
        )
        .withColumn(
            "s",
            # when d = n_risk the survival factor is exactly 0 and the
            # log trick breaks — carry a cumulative zero flag instead
            F.when(
                F.max(
                    F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0)
                ).over(w_cum)
                == 1,
                F.lit(0.0),
            ).otherwise(
                # engine-stable: floor-half-up the log-sum to 9 decimals
                # before exp (see the q131 oracle comment / q126 pattern)
                F.exp(
                    F.floor(
                        F.sum(
                            F.when(
                                F.col("d") < F.col("n_risk"),
                                F.log(
                                    1.0
                                    - F.col("d")
                                    / F.col("n_risk").cast("double")
                                ),
                            )
                        ).over(w_cum)
                        * 1000000000.0
                        + 0.5
                    )
                    / 1000000000.0
                )
            ),
        )
    )
    return durations, km


@query(
    "q131_kaplan_meier",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   MIN(CAST(ts AS DATE)) AS t0,
                   MIN(CASE WHEN event_type = 'purchase'
                            THEN CAST(ts AS DATE) END) AS tp,
                   MAX(CAST(ts AS DATE)) AS tlast
            FROM events GROUP BY user_id
        ), durations AS (
            SELECT user_id,
                   CASE WHEN tp IS NOT NULL
                        THEN date_diff('day', t0, tp)
                        ELSE date_diff('day', t0, tlast) END AS t,
                   CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS obs
            FROM per_user
        ), grid AS (
            SELECT t, CAST(SUM(obs) AS BIGINT) AS d,
                   CAST(count(*) AS BIGINT) AS c
            FROM durations GROUP BY t
        ), at_risk AS (
            -- CAST: DuckDB promotes BIGINT - SUM(BIGINT) OVER to HUGEINT
            -- (decimal128 at the Arrow layer); the driver hash is
            -- type-sensitive (q69 r2 precedent), so without the cast the
            -- row can never hash-match Spark's bigint even when every
            -- value is identical. The type-parity gate (tools/check.py) flags this class.
            SELECT t, d,
                   CAST((SELECT CAST(count(*) AS BIGINT) FROM durations)
                       - COALESCE(SUM(c) OVER (ORDER BY t
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
            FROM grid
        ), km AS (
            SELECT t, d, n_risk,
                   -- when d = n_risk the factor is 0 and S hits exactly
                   -- 0 (log trick breaks): carry a cumulative zero flag.
                   -- ENGINE STABILITY (r5 driver red): exp/ln are not
                   -- correctly-rounded, so different libm builds put
                   -- exp(sum(ln)) on different sides of a ROUND(x,6)
                   -- tie (4/11 rows at sf0.01 sit within 5e-11 of one).
                   -- Fix = the q126 pattern: floor-half-up the LOG-SUM
                   -- to 9 decimals first (absorbs 1-ulp ln + sum-order
                   -- noise and pins exp's input bit-identically), then
                   -- floor-half-up the survival — pure +-*/ arithmetic,
                   -- deterministic on identical bits in both engines.
                   CASE WHEN MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
                             OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                                   PRECEDING AND CURRENT ROW) = 1
                        THEN 0.0
                        ELSE EXP(FLOOR(SUM(CASE WHEN d < n_risk THEN
                                 LN(1.0 - d / CAST(n_risk AS DOUBLE)) END)
                             OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                                   PRECEDING AND CURRENT ROW)
                             * 1000000000.0 + 0.5) / 1000000000.0)
                   END AS s
            FROM at_risk
        )
        SELECT t AS day, n_risk, d AS n_events,
               FLOOR(s * 1000000.0 + 0.5) / 1000000.0 AS survival
        FROM km WHERE d > 0 ORDER BY t
    """,
    description="Kaplan-Meier survival curve for time-to-first-purchase "
    "(users with no purchase are right-censored at their last activity) "
    "— the estimator every retention/conversion analysis runs. Scale "
    "shape: raw events collapse to one row per user (hash agg), then "
    "to one row per distinct duration, so the at-risk prefix sums and "
    "the survival product (computed as exp of a running sum of logs — "
    "windows cannot multiply) ride the DURATION DOMAIN, which is "
    "bounded by the observation window in days no matter how many "
    "users. The single-partition window is over that tiny grid only. "
    "Engine stability: the log-sum is floor-half-up rounded to 9 "
    "decimals BEFORE exp and the survival floor-half-up rounded after "
    "(the q126 pattern) — exp/ln differ by 1 ulp across libm builds, "
    "and at sf0.01 four survival values sit within 5e-11 of a "
    "ROUND(x,6) tie, so plain ROUND diverges between engines",
    tags=("stats", "timeseries", "events"),
)
def q131_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    _, km = _km_survival_components(t["events"])
    return (
        km.filter(F.col("d") > 0)
        .select(
            F.col("t").alias("day"),
            "n_risk",
            F.col("d").alias("n_events"),
            (F.floor(F.col("s") * 1000000.0 + 0.5) / 1000000.0).alias(
                "survival"
            ),
        )
        .orderBy("day")
    )


@query(
    "q132_wilson_ci",
    oracle="""
        WITH per_day AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n,
                   CAST(count(DISTINCT CASE WHEN event_type = 'purchase'
                                            THEN user_id END) AS BIGINT)
                       AS x
            FROM events GROUP BY 1
        ), w AS (
            SELECT day, n, x,
                   x / CAST(n AS DOUBLE) AS p,
                   CAST(1.96 AS DOUBLE) AS z
            FROM per_day
        )
        SELECT day, n AS n_users, x AS n_converted,
               ROUND(p, 6) AS rate,
               ROUND((p + z * z / (2 * n)
                      - z * SQRT(p * (1 - p) / n
                                 + z * z / (4.0 * n * n)))
                     / (1 + z * z / n), 6) AS ci_low,
               ROUND((p + z * z / (2 * n)
                      + z * SQRT(p * (1 - p) / n
                                 + z * z / (4.0 * n * n)))
                     / (1 + z * z / n), 6) AS ci_high
        FROM w ORDER BY day
    """,
    description="daily purchase-conversion rate with a Wilson 95% "
    "score interval — the CI that behaves at small n and extreme "
    "rates, the one an experimentation/monitoring dashboard should "
    "use instead of the normal approximation. One hash agg per day "
    "(distinct users / distinct converters), then pure closed-form "
    "arithmetic — no resampling, no UDF; z is CAST AS DOUBLE in the "
    "oracle because bare decimal literals are DECIMAL-typed in "
    "DuckDB and would silently switch the arithmetic",
    tags=("stats", "events"),
)
def q132_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    per_day = t["events"].groupBy(F.to_date("ts").alias("day")).agg(
        F.count_distinct("user_id").alias("n"),
        F.count_distinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("x"),
    )
    p = F.col("x") / F.col("n").cast("double")
    z = F.lit(1.96)
    center = p + z * z / (2 * F.col("n"))
    half = z * F.sqrt(
        p * (1 - p) / F.col("n")
        + z * z / (4.0 * F.col("n") * F.col("n"))
    )
    denom = 1 + z * z / F.col("n")
    return per_day.select(
        "day",
        F.col("n").cast("bigint").alias("n_users"),
        F.col("x").cast("bigint").alias("n_converted"),
        F.round(p, 6).alias("rate"),
        F.round((center - half) / denom, 6).alias("ci_low"),
        F.round((center + half) / denom, 6).alias("ci_high"),
    ).orderBy("day")


@query(
    "q133_pareto_8020",
    oracle="""
        WITH rev AS (
            SELECT p.p_brand, l.l_partkey,
                   ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2)
                       AS r
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY 1, 2
        ), cum AS (
            SELECT p_brand, r,
                   SUM(r) OVER (PARTITION BY p_brand
                                ORDER BY r DESC, l_partkey
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS c,
                   SUM(r) OVER (PARTITION BY p_brand) AS total
            FROM rev
        )
        SELECT p_brand,
               CAST(count(*) AS BIGINT) AS n_parts,
               CAST(SUM(CASE WHEN c - r < 0.8 * total THEN 1 ELSE 0 END)
                    AS BIGINT) AS parts_to_80,
               ROUND(SUM(CASE WHEN c - r < 0.8 * total THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 4) AS frac_parts
        FROM cum GROUP BY p_brand ORDER BY p_brand
    """,
    description="Pareto 80/20 concentration per brand: how many parts "
    "cover 80% of brand revenue. Per-part revenue is ROUNDED to cents "
    "before ranking so the cumulative ordering and the 0.8-threshold "
    "comparison are bit-identical across engines (both sides then sum "
    "the same doubles in the same window order); ties broken by "
    "partkey. The cumulative window is PARTITIONED BY BRAND — the "
    "per-partition sort is the bounded one a 1000-executor cluster "
    "runs independently per brand, not a global sort",
    tags=("stats", "tpch"),
)
def q133_pareto_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    rev = (
        t["lineitem"]
        .join(
            t["part"],
            t["lineitem"]["l_partkey"] == t["part"]["p_partkey"],
        )
        .groupBy("p_brand", "l_partkey")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ),
                2,
            ).alias("r")
        )
    )
    w_cum = (
        W.partitionBy("p_brand")
        .orderBy(F.col("r").desc(), "l_partkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_all = W.partitionBy("p_brand")
    cum = rev.select(
        "p_brand",
        "r",
        F.sum("r").over(w_cum).alias("c"),
        F.sum("r").over(w_all).alias("total"),
    )
    in80 = F.when(
        F.col("c") - F.col("r") < 0.8 * F.col("total"), 1
    ).otherwise(0)
    return (
        cum.groupBy("p_brand")
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            F.sum(in80).cast("bigint").alias("parts_to_80"),
            F.round(
                F.sum(in80) / F.count("*").cast("double"), 4
            ).alias("frac_parts"),
        )
        .orderBy("p_brand")
    )


@query(
    "q134_path_trigrams",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type AS a,
                   lead(event_type, 1) OVER w AS b,
                   lead(event_type, 2) OVER w AS c
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT a || '>' || b || '>' || c AS path,
               CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE c IS NOT NULL
        GROUP BY 1 ORDER BY n DESC, path LIMIT 20
    """,
    description="top 3-step behavioral paths: per-user event streams "
    "windowed into trigrams of event types, counted corpus-wide — the "
    "path-analysis query behind Sankey funnels, one step up from the "
    "q68 transition matrix. One user-partitioned window (single "
    "shuffle on user_id), exact BIGINT counts with map-side combine, "
    "top-20 via TakeOrdered with full tie-breaks — never a global "
    "sort of all paths",
    tags=("events", "timeseries"),
)
def q134_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t["events"].select(
        F.col("event_type").alias("a"),
        F.lead("event_type", 1).over(w).alias("b"),
        F.lead("event_type", 2).over(w).alias("c"),
    )
    return (
        seq.filter(F.col("c").isNotNull())
        .select(
            F.concat_ws(">", "a", "b", "c").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(20)
    )


@query(
    "q135_decompose",
    oracle=f"""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   {_R4_SQL.format(expr="AVG(value)")} AS v
            FROM events GROUP BY 1, 2
        ), tr AS (
            SELECT event_type, day, v,
                   SUM(v) OVER w / 7.0 AS trend,
                   COUNT(*) OVER w AS wn
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        )
        SELECT event_type,
               -- DuckDB dayofweek is 0-based (Sun=0); Spark's is 1-based
               CAST(dayofweek(day) + 1 AS INT) AS dow,
               CAST(count(*) AS BIGINT) AS n_days,
               {_R4_SQL.format(expr="AVG(v - trend)")} AS seasonal
        FROM tr WHERE wn = 7
        GROUP BY event_type, dayofweek(day)
        ORDER BY event_type, dow
    """,
    description="classical additive seasonal decomposition, step one "
    "and two: trend = centered 7-day moving average (full windows "
    "only), seasonal = mean detrended value per day-of-week — the "
    "decomposition a forecasting pipeline runs before model fitting, "
    "complementing q117's ratio-to-base seasonal index. The daily "
    "rollup is the only raw-data pass; the centered window rides "
    "(type, day) partitions; trend uses SUM/7 (not AVG) so both "
    "engines fold the same 7 doubles in frame order; outputs use the "
    "engine-stable floor rounding (see q126)",
    tags=("timeseries", "events", "stats"),
)
def q135_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    daily = (
        t["events"]
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(_r4(F.avg("value")).alias("v"))
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    tr = daily.select(
        "event_type",
        "day",
        "v",
        (F.sum("v").over(w) / 7.0).alias("trend"),
        F.count("*").over(w).alias("wn"),
    )
    return (
        tr.filter(F.col("wn") == 7)
        .groupBy(
            "event_type", F.dayofweek("day").cast("int").alias("dow")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            _r4(F.avg(F.col("v") - F.col("trend"))).alias("seasonal"),
        )
        .orderBy("event_type", "dow")
    )


@query(
    "q136_reconciliation",
    oracle="""
        WITH li AS (
            SELECT l_orderkey,
                   SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax))
                       AS computed
            FROM lineitem GROUP BY 1
        ), j AS (
            SELECT o.o_orderkey,
                   ABS(o.o_totalprice - li.computed) AS adiff
            FROM orders o JOIN li ON o.o_orderkey = li.l_orderkey
        )
        SELECT CASE WHEN adiff < 0.005 THEN 'exact'
                    WHEN adiff < 1.0 THEN 'rounding'
                    ELSE 'discrepant' END AS bucket,
               CAST(count(*) AS BIGINT) AS n_orders,
               ROUND(MAX(adiff), 4) AS max_abs_diff
        FROM j GROUP BY 1 ORDER BY 1
    """,
    description="order-to-lineitem financial reconciliation audit: "
    "recompute each order's total from its lines "
    "(extendedprice x (1-discount) x (1+tax)), compare to the stored "
    "o_totalprice, and bucket the absolute discrepancy — the "
    "cross-table consistency check a governance pipeline runs after "
    "every load (complementing q90's single-table expectations). One "
    "hash agg over lineitem + one key join; both sides shuffle on the "
    "order key, no broadcast of fact-sized tables. MAX (not AVG) of "
    "the diff per bucket keeps the output independent of float "
    "summation order",
    tags=("quality", "tpch"),
)
def q136_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    li = t["lineitem"].groupBy("l_orderkey").agg(
        F.sum(
            F.col("l_extendedprice")
            * (1 - F.col("l_discount"))
            * (1 + F.col("l_tax"))
        ).alias("computed")
    )
    j = (
        t["orders"]
        .join(li, t["orders"]["o_orderkey"] == li["l_orderkey"])
        .select(
            F.abs(F.col("o_totalprice") - F.col("computed")).alias(
                "adiff"
            )
        )
    )
    bucket = (
        F.when(F.col("adiff") < 0.005, "exact")
        .when(F.col("adiff") < 1.0, "rounding")
        .otherwise("discrepant")
    )
    return (
        j.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.round(F.max("adiff"), 4).alias("max_abs_diff"),
        )
        .orderBy("bucket")
    )


@query(
    "q137_funnel_regex",
    oracle="""
        WITH seq AS (
            SELECT user_id, CAST(ts AS DATE) AS day,
                   STRING_AGG(substr(event_type, 1, 1), ''
                              ORDER BY ts, event_id) AS s
            FROM events GROUP BY user_id, CAST(ts AS DATE)
        )
        SELECT day,
               CAST(count(*) AS BIGINT) AS n_user_days,
               CAST(SUM(CASE WHEN s LIKE '%v%c%p%' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_converted,
               ROUND(SUM(CASE WHEN s LIKE '%v%c%p%' THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 4) AS conversion_rate
        FROM seq GROUP BY day ORDER BY day
    """,
    description="MATCH_RECOGNIZE-style ordered-pattern funnel: each "
    "(user, day) stream collapses to an ordered event-initial string "
    "(listagg WITHIN GROUP), and the view->click->purchase SUBSEQUENCE "
    "is one ANSI LIKE '%v%c%p%' — pattern detection over event order "
    "that plain per-step filters cannot express (steps may interleave "
    "with anything). Engine-portable: LIKE wildcards, not a regex "
    "dialect; the within-group order is total (ts, event_id). One "
    "shuffle on (user, day); string length is bounded by a user-day's "
    "events, so the pattern scan is local and linear",
    tags=("events", "timeseries"),
)
def q137_funnel_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(
        """
        WITH seq AS (
            SELECT user_id, CAST(ts AS DATE) AS day,
                   listagg(substr(event_type, 1, 1), '')
                       WITHIN GROUP (ORDER BY ts, event_id) AS s
            FROM events GROUP BY user_id, CAST(ts AS DATE)
        )
        SELECT day,
               CAST(count(*) AS BIGINT) AS n_user_days,
               CAST(SUM(CASE WHEN s LIKE '%v%c%p%' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_converted,
               ROUND(SUM(CASE WHEN s LIKE '%v%c%p%' THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 4) AS conversion_rate
        FROM seq GROUP BY day ORDER BY day
        """
    )


@query(
    "q138_daily_health",
    oracle=f"""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   {_R4_SQL.format(expr="AVG(value)")} AS v
            FROM events GROUP BY 1, 2
        ), m AS (
            SELECT event_type, day, v,
                   {_R4_SQL.format(
                       expr=f"({_EWMA_NUMER_SQL}) / ({_EWMA_DENOM_SQL})"
                   )} AS ewma,
                   lag(v, 7) OVER w AS v7,
                   AVG(v) OVER pw AS mu,
                   STDDEV_SAMP(v) OVER pw AS sd,
                   COUNT(*) OVER pw AS n_hist
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY day),
                   pw AS (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING)
        )
        SELECT event_type, day, v, ewma,
               CASE WHEN v7 IS NOT NULL AND v > 0
                    THEN {_R4_SQL.format(expr="ABS(v - v7) / v")}
               END AS snaive_ape,
               CASE WHEN n_hist >= 8 AND sd > 1e-9
                    THEN ROUND((v - mu) / sd, 3) END AS z,
               COALESCE(n_hist >= 8 AND sd > 1e-9
                        AND ABS((v - mu) / sd) > 2, FALSE) AS is_anomaly
        FROM m ORDER BY event_type, day
    """,
    description="composite daily health report: the monitoring table a "
    "pipeline materializes every morning — smoothed level (8-tap EWMA), "
    "seasonal-naive forecast error (|v - v[-7]|/v) and a rolling "
    "z-score anomaly flag against the prior 14 days, per event type "
    "and day. ALL THREE analytics ride ONE shared daily rollup "
    "(materialized once) and ONE (event_type, day) window sort — the "
    "lag/ewma/mean/std/count window functions share the exchange, so "
    "the whole report costs one rollup shuffle plus one window "
    "shuffle regardless of how many health metrics it carries. The "
    "composition pattern (share the grain, stack window functions on "
    "one spec) is the difference between one pass and N passes at "
    "100 TB",
    tags=("timeseries", "events", "stats"),
)
def q138_daily_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.scale import materialize_shared

    t = register_tables(spark, sf_dir)
    daily = materialize_shared(
        t["events"]
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(_r4(F.avg("value")).alias("v"))
    )
    w = W.partitionBy("event_type").orderBy("day")
    pw = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-14, -1)
    )
    numer = None
    denom = None
    for i, wt in enumerate(_EWMA_W):
        lagged = F.lag("v", i).over(w)
        nterm = F.coalesce(lagged, F.lit(0.0)) * F.lit(wt)
        dterm = F.when(lagged.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0))
        numer = nterm if numer is None else numer + nterm
        denom = dterm if denom is None else denom + dterm
    m = daily.select(
        "event_type",
        "day",
        "v",
        _r4(numer / denom).alias("ewma"),
        F.lag("v", 7).over(w).alias("v7"),
        F.avg("v").over(pw).alias("mu"),
        F.stddev_samp("v").over(pw).alias("sd"),
        F.count("*").over(pw).alias("n_hist"),
    )
    ok_hist = (F.col("n_hist") >= 8) & (F.col("sd") > 1e-9)
    zscore = (F.col("v") - F.col("mu")) / F.col("sd")
    return m.select(
        "event_type",
        "day",
        "v",
        "ewma",
        F.when(
            F.col("v7").isNotNull() & (F.col("v") > 0),
            _r4(F.abs(F.col("v") - F.col("v7")) / F.col("v")),
        ).alias("snaive_ape"),
        F.when(ok_hist, F.round(zscore, 3)).alias("z"),
        F.coalesce(
            ok_hist & (F.abs(zscore) > 2), F.lit(False)
        ).alias("is_anomaly"),
    ).orderBy("event_type", "day")


@query(
    "q139_growth_accounting",
    oracle="""
        WITH du AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ), firsts AS (
            SELECT user_id, MIN(day) AS first_day FROM du GROUP BY user_id
        ), labeled AS (
            SELECT d.day,
                   CASE
                     WHEN d.day = f.first_day THEN 'new'
                     WHEN y.user_id IS NOT NULL THEN 'retained'
                     ELSE 'resurrected'
                   END AS status
            FROM du d
            JOIN firsts f ON f.user_id = d.user_id
            LEFT JOIN du y ON y.user_id = d.user_id
                          AND y.day = d.day - 1
        ), churned AS (
            SELECT CAST(y.day + 1 AS DATE) AS day,
                   'churned' AS status
            FROM du y
            LEFT JOIN du t ON t.user_id = y.user_id
                          AND t.day = y.day + 1
            WHERE t.user_id IS NULL
              AND y.day < (SELECT MAX(day) FROM du)
        )
        SELECT day, status, CAST(count(*) AS BIGINT) AS n_users
        FROM (SELECT day, status FROM labeled
              UNION ALL SELECT day, status FROM churned)
        GROUP BY day, status
        ORDER BY day, status
    """,
    description="DAU growth accounting (the Social Capital framework): "
    "every active (user, day) is exactly one of new (first day ever), "
    "retained (also active yesterday) or resurrected (active before "
    "but not yesterday), plus churned counted against the day a "
    "previously-active user went silent — the decomposition every "
    "growth dashboard runs, and an invariant-rich one (new + retained "
    "+ resurrected = DAU; retained(d) + churned(d) = DAU(d-1)). "
    "Spark side: raw events collapse to the DISTINCT (user, day) "
    "grain once (materialized, it feeds four consumers), yesterday "
    "membership is a self equi-join on (user, day-1) — never a window "
    "over user history — and first days are one hash agg. All joins "
    "shuffle on user_id at the collapsed grain",
    tags=("events", "timeseries"),
)
def q139_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.scale import materialize_shared

    t = register_tables(spark, sf_dir)
    du = materialize_shared(
        t["events"]
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    firsts = du.groupBy("user_id").agg(F.min("day").alias("first_day"))
    yday = du.select(
        F.col("user_id").alias("y_user"), F.col("day").alias("y_day")
    )
    labeled = (
        du.join(firsts, "user_id")
        .join(
            yday,
            (F.col("user_id") == F.col("y_user"))
            & (F.col("y_day") == F.date_sub(F.col("day"), 1)),
            "left",
        )
        .select(
            "day",
            F.when(F.col("day") == F.col("first_day"), "new")
            .when(F.col("y_user").isNotNull(), "retained")
            .otherwise("resurrected")
            .alias("status"),
        )
    )
    max_day = du.agg(F.max("day").alias("max_day"))
    today = du.select(
        F.col("user_id").alias("t_user"), F.col("day").alias("t_day")
    )
    churned = (
        du.join(
            today,
            (F.col("user_id") == F.col("t_user"))
            & (F.col("t_day") == F.date_add(F.col("day"), 1)),
            "left_anti",
        )
        .crossJoin(F.broadcast(max_day))
        .filter(F.col("day") < F.col("max_day"))
        .select(
            F.date_add(F.col("day"), 1).alias("day"),
            F.lit("churned").alias("status"),
        )
    )
    return (
        labeled.unionByName(churned)
        .groupBy("day", "status")
        .agg(F.count("*").cast("bigint").alias("n_users"))
        .orderBy("day", "status")
    )


@query(
    "q140_cohort_ltv",
    oracle="""
        WITH firsts AS (
            SELECT user_id,
                   CAST(date_trunc('week', MIN(CAST(ts AS DATE)))
                        AS DATE) AS cohort_week,
                   CAST(count(*) AS BIGINT) AS _n
            FROM events GROUP BY user_id
        ), cohort_size AS (
            SELECT cohort_week,
                   CAST(count(*) AS BIGINT) AS n_users
            FROM firsts GROUP BY cohort_week
        ), rev AS (
            SELECT f.cohort_week,
                   CAST(floor(date_diff('day', f.cohort_week,
                                        CAST(e.ts AS DATE)) / 7.0)
                        AS BIGINT) AS week_offset,
                   ROUND(SUM(e.value), 2) AS wk_rev
            FROM events e
            JOIN firsts f ON f.user_id = e.user_id
            WHERE e.event_type = 'purchase'
            GROUP BY 1, 2
        ), cum AS (
            SELECT r.cohort_week, r.week_offset, c.n_users,
                   SUM(r.wk_rev) OVER (PARTITION BY r.cohort_week
                                       ORDER BY r.week_offset
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW) AS cum_rev
            FROM rev r JOIN cohort_size c USING (cohort_week)
        )
        SELECT cohort_week, week_offset, n_users,
               ROUND(cum_rev / n_users, 4) AS ltv_per_user
        FROM cum ORDER BY cohort_week, week_offset
    """,
    description="cohort LTV curves: users grouped by first-activity "
    "week, purchase revenue accumulated by weeks-since-signup, "
    "normalized per cohort user — the lifetime-value table every "
    "growth model is fit on (q58's retention matrix with revenue "
    "instead of presence). Weekly revenue is ROUNDED to cents before "
    "the cumulative window so both engines sum identical doubles in "
    "the same order. Events collapse to (cohort, week_offset) before "
    "any window; the cumulative sum rides per-cohort partitions",
    tags=("events", "timeseries"),
)
def q140_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.scale import materialize_shared

    t = register_tables(spark, sf_dir)
    firsts = materialize_shared(
        t["events"]
        .groupBy("user_id")
        .agg(
            F.date_trunc("week", F.min(F.to_date("ts")))
            .cast("date")
            .alias("cohort_week")
        )
    )
    cohort_size = firsts.groupBy("cohort_week").agg(
        F.count("*").cast("bigint").alias("n_users")
    )
    rev = (
        t["events"]
        .filter(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            F.floor(
                F.datediff(F.to_date("ts"), F.col("cohort_week")) / 7.0
            )
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.round(F.sum("value"), 2).alias("wk_rev"))
    )
    w = (
        W.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        rev.join(F.broadcast(cohort_size), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_users",
            F.round(
                F.sum("wk_rev").over(w) / F.col("n_users"), 4
            ).alias("ltv_per_user"),
        )
        .orderBy("cohort_week", "week_offset")
    )


@query(
    "q141_price_elasticity",
    oracle="""
        WITH obs AS (
            SELECT p.p_brand,
                   LN(l.l_extendedprice * (1 - l.l_discount)
                      / l.l_quantity) AS x,
                   LN(l.l_quantity) AS y
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE l.l_quantity > 0
        )
        SELECT p_brand,
               CAST(count(*) AS BIGINT) AS n,
               ROUND((AVG(x * y) - AVG(x) * AVG(y))
                     / (AVG(x * x) - AVG(x) * AVG(x)), 4)
                   AS elasticity,
               ROUND(AVG(y) , 4) AS mean_log_qty
        FROM obs GROUP BY p_brand
        HAVING (AVG(x * x) - AVG(x) * AVG(x)) > 1e-12
        ORDER BY p_brand
    """,
    description="log-log price elasticity of demand per brand: OLS "
    "slope of ln(quantity) on ln(unit price after discount) — the "
    "moment-based closed form (cov/var from four averages), one hash "
    "agg after the fact-dim join, no window and no iterative fit. The "
    "demand-curve shape every pricing pipeline estimates; the "
    "degenerate zero-variance group is excluded by the same HAVING on "
    "both sides. Averages of logs are the one float-accumulation "
    "surface — rounded to 4, the accepted corr-class risk",
    tags=("stats", "tpch"),
)
def q141_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    obs = (
        t["lineitem"]
        .filter(F.col("l_quantity") > 0)
        .join(
            t["part"],
            t["lineitem"]["l_partkey"] == t["part"]["p_partkey"],
        )
        .select(
            "p_brand",
            F.log(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                / F.col("l_quantity")
            ).alias("x"),
            F.log("l_quantity").alias("y"),
        )
    )
    var_x = F.avg(F.col("x") * F.col("x")) - F.avg("x") * F.avg("x")
    cov_xy = F.avg(F.col("x") * F.col("y")) - F.avg("x") * F.avg("y")
    return (
        obs.groupBy("p_brand")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(cov_xy / var_x, 4).alias("elasticity"),
            F.round(F.avg("y"), 4).alias("mean_log_qty"),
            var_x.alias("_vx"),
        )
        .filter(F.col("_vx") > 1e-12)
        .drop("_vx")
        .orderBy("p_brand")
    )


@query(
    "q142_order_cycle_time",
    oracle="""
        WITH gaps AS (
            SELECT o_custkey,
                   date_diff('day',
                       lag(o_orderdate) OVER (PARTITION BY o_custkey
                                              ORDER BY o_orderdate,
                                                       o_orderkey),
                       o_orderdate) AS gap_days
            FROM orders
        ), per_cust AS (
            SELECT o_custkey, AVG(gap_days) AS mean_gap
            FROM gaps WHERE gap_days IS NOT NULL
            GROUP BY o_custkey
        )
        SELECT c.c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_customers,
               ROUND(AVG(p.mean_gap), 4) AS mean_cycle_days,
               ROUND(MIN(p.mean_gap), 4) AS min_cycle_days,
               ROUND(MAX(p.mean_gap), 4) AS max_cycle_days
        FROM per_cust p JOIN customer c ON c.c_custkey = p.o_custkey
        GROUP BY c.c_mktsegment
        ORDER BY c.c_mktsegment
    """,
    description="order cycle time: days between a customer's "
    "consecutive orders (lag window over each customer's order "
    "history), averaged per customer then profiled per market segment "
    "— the repeat-purchase cadence metric behind replenishment and "
    "churn models. Gaps are exact integer day diffs; the only float "
    "is the final two-level average. One window shuffle on custkey, "
    "one rollup, one dim join",
    tags=("tpch", "timeseries"),
)
def q142_order_cycle_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = t["orders"].select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("gap_days"),
    )
    per_cust = (
        gaps.filter(F.col("gap_days").isNotNull())
        .groupBy("o_custkey")
        .agg(F.avg("gap_days").alias("mean_gap"))
    )
    return (
        per_cust.join(
            t["customer"],
            per_cust["o_custkey"] == t["customer"]["c_custkey"],
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.round(F.avg("mean_gap"), 4).alias("mean_cycle_days"),
            F.round(F.min("mean_gap"), 4).alias("min_cycle_days"),
            F.round(F.max("mean_gap"), 4).alias("max_cycle_days"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q143_welch_ttest",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CASE WHEN dayofweek(CAST(ts AS DATE)) IN (0, 6)
                        THEN 1 ELSE 0 END AS wk,
                   AVG(value) AS v
            FROM events GROUP BY 1, 2, 3
        ), s AS (
            SELECT event_type,
                   CAST(SUM(wk) AS BIGINT) AS n1,
                   CAST(SUM(1 - wk) AS BIGINT) AS n2,
                   AVG(CASE WHEN wk = 1 THEN v END) AS m1,
                   AVG(CASE WHEN wk = 0 THEN v END) AS m2,
                   VAR_SAMP(CASE WHEN wk = 1 THEN v END) AS s1,
                   VAR_SAMP(CASE WHEN wk = 0 THEN v END) AS s2
            FROM daily GROUP BY event_type
        )
        SELECT event_type, n1 AS n_weekend, n2 AS n_weekday,
               ROUND(m1 - m2, 4) AS mean_diff,
               ROUND((m1 - m2) / SQRT(s1 / n1 + s2 / n2), 4) AS t_stat,
               ROUND(POW(s1 / n1 + s2 / n2, 2)
                     / (POW(s1 / n1, 2) / (n1 - 1)
                        + POW(s2 / n2, 2) / (n2 - 1)), 2) AS welch_dof
        FROM s
        WHERE n1 >= 2 AND n2 >= 2 AND (s1 / n1 + s2 / n2) > 1e-12
        ORDER BY event_type
    """,
    description="Welch's unequal-variance t-test: weekend vs weekday "
    "daily values per event type, with the Welch-Satterthwaite "
    "effective degrees of freedom — the two-sample comparison an "
    "experimentation platform runs when variances differ (Student's "
    "pooled test is wrong there). Everything is conditional "
    "aggregates over the daily rollup — ONE scan, one group-by, no "
    "join between the two samples; at 100 TB the two-sample test is "
    "just two more columns on an existing rollup",
    tags=("stats", "events"),
)
def q143_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    # Spark dayofweek: 1=Sunday..7=Saturday; DuckDB: 0=Sunday..6=Saturday.
    # Weekend = {Sunday, Saturday} on both sides.
    daily = (
        t["events"]
        .groupBy(
            "event_type",
            F.to_date("ts").alias("day"),
            F.when(
                F.dayofweek(F.to_date("ts")).isin(1, 7), 1
            )
            .otherwise(0)
            .alias("wk"),
        )
        .agg(F.avg("value").alias("v"))
    )
    v1 = F.when(F.col("wk") == 1, F.col("v"))
    v2 = F.when(F.col("wk") == 0, F.col("v"))
    s = daily.groupBy("event_type").agg(
        F.sum("wk").cast("bigint").alias("n1"),
        F.sum(1 - F.col("wk")).cast("bigint").alias("n2"),
        F.avg(v1).alias("m1"),
        F.avg(v2).alias("m2"),
        F.var_samp(v1).alias("s1"),
        F.var_samp(v2).alias("s2"),
    )
    se2 = F.col("s1") / F.col("n1") + F.col("s2") / F.col("n2")
    return (
        s.filter(
            (F.col("n1") >= 2) & (F.col("n2") >= 2) & (se2 > 1e-12)
        )
        .select(
            "event_type",
            F.col("n1").alias("n_weekend"),
            F.col("n2").alias("n_weekday"),
            F.round(F.col("m1") - F.col("m2"), 4).alias("mean_diff"),
            F.round(
                (F.col("m1") - F.col("m2")) / F.sqrt(se2), 4
            ).alias("t_stat"),
            F.round(
                F.pow(se2, 2)
                / (
                    F.pow(F.col("s1") / F.col("n1"), 2)
                    / (F.col("n1") - 1)
                    + F.pow(F.col("s2") / F.col("n2"), 2)
                    / (F.col("n2") - 1)
                ),
                2,
            ).alias("welch_dof"),
        )
        .orderBy("event_type")
    )


@query(
    "q144_stickiness",
    oracle="""
        WITH du AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ), days AS (
            SELECT DISTINCT day FROM du
        ), dau AS (
            SELECT day, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY day
        ), mau AS (
            SELECT d.day,
                   CAST(count(DISTINCT u.user_id) AS BIGINT) AS mau
            FROM days d
            JOIN du u ON u.day BETWEEN d.day - 27 AND d.day
            GROUP BY d.day
        )
        SELECT dau.day, dau.dau, mau.mau,
               ROUND(dau.dau / CAST(mau.mau AS DOUBLE), 4) AS stickiness
        FROM dau JOIN mau USING (day)
        ORDER BY dau.day
    """,
    description="DAU/MAU stickiness — the engagement ratio every "
    "product dashboard tracks (how much of the monthly audience shows "
    "up daily). Same scalable form as q119's rolling distinct: the "
    "DISTINCT (user, day) grain is materialized once and each "
    "observation explodes into the <=28 trailing-window days it "
    "contributes to (bounded sequence() fan-out, no range join); the "
    "oracle pins the equivalent day-range join. At 100 TB the fan-out "
    "rides the collapsed grain, never raw events",
    tags=("events", "timeseries"),
)
def q144_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.scale import materialize_shared

    t = register_tables(spark, sf_dir)
    du = materialize_shared(
        t["events"]
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    days = du.select("day").distinct()
    dau = du.groupBy("day").agg(
        F.count("*").cast("bigint").alias("dau")
    )
    contrib = du.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 27))
        ).alias("target_day"),
    )
    mau = (
        contrib.join(
            F.broadcast(days),
            contrib["target_day"] == days["day"],
            "left_semi",
        )
        .groupBy(F.col("target_day").alias("day"))
        .agg(F.count_distinct("user_id").cast("bigint").alias("mau"))
    )
    return (
        dau.join(mau, "day")
        .select(
            "day",
            "dau",
            "mau",
            F.round(
                F.col("dau") / F.col("mau").cast("double"), 4
            ).alias("stickiness"),
        )
        .orderBy("day")
    )


@query(
    "q145_mann_whitney",
    oracle="""
        WITH v AS (
            SELECT c_acctbal AS val,
                   CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
                       AS in_a
            FROM customer
            WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        ), cnt AS (
            SELECT val,
                   CAST(sum(in_a) AS BIGINT) AS ca,
                   CAST(sum(1 - in_a) AS BIGINT) AS cb
            FROM v GROUP BY val
        ), ranked AS (
            SELECT val, ca, cb,
                   COALESCE(SUM(ca + cb) OVER (ORDER BY val
                        ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING), 0) AS before
            FROM cnt
        ), s AS (
            SELECT CAST(SUM(ca) AS DOUBLE) AS na,
                   CAST(SUM(cb) AS DOUBLE) AS nb,
                   SUM(ca * (before + (ca + cb + 1) / 2.0)) AS ranks_a,
                   SUM(CAST(ca + cb AS DOUBLE) * (ca + cb) * (ca + cb)
                       - (ca + cb)) AS ties
            FROM ranked
        )
        SELECT CAST(na AS BIGINT) AS n_a,
               CAST(nb AS BIGINT) AS n_b,
               ROUND(ranks_a - na * (na + 1) / 2.0, 2) AS u_stat,
               ROUND((ranks_a - na * (na + 1) / 2.0 - na * nb / 2.0)
                     / SQRT(na * nb / 12.0
                            * ((na + nb + 1)
                               - ties / ((na + nb)
                                         * (na + nb - 1.0)))), 6) AS z
        FROM s
    """,
    description="two-sample Mann-Whitney U test (BUILDING vs "
    "MACHINERY account balances) with midranks and the tie-corrected "
    "normal approximation — the nonparametric location test a "
    "data-drift monitor runs beside the KS distance (q124). Same "
    "scale shape as q124: rows collapse to per-DISTINCT-VALUE "
    "(ca, cb) counts, so the rank prefix sum rides the bounded "
    "2-decimal value domain, never row count; midranks, the U "
    "statistic and the tie term are all closed forms of those "
    "counts. Every product is forced to DOUBLE before multiplying "
    "(na*nb and t^3 overflow BIGINT at ~1e10 rows); at test scale "
    "all terms are exact multiples of 0.5 below 2^53, so both "
    "engines compute bit-identical sums in any order",
    tags=("stats",),
)
def q145_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    v = (
        t["customer"]
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            F.col("c_acctbal").alias("val"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1)
            .otherwise(0)
            .alias("in_a"),
        )
    )
    cnt = v.groupBy("val").agg(
        F.sum("in_a").cast("bigint").alias("ca"),
        F.sum(1 - F.col("in_a")).cast("bigint").alias("cb"),
    )
    w_prev = W.orderBy("val").rowsBetween(W.unboundedPreceding, -1)
    ranked = cnt.withColumn(
        "before",
        F.coalesce(F.sum(F.col("ca") + F.col("cb")).over(w_prev), F.lit(0)),
    )
    tie = F.col("ca") + F.col("cb")
    s = ranked.agg(
        F.sum("ca").cast("double").alias("na"),
        F.sum("cb").cast("double").alias("nb"),
        F.sum(
            F.col("ca")
            * (F.col("before") + (F.col("ca") + F.col("cb") + 1) / 2.0)
        ).alias("ranks_a"),
        F.sum(tie.cast("double") * tie * tie - tie).alias("ties"),
    )
    na, nb = F.col("na"), F.col("nb")
    u = F.col("ranks_a") - na * (na + 1) / 2.0
    var = (
        na
        * nb
        / 12.0
        * ((na + nb + 1) - F.col("ties") / ((na + nb) * (na + nb - 1.0)))
    )
    return s.select(
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        F.round(u, 2).alias("u_stat"),
        F.round((u - na * nb / 2.0) / F.sqrt(var), 6).alias("z"),
    )


@query(
    "q146_theil_sen",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY 1, 2
        ), slopes AS (
            SELECT a.event_type,
                   CAST(b.x - a.x AS DOUBLE)
                       / date_diff('day', a.day, b.day) AS slope
            FROM daily a JOIN daily b
              ON a.event_type = b.event_type AND a.day < b.day
        )
        SELECT event_type,
               CAST((1 + SQRT(1.0 + 8 * count(*))) / 2 AS BIGINT)
                   AS n_days,
               ROUND(median(slope), 6) AS sen_slope
        FROM slopes GROUP BY event_type ORDER BY event_type
    """,
    description="Theil-Sen robust trend estimator per event type: the "
    "median of all pairwise slopes of the daily volume series — the "
    "outlier-resistant alternative to the OLS fit (q100), standard in "
    "anomaly-tolerant capacity forecasting. Raw events collapse to "
    "the (type, day) rollup FIRST, so the quadratic pair join runs on "
    "the bounded calendar domain (days^2 per type, ~66k pairs/year) "
    "no matter how many raw events; n_days is recovered from the "
    "pair count via the triangular-number inverse so the rollup is "
    "scanned once. Slopes are single correctly-rounded divisions of "
    "exact integers — bit-identical in both engines — and the median "
    "of an even count averages the same two doubles either side",
    tags=("stats", "timeseries", "events"),
)
def q146_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    daily = (
        t["events"]
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    a, b = daily.alias("a"), daily.alias("b")
    slopes = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.day") < F.col("b.day")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.x") - F.col("a.x")).cast("double")
            / F.datediff(F.col("b.day"), F.col("a.day"))
        ).alias("slope"),
    )
    return (
        slopes.groupBy("event_type")
        .agg(
            ((1 + F.sqrt(1.0 + 8 * F.count("*"))) / 2)
            .cast("bigint")
            .alias("n_days"),
            F.round(F.expr("percentile(slope, 0.5)"), 6).alias(
                "sen_slope"
            ),
        )
        .orderBy("event_type")
    )


@query(
    "q147_spearman",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS x,
                   FLOOR(AVG(value) * 10000.0 + 0.5) / 10000.0 AS y
            FROM events GROUP BY 1, 2
        ), ranked AS (
            SELECT event_type,
                   RANK() OVER (PARTITION BY event_type ORDER BY x)
                       + (COUNT(*) OVER (PARTITION BY event_type, x)
                          - 1) / 2.0 AS rx,
                   RANK() OVER (PARTITION BY event_type ORDER BY y)
                       + (COUNT(*) OVER (PARTITION BY event_type, y)
                          - 1) / 2.0 AS ry
            FROM daily
        ), s AS (
            SELECT event_type,
                   CAST(count(*) AS DOUBLE) AS n,
                   SUM(rx) AS sx, SUM(ry) AS sy, SUM(rx * ry) AS sxy,
                   SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy
            FROM ranked GROUP BY event_type
        )
        SELECT event_type, CAST(n AS BIGINT) AS n_days,
               ROUND((n * sxy - sx * sy)
                     / SQRT((n * sxx - sx * sx)
                            * (n * syy - sy * sy)), 6) AS rho
        FROM s ORDER BY event_type
    """,
    description="Spearman rank correlation between daily volume and "
    "daily mean value per event type — the monotone-association "
    "measure robust to the heavy-tailed values Pearson (q107) is "
    "not. Midranks (RANK + half the tie run) make ties exact; rho is "
    "Pearson on the midranks computed from six exact closed-form "
    "sums, never an incremental co-moment (engine co-moment "
    "implementations differ in association order; the explicit sums "
    "are exact multiples of 0.25 below 2^53, so both engines agree "
    "bitwise before the one rounding). The daily mean is pre-rounded "
    "engine-stably (floor-half-up, the q126 pattern) so tie GROUPS "
    "match across engines. All windows ride the bounded "
    "(type, day) rollup, never raw events",
    tags=("stats", "timeseries", "events"),
)
def q147_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    daily = (
        t["events"]
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.count("*").cast("bigint").alias("x"),
            (F.floor(F.avg("value") * 10000.0 + 0.5) / 10000.0).alias(
                "y"
            ),
        )
    )

    def midrank(col: str):
        return (
            F.rank().over(W.partitionBy("event_type").orderBy(col))
            + (
                F.count("*").over(W.partitionBy("event_type", col))
                - 1
            )
            / 2.0
        )

    ranked = daily.select(
        "event_type",
        midrank("x").alias("rx"),
        midrank("y").alias("ry"),
    )
    s = ranked.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
    )
    n = F.col("n")
    rho = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        "event_type",
        n.cast("bigint").alias("n_days"),
        F.round(rho, 6).alias("rho"),
    ).orderBy("event_type")


@query(
    "q148_anova_oneway",
    oracle="""
        WITH g AS (
            SELECT o_orderpriority,
                   CAST(count(*) AS DOUBLE) AS ni,
                   SUM(o_totalprice) AS si,
                   SUM(o_totalprice * o_totalprice) AS qi
            FROM orders GROUP BY 1
        ), s AS (
            SELECT CAST(count(*) AS DOUBLE) AS k,
                   SUM(ni) AS n, SUM(si) AS grand,
                   SUM(si * si / ni) AS between_raw,
                   SUM(qi) AS total_sq
            FROM g
        )
        SELECT CAST(k AS BIGINT) AS k_groups,
               CAST(n AS BIGINT) AS n_rows,
               ROUND(((between_raw - grand * grand / n) / (k - 1))
                     / ((total_sq - between_raw) / (n - k)), 4)
                   AS f_stat,
               ROUND((between_raw - grand * grand / n)
                     / (total_sq - grand * grand / n), 6) AS eta_sq
        FROM s
    """,
    description="one-way ANOVA of order value across the 5 priority "
    "classes: F statistic and eta-squared effect size from the "
    "textbook sum decomposition SSB = sum(si^2/ni) - grand^2/N, "
    "SSW = sum(qi) - sum(si^2/ni) — the does-this-category-matter "
    "test a feature-selection pass runs per categorical/numeric "
    "pair. ONE map-side-combined hash agg over the fact table "
    "produces the per-group (n, sum, sum-of-squares) moments; "
    "everything after rides the 5-row group table. The embarrassing "
    "parallelism is the whole point: no window, no join, no second "
    "pass at any scale",
    tags=("stats", "tpch"),
)
def q148_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    g = t["orders"].groupBy("o_orderpriority").agg(
        F.count("*").cast("double").alias("ni"),
        F.sum("o_totalprice").alias("si"),
        F.sum(F.col("o_totalprice") * F.col("o_totalprice")).alias("qi"),
    )
    s = g.agg(
        F.count("*").cast("double").alias("k"),
        F.sum("ni").alias("n"),
        F.sum("si").alias("grand"),
        F.sum(F.col("si") * F.col("si") / F.col("ni")).alias(
            "between_raw"
        ),
        F.sum("qi").alias("total_sq"),
    )
    k, n = F.col("k"), F.col("n")
    ssb = F.col("between_raw") - F.col("grand") * F.col("grand") / n
    ssw = F.col("total_sq") - F.col("between_raw")
    sst = F.col("total_sq") - F.col("grand") * F.col("grand") / n
    return s.select(
        k.cast("bigint").alias("k_groups"),
        n.cast("bigint").alias("n_rows"),
        F.round((ssb / (k - 1)) / (ssw / (n - k)), 4).alias("f_stat"),
        F.round(ssb / sst, 6).alias("eta_sq"),
    )


@query(
    "q149_mann_kendall",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY 1, 2
        ), s AS (
            SELECT a.event_type,
                   CAST(SUM(CASE WHEN b.x > a.x THEN 1
                                 WHEN b.x < a.x THEN -1
                                 ELSE 0 END) AS BIGINT) AS s_stat
            FROM daily a JOIN daily b
              ON a.event_type = b.event_type AND a.day < b.day
            GROUP BY 1
        ), nn AS (
            SELECT event_type, CAST(count(*) AS DOUBLE) AS n
            FROM daily GROUP BY 1
        ), ties AS (
            SELECT event_type,
                   SUM(CAST(t AS DOUBLE) * (t - 1) * (2 * t + 5)) AS tt
            FROM (SELECT event_type, x, count(*) AS t
                  FROM daily GROUP BY 1, 2)
            GROUP BY 1
        )
        SELECT s.event_type, s.s_stat,
               ROUND((nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tt)
                     / 18.0, 4) AS var_s,
               ROUND(CASE WHEN s.s_stat > 0 THEN (s.s_stat - 1)
                          WHEN s.s_stat < 0 THEN (s.s_stat + 1)
                          ELSE 0 END
                     / SQRT((nn.n * (nn.n - 1) * (2 * nn.n + 5)
                             - ties.tt) / 18.0), 6) AS z
        FROM s JOIN nn USING (event_type) JOIN ties USING (event_type)
        ORDER BY s.event_type
    """,
    description="Mann-Kendall monotone-trend test per event type on "
    "the daily volume series: S = sum of pairwise signs, tie-adjusted "
    "variance, continuity-corrected z — the distribution-free trend "
    "detector paired with the Theil-Sen slope (q146). The quadratic "
    "pair join rides the bounded (type, day) calendar domain, never "
    "raw events; S is exact integer arithmetic, the variance terms "
    "are cast to DOUBLE before multiplying (n^3 at unbounded day "
    "counts), and z's only non-exact steps are one division and one "
    "correctly-rounded sqrt — bit-identical across engines",
    tags=("stats", "timeseries", "events"),
)
def q149_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.scale import materialize_shared

    t = register_tables(spark, sf_dir)
    # three consumers (pair join both sides, n, tie table) — cut once
    daily = materialize_shared(
        t["events"]
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    a, b = daily.alias("a"), daily.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.day") < F.col("b.day")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.when(F.col("b.x") > F.col("a.x"), 1)
                .when(F.col("b.x") < F.col("a.x"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    nn = daily.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n")
    )
    tt = (
        daily.groupBy("event_type", "x")
        .agg(F.count("*").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t").cast("double")
                * (F.col("t") - 1)
                * (2 * F.col("t") + 5)
            ).alias("tt")
        )
    )
    n = F.col("n")
    var_s = (n * (n - 1) * (2 * n + 5) - F.col("tt")) / 18.0
    z = (
        F.when(F.col("s_stat") > 0, F.col("s_stat") - 1)
        .when(F.col("s_stat") < 0, F.col("s_stat") + 1)
        .otherwise(0)
        / F.sqrt(var_s)
    )
    return (
        s.join(nn, "event_type")
        .join(tt, "event_type")
        .select(
            "event_type",
            "s_stat",
            F.round(var_s, 4).alias("var_s"),
            F.round(z, 6).alias("z"),
        )
        .orderBy("event_type")
    )


@query(
    "q151_hazard_rate",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   MIN(CAST(ts AS DATE)) AS t0,
                   MIN(CASE WHEN event_type = 'purchase'
                            THEN CAST(ts AS DATE) END) AS tp,
                   MAX(CAST(ts AS DATE)) AS tlast
            FROM events GROUP BY user_id
        ), durations AS (
            SELECT CASE WHEN tp IS NOT NULL
                        THEN date_diff('day', t0, tp)
                        ELSE date_diff('day', t0, tlast) END AS t,
                   CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS obs
            FROM per_user
        ), grid AS (
            SELECT t, CAST(SUM(obs) AS BIGINT) AS d,
                   CAST(count(*) AS BIGINT) AS c
            FROM durations GROUP BY t
        ), at_risk AS (
            -- CAST: DuckDB promotes BIGINT - SUM(BIGINT) OVER to HUGEINT
            -- (decimal128 at the Arrow layer); the driver hash is
            -- type-sensitive (q69 r2 precedent), so without the cast the
            -- row can never hash-match Spark's bigint even when every
            -- value is identical. The type-parity gate (tools/check.py) flags this class.
            SELECT t, d,
                   CAST((SELECT CAST(count(*) AS BIGINT) FROM durations)
                       - COALESCE(SUM(c) OVER (ORDER BY t
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
            FROM grid
        ), haz AS (
            -- Nelson-Aalen as an INTEGER fixed-point prefix sum: each
            -- term is one correctly-rounded division scaled to 1e-9
            -- units and floored to a BIGINT, so the window SUM is exact
            -- integer arithmetic and float association order (Spark
            -- sequential vs DuckDB segment-tree combine) can never
            -- matter. The outer CAST undoes DuckDB's SUM(BIGINT) OVER
            -- -> HUGEINT promotion (driver hash is type-sensitive).
            SELECT t, d, n_risk,
                   CAST(SUM(CAST(FLOOR(d * 1000000000.0 / n_risk + 0.5)
                                 AS BIGINT)) OVER (ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS BIGINT) AS na_fp
            FROM at_risk
        )
        SELECT t AS day, n_risk, d AS n_events,
               FLOOR(d / CAST(n_risk AS DOUBLE) * 1000000.0 + 0.5)
                   / 1000000.0 AS hazard,
               FLOOR(na_fp / 1000.0 + 0.5) / 1000000.0 AS cum_hazard
        FROM haz WHERE d > 0 ORDER BY t
    """,
    description="discrete-time hazard and Nelson-Aalen cumulative "
    "hazard for time-to-first-purchase — the instantaneous-risk "
    "companion to the Kaplan-Meier curve (q131), sharing its "
    "user-rollup -> duration-grid scale shape: the prefix sums ride "
    "the bounded duration domain. Unlike KM there is NO exp/ln "
    "anywhere. Engine stability is by construction, not luck: each "
    "Nelson-Aalen term is one correctly-rounded division scaled to "
    "1e-9 fixed-point and floored to a BIGINT, the prefix sum is "
    "exact integer arithmetic (float association order — Spark's "
    "sequential accumulation vs DuckDB's segment-tree combine — "
    "cannot matter), and the single scale-back division at output is "
    "an identical scalar op chain in both engines. Both oracle window "
    "sums carry CAST(... AS BIGINT) because DuckDB promotes "
    "BIGINT-SUM(BIGINT) OVER to HUGEINT and the driver hash is "
    "type-sensitive (the q69 precedent; the type-parity gate in tools/check.py gates it)",
    tags=("stats", "timeseries", "events"),
)
def q151_hazard_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    # shared duration grid (durations checkpointed inside: the grid
    # and the total both consume the per-user collapse)
    _, grid, total = _km_duration_grid(t["events"])
    w_prev = W.orderBy("t").rowsBetween(W.unboundedPreceding, -1)
    w_cum = W.orderBy("t").rowsBetween(W.unboundedPreceding, W.currentRow)
    at_risk = grid.crossJoin(F.broadcast(total)).withColumn(
        "n_risk",
        F.col("n_total") - F.coalesce(F.sum("c").over(w_prev), F.lit(0)),
    )
    h = F.col("d") / F.col("n_risk").cast("double")
    # integer fixed-point Nelson-Aalen term (1e-9 units): one
    # correctly-rounded division, then exact BIGINT prefix sums —
    # mirrors the oracle so float summation order can never diverge
    term_fp = F.floor(
        F.col("d") * 1000000000.0 / F.col("n_risk") + 0.5
    ).cast("bigint")
    haz = at_risk.withColumn("na_fp", F.sum(term_fp).over(w_cum))
    return (
        haz.filter(F.col("d") > 0)
        .select(
            F.col("t").alias("day"),
            "n_risk",
            F.col("d").alias("n_events"),
            (F.floor(h * 1000000.0 + 0.5) / 1000000.0).alias("hazard"),
            (F.floor(F.col("na_fp") / 1000.0 + 0.5) / 1000000.0).alias(
                "cum_hazard"
            ),
        )
        .orderBy("day")
    )


@query(
    "q152_kruskal_wallis",
    oracle="""
        WITH v AS (
            SELECT CAST(FLOOR(o_totalprice) AS BIGINT) AS val,
                   o_orderpriority AS grp
            FROM orders
        ), cnt AS (
            SELECT val, grp, CAST(count(*) AS BIGINT) AS c
            FROM v GROUP BY 1, 2
        ), tot AS (
            SELECT val, CAST(SUM(c) AS BIGINT) AS t,
                   COALESCE(SUM(SUM(c)) OVER (ORDER BY val
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS before
            FROM cnt GROUP BY val
        ), r AS (
            SELECT grp,
                   SUM(c * (before + (t + 1) / 2.0)) AS rg,
                   CAST(SUM(c) AS DOUBLE) AS ng
            FROM cnt JOIN tot USING (val) GROUP BY grp
        ), ties AS (
            SELECT SUM(CAST(t AS DOUBLE) * t * t - t) AS tie_sum
            FROM tot
        ), s AS (
            SELECT CAST(count(*) AS BIGINT) AS k_groups,
                   SUM(ng) AS n, SUM(rg * rg / ng) AS s_r
            FROM r
        )
        SELECT k_groups, CAST(n AS BIGINT) AS n_rows,
               FLOOR((12.0 / (n * (n + 1)) * s_r - 3 * (n + 1))
                     / (1 - tie_sum / (n * n * n - n))
                     * 1000000.0 + 0.5) / 1000000.0 AS h_stat
        FROM s CROSS JOIN ties
    """,
    description="Kruskal-Wallis H test of order value across the 5 "
    "priority classes — the nonparametric ANOVA (rank-based companion "
    "to q148) a feature-selection pass prefers when the measure is "
    "heavy-tailed. Values coarsen to whole dollars FIRST so the rank "
    "pass rides the bounded price domain (<=~600k distinct values at "
    "any scale factor, the q124/q145 collapsed-value-domain shape), "
    "never fact rows: one hash agg to (val, grp) counts, one prefix "
    "sum for midranks (before + (t+1)/2 handles ties exactly), then "
    "5-row closed-form H with the standard tie correction. Midranks "
    "are exact multiples of 0.5 and rank sums stay below 2^52, so "
    "both engines agree bitwise before the one floor-half-up",
    tags=("stats", "tpch"),
)
def q152_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    v = t["orders"].select(
        F.floor("o_totalprice").cast("bigint").alias("val"),
        F.col("o_orderpriority").alias("grp"),
    )
    cnt = v.groupBy("val", "grp").agg(F.count("*").cast("bigint").alias("c"))
    w_prev = W.orderBy("val").rowsBetween(W.unboundedPreceding, -1)
    tot = (
        cnt.groupBy("val")
        .agg(F.sum("c").cast("bigint").alias("t"))
        .withColumn(
            "before", F.coalesce(F.sum("t").over(w_prev), F.lit(0))
        )
    )
    r = (
        cnt.join(tot, "val")
        .groupBy("grp")
        .agg(
            F.sum(
                F.col("c") * (F.col("before") + (F.col("t") + 1) / 2.0)
            ).alias("rg"),
            F.sum("c").cast("double").alias("ng"),
        )
    )
    ties = tot.agg(
        F.sum(F.col("t").cast("double") * F.col("t") * F.col("t") - F.col("t")).alias(
            "tie_sum"
        )
    )
    s = r.agg(
        F.count("*").cast("bigint").alias("k_groups"),
        F.sum("ng").alias("n"),
        F.sum(F.col("rg") * F.col("rg") / F.col("ng")).alias("s_r"),
    )
    n = F.col("n")
    h = 12.0 / (n * (n + 1)) * F.col("s_r") - 3 * (n + 1)
    h_adj = h / (1 - F.col("tie_sum") / (n * n * n - n))
    return s.crossJoin(F.broadcast(ties)).select(
        "k_groups",
        n.cast("bigint").alias("n_rows"),
        (F.floor(h_adj * 1000000.0 + 0.5) / 1000000.0).alias("h_stat"),
    )


@query(
    "q153_kendall_tau",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS x,
                   FLOOR(AVG(value) * 10000.0 + 0.5) / 10000.0 AS y
            FROM events GROUP BY 1, 2
        ), pairs AS (
            SELECT a.event_type,
                   SUM(CASE WHEN (b.x - a.x) * (b.y - a.y) > 0
                            THEN 1 ELSE 0 END) AS nc,
                   SUM(CASE WHEN (b.x - a.x) * (b.y - a.y) < 0
                            THEN 1 ELSE 0 END) AS nd
            FROM daily a JOIN daily b
              ON a.event_type = b.event_type AND a.day < b.day
            GROUP BY 1
        ), nn AS (
            SELECT event_type, CAST(count(*) AS DOUBLE) AS n
            FROM daily GROUP BY 1
        ), tx AS (
            SELECT event_type, SUM(t * (t - 1) / 2.0) AS n1
            FROM (SELECT event_type, CAST(count(*) AS DOUBLE) AS t
                  FROM daily GROUP BY event_type, x)
            GROUP BY 1
        ), ty AS (
            SELECT event_type, SUM(t * (t - 1) / 2.0) AS n2
            FROM (SELECT event_type, CAST(count(*) AS DOUBLE) AS t
                  FROM daily GROUP BY event_type, y)
            GROUP BY 1
        )
        SELECT event_type, CAST(n AS BIGINT) AS n_days,
               CAST(nc AS BIGINT) AS concordant,
               CAST(nd AS BIGINT) AS discordant,
               -- explicit NULL on a zero denominator (all x or all y
               -- tied within a type): DuckDB float division would
               -- yield inf/nan where Spark yields NULL — pin both
               -- engines to NULL by construction (ADVICE r6)
               ROUND(CASE WHEN (n * (n - 1) / 2.0 - n1)
                               * (n * (n - 1) / 2.0 - n2) > 0
                          THEN (nc - nd)
                               / SQRT((n * (n - 1) / 2.0 - n1)
                                      * (n * (n - 1) / 2.0 - n2))
                     END, 6) AS tau_b
        FROM pairs JOIN nn USING (event_type)
        JOIN tx USING (event_type) JOIN ty USING (event_type)
        ORDER BY event_type
    """,
    description="Kendall tau-b rank correlation between daily volume "
    "and daily mean value per event type — the concordance-based "
    "alternative to Spearman (q147), preferred when the series is "
    "short or tie-heavy because every pair contributes exactly +1/0/-1. "
    "Raw events collapse to the (type, day) rollup FIRST, so the "
    "quadratic pair join rides the bounded calendar domain (the q146 "
    "Theil-Sen shape) no matter how many raw events; concordant/"
    "discordant are exact integer counts (y is pre-rounded "
    "floor-half-up so tie groups match across engines, the q147 "
    "pattern) and tau-b is one closed-form division over the "
    "tie-corrected pair counts",
    tags=("stats", "timeseries", "events"),
)
def q153_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.scale import materialize_shared

    t = register_tables(spark, sf_dir)
    # checkpoint the rollup: FIVE consumers (both pair-join sides, nn,
    # tx, ty) and column pruning specializes each copy's agg exchange,
    # so exchange reuse cannot dedup them — without the materialize the
    # final plan re-aggregates raw events up to 9x (r7 dup-scan audit;
    # the q146/q149 calendar-rollup pattern)
    daily = materialize_shared(
        t["events"]
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.count("*").cast("bigint").alias("x"),
            (F.floor(F.avg("value") * 10000.0 + 0.5) / 10000.0).alias("y"),
        )
    )
    a, b = daily.alias("a"), daily.alias("b")
    prod = (F.col("b.x") - F.col("a.x")) * (F.col("b.y") - F.col("a.y"))
    pairs = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.day") < F.col("b.day")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(F.when(prod > 0, 1).otherwise(0)).alias("nc"),
            F.sum(F.when(prod < 0, 1).otherwise(0)).alias("nd"),
        )
    )
    nn = daily.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n")
    )

    def tie_sum(col: str, out: str) -> DataFrame:
        return (
            daily.groupBy("event_type", col)
            .agg(F.count("*").cast("double").alias("t"))
            .groupBy("event_type")
            .agg(F.sum(F.col("t") * (F.col("t") - 1) / 2.0).alias(out))
        )

    n = F.col("n")
    n0 = n * (n - 1) / 2.0
    denom = (n0 - F.col("n1")) * (n0 - F.col("n2"))
    # NULL on degenerate data (all x or all y tied): see oracle comment
    tau = F.when(
        denom > 0, (F.col("nc") - F.col("nd")) / F.sqrt(denom)
    )
    return (
        pairs.join(nn, "event_type")
        .join(tie_sum("x", "n1"), "event_type")
        .join(tie_sum("y", "n2"), "event_type")
        .select(
            "event_type",
            n.cast("bigint").alias("n_days"),
            F.col("nc").cast("bigint").alias("concordant"),
            F.col("nd").cast("bigint").alias("discordant"),
            F.round(tau, 6).alias("tau_b"),
        )
        .orderBy("event_type")
    )


@query(
    "q154_cramers_v",
    oracle="""
        WITH cells AS (
            SELECT c_mktsegment AS seg, o_orderpriority AS prio,
                   CAST(count(*) AS DOUBLE) AS o
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1, 2
        ), grid AS (
            -- FULL observed-category grid (r7, ADVICE r6): an empty
            -- seg x prio cell must still contribute its expected count
            -- e to chi-square ((0-e)^2/e = e); summing observed cells
            -- only understates the textbook statistic whenever a cell
            -- is empty (possible at tiny scale factors)
            SELECT s.seg, p.prio, COALESCE(c.o, 0.0) AS o
            FROM (SELECT DISTINCT seg FROM cells) s
            CROSS JOIN (SELECT DISTINCT prio FROM cells) p
            LEFT JOIN cells c ON c.seg = s.seg AND c.prio = p.prio
        ), rt AS (
            SELECT seg, SUM(o) AS r FROM grid GROUP BY seg
        ), ct AS (
            SELECT prio, SUM(o) AS c FROM grid GROUP BY prio
        ), n AS (
            SELECT SUM(o) AS n FROM grid
        ), chi AS (
            SELECT SUM((o - r * c / n) * (o - r * c / n) / (r * c / n))
                       AS chi2,
                   MAX(n) AS n,
                   CAST(count(DISTINCT seg) AS DOUBLE) AS nr,
                   CAST(count(DISTINCT prio) AS DOUBLE) AS nc
            FROM grid JOIN rt USING (seg) JOIN ct USING (prio)
            CROSS JOIN n
        )
        SELECT CAST(n AS BIGINT) AS n_rows,
               FLOOR(chi2 * 10000.0 + 0.5) / 10000.0 AS chi2,
               FLOOR(SQRT(chi2 / (n * LEAST(nr - 1, nc - 1)))
                     * 1000000.0 + 0.5) / 1000000.0 AS cramers_v
        FROM chi
    """,
    description="Cramer's V association between customer market segment "
    "and order priority — the normalized chi-square effect size "
    "(complements the goodness-of-fit chi-square q123) a feature audit "
    "computes for every categorical/categorical pair. One fact-side "
    "hash join + ONE map-side-combined agg collapses everything to the "
    "25-cell contingency table, completed to the FULL observed-"
    "category grid (empty cells contribute their expected count e to "
    "chi2 — the textbook definition; grid completion is a 5x5 "
    "broadcast cross of the distinct margins). Row/column margins, "
    "chi-square and V are closed-form arithmetic on that bounded "
    "grid. Cell counts are exact integers, expected counts are two "
    "correctly-rounded ops on identical doubles, and the 25-term sum "
    "gets floor-half-up armor",
    tags=("stats", "tpch"),
)
def q154_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    cells = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("prio"),
        )
        .agg(F.count("*").cast("double").alias("o"))
    )
    from amadou_spark.scale import materialize_shared

    # checkpoint the 25-row contingency table: SIX consumers (both
    # grid-margin distincts, the grid left join, rt, ct, nt) would
    # otherwise each re-run the fact join+agg — pruning specializes the
    # copies so exchange reuse can't dedup (17 orders scans in the r7
    # dup audit); one join+agg then blocks
    cells = materialize_shared(cells)
    # full observed-category grid (see oracle comment): 5x5 broadcast
    # cross of the distinct margins, empty cells coalesce to 0
    grid = (
        cells.select("seg")
        .distinct()
        .crossJoin(F.broadcast(cells.select("prio").distinct()))
        .join(cells, ["seg", "prio"], "left")
        .withColumn("o", F.coalesce(F.col("o"), F.lit(0.0)))
    )
    rt = grid.groupBy("seg").agg(F.sum("o").alias("r"))
    ct = grid.groupBy("prio").agg(F.sum("o").alias("c"))
    nt = grid.agg(F.sum("o").alias("n"))
    e = F.col("r") * F.col("c") / F.col("n")
    chi = (
        grid.join(F.broadcast(rt), "seg")
        .join(F.broadcast(ct), "prio")
        .crossJoin(F.broadcast(nt))
        .agg(
            F.sum((F.col("o") - e) * (F.col("o") - e) / e).alias("chi2"),
            F.max("n").alias("n"),
            F.countDistinct("seg").cast("double").alias("nr"),
            F.countDistinct("prio").cast("double").alias("nc"),
        )
    )
    v = F.sqrt(
        F.col("chi2")
        / (F.col("n") * F.least(F.col("nr") - 1, F.col("nc") - 1))
    )
    return chi.select(
        F.col("n").cast("bigint").alias("n_rows"),
        (F.floor(F.col("chi2") * 10000.0 + 0.5) / 10000.0).alias("chi2"),
        (F.floor(v * 1000000.0 + 0.5) / 1000000.0).alias("cramers_v"),
    )


@query(
    "q155_pacf",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day, AVG(value) AS v
            FROM events GROUP BY 1, 2
        ), lagged AS (
            SELECT event_type, v,
                   lag(v, 1) OVER w AS v1,
                   lag(v, 2) OVER w AS v2,
                   lag(v, 3) OVER w AS v3
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY day)
        ), acf AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_days,
                   FLOOR(corr(v, v1) * 10000.0 + 0.5) / 10000.0 AS r1,
                   FLOOR(corr(v, v2) * 10000.0 + 0.5) / 10000.0 AS r2,
                   FLOOR(corr(v, v3) * 10000.0 + 0.5) / 10000.0 AS r3
            FROM lagged GROUP BY event_type
        ), lev AS (
            SELECT event_type, n_days, r1, r2, r3,
                   (r2 - r1 * r1) / (1 - r1 * r1) AS phi22
            FROM acf
        ), lev2 AS (
            SELECT event_type, n_days, r1, r2, r3, phi22,
                   r1 * (1 - phi22) AS phi21
            FROM lev
        )
        SELECT event_type, n_days,
               ROUND(r1, 4) AS pacf1,
               ROUND(phi22, 4) AS pacf2,
               ROUND((r3 - phi21 * r2 - phi22 * r1)
                     / (1 - phi21 * r1 - phi22 * r2), 4) AS pacf3
        FROM lev2 ORDER BY event_type
    """,
    description="partial autocorrelation (lags 1-3) of the daily mean "
    "event value per event type, via the Durbin-Levinson recursion on "
    "the ACF — the AR-order diagnostic read next to q104's ACF when "
    "choosing sequence-model lag depth. Same bounded scale shape as "
    "q104 (daily rollup collapses the fact table before any window); "
    "the recursion itself is closed-form arithmetic on the per-type "
    "3-row ACF. Engine stability: corr() co-moment association order "
    "differs across engines by ~1e-15, so each acf value is pinned "
    "floor-half-up at 4 decimals FIRST and the recursion runs on those "
    "identical pinned inputs — every downstream op is then "
    "correctly-rounded on bit-identical operands",
    tags=("stats", "timeseries", "events"),
)
def q155_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    daily = (
        t["events"]
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.avg("value").alias("v"))
    )
    w = W.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "v",
        F.lag("v", 1).over(w).alias("v1"),
        F.lag("v", 2).over(w).alias("v2"),
        F.lag("v", 3).over(w).alias("v3"),
    )

    def pin(c):
        return F.floor(c * 10000.0 + 0.5) / 10000.0

    acf = lagged.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        pin(F.corr("v", "v1")).alias("r1"),
        pin(F.corr("v", "v2")).alias("r2"),
        pin(F.corr("v", "v3")).alias("r3"),
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    phi22 = (r2 - r1 * r1) / (1 - r1 * r1)
    lev = acf.withColumn("phi22", phi22).withColumn(
        "phi21", r1 * (1 - F.col("phi22"))
    )
    phi33 = (r3 - F.col("phi21") * r2 - F.col("phi22") * r1) / (
        1 - F.col("phi21") * r1 - F.col("phi22") * r2
    )
    return lev.select(
        "event_type",
        "n_days",
        F.round(r1, 4).alias("pacf1"),
        F.round(F.col("phi22"), 4).alias("pacf2"),
        F.round(phi33, 4).alias("pacf3"),
    ).orderBy("event_type")


@query(
    "q157_levene_test",
    oracle="""
        WITH med AS (
            SELECT o_orderpriority, median(o_totalprice) AS m
            FROM orders GROUP BY 1
        ), z AS (
            SELECT o.o_orderpriority,
                   ABS(o.o_totalprice - med.m) AS z
            FROM orders o JOIN med USING (o_orderpriority)
        ), g AS (
            SELECT o_orderpriority,
                   CAST(count(*) AS DOUBLE) AS ni,
                   SUM(z) AS si, SUM(z * z) AS qi
            FROM z GROUP BY 1
        ), s AS (
            SELECT CAST(count(*) AS DOUBLE) AS k,
                   SUM(ni) AS n, SUM(si) AS grand,
                   SUM(si * si / ni) AS between_raw,
                   SUM(qi) AS total_sq
            FROM g
        )
        SELECT CAST(k AS BIGINT) AS k_groups,
               CAST(n AS BIGINT) AS n_rows,
               FLOOR(((between_raw - grand * grand / n) / (k - 1))
                     / ((total_sq - between_raw) / (n - k))
                     * 10000.0 + 0.5) / 10000.0 AS w_stat
        FROM s
    """,
    description="Brown-Forsythe / Levene test of variance homogeneity "
    "of order value across the 5 priority classes: one-way ANOVA F on "
    "the absolute deviations from each group's MEDIAN (the robust "
    "center, per Brown & Forsythe 1974) — the check run before "
    "trusting q148's equal-variance assumption. Two passes: exact "
    "per-group medians (5 rows, broadcast back), then ONE "
    "map-side-combined moment agg over |x-med| — the q148 sum "
    "decomposition on the deviations. Medians interpolate the same "
    "two doubles in both engines; each deviation is one "
    "correctly-rounded op on identical operands; only the final "
    "moment sums need floor-half-up armor",
    tags=("stats", "tpch"),
)
def q157_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    med = t["orders"].groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("m")
    )
    z = (
        t["orders"]
        .join(F.broadcast(med), "o_orderpriority")
        .select(
            "o_orderpriority",
            F.abs(F.col("o_totalprice") - F.col("m")).alias("z"),
        )
    )
    g = z.groupBy("o_orderpriority").agg(
        F.count("*").cast("double").alias("ni"),
        F.sum("z").alias("si"),
        F.sum(F.col("z") * F.col("z")).alias("qi"),
    )
    s = g.agg(
        F.count("*").cast("double").alias("k"),
        F.sum("ni").alias("n"),
        F.sum("si").alias("grand"),
        F.sum(F.col("si") * F.col("si") / F.col("ni")).alias("between_raw"),
        F.sum("qi").alias("total_sq"),
    )
    k, n = F.col("k"), F.col("n")
    ssb = F.col("between_raw") - F.col("grand") * F.col("grand") / n
    ssw = F.col("total_sq") - F.col("between_raw")
    w = (ssb / (k - 1)) / (ssw / (n - k))
    return s.select(
        k.cast("bigint").alias("k_groups"),
        n.cast("bigint").alias("n_rows"),
        (F.floor(w * 10000.0 + 0.5) / 10000.0).alias("w_stat"),
    )


@query(
    "q158_psi_drift",
    oracle="""
        WITH bounds AS (
            SELECT MIN(value) AS lo, MAX(value) AS hi,
                   MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
            FROM events
        ), tagged AS (
            SELECT event_type,
                   CASE WHEN CAST(ts AS DATE) <= d0 + CAST(FLOOR(
                            date_diff('day', d0, d1) / 2) AS INTEGER)
                        THEN 0 ELSE 1 END AS half,
                   -- constant bucket when hi = lo (all values equal):
                   -- both engines would otherwise divide by zero with
                   -- different float semantics (ADVICE r6)
                   CASE WHEN hi = lo THEN 0
                        ELSE LEAST(9, CAST(FLOOR((value - lo) * 10.0
                                                 / (hi - lo))
                                           AS INTEGER)) END AS bucket
            FROM events CROSS JOIN bounds
        ), cells AS (
            SELECT event_type, half, bucket,
                   CAST(count(*) AS BIGINT) AS n
            FROM tagged GROUP BY 1, 2, 3
        ), wide AS (
            SELECT event_type, bucket,
                   SUM(CASE WHEN half = 0 THEN n ELSE 0 END) AS na,
                   SUM(CASE WHEN half = 1 THEN n ELSE 0 END) AS nb
            FROM cells GROUP BY 1, 2
        ), tot AS (
            SELECT event_type, SUM(na) AS ta, SUM(nb) AS tb
            FROM wide GROUP BY 1
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_buckets_used,
               ROUND(SUM((na / ta - nb / tb)
                         * LN((na / ta) / (nb / tb))), 6) AS psi
        FROM wide JOIN tot USING (event_type)
        WHERE na > 0 AND nb > 0
        GROUP BY event_type ORDER BY event_type
    """,
    description="Population Stability Index of the event-value "
    "distribution between the first and second half of the observation "
    "window, per event type — the model-monitoring drift score (PSI "
    ">0.25 = retrain) that complements the categorical KL monitor "
    "(q63). Ten equal-width buckets over the global [min,max]; the "
    "half split is exact integer date arithmetic on the min/max days. "
    "Everything collapses to a <=2x10xK cell table in ONE "
    "map-side-combined agg; PSI is closed-form on that bounded grid. "
    "Buckets empty on either side drop out (and are counted), the "
    "standard finite-sample convention. Bucket indices are floors of "
    "correctly-rounded arithmetic on identical doubles — identical in "
    "both engines; only the <=10-term ln sum needs rounding armor",
    tags=("stats", "timeseries", "events"),
)
def q158_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    day = F.to_date("ts")
    bounds = t["events"].agg(
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.min(day).alias("d0"),
        F.max(day).alias("d1"),
    )
    half = F.when(
        day
        <= F.date_add(
            F.col("d0"),
            F.floor(F.datediff(F.col("d1"), F.col("d0")) / 2).cast("int"),
        ),
        0,
    ).otherwise(1)
    # constant bucket on a degenerate [lo, hi] range: see oracle comment
    bucket = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(
            F.lit(9),
            F.floor(
                (F.col("value") - F.col("lo"))
                * 10.0
                / (F.col("hi") - F.col("lo"))
            ).cast("int"),
        )
    )
    cells = (
        t["events"]
        .crossJoin(F.broadcast(bounds))
        .groupBy(
            "event_type", half.alias("half"), bucket.alias("bucket")
        )
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    wide = cells.groupBy("event_type", "bucket").agg(
        F.sum(F.when(F.col("half") == 0, F.col("n")).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("half") == 1, F.col("n")).otherwise(0)).alias("nb"),
    )
    tot = wide.groupBy("event_type").agg(
        F.sum("na").alias("ta"), F.sum("nb").alias("tb")
    )
    pa = F.col("na") / F.col("ta")
    pb = F.col("nb") / F.col("tb")
    return (
        wide.join(F.broadcast(tot), "event_type")
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_buckets_used"),
            F.round(F.sum((pa - pb) * F.log(pa / pb)), 6).alias("psi"),
        )
        .orderBy("event_type")
    )


@query(
    "q160_price_decile_bands",
    oracle="""
        WITH scored AS (
            -- exact integer cents as the ordering key (the q133/q118
            -- pin): o_totalprice carries 2dp, so its cents are exact
            -- while raw-double comparisons near a decile boundary
            -- could order differently per engine
            SELECT o_orderkey,
                   CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                       AS cents,
                   ntile(10) OVER (ORDER BY
                       CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT),
                       o_orderkey) AS decile
            FROM orders
        )
        SELECT decile,
               CAST(count(*) AS BIGINT) AS n_orders,
               ROUND(MIN(cents) / 100.0, 2) AS lo_price,
               ROUND(MAX(cents) / 100.0, 2) AS hi_price,
               ROUND(CAST(SUM(cents) AS BIGINT) / 100.0, 2)
                   AS band_value
        FROM scored GROUP BY decile ORDER BY decile
    """,
    description="order-value decile bands: every order ntile(10)-"
    "scored by total price (exact-cents key, orderkey tie-break), then "
    "per-decile census with band boundaries and exact band revenue — "
    "the price-segmentation table behind tiering and demand-curve "
    "analyses. The oracle says ntile(10); the Spark side computes the "
    "SAME deciles with ZERO fact-grain sorts via bounded_domain_ntile "
    "and the monotone coarsening trick (q118): the value domain is the "
    "$1000 price grid (bounded by the PRICE RANGE, data-size-"
    "independent), rows whose grid run sits inside one decile take it "
    "straight off the broadcast LocalRelation lookup table (one "
    "domain-sized collect builds it; its broadcast runs no job), and "
    "only the <= 9 boundary-crossing runs get the (cents, orderkey) "
    "tie-break window — filtered before the shuffle. Band revenue sums exact "
    "BIGINT cents (order-free), divided once at output. Unlike q118 "
    "(whose input is an AGGREGATE worth checkpointing), the branch "
    "re-reads here are pruned 1-2 column parquet scans — at any scale "
    "cheaper than materializing a row-format copy of the fact table",
    tags=("tpch", "windows", "scale"),
)
def q160_price_decile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.scale import bounded_domain_ntile

    t = register_tables(spark, sf_dir)
    o = t["orders"].select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("bigint")
        .alias("cents"),
    ).withColumn(
        "band", F.floor(F.col("cents") / 100000).cast("bigint")
    )
    scored = bounded_domain_ntile(
        o, [("band", ["cents", "o_orderkey"], 10, "decile")]
    )
    return (
        scored.groupBy("decile")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.round(F.min("cents") / 100.0, 2).alias("lo_price"),
            F.round(F.max("cents") / 100.0, 2).alias("hi_price"),
            F.round(F.sum("cents").cast("bigint") / 100.0, 2).alias(
                "band_value"
            ),
        )
        .orderBy("decile")
    )


@query(
    "q161_mutual_information",
    oracle="""
        WITH cells AS (
            SELECT c_nationkey AS k, c_mktsegment AS s,
                   CAST(count(*) AS BIGINT) AS c
            FROM customer GROUP BY 1, 2
        ), tot AS (
            SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells
        ), km AS (
            SELECT k, CAST(SUM(c) AS BIGINT) AS ck FROM cells GROUP BY k
        ), sm AS (
            SELECT s, CAST(SUM(c) AS BIGINT) AS cs FROM cells GROUP BY s
        ), mi AS (
            -- each cell's MI contribution as an exact e12 fixed-point
            -- BIGINT (the q151 pattern): summing integers is order-free,
            -- so Spark's partial-agg combine order vs DuckDB's cannot
            -- move the total
            SELECT CAST(SUM(CAST(FLOOR(
                       (c / CAST(n AS DOUBLE))
                       * LN(CAST(n AS DOUBLE) * c
                            / (CAST(ck AS DOUBLE) * cs))
                       * 1000000000000.0 + 0.5) AS BIGINT))
                   AS BIGINT) AS mi_fp
            FROM cells
            JOIN km USING (k) JOIN sm USING (s) CROSS JOIN tot
        ), hk AS (
            SELECT CAST(SUM(CAST(FLOOR(
                       (ck / CAST(n AS DOUBLE))
                       * LN(ck / CAST(n AS DOUBLE))
                       * 1000000000000.0 + 0.5) AS BIGINT))
                   AS BIGINT) AS hk_fp
            FROM km CROSS JOIN tot
        ), hs AS (
            SELECT CAST(SUM(CAST(FLOOR(
                       (cs / CAST(n AS DOUBLE))
                       * LN(cs / CAST(n AS DOUBLE))
                       * 1000000000000.0 + 0.5) AS BIGINT))
                   AS BIGINT) AS hs_fp
            FROM sm CROSS JOIN tot
        )
        SELECT n AS n_customers,
               ROUND(mi_fp / 1e12, 6) AS mi_nats,
               ROUND(-hk_fp / 1e12, 6) AS h_nation,
               ROUND(-hs_fp / 1e12, 6) AS h_segment,
               -- NULLIF: a constant attribute has zero entropy and an
               -- undefined NMI; 0/0 is NULL in Spark but NaN in DuckDB
               -- double semantics, so make the degenerate case NULL by
               -- construction in both engines
               ROUND(mi_fp / SQRT(NULLIF(
                   CAST(hk_fp AS DOUBLE) * hs_fp, 0.0)), 6)
                   AS nmi
        FROM tot CROSS JOIN mi CROSS JOIN hk CROSS JOIN hs
    """,
    description="mutual information (and sqrt-normalized NMI) between "
    "customer nation and market segment — the feature-selection / "
    "redundancy screen a training pipeline runs over candidate "
    "categorical features. One map-side-combined hash agg builds the "
    "contingency table, whose grain is |nations|x|segments| (data-size-"
    "independent); marginals and the total are exact-regroup re-aggs of "
    "those bounded cells (no fact rescans) joined back broadcast-tiny. "
    "Engine stability: each cell's p*ln term is floored-half-up to an "
    "exact e12 fixed-point BIGINT before summing, so the sum is "
    "order-free integer arithmetic in both engines (the q151 pattern) "
    "and one division at output recovers nats; NMI's sqrt runs on the "
    "same deterministic integer sums",
    tags=("stats", "llm"),
)
def q161_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.scale import materialize_shared

    t = register_tables(spark, sf_dir)
    cells = materialize_shared(
        t["customer"]
        .groupBy(
            F.col("c_nationkey").alias("k"),
            F.col("c_mktsegment").alias("s"),
        )
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    # the checkpoint above cuts lineage at the bounded contingency
    # grain (<= |nations|x|segments| rows): column pruning specializes
    # each consumer's copy of a shared subtree, so without it the
    # fact-grain agg re-executes once per marginal/total consumer
    # (13 customer scans in the executed plan; 1 after)
    tot = cells.agg(F.sum("c").cast("bigint").alias("n"))
    km = cells.groupBy("k").agg(F.sum("c").cast("bigint").alias("ck"))
    sm = cells.groupBy("s").agg(F.sum("c").cast("bigint").alias("cs"))

    def fp(expr):
        return F.floor(expr * 1000000000000.0 + 0.5).cast("bigint")

    mi = (
        cells.join(F.broadcast(km), "k")
        .join(F.broadcast(sm), "s")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                fp(
                    (F.col("c") / F.col("n").cast("double"))
                    * F.log(
                        F.col("n").cast("double")
                        * F.col("c")
                        / (F.col("ck").cast("double") * F.col("cs"))
                    )
                )
            )
            .cast("bigint")
            .alias("mi_fp")
        )
    )
    hk = km.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            fp(
                (F.col("ck") / F.col("n").cast("double"))
                * F.log(F.col("ck") / F.col("n").cast("double"))
            )
        )
        .cast("bigint")
        .alias("hk_fp")
    )
    hs = sm.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            fp(
                (F.col("cs") / F.col("n").cast("double"))
                * F.log(F.col("cs") / F.col("n").cast("double"))
            )
        )
        .cast("bigint")
        .alias("hs_fp")
    )
    return (
        tot.crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hk))
        .crossJoin(F.broadcast(hs))
        .select(
            F.col("n").alias("n_customers"),
            F.round(F.col("mi_fp") / 1e12, 6).alias("mi_nats"),
            F.round(-F.col("hk_fp") / 1e12, 6).alias("h_nation"),
            F.round(-F.col("hs_fp") / 1e12, 6).alias("h_segment"),
            # nullif mirrors the oracle: constant attribute -> zero
            # entropy -> NMI undefined, NULL in both engines
            F.round(
                F.col("mi_fp")
                / F.sqrt(
                    F.nullif(
                        F.col("hk_fp").cast("double") * F.col("hs_fp"),
                        F.lit(0.0),
                    )
                ),
                6,
            ).alias("nmi"),
        )
    )


@query(
    "q162_logrank_test",
    oracle="""
        WITH per_user AS (
            SELECT user_id, CAST(user_id % 2 AS INT) AS arm,
                   MIN(CAST(ts AS DATE)) AS t0,
                   MIN(CASE WHEN event_type = 'purchase'
                            THEN CAST(ts AS DATE) END) AS tp,
                   MAX(CAST(ts AS DATE)) AS tlast
            FROM events GROUP BY user_id
        ), durations AS (
            SELECT arm,
                   CASE WHEN tp IS NOT NULL
                        THEN date_diff('day', t0, tp)
                        ELSE date_diff('day', t0, tlast) END AS t,
                   CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS obs
            FROM per_user
        ), cells AS (
            SELECT arm, t, CAST(SUM(obs) AS BIGINT) AS d,
                   CAST(count(*) AS BIGINT) AS c
            FROM durations GROUP BY arm, t
        ), dense AS (
            -- every distinct duration x both arms, so per-arm prefix
            -- sums see censoring-only times too
            SELECT g.t, a.arm, COALESCE(cells.d, 0) AS d,
                   COALESCE(cells.c, 0) AS c
            FROM (SELECT DISTINCT t FROM cells) g
            CROSS JOIN (SELECT 0 AS arm UNION ALL SELECT 1) a
            LEFT JOIN cells ON cells.t = g.t AND cells.arm = a.arm
        ), risk AS (
            SELECT t, arm, d,
                   CAST(CAST(SUM(c) OVER (PARTITION BY arm) AS BIGINT)
                        - COALESCE(SUM(c) OVER (PARTITION BY arm
                              ORDER BY t ROWS BETWEEN UNBOUNDED
                              PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS n_risk
            FROM dense
        ), wide AS (
            SELECT t,
                   CAST(SUM(CASE WHEN arm = 1 THEN d ELSE 0 END)
                        AS BIGINT) AS d1,
                   CAST(SUM(d) AS BIGINT) AS d,
                   CAST(SUM(CASE WHEN arm = 1 THEN n_risk ELSE 0 END)
                        AS BIGINT) AS n1,
                   CAST(SUM(n_risk) AS BIGINT) AS nn
            FROM risk GROUP BY t
        ), terms AS (
            -- e12 fixed-point integer terms (q151 pattern): each term
            -- is a chain of correctly-rounded double ops in identical
            -- order in both engines, floored-half-up to BIGINT so the
            -- SUM is order-free exact arithmetic
            SELECT d1,
                   CAST(FLOOR(CAST(d AS DOUBLE) * n1 / nn
                        * 1000000000000.0 + 0.5) AS BIGINT) AS e1_fp,
                   CAST(FLOOR(CAST(d AS DOUBLE) * (n1 / CAST(nn AS DOUBLE))
                        * (1.0 - n1 / CAST(nn AS DOUBLE))
                        * (nn - d) / (nn - 1.0)
                        * 1000000000000.0 + 0.5) AS BIGINT) AS v_fp
            FROM wide WHERE d > 0 AND nn > 1
        )
        SELECT CAST(count(*) AS BIGINT) AS n_times,
               CAST(SUM(d1) AS BIGINT) AS o1,
               ROUND(CAST(SUM(e1_fp) AS BIGINT) / 1e12, 6) AS e1,
               ROUND(CAST(SUM(v_fp) AS BIGINT) / 1e12, 6) AS var_o1,
               -- NULLIF: a degenerate family (one arm carrying every
               -- at-risk subject at all event times) has V = 0 and an
               -- undefined statistic; 0/0 is NULL in Spark but NaN in
               -- DuckDB, so pin the degenerate case to NULL in both
               ROUND(POW(SUM(d1) - CAST(SUM(e1_fp) AS BIGINT) / 1e12, 2)
                     / NULLIF(CAST(SUM(v_fp) AS BIGINT) / 1e12, 0.0), 6)
                   AS logrank_chi2
        FROM terms
    """,
    description="log-rank test comparing time-to-first-purchase "
    "survival between two A/B arms (user_id parity as the assignment "
    "hash; no-purchase users right-censored at last activity) — the "
    "standard significance test paired with the q131 Kaplan-Meier "
    "curves. Reuses q131's scale shape: events collapse to one row per "
    "user, then to the (arm x duration) grid, so every window rides "
    "the DURATION DOMAIN (observation-window-bounded, data-size-"
    "independent) partitioned by arm — no fact-grain sorts. The "
    "hypergeometric mean/variance terms are floored-half-up to e12 "
    "fixed-point BIGINTs (q151 pattern) so the final sums are "
    "order-free integer arithmetic; O1 is an exact integer count. "
    "chi2 = (O1-E1)^2/V on the deterministic sums, one division each "
    "at output",
    tags=("stats", "timeseries", "events"),
)
def q162_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    day = F.to_date("ts")
    per_user = t["events"].groupBy("user_id").agg(
        F.min(day).alias("t0"),
        F.min(
            F.when(F.col("event_type") == "purchase", day)
        ).alias("tp"),
        F.max(day).alias("tlast"),
    )
    durations = per_user.select(
        (F.col("user_id") % 2).cast("int").alias("arm"),
        F.when(F.col("tp").isNotNull(), F.datediff("tp", "t0"))
        .otherwise(F.datediff("tlast", "t0"))
        .alias("t"),
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("obs"),
    )
    from amadou_spark.scale import materialize_shared

    # lineage cut at the bounded (arm x duration) grain: the dense
    # grid consumes cells twice (time spine + left join), and without
    # the checkpoint each copy re-executes the fact-grain per-user agg
    cells = materialize_shared(
        durations.groupBy("arm", "t").agg(
            F.sum("obs").cast("bigint").alias("d"),
            F.count("*").cast("bigint").alias("c"),
        )
    )
    dense = (
        cells.select("t")
        .distinct()
        .select(
            "t", F.explode(F.array(F.lit(0), F.lit(1))).alias("arm")
        )
        .join(cells, ["t", "arm"], "left")
        .select(
            "t",
            "arm",
            F.coalesce("d", F.lit(0)).alias("d"),
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    w_arm = W.partitionBy("arm")
    w_prev = (
        W.partitionBy("arm")
        .orderBy("t")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    risk = dense.select(
        "t",
        "arm",
        "d",
        (
            F.sum("c").over(w_arm).cast("bigint")
            - F.coalesce(F.sum("c").over(w_prev), F.lit(0))
        )
        .cast("bigint")
        .alias("n_risk"),
    )
    wide = risk.groupBy("t").agg(
        F.sum(F.when(F.col("arm") == 1, F.col("d")).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.sum("d").cast("bigint").alias("d"),
        F.sum(F.when(F.col("arm") == 1, F.col("n_risk")).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum("n_risk").cast("bigint").alias("nn"),
    )

    def fp(expr):
        return F.floor(expr * 1000000000000.0 + 0.5).cast("bigint")

    nn_d = F.col("nn").cast("double")
    terms = wide.filter((F.col("d") > 0) & (F.col("nn") > 1)).select(
        "d1",
        fp(F.col("d").cast("double") * F.col("n1") / F.col("nn")).alias(
            "e1_fp"
        ),
        fp(
            F.col("d").cast("double")
            * (F.col("n1") / nn_d)
            * (F.lit(1.0) - F.col("n1") / nn_d)
            * (F.col("nn") - F.col("d"))
            / (F.col("nn") - F.lit(1.0))
        ).alias("v_fp"),
    )
    e1 = F.sum("e1_fp").cast("bigint") / 1e12
    v = F.sum("v_fp").cast("bigint") / 1e12
    return terms.agg(
        F.count("*").cast("bigint").alias("n_times"),
        F.sum("d1").cast("bigint").alias("o1"),
        F.round(e1, 6).alias("e1"),
        F.round(v, 6).alias("var_o1"),
        # nullif mirrors the oracle: V = 0 -> statistic undefined,
        # NULL in both engines
        F.round(
            F.pow(F.sum("d1") - e1, 2) / F.nullif(v, F.lit(0.0)), 6
        ).alias("logrank_chi2"),
    )


@query(
    "q163_quantile_normalize",
    oracle="""
        WITH rowfp AS (
            -- exact micro-units per ROW: the daily totals are then
            -- order-free BIGINT sums, so the rank key can never
            -- diverge between engines (a float SUM's association
            -- order could flip a rank and corrupt the whole map)
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)
                       AS micro
            FROM events
        ), daily AS (
            SELECT event_type, day,
                   CAST(SUM(micro) AS BIGINT) AS v_micro
            FROM rowfp GROUP BY event_type, day
        ), ranked AS (
            SELECT event_type, day, v_micro,
                   CAST(rank() OVER (PARTITION BY event_type
                        ORDER BY v_micro, day) AS BIGINT) AS r
            FROM daily
        ), ref AS (
            SELECT r,
                   CAST(SUM(v_micro) AS BIGINT) AS s,
                   CAST(count(*) AS BIGINT) AS m
            FROM ranked GROUP BY r
        )
        SELECT ranked.event_type, ranked.day, ranked.r AS rnk,
               ROUND(ranked.v_micro / 1e6, 6) AS orig_value,
               ROUND(ref.s / CAST(ref.m AS DOUBLE) / 1e6, 6)
                   AS qn_value
        FROM ranked JOIN ref ON ranked.r = ref.r
        ORDER BY ranked.event_type, ranked.day
    """,
    description="quantile normalization of daily event-value totals "
    "across event types — the cross-feature distribution aligner "
    "(microarray-normalization lineage) a feature pipeline applies "
    "before mixing heterogeneous signals: each type's day-k-ranked "
    "total is replaced by the mean of all types' rank-k totals. Scale "
    "shape: raw values collapse per-row to exact integer micro-units, "
    "then to the (type x day) grain — CALENDAR-bounded, data-size-"
    "independent — so the rank window (partitioned by type) and the "
    "rank-mean regroup ride a tiny frame; the reference table joins "
    "back broadcast-size. Engine stability: the rank key is an exact "
    "BIGINT sum (order-free in both engines) with a day tie-break, so "
    "ranks are bit-deterministic; the only float ops are two "
    "correctly-rounded divisions at output",
    tags=("stats", "timeseries", "events", "llm"),
)
def q163_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.scale import materialize_shared

    t = register_tables(spark, sf_dir)
    # lineage cut at the calendar-bounded (type x day) grain: ranked
    # feeds both the rank-mean regroup and the output join, and
    # without the checkpoint each copy re-executes the fact-grain agg
    daily = materialize_shared(
        t["events"]
        .select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.floor(F.col("value") * 1000000.0 + 0.5)
            .cast("bigint")
            .alias("micro"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("micro").cast("bigint").alias("v_micro"))
    )
    w = W.partitionBy("event_type").orderBy("v_micro", "day")
    ranked = daily.withColumn(
        "r", F.rank().over(w).cast("bigint")
    )
    ref = ranked.groupBy("r").agg(
        F.sum("v_micro").cast("bigint").alias("s"),
        F.count("*").cast("bigint").alias("m"),
    )
    return (
        ranked.join(F.broadcast(ref), "r")
        .select(
            "event_type",
            "day",
            F.col("r").alias("rnk"),
            F.round(F.col("v_micro") / 1e6, 6).alias("orig_value"),
            F.round(
                F.col("s") / F.col("m").cast("double") / 1e6, 6
            ).alias("qn_value"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "q164_markov_stationary",
    oracle="""
        WITH seq AS (
            SELECT event_type AS nxt,
                   lag(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS prev
            FROM events
        ), pairs AS (
            SELECT prev, nxt, CAST(count(*) AS BIGINT) AS cnt
            FROM seq WHERE prev IS NOT NULL GROUP BY prev, nxt
        ), rowtot AS (
            SELECT prev, CAST(SUM(cnt) AS BIGINT) AS tot
            FROM pairs GROUP BY prev
        ), p AS (
            -- e6 fixed-point transition weights: ONE correctly-rounded
            -- double division then exact integer ops, so every power
            -- iteration below is order-free BIGINT arithmetic in both
            -- engines (the q151 pattern, iterated)
            SELECT pairs.prev, pairs.nxt,
                   CAST(FLOOR(cnt / CAST(tot AS DOUBLE)
                        * 1000000.0 + 0.5) AS BIGINT) AS w
            FROM pairs JOIN rowtot ON pairs.prev = rowtot.prev
        ), states AS (
            SELECT DISTINCT prev AS state FROM p
        ), v0 AS (
            SELECT state,
                   CAST(FLOOR(1000000.0
                        / (SELECT count(*) FROM states) + 0.5)
                        AS BIGINT) AS pr
            FROM states
        ), v1 AS (
            SELECT p.nxt AS state, CAST(FLOOR(SUM(v0.pr * p.w)
                   / 1000000.0 + 0.5) AS BIGINT) AS pr
            FROM v0 JOIN p ON v0.state = p.prev GROUP BY p.nxt
        ), v2 AS (
            SELECT p.nxt AS state, CAST(FLOOR(SUM(v1.pr * p.w)
                   / 1000000.0 + 0.5) AS BIGINT) AS pr
            FROM v1 JOIN p ON v1.state = p.prev GROUP BY p.nxt
        ), v3 AS (
            SELECT p.nxt AS state, CAST(FLOOR(SUM(v2.pr * p.w)
                   / 1000000.0 + 0.5) AS BIGINT) AS pr
            FROM v2 JOIN p ON v2.state = p.prev GROUP BY p.nxt
        ), v4 AS (
            SELECT p.nxt AS state, CAST(FLOOR(SUM(v3.pr * p.w)
                   / 1000000.0 + 0.5) AS BIGINT) AS pr
            FROM v3 JOIN p ON v3.state = p.prev GROUP BY p.nxt
        ), v5 AS (
            SELECT p.nxt AS state, CAST(FLOOR(SUM(v4.pr * p.w)
                   / 1000000.0 + 0.5) AS BIGINT) AS pr
            FROM v4 JOIN p ON v4.state = p.prev GROUP BY p.nxt
        ), v6 AS (
            SELECT p.nxt AS state, CAST(FLOOR(SUM(v5.pr * p.w)
                   / 1000000.0 + 0.5) AS BIGINT) AS pr
            FROM v5 JOIN p ON v5.state = p.prev GROUP BY p.nxt
        ), v7 AS (
            SELECT p.nxt AS state, CAST(FLOOR(SUM(v6.pr * p.w)
                   / 1000000.0 + 0.5) AS BIGINT) AS pr
            FROM v6 JOIN p ON v6.state = p.prev GROUP BY p.nxt
        ), v8 AS (
            SELECT p.nxt AS state, CAST(FLOOR(SUM(v7.pr * p.w)
                   / 1000000.0 + 0.5) AS BIGINT) AS pr
            FROM v7 JOIN p ON v7.state = p.prev GROUP BY p.nxt
        )
        , tot8 AS (
            SELECT CAST(SUM(pr) AS BIGINT) AS s FROM v8
        )
        -- renormalize by the vector's own integer sum (exact integer
        -- round-half-up division) so the output is a true
        -- distribution despite per-weight floor-half-up mass sag
        SELECT state,
               ROUND(((2 * pr * 1000000 + s) // (2 * s)) / 1e6, 4)
                   AS stationary_p
        FROM v8, tot8 ORDER BY state
    """,
    description="stationary distribution of the first-order event-type "
    "Markov chain (the long-run 'where do user journeys settle' vector "
    "behind session simulation and traffic forecasting), via 8 unrolled "
    "power-iteration steps v <- vP. Scale shape: ONE fact-grain shuffle "
    "(the per-user lag window, bounded per-user history), a partial-"
    "aggregated pair count, and then every iteration runs on the "
    "|event_type|^2 transition matrix — data-size-INDEPENDENT, each "
    "step two broadcast-tiny joins lazily chained into a single job. "
    "Engine stability: weights and the probability vector live in e6 "
    "fixed-point BIGINTs (one correctly-rounded division each step, "
    "all sums exact integers), so both engines walk bit-identical "
    "iterates; convergence error ~8e-6 is inside the ROUND(.,4) "
    "output grid, and the final vector is renormalized by its own "
    "integer sum (exact round-half-up division, r8 per ADVICE r7) so "
    "the reported values form a true distribution. States never "
    "entered (no inbound transitions) drop out identically in both "
    "engines",
    tags=("stats", "events", "graph"),
)
def q164_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    w_user = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t["events"].select(
        F.col("event_type").alias("nxt"),
        F.lag("event_type").over(w_user).alias("prev"),
    )
    pairs = (
        seq.where(F.col("prev").isNotNull())
        .groupBy("prev", "nxt")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    rowtot = pairs.groupBy("prev").agg(
        F.sum("cnt").cast("bigint").alias("tot")
    )
    from amadou_spark.scale import materialize_shared

    # lineage cut at the |event_type|^2 matrix: P is consumed by all
    # 8 iterations (plus the state spine), and without the checkpoint
    # every copy re-executes the fact-grain lag window + pair count
    # (22 events scans in the executed plan; 1 after)
    p = materialize_shared(
        pairs.join(rowtot, "prev").select(
            "prev",
            "nxt",
            F.floor(
                F.col("cnt") / F.col("tot").cast("double") * 1000000.0
                + 0.5
            )
            .cast("bigint")
            .alias("w"),
        )
    )
    # r10: the 8 power iterations run DRIVER-SIDE over the collected
    # matrix. P is |event_types|² rows — a contract-bounded value
    # domain (the q118 local-relation precedent: collect a bounded
    # table, do exact arithmetic in Python, hand Spark back a literal
    # relation). The old lazily-chained broadcast-join loop cost ~2.5 s
    # of pure stage scheduling at sf0.1 for a 25-row matrix; the
    # fact-grain work (lag window, pair counts) stays distributed and
    # P itself remains the checkpointed distributed aggregate. The
    # arithmetic is the SAME exact-integer fixed point: BIGINT
    # pr·w sums, then floor(x/1e6 + 0.5) in double — identical
    # operations, identical results (oracle-hash-pinned).
    import math

    p_rows = [(r["prev"], r["nxt"], r["w"]) for r in p.collect()]
    k = len({prev for prev, _, _ in p_rows})
    pr = {prev: int(math.floor(1000000.0 / k + 0.5)) for prev, _, _ in p_rows}
    for _ in range(8):
        acc: dict[str, int] = {}
        for prev, nxt, w in p_rows:
            if prev in pr:
                acc[nxt] = acc.get(nxt, 0) + pr[prev] * w
        pr = {
            s: int(math.floor(total / 1000000.0 + 0.5))
            for s, total in acc.items()
        }
    # None-safe sort key: a NULL event_type reaches pr as a None state
    # (the old distributed loop's groupBy(nxt) kept NULL as a group and
    # the final orderBy sorted it NULLS FIRST; a bare sorted() would
    # TypeError on the None key). The sort here only stabilizes
    # createDataFrame input — the query's orderBy("state") governs
    # output order either way.
    v = spark.createDataFrame(
        sorted(pr.items(), key=lambda kv: (kv[0] is not None, kv[0] or "")),
        "state string, pr bigint",
    )
    # ADVICE r7: the e6 row weights are floor-half-up of each
    # transition probability, so total mass sags slightly across the 8
    # iterations — renormalize the final vector by its own integer sum
    # (exact integer round-half-up division, then the same /1e6 output
    # grid) so stationary_p is a true distribution
    tot8 = v.agg(F.sum("pr").cast("bigint").alias("s"))
    return (
        v.crossJoin(F.broadcast(tot8))
        .select(
            "state",
            F.round(
                F.expr("(2 * pr * 1000000 + s) div (2 * s)") / 1e6, 4
            ).alias("stationary_p"),
        )
        .orderBy("state")
    )


@query(
    "q165_survival_rmst",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   MIN(CAST(ts AS DATE)) AS t0,
                   MIN(CASE WHEN event_type = 'purchase'
                            THEN CAST(ts AS DATE) END) AS tp,
                   MAX(CAST(ts AS DATE)) AS tlast
            FROM events GROUP BY user_id
        ), durations AS (
            SELECT CASE WHEN tp IS NOT NULL
                        THEN date_diff('day', t0, tp)
                        ELSE date_diff('day', t0, tlast) END AS t,
                   CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS obs
            FROM per_user
        ), grid AS (
            SELECT t, CAST(SUM(obs) AS BIGINT) AS d,
                   CAST(count(*) AS BIGINT) AS c
            FROM durations GROUP BY t
        ), at_risk AS (
            SELECT t, d,
                   CAST((SELECT CAST(count(*) AS BIGINT) FROM durations)
                       - COALESCE(SUM(c) OVER (ORDER BY t
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
            FROM grid
        ), km AS (
            -- q131's engine-stable survival, reduced to the e6
            -- fixed-point integer the area terms need
            SELECT t,
                   CAST(FLOOR(
                     CASE WHEN MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0
                               END) OVER (ORDER BY t ROWS BETWEEN
                               UNBOUNDED PRECEDING AND CURRENT ROW) = 1
                          THEN 0.0
                          ELSE EXP(FLOOR(SUM(CASE WHEN d < n_risk THEN
                               LN(1.0 - d / CAST(n_risk AS DOUBLE)) END)
                               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                                     PRECEDING AND CURRENT ROW)
                               * 1000000000.0 + 0.5) / 1000000000.0)
                     END * 1000000.0 + 0.5) AS BIGINT) AS s_fp
            FROM at_risk WHERE d > 0
        ), horizon AS (
            SELECT CAST(MAX(t) AS BIGINT) AS h FROM durations
        ), steps AS (
            SELECT t, s_fp,
                   COALESCE(LEAD(t) OVER (ORDER BY t),
                            (SELECT h FROM horizon)) - t AS gap
            FROM km
        )
        SELECT (SELECT h FROM horizon) AS horizon_days,
               CAST(count(*) AS BIGINT) AS n_event_times,
               -- area: survival 1.0 from day 0 to the first event
               -- time, then each step's s * gap — exact BIGINT e6
               -- fixed-point terms, one division at output
               ROUND((CAST(MIN(t) AS BIGINT) * 1000000
                      + CAST(SUM(s_fp * gap) AS BIGINT)) / 1e6, 4)
                   AS rmst_days,
               CAST(MIN(CASE WHEN s_fp <= 500000 THEN t END)
                    AS BIGINT) AS median_survival_days
        FROM steps
    """,
    description="restricted mean survival time (area under the q131 "
    "Kaplan-Meier curve up to the observed horizon) and median "
    "survival for time-to-first-purchase — the two scalar summaries a "
    "retention analysis reports beside the curve (RMST is the "
    "recommended effect measure when hazards aren't proportional). "
    "Same scale shape as q131: everything after the per-user collapse "
    "rides the observation-window-bounded duration grid. Engine "
    "stability: survival values reduce to e6 fixed-point BIGINTs "
    "(q131's floor-half-up), area terms are exact integer s*gap "
    "products summed order-free, one division at output; the median "
    "is a threshold scan of the same integers (NULL if the curve "
    "never crosses 0.5, identically in both engines)",
    tags=("stats", "timeseries", "events"),
)
def q165_survival_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    # shared KM machinery (durations checkpointed inside: grid, total
    # and horizon all consume it)
    durations, km_raw = _km_survival_components(t["events"])
    horizon = durations.agg(F.max("t").cast("bigint").alias("h"))
    km = (
        km_raw.withColumn(
            "s_fp",
            F.floor(F.col("s") * 1000000.0 + 0.5).cast("bigint"),
        )
        .filter(F.col("d") > 0)
        .select("t", "s_fp")
    )
    w_t = W.orderBy("t")
    steps = km.crossJoin(F.broadcast(horizon)).select(
        "t",
        "s_fp",
        "h",
        (
            F.coalesce(F.lead("t").over(w_t), F.col("h")) - F.col("t")
        ).alias("gap"),
    )
    # horizon rides a cross-join of the 1-row aggregate, exactly like
    # the oracle's (SELECT h FROM horizon) — re-deriving it as
    # F.max("h") over steps would return NULL when the dataset has
    # zero observed purchases (steps empty) while the oracle still
    # reports MAX(t) from durations (ADVICE r7)
    agg = steps.agg(
        F.count("*").cast("bigint").alias("n_event_times"),
        F.round(
            (
                F.min("t").cast("bigint") * 1000000
                + F.sum(F.col("s_fp") * F.col("gap")).cast("bigint")
            )
            / 1e6,
            4,
        ).alias("rmst_days"),
        F.min(F.when(F.col("s_fp") <= 500000, F.col("t")))
        .cast("bigint")
        .alias("median_survival_days"),
    )
    return agg.crossJoin(F.broadcast(horizon)).select(
        F.col("h").alias("horizon_days"),
        "n_event_times",
        "rmst_days",
        "median_survival_days",
    )


@query(
    "q166_theil_sen",
    oracle="""
        WITH mon AS (
            SELECT (year(o_orderdate) * 12 + month(o_orderdate)) AS m,
                   CAST(FLOOR(SUM(o_totalprice) * 100 + 0.5) AS BIGINT) AS c
            FROM orders GROUP BY 1
        ), pairs AS (
            -- slope in MILLI-CENTS per month: diff*1000 stays exact in
            -- a double (|diff| <= ~1e11 cents at sf1), one correctly-
            -- rounded division, floor-half-up to a BIGINT grid so the
            -- median selection below compares exact integers
            SELECT CAST(FLOOR((b.c - a.c) * 1000.0 / (b.m - a.m) + 0.5)
                        AS BIGINT) AS s
            FROM mon a JOIN mon b ON a.m < b.m
        ), cnt AS (
            SELECT s, CAST(count(*) AS BIGINT) AS cs FROM pairs GROUP BY s
        ), cum AS (
            SELECT s, cs,
                   SUM(cs) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) AS cum,
                   SUM(cs) OVER () AS n
            FROM cnt
        )
        SELECT CAST((SELECT count(*) FROM mon) AS BIGINT) AS n_months,
               CAST(MAX(n) AS BIGINT) AS n_pairs,
               ROUND(MAX(CASE WHEN (n + 1) // 2 > cum - cs
                               AND (n + 1) // 2 <= cum THEN s END)
                     / 100000.0, 4) AS slope_dollars_per_month
        FROM cum
    """,
    description="Theil-Sen robust trend estimator on monthly revenue: "
    "the LOWER MEDIAN of all pairwise slopes between month totals — "
    "the outlier-resistant alternative to OLS for 'is revenue "
    "trending up' (breakdown point 29%). Scale shape: ONE orders scan "
    "collapses to the checkpointed calendar-bounded month grain "
    "(|months| rows, data-size independent); the pairwise slope set "
    "(|months|^2/2) and its median-by-exact-rank both live on that "
    "bounded grid, so the only fact-grain work is the initial "
    "aggregate. Engine stability: month totals are exact integer "
    "CENTS (q133 floor-half-up pin), slopes land on an exact "
    "milli-cent BIGINT grid (diff*1000 <= 2^53 documented bound, one "
    "correctly-rounded double division), and the median is selected "
    "by integer rank off a prefix sum — no interpolation, no "
    "association-order floats",
    tags=("stats", "timeseries"),
)
def q166_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.scale import materialize_shared

    t = register_tables(spark, sf_dir)
    # month grain is consumed three times (both pair legs + the month
    # count); checkpoint so the orders fact aggregate runs ONCE
    mon = materialize_shared(
        t["orders"]
        .groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m")
        )
        .agg(
            F.floor(F.sum("o_totalprice") * 100 + 0.5)
            .cast("bigint")
            .alias("c")
        )
    )
    n_months = mon.agg(F.count("*").cast("bigint").alias("n_months"))
    b = mon.select(F.col("m").alias("m2"), F.col("c").alias("c2"))
    pairs = mon.join(b, F.col("m") < F.col("m2")).select(
        F.floor(
            (F.col("c2") - F.col("c"))
            * 1000.0
            / (F.col("m2") - F.col("m"))
            + 0.5
        )
        .cast("bigint")
        .alias("s")
    )
    cnt = pairs.groupBy("s").agg(F.count("*").cast("bigint").alias("cs"))
    w_cum = W.orderBy("s").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = cnt.select(
        "s",
        "cs",
        F.sum("cs").over(w_cum).alias("cum"),
        F.sum("cs").over(W.partitionBy()).alias("n"),
    )
    target = F.floor((F.col("n") + 1) / 2).cast("bigint")
    med = cum.agg(
        F.max("n").cast("bigint").alias("n_pairs"),
        F.round(
            F.max(
                F.when(
                    (target > F.col("cum") - F.col("cs"))
                    & (target <= F.col("cum")),
                    F.col("s"),
                )
            )
            / 100000.0,
            4,
        ).alias("slope_dollars_per_month"),
    )
    return med.crossJoin(F.broadcast(n_months)).select(
        "n_months", "n_pairs", "slope_dollars_per_month"
    )


@query(
    "q167_dow_effect",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS x
            FROM orders GROUP BY 1
        ), g AS (
            SELECT (dayofweek(day) + 1) AS dow,
                   CAST(count(*) AS BIGINT) AS n_g,
                   CAST(SUM(x) AS BIGINT) AS s_g,
                   CAST(SUM(x * x) AS BIGINT) AS q_g
            FROM daily GROUP BY 1
        ), tot AS (
            SELECT CAST(SUM(n_g) AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS k,
                   CAST(SUM(s_g) AS BIGINT) AS s,
                   CAST(SUM(q_g) AS BIGINT) AS q,
                   -- e6 fixed-point Σ s_g²/n_g and S²/n: exact integer
                   -- round-half-up divisions (all positive), summed as
                   -- BIGINTs — no association-order doubles
                   CAST(SUM((2 * s_g * s_g * 1000000 + n_g) // (2 * n_g))
                        AS BIGINT) AS a_fp
            FROM g
        )
        SELECT n AS n_days, k AS k_groups,
               ROUND(CAST(a_fp - (2 * s * s * 1000000 + n) // (2 * n)
                          AS DOUBLE)
                     / (q * 1000000
                        - (2 * s * s * 1000000 + n) // (2 * n)), 6)
                   AS eta_squared,
               ROUND(CAST(a_fp - (2 * s * s * 1000000 + n) // (2 * n)
                          AS DOUBLE) * (n - k)
                     / (CAST(q * 1000000 - a_fp AS DOUBLE) * (k - 1)), 6)
                   AS f_stat
        FROM tot
    """,
    description="day-of-week seasonality strength of daily order "
    "volume: one-way ANOVA effect size (eta-squared = SSB/SST) and "
    "F statistic with weekday as the factor — the 'is there a weekly "
    "cycle worth modeling' diagnostic that gates seasonal features. "
    "Scale shape: one fact aggregate to the calendar-bounded day "
    "grain, then everything lives on <= 7 group rows. Engine "
    "stability: daily counts are integers so all sums are exact; the "
    "two rational terms (Σ s_g²/n_g, S²/n) are e6 fixed-point via "
    "exact integer round-half-up division (operands positive, so "
    "DuckDB // floor and Spark div truncation agree), leaving ONE "
    "double division per output. Weekday numbering pinned to Spark's "
    "dayofweek (1=Sunday) with dayofweek+1 on the DuckDB side",
    tags=("stats", "timeseries"),
)
def q167_dow_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    daily = (
        t["orders"]
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    g = daily.groupBy(F.dayofweek("day").alias("dow")).agg(
        F.count("*").cast("bigint").alias("n_g"),
        F.sum("x").cast("bigint").alias("s_g"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("q_g"),
    )
    tot = g.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("k"),
        F.sum("s_g").cast("bigint").alias("s"),
        F.sum("q_g").cast("bigint").alias("q"),
        F.sum(F.expr("(2 * s_g * s_g * 1000000 + n_g) div (2 * n_g)"))
        .cast("bigint")
        .alias("a_fp"),
    )
    t_fp = F.expr("(2 * s * s * 1000000 + n) div (2 * n)")
    return tot.select(
        F.col("n").alias("n_days"),
        F.col("k").alias("k_groups"),
        F.round(
            (F.col("a_fp") - t_fp).cast("double")
            / (F.col("q") * 1000000 - t_fp),
            6,
        ).alias("eta_squared"),
        F.round(
            (F.col("a_fp") - t_fp).cast("double")
            * (F.col("n") - F.col("k"))
            / (
                (F.col("q") * 1000000 - F.col("a_fp")).cast("double")
                * (F.col("k") - 1)
            ),
            6,
        ).alias("f_stat"),
    )


@query(
    "q168_range_join_bucketed",
    oracle="""
        WITH e AS (
            SELECT event_id, event_type, epoch_us(ts) AS t
            FROM events WHERE ts IS NOT NULL
        )
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(SUM(b.t - a.t) AS BIGINT) AS sum_gap_us
        FROM e a JOIN e b
          -- two BARE range predicates so DuckDB plans an IEJoin (the
          -- single-sided "b.t - a.t <= w AND (OR...)" form degraded to
          -- a nested-loop join: intractable at the 1M-row sf1 slice);
          -- the tie-break is a residual WHERE, not a join condition
          ON b.t >= a.t AND b.t <= a.t + 60000000
        WHERE (b.t > a.t OR (b.t = a.t AND b.event_id > a.event_id))
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    description="symmetric range SELF-join with NO equi-key: every "
    "ordered pair of events, across ALL users, at most 60 s apart "
    "(coincidence/correlation detection), rolled up per (type_a, "
    "type_b). Completes the range-join family: q31 is as-of (nearest "
    "one match), q67/operators/rangejoin.py is point-in-interval "
    "(asymmetric: one side carries intervals), b09 is the keyed "
    "stream-stream window join — this is the keyless BOTH-SIDES-FACT "
    "proximity join, where naive execution is a cartesian product of "
    "the fact with itself. Same bucketization scheme as rangejoin.py: "
    "each event hashes to its 60 s epoch bucket, the earlier leg fans "
    "out to {bkt, bkt+1} (fixed 2x replication — the window equals "
    "the bucket width, vs sequence-explode for variable intervals), "
    "the join key is the bucket, and the exact range+order predicate "
    "refines after the match. A qualifying pair's later event lives "
    "in exactly one of the earlier event's two buckets, so no dedup "
    "pass is needed. "
    "Per-key width = events per minute — a rate-bounded, "
    "data-size-independent bound (burst minutes are AQE skew-join "
    "territory, same posture as the wedge joins). The naive plan is a "
    "cartesian product; the oracle's IEJoin and this bucketed plan "
    "agree exactly. Engine stability: all arithmetic on exact "
    "BIGINT epoch microseconds",
    tags=("join", "timeseries"),
)
def q168_range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    width_us = 60_000_000
    e = (
        t["events"]
        .filter(F.col("ts").isNotNull())
        .select("event_id", "event_type", F.unix_micros("ts").alias("t"))
    )
    bkt = F.floor(F.col("t") / F.lit(width_us))
    # hash-repartition the probe leg by the bucket key: pair GENERATION
    # is the quadratic-in-rate hot loop, and partitioning it by bkt
    # balances that work across the cluster regardless of input file
    # layout (one linear shuffle of the fact buys it — measured 2.2x
    # faster than scan-layout parallelism even locally at the sf1
    # slice). The build leg stays unshuffled: AQE broadcasts it while
    # small and co-shuffles on the same key when it isn't.
    later = e.select(
        F.col("event_id").alias("id_b"),
        F.col("event_type").alias("type_b"),
        F.col("t").alias("t_b"),
        bkt.alias("bkt"),
    ).repartition(F.col("bkt"))
    earlier = e.select(
        F.col("event_id").alias("id_a"),
        F.col("event_type").alias("type_a"),
        F.col("t").alias("t_a"),
        F.explode(F.array(bkt, bkt + 1)).alias("bkt"),
    )
    pairs = earlier.join(later, "bkt").filter(
        (F.col("t_b") - F.col("t_a") <= width_us)
        & (
            (F.col("t_b") > F.col("t_a"))
            | (
                (F.col("t_b") == F.col("t_a"))
                & (F.col("id_b") > F.col("id_a"))
            )
        )
    )
    return (
        pairs.groupBy("type_a", "type_b")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum(F.col("t_b") - F.col("t_a")).cast("bigint").alias("sum_gap_us"),
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "q169_bitmap_distinct_rollup",
    oracle="""
        WITH wk AS (
            SELECT event_type,
                   CAST(weekofyear(CAST(ts AS DATE)) AS BIGINT) AS week,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
            FROM events GROUP BY 1, 2
        ), daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   COUNT(DISTINCT user_id) AS nd
            FROM events GROUP BY 1, 2
        ), sd AS (
            SELECT event_type,
                   CAST(weekofyear(day) AS BIGINT) AS week,
                   CAST(SUM(nd) AS BIGINT) AS sum_daily_distinct
            FROM daily GROUP BY 1, 2
        )
        SELECT wk.event_type, wk.week, sd.sum_daily_distinct,
               wk.distinct_users
        FROM wk JOIN sd ON wk.event_type = sd.event_type
                       AND wk.week = sd.week
        ORDER BY 1, 2
    """,
    description="EXACT re-aggregatable distinct counts via RoaringBitmap"
    "-style bitmap aggregates (Spark 3.5+ bitmap_construct_agg / "
    "bitmap_or_agg / bitmap_count) — the hypertable-rollup pattern: "
    "distinct users materialize ONCE at the (event_type, day, "
    "id-bucket) grain as bitmaps, and every coarser grain (here "
    "weekly) derives by OR-merging the daily bitmaps WITHOUT "
    "rescanning the fact table — the exact alternative to "
    "approx_count_distinct when dedup metrics must reconcile. Scale "
    "shape: one fact-grain shuffle builds the daily bitmap table "
    "(rows = types x days x ceil(|users|/32768) buckets — the 32768-"
    "bit bucket keeps any single bitmap cell small and the merge "
    "shuffle-friendly); the weekly rollup and both counts live "
    "entirely on that bounded table. sum_daily_distinct (additive) "
    "and distinct_users (OR-merged) from the SAME bitmaps "
    "demonstrates re-aggregation: the former double-counts returning "
    "users, the latter does not. Engine stability: bitmap counts are "
    "exact integers",
    tags=("agg", "distinct"),
)
def q169_bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    daily = (
        t["events"]
        .select(
            "event_type", F.col("ts").cast("date").alias("day"), "user_id"
        )
        .groupBy(
            "event_type",
            "day",
            F.expr("bitmap_bucket_number(user_id)").alias("bkt"),
        )
        .agg(
            F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias(
                "bm"
            )
        )
    )
    weekly = (
        daily.groupBy(
            "event_type", F.weekofyear("day").alias("wk"), "bkt"
        )
        .agg(
            F.expr("bitmap_or_agg(bm)").alias("wbm"),
            F.expr("sum(bitmap_count(bm))").alias("sd"),
        )
        .groupBy("event_type", F.col("wk").cast("bigint").alias("week"))
        .agg(
            F.sum("sd").cast("bigint").alias("sum_daily_distinct"),
            F.expr("sum(bitmap_count(wbm))").cast("bigint").alias(
                "distinct_users"
            ),
        )
    )
    return weekly.select(
        "event_type", "week", "sum_daily_distinct", "distinct_users"
    ).orderBy("event_type", "week")


@query(
    "q170_histogram_quantile_rollup",
    oracle="""
        WITH ev AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(floor(value / 8.0) AS BIGINT) AS bkt
            FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
        ), hist AS (
            SELECT event_type, day, bkt, CAST(count(*) AS BIGINT) AS cnt
            FROM ev GROUP BY 1, 2, 3
        ), d AS (
            SELECT event_type, day, bkt, cnt,
                   SUM(cnt) OVER (PARTITION BY event_type, day
                                  ORDER BY bkt) AS cum,
                   SUM(cnt) OVER (PARTITION BY event_type, day) AS total
            FROM hist
        ), daily AS (
            SELECT 'daily' AS grain, event_type,
                   strftime(day, '%Y-%m-%d') AS period,
                   CAST(MAX(total) AS BIGINT) AS n,
                   CAST(MIN(CASE WHEN cum >= (total + 1) // 2
                                 THEN bkt END) * 8 AS BIGINT) AS p50_lo,
                   CAST(MIN(CASE WHEN cum >= (95 * total + 99) // 100
                                 THEN bkt END) * 8 AS BIGINT) AS p95_lo
            FROM d GROUP BY 1, 2, 3
        ), whist AS (
            SELECT event_type, CAST(weekofyear(day) AS BIGINT) AS wk,
                   bkt, CAST(SUM(cnt) AS BIGINT) AS cnt
            FROM hist GROUP BY 1, 2, 3
        ), w AS (
            SELECT event_type, wk, bkt, cnt,
                   SUM(cnt) OVER (PARTITION BY event_type, wk
                                  ORDER BY bkt) AS cum,
                   SUM(cnt) OVER (PARTITION BY event_type, wk) AS total
            FROM whist
        ), weekly AS (
            SELECT 'weekly' AS grain, event_type,
                   CAST(wk AS VARCHAR) AS period,
                   CAST(MAX(total) AS BIGINT) AS n,
                   CAST(MIN(CASE WHEN cum >= (total + 1) // 2
                                 THEN bkt END) * 8 AS BIGINT) AS p50_lo,
                   CAST(MIN(CASE WHEN cum >= (95 * total + 99) // 100
                                 THEN bkt END) * 8 AS BIGINT) AS p95_lo
            FROM w GROUP BY 1, 2, 3
        )
        SELECT * FROM daily
        UNION ALL
        SELECT * FROM weekly
        ORDER BY grain, event_type, period
    """,
    description="mergeable histogram quantile rollup — the "
    "approximate-quantile sibling of q169's exact bitmap rollup, "
    "completing the hypertable re-aggregation pair: the fact is "
    "scanned ONCE into an equi-width histogram at the (event_type, "
    "day, value-bucket) grain, and BOTH the daily p50/p95 estimates "
    "AND the weekly rollup (bucket counts are additive, so coarser "
    "grains merge by summation) derive from that bounded table "
    "without rescanning events — exactly how continuous-aggregate "
    "quantiles reconcile across time grains at 100 TB. Determinism "
    "armor: the bucket width 8.0 is a power of two (value/8.0 is "
    "exact in IEEE binary, floor is engine-independent) and the "
    "quantile targets use pure-BIGINT ceiling division "
    "((total+1) DIV 2, (95*total+99) DIV 100) rather than float "
    "rank arithmetic, so the reported bucket lower edges are "
    "hash-exact across engines; estimate error is bounded by one "
    "bucket width by construction. Scale shape: one fact-grain "
    "shuffle builds the histogram (rows = types x days x <=|domain/8| "
    "buckets, all downstream windows ride partitions bounded by the "
    "bucket count); the histogram is checkpointed once "
    "(materialize_shared) so the daily and weekly consumers share "
    "the materialized blocks instead of re-aggregating the fact",
    tags=("agg", "sketch", "timeseries"),
)
def q170_histogram_quantile_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from amadou_spark.scale import materialize_shared

    t = register_tables(spark, sf_dir)
    ev = (
        t["events"]
        .filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.floor(F.col("value") / 8.0).cast("bigint").alias("bkt"),
        )
    )
    hist = materialize_shared(
        ev.groupBy("event_type", "day", "bkt").agg(
            F.count("*").cast("bigint").alias("cnt")
        )
    )

    def quantiles(h: DataFrame, keys: list[str]) -> DataFrame:
        wcum = (
            W.partitionBy(*keys)
            .orderBy("bkt")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        wtot = W.partitionBy(*keys)
        d = h.withColumn("cum", F.sum("cnt").over(wcum)).withColumn(
            "total", F.sum("cnt").over(wtot)
        )
        t50 = F.expr("(total + 1) DIV 2")
        t95 = F.expr("(95 * total + 99) DIV 100")
        return d.groupBy(*keys).agg(
            F.max("total").cast("bigint").alias("n"),
            (F.min(F.when(F.col("cum") >= t50, F.col("bkt"))) * 8)
            .cast("bigint")
            .alias("p50_lo"),
            (F.min(F.when(F.col("cum") >= t95, F.col("bkt"))) * 8)
            .cast("bigint")
            .alias("p95_lo"),
        )

    daily = quantiles(hist, ["event_type", "day"]).select(
        F.lit("daily").alias("grain"),
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("period"),
        "n",
        "p50_lo",
        "p95_lo",
    )
    whist = hist.groupBy(
        "event_type",
        F.weekofyear("day").cast("bigint").alias("wk"),
        "bkt",
    ).agg(F.sum("cnt").cast("bigint").alias("cnt"))
    weekly = quantiles(whist, ["event_type", "wk"]).select(
        F.lit("weekly").alias("grain"),
        "event_type",
        F.col("wk").cast("string").alias("period"),
        "n",
        "p50_lo",
        "p95_lo",
    )
    return daily.unionByName(weekly).orderBy(
        "grain", "event_type", "period"
    )
