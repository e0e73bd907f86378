"""Frontier SQL surfaces: recursive CTEs, XML round-trips, Python
UDTFs, and correlated LATERAL subqueries.

These complete the query-language surface beyond the reference's own
corpus (the reference's Scala jobs compose plain DataFrame ops —
``core/src/main/scala`` has no recursive/lateral SQL), but a user
migrating arbitrary analytics onto this engine hits each of them:

- recursive CTE (Spark 4.1 ``WITH RECURSIVE``) — bounded iteration
  expressed declaratively; the canonical use is a date spine that
  gap-fills sparse aggregates (months with zero orders still appear).
- XML ingest/egress (`to_xml`/`from_xml`, built-in since Spark 4.0) —
  schema-on-read over an XML payload column, same contract as the
  JSON/Variant queries in tier_b.
- Python UDTF — the table-function surface: one input row fans out to
  N output rows with Python logic. Slow path by contract (per-row
  Python, like b04_python_udf); anything hot should be an explode +
  JVM aggregate instead (b01_explode_tokens shows that plan).
- LATERAL correlated subquery with LIMIT — per-group top-k written the
  way an analyst writes it; Catalyst rewrites it to a
  DomainJoin/window plan rather than re-scanning per outer row.

Scale notes: the recursive CTE's recursion is a 12-row spine — the
heavy side (orders) is a single scan + partial agg; the spine join
broadcasts. The UDTF query bounds its input (doc_id < 100) because
the op exists to pin the surface, not to be a hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from amadou_spark.catalog import register_tables
from amadou_spark.queries import query

_MONTH_SPINE_SQL = """
    WITH RECURSIVE spine(i) AS (
        SELECT 0
        UNION ALL
        SELECT i + 1 FROM spine WHERE i < 11
    ),
    months AS (
        SELECT make_date(1995, i + 1, 1) AS month FROM spine
    ),
    mo AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               count(*) AS n_orders,
               ROUND(sum(o_totalprice), 2) AS total_price
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate <  TIMESTAMP '1996-01-01'
        GROUP BY 1
    )
    SELECT months.month,
           COALESCE(mo.n_orders, 0) AS n_orders,
           COALESCE(mo.total_price, 0.0) AS total_price
    FROM months LEFT JOIN mo ON months.month = mo.month
    ORDER BY months.month
"""


@query(
    "q63_recursive_cte",
    oracle=_MONTH_SPINE_SQL,
    description="WITH RECURSIVE month spine gap-filling monthly order "
    "aggregates (months with no orders appear with zeros)",
    tags=("sql", "recursive"),
)
def q63_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE date spine (Spark 4.1 `WITH RECURSIVE`).

    The recursion generates a fixed 12-row integer spine; the orders
    side is one scan + hash aggregate. At 100 TB the spine is
    broadcast to the (already partial-aggregated, ≤12-row-per-task)
    fact side — recursion depth never scales with data.
    """
    register_tables(spark, sf_dir)
    return spark.sql(_MONTH_SPINE_SQL)


@query(
    "q64_xml_roundtrip",
    oracle="""
        SELECT n_nationkey, n_name, n_regionkey
        FROM nation
        ORDER BY n_nationkey
    """,
    description="to_xml -> from_xml round-trip over nation: serialize "
    "each row to an XML payload, parse it back schema-on-read, and "
    "project the parsed fields (hash-checked against the direct scan)",
    tags=("xml", "spark4"),
)
def q64_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML payload-column ingest via Spark 4 built-in `from_xml`.

    Mirrors the b03 JSON / Variant contract: an opaque string column
    carrying XML is parsed with an explicit schema; Catalyst prunes
    unreferenced parsed fields. Serialize-then-parse makes the query
    self-contained on TPC-H tables while the oracle checks the parsed
    values equal the source row exactly.
    """
    from pyspark.sql import functions as F

    t = register_tables(spark, sf_dir)
    xml = t["nation"].select(
        F.to_xml(F.struct("n_nationkey", "n_name", "n_regionkey")).alias("payload")
    )
    parsed = xml.select(
        F.from_xml(
            "payload", "n_nationkey INT, n_name STRING, n_regionkey INT"
        ).alias("row")
    )
    return parsed.select("row.*").orderBy("n_nationkey")


_UDTF_ORACLE = """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE doc_id < 100
    ), cnt AS (
        SELECT doc_id, tok, count(*) AS n FROM toks GROUP BY doc_id, tok
    ), rk AS (
        SELECT doc_id, tok, n,
               row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, tok) AS rank
        FROM cnt
    )
    SELECT doc_id, tok, n, rank FROM rk WHERE rank <= 3
    ORDER BY doc_id, rank
"""


@query(
    "q65_python_udtf",
    oracle=_UDTF_ORACLE,
    description="Python UDTF (table function): top-3 tokens per document "
    "via a LATERAL-joined generator, checked against a window-rank oracle",
    tags=("udtf", "python", "spark4"),
)
def q65_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface: one row in, top-3 token rows out.

    This pins the UDTF *contract* (LATERAL join, multi-row yield,
    typed output schema). It is per-row Python by design — the
    JVM-side plan for the same semantics is b01_explode_tokens +
    row_number; use that shape in hot paths.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, tok string, n bigint, rank bigint")
    class TopWords:
        def eval(self, doc_id, text):  # noqa: ANN001 - UDTF protocol
            from collections import Counter

            counts = Counter((text or "").split(" "))
            top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
            for rank, (tok, n) in enumerate(top, 1):
                yield doc_id, tok, n, rank

    register_tables(spark, sf_dir)
    spark.udtf.register("top_words", TopWords)
    return spark.sql(
        """
        SELECT f.doc_id, f.tok, f.n, f.rank
        FROM (SELECT doc_id, text FROM documents WHERE doc_id < 100) d,
             LATERAL top_words(d.doc_id, d.text) f
        ORDER BY f.doc_id, f.rank
        """
    )


@query(
    "q67_interval_join",
    oracle="""
        WITH iv AS (
            SELECT event_id AS incident_id,
                   ts AS start_ts,
                   ts + INTERVAL 30 MINUTE AS end_ts
            FROM events
            WHERE event_type = 'error' AND value > 200
        )
        SELECT iv.incident_id,
               count(*) AS n_events,
               count(DISTINCT e.user_id) AS n_users
        FROM iv JOIN events e
          ON e.ts >= iv.start_ts AND e.ts < iv.end_ts
        GROUP BY 1 ORDER BY 1
    """,
    description="point-in-interval range join: events falling inside "
    "30-minute incident windows opened by high-value error events, "
    "executed as a bucketed equi-join (operators/rangejoin.py), never "
    "a nested-loop theta join",
    tags=("rangejoin", "events"),
)
def q67_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join via time bucketing (see operators/rangejoin.py).

    The theta formulation would be BroadcastNestedLoop; the bucketed
    plan is a hash equi-join on a 30-min bucket id with the exact
    bound as residual — linear, shuffle-partitioned, AQE-skew-safe.
    """
    from pyspark.sql import functions as F

    from amadou_spark.operators.rangejoin import interval_join

    t = register_tables(spark, sf_dir)
    events = t["events"]
    incidents = (
        events.where((F.col("event_type") == "error") & (F.col("value") > 200))
        .select(
            F.col("event_id").alias("incident_id"),
            F.col("ts").alias("start_ts"),
            (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end_ts"),
        )
    )
    points = events.select("ts", F.col("user_id").alias("uid"))
    joined = interval_join(
        points,
        incidents,
        ts_col="ts",
        start_col="start_ts",
        end_col="end_ts",
        bucket_seconds=1800,
    )
    return (
        joined.groupBy("incident_id")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("uid").alias("n_users"),
        )
        .orderBy("incident_id")
    )


_LATERAL_SQL = """
    SELECT n.n_name, c.c_custkey, ROUND(c.c_acctbal, 2) AS acctbal
    FROM nation n,
         LATERAL (
             SELECT c_custkey, c_acctbal
             FROM customer
             WHERE c_nationkey = n.n_nationkey
             ORDER BY c_acctbal DESC, c_custkey
             LIMIT 2
         ) c
    ORDER BY n.n_name, acctbal DESC, c.c_custkey
"""


@query(
    "q66_lateral_topk",
    oracle=_LATERAL_SQL,
    description="correlated LATERAL subquery with LIMIT: top-2 customers "
    "by account balance per nation",
    tags=("sql", "lateral"),
)
def q66_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via LATERAL (Spark lateral-join support).

    Catalyst decorrelates the LIMITed subquery into a ranked window
    over a single customer scan — not a re-scan per nation — so the
    plan is one shuffle on c_nationkey regardless of nation count.
    """
    register_tables(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


@query(
    "q68_event_transitions",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type
            FROM events
        )
        SELECT prev_type, event_type AS next_type, count(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
    description="per-user event-transition matrix (Markov bigrams): lag "
    "window over (user_id, ts) then global pair counts",
    tags=("events", "window"),
)
def q68_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-sequence model input: P(next | prev) counts.

    One shuffle on user_id for the lag window (per-user history is
    bounded), then a partial-aggregated pair count — at 100 TB the
    second agg carries at most |event_type|² rows per task.
    """
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    t = register_tables(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t["events"].select(
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    return (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
        .orderBy("prev_type", "next_type")
    )


@query(
    "llm_embedding_quantize",
    oracle="""
        WITH vals AS (
            SELECT vec_id,
                   generate_subscripts(embedding, 1) AS dim,
                   CAST(unnest(embedding) AS DOUBLE) AS val
            FROM embeddings
        ), stats AS (
            SELECT dim, CAST(min(val) AS DOUBLE) AS mn,
                        CAST(max(val) AS DOUBLE) AS mx
            FROM vals GROUP BY 1
        ), coded AS (
            SELECT v.dim, v.val, s.mn, s.mx,
                   round((v.val - s.mn) * 255 / (s.mx - s.mn)) AS code
            FROM vals v JOIN stats s ON v.dim = s.dim
        )
        SELECT dim,
               ROUND(mn, 4) AS dim_min,
               ROUND(mx, 4) AS dim_max,
               ROUND(avg(pow(val - (mn + code * (mx - mn) / 255), 2)) * 1e6, 4)
                   AS mse_ppm
        FROM coded GROUP BY dim, mn, mx ORDER BY dim
    """,
    description="int8 scalar quantization of the embedding corpus: "
    "per-dimension min/max quantizer (the asymmetric-uint8 scheme "
    "vector stores use) and its per-dimension reconstruction MSE",
    tags=("llm", "embeddings", "quantization"),
)
def llm_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding compression step for ANN at scale: 4× smaller vectors
    (float32 → uint8) before the IVF/LSH index.

    Plan: posexplode → per-dim min/max (64-row aggregate, broadcast
    back) → quantize + error in one JVM-side pass. Two corpus scans,
    zero shuffles of the vectors themselves; the only shuffled rows
    are (dim, partial-agg) pairs — 64 per task.
    """
    from pyspark.sql import functions as F

    t = register_tables(spark, sf_dir)
    vals = t["embeddings"].select(
        "vec_id",
        (F.posexplode(F.col("embedding"))).alias("dim0", "valf"),
    ).select(
        "vec_id",
        (F.col("dim0") + 1).alias("dim"),
        F.col("valf").cast("double").alias("val"),
    )
    stats = vals.groupBy("dim").agg(
        F.min("val").alias("mn"), F.max("val").alias("mx")
    )
    coded = vals.join(F.broadcast(stats), "dim").withColumn(
        "code", F.round((F.col("val") - F.col("mn")) * 255 / (F.col("mx") - F.col("mn")))
    )
    err = F.col("val") - (F.col("mn") + F.col("code") * (F.col("mx") - F.col("mn")) / 255)
    return (
        coded.groupBy("dim", "mn", "mx")
        .agg(F.round(F.avg(F.pow(err, 2)) * 1e6, 4).alias("mse_ppm"))
        .select(
            "dim",
            F.round("mn", 4).alias("dim_min"),
            F.round("mx", 4).alias("dim_max"),
            "mse_ppm",
        )
        .orderBy("dim")
    )


@query(
    "q71_winsorized_mean",
    oracle="""
        WITH b AS (
            SELECT l_returnflag,
                   quantile_cont(l_extendedprice, 0.05) AS p05,
                   quantile_cont(l_extendedprice, 0.95) AS p95
            FROM lineitem GROUP BY 1
        )
        SELECT l.l_returnflag,
               count(*) AS n,
               ROUND(avg(least(greatest(l.l_extendedprice, b.p05), b.p95)), 2)
                   AS winsorized_avg,
               ROUND(avg(l.l_extendedprice), 2) AS raw_avg
        FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag
        GROUP BY 1 ORDER BY 1
    """,
    description="robust statistics: per-group 5/95-percentile "
    "winsorized mean vs raw mean (outlier-resistant aggregation)",
    tags=("stats", "robust"),
)
def q71_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean: clamp to per-group [p05, p95] then average.

    The percentile table is |groups| rows → broadcast back; the fact
    table is scanned twice but shuffled only as partial aggregates.
    (`percentile` here is exact; at 100 TB swap in approx_percentile
    and accept the sketch error — the plan shape is identical.)
    """
    from pyspark.sql import functions as F

    t = register_tables(spark, sf_dir)
    li = t["lineitem"]
    b = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.05)").alias("p05"),
        F.expr("percentile(l_extendedprice, 0.95)").alias("p95"),
    )
    clamped = F.least(
        F.greatest(F.col("l_extendedprice"), F.col("p05")), F.col("p95")
    )
    return (
        li.join(F.broadcast(b), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg(clamped), 2).alias("winsorized_avg"),
            F.round(F.avg("l_extendedprice"), 2).alias("raw_avg"),
        )
        .orderBy("l_returnflag")
    )


def _pagerank_oracle(n_iter: int = 3, damping: float = 0.85) -> str:
    """Unrolled fixed-iteration PageRank as portable SQL: one CTE per
    iteration (recursive CTEs can't re-aggregate per step)."""
    its = []
    prev = "r0"
    for i in range(1, n_iter + 1):
        its.append(f"""it{i} AS (
            SELECT nodes.node,
                   (1 - {damping}) / nn.n + {damping} * COALESCE(c.s, 0) AS rank
            FROM nodes CROSS JOIN nn
            LEFT JOIN (
                SELECT e.dst AS node, sum(r.rank / e.outdeg) AS s
                FROM withdeg e JOIN {prev} r ON e.src = r.node
                GROUP BY 1
            ) c ON c.node = nodes.node
        )""")
        prev = f"it{i}"
    return f"""
        WITH e0 AS (
            SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
                            'p' || CAST(l_partkey AS VARCHAR) AS dst
            FROM lineitem
        ), edges AS (
            SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
        ), deg AS (
            SELECT src, count(*) AS outdeg FROM edges GROUP BY 1
        ), withdeg AS (
            SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d ON e.src = d.src
        ), nodes AS (
            SELECT DISTINCT src AS node FROM edges
        ), nn AS (SELECT count(*) AS n FROM nodes),
        r0 AS (
            SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn
        ), {', '.join(its)}
        SELECT node, ROUND(rank * 1000, 6) AS rank_permille
        FROM {prev} ORDER BY node
    """


@query(
    "q70_pagerank",
    oracle=_pagerank_oracle(),
    description="fixed-iteration PageRank (3 rounds, d=0.85) over the "
    "symmetrized supplier-part co-occurrence graph from lineitem — "
    "iterative DataFrame joins in Spark, unrolled CTEs in the oracle",
    tags=("graph", "iterative"),
)
def q70_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph centrality beyond connected components (operators/graph.py).

    Each round is one shuffle join of the persisted degree-annotated
    edge list against current ranks + a partial-aggregated sum — the
    same per-round cost shape as the CC fixpoint, O(n_iter) rounds.
    """
    from pyspark.sql import functions as F

    from amadou_spark.operators.graph import pagerank

    t = register_tables(spark, sf_dir)
    # distinct on the raw int pair (8-byte shuffle keys), then keep LONG
    # vertex ids through the whole loop (suppkey→2k, partkey→2k+1 —
    # disjoint namespaces): every per-round join/persist hashes and
    # serializes 8-byte longs instead of "s123"-style strings (~2-3×
    # cheaper on the 2|E|-row persisted edge list). The human-readable
    # string ids are rebuilt only on the final |V|-row output.
    # Symmetrize with a map-side explode instead of a union whose two
    # branches re-project the same distinct subtree.
    base = t["lineitem"].select("l_suppkey", "l_partkey").distinct()
    s = F.col("l_suppkey") * 2
    p = F.col("l_partkey") * 2 + 1
    edges = base.select(
        F.explode(
            F.array(
                F.struct(s.alias("src"), p.alias("dst")),
                F.struct(p.alias("src"), s.alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    pr = pagerank(edges, n_iter=3, damping=0.85)
    node_str = F.when(
        F.col("node") % 2 == 0,
        F.concat(F.lit("s"), (F.col("node") / 2).cast("long").cast("string")),
    ).otherwise(
        F.concat(F.lit("p"), ((F.col("node") - 1) / 2).cast("long").cast("string"))
    )
    return pr.select(
        node_str.alias("node"),
        F.round(F.col("rank") * 1000, 6).alias("rank_permille"),
    ).orderBy("node")



def _co_order_edges(t) -> DataFrame:
    """Sampled part co-order graph shared by q96-q99: distinct part
    pairs appearing in the same order, on a deterministic 20% order
    sample (l_orderkey % 5 = 0 — keeps every sampled order's full item
    set so co-order structure stays intact while wedge volume drops
    ~25x). Must stay in lockstep with the `pl`/`e` CTEs of the four
    unrolled oracles."""
    from pyspark.sql import functions as F

    pairs = (
        t["lineitem"]
        .filter(F.col("l_orderkey") % 5 == 0)
        .select("l_orderkey", "l_partkey")
    )
    a, b = pairs.alias("a"), pairs.alias("b")
    return a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))


@query(
    "q96_triangle_count",
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
        o AS (
            SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
                        THEN e.u ELSE e.v END AS src,
                   CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
                        THEN e.v ELSE e.u END AS dst,
                   CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
                        THEN dv.d ELSE du.d END AS dst_d
            FROM e
            JOIN deg du ON e.u = du.node
            JOIN deg dv ON e.v = dv.node
        ),
        w AS (
            SELECT e1.dst AS b, e2.dst AS c
            FROM o e1 JOIN o e2
              ON e1.src = e2.src
             AND ((e1.dst_d < e2.dst_d)
                  OR (e1.dst_d = e2.dst_d AND e1.dst < e2.dst))
        ),
        t AS (
            SELECT CAST(count(*) AS BIGINT) AS n_triangles
            FROM w JOIN o ON w.b = o.src AND w.c = o.dst
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
               (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
               t.n_triangles,
               -- zero guard mirrors the Spark side's n_wedges>0 CASE:
               -- a wedge-free graph must yield NULL in BOTH engines
               -- (DuckDB 0/0.0 is NaN, a latent divergence otherwise)
               CASE WHEN (SELECT SUM(d * (d - 1) / 2.0) FROM deg) > 0
                    THEN ROUND(3.0 * t.n_triangles /
                               (SELECT SUM(d * (d - 1) / 2.0) FROM deg),
                               6)
               END AS clustering
        FROM t
    """,
    description="exact triangle count + global clustering over the "
    "part co-order graph (parts appearing in the same order), via "
    "degree-oriented node-iterator (Suri & Vassilvitskii WWW'11): "
    "orientation caps every out-degree at O(sqrt(m)) so the wedge "
    "self-join is O(m^1.5) total with no hub-key hotspot — the "
    "power-law-safe distributed algorithm",
    tags=("graph",),
)
def q96_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.operators.graph import triangle_stats

    t = register_tables(spark, sf_dir)
    # The full sf0.1 graph is dense (avg degree ~120, ~150M wedges) and
    # belongs on a cluster, not in the bench suite — hence the sample.
    return triangle_stats(_co_order_edges(t))


@query(
    "q156_local_clustering",
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
        o AS (
            SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
                        THEN e.u ELSE e.v END AS src,
                   CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
                        THEN e.v ELSE e.u END AS dst,
                   CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
                        THEN dv.d ELSE du.d END AS dst_d
            FROM e
            JOIN deg du ON e.u = du.node
            JOIN deg dv ON e.v = dv.node
        ),
        w AS (
            SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
            FROM o e1 JOIN o e2
              ON e1.src = e2.src
             AND ((e1.dst_d < e2.dst_d)
                  OR (e1.dst_d = e2.dst_d AND e1.dst < e2.dst))
        ),
        tri0 AS (
            SELECT w.a, w.b, w.c
            FROM w JOIN o ON w.b = o.src AND w.c = o.dst
        ),
        tri AS (
            SELECT node, CAST(count(*) AS BIGINT) AS n_tri
            FROM (SELECT a AS node FROM tri0
                  UNION ALL SELECT b FROM tri0
                  UNION ALL SELECT c FROM tri0)
            GROUP BY node
        ),
        pernode AS (
            SELECT deg.node, deg.d, COALESCE(tri.n_tri, 0) AS n_tri,
                   2.0 * COALESCE(tri.n_tri, 0) / (deg.d * (deg.d - 1))
                       AS lcc
            FROM deg LEFT JOIN tri USING (node)
            WHERE deg.d >= 2
        )
        SELECT CASE WHEN d < 4 THEN '02-03'
                    WHEN d < 8 THEN '04-07'
                    WHEN d < 16 THEN '08-15'
                    WHEN d < 32 THEN '16-31'
                    WHEN d < 64 THEN '32-63'
                    WHEN d < 128 THEN '64-127'
                    ELSE '128+' END AS degree_band,
               CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(SUM(n_tri) AS BIGINT) AS sum_tri,
               FLOOR(AVG(lcc) * 1000000.0 + 0.5) / 1000000.0 AS avg_lcc
        FROM pernode
        GROUP BY 1 ORDER BY 1
    """,
    description="local clustering coefficient distribution over the "
    "sampled part co-order graph: per-node triangle counts from the "
    "same degree-oriented enumeration as q96 (each found triangle "
    "exploded to its 3 corners — still O(m^1.5) wedges total, no "
    "hub hotspot), lcc(v) = 2*T(v)/(d(d-1)), aggregated into "
    "power-of-two degree bands — the ego-density profile that "
    "separates clustered neighborhoods from hub-and-spoke structure "
    "at a glance. Per-node lcc is one correctly-rounded division of "
    "exact integers (bit-identical across engines); only the "
    "band-level AVG needs floor-half-up armor for sum order",
    tags=("graph",),
)
def q156_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from amadou_spark.operators.graph import local_clustering

    t = register_tables(spark, sf_dir)
    per_node = local_clustering(_co_order_edges(t))
    band = (
        F.when(F.col("d") < 4, "02-03")
        .when(F.col("d") < 8, "04-07")
        .when(F.col("d") < 16, "08-15")
        .when(F.col("d") < 32, "16-31")
        .when(F.col("d") < 64, "32-63")
        .when(F.col("d") < 128, "64-127")
        .otherwise("128+")
    )
    return (
        per_node.groupBy(band.alias("degree_band"))
        .agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.sum("n_tri").cast("bigint").alias("sum_tri"),
            (F.floor(F.avg("lcc") * 1000000.0 + 0.5) / 1000000.0).alias(
                "avg_lcc"
            ),
        )
        .orderBy("degree_band")
    )


@query(
    "q97_bfs_levels",
    oracle="""
        WITH RECURSIVE pl AS (
            SELECT l_orderkey, l_partkey FROM lineitem
            WHERE l_orderkey % 5 = 0
        ),
        e0 AS (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM pl a JOIN pl b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
        ),
        sym AS (
            SELECT CAST(u AS BIGINT) AS src, CAST(v AS BIGINT) AS dst
            FROM e0
            UNION ALL
            SELECT CAST(v AS BIGINT), CAST(u AS BIGINT) FROM e0
        ),
        bfs(node, lvl) AS (
            SELECT (SELECT MIN(src) FROM sym), 0
            UNION
            SELECT sym.dst, bfs.lvl + 1
            FROM bfs JOIN sym ON bfs.node = sym.src
            WHERE bfs.lvl < 4
        )
        SELECT node, CAST(MIN(lvl) AS INT) AS level
        FROM bfs GROUP BY node ORDER BY node
    """,
    description="single-source BFS levels (4 hops) over the sampled "
    "part co-order graph, from the smallest node id. Spark side is "
    "frontier expansion — per round one frontier-edge equi-join plus a "
    "visited anti-join, cost O(frontier edges) — NOT path enumeration, "
    "which the dense graph would explode combinatorially; the oracle's "
    "recursive CTE stays safe only because UNION-mode recursion dedups "
    "(node, level) pairs globally",
    tags=("graph", "iterative"),
)
def q97_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.operators.graph import bfs_levels

    t = register_tables(spark, sf_dir)
    return bfs_levels(_co_order_edges(t), max_depth=4)


_KCORE_K = 14
_KCORE_ROUNDS = 8


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled DuckDB mirror of ``kcore``: per round a degree
    aggregation, a survivor filter, and two semi-joins. A converged
    round is a no-op block, so Spark's early exit cannot diverge."""
    # AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
    # each round references the previous ~3x, so inlining would expand
    # the base scan 3^rounds times (observed: "Too many open files").
    parts = [
        """
        WITH pl AS (
            SELECT l_orderkey, l_partkey FROM lineitem
            WHERE l_orderkey % 5 = 0
        ),
        e0 AS MATERIALIZED (
            SELECT DISTINCT CAST(a.l_partkey AS BIGINT) AS u,
                            CAST(b.l_partkey AS BIGINT) AS v
            FROM pl a JOIN pl b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
        )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""", d{r} AS MATERIALIZED (
            SELECT node, count(*) AS d
            FROM (SELECT u AS node FROM e{r - 1}
                  UNION ALL SELECT v AS node FROM e{r - 1})
            GROUP BY node
        ), k{r} AS (SELECT node FROM d{r} WHERE d >= {k}),
        e{r} AS MATERIALIZED (
            SELECT e.u, e.v FROM e{r - 1} e
            WHERE e.u IN (SELECT node FROM k{r})
              AND e.v IN (SELECT node FROM k{r})
        )"""
        )
    parts.append(
        f"""
        SELECT node, CAST(count(*) AS BIGINT) AS degree
        FROM (SELECT u AS node FROM e{rounds}
              UNION ALL SELECT v AS node FROM e{rounds})
        GROUP BY node ORDER BY node"""
    )
    return "".join(parts)


@query(
    "q98_kcore",
    oracle=_kcore_oracle(_KCORE_K, _KCORE_ROUNDS),
    description="k-core peeling (k=14, 8 rounds — converged at both "
    "gate SFs: min surviving degree equals k; non-convergence would "
    "RAISE by contract rather than silently return a supergraph, see "
    "operators/graph.py kcore) over the sampled part "
    "co-order graph: per round one endpoint-explode degree agg + two "
    "semi-joins restrict the edge list to surviving nodes; the list "
    "only shrinks so round cost is monotone decreasing, and the loop "
    "exits at fixpoint (a no-op block in the unrolled oracle). The "
    "dense-community extraction primitive for dedup/link graphs",
    tags=("graph", "iterative"),
)
def q98_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.operators.graph import kcore

    t = register_tables(spark, sf_dir)
    return kcore(_co_order_edges(t), k=_KCORE_K, max_rounds=_KCORE_ROUNDS)


@query(
    "q99_link_prediction",
    oracle="""
        WITH pl AS (
            SELECT l_orderkey, l_partkey FROM lineitem
            WHERE l_orderkey % 5 = 0
        ),
        e AS MATERIALIZED (
            SELECT DISTINCT CAST(a.l_partkey AS BIGINT) AS u,
                            CAST(b.l_partkey AS BIGINT) AS v
            FROM pl a JOIN pl b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
        ),
        sym AS MATERIALIZED (
            SELECT u AS src, v AS dst FROM e
            UNION ALL
            SELECT v AS src, u AS dst FROM e
        ),
        deg AS (
            SELECT src AS node, CAST(count(*) AS DOUBLE) AS d
            FROM sym GROUP BY src
        ),
        wedge AS (
            SELECT e1.dst AS b, e2.dst AS c, 1.0 / ln(deg.d) AS w
            FROM sym e1
            JOIN sym e2 ON e1.src = e2.src AND e1.dst < e2.dst
            JOIN deg ON deg.node = e1.src
        ),
        scored AS (
            SELECT b, c, ROUND(SUM(w), 6) AS adamic_adar,
                   CAST(count(*) AS BIGINT) AS common_neighbors
            FROM wedge
            WHERE NOT EXISTS (
                SELECT 1 FROM e WHERE e.u = wedge.b AND e.v = wedge.c
            )
            GROUP BY b, c
        )
        SELECT b AS node_a, c AS node_b, adamic_adar, common_neighbors
        FROM scored
        ORDER BY adamic_adar DESC, node_a, node_b
        LIMIT 20
    """,
    description="Adamic-Adar link prediction over the sampled part "
    "co-order graph: every wedge center u contributes 1/ln(deg(u)) to "
    "its neighbor pairs, summed per non-adjacent pair, top-20 on the "
    "ROUNDED score (cutoff independent of last-ulp double noise). The "
    "wedge generator is HUB-SALTED (operators/graph.py:adamic_adar): "
    "adjacency lists hash-block into ceil(d/32) chunks and block PAIRS "
    "equi-join on (center, block_i, block_j), bounding every join key "
    "at ~chunk rows per side — the unsalted self-join puts a hub's "
    "d^2/2 wedges under one key. Results are bit-identical (per-pair "
    "SUM is commutative), so the oracle stays the plain self-join; "
    "existing edges are removed by one anti-join on the canonical pair",
    tags=("graph",),
)
def q99_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from amadou_spark.operators.graph import adamic_adar

    t = register_tables(spark, sf_dir)
    return (
        adamic_adar(_co_order_edges(t), chunk=32)
        .orderBy(F.col("adamic_adar").desc(), "node_a", "node_b")
        .limit(20)
    )


@query(
    "q69_skew_profile",
    oracle="""
        WITH k AS (
            SELECT l_orderkey AS key, count(*) AS n
            FROM lineitem GROUP BY 1
        )
        SELECT CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(n) AS BIGINT) AS n_rows,
               CAST(max(n) AS BIGINT) AS max_key_rows,
               CAST(ROUND(quantile_cont(n, 0.5), 2) AS DOUBLE) AS p50_key_rows,
               CAST(ROUND(quantile_cont(n, 0.99), 2) AS DOUBLE) AS p99_key_rows,
               CAST(ROUND(max(n) * 1.0 * count(*) / sum(n), 4) AS DOUBLE)
                   AS max_over_avg
        FROM k
    """,
    description="join-key skew diagnostic: per-key cardinality "
    "distribution (count, max, p50/p99, max/avg ratio) for lineitem's "
    "l_orderkey — the input to choosing salting / AQE skew thresholds",
    tags=("profiling", "scale"),
)
def q69_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostic that operationalizes scale.py's salting choice.

    Two partial-aggregated passes (key counts, then distribution
    stats); output is a single row however large the input.
    """
    from pyspark.sql import functions as F

    t = register_tables(spark, sf_dir)
    k = t["lineitem"].groupBy(F.col("l_orderkey").alias("key")).agg(
        F.count("*").alias("n")
    )
    # Explicit BIGINT/DOUBLE casts on every output column so the driver's
    # value hash is type-stable against DuckDB (whose sum() yields HUGEINT
    # and whose ROUND type-tags differently) — r2 driver row had
    # hash_match=false purely from serialization, not values.
    return k.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("n").cast("long").alias("n_rows"),
        F.max("n").cast("long").alias("max_key_rows"),
        F.round(F.expr("percentile(n, 0.5)"), 2)
        .cast("double")
        .alias("p50_key_rows"),
        F.round(F.expr("percentile(n, 0.99)"), 2)
        .cast("double")
        .alias("p99_key_rows"),
        F.round(F.max("n") * F.count("*") / F.sum("n"), 4)
        .cast("double")
        .alias("max_over_avg"),
    )


@query(
    "q102_sssp",
    oracle="""
        WITH e0 AS (
            SELECT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst,
                   CAST(MIN(l_quantity) AS BIGINT) AS w
            FROM lineitem GROUP BY l_suppkey, l_partkey
        ), edges AS (
            SELECT src, dst, w FROM e0
            UNION ALL
            SELECT dst AS src, src AS dst, w FROM e0
        ), d0 AS (
            SELECT MIN(src) AS node, CAST(0 AS BIGINT) AS dist FROM edges
        ), d1 AS (
            SELECT node, MIN(dist) AS dist FROM (
                SELECT node, dist FROM d0
                UNION ALL
                SELECT e.dst AS node, d0.dist + e.w AS dist
                FROM d0 JOIN edges e ON d0.node = e.src
            ) GROUP BY node
        ), d2 AS (
            SELECT node, MIN(dist) AS dist FROM (
                SELECT node, dist FROM d1
                UNION ALL
                SELECT e.dst AS node, d1.dist + e.w AS dist
                FROM d1 JOIN edges e ON d1.node = e.src
            ) GROUP BY node
        ), d3 AS (
            SELECT node, MIN(dist) AS dist FROM (
                SELECT node, dist FROM d2
                UNION ALL
                SELECT e.dst AS node, d2.dist + e.w AS dist
                FROM d2 JOIN edges e ON d2.node = e.src
            ) GROUP BY node
        )
        SELECT node, dist FROM d3 ORDER BY node
    """,
    description="weighted single-source shortest paths: 3 Bellman-Ford "
    "rounds over the supplier-part graph (weight = min line quantity "
    "per edge, BIGINT so path sums are exact), source = lowest node id. "
    "The operator relaxes only the IMPROVED frontier each round — "
    "provably identical output to full-edge relaxation (an unimproved "
    "node re-offers candidates already min-folded) at "
    "O(frontier edges)/round; the oracle unrolls the equivalent full "
    "relaxation as 3 CTE rounds. Complements q97 BFS (hop counts) with "
    "weighted distances",
    tags=("graph", "iterative"),
)
def q102_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from amadou_spark.operators.graph import sssp

    t = register_tables(spark, sf_dir)
    e0 = t["lineitem"].groupBy(
        (F.col("l_suppkey") * 2).alias("src"),
        (F.col("l_partkey") * 2 + 1).alias("dst"),
    ).agg(F.min("l_quantity").cast("bigint").alias("w"))
    edges = e0.select(
        F.explode(
            F.array(
                F.struct(F.col("src"), F.col("dst"), F.col("w")),
                F.struct(
                    F.col("dst").alias("src"),
                    F.col("src").alias("dst"),
                    F.col("w"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst", "e.w")
    return sssp(edges, rounds=3)


def _lpa_oracle(rounds: int = 2) -> str:
    """Unrolled fixed-round synchronous label propagation: one
    (count, argmax) CTE pair per round — same unroll style as the
    PageRank/k-means oracles (recursive CTEs cannot re-aggregate)."""
    its = []
    prev = "l0"
    for i in range(1, rounds + 1):
        its.append(f"""c{i} AS (
            SELECT s.src, l.label, count(*) AS c
            FROM sym s JOIN {prev} l ON s.dst = l.node
            GROUP BY 1, 2
        ), m{i} AS (
            SELECT src, max(c) AS mc FROM c{i} GROUP BY 1
        ), l{i} AS (
            SELECT c{i}.src AS node, MIN(c{i}.label) AS label
            FROM c{i} JOIN m{i}
              ON c{i}.src = m{i}.src AND c{i}.c = m{i}.mc
            GROUP BY 1
        )""")
        prev = f"l{i}"
    return f"""
        WITH pl AS (SELECT l_orderkey, l_partkey FROM lineitem
                    WHERE l_orderkey % 5 = 0),
        e AS (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM pl a JOIN pl b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
        ),
        sym AS (
            SELECT u AS src, v AS dst FROM e
            UNION ALL SELECT v, u FROM e
        ),
        l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym),
        {', '.join(its)}
        SELECT CAST(node AS BIGINT) AS node,
               CAST(label AS BIGINT) AS community
        FROM {prev} ORDER BY node
    """


@query(
    "q150_label_propagation",
    oracle=_lpa_oracle(rounds=2),
    description="community detection by synchronous label propagation "
    "(Raghavan et al. 2007; 2 fixed sweeps) over the sampled part "
    "co-order graph shared with q96-q99 — the near-linear-time "
    "community pass run before per-community processing (the graph "
    "analogue of clustering before SemDeDup). Deterministic variant: "
    "every node takes the most frequent NEIGHBOR label, count ties "
    "break to the smallest label, so both engines and any reshard "
    "agree exactly. Per round: one O(|E|) equi-join against the "
    "|V|-row label table + two map-side-combined hash aggs (max-count "
    "filter + MIN realizes the argmax portably); rounds fixed by "
    "contract and unrolled identically in the oracle",
    tags=("graph", "iterative"),
)
def q150_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.operators.graph import label_propagation

    t = register_tables(spark, sf_dir)
    return label_propagation(_co_order_edges(t), rounds=2).orderBy("node")


def _hits_oracle(n_iter: int = 3) -> str:
    """Unrolled fixed-iteration HITS as portable SQL, one pair of
    materialized CTEs per round (AS MATERIALIZED for the same reason
    as the kcore oracle: the round CTEs chain into each other and the
    final pair is read twice — once by the output, once by its L1
    normalizer — and plain-CTE inlining would expand the scan
    2^(2*rounds) times). Mirrors the operator's normalize-at-end
    scheme exactly: raw alternating sums, ONE division per role at
    the end (scalars cancel through linear updates, so per-round
    normalization would change nothing but the float path — and the
    float path must match the Spark side)."""
    rounds = []
    prev_h = "h0"
    for i in range(1, n_iter + 1):
        rounds.append(f"""a{i} AS MATERIALIZED (
            SELECT e.dst AS node, SUM(h.h) AS a
            FROM e JOIN {prev_h} h ON e.src = h.node GROUP BY 1
        ), h{i} AS MATERIALIZED (
            SELECT e.src AS node, SUM(a.a) AS h
            FROM e JOIN a{i} a ON e.dst = a.node GROUP BY 1
        )""")
        prev_h = f"h{i}"
    return f"""
        WITH e AS MATERIALIZED (
            SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
                            CAST(l_partkey AS BIGINT) AS dst
            FROM lineitem
        ), h0 AS (
            SELECT DISTINCT src AS node, 1.0 AS h FROM e
        ), {", ".join(rounds)}
        SELECT node, 'authority' AS role,
               ROUND(a / (SELECT SUM(a) FROM a{n_iter}) * 1000, 6)
                   AS score_permille
        FROM a{n_iter}
        UNION ALL
        SELECT node, 'hub',
               ROUND(h / (SELECT SUM(h) FROM h{n_iter}) * 1000, 6)
        FROM h{n_iter}
        ORDER BY role, node
    """


@query(
    "q159_hits",
    oracle=_hits_oracle(),
    description="HITS hubs & authorities (Kleinberg 1999; 3 fixed "
    "rounds, L1 normalization) over the DIRECTED supplier->part supply "
    "graph: authority = a part sourced by well-connected suppliers, "
    "hub = a supplier stocking authoritative parts — the "
    "mutually-reinforcing centrality pair PageRank's single score "
    "(q70) cannot express. Per round exactly two equi-joins of the "
    "persisted edge list against a node-score table + two "
    "map-side-combined sums: O(rounds x |E|), the q70 shuffle shape. "
    "L1 normalization (no sqrt) applied ONCE at the end — scalar "
    "normalizers cancel through the alternating linear updates, so "
    "the textbook per-round normalizer agg+broadcast is dead weight — "
    "and the oracle unrolls the identical float path",
    tags=("graph", "iterative"),
)
def q159_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from amadou_spark.operators.graph import hits

    t = register_tables(spark, sf_dir)
    # no .distinct() here: hits() owns edge dedup (a caller-side
    # distinct would shuffle+aggregate the edge list twice, ADVICE r6)
    edges = t["lineitem"].select(
        F.col("l_suppkey").cast("bigint").alias("src"),
        F.col("l_partkey").cast("bigint").alias("dst"),
    )
    return (
        hits(edges, n_iter=3)
        .select(
            "node",
            "role",
            F.round(F.col("score") * 1000, 6).alias("score_permille"),
        )
        .orderBy("role", "node")
    )
