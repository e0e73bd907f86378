"""Scale posture helpers (SURVEY §7 M7): skew-aware joins, bucketing.

AQE (`spark.sql.adaptive.skewJoin`) is the first line of defense and is
on by default in our sessions. These helpers cover what AQE can't:
- salting for aggregations and for joins where one side must be
  replicated (AQE skew-join only splits sort-merge partitions);
- bucketed table writes so repeated joins on the same key skip the
  shuffle entirely (the 100 TB answer for fact-fact joins that run
  daily: pay the shuffle once at write time).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amadou_spark.session import conf_scope

# Below this many rows per round, a pinned fixpoint loop runs with
# whole-stage codegen off. The session's codegen cache already spares
# each round's new plan a Janino compile, yet the pin still pays: without
# it (bench.py, min of 3, 8 alternating pairs at sf0.01 and sf0.1) the BPE
# merge loop was slower in 6 pairs and the sum of the pin's four
# registry users then (q159_hits and three BPE queries) in 5, plausibly
# because whole-stage codegen still generates each stage's source every
# round to look it up. Above this size the interpreted-evaluation
# penalty dominates. The BPE loop is the pin's only user now.
LOOP_CODEGEN_OFF_MAX_ROWS = 200_000

# Rows per shuffle partition in a pinned fixpoint loop. Do not widen
# the pin towards the core count: q98_kcore at width 32 burned 238x the
# executor time of width 5 (5964 s vs 25 s summed executorRunTime, same
# 138 stages), because every pinned task pays ~300-600 ms of fixed
# overhead per round. A wide pin also makes every loop join a static
# SortMergeJoin where AQE would broadcast the tiny side at run time.
# The pin's one user is the BPE induction loop (llm/text.py); every
# graph loop runs under AQE, and the connected-components, PageRank and
# HITS loops measured no faster pinned (see their comments in
# operators/graph.py).
LOOP_ROWS_PER_PARTITION = 50_000

# Planning-time broadcast gate for a join side whose row count has a
# sound upper bound taken from data already materialized (checkpoint
# blocks or parquet metadata): make the size decision AQE would make,
# one stage EARLIER. A planning-time broadcast spares the probe side its
# whole shuffle map phase (AQE's run-time conversion still writes the
# probe's shuffle files before it converts). ≤5M narrow rows ≈ tens of
# MB, comfortably broadcastable; above the gate the join stays unhinted
# and AQE picks from observed sizes.
BROADCAST_ROWS_GATE = 5_000_000


def broadcast_gate(df: DataFrame, bound_rows: int) -> DataFrame:
    """``df`` hinted broadcast iff ``bound_rows``, a sound upper bound
    on its rows, is within :data:`BROADCAST_ROWS_GATE`."""
    return F.broadcast(df) if bound_rows <= BROADCAST_ROWS_GATE else df


# Conf for tiny planning-gate ACTIONS (a bound-probing count/first over
# already-materialized blocks, whose result only feeds broadcast-hint
# decisions). Under AQE such an action spawns one job per query stage
# (3 jobs for the fused countDistinct+count gate in
# ``_shingle_pair_counts``) for a sub-second scan; AQE has nothing to
# adapt there, so it is off for the action. Use with
# ``session.conf_scope``.
GATE_CONFS = {"spark.sql.adaptive.enabled": "false"}


def loop_confs(spark: SparkSession, n_rows: int) -> dict[str, str]:
    """Session conf for a pinned iterative fixpoint loop over
    ``n_rows`` rows per round; run the loop under
    ``session.conf_scope(spark, loop_confs(spark, n_rows))``.

    - AQE off: its per-exchange query-stage materialization adds whole
      jobs to every round whose width is already decided here from the
      real row count;
    - shuffle width of about ``LOOP_ROWS_PER_PARTITION`` rows per
      partition, capped at the core count: the session default is sized
      for batch scans, not a loop over a small table;
    - whole-stage codegen off up to ``LOOP_CODEGEN_OFF_MAX_ROWS``."""
    width = min(
        spark.sparkContext.defaultParallelism,
        n_rows // LOOP_ROWS_PER_PARTITION + 1,
    )
    confs = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": str(width),
    }
    if n_rows <= LOOP_CODEGEN_OFF_MAX_ROWS:
        confs["spark.sql.codegen.wholeStage"] = "false"
    return confs


def materialize_shared(df: DataFrame) -> DataFrame:
    """Eagerly materialize a DataFrame that multiple consumers will
    read (shared subtrees in one plan, or rounds of an iterative loop),
    returning a lineage-cut frame backed by the materialized blocks.

    Uses a RELIABLE ``checkpoint()`` when the session has a checkpoint
    dir configured (the cluster posture: blocks on the checkpoint
    filesystem survive executor loss), else an eager
    ``localCheckpoint()`` (single-node / test posture: executor-local
    blocks, cheapest). Both truncate lineage — essential in iterative
    loops, where persist alone leaves each round's analyzed plan
    embedding the previous round's and plan-building grows
    exponentially with rounds.
    """
    sc = df.sparkSession.sparkContext
    has_dir = sc._jsc.sc().checkpointDir().isDefined()
    return df.checkpoint(eager=True) if has_dir else df.localCheckpoint()


def global_rank(
    df: DataFrame,
    order_cols: list[str],
    rank_name: str = "rank",
    num_partitions: int | None = None,
    deterministic_input: bool = False,
) -> DataFrame:
    """Distributed GLOBAL dense row-number over ``order_cols`` (which
    must form a total order — include a unique tie-break column) via
    the classic two-phase range sort, never an
    ``Exchange SinglePartition``:

    1. ``repartitionByRange`` on the sort key (range exchange: each
       partition holds one contiguous key range, ranges ascend with
       partition index — this is how Spark's own global ORDER BY
       distributes), ``sortWithinPartitions`` on the same key, then
       stamp ``monotonically_increasing_id`` — whose documented layout
       is (partition id << 33) | local record index, i.e. a free
       per-partition row number with NO window and NO second exchange
       (this is exactly RDD.zipWithIndex re-expressed in DataFrame
       terms). By default the stamped frame is materialized once so
       the ids the offset table was computed from are the ids the
       ranks read (lazy re-evaluation of a shuffle-parented input can
       reorder rows per partition, re-sampling range boundaries).
       With ``deterministic_input=True`` the caller asserts the input
       plan is order-stable per partition — a raw file scan (Spark
       plans splits and orders files deterministically per session
       conf) or a checkpointed/``materialize_shared`` frame — and the
       materialization (a full extra job + a copy of the data) is
       skipped: the counts branch and the rank branch then reference
       the SAME stamped subtree, which Spark's ReuseExchange rule
       materializes once (the explicit partition count also pins AQE
       from re-coalescing the range exchange), and even two
       independent evaluations would agree because RangePartitioner's
       reservoir sampler is seeded per partition index, so identical
       input order ⇒ identical boundaries, and the in-partition sort
       re-establishes the total order before ids are stamped. Do NOT
       chain ``deterministic_input=True`` calls: without the
       materialize's lineage cut each level embeds the previous
       level's whole subtree in BOTH its branches — 2^depth plan
       growth (execution stays deduped via ReuseExchange, but
       analysis cost and plan readability do not).
    2. Per-partition row counts (a #partitions-row aggregate over the
       materialized blocks) become starting offsets with a prefix sum
       expressed as a broadcast theta self-join of the counts table
       against itself (``offset(p) = SUM(count(p') FOR p' < p)``,
       BroadcastNestedLoopJoin over <= #partitions rows per side) —
       IN the result plan, so no separate driver action fires: where
       RDD.zipWithIndex runs an eager counts job + a driver prefix
       sum, this folds both into the single downstream job. Never a
       data-sized exchange and never an Exchange SinglePartition —
       the counts/offsets tables are bounded by the partition count.
    3. rank = offset(partition) + local index + 1.

    Correct for ANY boundary placement the range sampler picks (and
    any AQE coalescing of the range exchange — adjacent ranges merge
    in order and the within-partition sort re-establishes order), so
    the sampler's nondeterminism never reaches the result. Cost: ONE
    range exchange + in-partition sort of the data, a #partitions-row
    aggregate, and a broadcast of the offset table — the price of a
    global rank without collapsing to a single task (never an
    Exchange SinglePartition). Use when the rank key's value domain
    is unbounded; for bounded domains prefer collapsing to
    per-distinct-value counts (the q124 shape) which is cheaper.
    """
    n = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    stamped = (
        df.repartitionByRange(n, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_gr_mid", F.monotonically_increasing_id())
    )
    pinned = stamped if deterministic_input else materialize_shared(stamped)
    pid = F.shiftright("_gr_mid", 33)
    local = F.col("_gr_mid").bitwiseAND((1 << 33) - 1)
    counts = pinned.groupBy(pid.alias("_gr_pid")).agg(
        F.count("*").alias("_gr_c")
    )
    prior = counts.select(
        F.col("_gr_pid").alias("_gr_pid2"), F.col("_gr_c").alias("_gr_c2")
    )
    offsets = (
        counts.join(
            F.broadcast(prior), F.col("_gr_pid2") < F.col("_gr_pid"), "left"
        )
        .groupBy("_gr_pid")
        .agg(F.coalesce(F.sum("_gr_c2"), F.lit(0)).alias("_gr_off"))
    )
    return (
        pinned.withColumn("_gr_pid", pid)
        .join(F.broadcast(offsets), "_gr_pid")
        .withColumn(
            rank_name,
            (F.col("_gr_off") + local + 1).cast("bigint"),
        )
        .drop("_gr_pid", "_gr_off", "_gr_mid")
    )


def ntile_from_rank(rank_col, n_col, k: int):
    """SQL-standard ``ntile(k)`` bucket as a closed-form expression of
    a (1-based, gap-free) global rank and the total row count: the
    first ``n % k`` buckets hold ``ceil(n/k)`` rows, the rest
    ``floor(n/k)`` — exactly Spark's and DuckDB's ntile sizing. Lets a
    distributed global rank (``global_rank`` / value-domain prefix
    sums) replace an unpartitioned ``ntile(k)`` window, which Spark
    realizes as an Exchange SinglePartition + one-task sort.

    All integer arithmetic; the ``q == 0`` division guard is the lazy
    CASE branch (when ``n < k`` every rank satisfies the first branch,
    ``bucket = rank``)."""
    rn = F.col(rank_col) if isinstance(rank_col, str) else rank_col
    n = F.col(n_col) if isinstance(n_col, str) else n_col
    q = F.floor(n / k).cast("bigint")
    r = (n % k).cast("bigint")
    big = r * (q + 1)  # rows covered by the (q+1)-sized leading buckets
    return F.when(
        rn <= big, F.floor((rn + q) / (q + 1))  # ceil(rn / (q+1))
    ).otherwise(r + F.floor((rn - big + q - 1) / q)).cast("int")


def ntile_domain_tables_local(
    counts_input: DataFrame,
    specs: list[tuple[str, int, str]],
) -> dict[str, DataFrame]:
    """Domain-sized ntile lookup tables for SEVERAL bounded-domain
    measures, built with ONE job: melt the measures to ``(measure,
    value)`` long form, count distinct values map-side, collect the
    bounded result (|domain| rows per measure — observation-window
    dates, small-int counts, a fixed price grid — data-size-independent
    by construction), take the prefix sums in plain Python and return
    one driver-local DataFrame per measure.

    ``specs`` is ``[(value_col, k, prefix), ...]``; the result maps each
    ``prefix`` to a table with one row per distinct value and columns
    ``{prefix}_v`` (the value), ``{prefix}_c`` (its row count),
    ``{prefix}_n`` (grand total), ``{prefix}_before`` (rows with a
    smaller value) and ``{prefix}_lo``/``{prefix}_hi`` — the ntile(k)
    bucket of the tie run's FIRST and LAST global rank, stamped by
    :func:`ntile_from_rank`. ``lo == hi`` means the whole run lands in
    one bucket. Point ``counts_input`` at a checkpointed frame when it
    is an aggregate, so the melt never re-executes it.

    Why local relations: an Arrow-backed ``createDataFrame(pandas)``
    plans as a ``LocalRelation`` (the bucket projection folds into it),
    whose broadcast build is a driver-side ``executeCollect`` with NO
    job — where a Spark-side table pays a broadcast-exchange job per
    table per consumer. Supported value types: DateType, TimestampType
    and integral types (the bounded-domain cases). NULL values raise:
    they have no rank. Determinism: counts are keyed by DISTINCT values
    and sorted in Python before the prefix sum — identical tables for
    any partition layout.
    """
    import datetime as _dt

    import pandas as pd

    from pyspark.sql import types as T

    spark = counts_input.sparkSession
    melt_args: list = []
    decoders = {}
    for value_col, _k, prefix in specs:
        dt = counts_input.schema[value_col].dataType
        c = F.col(value_col)
        if isinstance(dt, T.DateType):
            enc = F.datediff(c, F.lit("1970-01-01")).cast("bigint")
            decoders[prefix] = (
                dt,
                lambda v: _dt.date(1970, 1, 1) + _dt.timedelta(days=int(v)),
            )
        elif isinstance(dt, T.TimestampType):
            # epoch micros; decoded as UTC-naive to match the engine's
            # pinned UTC session timezone (session.py)
            enc = F.unix_micros(c)
            decoders[prefix] = (
                dt,
                lambda v: _dt.datetime(1970, 1, 1)
                + _dt.timedelta(microseconds=int(v)),
            )
        elif isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
            enc = c.cast("bigint")
            decoders[prefix] = (dt, int)
        else:  # pragma: no cover - contract guard
            raise TypeError(
                f"ntile_domain_tables_local: unsupported domain type {dt} "
                f"for {value_col}; bounded domains are dates or integers"
            )
        melt_args.extend([F.lit(prefix), enc])
    melted = (
        counts_input.select(
            F.stack(F.lit(len(specs)), *melt_args).alias("_m", "_v")
        )
        .groupBy("_m", "_v")
        .agg(F.count("*").alias("_c"))
        .collect()
    )
    by_prefix: dict[str, list] = {p: [] for _, _, p in specs}
    col_of = {p: c for c, _, p in specs}
    for r in melted:
        if r["_v"] is None:
            # fail loudly with the column name instead of the opaque
            # None-vs-int TypeError sorted() would raise: NULL has no
            # defined rank, so it has no bucket
            raise ValueError(
                "ntile_domain_tables_local: NULL in measure column "
                f"{col_of[r['_m']]!r} — ntile domains must be NULL-free; "
                "filter NULLs (or COALESCE them) before calling"
            )
        by_prefix[r["_m"]].append((r["_v"], r["_c"]))
    out: dict[str, DataFrame] = {}
    for _value_col, k, prefix in specs:
        rows = sorted(by_prefix[prefix])
        n = sum(c for _, c in rows)
        vdt, dec = decoders[prefix]
        rec, before = [], 0
        for v, c in rows:
            rec.append((dec(v), c, n, before))
            before += c
        names = [f"{prefix}_{s}" for s in ("v", "c", "n", "before")]
        schema = T.StructType(
            [T.StructField(names[0], vdt, False)]
            + [T.StructField(s, T.LongType(), False) for s in names[1:]]
        )
        counts = spark.createDataFrame(pd.DataFrame(rec, columns=names), schema)
        # the bucket projection folds into the LocalRelation at planning
        first = F.col(f"{prefix}_before") + 1
        last = F.col(f"{prefix}_before") + F.col(f"{prefix}_c")
        out[prefix] = counts.select(
            *names,
            ntile_from_rank(first, f"{prefix}_n", k).alias(f"{prefix}_lo"),
            ntile_from_rank(last, f"{prefix}_n", k).alias(f"{prefix}_hi"),
        )
    return out


def bounded_domain_ntile(
    df: DataFrame,
    specs: list[tuple[str, list[str], int, str]],
) -> DataFrame:
    """``df`` plus one column per spec: the SQL-standard ``ntile(k) OVER
    (ORDER BY value_col, *tiebreak_cols)`` of each row, for measures
    whose VALUE DOMAIN is bounded (dates inside an observation window,
    small-int counts, fixed-precision money) — the cheap alternative to
    :func:`global_rank` when the domain collapses: a bounded domain
    never needs a full range-exchange sort of the fact grain.

    ``specs`` is ``[(value_col, tiebreak_cols, k, out_name), ...]``.
    Plan shape (zero data-sized sorts, zero SinglePartition):

    1. Every measure's lookup table comes from ONE
       :func:`ntile_domain_tables_local` call (one melted, domain-sized
       collect); the tables join broadcast as LocalRelations.
    2. Each tie run covers global ranks ``(before, before+c]``. Rows
       whose run sits inside ONE bucket in every measure (the
       overwhelming majority — at most k-1 runs per measure cross a
       boundary) take their buckets straight off the tables.
    3. Only rows whose run crosses a boundary in at least one measure
       get the tie-break: ``row_number() OVER (PARTITION BY value ORDER
       BY tiebreaks)`` per measure, filtered BEFORE the shuffle so the
       sorted volume is the boundary runs only. A run that crosses in
       a measure is in this subset WHOLE (every member shares
       ``lo != hi``), so its within-partition row number is its rank
       inside the run; a measure whose run does not cross keeps ``lo``.

    Requires every ``value_col`` non-null (NULLs raise ``ValueError``)
    and ``(value_col, *tiebreak_cols)`` a total order (the standard
    ntile contract). Matches Spark's and DuckDB's ntile sizing exactly
    (first n%k buckets hold one extra row). ``df`` is read twice (the
    melt, then the join): checkpoint it first when it is an aggregate
    (:func:`materialize_shared`) — column pruning specializes each
    consumer's copy, so exchange reuse cannot dedup them.

    The coarsening trick: ``ntile(ORDER BY x, pk)`` equals
    ``ntile(ORDER BY floor(g(x)), x, pk)`` for any monotone ``g`` — so
    an UNBOUNDED measure (per-customer revenue) rides this helper by
    bucketing to a bounded grid (whole-$1000) as ``value_col`` and
    keeping the exact measure in the tie-break: the domain table stays
    range-bounded and only the <= k-1 grid runs straddling a boundary
    ever get sorted.
    """
    from functools import reduce

    from pyspark.sql.window import Window

    prefixes = [f"_bd{i}" for i in range(len(specs))]
    tables = ntile_domain_tables_local(
        df, [(v, k, p) for (v, _, k, _), p in zip(specs, prefixes)]
    )
    joined = df
    for (value_col, _, _, _), p in zip(specs, prefixes):
        joined = joined.join(
            F.broadcast(tables[p]), F.col(value_col) == F.col(f"{p}_v")
        )
    crossing_any = reduce(
        lambda a, b: a | b,
        [F.col(f"{p}_lo") != F.col(f"{p}_hi") for p in prefixes],
    )
    inside = joined.filter(~crossing_any).select(
        *df.columns,
        *[
            F.col(f"{p}_lo").alias(out)
            for (_, _, _, out), p in zip(specs, prefixes)
        ],
    )

    def bucket(p: str, tiebreaks: list[str], k: int):
        w = Window.partitionBy(f"{p}_v").orderBy(*tiebreaks)
        rank = F.col(f"{p}_before") + F.row_number().over(w)
        return F.when(
            F.col(f"{p}_lo") == F.col(f"{p}_hi"), F.col(f"{p}_lo")
        ).otherwise(ntile_from_rank(rank, f"{p}_n", k))

    crossing = joined.filter(crossing_any).select(
        *df.columns,
        *[
            bucket(p, tiebreaks, k).alias(out)
            for (_, tiebreaks, k, out), p in zip(specs, prefixes)
        ],
    )
    return inside.unionByName(crossing)


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join where `skewed` has hot keys: append a random salt to
    the skewed side's key and replicate `other` across all salt values,
    so one hot key spreads over ``n_salts`` shuffle partitions instead
    of one straggler task.

    Replication is an explode of a literal range — `other`'s scan is
    NOT repeated n times; rows fan out after the scan. Cost: `other`'s
    shuffle volume × n_salts, the price of unsticking the hot key.

    Only join types where an unmatched `other` row produces no output
    are allowed: under 'right'/'full' every unmatched replicated right
    row would be emitted n_salts times (duplicate rows)."""
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi", "left_anti", "leftanti"}
    if how not in allowed:
        raise ValueError(
            f"salted_join supports {sorted(allowed)}, not {how!r}: replicating "
            "the right side duplicates its unmatched rows under right/full joins"
        )
    salted_l = skewed.withColumn(
        "_salt", (F.rand(seed=42) * n_salts).cast("int")
    )
    salted_r = other.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = salted_l.join(salted_r, on=[on, "_salt"], how=how)
    return out.drop("_salt")


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    aggs: list,
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation for skewed group keys: group on
    (keys + salt) first (spreads the hot key), then re-aggregate the
    partials. Only works for decomposable aggregates — the caller
    passes (partial_agg, final_agg) pairs as
    [(F.sum, F.sum), (F.count, F.sum), ...] applied to one column each:
    aggs = [(col, partial_fn, final_fn, out_name), ...]."""
    salted = df.withColumn("_salt", (F.rand(seed=42) * n_salts).cast("int"))
    partial = salted.groupBy(*keys, "_salt").agg(
        *[pf(c).alias(f"_p_{name}") for c, pf, _, name in aggs]
    )
    final = partial.groupBy(*keys).agg(
        *[ff(f"_p_{name}").alias(name) for _, _, ff, name in aggs]
    )
    return final


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
    fmt: str = "parquet",
) -> None:
    """Persist hash-bucketed (and optionally sorted) by the join key:
    later equi-joins/aggregations on ``bucket_col`` between tables
    bucketed the same way need NO shuffle (and no sort, if sorted).
    Buckets land in the session catalog (saveAsTable — bucketing
    metadata lives in the metastore, not plain files)."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS `{table_name}`")
    # A PREVIOUS session's table leaves its warehouse directory behind
    # with no catalog entry in the new session; saveAsTable then fails
    # with LOCATION_ALREADY_EXISTS even under mode=overwrite. Remove the
    # orphaned location via the Hadoop FS API (portable to any FS).
    try:
        jvm = spark._jvm
        wh = spark.conf.get("spark.sql.warehouse.dir")
        path = jvm.org.apache.hadoop.fs.Path(wh.rstrip("/") + "/" + table_name)
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(path):
            fs.delete(path, True)
    except Exception:
        pass  # best-effort; saveAsTable raises a clear error if blocked
    writer = df.write.format(fmt).mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table_name)


def bloom_prune(
    fact: DataFrame,
    dim_keys: DataFrame,
    fact_key: str,
    dim_key: str,
    n_bits: int | None = None,
    n_hashes: int = 3,
) -> DataFrame:
    """Pre-filter ``fact`` with a Bloom filter built over ``dim_keys``
    BEFORE a shuffle join — the runtime-filter pattern Spark's
    optimizer injects for itself (`bloom_filter_agg`/`might_contain`
    are optimizer-internal, not SQL-callable), rebuilt portably from
    DataFrame primitives so any join can opt in explicitly.

    Construction (all distributed, one tiny collect-free broadcast):
    each dim key sets ``n_hashes`` md5-derived bit positions; positions
    roll up into 64-bit words via ``bit_or`` (map-side combined) and
    the <= n_bits/64-entry (word_idx -> word) map crosses to the fact
    side as a broadcast single row. The fact filter is pure JVM:
    ``element_at(map, pos/64) & (1 << pos%64)`` per hash — O(1) per
    probe, no Python, no shuffle.

    Semantics: strictly a superset filter (Bloom false positives
    remain; NULL fact keys pass through untouched — a superset filter
    may never drop rows an outer join would keep), so the downstream
    exact join is unchanged — results are bit-identical with or
    without pruning. The win at 100 TB: the fact rows that would die
    in the join are dropped BEFORE the exchange, cutting shuffle
    volume by the dim selectivity (the same reason Spark's own
    runtime row-group filtering exists).

    Sizing: with ``n_bits=None`` (default) the filter is sized from
    the ACTUAL distinct dim-key count — one count() control action at
    build time, the same price Spark's own runtime filters pay — at
    ~12 bits/key (fpp ~2% with 3 hashes), rounded up to a power of
    two, capped at 2^26 bits = 8 MiB of broadcast. A fixed n_bits
    saturates silently once keys exceed ~n_bits/12 (fpp -> 1, zero
    pruning), which is why the default is no longer a constant.
    NULL dim keys are dropped before hashing: a NULL key matches no
    equi-join row, and md5(NULL) would otherwise poison the position
    map with a NULL map key (runtime crash in map_from_entries).
    """
    dim_nn = dim_keys.filter(F.col(dim_key).isNotNull())
    if n_bits is None:
        # sizing gate: one countDistinct job under GATE_CONFS (AQE has
        # nothing to adapt in a 1-row bound probe; it would spawn 3
        # query-stage jobs for the distinct().count() spelling)
        with conf_scope(dim_keys.sparkSession, GATE_CONFS):
            n_keys = max(
                dim_nn.agg(F.countDistinct(dim_key)).first()[0] or 0, 1
            )
        n_bits = 8192
        while n_bits < n_keys * 12 and n_bits < (1 << 26):
            n_bits *= 2
    pos_cols = []
    key_str = F.col(dim_key).cast("string")
    for i in range(n_hashes):
        hv = F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{i}:"), key_str)), 1, 15),
            16,
            10,
        ).cast("bigint")
        pos_cols.append(F.pmod(hv, F.lit(n_bits)))
    positions = dim_nn.select(
        F.explode(F.array(*pos_cols)).alias("pos")
    )
    words = (
        positions.select(
            (F.col("pos") / 64).cast("int").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias(
                "bit"
            ),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("word"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("w", "word"))
            ).alias("bloom")
        )
    )
    fkey_str = F.col(fact_key).cast("string")
    probed = fact.crossJoin(F.broadcast(words))
    pcols = []
    for i in range(n_hashes):
        hv = F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{i}:"), fkey_str)), 1, 15),
            16,
            10,
        ).cast("bigint")
        pcol = f"_bloom_pos_{i}"
        probed = probed.withColumn(pcol, F.pmod(hv, F.lit(n_bits)))
        pcols.append(pcol)
    cond = None
    for pcol in pcols:
        hit = F.expr(
            f"coalesce(element_at(bloom, CAST({pcol} / 64 AS INT)), 0L)"
            f" & shiftleft(CAST(1 AS BIGINT), CAST({pcol} % 64 AS INT)) != 0"
        )
        cond = hit if cond is None else (cond & hit)
    # NULL fact keys: every position is NULL, so `cond` is NULL — keep
    # the row (superset semantics for outer-join callers)
    return probed.filter(
        F.col(fact_key).isNull() | cond
    ).drop("bloom", *pcols)
