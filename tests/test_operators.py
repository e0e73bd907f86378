"""Custom operator tests: the two as-of join implementations (window
composition vs pandas merge_asof) must agree exactly."""

from __future__ import annotations

import pytest

from amadou_spark.catalog import load_table
from amadou_spark.operators.asof import asof_join, asof_join_pandas


def _rows(df, keys):
    return sorted(tuple(r) for r in df.select(*keys).collect())


def test_asof_join_window_equals_pandas(spark, sf_dir):
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate"
    )
    kwargs = dict(
        left_on="user_id",
        right_on="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        payload_cols=[],
    )
    a = asof_join(events, orders, **kwargs)
    b = asof_join_pandas(events, orders, **kwargs)
    cols = ["event_id", "user_id", "matched_o_orderdate"]
    assert _rows(a, cols) == _rows(b, cols)


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, 10), (1, 20), (1, 5), (2, 10)], "k INT, ts INT"
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts", "k AS lid")
    right = spark.createDataFrame(
        [(1, 10, "a"), (1, 15, "b"), (3, 1, "z")], "k INT, ts INT, tag STRING"
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) AS rts", "tag")
    out = asof_join(
        left, right, left_on="k", right_on="k", left_ts="ts", right_ts="rts",
        payload_cols=["tag"],
    )
    got = {
        (r.k, r.ts.timestamp()): r.matched_tag for r in out.collect()
    }
    assert got[(1, 10.0)] == "a"   # equal ts matches (inclusive)
    assert got[(1, 20.0)] == "b"   # latest preceding
    assert got[(1, 5.0)] is None   # nothing precedes
    assert got[(2, 10.0)] is None  # key with no right rows


def test_sessionize_bounds_equal_session_window(spark, sf_dir):
    from amadou_spark.operators.sessionize import session_bounds
    from amadou_spark.streaming.windows import session_windows_batch

    events = load_table(spark, sf_dir, "events")
    via_lag = session_bounds(events, gap_seconds=1800).select(
        "user_id", "session_start", "session_end", "n_events"
    )
    via_window = session_windows_batch(events, gap="30 minutes")
    key = lambda df: sorted(tuple(r) for r in df.collect())
    assert key(via_lag) == key(via_window)


def test_sessionize_ids_are_dense_and_ordered(spark, sf_dir):
    from amadou_spark.operators.sessionize import sessionize

    events = load_table(spark, sf_dir, "events").filter("user_id = 7")
    rows = sessionize(events, gap_seconds=1800).orderBy("ts").collect()
    ids = [r.session_id for r in rows]
    assert ids[0] == 1
    assert all(b - a in (0, 1) for a, b in zip(ids, ids[1:]))  # dense, monotone


class TestProfile:
    def test_profile_single_pass_stats(self, spark):
        from amadou_spark.operators.profile import profile_columns

        df = spark.createDataFrame(
            [(1, "a"), (2, None), (3, "a"), (4, "b")], "id LONG, s STRING"
        )
        stats = {r.column: r for r in profile_columns(df).collect()}
        assert stats["id"].n_rows == 4 and stats["id"].n_nulls == 0
        assert stats["s"].n_nulls == 1 and stats["s"].null_rate == 0.25
        assert stats["s"].approx_distinct == 2  # exact at this size

    def test_profile_documents(self, spark, sf_dir):
        from amadou_spark.operators.profile import profile_columns
        from amadou_spark.catalog import load_table

        stats = {r.column: r for r in profile_columns(load_table(spark, sf_dir, "documents")).collect()}
        assert stats["doc_id"].n_nulls == 0
        assert stats["lang"].approx_distinct >= 4


class TestScd2:
    def _current(self, spark):
        return spark.createDataFrame(
            [
                (1, "alice", "NYC", "2020-01-01", "9999-12-31", True),
                (2, "bob", "SF", "2020-01-01", "9999-12-31", True),
                (2, "bob", "LA", "2019-01-01", "2020-01-01", False),  # history
                (3, "carol", "CHI", "2020-01-01", "9999-12-31", True),
            ],
            "k INT, name STRING, city STRING, valid_from STRING, valid_to STRING, is_current BOOLEAN",
        ).selectExpr("k", "name", "city", "CAST(valid_from AS DATE) valid_from",
                     "CAST(valid_to AS DATE) valid_to", "is_current")

    def test_scd2_merge_semantics(self, spark):
        from amadou_spark.operators.scd import scd2_merge

        updates = spark.createDataFrame(
            [(1, "alice", "BOS"),   # changed city -> close + new version
             (3, "carol", "CHI"),   # unchanged -> untouched
             (4, "dave", "SEA")],   # brand new key
            "k INT, name STRING, city STRING",
        )
        out = scd2_merge(self._current(spark), updates, "k", ["name", "city"], "2024-06-01")
        rows = {(r.k, str(r.valid_from), r.is_current): r for r in out.collect()}

        assert len(rows) == 6  # 4 original (1 closed-out) + 2 new versions
        closed = rows[(1, "2020-01-01", False)]
        assert str(closed.valid_to) == "2024-06-01"
        assert rows[(1, "2024-06-01", True)].city == "BOS"
        assert rows[(3, "2020-01-01", True)].city == "CHI"  # untouched
        assert rows[(4, "2024-06-01", True)].city == "SEA"
        assert rows[(2, "2019-01-01", False)].city == "LA"  # history preserved
        # bob got no update row -> stays current and open
        assert rows[(2, "2020-01-01", True)].city == "SF"

    def test_scd2_merge_is_idempotent(self, spark):
        from amadou_spark.operators.scd import scd2_merge

        updates = spark.createDataFrame([(1, "alice", "BOS")], "k INT, name STRING, city STRING")
        once = scd2_merge(self._current(spark), updates, "k", ["name", "city"], "2024-06-01")
        twice = scd2_merge(once, updates, "k", ["name", "city"], "2024-07-01")
        # second apply of the SAME values changes nothing (no new version)
        assert once.count() == twice.count()


# ---------------------------------------------------------------- sketches


def test_cms_never_underestimates_and_is_tight(spark, sf_dir):
    from pyspark.sql import functions as F

    from amadou_spark.operators.sketch import cms_counters, cms_estimate

    events = load_table(spark, sf_dir, "events")
    counters = cms_counters(events, "user_id")
    cand = events.filter("user_id < 40")
    est = {
        r["user_id"]: r["est_count"]
        for r in cms_estimate(counters, cand, "user_id").collect()
    }
    exact = {
        r["user_id"]: r["n"]
        for r in events.filter("user_id < 40")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    n_total = events.count()
    for k, e in est.items():
        assert e >= exact[k], f"CMS underestimated key {k}"
        # classic CM bound: overestimate <= 2N/width with high prob
        assert e - exact[k] <= 2 * n_total / 1024 + 1


def test_cms_merge_equals_single_build(spark, sf_dir):
    from pyspark.sql import functions as F

    from amadou_spark.operators.sketch import cms_counters, cms_merge

    events = load_table(spark, sf_dir, "events")
    left = events.filter(F.col("event_id") % 2 == 0)
    right = events.filter(F.col("event_id") % 2 == 1)
    merged = cms_merge(cms_counters(left, "user_id"), cms_counters(right, "user_id"))
    single = cms_counters(events, "user_id")
    assert _rows(merged, ["d", "bucket", "n"]) == _rows(single, ["d", "bucket", "n"])


def test_hll_rolling_estimates_within_tolerance(spark, sf_dir):
    from pyspark.sql import functions as F

    from amadou_spark.operators.sketch import hll_daily, hll_rolling_estimate

    events = load_table(spark, sf_dir, "events")
    out = {
        (r["day"].isoformat() if r["day"] else None): r["approx_users"]
        for r in hll_rolling_estimate(hll_daily(events)).collect()
    }
    exact_days = {
        r["day"].isoformat(): r["n"]
        for r in events.select(F.to_date("ts").alias("day"), "user_id")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    exact_total = events.select("user_id").distinct().count()
    assert set(out) == set(exact_days) | {None}
    for day, n in exact_days.items():
        assert abs(out[day] - n) <= max(3, 0.05 * n), (day, out[day], n)
    assert abs(out[None] - exact_total) <= max(3, 0.05 * exact_total)


# ---------------------------------------------------------------- z-order layout


def test_zorder_write_tightens_file_ranges_on_both_columns(spark, sf_dir, tmp_path):
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from amadou_spark.operators.layout import grid_cell, write_zordered, zvalue

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    bounds = li.agg(
        F.min("l_partkey").alias("mn_p"), F.max("l_partkey").alias("mx_p"),
        F.min("l_suppkey").alias("mn_s"), F.max("l_suppkey").alias("mx_s"),
    )
    with_cells = li.crossJoin(F.broadcast(bounds))
    z = zvalue(
        [
            grid_cell(F.col("l_partkey"), F.col("mn_p"), F.col("mx_p")),
            grid_cell(F.col("l_suppkey"), F.col("mn_s"), F.col("mx_s")),
        ]
    )

    zpath, spath = str(tmp_path / "zordered"), str(tmp_path / "singlesort")
    write_zordered(with_cells.select("l_orderkey", "l_partkey", "l_suppkey", "mn_p", "mx_p", "mn_s", "mx_s"), zpath, z, n_files=8)
    # baseline: classic single-column sort layout
    (
        li.repartitionByRange(8, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite")
        .parquet(spath)
    )

    def mean_rel_range(path: str, col: str) -> float:
        import glob

        files = glob.glob(f"{path}/*.parquet")
        assert len(files) >= 4
        stats = []
        for f in files:
            md = pq.ParquetFile(f).metadata
            idx = md.schema.to_arrow_schema().get_field_index(col)
            f_lo = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
            f_hi = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
            stats.append((f_lo, f_hi))
        g_lo = min(s[0] for s in stats)
        g_hi = max(s[1] for s in stats)
        return sum((hi - lo) for lo, hi in stats) / len(stats) / max(1, g_hi - g_lo)

    # single-col sort: partkey tight, suppkey spans ~full domain per file
    assert mean_rel_range(spath, "l_partkey") < 0.35
    assert mean_rel_range(spath, "l_suppkey") > 0.8
    # z-order: BOTH columns substantially narrower than full domain
    assert mean_rel_range(zpath, "l_partkey") < 0.6
    assert mean_rel_range(zpath, "l_suppkey") < 0.6


# ----------------------------------------------------------- range join


def test_interval_join_equals_theta_join(spark, sf_dir):
    """Bucketed plan must produce exactly the theta-join row multiset,
    across bucket widths straddling the interval length (including a
    width where every interval spans several buckets)."""
    from pyspark.sql import functions as F

    from amadou_spark.operators.rangejoin import interval_join

    events = load_table(spark, sf_dir, "events")
    incidents = (
        events.where((F.col("event_type") == "error") & (F.col("value") > 150))
        .select(
            F.col("event_id").alias("iid"),
            F.col("ts").alias("start_ts"),
            (F.col("ts") + F.expr("INTERVAL 47 MINUTES")).alias("end_ts"),
        )
    )
    points = events.select(F.col("event_id").alias("pid"), "ts")
    theta = (
        points.join(
            incidents,
            (F.col("ts") >= F.col("start_ts")) & (F.col("ts") < F.col("end_ts")),
        )
    )
    expect = _rows(theta, ["pid", "iid"])
    assert len(expect) > 0
    for w in (60, 1800, 2820, 7200):
        got = interval_join(
            points, incidents,
            ts_col="ts", start_col="start_ts", end_col="end_ts",
            bucket_seconds=w,
        )
        assert _rows(got, ["pid", "iid"]) == expect, f"bucket_seconds={w}"


def test_interval_join_rejects_column_collision(spark, sf_dir):
    import pytest as _pytest

    from amadou_spark.operators.rangejoin import interval_join

    events = load_table(spark, sf_dir, "events")
    with _pytest.raises(ValueError, match="collision"):
        interval_join(
            events, events,
            ts_col="ts", start_col="ts", end_col="ts", bucket_seconds=60,
        )


def test_interval_join_plan_is_hash_join_not_nested_loop(spark, sf_dir):
    """The entire point of the operator: the physical plan must be a
    hash equi-join on the bucket id, never BroadcastNestedLoop or
    CartesianProduct."""
    from pyspark.sql import functions as F

    from amadou_spark.operators.rangejoin import interval_join

    events = load_table(spark, sf_dir, "events")
    incidents = events.select(
        F.col("event_id").alias("iid"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end_ts"),
    )
    out = interval_join(
        events.select("ts"), incidents,
        ts_col="ts", start_col="start_ts", end_col="end_ts",
        bucket_seconds=1800,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


# ------------------------------------------------------------- pagerank


_PR_PAIRS = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
_PR_SYM = _PR_PAIRS + [(d, s) for s, d in _PR_PAIRS]


def _pagerank_reference(sym, n_iter=3, damping=0.85):
    """Dense numpy power iteration over edge list ``sym``: node -> rank."""
    import numpy as np

    nodes = sorted({n for p in sym for n in p})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = np.zeros(n)
    for s, _ in sym:
        out[idx[s]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        contrib = np.zeros(n)
        for s, d in sym:
            contrib[idx[d]] += r[idx[s]] / out[idx[s]]
        r = (1 - damping) / n + damping * contrib
    return {name: r[idx[name]] for name in nodes}


def _assert_pagerank_matches(got, want):
    assert set(got) == set(want)
    for name in want:
        assert abs(got[name] - want[name]) < 1e-12, name
    # ranks of a stochastic-ish vector stay positive and bounded
    assert all(0 < v < 1 for v in got.values())


@pytest.mark.parametrize("gate", [0, 2_000_000])
def test_pagerank_matches_numpy_reference(spark, gate):
    """Both physical strategies (distributed loop with the local gate at
    0, local numpy kernel at the default gate) must equal the dense
    numpy power iteration on a small known graph (symmetrized, so no
    dangling nodes)."""
    from unittest import mock

    from amadou_spark.operators import graph
    from amadou_spark.operators.graph import pagerank

    edges = spark.createDataFrame(_PR_SYM, ["src", "dst"])
    with mock.patch.object(graph, "LOCAL_GRAPH_MAX_EDGES", gate):
        got = dict(pagerank(edges, n_iter=3).collect())
    _assert_pagerank_matches(got, _pagerank_reference(_PR_SYM))


def test_pagerank_unhinted_rounds_match_numpy_reference(spark, both_paths):
    """With the broadcast gate at 0 the distributed rounds join the
    rank and contribution tables unhinted (the branch for vertex sets
    too large to broadcast); both paths must still equal the numpy
    reference."""
    from unittest import mock

    from amadou_spark import scale
    from amadou_spark.operators.graph import pagerank

    edges = spark.createDataFrame(_PR_SYM, ["src", "dst"])
    want = _pagerank_reference(_PR_SYM)
    with mock.patch.object(scale, "BROADCAST_ROWS_GATE", 0):
        for got in both_paths(lambda: dict(pagerank(edges, n_iter=3).collect())):
            _assert_pagerank_matches(got, want)


def test_cc_star_matches_unionfind_on_random_graph(spark, both_paths):
    """large-star/small-star (distributed, the local gate patched to 0)
    must equal the driver's hook-and-jump components on a seeded random
    graph."""
    import random

    from amadou_spark.operators.graph import connected_components

    rng = random.Random(7)
    pairs = list({
        tuple(sorted(rng.sample(range(48), 2))) for _ in range(60)
    })
    edges = spark.createDataFrame(pairs, ["id_a", "id_b"])
    want, got = both_paths(
        lambda: dict(connected_components(edges).collect())
    )
    assert got == want


def test_cc_self_loop_node_all_strategies_agree(spark, both_paths):
    """A node whose only edge is a self-loop is 'a node in edges': the
    local components and the star contraction must both return it as
    its own singleton cluster (the star path's edge orientation drops
    self-loops)."""
    from amadou_spark.operators.graph import connected_components

    edges = spark.createDataFrame([(0, 1), (7, 7)], ["id_a", "id_b"])
    expect = {0: 0, 1: 0, 7: 7}
    for got in both_paths(lambda: dict(connected_components(edges).collect())):
        assert got == expect


def test_cc_long_path_fallback_converges(spark):
    """Distributed connected components on a 16-hop path (diameter
    16, where min-label propagation would need 16 rounds) must label
    every node with the path's minimum id."""
    from unittest import mock

    from amadou_spark.operators import graph
    from amadou_spark.operators.graph import connected_components

    n = 16
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["id_a", "id_b"]
    )
    with mock.patch.object(graph, "LOCAL_GRAPH_MAX_EDGES", 0):
        got = dict(connected_components(edges).collect())
    assert got == {i: 0 for i in range(n + 1)}


def test_hash_not_sort_reads_spark_parsed_broadcast_threshold(spark):
    """The broadcast gate reads the threshold Spark itself parsed, so
    every byte-size suffix counts: a 100 MB build side sits far below
    "1t" (1 TB, not a 10 MB fallback) and stays unhinted; with
    broadcast disabled it is always shuffle_hash-hinted."""
    from amadou_spark.operators.graph import _hash_not_sort
    from amadou_spark.session import conf_scope

    df = spark.range(1)
    key = "spark.sql.autoBroadcastJoinThreshold"
    with conf_scope(spark, {key: "1t"}):
        assert _hash_not_sort(df, df, 100 << 20, spark) is df
    with conf_scope(spark, {key: "-1"}):
        hinted = _hash_not_sort(df, df, 100 << 20, spark)
    assert hinted is not df
    assert "shuffle_hash" in hinted._jdf.queryExecution().logical().toString()


_K4_TAIL = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)]


@pytest.mark.parametrize(
    "op",
    [
        "triangle_stats",
        "local_clustering",
        "bfs_levels",
        "kcore",
        "adamic_adar",
        "label_propagation",
    ],
)
def test_undirected_ops_ignore_messy_edges(spark, both_paths, op):
    """Every undirected operator returns the same rows for a messy edge
    list (reversed duplicates, repeated edges, self-loops — one on a
    node with no other edge) as for its canonical u < v form, on both
    of its physical paths where it has two."""
    from amadou_spark.operators import graph

    fn = getattr(graph, op)
    kwargs = {"k": 2} if op == "kcore" else {}
    messy = (
        _K4_TAIL
        + [(v, u) for u, v in _K4_TAIL[::2]]
        + _K4_TAIL[:3]
        + [(2, 2), (6, 6), (9, 9)]
    )

    def rows(pairs):
        df = spark.createDataFrame(pairs, "u int, v int")
        return both_paths(
            lambda: sorted(tuple(r) for r in fn(df, **kwargs).collect())
        )

    canonical, canonical_dist = rows(_K4_TAIL)
    assert canonical  # every operator has output on this graph
    assert canonical_dist == canonical
    assert rows(messy) == (canonical, canonical)


#: each operator over an edge frame with columns (u, v, w)
_NULL_CASES = {
    "connected_components": lambda g, df: g.connected_components(df, "u", "v"),
    "pagerank": lambda g, df: g.pagerank(df, "u", "v"),
    "hits": lambda g, df: g.hits(df.selectExpr("u AS src", "v AS dst")),
    "sssp": lambda g, df: g.sssp(df.selectExpr("u AS src", "v AS dst", "w")),
    "bfs_levels": lambda g, df: g.bfs_levels(df),
    "kcore": lambda g, df: g.kcore(df, k=2),
    "label_propagation": lambda g, df: g.label_propagation(df),
}


@pytest.mark.parametrize("op", sorted(_NULL_CASES))
def test_graph_ops_ignore_null_endpoints(spark, both_paths, op):
    """An edge with a NULL endpoint is ignored by every fixpoint
    operator on both paths: the rows and the output schema equal those
    of the NULL-free edge list, and no NULL id comes out. A NULL that
    reached the driver would arrive as float64 NaN, on which a min-label
    loop never settles (``nan != nan``) and ids come out DOUBLE. An
    sssp edge with a NULL weight is ignored too."""
    from amadou_spark.operators import graph

    clean = [(1, 2, 1), (2, 3, 1), (3, 1, 1), (3, 4, 1), (4, 1, 1)]
    dirty = clean + [(1, None, 1), (None, 4, 1), (None, None, 1), (2, 9, None)]
    if op != "sssp":
        dirty = dirty[:-1]  # a NULL weight is an sssp-only case

    def run(pairs):
        df = spark.createDataFrame(pairs, "u long, v long, w long")
        out = _NULL_CASES[op](graph, df)
        rows = (
            tuple(round(x, 12) if isinstance(x, float) else x for x in r)
            for r in out.collect()
        )
        return out.schema.simpleString(), sorted(rows)

    want, want_dist = both_paths(lambda: run(clean))
    assert want[1] and want == want_dist
    got, got_dist = both_paths(lambda: run(dirty))
    assert got == got_dist == want
    assert all(None not in row for row in got[1])


def test_pagerank_dangling_node_same_universe_both_paths(spark, both_paths):
    """An out-of-contract dangling node (only ever a dst) must be
    treated identically by the local numpy path and the distributed
    loop — excluded from the node set and from the 1/N normalization —
    so the size gate can never flip the answer."""
    from amadou_spark.operators.graph import pagerank

    pairs = [("a", "b"), ("b", "a"), ("a", "zzz_dangling")]
    edges = spark.createDataFrame(pairs, ["src", "dst"])
    local, dist = both_paths(lambda: dict(pagerank(edges, n_iter=3).collect()))
    assert set(local) == set(dist) == {"a", "b"}
    for node in local:
        assert abs(local[node] - dist[node]) < 1e-12, node


# ------------------------------------------------------------ compaction
def test_compaction_plan_and_rewrite(spark, tmp_path):
    """64 tiny files → inventoried without reading content, planned to
    a >=2x-smaller layout, rewritten shuffle-free with identical rows."""
    from amadou_spark.operators.compact import compact, plan_compaction

    src = str(tmp_path / "small")
    dest = str(tmp_path / "compacted")
    from pyspark.sql import functions as F

    spark.range(10_000).withColumn("v", F.lit(7)).repartition(64).write.mode(
        "overwrite"
    ).parquet(src)

    import glob as _glob

    n_src = len(_glob.glob(src + "/*.parquet"))
    assert n_src == 64
    total = sum(
        len(open(f, "rb").read()) for f in _glob.glob(src + "/*.parquet")
    )
    plan = plan_compaction(spark, src, target_bytes=total // 4 + 1)
    assert plan.n_files == 64
    assert plan.total_bytes == total
    assert plan.target_files in (4, 5)
    assert plan.worthwhile

    applied = compact(spark, src, dest, target_bytes=total // 4 + 1)
    assert applied.target_files == plan.target_files
    n_dest = len(_glob.glob(dest + "/*.parquet"))
    assert n_dest == plan.target_files
    a = spark.read.parquet(src).orderBy("id").collect()
    b = spark.read.parquet(dest).orderBy("id").collect()
    assert a == b


def test_compaction_not_worthwhile_for_few_files(spark, tmp_path):
    from amadou_spark.operators.compact import plan_compaction

    src = str(tmp_path / "big")
    spark.range(1000).coalesce(2).write.mode("overwrite").parquet(src)
    plan = plan_compaction(spark, src, target_bytes=1)  # 1 byte → no shrink
    assert plan.n_files == 2 and not plan.worthwhile


# --- clustering: distributed Lloyd's + JL projection -------------------


def _toy_vectors(spark, n_per=20):
    """Three well-separated planted clusters in 4-D."""
    from pyspark.sql import functions as F

    rows = []
    centers = [(0.0, 0.0, 0.0, 0.0), (10.0, 10.0, 0.0, 0.0), (0.0, 0.0, 10.0, 10.0)]
    i = 0
    for cx in centers:
        for d in range(n_per):
            # deterministic jitter in [-0.5, 0.5)
            jit = [((d * 7 + k * 3) % 10) / 10.0 - 0.5 for k in range(4)]
            rows.append((i, [cx[k] + jit[k] for k in range(4)]))
            i += 1
    return spark.createDataFrame(rows, "vec_id bigint, v array<double>")


def test_kmeans_recovers_planted_clusters(spark):
    from amadou_spark.operators.clustering import kmeans

    df = _toy_vectors(spark)
    out = kmeans(df, "vec_id", "v", k=3, rounds=4).collect()
    assert len(out) == 60
    # each planted block of 20 ids lands in ONE cluster, blocks differ
    blocks = {}
    for r in out:
        blocks.setdefault(r.vec_id // 20, set()).add(r.cluster)
    assert all(len(s) == 1 for s in blocks.values()), blocks
    assert len({next(iter(s)) for s in blocks.values()}) == 3
    # every reported dist is the distance to the best centroid: small
    # within a tight planted cluster
    assert all(r.dist < 2.0 for r in out)


def test_kmeans_assignment_is_nearest_centroid(spark):
    """Brute-force check: the (cluster, dist) pair returned equals the
    argmin over the final centroid set recomputed independently."""
    import math

    from amadou_spark.operators.clustering import (
        assign_to_centroids,
        kmeans,
    )

    df = _toy_vectors(spark, n_per=10)
    out = {r.vec_id: (r.cluster, r.dist) for r in kmeans(df, "vec_id", "v", k=3, rounds=2).collect()}
    # recompute final centroids from the returned assignment
    rows = df.collect()
    vecs = {r.vec_id: r.v for r in rows}
    agg = {}
    for vid, (cid, _) in out.items():
        agg.setdefault(cid, []).append(vecs[vid])
    cents = {
        cid: [round(sum(v[k] for v in vs) / len(vs), 6) for k in range(4)]
        for cid, vs in agg.items()
    }
    for vid, (cid, dist) in out.items():
        best = min(
            (round(math.sqrt(sum((a - b) ** 2 for a, b in zip(vecs[vid], c))), 6), k)
            for k, c in cents.items()
        )
        # fixed-point: the returned assignment is the nearest of the
        # centroids induced by that assignment (converged on this toy)
        assert (best[1], best[0]) == (cid, dist), vid


def test_kmeans_empty_cluster_drops_out(spark):
    from amadou_spark.operators.clustering import kmeans

    # k=4 over 3 tight planted clusters: one centroid starves; result
    # must still cover every point with <=4 cluster ids
    df = _toy_vectors(spark, n_per=5)
    out = kmeans(df, "vec_id", "v", k=4, rounds=3).collect()
    assert len(out) == 15
    assert len({r.cluster for r in out}) <= 4


def test_kmeans_survives_non_finite_coordinates(spark):
    """r10 regression guard: the SQL-text literal emitter must handle
    non-finite doubles (one NaN coordinate makes a round-1 centroid
    mean NaN; a bare ``nanD`` token would lex as an identifier and
    crash the parse — the F.lit path it replaced built valid NaN
    literals)."""
    from amadou_spark.operators.clustering import _double_sql, kmeans

    assert _double_sql(float("nan")) == "CAST('NaN' AS DOUBLE)"
    assert _double_sql(float("inf")) == "CAST('Infinity' AS DOUBLE)"
    assert _double_sql(float("-inf")) == "CAST('-Infinity' AS DOUBLE)"
    df = _toy_vectors(spark, n_per=4)
    bad = spark.createDataFrame(
        [(999, [float("nan"), 0.0, 0.0, 0.0])],
        "vec_id bigint, v array<double>",
    )
    out = kmeans(df.union(bad), "vec_id", "v", k=3, rounds=2).collect()
    assert len(out) == 13  # plan builds and every row (incl. NaN) lands


def test_random_projection_preserves_relative_distance(spark):
    """JL property smoke: far pairs stay far relative to near pairs
    after 64 -> 16 sign projection."""
    import math

    from pyspark.sql import functions as F

    from amadou_spark.operators.clustering import random_projection

    base = [float((i * 13 + 7) % 10) / 10.0 for i in range(64)]
    near = [x + 0.01 for x in base]
    far = [x + 5.0 if i % 2 == 0 else x - 5.0 for i, x in enumerate(base)]
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, far)], "vec_id bigint, v array<double>"
    )
    got = {
        r.vec_id: r.p
        for r in df.select(
            "vec_id",
            random_projection("v", out_dim=16, in_dim=64).alias("p"),
        ).collect()
    }
    d = lambda a, b: math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))  # noqa: E731
    assert d(got[0], got[1]) < d(got[0], got[2]) / 10


def test_jl_sign_matrix_is_balanced_and_portable(spark):
    """The derived sign matrix matches DuckDB's md5 spelling entry for
    entry and is roughly sign-balanced."""
    import duckdb

    from amadou_spark.operators.clustering import jl_sign

    con = duckdb.connect()
    sql = con.sql(
        """
        SELECT CAST(i.range AS INT) AS i, CAST(j.range AS INT) AS j,
               CASE WHEN ascii(substr(md5(i.range || ':' || j.range), 1, 1))
                         % 2 = 0 THEN 1 ELSE -1 END AS s
        FROM range(16) i, range(64) j
        """
    ).fetchall()
    for i, j, s in sql:
        assert jl_sign(i, j) == s, (i, j)
    total = sum(s for _, _, s in sql)
    assert abs(total) < 200  # not degenerate all-ones


def test_kmeans_matches_pure_python_lloyds(spark):
    """Property-style pin: on pseudo-random vector sets the distributed
    kmeans agrees EXACTLY (cluster and rounded dist) with a pure-Python
    Lloyd's reference implementing the same determinism contract
    (lowest-id init, 6-decimal rounding, lowest-cid tiebreak)."""
    import math

    def ref_kmeans(vecs, k, rounds):
        ids = sorted(vecs)
        cents = {i: list(vecs[vid]) for i, vid in enumerate(ids[:k])}

        def assign(cents):
            out = {}
            for vid, v in vecs.items():
                best = min(
                    (
                        round(
                            math.sqrt(sum((a - b) ** 2 for a, b in zip(v, c))),
                            6,
                        ),
                        cid,
                    )
                    for cid, c in cents.items()
                )
                out[vid] = (best[1], best[0])
            return out

        for _ in range(rounds):
            a = assign(cents)
            groups = {}
            for vid, (cid, _) in a.items():
                groups.setdefault(cid, []).append(vecs[vid])
            cents = {
                cid: [
                    round(sum(v[i] for v in vs) / len(vs), 6)
                    for i in range(len(vs[0]))
                ]
                for cid, vs in groups.items()
            }
        return assign(cents)

    from amadou_spark.operators.clustering import kmeans

    # three pseudo-random datasets from a hash-derived stream
    for seed in (1, 2, 3):
        vecs = {}
        state = seed
        for vid in range(37):
            v = []
            for _ in range(5):
                state = (state * 1103515245 + 12345) % (2**31)
                v.append((state % 2000) / 100.0 - 10.0)
            vecs[vid] = v
        df = spark.createDataFrame(
            [(vid, v) for vid, v in sorted(vecs.items())],
            "vec_id bigint, v array<double>",
        )
        got = {
            r.vec_id: (r.cluster, r.dist)
            for r in kmeans(df, "vec_id", "v", k=4, rounds=3).collect()
        }
        want = ref_kmeans(vecs, k=4, rounds=3)
        assert got == want, f"seed {seed}"


def test_exact_heavy_hitters_partitioning_invariant(spark, sf_dir):
    """The Misra-Gries candidate SET depends on partitioning; the
    exact-heavy-hitters RESULT must not. Re-partitioning the input
    three wildly different ways must give the identical answer, and
    that answer must equal the naive groupBy-then-filter."""
    from pyspark.sql import functions as F

    from amadou_spark.catalog import load_table
    from amadou_spark.operators.sketch import exact_heavy_hitters

    toks = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.col("text"), " ")).alias("t"))
        .filter(F.col("t") != "")
    )
    results = []
    for arranged in (toks, toks.repartition(1), toks.repartition(17, "t")):
        rows = sorted(
            (r["t"], r["cnt"])
            for r in exact_heavy_hitters(arranged, "t", 0.01).collect()
        )
        results.append(rows)
    assert results[0] == results[1] == results[2]
    n = toks.count()
    naive = sorted(
        (r["t"], r["cnt"])
        for r in toks.groupBy("t")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > n * 0.01)
        .collect()
    )
    assert results[0] == naive
    # the guarantee precondition is enforced
    import pytest as _pytest

    with _pytest.raises(ValueError):
        exact_heavy_hitters(toks, "t", threshold_frac=0.001, n_counters=10)
