"""Scale-helper tests: salted join/aggregate equivalence with the plain
versions, bucketed-write shuffle elimination."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from amadou_spark.catalog import load_table
from amadou_spark.scale import salted_aggregate, salted_join, write_bucketed


def test_salted_join_equals_plain_join(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = load_table(spark, sf_dir, "customer").selectExpr(
        "c_custkey AS o_custkey", "c_name"
    )
    plain = orders.join(customer, "o_custkey").select("o_orderkey", "c_name")
    salted = salted_join(orders, customer, on="o_custkey").select("o_orderkey", "c_name")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_aggregate_equals_plain(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    plain = {
        (r.l_returnflag,): (r.n, round(r.s, 2))
        for r in li.groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("s"))
        .collect()
    }
    salted = {
        (r.l_returnflag,): (r.n, round(r.s, 2))
        for r in salted_aggregate(
            li,
            ["l_returnflag"],
            [
                ("l_quantity", F.count, F.sum, "n"),
                ("l_quantity", F.sum, F.sum, "s"),
            ],
        ).collect()
    }
    assert plain == salted


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    # warehouse dir is static config — tables land in ./spark-warehouse
    # and are dropped in the finally block
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    write_bucketed(orders, "b_orders", "o_custkey", 8)
    write_bucketed(customer, "b_customer", "c_custkey", 8)
    joined = (
        spark.table("b_orders")
        .join(
            spark.table("b_customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("o_orderkey", "c_name")
    )
    # disable broadcast so the join strategy is key-based, then check the
    # bucketed tables co-locate with NO Exchange in the plan
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:2000]
        assert joined.count() == load_table(spark, sf_dir, "orders").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_runtime_bloom_filter_prunes_shuffle_join(spark, sf_dir):
    """When the dim side of a shuffle join is selectively filtered,
    Catalyst injects a bloom filter on the fact side (fact rows that
    can't match are dropped BEFORE the shuffle) — the shuffle-join
    analog of broadcast pruning, and a first-order win at 100 TB where
    the fact side dwarfs every dim. Pinned here so a conf regression
    can't silently lose it."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # thresholds are tuned for real clusters (10 GB app-side scan);
        # lower them so the sf0.001 fixture qualifies
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        dim = (
            load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey")
        )
        fact = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
        joined = fact.join(dim, fact.l_orderkey == dim.o_orderkey)
        plan = joined._jdf.queryExecution().optimizedPlan().toString().lower()
        assert "bloom_filter_agg" in plan and "might_contain" in plan, plan[:2000]
        assert joined.count() > 0
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)


def test_materialize_shared_lineage_cut_and_values(spark):
    """materialize_shared returns the same rows behind a lineage-cut
    plan (LogicalRDD/checkpoint scan, no trace of the original scan),
    so iterative loops can't accumulate exponentially-growing plans."""
    from amadou_spark.scale import materialize_shared

    df = spark.range(50).selectExpr("id", "id * 2 AS twice")
    out = materialize_shared(df)
    assert sorted(r.twice for r in out.collect()) == sorted(
        r.twice for r in df.collect()
    )
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "Range" not in analyzed, analyzed[:500]


def test_adamic_adar_hub_blocking_bounds_key_width(spark):
    """Planted-hub skew fixture (VERDICT r4 #2): a star of degree 240
    must NOT put its 240-wide adjacency under one wedge-join key. The
    blocked adjacency splits it into ceil(240/32)=8 hash blocks whose
    sizes stay within 3x the chunk target (hash balance), so no join
    key — and hence no single task — reads more than ~3x the mean.
    Correctness on the same fixture: every leaf pair scores exactly
    1/ln(240) with one common neighbor, C(240,2) pairs in total."""
    import math

    from amadou_spark.operators.graph import _blocked_adjacency, adamic_adar

    n = 240
    chunk = 32
    star = spark.createDataFrame(
        [(0, i) for i in range(1, n + 1)], "u long, v long"
    )
    sym = star.selectExpr("u as src", "v as dst").union(
        star.selectExpr("v as src", "u as dst")
    )
    blocks = (
        _blocked_adjacency(sym, chunk)
        .filter(F.col("src") == 0)
        .groupBy("blk")
        .count()
        .collect()
    )
    n_blocks = len(blocks)
    assert n_blocks == math.ceil(n / chunk)
    assert max(r["count"] for r in blocks) <= 3 * chunk
    # no block lost: the hub's full adjacency is partitioned, not capped
    assert sum(r["count"] for r in blocks) == n

    scored = adamic_adar(star, chunk=chunk).collect()
    assert len(scored) == n * (n - 1) // 2
    w = round(1.0 / math.log(n), 6)
    assert all(
        r.adamic_adar == w and r.common_neighbors == 1 for r in scored
    )


def test_bloom_prune_drops_nonmatching_rows_and_keeps_all_matches(spark, sf_dir):
    """bloom_prune must (a) keep EVERY fact row whose key appears in
    the dim set (no false negatives — a Bloom filter property, and the
    correctness contract), and (b) actually prune: the oracle gate
    can't see pruning because the exact join removes false positives
    either way, so the plan property is pinned here."""
    from amadou_spark.scale import bloom_prune

    li = load_table(spark, sf_dir, "lineitem")
    dim = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 8000)
        .select("s_suppkey")
    )
    pruned = bloom_prune(li, dim, "l_suppkey", "s_suppkey")
    n_fact = li.count()
    n_pruned = pruned.count()
    n_match = li.join(dim, F.col("l_suppkey") == F.col("s_suppkey")).count()
    # no false negatives: every matching row survives the bloom
    assert (
        pruned.join(dim, F.col("l_suppkey") == F.col("s_suppkey")).count()
        == n_match
    )
    # real pruning: strictly fewer rows than the raw fact (the dim
    # filter is selective in every sf fixture), superset of matches
    assert n_match <= n_pruned < n_fact


def test_bloom_prune_null_keys_and_autosizing(spark):
    """r5 ADVICE: (a) a NULL dim key must not crash the build (it
    previously became a NULL map key — runtime error in
    map_from_entries) and must simply be ignored; (b) NULL fact keys
    pass through (superset semantics for outer-join callers); (c) the
    default filter is sized from the dim count, so a dim set far
    beyond the old fixed 8192 bits still prunes instead of
    saturating to fpp~1."""
    from amadou_spark.scale import bloom_prune

    dim = spark.createDataFrame(
        [(1,), (2,), (None,)], "k int"
    ).select(F.col("k").alias("dk"))
    fact = spark.createDataFrame(
        [(1, "a"), (3, "b"), (None, "c")], "fk int, v string"
    )
    got = bloom_prune(fact, dim, "fk", "dk")
    rows = {(r.fk, r.v) for r in got.collect()}
    assert (1, "a") in rows  # match kept
    assert (None, "c") in rows  # NULL fact key passes through
    # (3, 'b') may survive only as a bloom false positive — with 2
    # keys in 8192 bits fpp is ~1e-9, so it is gone in practice
    assert (3, "b") not in rows

    # auto-sizing: 60k keys >> old 8192-bit default; disjoint probe
    # set must still be pruned hard (saturated filter would keep all)
    big_dim = spark.range(60_000).select(F.col("id").alias("dk"))
    probe = spark.range(200_000, 230_000).select(F.col("id").alias("fk"))
    kept = bloom_prune(probe, big_dim, "fk", "dk").count()
    assert kept < 3_000  # fpp ~2% at 12 bits/key; saturation => 30k


def test_global_rank_matches_window_row_number(spark):
    """global_rank (two-phase range rank) must equal the unpartitioned
    row_number window exactly — on duplicate-heavy keys, nulls (NULLS
    FIRST default both paths), and more partitions than rows."""
    from pyspark.sql import Window as W

    from amadou_spark.scale import global_rank

    rows = [
        (i, v)
        for i, v in enumerate(
            [5, 3, 3, None, 8, 1, 3, None, 5, 2, 9, 0, 5] * 7
        )
    ]
    df = spark.createDataFrame(rows, "id int, k int")
    got = {
        r["id"]: r["rk"]
        for r in global_rank(df, ["k", "id"], "rk", num_partitions=16)
        .collect()
    }
    want = {
        r["id"]: r["rk"]
        for r in df.withColumn(
            "rk",
            F.row_number().over(W.orderBy("k", "id")).cast("bigint"),
        ).collect()
    }
    assert got == want
    # deterministic_input=True (skip the materialize) must produce the
    # same exact ranks: the counts branch and the rank branch share the
    # stamped subtree (ReuseExchange), so offsets always line up.  Run
    # it twice — a re-evaluation may not disagree with itself either.
    for _ in range(2):
        got_det = {
            r["id"]: r["rk"]
            for r in global_rank(
                df,
                ["k", "id"],
                "rk",
                num_partitions=16,
                deterministic_input=True,
            ).collect()
        }
        assert got_det == want
    # more partitions than rows: offsets must still be exact
    tiny = spark.createDataFrame([(1, "b"), (2, "a")], "id int, k string")
    got2 = sorted(
        (r["k"], r["rk"])
        for r in global_rank(tiny, ["k"], "rk", num_partitions=8).collect()
    )
    assert got2 == [("a", 1), ("b", 2)]


def test_ntile_from_rank_matches_spark_ntile(spark):
    """Closed-form ntile sizing must agree with Spark's ntile() for
    every (n, k) shape — including n < k, n % k != 0, and k = 1."""
    from pyspark.sql import Window as W

    from amadou_spark.scale import ntile_from_rank

    for n, k in [(1, 4), (3, 10), (7, 4), (8, 4), (9, 4), (100, 7), (5, 1)]:
        df = spark.range(n).select(F.col("id"))
        w = W.orderBy("id")
        both = df.select(
            F.ntile(k).over(w).alias("want"),
            ntile_from_rank(
                F.row_number().over(w).cast("bigint"),
                F.lit(n).cast("bigint"),
                k,
            ).alias("got"),
        ).collect()
        for r in both:
            assert r["got"] == r["want"], (n, k, r)


def test_bounded_domain_ntile_matches_spark_ntile(spark):
    """bounded_domain_ntile must equal the unpartitioned
    ntile(k) OVER (ORDER BY value, tiebreak) window exactly — on
    duplicate-heavy values (tie runs straddling bucket boundaries),
    k > distinct values, and n % k != 0."""
    from pyspark.sql import Window as W

    from amadou_spark.scale import bounded_domain_ntile

    vals = [5, 3, 3, 7, 8, 1, 3, 3, 5, 2, 9, 0, 5, 3, 3, 7] * 5
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id int, v int")
    for k in (1, 3, 4, 7, 50):
        got = {
            r["id"]: r["b"]
            for r in bounded_domain_ntile(df, [("v", ["id"], k, "b")]).collect()
        }
        want = {
            r["id"]: r["b"]
            for r in df.withColumn(
                "b", F.ntile(k).over(W.orderBy("v", "id"))
            ).collect()
        }
        assert got == want, f"k={k}"


def test_bounded_domain_ntile_many_measures(spark):
    """Several specs in one call: each output column must equal its own
    ntile(k) OVER (ORDER BY value, tiebreaks) window, including rows
    whose tie run crosses a bucket boundary in one measure but sits
    inside one bucket in another (those rows take the tie-break path
    for the crossing measure only)."""
    import datetime

    from pyspark.sql import Window as W

    from amadou_spark.scale import bounded_domain_ntile

    rows = [
        (
            i,
            i % 4,
            (i * 7) % 11,
            (i * 13) % 17,
            datetime.date(2020, 1, 1) + datetime.timedelta(days=i // 7),
        )
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "id int, a long, b int, x int, d date")
    specs = [
        ("a", ["id"], 3, "ra"),
        ("b", ["x", "id"], 4, "rb"),
        ("d", ["id"], 7, "rd"),
    ]
    got = {
        r["id"]: r for r in bounded_domain_ntile(df, specs).collect()
    }
    assert len(got) == len(rows)
    crossing = {}
    for value_col, tiebreaks, k, out in specs:
        want = {
            r["id"]: (r[value_col], r["w"])
            for r in df.withColumn(
                "w", F.ntile(k).over(W.orderBy(value_col, *tiebreaks))
            ).collect()
        }
        assert {i: r[out] for i, r in got.items()} == {
            i: w for i, (_, w) in want.items()
        }, out
        buckets: dict = {}
        for v, w in want.values():
            buckets.setdefault(v, set()).add(w)
        crossing[out] = {
            i for i, (v, _) in want.items() if len(buckets[v]) > 1
        }
    # the data exercises mixed rows: a crossing run in one measure,
    # an inside run in another
    assert crossing["ra"] - crossing["rb"]
    assert crossing["rb"] - crossing["ra"]
    assert crossing["rd"] - crossing["ra"]


def test_bounded_domain_ntile_rejects_null_measure(spark):
    """A NULL in a measure has no rank: the call must raise a
    ValueError naming the column, not drop the row from the output
    and shift every other row's bucket."""
    import pytest

    from amadou_spark.scale import bounded_domain_ntile

    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30), (4, 40)], "id int, a long"
    )
    with pytest.raises(ValueError, match="'a'"):
        bounded_domain_ntile(df, [("a", ["id"], 3, "b")]).collect()


def test_bounded_domain_ntile_plan_has_no_single_partition_sort(spark):
    """The whole point of the helper: the plan must carry no
    Exchange SinglePartition feeding a Sort/Window (the boundary-run
    tie-break window partitions by value, never globally)."""
    from amadou_spark.oracle import single_partition_sort_exchanges
    from amadou_spark.scale import bounded_domain_ntile

    df = spark.range(500).select(
        F.col("id"), (F.col("id") % 13).alias("v")
    )
    out = bounded_domain_ntile(df, [("v", ["id"], 4, "b")])
    out.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert single_partition_sort_exchanges(plan) == []


def test_bounded_domain_ntile_monotone_coarsening(spark):
    """The q118/q160 trick: ntile(ORDER BY x, pk) must equal
    bounded_domain_ntile over the COARSENED value floor(x/g) with
    (x, pk) as the tie-break — for any monotone grid g, including
    grids so coarse every run crosses a boundary."""
    from pyspark.sql import Window as W

    from amadou_spark.scale import bounded_domain_ntile

    vals = [1703, 992, 992, 4410, 318, 992, 7002, 4410, 55, 318] * 7
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id int, x int").withColumn(
        "g", F.floor(F.col("x") / 1000).cast("bigint")
    )
    for k in (3, 4, 10):
        got = {
            r["id"]: r["b"]
            for r in bounded_domain_ntile(
                df, [("g", ["x", "id"], k, "b")]
            ).collect()
        }
        want = {
            r["id"]: r["b"]
            for r in df.withColumn(
                "b", F.ntile(k).over(W.orderBy("x", "id"))
            ).collect()
        }
        assert got == want, f"k={k}"


def test_ntile_domain_tables_local_matches_cluster_side(spark):
    """The local-relation lookup tables must match Spark's own ntile()
    window: per value, ``c`` is its row count, ``before`` the rows with
    a smaller value, ``lo``/``hi`` the smallest and largest bucket its
    rows get — across integer and date domains and bucket counts. The
    table must plan as a LocalTableScan (the whole point: the
    broadcast builds with no job)."""
    import datetime

    from pyspark.sql import Window as W

    from amadou_spark.scale import ntile_domain_tables_local

    vals = [7, 1, 7, 3, 9, 1, 1, 12, 3, 7, 7, 2] * 5
    rows = [
        (i, v, datetime.date(2020, 1, 1) + datetime.timedelta(days=v))
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "id int, v long, d date")
    for col, k in (("v", 4), ("v", 3), ("d", 4)):
        per_value = (
            df.withColumn("b", F.ntile(k).over(W.orderBy(col, "id")))
            .groupBy(col)
            .agg(
                F.count("*").alias("c"),
                F.min("b").alias("lo"),
                F.max("b").alias("hi"),
            )
            .orderBy(col)
            .collect()
        )
        want, before = [], 0
        for r in per_value:
            want.append((r[col], r["c"], len(rows), before, r["lo"], r["hi"]))
            before += r["c"]
        local = ntile_domain_tables_local(df, [(col, k, "p")])["p"]
        assert local.columns == [
            "p_v", "p_c", "p_n", "p_before", "p_lo", "p_hi"
        ]
        got = sorted(map(tuple, local.collect()))
        assert got == want, (col, k)
        assert "LocalTableScan" in local._jdf.queryExecution().executedPlan().toString()


def test_ntile_domain_tables_local_one_melt_many_measures(spark):
    """Several measures share ONE collect; each table matches its
    single-measure twin."""
    from amadou_spark.scale import ntile_domain_tables_local

    rows = [(i, i % 5, (i * 7) % 11) for i in range(97)]
    df = spark.createDataFrame(rows, "id int, a long, b long")
    tabs = ntile_domain_tables_local(df, [("a", 4, "a"), ("b", 3, "b")])
    for col, k, p in (("a", 4, "a"), ("b", 3, "b")):
        single = sorted(
            map(
                tuple,
                ntile_domain_tables_local(df, [(col, k, p)])[p].collect(),
            )
        )
        assert sorted(map(tuple, tabs[p].collect())) == single


def test_ntile_domain_tables_local_rejects_nulls_by_name(spark):
    """A NULL in the measure column must raise a
    ValueError NAMING the column, not the opaque None-vs-int
    TypeError sorted() used to throw."""
    import pytest

    from amadou_spark.scale import ntile_domain_tables_local

    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "id int, a long"
    )
    with pytest.raises(ValueError, match="'a'"):
        ntile_domain_tables_local(df, [("a", 4, "a")])


def test_conf_scope_restores_set_and_unset_keys(spark):
    """conf_scope must put an explicitly set key back to its old value
    and restore a previously UNSET key to UNSET (not re-set it to its
    effective default): the registry-wide conf-leak gate diffs the
    EXPLICIT conf map, so flipping a key from implicit to explicit is a
    leak. The restore also runs on an exception, and nested scopes on
    one key unwind to the original value."""
    from amadou_spark.scale import GATE_CONFS, loop_confs
    from amadou_spark.session import conf_scope

    aqe = "spark.sql.adaptive.enabled"
    width = "spark.sql.shuffle.partitions"
    codegen = "spark.sql.codegen.wholeStage"
    assert loop_confs(spark, 10) == {aqe: "false", width: "1", codegen: "false"}

    def explicit(k):
        # RuntimeConfig.get(k, None) is None only for unset keys
        return spark.conf.get(k, None)

    unset_key = "spark.sql.amadou.test.unsetKey"
    set_key = "spark.sql.amadou.test.setKey"
    spark.conf.set(set_key, "old")
    try:
        keys = [aqe, width, codegen, unset_key, set_key]
        before = {k: explicit(k) for k in keys}
        assert before[unset_key] is None and before[set_key] == "old"

        with conf_scope(spark, loop_confs(spark, 10)):
            assert spark.conf.get(aqe) == "false"
            assert spark.conf.get(width) == "1"
            assert spark.conf.get(codegen) == "false"
        with conf_scope(spark, GATE_CONFS):
            assert spark.conf.get(aqe) == "false"
        with conf_scope(spark, {unset_key: "x", set_key: "new"}):
            assert explicit(unset_key) == "x"
            assert explicit(set_key) == "new"
        assert {k: explicit(k) for k in keys} == before

        # restore must also run on exception (finally path)
        with pytest.raises(RuntimeError):
            with conf_scope(spark, {aqe: "false", unset_key: "x"}):
                raise RuntimeError("boom")
        assert {k: explicit(k) for k in keys} == before

        # nested scopes on one key unwind to the original value
        for key in (unset_key, set_key):
            with conf_scope(spark, {key: "outer"}):
                with conf_scope(spark, {key: "inner"}):
                    assert explicit(key) == "inner"
                assert explicit(key) == "outer"
            assert explicit(key) == before[key]
    finally:
        spark.conf.unset(set_key)
