"""Graph operators over Spark edge lists.

Every operator has two physical strategies behind one contract, chosen
by the real edge count — the same runtime size decision AQE makes for a
broadcast join:

- At or below :data:`LOCAL_GRAPH_MAX_EDGES` edges, :func:`_local_graph`
  collects the operator's canonical edge frame through Arrow (one
  bounded collect), a numpy kernel runs every round on the driver, and
  :func:`_local_frame` hands the result back as a one-partition
  ``LocalRelation``. No per-edge Python loop runs; a fixpoint that fits
  in driver memory pays one collect instead of one or more Spark jobs
  per round.
- Above the gate the distributed loops run: each round is a shuffle
  join plus a map-side-combined aggregate, materialized per round and
  released after (lineage would otherwise grow every round and re-run
  every prior round per action).

Both strategies return the same rows (the float scores of :func:`hits`
and :func:`pagerank` up to summation order); the tests run each
operator both ways.

Connected components turn near-duplicate PAIRS into duplicate CLUSTERS
(one canonical keep-id per group): shingle → candidate pair → verify →
cluster → keep one. Distributed, it is the diameter-independent
large-star/small-star contraction (Kiveris et al., "Connected
Components in MapReduce and Beyond"), :func:`_star_fixpoint`.

The undirected operators (:func:`triangle_stats`,
:func:`local_clustering`, :func:`bfs_levels`, :func:`kcore`,
:func:`adamic_adar`, :func:`label_propagation`) take an edge list with
columns (u, v) of integral node ids. Each reads it through
:func:`_undirected`, so reversed duplicates, repeated edges and
self-loops never change a result, and node ids come out as BIGINT.

One rule for bad input, on both strategies: an edge with a NULL
endpoint is ignored, as is an :func:`sssp` edge with a NULL weight.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from amadou_spark.scale import broadcast_gate, materialize_shared

# At or below this many edges a graph operator runs its rounds on the
# driver — the analogue of a broadcast join's size gate: when the whole
# problem fits comfortably in driver memory (2M edges × two 8-64 byte
# ids ≈ tens of MB), one collect beats paying distributed scheduling per
# round. Near-dup edge sets are tiny relative to their corpora (edges
# exist only where documents overlap), so at 100 TB this path still
# fires for most real dedup runs; anything larger takes the distributed
# loops. Read at call time, so a test can patch it to 0 to force them.
LOCAL_GRAPH_MAX_EDGES = 2_000_000


def _local_graph(edges: DataFrame, a: str, b: str, *extra: str):
    """Collect the canonical edge frame ``edges`` to the driver, bounded
    by :data:`LOCAL_GRAPH_MAX_EDGES`; returns ``(edges, arrays)``.

    One Arrow collect of at most ``LOCAL_GRAPH_MAX_EDGES + 1`` rows (the
    ``toLocalIterator`` path would run one job per partition) from a
    lazy local checkpoint of ``edges``, so the collect also computes and
    keeps every partition. At or below the gate, the kept blocks are
    released and ``arrays`` is ``(nodes, ia, ib, *cols)``: the sorted
    distinct endpoint ids, each edge's endpoints as int64 indexes into
    ``nodes``, and the ``extra`` columns. Indexes preserve id order, so
    a min over indexes is a min over ids. Above the gate, ``arrays`` is
    None and the returned ``edges`` is the checkpoint: the distributed
    loop reads its blocks instead of re-running the edge builder, and
    releases them with :func:`_release`. The lazy checkpoint adds no
    job; ``persist()`` would add AQE's cache stage, and counting before
    collecting would add one more. ``edges`` must already be free of
    NULL endpoints (each operator's canonical frame drops them).
    """
    gate = LOCAL_GRAPH_MAX_EDGES
    kept = edges.localCheckpoint(eager=False)
    pdf = kept.limit(gate + 1).toPandas()
    if len(pdf) > gate:
        return kept, None
    _release(kept)
    m = len(pdf)
    nodes, idx = np.unique(
        np.concatenate([pdf[a].to_numpy(), pdf[b].to_numpy()]),
        return_inverse=True,
    )
    idx = idx.astype(np.int64)
    return edges, (nodes, idx[:m], idx[m:], *(pdf[c].to_numpy() for c in extra))


def _local_frame(spark, schema: str, **cols) -> DataFrame:
    """A kernel's result columns as a DataFrame with DDL ``schema`` (the
    distributed path's output types).

    pandas input goes through Arrow and plans as a ``LocalRelation``,
    whose statistics are exact, so a later join sees the real size. One
    partition: a caller's final ``orderBy`` then sorts in place (one
    job) instead of range-partitioning a few thousand rows (three)."""
    return spark.createDataFrame(pd.DataFrame(cols), schema).coalesce(1)


def _index_of(nodes: np.ndarray, x) -> int | None:
    """Position of id ``x`` in the sorted ``nodes``, or None."""
    i = int(np.searchsorted(nodes, x))
    return i if i < len(nodes) and nodes[i] == x else None


def _release(df: DataFrame) -> None:
    """Deterministically release a loop round's materialized blocks.

    ``DataFrame.unpersist()`` frees CacheManager entries (plain
    ``persist``) but is a no-op on a ``localCheckpoint``'d frame, whose
    blocks live on an internal RDD that only the ContextCleaner frees —
    after driver GC, i.e. not deterministically. Over many loop rounds
    that pins every round's full table in executor storage. Poke the
    LogicalRDD's rdd directly (no public API); if the internals move,
    fall back to the GC path rather than failing the job.
    """
    df.unpersist()
    try:
        jrdd = df._jdf.queryExecution().analyzed().rdd()
        jrdd.unpersist(False)
        # Reliable-checkpoint posture: unpersist frees the blocks but
        # NOT the checkpoint files — ContextCleaner only deletes those
        # with cleanCheckpoints=true, after driver GC. A loop writes one
        # checkpoint per round, so delete the released round's files
        # eagerly (best-effort; the session default
        # spark.cleaner.referenceTracking.cleanCheckpoints=true is the
        # backstop if the internals move).
        cp = jrdd.getCheckpointFile()
        if cp.isDefined():
            jvm = df.sparkSession._jvm
            path = jvm.org.apache.hadoop.fs.Path(cp.get())
            fs = path.getFileSystem(
                df.sparkSession._jsc.hadoopConfiguration()
            )
            # getCheckpointFile is the per-RDD directory (rdd-<id>/):
            # delete exactly it — its parent holds OTHER live RDDs'
            # checkpoints for this session
            fs.delete(path, True)
    except Exception:
        pass


def _star_fixpoint(edges: DataFrame, max_rounds: int = 40) -> DataFrame:
    """Alternating large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — the
    diameter-independent distributed CC algorithm: O(log² n) rounds on
    ANY graph shape, where min-label propagation needs O(diameter).

    Input: edge list (a, b), either orientation, duplicates and
    self-loops allowed. Output: (node, cluster_id = min id of
    component) for every node in an edge.

    Per round (each op is a groupBy + equi-join):
    - large-star: every neighbor v > u re-points to m(u) = min(Γ(u)∪{u});
    - small-star: on the now larger→smaller directed list, every
      neighbor (and u itself) re-points to u's min neighbor.
    The edge list only ever shrinks toward the star forest (v, min);
    fixpoint is detected by a (count, hash-sum) signature — one tiny
    aggregate per round, no edge-list diff join.
    """
    # each undirected edge once, oriented (greatest, least)
    e = (
        edges.select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    e.persist()
    prev_sig = None
    for _ in range(max_rounds):
        s = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = s.groupBy("u").agg(F.min("v").alias("mn"))
        m = m.select("u", F.least(F.col("u"), F.col("mn")).alias("m"))
        # large-star: (v, m(u)) for v ∈ Γ(u), v > u  (keeps u > v invariant)
        ls = (
            s.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: neighbors are all < u here; point them and u at
        # u's min neighbor
        m2 = ls.groupBy("u").agg(F.min("v").alias("mn"))
        joined = ls.join(m2, "u")
        new_e = (
            joined.filter(F.col("v") != F.col("mn"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .union(joined.select("u", F.col("mn").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # materialize_shared BOTH materializes the round and truncates
        # lineage to a LogicalRDD. Plain persist is not enough in an
        # iterative loop: each round's analyzed plan embeds the
        # previous round's plan several times over (the cache
        # substitutes only AFTER analysis), so plan-building time grows
        # exponentially with rounds — measured 3 s → 152 s by round 3
        # on a 16-edge graph. With a session checkpoint dir set it
        # upgrades to a reliable checkpoint (executor-loss-safe).
        new_e = materialize_shared(new_e)
        # signature = (count, XOR of per-edge hashes): order-insensitive,
        # collision odds ~2⁻⁶⁴, and XOR can't overflow ANSI arithmetic
        # (SUM of xxhash64 longs does)
        row = new_e.agg(
            F.count("*").alias("c"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).first()
        sig = (row["c"], row["h"])
        _release(e)
        e = new_e
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        _release(e)
        raise RuntimeError(
            f"large-star/small-star did not reach a fixpoint in "
            f"{max_rounds} rounds — not expected for any finite graph"
        )
    # Self-loop-only nodes were dropped by the u != v filter but ARE
    # "nodes in edges" under the contract (and the local path returns
    # them as their own singleton cluster) — union them back; the
    # min-agg keeps the star label when such a node also has real edges.
    loops = edges.filter(F.col("a") == F.col("b")).select(
        F.col("a").alias("node"), F.col("a").alias("cluster_id")
    )
    labels = (
        e.select(F.col("u").alias("node"), F.col("v").alias("cluster_id"))
        .union(e.select(F.col("v").alias("node"), F.col("v").alias("cluster_id")))
        .union(loops)
        .groupBy("node")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    labels.persist()
    labels.count()
    _release(e)
    return labels


def _components(n: int, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Root (min node index of its component) of each of ``n`` nodes
    joined by edges ``a``-``b``: vectorised min-label hooking plus
    pointer jumping. Invariant: ``parent[x] <= x`` and lies in x's
    component, so once every edge's endpoints share a root, the root of
    a component is its minimum. Each pass hooks every larger root onto
    the smallest root it touches, so a pass either finishes or merges."""
    parent = np.arange(n)
    while True:
        pa, pb = parent[a], parent[b]
        if np.array_equal(pa, pb):
            return parent
        np.minimum.at(parent, np.maximum(pa, pb), np.minimum(pa, pb))
        while True:  # pointer jumping: every node straight to its root
            pp = parent[parent]
            if np.array_equal(pp, parent):
                break
            parent = pp


def connected_components(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Return (node, cluster_id) for every node in ``edges``, where
    cluster_id is the minimum node id in the node's connected
    component. Nodes with no edges are absent (callers union
    singletons back if they want total coverage).

    At or below :data:`LOCAL_GRAPH_MAX_EDGES` edges, :func:`_components`
    runs on the driver; above it, the large-star/small-star contraction
    :func:`_star_fixpoint` runs over the builder's materialized edges,
    whose round count does not depend on the components' diameter. The
    result's labels stay persisted, so consuming it does not re-run the
    fixpoint."""
    directed = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).dropna()
    directed, g = _local_graph(directed, "a", "b")
    if g is not None:
        nodes, ia, ib = g
        t = directed.schema["a"].dataType.simpleString()
        return _local_frame(
            directed.sparkSession,
            f"node {t}, cluster_id {t}",
            node=nodes,
            cluster_id=nodes[_components(len(nodes), ia, ib)],
        )
    # The rounds run under AQE, with no loop_confs pin: on a random
    # 2.5M-edge graph the pinned contraction ran 17 jobs against 93 but
    # was no faster (45.3 and 34.4 s pinned, 38.6 and 34.0 s unpinned).
    labels = _star_fixpoint(directed)
    _release(directed)
    return labels


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list; returns
    (node, rank).

    Uses the classic simplified update (as in the original paper and
    Spark's own examples): ``r'(v) = (1-d)/N + d * Σ_{u→v} r(u)/out(u)``
    — no dangling-mass redistribution, so feed a graph where every
    node has out-degree ≥ 1 (e.g. a symmetrized bipartite graph).
    The node universe is the set of edge SOURCES on both physical
    strategies: an out-of-contract dangling node (appears only as a
    dst) is excluded from the output and the 1/N normalization
    identically, so the size gate never changes the result.
    Fixed ``n_iter`` (not convergence-tested) keeps the result
    deterministic and SQL-expressible for the oracle.

    At or below :data:`LOCAL_GRAPH_MAX_EDGES` edges the ``n_iter``
    rounds are numpy ``bincount`` passes on the driver. Above it, each
    iteration joins the builder's materialized edge list against the
    |V|-row (rank, outdeg) table, broadcast while |V| is within
    :data:`~amadou_spark.scale.BROADCAST_ROWS_GATE`, plus a
    partial-aggregated sum per dst. Ranks are materialized per round
    and the previous round released, so lineage stays one round deep.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).dropna()
    spark = e.sparkSession
    e, g = _local_graph(e, "src", "dst")
    if g is not None:
        nodes, s, d = g
        n_all = len(nodes)
        outdeg = np.bincount(s, minlength=n_all).astype(np.float64)
        # node universe = sources; a dangling dst's rank is computed
        # but never read (it has no out-edge) and never returned
        universe = outdeg > 0
        n = max(int(universe.sum()), 1)
        rank = np.full(n_all, 1.0 / n)
        for _ in range(n_iter):
            contrib = np.bincount(d, weights=rank[s] / outdeg[s], minlength=n_all)
            rank = (1.0 - damping) / n + damping * contrib
        t = e.schema["src"].dataType.simpleString()
        return _local_frame(
            spark, f"node {t}, rank double", node=nodes[universe], rank=rank[universe]
        )
    # The degree table is |V| rows vs |E| edge rows; persisting and
    # counting it gives n_nodes (the broadcast gate's bound) AND the
    # materialized node set every round reuses.
    deg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    deg.persist()
    n_nodes = deg.count()
    base = (1.0 - damping) / n_nodes

    # Within the broadcast gate the (rank, outdeg) vector — |V| rows —
    # is each round's broadcast build side, so the edge list is only
    # ever scanned map-side; the sole shuffle per round is the
    # partial-aggregated contribution sum (map-side combine emits ≤ |V|
    # rows per partition). Above it both joins shuffle.
    #
    # The rounds run under AQE, with no loop_confs pin: at the sf1 slice
    # (q70, about 11.8M edges) the pinned loop ran 4 jobs fewer but was
    # no faster, median 14.58 s pinned against 13.91 s unpinned over 7
    # interleaved pairs.
    ranks = deg.select(
        F.col("src").alias("node"),
        F.lit(1.0 / n_nodes).alias("rank"),
        "outdeg",
    )
    ranks.persist()
    for _ in range(n_iter):
        rs = broadcast_gate(ranks, n_nodes)
        contrib = (
            e.join(rs, e["src"] == rs["node"])
            .select("dst", (F.col("rank") / F.col("outdeg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        # every node of the symmetrized graph has an in-edge, but the
        # general contract only promises outdeg ≥ 1 — keep the left
        # join from the node set (= deg keys).
        cs = broadcast_gate(contrib, n_nodes)
        stepped = deg.join(cs, deg["src"] == cs["dst"], "left").select(
            F.col("src").alias("node"),
            (
                F.lit(base)
                + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("rank"),
            "outdeg",
        )
        # eager localCheckpoint: materialize AND cut lineage so round
        # r+1's plan doesn't embed round r's (exponential plan-analysis
        # growth otherwise — see _star_fixpoint)
        stepped = materialize_shared(stepped)
        _release(ranks)
        ranks = stepped
    _release(e)
    deg.unpersist()
    return ranks.select("node", "rank")


def hits(edges: DataFrame, n_iter: int = 3) -> DataFrame:
    """HITS hubs & authorities (Kleinberg, JACM 1999) over a DIRECTED
    edge list (src, dst), fixed ``n_iter`` rounds, L1 normalization.

    L1 (sum) normalization instead of the textbook L2 keeps every step
    a sum + one division — no sqrt — so the scores are reproducible in
    any engine and the oracle can unroll the rounds as plain SQL. The
    ranking (which is what HITS is for) is identical under any p-norm.

    Per round: auth(d) = sum of hub over in-edges; hub(s) = sum of
    auth over out-edges. Normalization happens ONCE at the end: an L1
    normalizer is a global scalar, and scalars cancel straight through
    the alternating linear updates (a_k/Σa_k is identical whether the
    inputs were normalized each round or never), so the per-round
    1-row normalizer agg + broadcast the textbook loop pays is pure
    waste — each round here is exactly two equi-joins of the persisted
    edge list against a node-score table plus two map-side-combined
    sums, the :func:`pagerank` shuffle shape. Unnormalized scores grow
    like (avg degree)^rounds — ~1e30 for 10 rounds at degree 1000,
    comfortably inside double range.

    Lineage: every intermediate score table feeds exactly ONE consumer
    (the next round's join), so the unrolled plan grows LINEARLY and
    lazy chaining is safe — no per-round checkpoint (a per-round
    materialize job would pay for a 2^depth plan-growth risk this
    alternating chain doesn't have). Cuts happen only where branching
    actually occurs — the FINAL auth and hub (each read by its totals
    agg and the output projection) — plus every 4th round as an
    analysis-depth bound for deep loops.

    At or below :data:`LOCAL_GRAPH_MAX_EDGES` distinct edges the rounds
    are two numpy ``bincount`` passes each, on the driver.

    Returns (node, role 'hub'|'authority', score DOUBLE, L1-normalized
    within each role).
    """
    if n_iter < 1:
        # auth is only bound inside the loop; zero rounds would crash
        # on auth.agg below with a confusing NoneType error
        raise ValueError(f"hits() needs n_iter >= 1, got {n_iter}")
    e, g = _local_graph(edges.select("src", "dst").dropna().distinct(), "src", "dst")
    if g is not None:
        nodes, s, d = g
        n = len(nodes)
        is_src = np.bincount(s, minlength=n) > 0
        is_dst = np.bincount(d, minlength=n) > 0
        hub = is_src.astype(np.float64)
        for _ in range(n_iter):
            auth = np.bincount(d, weights=hub[s], minlength=n)
            hub = np.bincount(s, weights=auth[d], minlength=n)
        h, a = hub[is_src], auth[is_dst]
        t = e.schema["src"].dataType.simpleString()
        return _local_frame(
            e.sparkSession,
            f"node {t}, role string, score double",
            node=np.concatenate([nodes[is_src], nodes[is_dst]]),
            role=np.repeat(["hub", "authority"], [len(h), len(a)]),
            score=np.concatenate([h / h.sum(), a / a.sum()]),
        )
    hub = e.select(F.col("src").alias("node")).distinct().select(
        "node", F.lit(1.0).alias("h")
    )
    auth = None
    # The rounds run under AQE, with no loop_confs pin: at the sf1 slice
    # (q159) the pinned loop ran 16 jobs fewer but was no faster, median
    # 15.77 s pinned against 15.19 s unpinned over 7 interleaved pairs.
    for i in range(n_iter):
        last = i == n_iter - 1
        auth = (
            e.join(hub, e["src"] == hub["node"])
            .groupBy(e["dst"].alias("node"))
            .agg(F.sum("h").alias("a"))
        )
        if last:
            # two consumers (final hub update + output) —
            # materialize; intermediate auths feed exactly one
            # join and stay lazy
            auth = materialize_shared(auth)
        hub = (
            e.join(auth, e["dst"] == auth["node"])
            .groupBy(e["src"].alias("node"))
            .agg(F.sum("a").alias("h"))
        )
        if last or i % 4 == 3:
            # final hub branches (totals agg + output); intermediate
            # cuts only every 4th round to bound analysis depth
            hub = materialize_shared(hub)
    _release(e)  # the output reads only the materialized final rounds
    h_tot = hub.agg(F.sum("h").alias("t"))
    a_tot = auth.agg(F.sum("a").alias("t"))
    return (
        hub.crossJoin(F.broadcast(h_tot))
        .select(
            "node",
            F.lit("hub").alias("role"),
            (F.col("h") / F.col("t")).alias("score"),
        )
        .unionAll(
            auth.crossJoin(F.broadcast(a_tot)).select(
                "node",
                F.lit("authority").alias("role"),
                (F.col("a") / F.col("t")).alias("score"),
            )
        )
    )


def _undirected(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge set of a (u, v) edge list: each edge
    once as (least, greatest) BIGINT ids, self-loops and edges with a
    NULL endpoint dropped — so reversed duplicates, repeated edges and
    self-loops cannot inflate any count downstream."""
    return (
        edges.select("u", "v")
        .dropna()
        .select(
            F.least("u", "v").cast("bigint").alias("u"),
            F.greatest("u", "v").cast("bigint").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _both_ways(e: DataFrame) -> DataFrame:
    """Directed (src, dst) adjacency of an :func:`_undirected` edge set:
    each edge in both directions, from ONE explode over one scan (a
    union would read ``e`` twice)."""
    return e.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("src"), F.col("v").alias("dst")),
                F.struct(F.col("v").alias("src"), F.col("u").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def _degrees(e: DataFrame, name: str = "d") -> DataFrame:
    """(node, degree) of an :func:`_undirected` edge set: one pass over
    its 2|E| endpoint rows; the partial agg collapses them map-side."""
    return (
        e.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias(name))
    )


def _oriented_wedges(
    e: DataFrame, deg: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Degree-oriented wedges of an :func:`_undirected` edge set ``e``
    with degrees ``deg`` (Suri & Vassilvitskii, WWW'11 — the
    MapReduce-friendly node-iterator).

    Why orientation matters at 100 TB: the naive wedge join fans out
    quadratically on hub nodes (a node of degree d yields d*(d-1)/2
    wedges — a power-law graph's hottest key explodes). Orienting every
    edge from the (degree, id)-smaller endpoint to the larger caps every
    out-degree at O(sqrt(m)), so the wedge self-join produces at most
    O(m^1.5) rows TOTAL and no single key dominates.

    Returns ``(wedges, closing)``: the wedges (a, b, c) — two oriented
    edges a→b, a→c out of one node, each unordered pair once — and the
    oriented edges as (b, c), so ``wedges.join(closing, ["b", "c"])``
    yields every triangle exactly once. Both read the materialized
    oriented list, whose checkpoint blocks must stay alive until the
    caller's action; the ContextCleaner reclaims them once the frames
    are unreferenced.
    """
    du, dv = deg.alias("du"), deg.alias("dv")
    keep_uv = (F.col("du.d") < F.col("dv.d")) | (
        (F.col("du.d") == F.col("dv.d")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        e.join(du, F.col("u") == F.col("du.node"))
        .join(dv, F.col("v") == F.col("dv.node"))
        .select(
            F.when(keep_uv, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(keep_uv, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(keep_uv, F.col("dv.d")).otherwise(F.col("du.d")).alias(
                "dst_d"
            ),
        )
    )
    # Two wedge legs + the closing edge all read `oriented`: materialize
    # it once instead of recomputing the degree join three times.
    oriented = materialize_shared(oriented)
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedge_lt = (F.col("e1.dst_d") < F.col("e2.dst_d")) | (
        (F.col("e1.dst_d") == F.col("e2.dst_d"))
        & (F.col("e1.dst") < F.col("e2.dst"))
    )
    wedges = e1.join(
        e2, (F.col("e1.src") == F.col("e2.src")) & wedge_lt
    ).select(
        F.col("e1.src").alias("a"),
        F.col("e1.dst").alias("b"),
        F.col("e2.dst").alias("c"),
    )
    closing = oriented.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    return wedges, closing


def local_clustering(edges: DataFrame) -> DataFrame:
    """Per-node triangle count + local clustering coefficient of the
    undirected graph ``edges`` (u, v), with integral node ids.

    Same degree-oriented enumeration as :func:`triangle_stats`
    (:func:`_oriented_wedges`), but instead of counting triangles
    globally each found triangle (a, b, c) is exploded to its three
    corners and counted per node. lcc(v) = 2*T(v) / (d(v)*(d(v)-1)) for
    d >= 2.

    Returns (node BIGINT, d BIGINT, n_tri BIGINT, lcc DOUBLE) for
    every node with degree >= 2; lcc is a single correctly-rounded
    division of exact integers, so it is bit-identical across engines.
    """
    e = materialize_shared(_undirected(edges))
    deg = _degrees(e)
    wedges, closing = _oriented_wedges(e, deg)
    corners = wedges.join(closing, ["b", "c"]).select(
        F.explode(F.array("a", "b", "c")).alias("node")
    )
    tri = corners.groupBy("node").agg(F.count("*").alias("n_tri"))
    lcc = 2.0 * F.coalesce(F.col("n_tri"), F.lit(0)) / (
        F.col("d") * (F.col("d") - 1)
    )
    return (
        deg.join(tri, "node", "left")
        .filter(F.col("d") >= 2)
        .select(
            F.col("node").cast("bigint").alias("node"),
            F.col("d").cast("bigint").alias("d"),
            F.coalesce(F.col("n_tri"), F.lit(0))
            .cast("bigint")
            .alias("n_tri"),
            lcc.alias("lcc"),
        )
    )


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Exact triangle count + global clustering coefficient of the
    undirected graph ``edges`` (u, v), with integral node ids, via the
    degree-oriented wedge join of :func:`_oriented_wedges`. Three
    shuffles end-to-end: degree agg, wedge self-join on src,
    wedge-closure equi-join on (b, c).

    Returns one row: (n_nodes, n_edges, n_triangles, clustering) where
    clustering = 3*triangles / wedges (NULL for a wedge-free graph).
    """
    # materialized: feeds deg, oriented AND totals — without it the
    # caller's edge-builder join re-executes for each consumer
    e = materialize_shared(_undirected(edges))
    deg = _degrees(e)
    wedges, closing = _oriented_wedges(e, deg)
    tri = wedges.join(closing, ["b", "c"]).agg(
        F.count("*").alias("n_triangles")
    )
    totals = e.agg(F.count("*").alias("n_edges")).crossJoin(
        deg.agg(
            F.count("*").alias("n_nodes"),
            F.sum(F.col("d") * (F.col("d") - 1) / 2.0).alias("n_wedges"),
        )
    )
    return tri.crossJoin(F.broadcast(totals)).select(
        F.col("n_nodes").cast("bigint"),
        F.col("n_edges").cast("bigint"),
        F.col("n_triangles").cast("bigint"),
        # wedge-free graph: NULL, not an ANSI divide-by-zero error
        F.when(
            F.col("n_wedges") > 0,
            F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6),
        ).alias("clustering"),
    )


def _bfs(n: int, u: np.ndarray, v: np.ndarray, source: int, max_depth: int) -> np.ndarray:
    """Hop level of each of ``n`` nodes from node index ``source`` over
    undirected edges ``u``-``v``, -1 beyond ``max_depth`` or unreached:
    one frontier expansion per level, stopping early when it drains."""
    src, dst = np.concatenate([u, v]), np.concatenate([v, u])
    level = np.full(n, -1)
    level[source] = 0
    for lvl in range(1, max_depth + 1):
        reached = dst[level[src] == lvl - 1]
        reached = reached[level[reached] < 0]
        if not len(reached):
            break
        level[reached] = lvl
    return level


def bfs_levels(
    edges: DataFrame, max_depth: int = 4, source: int | None = None
) -> DataFrame:
    """Single-source BFS levels over an undirected graph, bounded at
    ``max_depth`` rounds.

    ``edges`` has columns (u, v) of integral node ids; ``source``
    defaults to the smallest node id (deterministic at any scale
    factor). Returns (node BIGINT, level INT) for every node within
    ``max_depth`` hops, where level is the minimal hop distance.

    At or below :data:`LOCAL_GRAPH_MAX_EDGES` edges, :func:`_bfs` runs
    the levels on the driver. Above it, the frontier-expansion shape —
    the distributed BFS that survives wide graphs: each round is ONE
    equi-join of the current frontier against
    the symmetrized edge list plus an anti-join against the visited
    set, so per-round cost is O(frontier-adjacent edges), never
    O(paths) (a path-enumerating recursion explodes combinatorially on
    dense graphs; the visited anti-join is what keeps this linear).
    Rounds cut lineage via materialize_shared like the CC/PageRank
    loops; the loop exits early when a frontier is exhausted.
    """
    spark = edges.sparkSession
    e, g = _local_graph(_undirected(edges), "u", "v")
    if g is not None:
        nodes, u, v = g
        if source is None:
            if not len(nodes):
                return _local_frame(spark, "node bigint, level int", node=[], level=[])
            source = nodes[0]
        i = _index_of(nodes, source)
        if i is None:  # a source outside the graph reaches only itself
            return _local_frame(spark, "node bigint, level int", node=[source], level=[0])
        level = _bfs(len(nodes), u, v, i, max_depth)
        seen = level >= 0
        return _local_frame(
            spark, "node bigint, level int", node=nodes[seen], level=level[seen]
        ).orderBy("node")
    sym = materialize_shared(_both_ways(e))
    _release(e)
    if source is None:
        # 1-row control job
        source = sym.agg(F.min("src")).collect()[0][0]
        if source is None:  # no edges after canonicalization
            return spark.createDataFrame([], "node long, level int")
    visited = spark.createDataFrame(
        [(int(source), 0)], "node long, level int"
    )
    frontier = visited
    # Rounds run under full AQE, with no loop_confs pin: a pin freezes
    # each round's frontier join as a static SortMergeJoin where AQE
    # broadcasts the (tiny) frontier at run time. See kcore's note.
    for lvl in range(1, max_depth + 1):
        nxt = materialize_shared(
            frontier.join(sym, frontier["node"] == sym["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("level", F.lit(lvl))
        )
        if nxt.limit(1).count() == 0:
            break
        # no checkpoint needed: both union legs are already
        # materialized LogicalRDDs (or the 1-row seed), so the
        # visited plan stays a flat k-leg union — lineage cannot
        # compound across rounds
        visited = visited.union(nxt)
        frontier = nxt
    return visited.orderBy("node")


_UNREACHED = np.iinfo(np.int64).max


def _bellman_ford(
    n: int, src: np.ndarray, dst: np.ndarray, w: np.ndarray, source: int, rounds: int
) -> np.ndarray:
    """Minimal path weight from node index ``source`` to each of ``n``
    nodes using at most ``rounds`` of the directed edges ``src``→``dst``
    with weights ``w`` (:data:`_UNREACHED` where there is none): each
    round relaxes every edge out of a reached node against the previous
    round's distances."""
    dist = np.full(n, _UNREACHED)
    dist[source] = 0
    for _ in range(rounds):
        ds = dist[src]
        ok = ds < _UNREACHED
        nxt = dist.copy()
        np.minimum.at(nxt, dst[ok], ds[ok] + w[ok])
        dist = nxt
    return dist


def sssp(
    edges: DataFrame, rounds: int = 3, source: int | None = None
) -> DataFrame:
    """Single-source shortest paths, ``rounds`` Bellman-Ford rounds
    over a weighted directed edge list (src, dst, w) — the weighted
    complement of :func:`bfs_levels` (hop counts ignore weights).

    Returns (node BIGINT, dist BIGINT): the minimal path weight using
    at most ``rounds`` edges, for every node so reachable. Fixed-round
    by contract, like the oracle that unrolls it; a caller wanting the
    exact fixpoint raises ``rounds`` to the graph diameter.

    At or below :data:`LOCAL_GRAPH_MAX_EDGES` edges,
    :func:`_bellman_ford` relaxes every edge per round on the driver.
    Above it, frontier-optimized relaxation: round r relaxes only edges
    out of nodes whose distance IMPROVED in round r-1 — provably identical to
    relaxing every edge (an unimproved node re-offers exactly the
    candidates already min-folded in round r-1) but per-round cost is
    O(improved-frontier edges), never O(E) once the wave passes. Same
    materialize_shared lineage cuts as the BFS/CC/PageRank loops; the
    per-round min-agg combines map-side, so what shuffles is one
    (node, candidate-dist) pair per reached node per partition.
    """
    spark = edges.sparkSession
    e, g = _local_graph(
        edges.select(
            F.col("src").cast("bigint").alias("src"),
            F.col("dst").cast("bigint").alias("dst"),
            F.col("w").cast("bigint").alias("w"),
        ).dropna(),
        "src",
        "dst",
        "w",
    )
    if g is not None:
        nodes, s, d, w = g
        if source is None:
            if not len(s):
                return _local_frame(spark, "node bigint, dist bigint", node=[], dist=[])
            source = nodes[s.min()]
        i = _index_of(nodes, source)
        if i is None:  # a source outside the graph reaches only itself
            return _local_frame(spark, "node bigint, dist bigint", node=[source], dist=[0])
        dist = _bellman_ford(len(nodes), s, d, w, i, rounds)
        seen = dist < _UNREACHED
        return _local_frame(
            spark, "node bigint, dist bigint", node=nodes[seen], dist=dist[seen]
        ).orderBy("node")
    if source is None:
        # 1-row control job
        source = e.agg(F.min("src")).collect()[0][0]
        if source is None:
            return spark.createDataFrame([], "node long, dist long")
    dist = spark.createDataFrame([(int(source), 0)], "node long, dist long")
    frontier = dist  # nodes improved last round
    # Relaxation rounds run under full AQE, with no loop_confs pin: a
    # pin freezes the frontier join as a static SortMergeJoin where AQE
    # broadcasts the improved frontier at run time. See kcore's note.
    for _ in range(rounds):
        # raw relaxation rows fold into the SAME min-agg as the
        # carry-over distances: one shuffle per round, not a
        # candidate-side pre-agg plus a merge agg (min of mins ==
        # min of the union; map-side partial aggregation still
        # combines before the wire)
        cand = frontier.join(e, frontier["node"] == e["src"]).select(
            F.col("dst").alias("node"),
            (F.col("dist") + F.col("w")).alias("dist"),
        )
        merged = materialize_shared(
            dist.unionByName(cand)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        # the improved frontier stays LAZY: it joins two already-
        # materialized frames (merged and the pre-update dist), so
        # its lineage is depth-1 and it is evaluated exactly once —
        # inside the next round's cand job. One Spark action per
        # round total; no per-round early-exit count (rounds is a
        # small fixed bound and a drained frontier makes the
        # remaining rounds empty joins, i.e. near-free).
        frontier = (
            merged.join(
                dist.withColumnRenamed("dist", "old"), "node", "left"
            )
            .filter(
                F.col("old").isNull() | (F.col("dist") < F.col("old"))
            )
            .select("node", "dist")
        )
        dist = merged
    _release(e)  # the output reads only the materialized distances
    return dist.orderBy("node")


def _kcore_unconverged(k: int, max_rounds: int) -> RuntimeError:
    return RuntimeError(
        f"kcore(k={k}) did not reach fixpoint within "
        f"max_rounds={max_rounds}: the surviving subgraph still "
        "has nodes below degree k (a strict supergraph of the "
        "true k-core). Raise max_rounds."
    )


def _kcore_degrees(
    n: int, u: np.ndarray, v: np.ndarray, k: int, max_rounds: int
) -> np.ndarray:
    """Degree of each of ``n`` nodes in the k-core of undirected edges
    ``u``-``v`` (0 = peeled): round-synchronous peeling, every round
    dropping each edge with an endpoint of degree < k. Raises
    :func:`_kcore_unconverged` when ``max_rounds`` ends short of the
    fixpoint, as the distributed loop does."""
    alive = np.ones(len(u), dtype=bool)

    def degrees():
        return np.bincount(u[alive], minlength=n) + np.bincount(v[alive], minlength=n)

    for _ in range(max_rounds):
        keep = degrees() >= k
        nxt = alive & keep[u] & keep[v]
        if nxt.sum() == alive.sum():
            break
        alive = nxt
    else:
        deg = degrees()
        if ((deg > 0) & (deg < k)).any():
            raise _kcore_unconverged(k, max_rounds)
    return degrees()


def kcore(edges: DataFrame, k: int = 14, max_rounds: int = 8) -> DataFrame:
    """Iterative k-core peeling of the undirected graph ``edges`` (u, v),
    with integral node ids: repeatedly drop nodes with degree < k (and
    their edges) until fixpoint. Returns the surviving (node BIGINT,
    degree BIGINT) table — the subgraph where every node keeps >= k
    neighbors.

    Convergence contract: if ``max_rounds`` is exhausted BEFORE
    fixpoint, the surviving table is a strict supergraph of the true
    k-core, which would be indistinguishable from convergence if
    returned. So exhaustion triggers one extra degree check, and if any
    survivor still has degree < k the call raises a RuntimeError naming
    the bound — at 100x scale deeper peeling chains get likelier.

    At or below :data:`LOCAL_GRAPH_MAX_EDGES` edges,
    :func:`_kcore_degrees` peels on the driver. The peeling shape above
    it: each round is one endpoint-explode
    degree aggregation plus two semi-joins restricting the edge list to
    surviving nodes — all equi-joins on node ids, partial-aggregated
    map-side, nothing driver-resident. The edge list only shrinks, so
    round cost is monotonically decreasing; the loop exits as soon as a
    round removes nothing (a fixpoint round is also a no-op in the
    unrolled oracle, so early exit cannot diverge from it). Lineage is
    cut per round like the CC/PageRank/BFS loops.
    """
    e, g = _local_graph(_undirected(edges), "u", "v")
    if g is not None:
        nodes, u, v = g
        deg = _kcore_degrees(len(nodes), u, v, k, max_rounds)
        kept = deg > 0
        return _local_frame(
            edges.sparkSession,
            "node bigint, degree bigint",
            node=nodes[kept],
            degree=deg[kept],
        ).orderBy("node")
    n_edges = e.count()  # over the builder's materialized blocks
    # The peeling rounds run under full AQE, with no loop_confs pin:
    # AQE's run-time re-planning turns each round's two semi-joins into
    # BROADCASTs of the surviving-node table, where a static pinned plan
    # can only sort-merge both sides every round. A wide pin is worse
    # still; see LOOP_ROWS_PER_PARTITION in scale.py.
    for _ in range(max_rounds):
        keep = _degrees(e).filter(F.col("d") >= k).select("node")
        new_e = materialize_shared(
            e.join(keep, e["u"] == keep["node"], "left_semi").join(
                keep, F.col("v") == keep["node"], "left_semi"
            )
        )
        n_new = new_e.count()
        if n_new == n_edges:
            break
        e, n_edges = new_e, n_new
    else:
        # the last allowed round still removed edges; one extra degree
        # check decides whether it happened to LAND on the fixpoint
        # (1-row control action, only on the exhaustion path)
        if _degrees(e).filter(F.col("d") < k).limit(1).count() > 0:
            raise _kcore_unconverged(k, max_rounds)
    return _degrees(e, "degree").orderBy("node")


def _blocked_adjacency(sym: DataFrame, chunk: int) -> DataFrame:
    """Hash-block each node's adjacency list into ceil(degree/chunk)
    blocks so no single wedge-join key ever carries more than ~``chunk``
    rows per side. Input (src, dst); output adds
    (d BIGINT, nb INT, blk INT) where blk = xxhash64(dst) mod nb.

    Non-hub nodes (degree <= chunk) get nb=1, blk=0 — zero overhead.
    Hash blocking is balanced in expectation (block sizes concentrate
    around degree/nb = chunk); the skew test pins max block size within
    a small factor of the mean on a planted hub.
    """
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("d")
    )
    nb = F.ceil(F.col("d") / F.lit(int(chunk))).cast("int")
    return sym.join(deg, sym["src"] == deg["node"]).select(
        "src",
        "dst",
        "d",
        nb.alias("nb"),
        F.pmod(F.xxhash64("dst"), nb.cast("bigint")).cast("int").alias("blk"),
    )


def _hash_not_sort(
    side: DataFrame,
    sized: DataFrame,
    bytes_per_row: int,
    spark,
    rows: "F.Column | None" = None,
) -> DataFrame:
    """Join-side wrapper enforcing "hash, never sort" for a build side
    whose row count is CHEAP to measure (``sized`` must be materialized
    — checkpoint blocks — so the count is a metadata-ish job, not a
    recompute). Clearly under the broadcast threshold → returned
    unhinted, letting AQE pick broadcast; at or past it → shuffle_hash
    hint, so the borderline-stats regime can never fall into
    sort-merge (which would sort the big probe side).

    ``rows``: aggregate Column over ``sized`` estimating ``side``'s row
    count — REQUIRED when ``side`` is an expansion of ``sized`` rather
    than a projection of it (the adamic-adar build leg is ``adj``
    exploded (blk+1)× per row, so ``adj.count()`` would undersize it on
    hub-heavy graphs and the "clearly under threshold → unhinted"
    branch could still let AQE fall into sort-merge). Defaults to
    ``count(*)``.

    The threshold is the one Spark's planner uses, already parsed from
    the session conf (every byte-size suffix, ``-1`` for disabled).
    """
    threshold = (
        spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    )
    if threshold <= 0:  # broadcast disabled -> always hash
        return side.hint("shuffle_hash")
    n = sized.agg((rows if rows is not None else F.count("*")).alias("n")).first()["n"]
    est = int(n or 0) * bytes_per_row
    # generous 2x margin: when AQE *might* decline the broadcast, we
    # must already be hinted — half-in-half-out is the bimodal regime
    if est * 2 < threshold:
        return side
    return side.hint("shuffle_hash")


def adamic_adar(edges: DataFrame, chunk: int = 32) -> DataFrame:
    """Adamic-Adar link-prediction scores for every non-adjacent node
    pair with >= 1 common neighbor: each wedge center u contributes
    1/ln(deg(u)) to its neighbor pair, summed per pair.

    Returns (node_a BIGINT, node_b BIGINT, adamic_adar DOUBLE rounded
    to 6, common_neighbors BIGINT) with node_a < node_b, unordered.

    ``edges`` has columns (u, v) of integral node ids.

    The hub-safe wedge generator: unlike triangle counting, the wedge
    self-join here CANNOT be degree-oriented — every wedge contributes
    to the score — so a naive self-join on the center key puts a
    degree-d hub's d^2/2 wedges under ONE join key
    (AQE skew-join splits the straggler but the aggregate Σd² volume
    still funnels through hub keys). Fix: salt-split each adjacency
    list into ceil(d/chunk) hash blocks and self-join block PAIRS —
    the left leg replicates each edge to its (own block, partner block
    >= own) pairs, the right leg to (partner block <= own, own), so
    the equi-join key becomes (src, block_i, block_j) and every key
    carries <= ~chunk rows per side. Each unordered neighbor pair is
    generated exactly once: cross-block pairs (i < j) match on exactly
    one key orientation, same-block pairs are tie-broken by dst order.
    The downstream per-pair SUM is commutative, so results are
    identical to the unsalted join (the DuckDB oracle stays unsalted).
    Replication cost: a degree-d node's edges fan out ~ceil(d/chunk)/2
    times per leg — only hubs pay, exactly where the skew win is.
    """
    # feeds the adjacency (via blocking) AND the existing-edge anti-join
    e = materialize_shared(_undirected(edges))
    # blocked adjacency feeds both join legs: materialize once
    adj = materialize_shared(_blocked_adjacency(_both_ways(e), chunk))
    left = adj.select(
        "src",
        "dst",
        "d",
        "blk",
        F.explode(F.expr("sequence(blk, nb - 1)")).alias("j"),
    )
    right = adj.select(
        F.col("src").alias("r_src"),
        F.col("dst").alias("r_dst"),
        F.col("blk").alias("r_blk"),
        F.explode(F.expr("sequence(0, blk)")).alias("i"),
    )
    # Never let the wedge-grain joins run as SORT-MERGE.
    # Left unhinted, AQE flips them between broadcast (fast) and
    # sort-merge near the 10 MB stats boundary, and the sort-merge mode
    # SORTS the fanned-out adjacency and the full wedge stream — the
    # measured 13s-vs-135s bimodality at the sf1 slice (a min-of-N
    # timing such as BENCH_SF1's masks the slow mode). Decision is SIZE-GATED
    # on the already-materialized build side (one cheap count over
    # checkpoint blocks): clearly under the broadcast threshold → leave
    # unhinted so AQE broadcasts (a blanket shuffle_hash hint measured
    # 2-4x slower at sf0.1 by suppressing that); otherwise hint SHUFFLED
    # HASH — build side partitioned on the join key, per-partition size
    # bounded by key-space share (and per-key volume by the ~chunk-row
    # block invariant), so it scales where a forced broadcast of a
    # corpus-dependent table would OOM.
    spark = edges.sparkSession
    # size by the POST-explode cardinality Σ(blk+1), not adj.count():
    # hubs replicate each adjacency row (blk+1)× into the build leg
    right_sized = _hash_not_sort(
        right, adj, 48, spark, rows=F.sum(F.col("blk") + F.lit(1))
    )
    wedge = (
        left.join(
            right_sized,
            (F.col("src") == F.col("r_src"))
            & (F.col("blk") == F.col("i"))
            & (F.col("j") == F.col("r_blk")),
        )
        # same-block (blk == r_blk) pairs need the dst tie-break;
        # cross-block pairs are unique by key construction
        .filter((F.col("blk") < F.col("r_blk")) | (F.col("dst") < F.col("r_dst")))
        .select(
            F.least("dst", "r_dst").alias("b"),
            F.greatest("dst", "r_dst").alias("c"),
            (1.0 / F.log(F.col("d").cast("double"))).alias("w"),
        )
    )
    return (
        wedge.join(
            _hash_not_sort(e, e, 32, spark),
            (wedge["b"] == e["u"]) & (wedge["c"] == e["v"]),
            "left_anti",
        )
        .groupBy("b", "c")
        .agg(
            F.round(F.sum("w"), 6).alias("adamic_adar"),
            F.count("*").cast("bigint").alias("common_neighbors"),
        )
        .select(
            F.col("b").alias("node_a"),
            F.col("c").alias("node_b"),
            "adamic_adar",
            "common_neighbors",
        )
    )


def _lpa_labels(n: int, u: np.ndarray, v: np.ndarray, rounds: int) -> np.ndarray:
    """Label (a node index) of each of ``n`` nodes after ``rounds``
    synchronous sweeps over undirected edges ``u``-``v``, every node
    having a neighbour. Round 1 is the min neighbour (each label is
    unique before it); later rounds take the most frequent neighbour
    label, ties to the smallest: count each (node, label) pair, sort by
    node, count descending, label ascending, keep each node's first."""
    src, dst = np.concatenate([u, v]), np.concatenate([v, u])
    label = np.full(n, n)
    np.minimum.at(label, src, dst)
    for _ in range(rounds - 1):
        pairs, cnt = np.unique(src * n + label[dst], return_counts=True)
        node, lab = np.divmod(pairs, n)
        order = np.lexsort((lab, -cnt, node))
        node, lab = node[order], lab[order]
        first = np.ones(len(node), dtype=bool)
        first[1:] = node[1:] != node[:-1]
        label[node[first]] = lab[first]
    return label


def label_propagation(edges: DataFrame, rounds: int = 2) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over an
    undirected graph, fixed ``rounds`` sweeps, fully deterministic.

    ``edges`` has columns (u, v) of integral node ids. Every node starts
    with its own id as label; each round reassigns every node the label
    that is most frequent among its NEIGHBORS (self excluded), breaking
    count ties toward the smallest label — the deterministic variant of
    LPA's random tie-break, so results are identical across engines,
    reshards and retries. Returns (node BIGINT, community BIGINT).

    At or below :data:`LOCAL_GRAPH_MAX_EDGES` edges, :func:`_lpa_labels`
    runs the rounds on the driver. Scale shape above it (the same
    per-round contract as :func:`pagerank` / :func:`bfs_levels`): one
    equi-join of the symmetrized edge list
    against the |V|-row label table plus two map-side-combinable hash
    aggs (neighbor-label counts, then the argmax with min-label
    tie-break as max-count filter + MIN — portable to the unrolled SQL
    oracle, no engine-specific max_by struct ordering). Labels are
    materialized per round to cut lineage. Per-round cost O(|E|),
    rounds fixed by contract — the oracle unrolls the same rounds.
    """
    if rounds < 1:
        raise ValueError("label_propagation needs rounds >= 1")
    canon, g = _local_graph(_undirected(edges), "u", "v")
    if g is not None:
        nodes, u, v = g
        label = _lpa_labels(len(nodes), u, v, rounds)
        return _local_frame(
            edges.sparkSession,
            "node bigint, community bigint",
            node=nodes,
            community=nodes[label],
        )
    sym = materialize_shared(_both_ways(canon))
    _release(canon)
    # Sweeps run under full AQE, with no loop_confs pin: a pin freezes
    # the label join as a static SortMergeJoin where AQE broadcasts the
    # |V|-row label table at run time. See kcore's note.
    #
    # Round 1 is the identity-label fast path: with label(v) = v and the
    # edge list deduped, every neighbor label occurs exactly once, so
    # argmax-with-min-tie degenerates to MIN(neighbor) — one
    # map-side-combined agg, no join. Result-identical to the generic
    # round (the oracle keeps the generic form).
    labels = materialize_shared(
        sym.groupBy(F.col("src").alias("node")).agg(F.min("dst").alias("label"))
    )
    for _ in range(rounds - 1):
        cnt = (
            sym.join(labels, sym["dst"] == labels["node"])
            .groupBy(F.col("src"), F.col("label"))
            .agg(F.count("*").alias("c"))
        )
        mx = cnt.groupBy(F.col("src").alias("mx_src")).agg(
            F.max("c").alias("mc")
        )
        labels = materialize_shared(
            cnt.join(
                mx,
                (cnt["src"] == mx["mx_src"]) & (cnt["c"] == mx["mc"]),
            )
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("label").alias("label"))
        )
    return labels.select("node", F.col("label").alias("community"))
