"""Property-based tests for the graph operators: on random small
graphs, the implementations must agree exactly with brute-force
driver-side references (itertools / dict BFS / iterative peel). The
fixpoint operators (k-core, BFS, SSSP, HITS, label propagation) run on
both of their physical paths — the driver-local numpy kernels and the
distributed loops, via the ``both_paths`` fixture — over messy edge
lists: reversed duplicates, repeated edges, self-loops, the empty list,
negative ids and ids of 2**31 and beyond. Spark sessions are expensive
per example, so each property runs a small number of RANDOM graphs via
hypothesis with a reduced max_examples — the planted-graph unit tests
in test_llm_ops.py cover the hand-checkable shapes; these cover the
shapes nobody thought of.
"""

from __future__ import annotations

import itertools
import math
from collections import Counter, deque

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

EDGE = st.tuples(
    st.integers(min_value=0, max_value=11),
    st.integers(min_value=0, max_value=11),
)
EDGES = st.lists(EDGE, min_size=0, max_size=25)

#: node ids for the both-path properties: negatives and ids at and past
#: 2**31, so an INT-sized or non-negative id assumption shows
IDS = [-(2**40), -7, -1, 0, 1, 2, 3, 5, 2**31 - 1, 2**31, 2**31 + 1, 2**40]
MESSY_EDGES = st.lists(
    st.tuples(st.sampled_from(IDS), st.sampled_from(IDS)), max_size=25
)

_SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def _canon(edges):
    return {
        (min(u, v), max(u, v)) for u, v in edges if u != v
    }


def _adj(es):
    adj: dict = {}
    for u, v in es:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    return adj


@given(EDGES)
@_SLOW
def test_triangle_stats_matches_bruteforce(spark, edges):
    from amadou_spark.operators.graph import triangle_stats

    es = _canon(edges)
    if not es:
        return
    adj = _adj(es)
    nodes = sorted(adj)
    tris = sum(
        1
        for a, b, c in itertools.combinations(nodes, 3)
        if b in adj[a] and c in adj[a] and c in adj[b]
    )
    wedges = sum(len(adj[n]) * (len(adj[n]) - 1) // 2 for n in nodes)
    df = spark.createDataFrame(sorted(es), "u int, v int")
    row = triangle_stats(df).collect()[0]
    assert row.n_nodes == len(nodes)
    assert row.n_edges == len(es)
    assert row.n_triangles == tris
    if wedges == 0:
        assert row.clustering is None
    else:
        assert row.clustering == round(3.0 * tris / wedges, 6)


@given(EDGES)
@_SLOW
def test_local_clustering_matches_bruteforce(spark, edges):
    from amadou_spark.operators.graph import local_clustering

    es = _canon(edges)
    if not es:
        return
    adj = _adj(es)
    expect = {}
    for n, nbrs in adj.items():
        if len(nbrs) < 2:
            continue
        t = sum(
            1
            for a, b in itertools.combinations(sorted(nbrs), 2)
            if b in adj[a]
        )
        expect[n] = (len(nbrs), t, 2.0 * t / (len(nbrs) * (len(nbrs) - 1)))
    df = spark.createDataFrame(sorted(es), "u int, v int")
    got = {
        r.node: (r.d, r.n_tri, r.lcc)
        for r in local_clustering(df).collect()
    }
    assert got == expect


@given(MESSY_EDGES, st.integers(min_value=1, max_value=4))
@_SLOW
def test_kcore_matches_iterative_peel(spark, both_paths, edges, k):
    from amadou_spark.operators.graph import kcore

    # reference: peel the canonical edge set to fixpoint
    cur = _canon(edges)
    while True:
        deg: dict = {}
        for u, v in cur:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        nxt = {(u, v) for u, v in cur if u in keep and v in keep}
        if nxt == cur:
            break
        cur = nxt
    expect: dict = {}
    for u, v in cur:
        expect[u] = expect.get(u, 0) + 1
        expect[v] = expect.get(v, 0) + 1
    df = spark.createDataFrame(edges, "u long, v long")
    # max_rounds=20 >> any 12-node peel depth, so both sides converge
    local, dist = both_paths(
        lambda: {r.node: r.degree for r in kcore(df, k=k, max_rounds=20).collect()}
    )
    assert local == dist == expect


@given(MESSY_EDGES, st.integers(min_value=1, max_value=4))
@_SLOW
def test_bfs_levels_match_reference(spark, both_paths, edges, depth):
    from amadou_spark.operators.graph import bfs_levels

    adj = _adj(_canon(edges))
    expect = {}
    if adj:
        src = min(adj)
        expect[src] = 0
        q = deque([src])
        while q:
            n = q.popleft()
            if expect[n] >= depth:
                continue
            for m in adj[n]:
                if m not in expect:
                    expect[m] = expect[n] + 1
                    q.append(m)
    df = spark.createDataFrame(edges, "u long, v long")
    local, dist = both_paths(
        lambda: {r.node: r.level for r in bfs_levels(df, max_depth=depth).collect()}
    )
    assert local == dist == expect


@given(MESSY_EDGES, st.integers(min_value=1, max_value=3))
@_SLOW
def test_label_propagation_matches_reference(spark, both_paths, edges, rounds):
    """Synchronous rounds from identity labels: each node takes its
    most frequent neighbour label, count ties to the smallest label."""
    from amadou_spark.operators.graph import label_propagation

    adj = _adj(_canon(edges))
    label = {n: n for n in adj}
    for _ in range(rounds):
        new = {}
        for n, nbrs in adj.items():
            counts = Counter(label[m] for m in nbrs)
            top = max(counts.values())
            new[n] = min(lab for lab, c in counts.items() if c == top)
        label = new
    df = spark.createDataFrame(edges, "u long, v long")
    local, dist = both_paths(
        lambda: {
            r.node: r.community
            for r in label_propagation(df, rounds=rounds).collect()
        }
    )
    assert local == dist == label


@given(
    st.lists(
        st.text(alphabet="ab", min_size=1, max_size=5),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=1, max_value=4),
)
@_SLOW
def test_bpe_learn_merges_matches_python_reference(spark, words, n):
    """bpe_learn_merges vs a pure-Python replica using str.replace —
    the SAME one-pass left-to-right merge semantics — on random tiny
    two-letter corpora where self-adjacent runs (the divergence-prone
    shape) are common."""
    from amadou_spark.llm.text import bpe_learn_merges

    # python reference over the word-frequency table
    freq: dict = {}
    for w in words:
        freq[w] = freq.get(w, 0) + 1
    reprs = {w: "·" + "·".join(w) + "·" for w in freq}
    expect = []
    for rank in range(1, n + 1):
        counts: dict = {}
        for w, r in reprs.items():
            syms = [s for s in r.split("·") if s]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + freq[w]
        if not counts:
            break
        (a, b), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        expect.append((rank, a, b, a + b, c))
        reprs = {
            w: r.replace(f"·{a}·{b}·", f"·{a}{b}·")
            for w, r in reprs.items()
        }
    docs = spark.createDataFrame(
        [(f"d{i}", w) for i, w in enumerate(words)],
        "doc_id string, text string",
    )
    got = [
        (r.merge_rank, r.left_sym, r.right_sym, r.merged, r.pair_count)
        for r in bpe_learn_merges(docs, num_merges=n).collect()
    ]
    assert got == expect


@given(EDGES, st.sampled_from([1, 2, 4, 64]))
@_SLOW
def test_adamic_adar_matches_bruteforce(spark, edges, chunk):
    """adamic_adar (hub-salted blocked wedge join) vs an itertools
    reference: for every non-adjacent pair, sum 1/ln(deg(center)) over
    common neighbors. chunk=1/2/4 force multi-block adjacency on these
    12-node graphs, exercising the cross-block exactly-once coverage;
    chunk=64 is the single-block (unsalted-equivalent) path."""
    from amadou_spark.operators.graph import adamic_adar

    es = _canon(edges)
    if not es:
        return
    adj = _adj(es)
    expect: dict = {}
    for center, neigh in adj.items():
        d = len(neigh)
        if d < 2:
            continue
        w = 1.0 / math.log(d)
        for a, b in itertools.combinations(sorted(neigh), 2):
            if b in adj[a]:
                continue  # existing edge: excluded by the anti-join
            s, cn = expect.get((a, b), (0.0, 0))
            expect[(a, b)] = (s + w, cn + 1)
    expect = {
        k: (round(v[0], 6), v[1]) for k, v in expect.items()
    }
    df = spark.createDataFrame(sorted(es), "u int, v int")
    got = {
        (r.node_a, r.node_b): (r.adamic_adar, r.common_neighbors)
        for r in adamic_adar(df, chunk=chunk).collect()
    }
    assert got == expect


WEDGE = st.tuples(
    st.sampled_from(IDS[:10]),
    st.sampled_from(IDS[:10]),
    st.integers(min_value=1, max_value=20),
)
WEIGHTED_EDGES = st.lists(WEDGE, min_size=1, max_size=22)


@given(edges=WEIGHTED_EDGES, rounds=st.integers(min_value=1, max_value=4))
@_SLOW
def test_sssp_matches_full_relaxation_bellman_ford(spark, both_paths, edges, rounds):
    """Both SSSP paths — the driver kernel and the frontier-optimized
    distributed loop — must agree exactly with the textbook
    full-edge-relaxation Bellman-Ford at the same round bound, pinning
    both correctness and the frontier-restriction equivalence claim in
    the operator docstring. The raw edge list keeps its self-loops and
    repeated edges of differing weight."""
    from amadou_spark.operators.graph import sssp

    # directed multigraph: keep the min weight per (src, dst)
    best: dict = {}
    for u, v, w in edges:
        if (u, v) not in best or w < best[(u, v)]:
            best[(u, v)] = w
    src = min(u for u, _ in best)
    dist = {src: 0}
    for _ in range(rounds):
        nxt = dict(dist)
        for (u, v), w in best.items():
            if u in dist and dist[u] + w < nxt.get(v, float("inf")):
                nxt[v] = dist[u] + w
        dist = nxt
    df = spark.createDataFrame(edges, "src long, dst long, w int")
    local, distributed = both_paths(
        lambda: {r.node: r.dist for r in sssp(df, rounds=rounds).collect()}
    )
    assert local == distributed == dist


@given(
    st.lists(
        st.tuples(st.sampled_from(IDS[:6]), st.sampled_from(IDS[6:])),
        min_size=1,
        max_size=15,
    ),
    st.integers(min_value=1, max_value=3),
)
@_SLOW
def test_hits_matches_power_iteration(spark, both_paths, edges, n_iter):
    from amadou_spark.operators.graph import hits

    es = sorted(set(edges))
    # driver-side reference: raw alternating sums, L1 normalize once
    # at the end (the operator's scheme — scalars cancel through the
    # linear updates, so this equals the per-round-normalized loop)
    hub = {s: 1.0 for s, _ in es}
    auth = {}
    for _ in range(n_iter):
        auth = {}
        for s, d in es:
            auth[d] = auth.get(d, 0.0) + hub.get(s, 0.0)
        hub = {}
        for s, d in es:
            hub[s] = hub.get(s, 0.0) + auth[d]
    tot = sum(auth.values())
    auth = {k: v / tot for k, v in auth.items()}
    tot = sum(hub.values())
    hub = {k: v / tot for k, v in hub.items()}
    # the raw list, repeats included: hits() owns the dedup
    df = spark.createDataFrame(edges, "src long, dst long")
    for rows in both_paths(lambda: hits(df, n_iter=n_iter).collect()):
        got_h, got_a = {}, {}
        for r in rows:
            (got_h if r.role == "hub" else got_a)[r.node] = r.score
        assert set(got_h) == set(hub) and set(got_a) == set(auth)
        for k, v in hub.items():
            assert math.isclose(got_h[k], v, rel_tol=1e-9)
        for k, v in auth.items():
            assert math.isclose(got_a[k], v, rel_tol=1e-9)
