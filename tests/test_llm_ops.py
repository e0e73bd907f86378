"""Semantic tests for the LLM-data operators whose full pipelines are
not SQL-expressible (LSH variants, multimodal Arrow plumbing) plus
approximate-aggregate tolerance checks — the non-oracle half of the
correctness story."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from amadou_spark.catalog import load_table
from amadou_spark.llm.dedup import dedup_exact, minhash_lsh_pairs, ngram_jaccard_pairs, simhash
from amadou_spark.llm.multimodal import as_media_table, extract_features, frame_sample_stub
from amadou_spark.llm.similarity import cosine_topk_bruteforce, cosine_topk_lsh


@pytest.fixture(scope="module")
def planted(spark):
    """Corpus with exact and near duplicates planted at known ids."""
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = "the quick brown fox jumps over the lazy dog near the river bank tonight"
    other = "completely different words about spark query engines and shuffles everywhere"
    rows = [
        (1, base),
        (2, base),          # exact dup of 1
        (3, near),          # near dup of 1 (one token differs)
        (4, other),
        (5, "tiny doc"),    # shorter than one shingle
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


class TestDedupSemantics:
    def test_exact_dedup_groups_identical_texts(self, planted):
        out = {r.keep_id: r.n_copies for r in dedup_exact(planted).collect()}
        assert out[1] == 2  # docs 1+2 collapse
        assert out[3] == 1 and out[4] == 1 and out[5] == 1

    def test_ngram_jaccard_finds_planted_near_dup(self, planted):
        pairs = {
            (r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs(planted, min_jaccard=0.05).collect()
        }
        assert pairs[(1, 2)] == 1.0  # exact dup → jaccard 1
        assert pairs[(1, 3)] > 0.5  # near dup → high jaccard
        assert (1, 4) not in pairs  # unrelated → no candidate pair

    def test_minhash_lsh_finds_planted_near_dup(self, planted):
        pairs = {
            (r.id_a, r.id_b): r.jaccard_dist
            for r in minhash_lsh_pairs(planted, max_distance=0.5).collect()
        }
        assert pairs[(1, 2)] == 0.0
        assert (1, 3) in pairs and pairs[(1, 3)] < 0.5
        assert (1, 4) not in pairs

    def test_simhash_identical_texts_same_signature(self, planted):
        sigs = {r.doc_id: r.simhash for r in simhash(planted).collect()}
        assert sigs[1] == sigs[2]
        assert -(2**63) <= sigs[1] < 2**63  # signed 64-bit signature
        assert sigs[1] != sigs[4]


class TestSimilaritySearch:
    def test_lsh_recall_vs_bruteforce(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        qids = list(range(10))
        exact = cosine_topk_bruteforce(emb, query_ids=qids, k=5).collect()
        approx = cosine_topk_lsh(
            emb, query_ids=qids, k=5, n_planes=16, n_bands=8
        ).collect()
        exact_set = {(r.query_id, r.neighbor_id) for r in exact}
        approx_set = {(r.query_id, r.neighbor_id) for r in approx}
        recall = len(exact_set & approx_set) / len(exact_set)
        assert recall >= 0.5, f"LSH recall too low: {recall}"

    def test_bruteforce_topk_is_sorted_and_bounded(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        rows = cosine_topk_bruteforce(emb, query_ids=[0], k=3).collect()
        assert [r.rank for r in rows] == [1, 2, 3]
        assert all(-1.0001 <= r.cosine <= 1.0001 for r in rows)
        cosines = [r.cosine for r in rows]
        assert cosines == sorted(cosines, reverse=True)


class TestMultimodal:
    def test_media_table_metadata(self, spark, sf_dir):
        media = as_media_table(load_table(spark, sf_dir, "documents"))
        row = media.filter(F.col("doc_id") == 0).collect()[0]
        assert row.meta.media_type == "image"
        assert row.meta.n_bytes == len(bytes(row.payload))
        assert len(row.meta.content_hash) == 64

    def test_extract_features_batch_shape(self, spark, sf_dir):
        media = as_media_table(load_table(spark, sf_dir, "documents").limit(20))
        feats = extract_features(media).collect()
        assert len(feats) == 20
        assert all(len(r.feature) == 8 for r in feats)
        assert all(0.0 <= v <= 1.0 for r in feats for v in r.feature)

    def test_frame_sample_fanout(self, spark, sf_dir):
        media = as_media_table(load_table(spark, sf_dir, "documents").limit(5))
        frames = frame_sample_stub(media)
        per_doc = {
            r.doc_id: r.n
            for r in frames.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
        }
        meta = {r.doc_id: r.meta.n_bytes for r in media.collect()}
        for doc_id, n in per_doc.items():
            assert n == max(meta[doc_id] // 80, 1)


class TestApproxAggregates:
    def test_approx_count_distinct_tolerance(self, spark, sf_dir):
        events = load_table(spark, sf_dir, "events")
        approx = {
            r.event_type: r.a
            for r in events.groupBy("event_type")
            .agg(F.approx_count_distinct("user_id").alias("a"))
            .collect()
        }
        exact = {
            r.event_type: r.e
            for r in events.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("e"))
            .collect()
        }
        for et, e in exact.items():
            assert abs(approx[et] - e) / e < 0.1

    def test_percentile_approx_tolerance(self, spark, sf_dir):
        events = load_table(spark, sf_dir, "events")
        row = events.agg(
            F.percentile_approx("value", 0.5, 10000).alias("p50"),
            F.expr("percentile(value, 0.5)").alias("exact"),
        ).collect()[0]
        assert abs(row.p50 - row.exact) <= abs(row.exact) * 0.05 + 1e-6


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    from amadou_spark.llm.similarity import cosine_topk_bruteforce, cosine_topk_ivf
    from amadou_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qids = list(range(10))
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk_bruteforce(emb, query_ids=qids, k=5).collect()}
    approx = {(r.query_id, r.neighbor_id) for r in cosine_topk_ivf(emb, query_ids=qids, k=5, n_lists=16, n_probe=6).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF recall too low: {recall}"


def test_pq_recall_vs_bruteforce(spark, sf_dir):
    """PQ-ADC shortlist + exact re-rank must recover most of the true
    top-5; determinism is pinned by running it twice."""
    from amadou_spark.llm.similarity import cosine_topk_bruteforce, pq_topk
    from amadou_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qids = list(range(10))
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(emb, query_ids=qids, k=5).collect()
    }
    first = pq_topk(emb, query_ids=qids, k=5).collect()
    approx = {(r.query_id, r.neighbor_id) for r in first}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"PQ recall too low: {recall}"
    again = pq_topk(emb, query_ids=qids, k=5).collect()
    assert [tuple(r) for r in first] == [tuple(r) for r in again]


def test_pq_large_query_set_chunks_to_same_result(spark, sf_dir):
    """r2 VERDICT #5: a query set over max_query_rows is scored in
    bounded chunks (one ADC pass per chunk) and must produce exactly
    the single-pass result."""
    from amadou_spark.catalog import load_table
    from amadou_spark.llm.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qids = list(range(10))
    single = pq_topk(emb, query_ids=qids, k=5).collect()
    chunked = pq_topk(emb, query_ids=qids, k=5, max_query_rows=3).collect()
    assert [tuple(r) for r in single] == [tuple(r) for r in chunked]


def test_pq_empty_query_set_keeps_id_type(spark):
    """The empty-result branch must carry the same id type as the
    non-empty path (generic over id_col), so unions across calls can't
    hit a schema mismatch only in the empty case."""
    from pyspark.sql import functions as F

    from amadou_spark.llm.similarity import pq_topk

    emb = spark.range(8).select(
        F.concat(F.lit("v"), F.col("id")).alias("vec_id"),
        F.array(*[F.rand(seed=7) for _ in range(16)]).alias("embedding"),
    )
    out = pq_topk(emb, query_ids=["no_such_id"], m=4, k_sub=4, k=2)
    assert out.count() == 0
    assert out.schema["query_id"].dataType.simpleString() == "string"
    assert out.schema["neighbor_id"].dataType.simpleString() == "string"


def test_bruteforce_large_query_set_raises_contract_error(spark, sf_dir):
    """r2 VERDICT #5: brute force is |corpus|x|q| — a large query set
    must fail loudly with a pointer at the sub-linear paths instead of
    silently broadcasting into a row-multiplying join."""
    from amadou_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="max_query_rows"):
        cosine_topk_bruteforce(
            emb, query_ids=list(range(20)), k=3, max_query_rows=8
        )


def test_ivf_sampled_training_and_bucketed_index(spark, sf_dir):
    """The 100 TB index shape: quantizer trained on a bounded sample,
    assignments persisted hash-bucketed by list_id, probe reads the
    bucketed table. Results must match the inline (unpersisted) build
    bit-for-bit — same seeds, same centroids, same re-rank."""
    from amadou_spark.llm.similarity import cosine_topk_ivf
    from amadou_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qids = list(range(5))
    inline = cosine_topk_ivf(
        emb, query_ids=qids, k=3, n_lists=8, n_probe=4, max_train_rows=200
    ).collect()
    persisted = cosine_topk_ivf(
        emb,
        query_ids=qids,
        k=3,
        n_lists=8,
        n_probe=4,
        max_train_rows=200,
        index_table="ivf_index_test",
    ).collect()
    assert [tuple(r) for r in inline] == [tuple(r) for r in persisted]
    # the persisted index is a real bucketed catalog table
    assert spark.catalog.tableExists("ivf_index_test")
    spark.sql("DROP TABLE IF EXISTS ivf_index_test")


def test_resize_stub_contract(spark, sf_dir):
    from amadou_spark.llm.multimodal import as_media_table, resize_stub

    media = as_media_table(load_table(spark, sf_dir, "documents").limit(10))
    out = resize_stub(media, factor=4).collect()
    assert len(out) == 10
    for r in out:
        assert r.n_bytes_out == (r.n_bytes_in + 3) // 4
        assert len(bytes(r.payload)) == r.n_bytes_out


def test_decontaminate_flags_planted_leak(spark):
    """A train doc embedding a verbatim 5-gram from an eval doc is
    flagged; an unrelated train doc is not."""
    from amadou_spark.llm.dedup import exploded_shingles
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog", "eval"),
            (2, "intro text then the quick brown fox jumps and more", "train"),
            (3, "completely unrelated words about spark plans here", "train"),
        ],
        "doc_id long, text string, source string",
    )
    eval_sh = (
        exploded_shingles(docs.filter(F.col("source") == "eval"), n=5)
        .select("shingle")
        .distinct()
    )
    train_sh = exploded_shingles(docs.filter(F.col("source") == "train"), n=5).distinct()
    flagged = {
        r.doc_id
        for r in train_sh.join(F.broadcast(eval_sh), "shingle").select("doc_id").distinct().collect()
    }
    assert flagged == {2}


def test_repetition_metrics_known_values(spark):
    """dup fractions on hand-computable docs: 'a a a a' has 3/4 duplicate
    tokens and 2/3 duplicate bigrams; an all-distinct doc has zero both."""
    from amadou_spark.llm.text import repetition_metrics

    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "w x y z")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_metrics(docs).collect()}
    assert out[1].n_tokens == 4
    assert abs(out[1].dup_token_frac - 0.75) < 1e-9
    assert abs(out[1].dup_bigram_frac - (1 - 1 / 3)) < 1e-6
    assert out[2].dup_token_frac == 0.0
    assert out[2].dup_bigram_frac == 0.0


def test_redact_pii_planted_fixture(spark):
    """Each PII class is counted and replaced; clean text is untouched."""
    from amadou_spark.llm.text import redact_pii

    docs = spark.createDataFrame(
        [
            (1, "mail a@b.com and c.d+x@e.org call 555-123-4567 ssn 987-65-4321"),
            (2, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in redact_pii(docs).collect()}
    assert (out[1].n_email, out[1].n_phone, out[1].n_ssn) == (2, 1, 1)
    assert out[1].redacted == "mail [EMAIL] and [EMAIL] call [PHONE] ssn [SSN]"
    assert (out[2].n_email, out[2].n_phone, out[2].n_ssn) == (0, 0, 0)
    assert out[2].redacted == "nothing sensitive here"


def test_connected_components_planted_graph(spark, both_paths):
    """Two components (a 4-chain — needs >1 propagation round — and a
    pair) resolve to min-id labels on both paths; the isolated node is
    absent."""
    from amadou_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(3, 9), (9, 12), (12, 20), (40, 41)], "id_a long, id_b long"
    )
    for out in both_paths(
        lambda: {r.node: r.cluster_id for r in connected_components(edges).collect()}
    ):
        assert out == {3: 3, 9: 3, 12: 3, 20: 3, 40: 40, 41: 40}


def test_connected_components_both_paths_agree(spark, both_paths):
    """The size-gated driver components and the distributed min-label
    fixpoint (the local gate patched to 0) produce identical labels,
    including on a long chain (worst case for round counts) and string
    node ids (the pagerank-style vertex domain)."""
    from amadou_spark.operators.graph import connected_components

    chain = [(i, i + 1) for i in range(0, 5)] + [(100, 101), (101, 99)]
    edges = spark.createDataFrame(chain, "id_a long, id_b long")
    local, dist = both_paths(
        lambda: {r.node: r.cluster_id for r in connected_components(edges).collect()}
    )
    assert local == dist
    assert local[5] == 0 and local[99] == 99 and local[100] == 99

    sedges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "id_a string, id_b string"
    )
    slocal = {r.node: r.cluster_id for r in connected_components(sedges).collect()}
    assert slocal == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_pack_sequences_budget_invariants(spark):
    """Every sequence holds consecutive docs of its shard; a doc's
    offset is the running sum before it, mod budget."""
    from amadou_spark.llm.text import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (10 + i))) for i in range(40)],
        "doc_id long, text string",
    )
    rows = pack_sequences(docs, budget=64, n_shards=4).collect()
    by_shard = {}
    for r in sorted(rows, key=lambda r: (r.shard, r.doc_id)):
        before = by_shard.get(r.shard, 0)
        assert r.seq_id == before // 64
        assert r.offset == before % 64
        by_shard[r.shard] = before + r.n_tokens


def test_leakage_safe_split_keeps_clusters_together(spark, planted):
    """Near-dup clusters must never straddle train/val/test — the
    per-doc hash split can leak near-duplicates of training docs into
    eval; the cluster-aware split cannot."""
    from amadou_spark.llm.dedup import leakage_safe_split
    from amadou_spark.operators.graph import connected_components

    pairs = ngram_jaccard_pairs(planted, min_jaccard=0.5).select("id_a", "id_b")
    clusters = connected_components(pairs)
    out = leakage_safe_split(planted, clusters)
    split_of = {r.doc_id: r.split for r in out.collect()}
    # docs 1,2,3 form one near-dup cluster -> identical split
    assert split_of[1] == split_of[2] == split_of[3]
    assert set(split_of) == {1, 2, 3, 4, 5}
    # deterministic across invocations
    again = {r.doc_id: r.split for r in leakage_safe_split(planted, clusters).collect()}
    assert split_of == again


def test_bpe_learn_merges_planted_corpus(spark):
    """BPE merge learning on a corpus with hand-computable statistics:
    'low' x5 + 'lower' x2 -> the first merge must be (l,o) with support
    7, and after it the symbol table contains 'lo' so round 2's argmax
    is (lo,w) with support 7. Also pins the run-grouping semantics:
    both engines' replace passes resume AFTER the replacement."""
    from amadou_spark.llm.text import bpe_learn_merges

    docs = spark.createDataFrame(
        [("d1", " ".join(["low"] * 5)), ("d2", " ".join(["lower"] * 2))],
        "doc_id string, text string",
    )
    out = bpe_learn_merges(docs, num_merges=3).collect()
    assert [(r.left_sym, r.right_sym, r.pair_count) for r in out] == [
        ("l", "o", 7),
        ("lo", "w", 7),
        ("e", "r", 2),
    ]
    assert [r.merged for r in out] == ["lo", "low", "er"]
    assert [r.merge_rank for r in out] == [1, 2, 3]


def test_bpe_learn_merges_run_semantics_match_duckdb(spark):
    """Self-adjacent pair runs ('aaaa' under rule a+a) are where one
    replace pass can differ from canonical leftmost-greedy BPE; pin
    that Spark and DuckDB group them IDENTICALLY so the oracle hash
    holds on any corpus."""
    import duckdb
    from pyspark.sql import functions as F

    s = "·a·a·a·a·a·"
    got = (
        spark.range(1)
        .select(F.replace(F.lit(s), F.lit("·a·a·"), F.lit("·aa·")).alias("x"))
        .collect()[0]
        .x
    )
    want = duckdb.sql(
        "SELECT replace('·a·a·a·a·a·', '·a·a·', '·aa·')"
    ).fetchone()[0]
    assert got == want


def test_triangle_stats_planted_graph(spark):
    """K4 (4 triangles, clustering 1.0) plus a pendant edge lowers
    clustering to 12/15 = 0.8; self-loops and duplicate/reversed edges
    must not inflate any count."""
    from amadou_spark.operators.graph import triangle_stats

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = k4 + [(4, 5), (5, 4), (2, 1), (3, 3)]
    df = spark.createDataFrame(edges, "u int, v int")
    row = triangle_stats(df).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (5, 7, 4)
    assert row.clustering == 0.8


def test_triangle_stats_wedge_free_graph(spark):
    """A single edge has no wedges: clustering must be NULL, not a
    division error."""
    from amadou_spark.operators.graph import triangle_stats

    df = spark.createDataFrame([(1, 2)], "u int, v int")
    row = triangle_stats(df).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (2, 1, 0)
    assert row.clustering is None


def test_bfs_levels_planted_path(spark, both_paths):
    """Path 1-2-3-4-5-6 from source 1 with max_depth=3 reaches only
    nodes 1..4; a disconnected edge (10,11) must never appear. An
    explicit source outside the graph reaches only itself."""
    from amadou_spark.operators.graph import bfs_levels

    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11)]
    df = spark.createDataFrame(edges, "u int, v int")
    for got in both_paths(
        lambda: {(r.node, r.level) for r in bfs_levels(df, max_depth=3).collect()}
    ):
        assert got == {(1, 0), (2, 1), (3, 2), (4, 3)}
    for got in both_paths(lambda: bfs_levels(df, source=77).collect()):
        assert [tuple(r) for r in got] == [(77, 0)]


def test_bfs_levels_early_exit_and_min_level(spark, both_paths):
    """Triangle + tail: node 3 is reachable at hops 1 (direct) and 2
    (via 2) — level must be the minimum; frontier drains before
    max_depth so the loop exits early."""
    from amadou_spark.operators.graph import bfs_levels

    edges = [(1, 2), (2, 3), (1, 3), (3, 4)]
    df = spark.createDataFrame(edges, "u int, v int")
    for got in both_paths(
        lambda: {(r.node, r.level) for r in bfs_levels(df, max_depth=10).collect()}
    ):
        assert got == {(1, 0), (2, 1), (3, 1), (4, 2)}


def test_kcore_planted_graph(spark, both_paths):
    """K5 with a pendant tail: the 2-core strips the tail in cascading
    rounds (node 6 first, then 7 becomes degree-0) leaving exactly K5
    with all degrees 4; a 5-core of K5 is empty (max degree is 4)."""
    from amadou_spark.operators.graph import kcore

    k5 = [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
    edges = k5 + [(5, 6), (6, 7)]
    df = spark.createDataFrame(edges, "u int, v int")
    for got, n_5core in both_paths(
        lambda: (
            {(r.node, r.degree) for r in kcore(df, k=2, max_rounds=8).collect()},
            kcore(df, k=5, max_rounds=8).count(),
        )
    ):
        assert got == {(n, 4) for n in range(1, 6)}
        assert n_5core == 0


def test_label_propagation_planted_communities(spark, both_paths):
    """Two triangles joined by one bridge (3-4). Round 1 gives every
    node its min neighbour. Round 2 takes the most frequent neighbour
    label (node 4 sees 1, 4, 4 and keeps 4), count ties to the smallest
    (node 2 sees 2, 1 and takes 1; node 5 sees 3, 4 and takes 3)."""
    from amadou_spark.operators.graph import label_propagation

    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (4, 6)]
    df = spark.createDataFrame(edges, "u long, v long")
    for r1, r2 in both_paths(
        lambda: tuple(
            dict(map(tuple, label_propagation(df, rounds=n).collect()))
            for n in (1, 2)
        )
    ):
        assert r1 == {1: 2, 2: 1, 3: 1, 4: 3, 5: 4, 6: 4}
        assert r2 == {1: 1, 2: 1, 3: 1, 4: 4, 5: 3, 6: 3}


def test_link_prediction_excludes_existing_edges(spark, sf_dir):
    """q99: no predicted pair may already be an edge of the sampled
    co-order graph, scores are positive, and common_neighbors >= 1."""
    from pyspark.sql import functions as F

    from amadou_spark.queries.frontier import q99_link_prediction
    from amadou_spark.catalog import register_tables

    out = q99_link_prediction(spark, sf_dir).collect()
    assert 0 < len(out) <= 20
    assert all(r.adamic_adar > 0 and r.common_neighbors >= 1 for r in out)
    t = register_tables(spark, sf_dir)
    pl = (
        t["lineitem"]
        .filter(F.col("l_orderkey") % 5 == 0)
        .select("l_orderkey", "l_partkey")
    )
    a, b = pl.alias("a"), pl.alias("b")
    edges = {
        (r.u, r.v)
        for r in a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
        .collect()
    }
    assert all((r.node_a, r.node_b) not in edges for r in out)


def test_bfs_levels_empty_graph(spark, both_paths):
    """Only-self-loop input canonicalizes to zero edges: must return an
    empty frame, not crash deriving the default source."""
    from amadou_spark.operators.graph import bfs_levels

    df = spark.createDataFrame([(3, 3)], "u int, v int")
    assert both_paths(lambda: bfs_levels(df).count()) == (0, 0)


def test_duplicated_spans_planted(spark):
    """Two docs share a 10-token run: start positions of its three
    8-token windows merge into ONE maximal span of length 10 per doc;
    a doc with no 8-token overlap produces nothing; a sub-window
    (7-token) shared run is invisible."""
    from amadou_spark.llm.dedup import duplicated_spans

    shared = "a b c d e f g h i j"  # 10 tokens
    docs = spark.createDataFrame(
        [
            ("d1", f"x1 {shared} y1 z1"),  # span at pos 2..11
            ("d2", f"{shared} q r s"),  # span at pos 1..10
            ("d3", "p q r s t u v w"),  # unique 8 tokens, no dup
            ("d4", "a b c d e f g zz one two three four five"),  # 7 shared
        ],
        "doc_id string, text string",
    )
    got = {
        (r.doc_id, r.span_start, r.span_end, r.span_len)
        for r in duplicated_spans(docs, window=8).collect()
    }
    assert got == {("d1", 2, 11, 10), ("d2", 1, 10, 10)}


def test_kcore_raises_on_unconverged_bound(spark, both_paths):
    """Convergence contract: a path graph peels one
    layer per round under k=2, so max_rounds=1 cannot reach fixpoint —
    the bounded result is a strict supergraph of the (empty) 2-core and
    must RAISE instead of silently returning it, and a generous bound
    converges to the true answer."""
    import pytest as _pytest

    from amadou_spark.operators.graph import kcore

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], "u long, v long"
    )
    tri = spark.createDataFrame([(0, 1), (1, 2), (0, 2)], "u long, v long")

    def check():
        with _pytest.raises(RuntimeError, match="fixpoint"):
            kcore(path, k=2, max_rounds=1)
        assert kcore(path, k=2, max_rounds=10).count() == 0
        # a graph that IS its own k-core converges in one round regardless
        assert kcore(tri, k=2, max_rounds=1).count() == 3

    both_paths(check)


def test_duplicated_spans_merges_overlapping_windows(spark):
    """ADVICE r4 (medium): marked starts differing by 2..window-1
    overlap as token ranges and must merge into ONE maximal span —
    the consecutive-start islands of r4 returned overlapping spans
    whose span_len sum exceeded the document length. Fixture: in dA
    the 4-token windows at pos 1 and pos 3 are duplicated (via dB/dC)
    but pos 2 is not; maximal coverage of dA is the single span 1..6."""
    from amadou_spark.llm.dedup import duplicated_spans

    docs = spark.createDataFrame(
        [
            ("dA", "t u v w m n"),
            ("dB", "t u v w"),
            ("dC", "v w m n"),
        ],
        "doc_id string, text string",
    )
    got = {
        (r.doc_id, r.span_start, r.span_end, r.span_len)
        for r in duplicated_spans(docs, window=4).collect()
    }
    assert got == {("dA", 1, 6, 6), ("dB", 1, 4, 4), ("dC", 1, 4, 4)}


def test_duplicated_spans_are_disjoint_on_corpus(spark, sf_dir):
    """Invariant from the fixed merge semantics: per document, spans
    never overlap (each starts after the previous ends) so summed
    span_len can never exceed the document's token count."""
    from collections import defaultdict

    from amadou_spark.catalog import load_table
    from amadou_spark.llm.dedup import duplicated_spans

    docs = load_table(spark, sf_dir, "documents")
    spans = defaultdict(list)
    for r in duplicated_spans(docs, window=8).collect():
        spans[r.doc_id].append((r.span_start, r.span_end, r.span_len))
    n_tokens = {
        r.doc_id: r.n
        for r in docs.selectExpr(
            "doc_id", "size(split(text, ' ')) AS n"
        ).collect()
    }
    assert spans, "corpus fixture should contain duplicated substrings"
    for doc_id, ss in spans.items():
        ss.sort()
        for (s1, e1, _), (s2, _, _) in zip(ss, ss[1:]):
            assert s2 > e1, (doc_id, ss)
        assert sum(l for _, _, l in ss) <= n_tokens[doc_id]


def test_bpe_encode_roundtrip_and_planted_tokens(spark):
    """bpe_encode: every word's symbol concatenation reconstructs the
    word exactly (lossless round-trip), token counts match the symbol
    sequence, and the planted 'low'x5 + 'lower'x2 corpus encodes to the
    hand-computable segmentations after 3 merges (lo, low, er)."""
    from amadou_spark.llm.text import bpe_encode

    docs = spark.createDataFrame(
        [("d1", " ".join(["low"] * 5)), ("d2", " ".join(["lower"] * 2))],
        "doc_id string, text string",
    )
    rows = {r.word: r for r in bpe_encode(docs, num_merges=3).collect()}
    assert rows["low"].encoded == "low"
    assert rows["low"].n_tokens == 1
    assert rows["lower"].encoded == "low er"
    assert rows["lower"].n_tokens == 2
    assert rows["low"].cnt == 5 and rows["lower"].cnt == 2
    for r in rows.values():
        syms = r.encoded.split(" ")
        assert "".join(syms) == r.word
        assert len(syms) == r.n_tokens


def test_bpe_encode_roundtrip_on_corpus(spark, sf_dir):
    """Corpus-wide lossless-reconstruction invariant: no word in the
    sf0.001 documents table loses or gains a character through
    learn-then-encode."""
    from pyspark.sql import functions as F

    from amadou_spark.catalog import register_tables
    from amadou_spark.llm.text import bpe_encode

    docs = register_tables(spark, sf_dir)["documents"]
    enc = bpe_encode(docs, num_merges=4)
    bad = enc.filter(
        (F.replace(F.col("encoded"), F.lit(" "), F.lit("")) != F.col("word"))
        | (F.size(F.split(F.col("encoded"), " ")) != F.col("n_tokens"))
    )
    assert bad.count() == 0


class TestOverlapCoefficient:
    def test_containment_scores_one(self, spark):
        """A doc that is a strict shingle-subset of another scores
        overlap 1.0 even though its Jaccard is well below 1 — the
        asymmetry that motivates the measure."""
        from amadou_spark.llm.dedup import overlap_coeff_pairs

        long = " ".join(f"w{i}" for i in range(40))
        short = " ".join(f"w{i}" for i in range(12))  # strict prefix
        df = spark.createDataFrame(
            [(1, long), (2, short), (3, "zz yy xx ww vv uu")],
            "doc_id LONG, text STRING",
        )
        pairs = {
            (r.id_a, r.id_b): r.overlap
            for r in overlap_coeff_pairs(df, min_overlap=0.5).collect()
        }
        assert pairs[(1, 2)] == 1.0
        assert (1, 3) not in pairs and (2, 3) not in pairs
        jac = {
            (r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs(df, min_jaccard=0.01).collect()
        }
        assert jac[(1, 2)] < 1.0  # jaccard dilutes containment

    def test_overlap_dominates_jaccard(self, planted):
        """common/min >= common/union on every candidate pair."""
        from amadou_spark.llm.dedup import overlap_coeff_pairs

        ov = {
            (r.id_a, r.id_b): r.overlap
            for r in overlap_coeff_pairs(planted, min_overlap=0.0).collect()
        }
        jac = {
            (r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs(planted, min_jaccard=0.0).collect()
        }
        assert set(jac) == set(ov)
        for k, j in jac.items():
            assert ov[k] >= j - 1e-9
