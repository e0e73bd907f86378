"""Deduplication operators: exact, n-gram Jaccard, SimHash, MinHash-LSH.

Scale design (100 TB corpus):
- exact dedup groups on a 256-bit content hash → shuffle carries 32-byte
  keys instead of documents;
- near-dup candidate generation NEVER does an O(n²) cross join: pairs
  come from an inverted-index self-join on shingles (n-gram Jaccard),
  LSH band buckets (MinHash), or signature buckets (SimHash), each of
  which is an equi-join Catalyst can shuffle-partition;
- frequent-shingle capping bounds the worst-case join fan-out (a shingle
  appearing in f docs contributes f² candidate pairs — a stop-shingle
  list is the skew guard, same role as salting a hot key).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from amadou_spark.llm.text import portable_token_hash, tokens
from amadou_spark.scale import GATE_CONFS, broadcast_gate, materialize_shared
from amadou_spark.session import conf_scope


def dedup_exact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup via sha2-256 grouping: one row per distinct content,
    keeping the smallest doc_id as canonical. Output: (content_hash,
    keep_id, n_copies)."""
    return (
        docs.select(F.sha2(F.col(text_col), 256).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


def shingles_of(toks: Column, fallback: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a token-array column.

    IMPORTANT: ``toks`` must reference a MATERIALIZED column (project
    `split(...)` into a named column first). Passing the split
    expression directly re-evaluates the split inside every element_at
    of the lambda — O(tokens²) strings per document, ~10× slower at
    corpus scale.

    Documents shorter than n tokens fall back to a single whole-text
    shingle (``fallback``): (a) short docs stay comparable (by exact
    text), and (b) no row ever carries an empty shingle set. Also note
    Spark's sequence(0, -k) counts DOWN, so the n-token guard is
    required for correctness, not just hygiene.
    """
    made = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)]),
        )
    )
    return F.when(F.size(toks) >= n, made).otherwise(F.array(fallback))


def exploded_shingles(docs: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, shingle) one row per shingle occurrence — the codegen
    fast path for shingling at corpus scale.

    Built from slice + arrays_zip + explode + concat_ws instead of a
    higher-order ``transform`` lambda: Spark's higher-order functions
    run on the INTERPRETED expression path (no whole-stage codegen),
    which measured ~2× slower per element. Short docs (<n tokens)
    contribute their whole text as a single shingle via a cheap union
    (same fallback semantics as ``shingles_of``)."""
    toks = docs.select(
        "doc_id", F.col(text_col).alias("_text"), tokens(F.col(text_col)).alias("_t")
    ).withColumn("_sz", F.size("_t"))
    zipped = F.arrays_zip(
        *[F.slice("_t", j + 1, F.col("_sz") - (n - 1)).alias(f"w{j}") for j in range(n)]
    )
    main = (
        toks.filter(F.col("_sz") >= n)
        .select("doc_id", F.explode(zipped).alias("_z"))
        .select(
            "doc_id",
            F.concat_ws(" ", *[f"_z.w{j}" for j in range(n)]).alias("shingle"),
        )
    )
    fallback = toks.filter(F.col("_sz") < n).select(
        "doc_id", F.col("_text").alias("shingle")
    )
    return main.union(fallback)


def _shingle_pair_counts(
    docs: DataFrame,
    text_col: str,
    n: int,
    max_shingle_freq: int,
) -> DataFrame:
    """Shared inverted-index candidate machinery for the set-similarity
    dedup family: returns (id_a, id_b, n_common, n_a, n_b) for every
    doc pair sharing at least one (non-stop) shingle. Jaccard and
    overlap-coefficient scoring are thin selects over this.
    """
    # join on a 64-bit shingle hash, not the string: the self-join
    # shuffle then carries 8-byte keys instead of ~n·word-length strings
    # (collision odds at xxhash64 width are ~|shingles|²/2⁶⁵ — nil).
    # The .distinct() is the set-Jaccard semantics; the eager
    # localCheckpoint makes it the plan's sharing point OUTRIGHT: the
    # scan+explode+distinct runs ONCE and every consumer (counts,
    # stop-shingles, both self-join sides) reads the materialized
    # blocks. ReusedExchange used to provide this for free when all
    # consumers were shuffle joins, but broadcast-joined consumers read
    # through BroadcastExchange subtrees that don't unify with the
    # shuffle Exchange — without the checkpoint the explode re-runs
    # per consumer (measured 8 explode instances in one plan).
    # materialize_shared upgrades to a reliable checkpoint()
    # automatically when the session has a checkpoint dir (cluster
    # posture); executor-local localCheckpoint blocks otherwise.
    sh = (
        exploded_shingles(docs, text_col, n)
        .select("doc_id", F.xxhash64("shingle").alias("shingle"))
        .distinct()
    )
    sh = materialize_shared(sh)
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hot = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("freq"))
        .filter(F.col("freq") > max_shingle_freq)
        .select("shingle")
    )
    # the stop-shingle set is bounded by |doc-shingle pairs| /
    # max_shingle_freq — NOT by the doc count (a 5M-doc corpus with 10k
    # shingles/doc admits tens of millions of hot rows), so gate its
    # hint on its own sound bound. Both bounds derive from the
    # CHECKPOINTED sh (cheap scans of materialized blocks):
    # |distinct doc_id in sh| == |counts| <= |docs|, so it soundly
    # bounds the counts-side broadcast without re-running the full
    # upstream docs lineage a second time (docs itself is uncached).
    # both gate bounds in ONE job over the checkpointed blocks (each
    # action is a full job and the bounds feed planning only, so fusing
    # them is free). GATE_CONFS (AQE off for the action) keeps it one
    # job — under AQE this tiny agg materializes 3 query-stage jobs.
    with conf_scope(docs.sparkSession, GATE_CONFS):
        stats = sh.agg(
            F.countDistinct("doc_id").alias("nd"), F.count("*").alias("nr")
        ).first()
    n_docs = stats["nd"]
    hot_bound = stats["nr"] // max_shingle_freq
    sh = sh.join(broadcast_gate(hot, hot_bound), "shingle", "left_anti")
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    # per-doc shingle counts are |docs| rows — unbounded at corpus
    # scale, so the broadcast is size-gated (see scale.BROADCAST_ROWS_GATE):
    # hinted while the doc count is provably small, otherwise a plain
    # shuffle join on the 8-byte doc_id that AQE may still convert
    ca = counts.select(F.col("doc_id").alias("id_a"), F.col("n_shingles").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("id_b"), F.col("n_shingles").alias("n_b"))
    return common.join(broadcast_gate(ca, n_docs), "id_a").join(
        broadcast_gate(cb, n_docs), "id_b"
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    min_jaccard: float = 0.05,
    max_shingle_freq: int = 1000,
) -> DataFrame:
    """Near-dup candidate pairs by n-gram Jaccard similarity.

    Inverted-index plan: doc→shingles (explode) → self equi-join on
    shingle (id_a < id_b) → count common shingles per pair → join per-doc
    shingle counts → jaccard = common / (|A| + |B| - common).

    ``max_shingle_freq`` drops shingles shared by more than that many
    docs (stop-shingles): they add candidate pairs quadratically while
    carrying almost no signal — this is the skew guard that keeps the
    self-join bounded at corpus scale.
    """
    return (
        _shingle_pair_counts(docs, text_col, n, max_shingle_freq)
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def overlap_coeff_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    min_overlap: float = 0.5,
    max_shingle_freq: int = 1000,
) -> DataFrame:
    """Asymmetric near-dup pairs by the Szymkiewicz-Simpson overlap
    coefficient: common / min(|A|, |B|).

    Catches the containment case Jaccard misses — a short document
    wholly embedded in a much longer one scores overlap 1.0 but
    Jaccard |A|/|B| (arbitrarily low). This is the measure a corpus
    curation pass uses to drop quote-expansions and boilerplate-wrapped
    duplicates. Same inverted-index/stop-shingle candidate plan as
    :func:`ngram_jaccard_pairs` (shared machinery), so candidate
    generation stays equi-join-bounded at corpus scale. The score is
    one correctly-rounded division of exact integer counts.
    """
    return (
        _shingle_pair_counts(docs, text_col, n, max_shingle_freq)
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_common") / F.least(F.col("n_a"), F.col("n_b")), 6
            ).alias("overlap"),
        )
        .filter(F.col("overlap") >= min_overlap)
    )


SIMHASH_BITS = 64
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 16 → 65,536 buckets/band


def simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash over whitespace tokens with term-frequency weights.

    Classic construction: per token hash h, each bit b votes +1 if set
    else -1; the signature sets bit b when the vote sum is positive.
    Implemented as explode → 64 conditional SUM aggregates → bit
    recombination, all JVM-side. Uses the portable md5-based hash so the
    signature is bit-for-bit reproducible in any engine (oracle-checked):
    bits 0-31 come from md5 hex chars 1-8, bits 32-63 from chars 9-16.
    The signature is a signed BIGINT; bit 63 is represented through the
    two's-complement negative term, identical in Spark and DuckDB.
    """
    # Expressions emitted as SQL text, not Column trees: the 64 vote
    # aggregates plus the 64-term signature recombination cost ~750
    # driver py4j round-trips per build the Column way (r10 measured the
    # same pattern dominating llm_kmeans); as text the JVM parses each
    # in one call. Identical operators underneath (md5/conv/shiftright/
    # conditional SUM), bit-identical signatures.
    toks = docs.select("doc_id", F.explode(tokens(F.col(text_col))).alias("tok"))
    hashed = toks.selectExpr(
        "doc_id",
        "CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT) AS h_lo",
        "CAST(conv(substring(md5(tok), 9, 8), 16, 10) AS BIGINT) AS h_hi",
    )
    votes = [
        F.expr(
            f"SUM(CASE WHEN (shiftright({'h_lo' if b < 32 else 'h_hi'}, "
            f"{b % 32}) & 1) = 1 THEN 1 ELSE -1 END) AS v{b}"
        )
        for b in range(SIMHASH_BITS)
    ]
    # bit 63 of a signed 64-bit value is the sign bit: adding -2^63
    # sets it without overflowing (the low 63 bits sum < 2^63); the
    # bare positive literal would overflow the parser, hence the
    # -9223372036854775807 - 1 spelling
    sig = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST("
        + ("-9223372036854775807 - 1" if b == 63 else str(2**b))
        + " AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(SIMHASH_BITS)
    )
    return (
        hashed.groupBy("doc_id")
        .agg(*votes)
        .selectExpr("doc_id", f"{sig} AS simhash")
    )


def simhash_near_pairs(
    docs: DataFrame, text_col: str = "text", max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, banded for scale:
    split the 64-bit signature into 4 16-bit bands; by pigeonhole, any
    pair within Hamming ≤3 agrees on at least one band → equi-join on
    (band_index, band_value) buckets, then verify exact distance via
    bit_count(xor). No cross join anywhere. 16-bit bands give 65,536
    buckets per band, so bucket occupancy stays ~n/65,536 as the corpus
    grows — the self-join fan-out survives a 100× scale-up (8-bit bands
    cap at 256 buckets and degenerate toward quadratic)."""
    # eager localCheckpoint: the signature computation (token explode +
    # 64 conditional aggregates) would otherwise run twice — once per
    # side of the band self-join (self-joins duplicate the subtree;
    # only shuffle-exchange consumers get ReusedExchange sharing)
    sigs = materialize_shared(simhash(docs, text_col))
    bands = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        # arithmetic shift sign-extends for the top band;
                        # the & 0xFFFF mask strips the extension
                        F.shiftright(F.col("simhash"), SIMHASH_BAND_BITS * i)
                        .bitwiseAND(F.lit((1 << SIMHASH_BAND_BITS) - 1))
                        .alias("value"),
                    )
                    for i in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "simhash", "bv.band", "bv.value")
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.value") == F.col("b.value"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


#: MinHash affine-hash domain: h_i(x) = (a_i·x + b_i) mod P. P is a
#: Mersenne prime < 2^61; coefficients < 2^30 and x < 2^32 keep a·x
#: inside signed-64 range in every engine.
MINHASH_P = (1 << 61) - 1


def minhash_coefficients(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, 1 << 30), rng.randrange(0, 1 << 30)) for _ in range(num_hashes)
    ]


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 2,
    max_distance: float = 0.6,
    seed: int = 42,
) -> DataFrame:
    """Near-dup pairs via banded MinHash LSH, built from first
    principles on DataFrame ops (every step codegen-able, every hash
    portable — the whole pipeline is DuckDB-oracle-checkable):

      shingles → portable 32-bit hash x → num_hashes affine min-hashes
      (the signature) → bands of ``rows_per_band`` signature rows →
      equi-join on (band, row values) → candidate pairs → EXACT Jaccard
      (common-shingle count join) → filter ≥ 1 − max_distance.

    Banding is AND-amplification: a pair must agree on EVERY min-hash
    inside some band, so a band collides with probability jaccardʳ —
    quadratically fewer false candidates than single-hash buckets
    (pyspark.ml's approxSimilarityJoin), which measured ~10× slower on
    a shared-vocabulary corpus where single-hash buckets all collide.
    Returns (id_a, id_b, jaccard_dist) with jaccard_dist = 1 − exact J.
    """
    n_bands = num_hashes // rows_per_band
    coeffs = minhash_coefficients(num_hashes, seed)

    # (doc_id, x) distinct shingle hashes, eagerly materialized once
    # (localCheckpoint) so counts, signatures and the verification join
    # all read the same blocks instead of re-running the explode per
    # consumer (see ngram_jaccard_pairs note: broadcast-joined
    # consumers defeat ReusedExchange sharing).
    sh = (
        exploded_shingles(docs, text_col, n)
        .select(
            "doc_id",
            F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("bigint").alias("x"),
        )
        .distinct()
    )
    sh = materialize_shared(sh)
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))

    # signature + banding expressions as SQL text (one JVM parse each)
    # rather than ~180 py4j Column calls — same affine min-hash
    # arithmetic, identical int->bigint promotions
    sigs = sh.groupBy("doc_id").agg(
        *[
            F.expr(f"MIN(({a} * x + {b}) % {MINHASH_P}) AS m{i}")
            for i, (a, b) in enumerate(coeffs)
        ]
    )
    band_structs = ",".join(
        f"named_struct('band', {band}, "
        + ", ".join(
            f"'k{j}', m{band * rows_per_band + j}"
            for j in range(rows_per_band)
        )
        + ")"
        for band in range(n_bands)
    )
    bands = sigs.selectExpr(
        "doc_id", f"explode(array({band_structs})) AS bv"
    ).select("doc_id", "bv.*")

    a, b = bands.alias("a"), bands.alias("b")
    band_cond = (F.col("a.band") == F.col("b.band")) & (
        F.col("a.doc_id") < F.col("b.doc_id")
    )
    for j in range(rows_per_band):
        band_cond = band_cond & (F.col(f"a.k{j}") == F.col(f"b.k{j}"))
    cand = (
        a.join(b, band_cond)
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )

    # exact Jaccard, computed only for candidates
    sa = sh.select(F.col("doc_id").alias("id_a"), "x")
    sb = sh.select(F.col("doc_id").alias("id_b"), "x")
    common = (
        cand.join(sa, "id_a").join(sb, ["id_b", "x"]).groupBy("id_a", "id_b").agg(
            F.count("*").alias("n_common")
        )
    )
    # per-doc counts are |docs| rows — unbounded, so the hint is
    # size-gated (see scale.BROADCAST_ROWS_GATE); the bound comes from the
    # checkpointed sh (|distinct doc_id| == |counts| <= |docs|), not a
    # second full scan of the uncached docs lineage
    # planning-only bound: one countDistinct job under GATE_CONFS
    # (a distinct().count() spelling of the same number runs as 3 AQE
    # stage jobs)
    with conf_scope(docs.sparkSession, GATE_CONFS):
        n_docs = sh.agg(F.countDistinct("doc_id")).first()[0]
    ca = counts.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        common.join(broadcast_gate(ca, n_docs), "id_a")
        .join(broadcast_gate(cb, n_docs), "id_b")
        .filter(jac >= 1.0 - max_distance)
        .select("id_a", "id_b", F.round(1.0 - jac, 6).alias("jaccard_dist"))
    )


def leakage_safe_split(
    docs: DataFrame,
    clusters: DataFrame,
    train_pct: int = 80,
    val_pct: int = 10,
    doc_col: str = "doc_id",
) -> DataFrame:
    """Train/val/test split assigned per DEDUP CLUSTER, not per doc.

    A per-doc hash split puts near-duplicates of a training document
    into the test set — silent train/test contamination that inflates
    eval scores. Here every member of a near-dup cluster inherits the
    split of its cluster representative: bucket = portable md5 hash of
    the representative id, so membership is deterministic across
    engines/runs/reshards (same property as the per-doc split) and no
    cluster ever straddles a split boundary.

    ``clusters``: (node, cluster_id) as produced by
    :func:`amadou_spark.operators.graph.connected_components` over any
    near-dup pair set; docs absent from it are singletons and hash on
    their own id. One left join on the doc id (fixed-width keys; the
    cluster table is |clustered docs| rows — usually the small side,
    left to AQE) plus the same zero-state hash as the per-doc split.
    """
    rep = F.coalesce(F.col("cluster_id"), F.col(doc_col))
    bucket = (
        F.conv(F.substring(F.md5(rep.cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 100
    )
    cl = clusters.select(
        F.col("node").alias(doc_col), F.col("cluster_id")
    )
    return (
        docs.join(cl, doc_col, "left")
        .withColumn(
            "split",
            F.when(bucket < train_pct, "train")
            .when(bucket < train_pct + val_pct, "val")
            .otherwise("test"),
        )
        .drop("cluster_id")
    )


def duplicated_spans(
    docs: DataFrame, text_col: str = "text", window: int = 8
) -> DataFrame:
    """Exact duplicated-substring detection, the windowed-hash shape of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better") without the suffix array: every ``window``-token sliding
    window is hashed; windows whose hash occurs more than once anywhere
    in the corpus mark their start positions; marked positions whose
    token ranges ``[pos, pos+window-1]`` overlap or touch merge into
    MAXIMAL disjoint duplicated spans of >= ``window`` tokens per
    document. (Merging on *consecutive* start positions only — the r4
    shape — left starts differing by 2..window-1 in separate islands,
    so spans could overlap and span_len sums could exceed the document
    length; islands now merge whenever the start gap is <= window,
    restoring the Lee et al. maximal-span semantics.)

    Scale shape: window generation is a pure JVM projection (transform
    over a sequence — no shuffle, no Python); the duplicate-hash set
    comes from ONE hash aggregation with map-side combine; marking is
    an equi-join on the 32-hex hash (never the text); island-merging is
    one per-doc window sort. At 100 TB nothing driver-resident exists
    and the only wide columns ever shuffled are (doc_id, pos, hash).

    Returns (doc_id, span_start BIGINT [1-based], span_end BIGINT,
    span_len BIGINT) ordered by doc, position.
    """
    w = int(window)
    # tokenize ONCE in a projection: referencing split() inside the
    # transform lambda re-evaluates it per window element (no CSE
    # across a lambda boundary), turning window generation O(tokens^2)
    # per document — measured 5.3s -> ~2s at sf0.1 from this hoist.
    wins = F.expr(
        f"""CASE WHEN size(_toks) >= {w}
            THEN transform(
                sequence(1, size(_toks) - {w - 1}),
                i -> struct(i AS pos,
                            md5(concat_ws(' ', slice(_toks, i, {w})))
                                AS h))
            ELSE array() END"""
    )
    marked = (
        docs.select(
            "doc_id", F.split(F.col(text_col), " ").alias("_toks")
        )
        .select("doc_id", F.explode(wins).alias("x"))
        .select("doc_id", F.col("x.pos").alias("pos"), F.col("x.h").alias("h"))
    )
    dup = (
        marked.groupBy("h")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .select("h")
    )
    win = W.partitionBy("doc_id").orderBy("pos")
    # All intervals share length w, so sorted-by-start is sorted-by-end:
    # a new island starts exactly when this start exceeds the previous
    # interval's end + 1 (gap > w). Running-sum of island starts is the
    # island id. First row: pos - NULL is NULL -> otherwise(1). One
    # window over the same (doc_id, pos) sort the old row_number used.
    new_island = F.when(
        F.col("pos") - F.lag("pos").over(win) <= w, F.lit(0)
    ).otherwise(F.lit(1))
    return (
        marked.join(dup, "h")
        .withColumn("g", F.sum(new_island).over(win))
        .groupBy("doc_id", "g")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + (w - 1)).cast("bigint").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
        )
        .orderBy("doc_id", "span_start")
    )
