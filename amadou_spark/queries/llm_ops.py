"""LLM-data-pipeline operators as declared queries (SURVEY §2.2 B08-B10
plus the north-star extensions): dedup (exact / n-gram Jaccard / SimHash
/ MinHash-LSH), similarity search (brute-force + LSH), text analysis,
multimodal plumbing.

Oracle philosophy: wherever the operator is deterministic we make it
CROSS-ENGINE CHECKABLE, including the hash-based ones — signatures use
the portable md5-hex construction so even SimHash and fingerprints get
real DuckDB oracles. Only genuinely non-SQL ops (MinHash-LSH banding,
random-hyperplane LSH, Arrow mapInPandas stubs) fall back to the
rows-only check, with pytest pinning their semantics instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from amadou_spark.catalog import register_tables
from amadou_spark.llm.dedup import (
    SIMHASH_BITS,
    dedup_exact,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    overlap_coeff_pairs,
    simhash,
    simhash_near_pairs,
)
from amadou_spark.llm.multimodal import as_media_table, extract_features, frame_sample_stub
from amadou_spark.llm.similarity import cosine_topk_bruteforce, cosine_topk_lsh
from amadou_spark.llm.text import LANG_MARKERS, STOPWORDS_EN, fingerprint, language_id, text_stats
from amadou_spark.queries import query

#: DuckDB spelling of the portable token hash (Spark: conv(substr(md5,1,8),16,10)).
_DUCK_H = "CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT)"


# ---------------------------------------------------------------- dedup

@query(
    "llm_dedup_exact",
    oracle="""
        SELECT sha256(text) AS content_hash,
               MIN(doc_id) AS keep_id,
               count(*) AS n_copies
        FROM documents
        GROUP BY sha256(text)
        ORDER BY keep_id
    """,
    description="exact dedup: group on sha2-256 content hash, keep min doc_id; "
    "shuffle carries 32-byte keys, never documents",
)
def llm_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    return dedup_exact(t["documents"]).orderBy("keep_id")


@query(
    "llm_dedup_ngram_jaccard",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM documents
        ), sh0 AS (
            SELECT doc_id,
                   tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
            FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            QUALIFY lead(tok, 2) OVER w IS NOT NULL
        ), sh AS (
            SELECT DISTINCT doc_id, shingle FROM sh0
        ), ok AS (
            SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 1000
        ), shf AS (
            SELECT sh.doc_id, sh.shingle FROM sh JOIN ok USING (shingle)
        ), counts AS (
            SELECT doc_id, count(*) AS n FROM shf GROUP BY doc_id
        ), common AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
            FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               ROUND(CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common), 6) AS jaccard
        FROM common
        JOIN counts ca ON ca.doc_id = id_a
        JOIN counts cb ON cb.doc_id = id_b
        WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= 0.05
        ORDER BY jaccard DESC, id_a, id_b
        LIMIT 200
    """,
    description="near-dup via 3-gram Jaccard: inverted-index self-join (no "
    "cross join); stop-shingle cap bounds the quadratic fan-out at scale",
)
def llm_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    return (
        ngram_jaccard_pairs(t["documents"], min_jaccard=0.05, max_shingle_freq=1000)
        .orderBy(F.col("jaccard").desc(), "id_a", "id_b")
        .limit(200)
    )


def _simhash_oracle() -> str:
    votes = ",\n               ".join(
        f"SUM(CASE WHEN ({'h_lo' if b < 32 else 'h_hi'} >> {b % 32}) & 1 = 1 "
        f"THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    # bit 63 enters as the two's-complement negative term (-2^63 spelled
    # as -9223372036854775807 - 1: the bare literal would overflow the
    # parser's positive-int range in both engines)
    sig = " + ".join(
        f"CASE WHEN v{b} > 0 THEN CAST("
        + ("-9223372036854775807 - 1" if b == 63 else str(2**b))
        + f" AS BIGINT) ELSE 0 END"
        for b in range(SIMHASH_BITS)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ), hashed AS (
            SELECT doc_id, {_DUCK_H} AS h_lo,
                   CAST(('0x' || substring(md5(tok), 9, 8)) AS BIGINT) AS h_hi
            FROM toks
        ), votes AS (
            SELECT doc_id,
               {votes}
            FROM hashed GROUP BY doc_id
        )
        SELECT doc_id, CAST({sig} AS BIGINT) AS simhash
        FROM votes ORDER BY doc_id
    """


@query(
    "llm_dedup_simhash",
    oracle=_simhash_oracle(),
    description="32-bit SimHash signatures, bit-for-bit oracle-checked via the "
    "portable md5 token hash (explode → 32 vote-sums → bit recombination, all "
    "JVM-side)",
)
def llm_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    return simhash(t["documents"]).orderBy("doc_id")


@query(
    "llm_dedup_simhash_pairs",
    oracle=f"""
        WITH sigs AS ({_simhash_oracle().replace("ORDER BY doc_id", "")})
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        ORDER BY id_a, id_b
    """,
    description="SimHash near-dup pairs (Hamming ≤ 3) via byte-band pigeonhole "
    "buckets — the Spark plan equi-joins on (band, value), never cross-joins; "
    "the oracle brute-forces the same answer on the small fixture",
)
def llm_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    return (
        simhash_near_pairs(t["documents"], max_hamming=3)
        .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
        .orderBy("id_a", "id_b")
    )


def _minhash_oracle(num_hashes: int = 16, rows_per_band: int = 2, max_distance: float = 0.5) -> str:
    from amadou_spark.llm.dedup import MINHASH_P, minhash_coefficients

    coeffs = minhash_coefficients(num_hashes)
    mins = ",\n                   ".join(
        f"MIN(({a} * x + {b}) % {MINHASH_P}) AS m{i}" for i, (a, b) in enumerate(coeffs)
    )
    n_bands = num_hashes // rows_per_band
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {band} AS band, {keys} FROM sigs".format(
            band=band,
            keys=", ".join(
                f"m{band * rows_per_band + j} AS k{j}" for j in range(rows_per_band)
            ),
        )
        for band in range(n_bands)
    )
    band_eq = " AND ".join(f"a.k{j} = b.k{j}" for j in range(rows_per_band))
    return f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM documents
        ), sh0 AS (
            SELECT doc_id,
                   tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
            FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            QUALIFY lead(tok, 2) OVER w IS NOT NULL
        ), sh AS (
            SELECT DISTINCT doc_id,
                   CAST(('0x' || substring(md5(shingle), 1, 8)) AS BIGINT) AS x
            FROM sh0
        ), counts AS (
            SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
        ), sigs AS (
            SELECT doc_id,
                   {mins}
            FROM sh GROUP BY doc_id
        ), bands AS (
            {band_selects}
        ), cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND {band_eq} AND a.doc_id < b.doc_id
        ), common AS (
            SELECT c.id_a, c.id_b, count(*) AS n_common
            FROM cand c
            JOIN sh sa ON sa.doc_id = c.id_a
            JOIN sh sb ON sb.doc_id = c.id_b AND sb.x = sa.x
            GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               ROUND(1.0 - CAST(n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - n_common), 6)
                 AS jaccard_dist
        FROM common
        JOIN counts ca ON ca.doc_id = id_a
        JOIN counts cb ON cb.doc_id = id_b
        WHERE CAST(n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - n_common) >= {1.0 - max_distance}
        ORDER BY id_a, id_b
    """


@query(
    "llm_dedup_minhash",
    oracle=_minhash_oracle(),
    description="banded MinHash LSH near-dup pairs, FULLY oracle-checked: "
    "portable md5 shingle hashes → 16 affine min-hash signatures → 8 bands "
    "of 2 (AND-amplification: band collision ~ J², quadratically fewer false "
    "candidates than single-hash buckets) → exact Jaccard on candidates",
)
def llm_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    return minhash_lsh_pairs(
        t["documents"], num_hashes=16, rows_per_band=2, max_distance=0.5
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------- similarity

@query(
    "llm_similarity_topk",
    oracle="""
        WITH q AS (
            SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id < 20
        ), c AS (
            SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
            FROM embeddings
        ), scored AS (
            SELECT query_id, neighbor_id,
                   ROUND(list_cosine_similarity(qv, cv), 6) AS cosine
            FROM q CROSS JOIN c
            WHERE query_id <> neighbor_id
        )
        SELECT query_id, neighbor_id, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
        FROM scored
        QUALIFY rank <= 5
        ORDER BY query_id, rank
    """,
    description="brute-force cosine top-5 for 20 query vectors: broadcast "
    "queries × corpus scan, dot product via an Arrow-batched numpy einsum "
    "(pandas UDF; ROUND(·, 6) absorbs summation-order float noise), "
    "per-query top-k window",
)
def llm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    return cosine_topk_bruteforce(t["embeddings"], query_ids=list(range(20)), k=5)


#: 32 fixed query vectors for the ANN recall gates (vec_id is dense
#: 0..N-1 at every sf, so these exist everywhere).
_RECALL_QIDS = list(range(32))

_RECALL_ORACLE = "SELECT CAST(32 AS BIGINT) AS n_queries, TRUE AS recall_ok"


def _recall_check(exact: DataFrame, approx: DataFrame, threshold: float) -> DataFrame:
    """One-row (n_queries, recall_ok) frame: recall@k of ``approx``
    against the brute-force ``exact`` top-k, thresholded. The ANN
    neighbor LISTS are engine-specific (no SQL oracle can reproduce
    them), but the recall BOUND is a deterministic, hash-checkable
    claim — the same trick as b05's within_tol. Thresholds sit well
    under the measured recall at every sf (seeded pipelines →
    reproducible)."""
    hits = exact.join(
        approx.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    ).agg(F.count(F.lit(1)).alias("hits"))
    totals = exact.agg(
        F.count(F.lit(1)).alias("total"),
        F.count_distinct("query_id").alias("n_queries"),
    )
    return hits.crossJoin(totals).select(
        F.col("n_queries").cast("bigint").alias("n_queries"),
        (F.col("hits") / F.col("total") >= F.lit(threshold)).alias("recall_ok"),
    )


@query(
    "llm_similarity_lsh_recall",
    oracle=_RECALL_ORACLE,
    description="hash-checkable recall gate for the LSH ANN path: "
    "recall@5 over 32 queries vs brute force must be >= 0.8 (measured "
    "0.96-1.0 across sf0.001/0.01/0.1; hyperplanes are seeded so the "
    "number is reproducible). Puts ANN quality under the driver's hash "
    "gate instead of pytest alone",
)
def llm_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    exact = cosine_topk_bruteforce(t["embeddings"], query_ids=_RECALL_QIDS, k=5)
    approx = cosine_topk_lsh(
        t["embeddings"], query_ids=_RECALL_QIDS, k=5, n_planes=16, n_bands=8
    )
    return _recall_check(exact, approx, 0.8)


@query(
    "llm_similarity_ivf_recall",
    oracle=_RECALL_ORACLE,
    description="hash-checkable recall gate for the IVF ANN path: "
    "recall@5 over 32 queries vs brute force must be >= 0.6 (measured "
    "0.75-0.78 across sfs; the k-means quantizer trains on a seeded "
    "sample)",
)
def llm_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.llm.similarity import cosine_topk_ivf

    t = register_tables(spark, sf_dir)
    exact = cosine_topk_bruteforce(t["embeddings"], query_ids=_RECALL_QIDS, k=5)
    approx = cosine_topk_ivf(
        t["embeddings"], query_ids=_RECALL_QIDS, k=5, n_lists=16, n_probe=6
    )
    return _recall_check(exact, approx, 0.6)


@query(
    "llm_similarity_pq_recall",
    oracle=_RECALL_ORACLE,
    description="hash-checkable recall gate for the PQ-ADC path: "
    "recall@5 over 32 queries vs brute force must be >= 0.6 (measured "
    "0.72-0.89 across sfs; codebooks train on a seeded sample and the "
    "shortlist re-ranks exactly)",
)
def llm_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.llm.similarity import pq_topk

    t = register_tables(spark, sf_dir)
    exact = cosine_topk_bruteforce(t["embeddings"], query_ids=_RECALL_QIDS, k=5)
    approx = pq_topk(t["embeddings"], query_ids=_RECALL_QIDS, k=5)
    return _recall_check(exact, approx, 0.6)


# ---------------------------------------------------------------- text analysis

_STOP_LIST = ", ".join(f"'{w}'" for w in STOPWORDS_EN)


@query(
    "llm_text_stats",
    oracle=f"""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens_ws,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens_bpe,
               CAST(length(text) AS BIGINT) AS n_chars_calc,
               ROUND((length(text) - (len(string_split(text, ' ')) - 1))
                     / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) AS mean_token_len,
               ROUND((length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))
                     / CAST(length(text) AS DOUBLE), 4) AS punct_ratio,
               ROUND(CAST(len(list_filter(string_split(text, ' '),
                                          t -> t IN ({_STOP_LIST}))) AS DOUBLE)
                     / len(string_split(text, ' ')), 4) AS stopword_ratio
        FROM documents ORDER BY doc_id
    """,
    description="text quality scoring: token counts (whitespace + BPE-ish "
    "regex), mean token length, punctuation ratio, stopword ratio — one "
    "narrow JVM-side projection, zero shuffles",
)
def llm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    return text_stats(t["documents"]).orderBy("doc_id")


def _langid_oracle() -> str:
    score_cols = []
    for lang in sorted(LANG_MARKERS):
        markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        score_cols.append(
            f"CAST(len(list_filter(string_split(text, ' '), t -> t IN ({markers}))) AS BIGINT) AS score_{lang}"
        )
    greatest = "GREATEST(" + ", ".join(f"score_{lang}" for lang in sorted(LANG_MARKERS)) + ")"
    cases = " ".join(
        f"WHEN score_{lang} = {greatest} THEN '{lang}'" for lang in sorted(LANG_MARKERS)
    )
    scores = ",\n               ".join(f"score_{lang}" for lang in sorted(LANG_MARKERS))
    return f"""
        WITH scored AS (
            SELECT doc_id, lang, {", ".join(score_cols)}
            FROM documents
        )
        SELECT doc_id, lang,
               {scores},
               CASE {cases} END AS lang_pred
        FROM scored ORDER BY doc_id
    """


@query(
    "llm_text_langid",
    oracle=_langid_oracle(),
    description="marker-word language ID: per-language stopword hit counts, "
    "argmax prediction (lexicographic tie-break)",
)
def llm_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    return language_id(t["documents"]).orderBy("doc_id")


@query(
    "llm_text_fingerprint",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM documents
        )
        SELECT doc_id,
               CAST(SUM((pos * ({_DUCK_H} % 1000003)) % 1000003) % 1000003 AS BIGINT)
                 AS fingerprint
        FROM toks GROUP BY doc_id ORDER BY doc_id
    """,
    description="order-sensitive document fingerprint: Σ position·hash(token) "
    "mod p — order-sensitive yet sum-commutative, so Spark computes it with "
    "partial aggregation and no sort",
)
def llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    return fingerprint(t["documents"]).orderBy("doc_id")


# ---------------------------------------------------------------- multimodal

@query(
    "llm_multimodal_meta",
    oracle="""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               sha256(text) AS content_hash
        FROM documents ORDER BY doc_id
    """,
    description="multimodal column plumbing: opaque binary payload + typed "
    "metadata struct (type, size, content hash) derived fully JVM-side",
)
def llm_mm_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    media = as_media_table(t["documents"])
    return media.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.content_hash").alias("content_hash"),
    ).orderBy("doc_id")


@query(
    "llm_multimodal_features",
    oracle="""
        SELECT doc_id,
               'image' AS media_type,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               ROUND(unicode(text) / 255.0, 6) AS f0
        FROM documents ORDER BY doc_id
    """,
    description="decode/feature-extract via mapInPandas (Arrow-batched); codec "
    "is a deterministic stub (no image libs in container) — schema, batching "
    "and partition plumbing are real. Hash-checkable (r4): the stub's first "
    "feature is byte[0]/255, which for the ASCII corpus the oracle recomputes "
    "as unicode(text)/255 — so the Arrow round-trip, batching and schema are "
    "under the driver's hash gate, not just a row count",
)
def llm_mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    feats = extract_features(as_media_table(t["documents"]))
    return feats.select(
        "doc_id", "media_type", "n_bytes", F.round(F.element_at("feature", 1), 6).alias("f0")
    ).orderBy("doc_id")


@query(
    "llm_multimodal_frames",
    oracle="""
        SELECT doc_id,
               GREATEST(CAST(FLOOR(octet_length(encode(text)) / 80.0) AS BIGINT), 1)
                 AS n_frames
        FROM documents ORDER BY doc_id
    """,
    description="video frame-sampling plumbing: one media row explodes to "
    "n_frames slice rows; oracle checks the fan-out arithmetic",
)
def llm_mm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    frames = frame_sample_stub(as_media_table(t["documents"]))
    return (
        frames.groupBy("doc_id").agg(F.count("*").alias("n_frames")).orderBy("doc_id")
    )


# ---------------------------------------------------------------- flagship pipeline

@query(
    "llm_pipeline_training_data",
    oracle="""
        WITH en0 AS (
            SELECT * FROM documents WHERE lang = 'en'
        ), kept AS (
            -- dedup INSIDE the language-filtered subset: stage order is
            -- part of the declared semantics (a doc whose duplicate
            -- exists in another language must survive)
            SELECT MIN(doc_id) AS doc_id FROM en0 GROUP BY text
        ), en AS (
            SELECT en0.* FROM en0 JOIN kept USING (doc_id)
        ), q AS (
            SELECT *, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
            FROM en
            WHERE len(string_split(text, ' ')) BETWEEN 10 AND 1000
        )
        SELECT source,
               count(*) AS n_docs,
               ROUND(AVG(n_chars), 2) AS avg_chars,
               CAST(SUM(n_toks) AS BIGINT) AS total_tokens
        FROM q GROUP BY source ORDER BY source
    """,
    description="flagship composite: the canonical training-data curation "
    "pipeline as a Stage graph — language filter → exact dedup (keep min id) "
    "→ token-length quality gate → per-source corpus stats. Demonstrates the "
    "Stage algebra carrying real Spark transformations end-to-end",
)
def llm_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.dates import DateInterval
    from amadou_spark.monitoring.messaging import PrintMessagingSystem
    from amadou_spark.stage import Context, source as stage_source, transform
    from datetime import date as _date

    t = register_tables(spark, sf_dir)

    @stage_source("ReadDocuments")
    def read_docs(ctx):
        return t["documents"]

    @transform("LanguageFilter")
    def lang_filter(ctx):
        return ctx.value.filter(F.col("lang") == "en")

    @transform("ExactDedup")
    def dedup(ctx):
        keep = dedup_exact(ctx.value).select(F.col("keep_id").alias("doc_id"))
        return ctx.value.join(keep, "doc_id", "left_semi")

    @transform("QualityGate")
    def quality(ctx):
        n_toks = F.size(F.split(F.col("text"), r"\s+")).cast("bigint")
        return ctx.value.withColumn("n_toks", n_toks).filter(
            F.col("n_toks").between(10, 1000)
        )

    @transform("CorpusStats")
    def stats(ctx):
        return (
            ctx.value.groupBy("source")
            .agg(
                F.count("*").alias("n_docs"),
                F.round(F.avg("n_chars"), 2).alias("avg_chars"),
                F.sum("n_toks").cast("bigint").alias("total_tokens"),
            )
            .orderBy("source")
        )

    pipeline = read_docs >> lang_filter >> dedup >> quality >> stats
    ctx = Context(
        spark=spark,
        date=DateInterval.day(_date(2026, 1, 1)),
        value=None,
        job_name="training_data_pipeline",
        messaging=PrintMessagingSystem(quiet=True),
    )
    return pipeline(ctx)


#: portable per-doc hash bucket in [0, 100): Spark and DuckDB spell the
#: same int(md5(doc_id_string)[:8], 16) % 100. Built lazily — Column
#: expressions need a live SparkContext, and this module imports at
#: registry load time, possibly before any session exists.
def _spark_doc_bucket():
    return (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )


_DUCK_DOC_BUCKET = (
    "CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100"
)


@query(
    "llm_split_train_val_test",
    oracle=f"""
        SELECT doc_id, lang,
               CASE WHEN b < 80 THEN 'train'
                    WHEN b < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT doc_id, lang, {_DUCK_DOC_BUCKET} AS b FROM documents)
        ORDER BY doc_id
    """,
    description="deterministic hash-based train/val/test split (80/10/10): "
    "bucket = portable_hash(doc_id) % 100. Zero coordination, zero state, "
    "reproducible across engines/runs/reshards — the scale-safe way to cut "
    "training splits (a seeded sample() changes membership when partitioning "
    "changes; a content hash never does)",
)
def llm_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    bucket = _spark_doc_bucket()
    return (
        t["documents"]
        .select(
            "doc_id",
            "lang",
            F.when(bucket < 80, "train")
            .when(bucket < 90, "val")
            .otherwise("test")
            .alias("split"),
        )
        .orderBy("doc_id")
    )


@query(
    "llm_split_leakage_safe",
    oracle="""
        WITH RECURSIVE toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM documents
        ), sh0 AS (
            SELECT doc_id,
                   tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
            FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            QUALIFY lead(tok, 2) OVER w IS NOT NULL
        ), sh AS (
            SELECT DISTINCT doc_id, shingle FROM sh0
        ), ok AS (
            SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 1000
        ), shf AS (
            SELECT sh.doc_id, sh.shingle FROM sh JOIN ok USING (shingle)
        ), counts AS (
            SELECT doc_id, count(*) AS n FROM shf GROUP BY doc_id
        ), common AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
            FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), edges AS (
            SELECT id_a, id_b FROM common
            JOIN counts ca ON ca.doc_id = id_a
            JOIN counts cb ON cb.doc_id = id_b
            WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= 0.5
        ), sym AS (
            SELECT id_a AS a, id_b AS b FROM edges
            UNION
            SELECT id_b, id_a FROM edges
        ), walk AS (
            SELECT a AS src, b AS node FROM sym
            UNION
            SELECT w.src, s.b FROM walk w JOIN sym s ON w.node = s.a
        ), cl AS (
            SELECT src AS doc_id, LEAST(src, MIN(node)) AS cluster_id
            FROM walk GROUP BY src
        )
        SELECT doc_id, lang,
               CASE WHEN b < 80 THEN 'train'
                    WHEN b < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM (
            SELECT d.doc_id, d.lang,
                   CAST(('0x' || substring(md5(CAST(
                       COALESCE(cl.cluster_id, d.doc_id) AS VARCHAR)), 1, 8))
                   AS BIGINT) % 100 AS b
            FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
        )
        ORDER BY doc_id
    """,
    description="leakage-safe train/val/test split (llm/dedup.py "
    "leakage_safe_split): every member of a near-dup cluster inherits "
    "the split of its cluster representative (min doc_id via connected "
    "components over the 3-gram-Jaccard>=0.5 edge set), so no cluster "
    "ever straddles a split boundary — a per-doc hash split would put "
    "near-duplicates of training docs into test (silent contamination "
    "that inflates eval). One left join on the doc id plus the same "
    "portable md5 bucket as llm_split_train_val_test. Oracle = "
    "recursive-CTE transitive closure + the same md5-bucket CASE over "
    "the cluster-min representative",
)
def llm_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.llm.dedup import leakage_safe_split
    from amadou_spark.operators.graph import connected_components

    t = register_tables(spark, sf_dir)
    edges = ngram_jaccard_pairs(
        t["documents"], min_jaccard=0.5, max_shingle_freq=1000
    ).select("id_a", "id_b")
    clusters = connected_components(edges)
    return leakage_safe_split(
        t["documents"].select("doc_id", "lang"), clusters
    ).orderBy("doc_id")


@query(
    "llm_url_dedup",
    oracle="""
        WITH u AS (
            SELECT doc_id,
                   'https://WWW.' || source || '.Example.com/Page/'
                   || CAST(doc_id % 50 AS VARCHAR)
                   || '/?utm_source=feed&session=s' || CAST(doc_id AS VARCHAR)
                   || '&ref=rss#frag' AS url
            FROM documents
        ), c AS (
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                       regexp_replace(lower(url), '#.*$', '', 'g'),
                       '(utm_[a-z]+|session|ref)=[^&#]*&?', '', 'g'),
                       '[?&]+$', '', 'g'),
                       '//www\\.', '//', 'g'),
                       '/$', '', 'g') AS canonical_url
            FROM u
        )
        SELECT canonical_url, COUNT(*) AS n_dups, MIN(doc_id) AS keep_id
        FROM c GROUP BY canonical_url ORDER BY canonical_url
    """,
    description="URL canonicalization + dedup (the first dedup pass of "
    "every web-scale crawl pipeline — cheaper than any content "
    "comparison): lowercase, strip fragment, strip tracking params "
    "(utm_*/session/ref), strip www. and trailing slash, then group by "
    "canonical URL keeping the min doc_id. The corpus has no URL "
    "column, so a deterministic doc-derived URL is planted first (same "
    "pattern as llm_pii_redact) — collisions on (source, doc_id%50) "
    "make the dedup non-degenerate. All JVM-side regex on one scan + "
    "one hash agg with map-side combine; zero joins",
)
def llm_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    url = F.concat(
        F.lit("https://WWW."),
        F.col("source"),
        F.lit(".Example.com/Page/"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit("/?utm_source=feed&session=s"),
        F.col("doc_id").cast("string"),
        F.lit("&ref=rss#frag"),
    )
    canon = F.lower(url)
    canon = F.regexp_replace(canon, "#.*$", "")
    canon = F.regexp_replace(canon, "(utm_[a-z]+|session|ref)=[^&#]*&?", "")
    canon = F.regexp_replace(canon, "[?&]+$", "")
    canon = F.regexp_replace(canon, "//www\\.", "//")
    canon = F.regexp_replace(canon, "/$", "")
    return (
        t["documents"]
        .select("doc_id", canon.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keep_id"))
        .orderBy("canonical_url")
    )


@query(
    "llm_sample_stratified",
    oracle=f"""
        SELECT doc_id, lang, CAST(rn AS BIGINT) AS rn
        FROM (
            SELECT doc_id, lang,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY {_DUCK_DOC_BUCKET.replace("% 100", "")}, doc_id
                   ) AS rn
            FROM documents
        )
        WHERE rn <= 40
        ORDER BY lang, rn
    """,
    description="deterministic stratified sampling: up to 40 docs per language, "
    "chosen by portable-hash order (reproducible 'random' without RNG state). "
    "One shuffle partitioned by the stratum key; per-stratum top-k via "
    "row_number, so skewed strata cost O(stratum) not O(corpus)",
)
def llm_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    order_hash = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    w = W.partitionBy("lang").orderBy(order_hash, "doc_id")
    return (
        t["documents"]
        .select("doc_id", "lang", F.row_number().over(w).cast("bigint").alias("rn"))
        .filter(F.col("rn") <= 40)
        .orderBy("lang", "rn")
    )


@query(
    "llm_dedup_embedding_cosine",
    oracle="""
        SELECT id_a, id_b, cosine
        FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                CAST(b.embedding AS DOUBLE[])), 6) AS cosine
            FROM embeddings a
            JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
        )
        ORDER BY cosine DESC, id_a, id_b
        LIMIT 100
    """,
    description="embedding-cosine near-dup: label-BLOCKED exact pair scoring "
    "(blocking on the cluster label turns the quadratic all-pairs scan into "
    "per-block equi-joins — the classic dedup blocking strategy; swap the "
    "label for LSH/IVF bucket ids when no natural block key exists), top-100 "
    "most-similar pairs",
)
def llm_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    t = register_tables(spark, sf_dir)

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        m = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids, m = ids[order], m[order]
        norms = np.sqrt(np.einsum("ij,ij->i", m, m))
        cos = (m @ m.T) / np.outer(norms, norms)
        iu, ju = np.triu_indices(len(ids), k=1)
        return pd.DataFrame(
            {"id_a": ids[iu], "id_b": ids[ju], "cosine": np.round(cos[iu, ju], 6)}
        )

    # One applyInPandas call per BLOCK: the vectors cross the JVM↔Python
    # boundary once each (linear in corpus size, shuffled by block key),
    # and the quadratic pairwise work happens as a single BLAS matmul
    # inside numpy — pair rows carry only (id_a, id_b, cosine) scalars,
    # never the vectors. A pair-join formulation instead ships TWO
    # vectors per pair through Arrow (~1 KB/row × O(n·block) rows), which
    # dwarfs the dot-product cost. Block size is bounded by the blocking
    # key (sub-block via LSH/IVF bucket ids when a natural key is
    # missing or a block outgrows executor memory).
    pairs = (
        t["embeddings"]
        .select("label", "vec_id", "embedding")
        .groupBy("label")
        .applyInPandas(block_pairs, "id_a bigint, id_b bigint, cosine double")
    )
    return pairs.orderBy(F.col("cosine").desc(), "id_a", "id_b").limit(100)


# ---------------------------------------------------------------- decontamination / quality

@query(
    "llm_decontaminate",
    oracle="""
        WITH toks AS (
            SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM documents
        ), sh0 AS (
            SELECT doc_id, source,
                   tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
                       || ' ' || lead(tok, 3) OVER w || ' ' || lead(tok, 4) OVER w AS shingle
            FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            QUALIFY lead(tok, 4) OVER w IS NOT NULL
        ), sh AS (
            SELECT DISTINCT doc_id, source, shingle FROM sh0
        ), eval_sh AS (
            SELECT DISTINCT shingle FROM sh WHERE source = 'src0'
        ), train_sh AS (
            SELECT doc_id, shingle FROM sh WHERE source <> 'src0'
        )
        SELECT doc_id, count(*) AS n_shared_shingles
        FROM train_sh JOIN eval_sh USING (shingle)
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    description="eval-set decontamination: flag training documents sharing "
    "any 5-gram shingle with the held-out eval source (src0). The eval "
    "shingle set is small by construction (holdouts are), so it BROADCASTS "
    "into an equi-join against the training shingles — at 100 TB the train "
    "side streams through one codegen stage and never shuffles on text. "
    "Docs are word-soup over a ~30-word vocab, so 5-grams (not the 3-grams "
    "dedup uses) give realistic selectivity: only true cross-source "
    "duplicates are flagged. No reference analog (the reference has no "
    "document ops; capability from SURVEY §2.2 B08 extensions).",
)
def llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.llm.dedup import exploded_shingles

    t = register_tables(spark, sf_dir)
    docs = t["documents"]
    eval_sh = (
        exploded_shingles(docs.filter(F.col("source") == "src0"), n=5)
        .select("shingle")
        .distinct()
    )
    train_sh = exploded_shingles(
        docs.filter(F.col("source") != "src0"), n=5
    ).distinct()
    return (
        train_sh.join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_shingles"))
        .orderBy("doc_id")
    )


@query(
    "llm_quality_repetition",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM documents
        ), big0 AS (
            SELECT doc_id, tok || ' ' || lead(tok, 1) OVER w AS bigram
            FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            QUALIFY lead(tok, 1) OVER w IS NOT NULL
        ), stats AS (
            SELECT doc_id,
                   count(*) AS n_bigrams,
                   count(DISTINCT bigram) AS n_distinct
            FROM big0 GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
               ROUND(1.0 - len(list_distinct(string_split(d.text, ' ')))
                         / CAST(len(string_split(d.text, ' ')) AS DOUBLE), 6)
                   AS dup_token_frac,
               ROUND(1.0 - s.n_distinct / CAST(s.n_bigrams AS DOUBLE), 6)
                   AS dup_bigram_frac
        FROM documents d JOIN stats s ON d.doc_id = s.doc_id
        ORDER BY d.doc_id
    """,
    description="repetition-based quality scoring (the Gopher-style "
    "duplicate-n-gram filters): per-doc duplicate-token and duplicate-bigram "
    "fractions, computed ENTIRELY as per-row expressions on one scan — no "
    "shuffle at all, the ideal shape for a 100 TB quality-filter pass. "
    "Fractions divide exact integer counts, so both engines produce "
    "bit-identical doubles before ROUND. Every doc in the corpus has >=10 "
    "tokens (verified at all SFs), so the bigram denominator is never zero "
    "(a when() guard covers the general case anyway).",
)
def llm_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.llm.text import repetition_metrics

    t = register_tables(spark, sf_dir)
    return repetition_metrics(t["documents"]).orderBy("doc_id")


@query(
    "llm_text_tfidf",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ), tf AS (
            SELECT doc_id, tok, count(*) AS n FROM toks GROUP BY doc_id, tok
        ), dl AS (
            SELECT doc_id, count(*) AS doc_len FROM toks GROUP BY doc_id
        ), df AS (
            SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok
        ), nd AS (
            SELECT count(*) AS n_docs FROM documents
        )
        SELECT tf.doc_id, tf.tok,
               ROUND((tf.n / CAST(dl.doc_len AS DOUBLE))
                     * ln(CAST(nd.n_docs AS DOUBLE) / df.df), 6) AS tfidf
        FROM tf
        JOIN dl USING (doc_id)
        JOIN df USING (tok)
        CROSS JOIN nd
        ORDER BY tf.doc_id, tf.tok
    """,
    description="TF-IDF term weighting over the corpus: tf = term count / "
    "doc length, idf = ln(N / df). ONE tokenization pass (r7: the old "
    "three-aggregation formulation re-exploded the corpus per "
    "aggregate — pruning forks the shared explode): the (doc, term) "
    "count table is the complete sufficient statistic, so doc lengths "
    "(SUM of counts per doc) and document frequencies (row count per "
    "term) both derive from the CHECKPOINTED tf table — which must "
    "exist anyway, it is the output grain. The df table joins back on "
    "the term (equi-join — broadcast while the vocabulary is small, "
    "shuffle-partitioned when it isn't) and N is a single-row "
    "broadcast. The arithmetic keeps the exact same operation order "
    "in both engines so the doubles agree bit-for-bit before ROUND.",
)
def llm_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.llm.text import tokens
    from amadou_spark.scale import materialize_shared

    t = register_tables(spark, sf_dir)
    toks = t["documents"].select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    tf = materialize_shared(
        toks.groupBy("doc_id", "tok").agg(F.count("*").alias("_n"))
    )
    dl = tf.groupBy("doc_id").agg(F.sum("_n").alias("_doc_len"))
    df = tf.groupBy("tok").agg(F.count("*").alias("_df"))
    # N counts ALL documents (the oracle's count(*) FROM documents) —
    # a token-less doc has no tf rows and would vanish from dl's count
    nd = t["documents"].agg(F.count("*").alias("_n_docs"))
    return (
        tf.join(dl, "doc_id")
        .join(df, "tok")
        .join(F.broadcast(nd))
        .select(
            "doc_id",
            "tok",
            F.round(
                (F.col("_n") / F.col("_doc_len").cast("double"))
                * F.log(F.col("_n_docs").cast("double") / F.col("_df")),
                6,
            ).alias("tfidf"),
        )
        .orderBy("doc_id", "tok")
    )


@query(
    "llm_dedup_substrings",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM documents
        ), win AS (
            SELECT doc_id, pos,
                   md5(tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w || ' ' || lead(tok, 3) OVER w || ' ' || lead(tok, 4) OVER w || ' ' || lead(tok, 5) OVER w || ' ' || lead(tok, 6) OVER w || ' ' || lead(tok, 7) OVER w) AS h
            FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            QUALIFY lead(tok, 7) OVER w IS NOT NULL
        ), dup AS (
            SELECT h FROM win GROUP BY h HAVING count(*) > 1
        ), marked AS (
            SELECT w.doc_id, w.pos FROM win w JOIN dup USING (h)
        ), gaps AS (
            SELECT doc_id, pos,
                   CASE WHEN pos - lag(pos) OVER (
                            PARTITION BY doc_id ORDER BY pos) <= 8
                        THEN 0 ELSE 1 END AS brk
            FROM marked
        ), grp AS (
            SELECT doc_id, pos,
                   SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
            FROM gaps
        )
        SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
               CAST(max(pos) + 7 AS BIGINT) AS span_end,
               CAST(max(pos) + 7 - min(pos) + 1 AS BIGINT) AS span_len
        FROM grp GROUP BY doc_id, g
        ORDER BY doc_id, span_start
    """,
    description="exact duplicated-substring spans (Lee et al. 2022 "
    "substring dedup, windowed-hash form): every 8-token sliding "
    "window hashed as a pure JVM projection (transform over sequence "
    "— no shuffle, no Python), duplicate hashes found with one "
    "map-side-combined agg, positions marked by an equi-join on the "
    "hash, and marked starts whose token ranges overlap or touch "
    "(start gap <= window) merged into maximal DISJOINT duplicated "
    "spans. Only (doc_id, pos, hash) ever shuffles",
    tags=("llm", "dedup"),
)
def llm_dedup_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.llm.dedup import duplicated_spans

    t = register_tables(spark, sf_dir)
    return duplicated_spans(t["documents"], window=8)


@query(
    "llm_text_bm25",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ), dl AS (
            SELECT doc_id, CAST(count(*) AS DOUBLE) AS doc_len
            FROM toks GROUP BY doc_id
        ), stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                   (SELECT avg(doc_len) FROM dl) AS avgdl
            FROM documents
        ), qterms AS (
            SELECT * FROM (VALUES ('query'), ('join'), ('dup')) t(term)
        ), tf AS (
            SELECT doc_id, tok AS term, CAST(count(*) AS DOUBLE) AS tf
            FROM toks WHERE tok IN (SELECT term FROM qterms)
            GROUP BY doc_id, tok
        ), df AS (
            SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
            FROM toks JOIN qterms ON toks.tok = qterms.term
            GROUP BY term
        )
        SELECT doc_id, ROUND(SUM(
                   ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
                   * (tf.tf * 2.2)
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.doc_len
                                            / stats.avgdl))
               ), 6) AS bm25
        FROM tf
        JOIN dl USING (doc_id)
        JOIN df USING (term)
        CROSS JOIN stats
        GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id
        LIMIT 20
    """,
    description="BM25 retrieval scoring (k1=1.2, b=0.75) of the corpus "
    "against a fixed 3-term query spanning the IDF range — in ONE "
    "tokenization pass (r7 rewrite; the r7 dup-scan audit showed the "
    "old tf/dl/df formulation re-exploding documents ~5x because "
    "column pruning forked the shared explode): the 3 query-term "
    "literals pivot into per-doc tf COLUMNS inside the same agg that "
    "counts doc length, the doc-grain table is checkpointed, and "
    "df/n_docs/avgdl fold into ONE 1-row broadcast off it — scoring "
    "is then pure per-row arithmetic with NO fact join at all (a "
    "term absent from a doc contributes exactly 0.0, identical to the "
    "oracle's inner-join row set, which the tf>0 filter pins). Top-20 "
    "is a TakeOrdered on the ROUNDED score so the cutoff can never "
    "depend on a last-ulp double divergence between engines",
    tags=("llm", "text"),
)
def llm_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.scale import materialize_shared

    t = register_tables(spark, sf_dir)
    terms = ["query", "join", "dup"]
    # explicit single-space split, in lockstep with the oracle's
    # string_split(text, ' ') — NOT tokens() (regex \s+), whose doc_len
    # only coincides on single-space-separated corpora (ADVICE r4).
    # Same tokenizer contract as llm_token_pmi / llm_dedup_substrings.
    toks = t["documents"].select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    per_doc = materialize_shared(
        toks.groupBy("doc_id").agg(
            F.count("*").cast("double").alias("_doc_len"),
            *[
                F.sum(F.when(F.col("tok") == term, 1).otherwise(0))
                .cast("double")
                .alias(f"_tf_{i}")
                for i, term in enumerate(terms)
            ],
        )
    )
    # every doc yields one per_doc row (split('') is ['']), so n_docs
    # off this table equals the oracle's count over documents
    stats = per_doc.agg(
        F.count("*").cast("double").alias("_n_docs"),
        F.avg("_doc_len").alias("_avgdl"),
        *[
            F.sum(F.when(F.col(f"_tf_{i}") > 0, 1).otherwise(0))
            .cast("double")
            .alias(f"_df_{i}")
            for i in range(len(terms))
        ],
    )

    def contrib(i: int) -> F.Column:
        # identical operation order to the oracle so the doubles agree
        # bit-for-bit before ROUND (same contract as llm_text_tfidf)
        tf, dfc = F.col(f"_tf_{i}"), F.col(f"_df_{i}")
        return F.when(
            tf > 0,
            F.log(1.0 + (F.col("_n_docs") - dfc + 0.5) / (dfc + 0.5))
            * (tf * 2.2)
            / (
                tf
                + 1.2 * (0.25 + 0.75 * F.col("_doc_len") / F.col("_avgdl"))
            ),
        ).otherwise(F.lit(0.0))

    score = contrib(0) + contrib(1) + contrib(2)
    any_term = sum(
        (F.col(f"_tf_{i}") for i in range(len(terms))), F.lit(0.0)
    )
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .filter(any_term > 0)
        .select("doc_id", F.round(score, 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


@query(
    "llm_text_top_ngrams",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM documents
        ), big AS (
            SELECT tok || ' ' || lead(tok, 1) OVER w AS bigram
            FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            QUALIFY lead(tok, 1) OVER w IS NOT NULL
        )
        SELECT bigram, count(*) AS n_occurrences
        FROM big
        GROUP BY bigram
        ORDER BY n_occurrences DESC, bigram
        LIMIT 100
    """,
    description="corpus-wide n-gram frequency (top-100 bigrams): the "
    "codegen-path shingle explode feeds one partial-aggregated count — "
    "map-side combine collapses each partition to its distinct bigrams "
    "before the single shuffle, and the top-k is TakeOrderedAndProject "
    "(per-partition heaps), so at 100 TB nothing but (bigram, count) pairs "
    "ever move",
)
def llm_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.llm.dedup import exploded_shingles

    t = register_tables(spark, sf_dir)
    return (
        exploded_shingles(t["documents"], n=2)
        .groupBy(F.col("shingle").alias("bigram"))
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "bigram")
        .limit(100)
    )


@query(
    "llm_embedding_centroids",
    oracle="""
        WITH vals AS (
            SELECT label,
                   unnest(embedding) AS val,
                   generate_subscripts(embedding, 1) AS pos
            FROM embeddings
        ), centroid AS (
            SELECT label, pos, AVG(CAST(val AS DOUBLE)) AS c
            FROM vals GROUP BY label, pos
        ), norms AS (
            SELECT label, SQRT(SUM(c * c)) AS centroid_norm
            FROM centroid GROUP BY label
        ), counts AS (
            SELECT label, count(*) AS n_vectors FROM embeddings GROUP BY label
        )
        SELECT label, n_vectors, ROUND(centroid_norm, 6) AS centroid_norm
        FROM norms JOIN counts USING (label)
        ORDER BY label
    """,
    description="per-label embedding centroids (the training step of IVF / "
    "the class-prototype op): posexplode to (label, dim, value), ONE "
    "partial-aggregated shuffle on (label, dim), then a tiny (labels × dims) "
    "re-aggregation to the centroid norm. At 100 TB the explode is the "
    "codegen path and the shuffle carries only (label, dim, partial sums) — "
    "never vectors. Averages of floats differ across engines only in the "
    "last ulp (summation order), far below the ROUND(6) grid.",
)
def llm_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    vals = t["embeddings"].select(
        "label", F.posexplode("embedding").alias("pos", "val")
    )
    centroid = vals.groupBy("label", "pos").agg(
        F.avg(F.col("val").cast("double")).alias("_c")
    )
    norms = centroid.groupBy("label").agg(
        F.sqrt(F.sum(F.col("_c") * F.col("_c"))).alias("_norm")
    )
    counts = t["embeddings"].groupBy("label").agg(F.count("*").alias("n_vectors"))
    return (
        norms.join(counts, "label")
        .select("label", "n_vectors", F.round("_norm", 6).alias("centroid_norm"))
        .orderBy("label")
    )


@query(
    "llm_sessionize_events",
    oracle="""
        WITH g AS (
            SELECT event_id, user_id, ts,
                   CASE WHEN LAG(ts) OVER w IS NULL
                             OR CAST(FLOOR(epoch(ts)) AS BIGINT)
                                - CAST(FLOOR(epoch(LAG(ts) OVER w)) AS BIGINT) >= 1800
                        THEN 1 ELSE 0 END AS is_new
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        )
        SELECT event_id, user_id,
               CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS session_id
        FROM g
        ORDER BY user_id, event_id
    """,
    description="batch per-event sessionization (operators/sessionize.py): "
    "gap >= 30 min starts a new session; every event keeps its row and gains "
    "a 1-based per-user session id — the per-event shape attribution and "
    "feature pipelines need, where session_window (b07) collapses rows. Both "
    "window passes share ONE shuffle+sort on user_id. Equal-timestamp ties "
    "are provably order-insensitive here: a tied row's gap is 0, so its "
    "is_new is 0 and the running sum is identical either way.",
)
def llm_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.operators.sessionize import sessionize

    t = register_tables(spark, sf_dir)
    return (
        sessionize(t["events"], key="user_id", ts="ts", gap_seconds=1800)
        .select("event_id", "user_id", "session_id")
        .orderBy("user_id", "event_id")
    )


@query(
    "llm_pii_redact",
    oracle="""
        WITH contactful AS (
            SELECT doc_id,
                   text || ' reach user' || CAST(doc_id AS VARCHAR)
                        || '@example.com or 321-555-'
                        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                        || CASE WHEN doc_id % 3 = 0
                                THEN ' id 123-45-6789' ELSE '' END AS text
            FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
               CAST(len(regexp_extract_all(text,
                    '\\b\\d{3}-\\d{3}-\\d{4}\\b')) AS BIGINT) AS n_phone,
               CAST(len(regexp_extract_all(text,
                    '\\b\\d{3}-\\d{2}-\\d{4}\\b')) AS BIGINT) AS n_ssn,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                           '[EMAIL]', 'g'),
                       '\\b\\d{3}-\\d{3}-\\d{4}\\b', '[PHONE]', 'g'),
                   '\\b\\d{3}-\\d{2}-\\d{4}\\b', '[SSN]', 'g') AS redacted
        FROM contactful ORDER BY doc_id
    """,
    description="PII redaction (training-data scrubbing): the corpus is "
    "synthetic word streams with no real PII, so the query first plants a "
    "deterministic doc_id-derived email/phone (and an SSN on every third "
    "doc), then counts and redacts each class with typed placeholders — "
    "chained JVM regex on one scan, zero shuffles; the planted rows make "
    "every count column non-degenerate and hash-checkable",
)
def llm_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.llm.text import redact_pii

    t = register_tables(spark, sf_dir)
    planted = t["documents"].select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" reach user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 321-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" id 123-45-6789")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    return redact_pii(planted).orderBy("doc_id")


@query(
    "llm_dedup_clusters",
    oracle="""
        WITH RECURSIVE toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM documents
        ), sh0 AS (
            SELECT doc_id,
                   tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
            FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            QUALIFY lead(tok, 2) OVER w IS NOT NULL
        ), sh AS (
            SELECT DISTINCT doc_id, shingle FROM sh0
        ), ok AS (
            SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 1000
        ), shf AS (
            SELECT sh.doc_id, sh.shingle FROM sh JOIN ok USING (shingle)
        ), counts AS (
            SELECT doc_id, count(*) AS n FROM shf GROUP BY doc_id
        ), common AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
            FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), edges AS (
            SELECT id_a, id_b FROM common
            JOIN counts ca ON ca.doc_id = id_a
            JOIN counts cb ON cb.doc_id = id_b
            WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= 0.5
        ), sym AS (
            SELECT id_a AS a, id_b AS b FROM edges
            UNION
            SELECT id_b, id_a FROM edges
        ), walk AS (
            SELECT a AS src, b AS node FROM sym
            UNION
            SELECT w.src, s.b FROM walk w JOIN sym s ON w.node = s.a
        )
        SELECT src AS doc_id, LEAST(src, MIN(node)) AS cluster_id
        FROM walk GROUP BY src ORDER BY doc_id
    """,
    description="near-dup pairs → duplicate CLUSTERS via connected "
    "components (driver hook-and-jump up to 2M edges, above that the "
    "diameter-independent large-star/small-star contraction, O(log² n) "
    "rounds on any graph shape). Completes the dedup story: "
    "candidate pair → verify → cluster → one canonical keep-id per group. "
    "Oracle = DuckDB recursive-CTE transitive closure over the same "
    "3-gram-Jaccard>=0.5 edge set",
)
def llm_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.operators.graph import connected_components

    t = register_tables(spark, sf_dir)
    edges = ngram_jaccard_pairs(
        t["documents"], min_jaccard=0.5, max_shingle_freq=1000
    ).select("id_a", "id_b")
    return (
        connected_components(edges)
        .select(F.col("node").alias("doc_id"), "cluster_id")
        .orderBy("doc_id")
    )


@query(
    "llm_chunk_documents",
    oracle="""
        WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        SELECT doc_id,
               CAST((st - 1) // 48 AS BIGINT) AS chunk_id,
               CAST(len(t[st : least(st + 63, len(t))]) AS BIGINT) AS n_tokens,
               array_to_string(t[st : least(st + 63, len(t))], ' ') AS chunk_text
        FROM (SELECT doc_id, t,
                     unnest(generate_series(1, greatest(len(t), 1), 48)) AS st
              FROM tk)
        ORDER BY doc_id, chunk_id
    """,
    description="LM training chunking: 64-token chunks, stride 48 (16-token "
    "overlap for context continuity) — sequence → explode → slice, all "
    "JVM-side array expressions, fan-out entirely map-side with zero "
    "shuffles before the output sort",
)
def llm_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.llm.text import chunk_documents

    t = register_tables(spark, sf_dir)
    return chunk_documents(t["documents"], chunk_size=64, stride=48).orderBy(
        "doc_id", "chunk_id"
    )


@query(
    "llm_pack_sequences",
    oracle="""
        WITH base AS (
            SELECT doc_id,
                   CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % 32 AS shard,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents)
        SELECT doc_id, shard, n_tokens,
               CAST(b // 256 AS BIGINT) AS seq_id,
               CAST(b % 256 AS BIGINT) AS seq_offset
        FROM (SELECT *,
                     COALESCE(SUM(n_tokens) OVER (
                         PARTITION BY shard ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b
              FROM base)
        ORDER BY doc_id
    """,
    description="training-sequence packing under a 256-token budget: docs "
    "are hash-sharded (portable md5, reshard-stable) and packed per shard "
    "with ONE window per shard partition — a global running sum would force "
    "a single total order, the per-shard design keeps every partition "
    "independent at 100 TB; a sequence is globally (shard, seq_id)",
)
def llm_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.llm.text import pack_sequences

    t = register_tables(spark, sf_dir)
    packed = pack_sequences(t["documents"], budget=256, n_shards=32)
    return packed.withColumnRenamed("offset", "seq_offset").orderBy("doc_id")


@query(
    "llm_dedup_keep_best",
    oracle="""
        WITH RECURSIVE toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM documents
        ), sh0 AS (
            SELECT doc_id,
                   tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
            FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            QUALIFY lead(tok, 2) OVER w IS NOT NULL
        ), sh AS (
            SELECT DISTINCT doc_id, shingle FROM sh0
        ), ok AS (
            SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 1000
        ), shf AS (
            SELECT sh.doc_id, sh.shingle FROM sh JOIN ok USING (shingle)
        ), counts AS (
            SELECT doc_id, count(*) AS n FROM shf GROUP BY doc_id
        ), common AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
            FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), edges AS (
            SELECT id_a, id_b FROM common
            JOIN counts ca ON ca.doc_id = id_a
            JOIN counts cb ON cb.doc_id = id_b
            WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= 0.5
        ), sym AS (
            SELECT id_a AS a, id_b AS b FROM edges
            UNION
            SELECT id_b, id_a FROM edges
        ), walk AS (
            SELECT a AS src, b AS node FROM sym
            UNION
            SELECT w.src, s.b FROM walk w JOIN sym s ON w.node = s.a
        ), members AS (
            SELECT src AS doc_id, LEAST(src, MIN(node)) AS cluster_id
            FROM walk GROUP BY src
        ), scored AS (
            SELECT m.cluster_id, m.doc_id, d.n_chars
            FROM members m JOIN documents d USING (doc_id)
        )
        SELECT cluster_id, doc_id AS keep_id, n_members
        FROM (
            SELECT cluster_id, doc_id, n_chars,
                   ROW_NUMBER() OVER (PARTITION BY cluster_id
                                      ORDER BY n_chars DESC, doc_id) AS rn,
                   COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
            FROM scored
        ) WHERE rn = 1
        ORDER BY cluster_id
    """,
    description="canonical-document selection: near-dup clusters (connected "
    "components over the 3-gram-Jaccard>=0.5 graph) reduced to ONE keep-id "
    "per cluster by longest-text argmax (ties broken by min doc_id) — the "
    "final act of the dedup pipeline: pairs → clusters → survivors. The "
    "argmax is a row_number window over the tiny clustered subset, never "
    "the corpus",
)
def llm_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.operators.graph import connected_components

    t = register_tables(spark, sf_dir)
    edges = ngram_jaccard_pairs(
        t["documents"], min_jaccard=0.5, max_shingle_freq=1000
    ).select("id_a", "id_b")
    members = connected_components(edges).select(
        F.col("node").alias("doc_id"), "cluster_id"
    )
    scored = members.join(
        t["documents"].select("doc_id", "n_chars"), "doc_id"
    )
    w = W.partitionBy("cluster_id").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count("*").over(W.partitionBy("cluster_id")))
        .filter(F.col("rn") == 1)
        .select("cluster_id", F.col("doc_id").alias("keep_id"), "n_members")
        .orderBy("cluster_id")
    )


@query(
    "llm_quality_unigram_logprob",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ), freq AS (
            SELECT tok, count(*) AS n FROM toks GROUP BY tok
        ), tot AS (SELECT sum(n) AS total FROM freq)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               ROUND(AVG(-LN(n / total)), 4) AS avg_neg_logprob
        FROM toks JOIN freq USING (tok) CROSS JOIN tot
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    description="unigram language-model quality score: corpus token "
    "frequencies -> per-doc mean negative log-probability, the classic "
    "cheap fluency/outlier filter (gibberish and boilerplate both light "
    "up). Open-web vocabulary grows with corpus size (Heaps' law), so "
    "the scoring join is UNHINTED — a shuffle join on the short token "
    "string is scale-safe and AQE broadcasts only when the vocab "
    "actually fits; the 1-row corpus total is the only forced broadcast",
)
def llm_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    toks = t["documents"].select(
        "doc_id", F.explode(F.split(F.col("text"), r"\s+")).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("n"))
    total = freq.agg(F.sum("n").alias("total"))
    # No F.broadcast(freq) (r2 VERDICT "What's wrong" #3): at 100 TB the
    # distinct-token table is billions of rows — a forced broadcast OOMs
    # the driver. Both sides of the unhinted join shuffle on `tok` (the
    # token side is (doc_id, tok) pairs only, never full text); the
    # single-row `total` stays a legitimate broadcast.
    return (
        toks.join(freq, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(-F.log(F.col("n") / F.col("total"))), 4).alias(
                "avg_neg_logprob"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "llm_dedup_levenshtein",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM documents
        ), sh0 AS (
            SELECT doc_id,
                   tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
            FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            QUALIFY lead(tok, 2) OVER w IS NOT NULL
        ), sh AS (
            SELECT DISTINCT doc_id, shingle FROM sh0
        ), ok AS (
            SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 1000
        ), shf AS (
            SELECT sh.doc_id, sh.shingle FROM sh JOIN ok USING (shingle)
        ), counts AS (
            SELECT doc_id, count(*) AS n FROM shf GROUP BY doc_id
        ), common AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
            FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), cand AS (
            SELECT id_a, id_b FROM common
            JOIN counts ca ON ca.doc_id = id_a
            JOIN counts cb ON cb.doc_id = id_b
            WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= 0.3
        )
        SELECT id_a, id_b,
               CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist,
               ROUND(1.0 - levenshtein(da.text, db.text)
                         / GREATEST(len(da.text), len(db.text)), 6) AS edit_sim
        FROM cand
        JOIN documents da ON da.doc_id = id_a
        JOIN documents db ON db.doc_id = id_b
        ORDER BY id_a, id_b
    """,
    description="edit-distance VERIFICATION of near-dup candidates: "
    "Levenshtein runs only on pairs the 3-gram-Jaccard blocking already "
    "surfaced (O(len_a x len_b) per pair is unpayable corpus-wide, fine "
    "on a candidate set) - the standard two-stage fuzzy-match design: "
    "cheap blocking, exact-but-costly verify",
)
def llm_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.llm.dedup import ngram_jaccard_pairs

    t = register_tables(spark, sf_dir)
    cand = ngram_jaccard_pairs(
        t["documents"], min_jaccard=0.3, max_shingle_freq=1000
    ).select("id_a", "id_b")
    da = t["documents"].select(F.col("doc_id").alias("id_a"), F.col("text").alias("ta"))
    db = t["documents"].select(F.col("doc_id").alias("id_b"), F.col("text").alias("tb"))
    dist = F.levenshtein("ta", "tb")
    return (
        cand.join(da, "id_a")
        .join(db, "id_b")
        .select(
            "id_a",
            "id_b",
            dist.cast("bigint").alias("edit_dist"),
            F.round(
                1.0 - dist / F.greatest(F.length("ta"), F.length("tb")), 6
            ).alias("edit_sim"),
        )
        .orderBy("id_a", "id_b")
    )


@query(
    "llm_quality_bigram_logprob",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        ), uni AS (
            SELECT tok, CAST(count(*) AS BIGINT) AS c
            FROM (SELECT unnest(ts) AS tok FROM toks) GROUP BY tok
        ), v AS (
            SELECT CAST(count(*) AS BIGINT) AS v FROM uni
        ), seq AS (
            SELECT doc_id, unnest(ts) AS tok,
                   generate_subscripts(ts, 1) AS pos
            FROM toks
        ), bif AS (
            SELECT doc_id, a, b FROM (
                SELECT doc_id, tok AS a,
                       lead(tok) OVER (PARTITION BY doc_id ORDER BY pos)
                           AS b
                FROM seq
            ) WHERE b IS NOT NULL
        ), bc AS (
            SELECT a, b, CAST(count(*) AS BIGINT) AS cab
            FROM bif GROUP BY a, b
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               ROUND(AVG(-LN((bc.cab + 1)
                             / CAST(ua.c + v.v AS DOUBLE))), 4)
                   AS avg_neg_logprob
        FROM bif
        JOIN bc USING (a, b)
        JOIN uni ua ON ua.tok = bif.a
        CROSS JOIN v
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    description="bigram language-model quality score with add-one "
    "smoothing: corpus bigram/unigram counts -> per-doc mean negative "
    "log P(w_i | w_{i-1}) — the CCNet/KenLM-style fluency filter one "
    "notch above the unigram scorer (catches shuffled-word salads the "
    "unigram score cannot). Counts are exact BIGINTs from two "
    "map-side-combined aggs off one explode; scoring joins are "
    "UNHINTED shuffle joins on the token/bigram keys (open-web "
    "bigram tables are billions of rows — forcing a broadcast would "
    "OOM; AQE downgrades to broadcast only when the table actually "
    "fits); the 1-row vocab size is the only forced broadcast",
    tags=("llm", "text", "quality"),
)
def llm_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.scale import materialize_shared

    t = register_tables(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    docs = t["documents"]
    # checkpoint the unigram table: its two consumers (the 1-row vocab
    # count and the scoring join side) would otherwise each re-run the
    # FULL corpus tokenization + vocab aggregation — pruning forks the
    # copies so exchange reuse can't dedup them (r7 dup audit). The
    # vocab-grain copy is far cheaper than a second corpus explode.
    # The bigram explode (bif) stays lazy by design: it is token-grain,
    # and its two consumers each stream it — a checkpoint copy of the
    # token grain would dwarf the re-explode.
    uni = materialize_shared(
        docs.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    vocab = uni.agg(F.count("*").alias("v"))
    n_pairs = F.greatest(F.size(toks) - 1, F.lit(0))
    bif = docs.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(toks, 1, n_pairs),
                F.slice(toks, 2, n_pairs),
                lambda x, y: F.struct(x.alias("a"), y.alias("b")),
            )
        ).alias("p"),
    ).select("doc_id", "p.a", "p.b")
    bc = bif.groupBy("a", "b").agg(F.count("*").alias("cab"))
    ua = uni.select(F.col("tok").alias("a"), F.col("c").alias("ca"))
    return (
        bif.join(bc, ["a", "b"])
        .join(ua, "a")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.round(
                F.avg(
                    -F.log(
                        (F.col("cab") + 1)
                        / (F.col("ca") + F.col("v")).cast("double")
                    )
                ),
                4,
            ).alias("avg_neg_logprob"),
        )
        .orderBy("doc_id")
    )


@query(
    "llm_quality_ppl_buckets",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        ), uni AS (
            SELECT tok, CAST(count(*) AS BIGINT) AS c
            FROM (SELECT unnest(ts) AS tok FROM toks) GROUP BY tok
        ), v AS (
            SELECT CAST(count(*) AS BIGINT) AS v FROM uni
        ), seq AS (
            SELECT doc_id, unnest(ts) AS tok,
                   generate_subscripts(ts, 1) AS pos
            FROM toks
        ), bif AS (
            SELECT doc_id, a, b FROM (
                SELECT doc_id, tok AS a,
                       lead(tok) OVER (PARTITION BY doc_id ORDER BY pos)
                           AS b
                FROM seq
            ) WHERE b IS NOT NULL
        ), bc AS (
            SELECT a, b, CAST(count(*) AS BIGINT) AS cab
            FROM bif GROUP BY a, b
        ), score AS (
            SELECT doc_id,
                   ROUND(AVG(-LN((bc.cab + 1)
                                 / CAST(ua.c + v.v AS DOUBLE))), 4) AS s
            FROM bif
            JOIN bc USING (a, b)
            JOIN uni ua ON ua.tok = bif.a
            CROSS JOIN v
            GROUP BY doc_id
        ), bucketed AS (
            SELECT d.lang, sc.s,
                   ntile(3) OVER (PARTITION BY d.lang
                                  ORDER BY sc.s, sc.doc_id) AS bucket
            FROM score sc JOIN documents d USING (doc_id)
        )
        SELECT lang, CAST(bucket AS INT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               ROUND(AVG(s), 4) AS mean_score,
               ROUND(MIN(s), 4) AS min_score,
               ROUND(MAX(s), 4) AS max_score
        FROM bucketed
        GROUP BY lang, bucket
        ORDER BY lang, bucket
    """,
    description="CCNet-style perplexity bucketing: per-language "
    "head/middle/tail terciles of the bigram-LM quality score — the "
    "partition CCNet/RedPajama use to stratify web text by fluency "
    "before sampling. The oracle says ntile(3) per language (doc_id "
    "tie-break); the Spark side computes the SAME tercile census "
    "scale-safely (r5 ADVICE: with a handful of languages the ntile "
    "window sorts n/|langs| DOC rows per task at 100x): docs collapse "
    "to per-(lang, distinct 4-decimal score) counts — a bounded value "
    "domain, the q124 shape — then each tie run is split across the "
    "ntile boundary grid by prefix-sum overlap arithmetic. All docs "
    "in a run share the score, so the doc_id tie-break can only "
    "decide WHICH doc crosses a boundary, never the per-bucket "
    "counts or score stats this query emits. The prefix-sum window "
    "rides the (lang, score) domain, never doc count",
    tags=("llm", "text", "quality"),
)
def llm_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    score = llm_bigram_logprob(spark, sf_dir).select(
        "doc_id", F.col("avg_neg_logprob").alias("s")
    )
    docs = t["documents"].select("doc_id", "lang")
    cnt = (
        score.join(docs, "doc_id")
        .groupBy("lang", "s")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    w_cum = (
        W.partitionBy("lang")
        .orderBy("s")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_all = W.partitionBy("lang")
    g = cnt.select(
        "lang",
        "s",
        "c",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    ).withColumn("cum_before", F.col("cum") - F.col("c"))
    # SQL-standard ntile(3) boundary grid: first n%3 buckets hold one
    # extra row; bucket i covers global ranks (lo_i, hi_i]
    b = g.select(
        "*",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("bucket"),
    )
    q = F.floor(F.col("n") / 3).cast("bigint")
    r = (F.col("n") % 3).cast("bigint")
    bk = F.col("bucket").cast("bigint")
    hi = bk * q + F.least(bk, r)
    lo = (bk - 1) * q + F.least(bk - 1, r)
    overlap = F.least(hi, F.col("cum")) - F.greatest(
        lo, F.col("cum_before")
    )
    split = b.withColumn("k", overlap).filter(F.col("k") > 0)
    return (
        split.groupBy("lang", "bucket")
        .agg(
            F.sum("k").cast("bigint").alias("n_docs"),
            F.round(
                F.sum(F.col("s") * F.col("k")) / F.sum("k"), 4
            ).alias("mean_score"),
            F.round(F.min("s"), 4).alias("min_score"),
            F.round(F.max("s"), 4).alias("max_score"),
        )
        .select(
            "lang",
            F.col("bucket").cast("int").alias("bucket"),
            "n_docs",
            "mean_score",
            "min_score",
            "max_score",
        )
        .orderBy("lang", "bucket")
    )


@query(
    "llm_chunk_cdc",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM documents
        ), grams AS (
            SELECT doc_id, pos, tok,
                   CASE WHEN pos >= 4 THEN
                        lag(tok, 3) OVER w || ' ' || lag(tok, 2) OVER w
                        || ' ' || lag(tok, 1) OVER w || ' ' || tok
                   END AS gram
            FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ), flagged AS (
            SELECT doc_id, pos, tok,
                   CASE WHEN gram IS NOT NULL AND
                        CAST(('0x' || substring(md5(gram), 1, 8)) AS BIGINT)
                            % 16 = 0
                        THEN 1 ELSE 0 END AS b
            FROM grams
        ), assigned AS (
            SELECT doc_id, pos, tok,
                   COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND 1 PRECEDING), 0)
                       AS chunk_id
            FROM flagged
        ), chunks AS (
            SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
                   CAST(MIN(pos) AS BIGINT) AS start_pos,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   md5(string_agg(tok, ' ' ORDER BY pos)) AS h
            FROM assigned GROUP BY doc_id, chunk_id
        ), freq AS (
            SELECT h, count(*) AS nh FROM chunks GROUP BY h
        )
        SELECT c.doc_id, c.chunk_id, c.start_pos, c.n_tokens,
               CAST(f.nh > 1 AS BOOLEAN) AS is_dup
        FROM chunks c JOIN freq f USING (h)
        ORDER BY c.doc_id, c.chunk_id
    """,
    description="content-defined chunking (the rsync/LBFS/FastCDC idea "
    "at token granularity): a chunk boundary falls wherever the "
    "rolling 4-token window hash % 16 == 0, so boundaries are decided "
    "by LOCAL content — insert a sentence and only the chunks around "
    "the edit change, unlike fixed-stride chunking "
    "(llm_chunk_documents) where every downstream boundary shifts. "
    "That makes chunk hashes reusable across crawl snapshots for "
    "incremental dedup; is_dup marks chunks whose content hash recurs "
    "corpus-wide. Hashing is the portable md5-prefix construction "
    "(identical in both engines); one doc-partitioned window pair + "
    "two hash aggs, the dup join is UNHINTED (chunk tables scale with "
    "the corpus)",
    tags=("llm", "dedup", "text"),
)
def llm_chunk_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    toks = t["documents"].select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "tok"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    w = W.partitionBy("doc_id").orderBy("pos")
    gram = F.when(
        F.col("pos") >= 4,
        F.concat_ws(
            " ",
            F.lag("tok", 3).over(w),
            F.lag("tok", 2).over(w),
            F.lag("tok", 1).over(w),
            F.col("tok"),
        ),
    )
    b = F.when(
        gram.isNotNull()
        & (
            F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("bigint")
            % 16
            == 0
        ),
        1,
    ).otherwise(0)
    w_prev = W.partitionBy("doc_id").orderBy("pos").rowsBetween(
        W.unboundedPreceding, -1
    )
    assigned = toks.select(
        "doc_id",
        "pos",
        "tok",
        F.coalesce(F.sum(b).over(w_prev), F.lit(0)).alias("chunk_id"),
    )
    chunks = assigned.groupBy("doc_id", "chunk_id").agg(
        F.min("pos").cast("bigint").alias("start_pos"),
        F.count("*").cast("bigint").alias("n_tokens"),
        F.md5(
            F.array_join(F.array_sort(
                F.collect_list(F.struct("pos", "tok"))
            ).tok, " ")
        ).alias("h"),
    )
    freq = chunks.groupBy("h").agg(F.count("*").alias("nh"))
    return (
        chunks.join(freq, "h")
        .select(
            "doc_id",
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            "start_pos",
            "n_tokens",
            (F.col("nh") > 1).alias("is_dup"),
        )
        .orderBy("doc_id", "chunk_id")
    )


@query(
    "llm_dedup_normalized",
    oracle="""
        WITH docs_plus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 100000000,
                   upper(text) || ' !!'
            FROM documents WHERE doc_id % 100 = 0
        ), canon AS (
            SELECT doc_id,
                   trim(regexp_replace(regexp_replace(lower(text),
                        '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS c
            FROM docs_plus
        ), grouped AS (
            SELECT md5(c) AS chash,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(MIN(doc_id) AS BIGINT) AS keep_id
            FROM canon GROUP BY md5(c)
        )
        SELECT chash, n_docs, keep_id
        FROM grouped WHERE n_docs > 1
        ORDER BY chash
    """,
    description="normalization-canonicalized exact dedup: lowercase, "
    "strip non-alphanumerics, collapse whitespace, THEN hash — catches "
    "the near-dups that differ only in casing/punctuation/spacing, "
    "which byte-exact dedup (llm_dedup_exact) misses and which "
    "shingle-based near-dup over-pays for. The normalization is a "
    "JVM/engine-native regex chain on one scan; only the 32-byte "
    "canonical hash shuffles (never the text), exactly the "
    "llm_dedup_exact scale posture. First normalization pass of the "
    "C4/CCNet pipelines. Oracle de-vacuation (r5 VERDICT #6): the "
    "synthetic sf0.01 corpus has NO normalization-only duplicates, so "
    "the hash gate used to compare two empty sets — both engines now "
    "union a deterministic planted slice (every 100th doc re-emitted "
    "uppercased with trailing punctuation, shifted id) so the gate "
    "exercises the collapse on non-empty output",
    tags=("llm", "dedup", "text"),
)
def llm_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    base = t["documents"].select("doc_id", "text")
    planted = base.filter(F.col("doc_id") % 100 == 0).select(
        (F.col("doc_id") + 100000000).alias("doc_id"),
        F.concat(F.upper(F.col("text")), F.lit(" !!")).alias("text"),
    )
    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return (
        base.unionAll(planted)
        .select("doc_id", F.md5(canon).alias("chash"))
        .groupBy("chash")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("keep_id"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy("chash")
    )


@query(
    "llm_span_corruption",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM documents
        ), masked AS (
            SELECT doc_id, pos
            FROM toks
            WHERE CAST(('0x' || substring(
                      md5(CAST(doc_id AS VARCHAR) || ':'
                          || CAST(pos AS VARCHAR)), 1, 8)) AS BIGINT)
                  % 5 = 0
        ), islands AS (
            SELECT doc_id, pos,
                   CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                                                  ORDER BY pos) = 1
                        THEN 0 ELSE 1 END AS new_span
            FROM masked
        ), counts AS (
            SELECT t.doc_id,
                   CAST(count(*) AS BIGINT) AS n_tokens
            FROM toks t GROUP BY t.doc_id
        )
        SELECT c.doc_id, c.n_tokens,
               CAST(COALESCE(SUM(1), 0) AS BIGINT) AS n_masked,
               CAST(COALESCE(SUM(i.new_span), 0) AS BIGINT) AS n_spans,
               ROUND(count(*) / CAST(MAX(c.n_tokens) AS DOUBLE), 4)
                   AS mask_ratio,
               ROUND(count(*)
                     / CAST(SUM(i.new_span) AS DOUBLE), 4)
                   AS mean_span_len
        FROM counts c JOIN islands i USING (doc_id)
        GROUP BY c.doc_id, c.n_tokens
        ORDER BY c.doc_id
    """,
    description="T5/UL2-style span-corruption planning stats: which "
    "tokens a 20% masking pass would corrupt, how many contiguous "
    "SPANS they form (the sentinel count) and the mean span length — "
    "computed with DETERMINISTIC pseudo-randomness (portable "
    "md5(doc_id:pos) % 5), so the masking plan is reproducible across "
    "engines, reruns and reshards — the property a distributed "
    "pretraining pipeline needs from its corruption step (a rand() "
    "mask would differ per retry). Island counting is one "
    "doc-partitioned lag window; everything rides (doc_id, pos) "
    "pairs, never text",
    tags=("llm", "tokenizer", "text"),
)
def llm_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    toks = t["documents"].select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "_t"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"))
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("doc_id").cast("string"),
                    F.col("pos").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    masked = toks.filter(h % 5 == 0)
    w = W.partitionBy("doc_id").orderBy("pos")
    islands = masked.select(
        "doc_id",
        F.when(F.col("pos") - F.lag("pos").over(w) == 1, 0)
        .otherwise(1)
        .alias("new_span"),
    )
    counts = toks.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens")
    )
    return (
        counts.join(islands, "doc_id")
        .groupBy("doc_id", "n_tokens")
        .agg(
            F.count("*").cast("bigint").alias("n_masked"),
            F.sum("new_span").cast("bigint").alias("n_spans"),
            F.round(
                F.count("*") / F.max("n_tokens").cast("double"), 4
            ).alias("mask_ratio"),
            F.round(
                F.count("*") / F.sum("new_span").cast("double"), 4
            ).alias("mean_span_len"),
        )
        .orderBy("doc_id")
    )


_ENSEMBLE_STOPS_SQL = ", ".join(f"'{w}'" for w in sorted(STOPWORDS_EN))


@query(
    "llm_quality_ensemble",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ), per_doc AS (
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_words,
                   SUM(len(tok)) / CAST(count(*) AS DOUBLE)
                       AS mean_word_len,
                   SUM(CASE WHEN lower(tok) IN ({_ENSEMBLE_STOPS_SQL})
                            THEN 1 ELSE 0 END)
                       / CAST(count(*) AS DOUBLE) AS stop_frac,
                   1.0 - count(DISTINCT tok) / CAST(count(*) AS DOUBLE)
                       AS dup_frac
            FROM toks GROUP BY doc_id
        ), scored AS (
            SELECT d.lang,
                   (CASE WHEN p.n_words BETWEEN 50 AND 100000
                         THEN 0 ELSE 1 END)
                   + (CASE WHEN p.mean_word_len BETWEEN 3 AND 10
                           THEN 0 ELSE 1 END)
                   + (CASE WHEN p.stop_frac >= 0.06 THEN 0 ELSE 1 END)
                   + (CASE WHEN p.dup_frac <= 0.5 THEN 0 ELSE 1 END)
                       AS n_fails
            FROM per_doc p JOIN documents d USING (doc_id)
        )
        SELECT lang,
               CASE WHEN n_fails = 0 THEN 'keep'
                    WHEN n_fails = 1 THEN 'review'
                    ELSE 'drop' END AS tier,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM scored
        GROUP BY 1, 2 ORDER BY lang, tier
    """,
    description="quality-filter ensemble decision: four cheap gates "
    "(word count 50-100k, mean word length 3-10, stopword fraction "
    ">= 0.06, duplicate-token fraction <= 0.5 — the Gopher/C4 core) "
    "voted into keep / review / drop tiers per language — the final "
    "routing decision a curation pipeline makes, where single-gate "
    "failures go to human review instead of being silently dropped. "
    "One explode + one per-doc agg + one rollup; every gate is "
    "integer/ratio arithmetic on exact counts, thresholds far from "
    "float boundaries",
    tags=("llm", "quality", "text"),
)
def llm_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    toks = t["documents"].select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    per_doc = toks.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_words"),
        (
            F.sum(F.length("tok")) / F.count("*").cast("double")
        ).alias("mean_word_len"),
        (
            F.sum(
                F.when(
                    F.lower(F.col("tok")).isin(*STOPWORDS_EN), 1
                ).otherwise(0)
            )
            / F.count("*").cast("double")
        ).alias("stop_frac"),
        (
            1.0
            - F.count_distinct("tok") / F.count("*").cast("double")
        ).alias("dup_frac"),
    )
    n_fails = (
        F.when(F.col("n_words").between(50, 100000), 0).otherwise(1)
        + F.when(F.col("mean_word_len").between(3, 10), 0).otherwise(1)
        + F.when(F.col("stop_frac") >= 0.06, 0).otherwise(1)
        + F.when(F.col("dup_frac") <= 0.5, 0).otherwise(1)
    )
    tier = (
        F.when(F.col("n_fails") == 0, "keep")
        .when(F.col("n_fails") == 1, "review")
        .otherwise("drop")
    )
    return (
        per_doc.join(t["documents"].select("doc_id", "lang"), "doc_id")
        .withColumn("n_fails", n_fails)
        .groupBy("lang", tier.alias("tier"))
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .orderBy("lang", "tier")
    )


# Fixed 64-bucket linear model for llm_quality_linear_classifier:
# deterministic Knuth-hash pseudo-weights in [-0.5, 0.5), embedded in
# BOTH engines as identical INTEGER milli-weight literals. Integer
# units are load-bearing, not cosmetic: 3-decimal double weights make
# per-doc averages land on exact ROUND(x,4) ties constantly (sf0.001
# hit one in 500 docs), where Spark's shortest-repr ROUND and DuckDB's
# binary ROUND disagree — and 1-ulp sum-order noise straddles even a
# floor-half-up boundary. With exact BIGINT weight sums the score is
# ONE correctly-rounded division, bit-identical across engines, and
# the floor-half-up of that shared double is deterministic. A real
# pipeline would drop in trained fastText/logistic weights here (the
# container has no training lib) — the SHAPE (hashed bag-of-words,
# literal model folded into codegen, one explode + one agg) is the
# production form.
_CLF_N_BUCKETS = 64
_CLF_W_MILLI: list[int] = [
    ((b * 2654435761) % 1000) - 500 for b in range(_CLF_N_BUCKETS)
]
_CLF_W_SQL = ", ".join(str(w) for w in _CLF_W_MILLI)


@query(
    "llm_quality_linear_classifier",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ), scored AS (
            SELECT doc_id,
                   ([{_CLF_W_SQL}])[
                       CAST(CAST(('0x' || substring(md5(tok), 1, 8))
                                 AS BIGINT) % {_CLF_N_BUCKETS} AS INT)
                       + 1] AS w
            FROM toks
        ), agg AS (
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   FLOOR(CAST(SUM(w) AS DOUBLE)
                         / (1000.0 * count(*)) * 10000.0 + 0.5)
                       / 10000.0 AS logit
            FROM scored GROUP BY doc_id
        )
        SELECT doc_id, n_tokens, logit, logit > 0 AS keep
        FROM agg ORDER BY doc_id
    """,
    description="fastText-style linear quality classifier: tokens "
    "hash into 64 bag-of-words feature buckets, the per-doc score is "
    "the mean bucket weight, keep = score > 0 — the model-based "
    "quality gate (CCNet/RedPajama-class pipelines run exactly this "
    "shape with trained weights) beside the rule-based Gopher/C4 "
    "gates. The 64-weight model is embedded as identical INTEGER "
    "milli-weight literals in both engines and folds into pure "
    "per-row codegen (element_at on a literal array — no join, no "
    "UDF, no shuffle before the per-doc agg), which is how a "
    "broadcast linear model should execute at 100 TB. Engine "
    "stability: weight sums are exact BIGINTs, the score is one "
    "correctly-rounded division + floor-half-up (double averages of "
    "3-decimal weights land on ROUND ties — sf0.001 proved it), and "
    "keep derives from the rounded score",
    tags=("llm", "text", "quality"),
)
def llm_quality_linear_classifier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    t = register_tables(spark, sf_dir)
    toks = t["documents"].select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast(
            "bigint"
        )
        % _CLF_N_BUCKETS
    ).cast("int")
    w = F.element_at(
        F.array(*[F.lit(x) for x in _CLF_W_MILLI]), bucket + 1
    )
    logit = (
        F.floor(
            F.sum("w").cast("double")
            / (1000.0 * F.count("*"))
            * 10000.0
            + 0.5
        )
        / 10000.0
    )
    return (
        toks.select("doc_id", w.alias("w"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            logit.alias("logit"),
            (logit > 0).alias("keep"),
        )
        .orderBy("doc_id")
    )


@query(
    "llm_dedup_overlap",
    oracle="""
        WITH docs_plus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 300000000,
                   array_to_string(
                       string_split(text, ' ')[1:25], ' ')
            FROM documents WHERE doc_id % 100 = 0
        ), toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM docs_plus
        ), sh0 AS (
            SELECT doc_id,
                   tok || ' ' || lead(tok, 1) OVER w || ' '
                       || lead(tok, 2) OVER w AS shingle
            FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            QUALIFY lead(tok, 2) OVER w IS NOT NULL
        ), sh AS (
            SELECT DISTINCT doc_id, shingle FROM sh0
        ), ok AS (
            SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 1000
        ), shf AS (
            SELECT sh.doc_id, sh.shingle FROM sh JOIN ok USING (shingle)
        ), counts AS (
            SELECT doc_id, count(*) AS n FROM shf GROUP BY doc_id
        ), common AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
            FROM shf a JOIN shf b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               ROUND(CAST(n_common AS DOUBLE) / LEAST(ca.n, cb.n), 6)
                   AS overlap
        FROM common
        JOIN counts ca ON ca.doc_id = id_a
        JOIN counts cb ON cb.doc_id = id_b
        WHERE CAST(n_common AS DOUBLE) / LEAST(ca.n, cb.n) >= 0.5
        ORDER BY overlap DESC, id_a, id_b
        LIMIT 200
    """,
    description="asymmetric near-dup via the Szymkiewicz-Simpson "
    "overlap coefficient common/min(|A|,|B|) on 3-gram shingles — "
    "catches CONTAINMENT (a short doc wholly embedded in a longer "
    "one scores 1.0) where Jaccard common/union is diluted by the "
    "length gap; the measure a curation pass uses to drop "
    "quote-expansions and boilerplate-wrapped copies. Shares "
    "llm_dedup_ngram_jaccard's inverted-index + stop-shingle plan "
    "(equi-join candidates only, 8-byte hash keys in the shuffle), so "
    "the same corpus-scale bounds hold. The synthetic corpus has no "
    "natural containment pairs, so both engines union a deterministic "
    "planted slice (every 100th doc's 25-token prefix, shifted id) — "
    "the planted pairs score overlap ~1.0 and the gate compares "
    "non-empty output (the llm_dedup_normalized de-vacuation pattern)",
    tags=("llm", "dedup", "text"),
)
def llm_dedup_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    base = t["documents"].select("doc_id", "text")
    planted = base.filter(F.col("doc_id") % 100 == 0).select(
        (F.col("doc_id") + 300000000).alias("doc_id"),
        F.array_join(
            F.slice(F.split(F.col("text"), " "), 1, 25), " "
        ).alias("text"),
    )
    return (
        overlap_coeff_pairs(
            base.unionAll(planted), min_overlap=0.5, max_shingle_freq=1000
        )
        .orderBy(F.col("overlap").desc(), "id_a", "id_b")
        .limit(200)
    )


@query(
    "llm_dedup_cross_source",
    oracle="""
        WITH docs_plus AS (
            SELECT doc_id, source, md5(text) AS hsh FROM documents
            UNION ALL
            SELECT doc_id + 400000000,
                   'src' || CAST(doc_id % 7 AS VARCHAR),
                   md5(text)
            FROM documents WHERE doc_id % 50 = 0
        ), pairs AS (
            SELECT LEAST(a.source, b.source) AS source_a,
                   GREATEST(a.source, b.source) AS source_b
            FROM docs_plus a JOIN docs_plus b
              ON a.hsh = b.hsh AND a.doc_id < b.doc_id
            WHERE a.source <> b.source
        )
        SELECT source_a, source_b,
               CAST(count(*) AS BIGINT) AS n_dup_pairs
        FROM pairs GROUP BY 1, 2
        ORDER BY n_dup_pairs DESC, source_a, source_b
    """,
    description="cross-source duplication matrix: for every pair of "
    "distinct sources, how many byte-exact duplicate document pairs "
    "they share — the mirror-detection / license-laundering audit a "
    "corpus intake runs before weighting sources (a source whose "
    "content is largely copies of another should not count twice in "
    "the mixture). Only 32-byte md5 hashes shuffle (the "
    "llm_dedup_exact posture); the self-join is an equi-join on the "
    "hash, bounded by duplicate-group sizes, never all-pairs. The "
    "synthetic corpus has no natural cross-source copies, so both "
    "engines union a deterministic planted slice (every 50th doc "
    "re-emitted under source 'src'||(doc_id%7), shifted id) — the "
    "de-vacuation pattern — and the matrix output is non-empty",
    tags=("llm", "dedup", "text"),
)
def llm_dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    base = t["documents"].select(
        "doc_id", "source", F.md5("text").alias("hsh")
    )
    planted = t["documents"].filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 400000000).alias("doc_id"),
        F.concat(F.lit("src"), (F.col("doc_id") % 7).cast("string")).alias(
            "source"
        ),
        F.md5("text").alias("hsh"),
    )
    d = base.unionAll(planted)
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.hsh") == F.col("b.hsh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(F.col("a.source") != F.col("b.source"))
        .select(
            F.least("a.source", "b.source").alias("source_a"),
            F.greatest("a.source", "b.source").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("bigint").alias("n_dup_pairs"))
        .orderBy(F.col("n_dup_pairs").desc(), "source_a", "source_b")
    )


@query(
    "llm_corpus_length_gini",
    oracle="""
        WITH toks AS (
            SELECT doc_id, lang,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS x
            FROM documents
        ), r AS (
            SELECT lang, x,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY x, doc_id) AS i
            FROM toks
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               ROUND((2.0 * SUM(i * x) - (count(*) + 1) * SUM(x))
                     / (count(*) * SUM(x)), 6) AS length_gini
        FROM r GROUP BY lang ORDER BY lang
    """,
    description="Gini inequality of document token counts per language "
    "— the corpus-balance diagnostic a pretraining-mix audit reads "
    "next to the language histogram: high Gini means a few giant "
    "documents dominate the language's token budget (so length-capped "
    "sampling or chunking changes that language's effective mix most). "
    "Rank formula G = (2*SUM(i*x_i) - (n+1)*SUM(x)) / (n*SUM(x)); the "
    "oracle ranks docs directly, the Spark side computes the SAME "
    "sums scale-safely (the q105 shape): docs collapse to per-(lang, "
    "distinct token count) cells — token counts are a bounded domain "
    "(max document length) — and a tie run of c docs at cumulative "
    "offset C contributes x*(c*C + c*(c+1)/2) to SUM(i*x) exactly "
    "(consecutive ranks over equal values; the doc_id tie-break can "
    "never change the sum). The prefix-sum window rides the (lang, "
    "count) domain, never the doc count; token counting is one "
    "JVM-side size(split()) projection",
    tags=("llm", "text", "stats"),
)
def llm_corpus_length_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    toks = t["documents"].select(
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("x"),
    )
    cnt = toks.groupBy("lang", "x").agg(
        F.count("*").cast("bigint").alias("c")
    )
    w_prev = (
        W.partitionBy("lang")
        .orderBy("x")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    ranked = cnt.withColumn(
        "cum_before", F.coalesce(F.sum("c").over(w_prev), F.lit(0))
    )
    # doubles before multiplying: c*C overflows BIGINT at ~1e10 rows
    c_d = F.col("c").cast("double")
    x_d = F.col("x").cast("double")
    six = F.sum(
        x_d
        * (
            c_d * F.col("cum_before").cast("double")
            + c_d * (c_d + 1.0) / 2.0
        )
    )
    n = F.sum("c")
    sx = F.sum(x_d * c_d)
    return (
        ranked.groupBy("lang")
        .agg(
            n.alias("n_docs"),
            F.round((2.0 * six - (n + 1) * sx) / (n * sx), 6).alias(
                "length_gini"
            ),
        )
        .orderBy("lang")
    )


@query(
    "llm_quality_calibration",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, n_chars,
                   unnest(string_split(text, ' ')) AS tok
            FROM documents
        ), scored AS (
            SELECT doc_id, n_chars,
                   ([{_CLF_W_SQL}])[
                       CAST(CAST(('0x' || substring(md5(tok), 1, 8))
                                 AS BIGINT) % {_CLF_N_BUCKETS} AS INT)
                       + 1] AS w
            FROM toks
        ), perdoc AS (
            -- logit on the exact 1e-4 grid (the classifier's own
            -- floor-half-up), label = the rule-based length gate the
            -- model is calibrated against
            SELECT doc_id,
                   FLOOR(CAST(SUM(w) AS DOUBLE)
                         / (1000.0 * count(*)) * 10000.0 + 0.5)
                       AS logit_e4,
                   CASE WHEN MAX(n_chars) BETWEEN 200 AND 2000
                        THEN 1 ELSE 0 END AS y
            FROM scored GROUP BY doc_id
        ), binned AS (
            -- pseudo-probability p = logit + 0.5 in [0,1] (e4 grid);
            -- 10 uniform reliability bins; squared error in exact
            -- integer e8 units so every sum is order-free
            SELECT LEAST(GREATEST(CAST(FLOOR((logit_e4 + 5000.0)
                       / 1000.0) AS BIGINT), 0), 9) AS bin,
                   CAST(logit_e4 + 5000 AS BIGINT) AS p_e4,
                   CAST(y AS BIGINT) AS y,
                   CAST(logit_e4 + 5000 - 10000 * y AS BIGINT) AS e_e4
            FROM perdoc
        )
        SELECT bin,
               CAST(count(*) AS BIGINT) AS n_docs,
               ROUND(CAST(SUM(p_e4) AS BIGINT)
                     / CAST(count(*) AS DOUBLE) / 10000.0, 6)
                   AS mean_pred,
               ROUND(CAST(SUM(y) AS BIGINT)
                     / CAST(count(*) AS DOUBLE), 6) AS frac_pos,
               ROUND(CAST(SUM(e_e4 * e_e4) AS BIGINT)
                     / CAST(count(*) AS DOUBLE) / 100000000.0, 6)
                   AS brier_bin
        FROM binned GROUP BY bin ORDER BY bin
    """,
    description="reliability diagram + per-bin Brier score for the "
    "llm_quality_linear_classifier gate, scored against the rule-based "
    "length label — how a curation pipeline VALIDATES a model-based "
    "quality filter before trusting it at corpus scale (a classifier "
    "that keeps 'high-quality' docs is only as good as its "
    "calibration). Same execution shape as the classifier: the literal "
    "64-weight model folds into per-row codegen, ONE explode + ONE "
    "per-doc agg, then everything collapses to 10 reliability bins in "
    "a second map-side-combined agg — nothing but the token explode "
    "ever touches fact grain. Engine stability: the logit rides the "
    "classifier's exact e4 grid, the pseudo-probability and the "
    "squared calibration error are exact INTEGER e4/e8 units (sums "
    "order-free in both engines), and each output is one "
    "correctly-rounded division",
    tags=("llm", "text", "quality"),
)
def llm_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir)
    toks = t["documents"].select(
        "doc_id",
        "n_chars",
        F.explode(F.split(F.col("text"), " ")).alias("tok"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast(
            "bigint"
        )
        % _CLF_N_BUCKETS
    ).cast("int")
    w = F.element_at(
        F.array(*[F.lit(x) for x in _CLF_W_MILLI]), bucket + 1
    )
    perdoc = (
        toks.select("doc_id", "n_chars", w.alias("w"))
        .groupBy("doc_id")
        .agg(
            F.floor(
                F.sum("w").cast("double")
                / (1000.0 * F.count("*"))
                * 10000.0
                + 0.5
            ).alias("logit_e4"),
            F.when(
                F.max("n_chars").between(200, 2000), 1
            )
            .otherwise(0)
            .alias("y"),
        )
    )
    binned = perdoc.select(
        F.least(
            F.greatest(
                F.floor(
                    (F.col("logit_e4") + 5000.0) / 1000.0
                ).cast("bigint"),
                F.lit(0).cast("bigint"),
            ),
            F.lit(9).cast("bigint"),
        ).alias("bin"),
        (F.col("logit_e4") + 5000).cast("bigint").alias("p_e4"),
        F.col("y").cast("bigint").alias("y"),
        (F.col("logit_e4") + 5000 - 10000 * F.col("y"))
        .cast("bigint")
        .alias("e_e4"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(
                F.sum("p_e4").cast("bigint")
                / F.count("*").cast("double")
                / 10000.0,
                6,
            ).alias("mean_pred"),
            F.round(
                F.sum("y").cast("bigint")
                / F.count("*").cast("double"),
                6,
            ).alias("frac_pos"),
            F.round(
                F.sum(F.col("e_e4") * F.col("e_e4")).cast("bigint")
                / F.count("*").cast("double")
                / 100000000.0,
                6,
            ).alias("brier_bin"),
        )
        .orderBy("bin")
    )


@query(
    "llm_hard_negatives",
    oracle="""
        WITH q AS (
            SELECT vec_id AS query_id,
                   CAST(embedding AS DOUBLE[]) AS qv, label AS qlabel
            FROM embeddings WHERE vec_id < 20
        ), c AS (
            SELECT vec_id AS neighbor_id,
                   CAST(embedding AS DOUBLE[]) AS cv, label AS clabel
            FROM embeddings
        ), scored AS (
            SELECT query_id, neighbor_id,
                   (qlabel = clabel) AS same,
                   ROUND(list_cosine_similarity(qv, cv), 6) AS cosine
            FROM q CROSS JOIN c
            WHERE query_id <> neighbor_id
        ), pos AS (
            SELECT query_id,
                   MAX(CASE WHEN same THEN cosine END) AS pos_cosine
            FROM scored GROUP BY query_id
        ), neg AS (
            SELECT query_id, neighbor_id, cosine,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, neighbor_id) AS BIGINT)
                       AS rank
            FROM scored WHERE NOT same
            QUALIFY rank <= 3
        )
        SELECT neg.query_id, rank, neighbor_id,
               cosine AS neg_cosine, pos_cosine,
               ROUND(pos_cosine - cosine, 6) AS margin
        FROM neg JOIN pos ON neg.query_id = pos.query_id
        ORDER BY neg.query_id, rank
    """,
    description="hard-negative mining for contrastive training: for "
    "each of 20 anchor vectors, the top-3 most-cosine-similar "
    "embeddings carrying a DIFFERENT label, each with the anchor's "
    "best same-label cosine (the positive) and the margin positive - "
    "negative — small or negative margins are the hard negatives a "
    "contrastive batch samples (retrieval/embedding training "
    "pipelines mine exactly this). Same plan contract as "
    "llm_similarity_topk: anchors broadcast against ONE corpus scan "
    "(the brute-force guard bounds |anchors|; an unbounded anchor set "
    "must go to the LSH/IVF paths), per-anchor negative rank window "
    "on the already-filtered candidate scores, positive max as a "
    "20-row aggregate joined back broadcast. Cosines ROUND(.,6) in "
    "both engines (sequential-fold vs list_cosine_similarity 1-ulp "
    "noise, the llm_similarity_topk precedent); margins subtract "
    "already-rounded values",
    tags=("llm", "similarity"),
)
def llm_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.llm.similarity import hard_negative_topk

    t = register_tables(spark, sf_dir)
    return hard_negative_topk(
        t["embeddings"], query_ids=list(range(20)), k=3
    )


@query(
    "llm_dedup_cluster_stats",
    oracle="""
        WITH RECURSIVE toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM documents
        ), sh0 AS (
            SELECT doc_id,
                   tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
            FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            QUALIFY lead(tok, 2) OVER w IS NOT NULL
        ), sh AS (
            SELECT DISTINCT doc_id, shingle FROM sh0
        ), ok AS (
            SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 1000
        ), shf AS (
            SELECT sh.doc_id, sh.shingle FROM sh JOIN ok USING (shingle)
        ), counts AS (
            SELECT doc_id, count(*) AS n FROM shf GROUP BY doc_id
        ), common AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
            FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), edges AS (
            SELECT id_a, id_b FROM common
            JOIN counts ca ON ca.doc_id = id_a
            JOIN counts cb ON cb.doc_id = id_b
            WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= 0.5
        ), sym AS (
            SELECT id_a AS a, id_b AS b FROM edges
            UNION
            SELECT id_b, id_a FROM edges
        ), walk AS (
            SELECT a AS src, b AS node FROM sym
            UNION
            SELECT w.src, s.b FROM walk w JOIN sym s ON w.node = s.a
        ), clusters AS (
            SELECT src AS doc_id, LEAST(src, MIN(node)) AS cluster_id
            FROM walk GROUP BY src
        ), sizes AS (
            SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
            FROM clusters GROUP BY cluster_id
        )
        SELECT cluster_size,
               CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(SUM(cluster_size) AS BIGINT) AS n_docs
        FROM sizes GROUP BY cluster_size ORDER BY cluster_size
    """,
    description="the dedup AUDIT REPORT: duplicate-cluster size "
    "histogram (how many 2-doc, 3-doc, ... near-dup families the "
    "3-gram-Jaccard>=0.5 graph contains, and how many documents each "
    "size class absorbs) — the table a data-curation run publishes "
    "before choosing keep-one-per-cluster, and the distribution whose "
    "heavy tail flags template spam. Scale shape: identical to "
    "llm_dedup_clusters (inverted-index candidate pairs with the "
    "stop-shingle cap, exact verify, star-contraction connected "
    "components) plus two bounded aggregates — the histogram grain is "
    "|distinct sizes|, data-size independent. Oracle = the same "
    "recursive-CTE transitive closure, re-aggregated to the size "
    "histogram",
)
def llm_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadou_spark.llm.dedup import ngram_jaccard_pairs
    from amadou_spark.operators.graph import connected_components

    t = register_tables(spark, sf_dir)
    edges = ngram_jaccard_pairs(
        t["documents"], min_jaccard=0.5, max_shingle_freq=1000
    ).select("id_a", "id_b")
    sizes = (
        connected_components(edges)
        .groupBy("cluster_id")
        .agg(F.count("*").cast("bigint").alias("cluster_size"))
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count("*").cast("bigint").alias("n_clusters"),
            F.sum("cluster_size").cast("bigint").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )
