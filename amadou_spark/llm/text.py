"""Text analysis operators over a document corpus.

All JVM-side (built-in pyspark.sql.functions — no Python UDFs in any
hot path), so they stay inside whole-stage codegen and scale linearly
with executors. Hashes use a PORTABLE construction (first 8 hex chars
of md5 → int32-range bigint) so results are oracle-checkable in DuckDB
with `CAST('0x' || substring(md5(x),1,8) AS BIGINT)`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: BPE-ish tokenizer: letter runs, digit runs, single punctuation marks.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

#: Tiny per-language marker vocabularies for the n-gram/stopword
#: language-ID heuristic. Deterministic, content-based.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist"),
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "que", "es"),
    "fr": ("le", "la", "et", "les", "des"),
    "zh": ("de", "shi", "le", "zai", "you"),
}

STOPWORDS_EN = ("the", "a", "of", "and", "in", "to", "is")


def portable_token_hash(c: Column) -> Column:
    """32-bit-range hash of a string, identical in Spark and DuckDB:
    int(md5(x)[:8], 16). Used wherever a cross-engine-checkable hash is
    needed (SimHash, fingerprints). For pure-Spark paths prefer
    F.xxhash64 (cheaper, 64-bit)."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("bigint")


def tokens(text: Column) -> Column:
    """Whitespace tokens (documents.text is space-separated)."""
    return F.split(text, r"\s+")


def text_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality metrics: token counts (whitespace + BPE-ish
    regex), mean token length, punctuation ratio, stopword ratio.
    One narrow projection — no shuffle at all."""
    text = F.col(text_col)
    toks = tokens(text)
    n_ws = F.size(toks).cast("bigint")
    n_bpe = F.size(F.regexp_extract_all(text, F.lit(TOKEN_REGEX), 0)).cast("bigint")
    n_chars = F.length(text).cast("bigint")
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[^A-Za-z0-9\s]", ""))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS_EN))).cast("bigint")
    return docs.select(
        "doc_id",
        n_ws.alias("n_tokens_ws"),
        n_bpe.alias("n_tokens_bpe"),
        n_chars.alias("n_chars_calc"),
        F.round((n_chars - (n_ws - 1)) / n_ws, 4).alias("mean_token_len"),
        F.round(n_punct / n_chars, 4).alias("punct_ratio"),
        F.round(n_stop / n_ws, 4).alias("stopword_ratio"),
    )


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language scoring: count marker hits per language,
    predict the argmax (ties broken by language code order). A
    deterministic heuristic stand-in for a real n-gram model; the
    Spark shape (scan + projection, zero shuffles) is the point."""
    toks = tokens(F.col(text_col))

    def marker_count(markers: tuple[str, ...]):
        # single-arg lambda (PySpark treats 2-arg lambdas as (element, index))
        return F.size(F.filter(toks, lambda t: t.isin(*markers))).cast("bigint")

    scores = {lang: marker_count(markers) for lang, markers in LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    pred = F.lit(None).cast("string")
    for lang in sorted(LANG_MARKERS, reverse=True):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    out = docs.select(
        "doc_id",
        "lang",
        *[scores[lang].alias(f"score_{lang}") for lang in sorted(LANG_MARKERS)],
        pred.alias("lang_pred"),
    )
    return out


def fingerprint(docs: DataFrame, text_col: str = "text", mod: int = 1_000_003) -> DataFrame:
    """Order-sensitive document fingerprint: Σ position·hash(token) mod p.

    Position-weighting makes it order-sensitive while the outer SUM stays
    commutative — so Spark can compute it as a partial-aggregated
    explode/sum with no sort, and DuckDB reproduces it exactly
    (generate_subscripts is 1-based; we match with pos+1)."""
    toks = docs.select("doc_id", F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"))
    tokval = portable_token_hash(F.col("tok")) % mod
    return (
        toks.select("doc_id", (((F.col("pos") + 1) * tokval) % mod).alias("term"))
        .groupBy("doc_id")
        .agg((F.sum("term") % mod).alias("fingerprint"))
    )


def repetition_metrics(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality metrics, per document: fraction of
    duplicate tokens and duplicate word-bigrams. Pure per-row expressions
    on one scan — zero shuffles, the ideal 100 TB quality-filter shape.
    Fractions divide exact integer counts, so the doubles are bit-stable
    across engines before rounding."""
    from amadou_spark.llm.dedup import shingles_of

    toks = F.col("_toks")
    n_tokens = F.size(toks)
    n_bigrams = (n_tokens - 1).cast("double")
    distinct_bigrams = F.size(shingles_of(toks, F.col(text_col), n=2))
    dup_tok = F.lit(1.0) - F.size(F.array_distinct(toks)) / n_tokens.cast("double")
    dup_big = F.when(
        n_tokens >= 2, F.lit(1.0) - distinct_bigrams / n_bigrams
    ).otherwise(0.0)
    return docs.select(
        "doc_id", text_col, tokens(F.col(text_col)).alias("_toks")
    ).select(
        "doc_id",
        n_tokens.cast("bigint").alias("n_tokens"),
        F.round(dup_tok, 6).alias("dup_token_frac"),
        F.round(dup_big, 6).alias("dup_bigram_frac"),
    )


#: (name, pattern, placeholder) — email first so the address never
#: survives long enough for the phone/SSN patterns to see its digits.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "[PHONE]"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
)


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction for training-data pipelines: count then replace
    emails, phone numbers, and SSN-shaped tokens with typed placeholders.
    Counts are taken on the ORIGINAL text (the patterns are mutually
    non-overlapping), redaction is a chained regexp_replace — all
    JVM-side regex on one scan, zero shuffles, embarrassingly parallel
    at 100 TB."""
    text = F.col(text_col)
    counts = [
        F.regexp_count(text, F.lit(pat)).cast("bigint").alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    redacted = text
    for _, pat, repl in PII_PATTERNS:
        redacted = F.regexp_replace(redacted, pat, repl)
    return docs.select("doc_id", *counts, redacted.alias("redacted"))


def chunk_documents(
    docs: DataFrame,
    text_col: str = "text",
    chunk_size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split each document's token stream into fixed-size training
    chunks with overlap (chunk_size - stride tokens shared between
    consecutive chunks — context continuity for LM training). Pure
    JVM array expressions: sequence → posexplode → slice; the fan-out
    happens map-side with zero shuffles, so 100 TB chunks exactly as
    well as 100 MB."""
    toks = F.split(F.col(text_col), " ")
    starts = F.sequence(F.lit(1), F.greatest(F.size("_tk"), F.lit(1)), F.lit(stride))
    chunk = F.slice(F.col("_tk"), F.col("_start"), chunk_size)
    return (
        docs.select("doc_id", toks.alias("_tk"))
        .select("doc_id", "_tk", F.explode(starts).alias("_start"))
        .select(
            "doc_id",
            ((F.col("_start") - 1) / stride).cast("bigint").alias("chunk_id"),
            F.size(chunk).cast("bigint").alias("n_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


def pack_sequences(
    docs: DataFrame,
    text_col: str = "text",
    budget: int = 256,
    n_shards: int = 32,
) -> DataFrame:
    """Assign documents to fixed-token-budget training sequences
    (sequence packing). Scale shape: a GLOBAL running sum would need a
    single total order — instead docs are hash-sharded (deterministic
    md5, reshard-stable) and packed per shard with one window per
    shard partition; a sequence is globally identified by (shard,
    seq_id). A doc is placed by the running token count BEFORE it, so
    docs straddling a boundary belong to the sequence they start in —
    the streaming-friendly convention."""
    from pyspark.sql import Window

    n_tokens = F.size(F.split(F.col(text_col), " ")).cast("bigint")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % n_shards
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        docs.select(
            "doc_id", shard.alias("shard"), n_tokens.alias("n_tokens")
        )
        .withColumn("_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .select(
            "doc_id",
            "shard",
            "n_tokens",
            (F.col("_before") / budget).cast("bigint").alias("seq_id"),
            (F.col("_before") % budget).cast("bigint").alias("offset"),
        )
    )


#: Symbol separator for BPE merge learning. The documents corpus is
#: pure ``[a-z0-9 ]`` (asserted by tests), so U+00B7 can never occur
#: inside a symbol and ``·a·b·`` unambiguously delimits the pair (a,b).
BPE_SEP = "·"


def bpe_learn_merges(
    docs: DataFrame,
    text_col: str = "text",
    num_merges: int = 6,
) -> DataFrame:
    """Learn a byte-pair-encoding merge table from a corpus: the
    iterative heart of BPE vocabulary induction (Sennrich et al. 2016).

    Distributed design — the same shape fastBPE / HF trainers use:

    1. Collapse the corpus to a WORD-FREQUENCY table (one explode +
       groupBy).  At 100 TB the corpus is billions of rows but the
       distinct-word table is orders of magnitude smaller, and every
       later round touches only that table, weighted by ``cnt``.
    2. Each round: count adjacent symbol pairs (array slice + zip_with,
       no windows), partial-aggregate map-side, take the global argmax
       (``ORDER BY n DESC, s1, s2 LIMIT 1`` — the tie-break makes the
       learned table deterministic), and apply the merge corpus-wide
       with one literal ``replace`` over the separator-delimited symbol
       string.  The argmax is a 1-row collect — the iterative control
       decision, like a convergence check — while all heavy work stays
       distributed.
    3. ``materialize_shared`` cuts lineage per round so the plan does
       not grow with ``num_merges`` (same fix as the CC/PageRank loops).

    Merge semantics: one left-to-right non-overlapping ``replace`` pass
    per rule.  For runs of a self-adjacent pair (``aaaa`` under rule
    ``a+a``) this can group differently from canonical leftmost-greedy
    BPE (both engines' ``replace`` resume scanning AFTER the emitted
    replacement), but Spark and DuckDB agree exactly — pinned by the
    oracle hash and a dedicated pytest — and the statistic driving the
    next round is identical in both engines.

    Returns one row per learned rule: (merge_rank, left_sym, right_sym,
    merged, pair_count).
    """
    spark = docs.sparkSession
    merges, _ = _bpe_induce(docs, text_col, num_merges)
    return spark.createDataFrame(
        merges,
        "merge_rank int, left_sym string, right_sym string, "
        "merged string, pair_count bigint",
    )


def bpe_encode(
    docs: DataFrame,
    text_col: str = "text",
    num_merges: int = 6,
) -> DataFrame:
    """Encode the corpus with the BPE table :func:`bpe_learn_merges`
    induces — the application half of the tokenizer (Sennrich et al.
    2016, "apply the learned operations").

    Returns the DISTINCT-WORD encoding table ``(word, cnt, n_tokens,
    encoded)`` with ``encoded`` the space-joined symbol sequence.  This
    is the shape production tokenizers materialize: at 100 TB the
    corpus re-tokenization is a broadcast/shuffle join of the token
    stream against this table, so encoding cost is O(distinct words),
    never O(corpus tokens).  Merge application uses the exact semantics
    the learn loop used round-by-round (one left-to-right
    non-overlapping ``replace`` per rule, in rank order), so
    learn-then-encode round-trips bit-identically: concatenating a
    word's symbols always reconstructs the word.
    """
    _, vocab = _bpe_induce(docs, text_col, num_merges)
    syms = F.filter(
        F.split(F.col("repr"), BPE_SEP), lambda x: x != F.lit("")
    )
    return vocab.select(
        "word",
        "cnt",
        F.size(syms).cast("bigint").alias("n_tokens"),
        F.array_join(syms, " ").alias("encoded"),
    )


def _bpe_induce(
    docs: DataFrame,
    text_col: str,
    num_merges: int,
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame]:
    """Shared BPE induction loop: returns (learned merge rules, final
    word-frequency vocab with the fully-merged ``repr`` column)."""
    from amadou_spark.scale import loop_confs, materialize_shared
    from amadou_spark.session import conf_scope

    words = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    # "low" -> "·l·o·w·": every symbol wrapped in separators.
    vocab = materialize_shared(
        words.withColumn(
            "repr",
            F.concat(
                F.lit(BPE_SEP),
                F.regexp_replace(F.col("word"), "(.)", "$1" + BPE_SEP),
            ),
        )
    )
    n_words = vocab.count()  # over materialized blocks; sizes the loop

    merges: list[tuple[int, str, str, str, int]] = []
    # Pinned loop confs: each round is (argmax job + merge-apply
    # materialization) over the bounded distinct-word table, which AQE
    # and the batch shuffle width would pad with stage-materialization
    # jobs.
    spark = docs.sparkSession
    with conf_scope(spark, loop_confs(spark, n_words)):
        for rank in range(1, num_merges + 1):
            syms = F.filter(
                F.split(F.col("repr"), BPE_SEP), lambda x: x != F.lit("")
            )
            n_pairs = F.greatest(F.size(syms) - 1, F.lit(0))
            pairs = F.zip_with(
                F.slice(syms, 1, n_pairs),
                F.slice(syms, 2, n_pairs),
                lambda a, b: F.struct(a.alias("s1"), b.alias("s2")),
            )
            top = (
                vocab.select(F.explode(pairs).alias("p"), "cnt")
                .groupBy("p.s1", "p.s2")
                .agg(F.sum("cnt").alias("n"))
                .orderBy(F.col("n").desc(), "s1", "s2")
                .limit(1)
                .collect()
            )
            if not top:
                break
            row = top[0]
            merges.append((rank, row.s1, row.s2, row.s1 + row.s2, row.n))
            pat = BPE_SEP + row.s1 + BPE_SEP + row.s2 + BPE_SEP
            rep = BPE_SEP + row.s1 + row.s2 + BPE_SEP
            vocab = materialize_shared(
                vocab.withColumn(
                    "repr", F.replace(F.col("repr"), F.lit(pat), F.lit(rep))
                )
            )

    return merges, vocab
