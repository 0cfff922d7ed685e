"""Text-analysis operators over a document table (training-data pipeline
surface; no counterpart in the reference — SURVEY §7.4 extensions).

All column builders are pure Catalyst expressions (split / higher-order
array functions / md5) — no Python UDFs, so they run JVM-side inside
whole-stage codegen and scale linearly with input size. Everything keys off
a single ``text`` column and is embarrassingly parallel: no shuffles at
all except where a caller aggregates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is")


def tokens(text: Column) -> Column:
    """Whitespace tokenization (single-space corpus)."""
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def word_shingles(text: Column, n: int) -> Column:
    """Word n-gram shingles as strings; a document with fewer than n tokens
    yields its full text as the single shingle."""
    t = tokens(text)
    m = F.greatest(F.size(t) - (n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), m),
        lambda i: F.array_join(F.slice(t, i, n), " "),
    )


def stopword_ratio(text: Column) -> Column:
    t = tokens(text)
    hits = F.size(F.filter(t, lambda x: x.isin(*STOPWORDS)))
    return hits / F.size(t)


def avg_token_len(text: Column) -> Column:
    """Mean token length = non-space chars / token count."""
    return F.length(F.regexp_replace(text, " ", "")).cast("double") / token_count(text)


def quality_score(text: Column) -> Column:
    """Deterministic quality heuristic in [0, ~1]: rewards stopword presence
    (fluency proxy) and moderate token length; penalizes very short docs."""
    n = token_count(text)
    return (
        0.5 * stopword_ratio(text)
        + 0.3 * F.least(n / F.lit(40.0), F.lit(1.0))
        + 0.2 * F.least(avg_token_len(text) / F.lit(6.0), F.lit(1.0))
    )


def lang_guess(text: Column) -> Column:
    """Stopword-presence language heuristic (the corpus vocabulary is
    English-ish regardless of the labeled ``lang`` column)."""
    return F.when(stopword_ratio(text) > 0.05, F.lit("en")).otherwise(F.lit("unknown"))


def fingerprint_md5(text: Column) -> Column:
    """Whole-document content fingerprint."""
    return F.md5(text)


def shingle_fingerprint(text: Column, n: int = 5) -> Column:
    """Min-hash-style content fingerprint over word n-gram shingles: the
    lexicographic min of the shingle md5s (stable under reordering of
    surrounding content; the rolling-hash analog of the reference-free
    document fingerprint)."""
    return F.array_min(F.transform(word_shingles(text, n), F.md5))


def text_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass per-document text statistics table."""
    t = F.col(text_col)
    return df.select(
        "doc_id",
        F.length(t).alias("n_chars"),
        token_count(t).alias("n_tokens"),
        avg_token_len(t).alias("avg_token_len"),
        stopword_ratio(t).alias("stopword_ratio"),
        quality_score(t).alias("quality_score"),
        lang_guess(t).alias("lang_guess"),
        fingerprint_md5(t).alias("fingerprint"),
    )


# --- repetition & PII (C4/Gopher-style corpus filters) ---------------------

EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


def dup_word_fraction(text: Column) -> Column:
    """Fraction of tokens that repeat an earlier token — the word-level
    repetition signal from Gopher-style quality filtering (high values
    flag boilerplate/keyword-stuffed documents). Exact integer ratio cast
    through DOUBLE, so it is bit-identical across engines."""
    t = tokens(text)
    return (F.size(t) - F.size(F.array_distinct(t))).cast("double") / F.size(t)


def repetition_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition profile: (doc_id, n_tokens,
    dup_word_frac, top_bigram_frac).

    ``top_bigram_frac`` — the share of all bigram occurrences taken by the
    single most frequent bigram — is the "top n-gram fraction" filter from
    the Gopher/MassiveText cleaning recipe; near-1 values mean the
    document is one phrase repeated. Computed distributed: explode
    bigrams → per-(doc, bigram) counts → per-doc max/sum (two partial-agg
    shuffles on the doc key, no self-joins), then joined back to the
    expression-only token stats."""
    t = F.col(text_col)
    base = df.select(
        F.col(id_col).alias("doc_id"),
        token_count(t).alias("n_tokens"),
        dup_word_fraction(t).alias("dup_word_frac"),
    )
    bi = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(t, 2)).alias("bigram"),
    )
    per_bigram = bi.groupBy("doc_id", "bigram").agg(F.count("*").alias("c"))
    per_doc = per_bigram.groupBy("doc_id").agg(
        F.max("c").alias("_mx"), F.sum("c").alias("_tot")
    )
    return base.join(per_doc, "doc_id").select(
        "doc_id",
        "n_tokens",
        "dup_word_frac",
        (F.col("_mx").cast("double") / F.col("_tot")).alias("top_bigram_frac"),
    )


def scrub_emails(text: Column, replacement: str = "[EMAIL]") -> Column:
    """Redact email addresses (PII scrub pass every released corpus
    runs). Pure regexp_replace — JVM-side, linear scan."""
    return F.regexp_replace(text, EMAIL_PATTERN, replacement)


def email_count(text: Column) -> Column:
    return F.regexp_count(text, F.lit(EMAIL_PATTERN))


# --- winnowing fingerprints (rolling-hash document sketch) -----------------

WINNOW_BASE = 257
WINNOW_MOD = 1_000_000_007  # (MOD-1)*BASE + 127 < 2^63: the fold never overflows


def gram_hash(gram: Column) -> Column:
    """Polynomial hash of one short k-gram string:
    ``fold(acc*B + codepoint) mod M`` — constant work per gram.

    The corpus is pure ASCII (verified where ``m1`` builds payloads), so
    ``ascii()`` per char == codepoint and both engines agree byte-for-byte;
    (M−1)·B + 127 < 2^63, so the BIGINT fold never overflows.

    NOTE on shape: winnowing is deliberately built as ROWS (explode gram
    positions, hash each substring, window-min per doc) rather than as
    nested array lambdas over a per-doc hash array. Catalyst performs no
    common-subexpression elimination inside higher-order-function lambda
    bodies, and CollapseProject re-inlines a hoisted array column into the
    lambda that consumes it — so the "natural" array form re-evaluates the
    full k-gram hash array once PER WINDOW, turning O(n·k) into O(n²·k)
    per document (measured: minutes on a 500-doc fixture). The row form
    keeps every expression constant-size, stays in whole-stage codegen,
    and costs exactly one shuffle (the per-doc window).
    """
    codes = F.transform(F.split(gram, ""), lambda c: F.ascii(c))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * WINNOW_BASE + c) % WINNOW_MOD,
    )


def winnow(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
           k: int = 8, w: int = 4) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS sketch): hash every k-gram, slide a window of
    ``w`` consecutive hashes, keep each window's minimum, dedupe per doc.
    Guarantee: any substring shared between two documents of length
    ≥ k+w−1 contributes at least one COMMON fingerprint (each shared
    window picks its min from identical hash runs) — pinned by test.

    Returns (id_col, fp) posting rows. Documents shorter than k+w−1 have
    no full window and are dropped (both engines see the same row set —
    the q_x15 oracle applies the same length predicate).

    Shuffle shape: the ONE exchange is the DOC table,
    repartitioned by id BEFORE the gram explode. Generate preserves its
    child's hash partitioning, so the per-doc window needs only a local
    sort (no exchange of the ~|text| gram rows per doc), and the final
    (id, fp) distinct is clustering-satisfied by the same partitioning
    (id is a subset of the grouping key) — rather than shuffling the
    full exploded+hashed gram table (~30 bytes × Σ|text| rows) for the
    window, this moves each document exactly once. See
    gram_hash for why this is rows, not arrays.
    """
    n = F.length(text_col)
    win = Window.partitionBy(id_col).orderBy("i").rowsBetween(0, w - 1)
    # A bare repartition(id) is advisory under AQE,
    # which sizes partitions by BYTES — a small one-file doc table
    # coalesces to ~1 partition and the (expensive, per-gram) hash fold
    # serializes on one core. Pin the width only when the scan is below
    # the default parallelism; at real scale the keyed repartition stays
    # advisory and AQE sizes it by input bytes.
    sc = df.sparkSession.sparkContext
    kept = df.filter(n >= k + w - 1)
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        shuffled = kept.repartition(sc.defaultParallelism, F.col(id_col))
    else:
        shuffled = kept.repartition(F.col(id_col))
    grams = (
        shuffled
        .select(
            id_col,
            text_col,
            F.explode(F.sequence(F.lit(1), n - (k - 1))).alias("i"),
        )
        .select(
            id_col,
            "i",
            (F.col("i") <= F.length(text_col) - (k + w - 2)).alias("is_start"),
            gram_hash(F.substring(F.col(text_col), F.col("i"), F.lit(k)))
            .alias("h"),
        )
    )
    return (
        grams.withColumn("fp", F.min("h").over(win))
        .filter("is_start")
        .select(id_col, "fp")
        .distinct()
    )
