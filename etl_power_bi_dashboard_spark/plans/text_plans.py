"""Text-analysis + multimodal plans over the `documents` table
(SURVEY §7.4 training-data-pipeline extensions)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import multimodal, text
from ..operators.dedup import ensure_parallelism
from .base import Query, load

# interpolated from the ONE stopword constant so an edit to
# operators/text.STOPWORDS can never leave these oracles stale
_STOP_SQL = "(" + ", ".join(f"'{w}'" for w in text.STOPWORDS) + ")"
_SR_SQL = (
    "len(list_filter(string_split(text, ' '), x -> x IN "
    + _STOP_SQL
    + ")) / len(string_split(text, ' '))"
)
_ATL_SQL = (
    "CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' '))"
)


def q_x1_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", text.token_count(F.col("text")).alias("n_tokens"))


SQL_X1 = """
SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens FROM documents
"""


def q_x2_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.length(t).alias("n_chars"),
        text.token_count(t).alias("n_tokens"),
        text.avg_token_len(t).alias("avg_token_len"),
        text.stopword_ratio(t).alias("stopword_ratio"),
        text.quality_score(t).alias("quality_score"),
    )


SQL_X2 = f"""
SELECT doc_id,
       CAST(length(text) AS INT) AS n_chars,
       CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       {_ATL_SQL} AS avg_token_len,
       {_SR_SQL} AS stopword_ratio,
       0.5 * ({_SR_SQL})
         + 0.3 * least(len(string_split(text, ' ')) / 40.0, 1.0)
         + 0.2 * least(({_ATL_SQL}) / 6.0, 1.0) AS quality_score
FROM documents
"""


def q_x3_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang", text.lang_guess(F.col("text")).alias("lang_guess")
    )


SQL_X3 = f"""
SELECT doc_id, lang,
       CASE WHEN {_SR_SQL} > 0.05 THEN 'en' ELSE 'unknown' END AS lang_guess
FROM documents
"""


def q_x19_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation: confusion matrix of the x3 language-ID
    heuristic against the labeled ``lang`` column, with each cell's
    share of its actual-class row — the precision/recall substrate every
    model-assisted curation loop reports before trusting a filter.

    One groupBy over (actual, predicted) — both JVM expressions — then a
    window re-aggregation for the per-class share: exact BIGINT counts,
    one IEEE division. |langs|×|predictions| rows at any scale.
    """
    docs = load(spark, sf_dir, "documents")
    cells = docs.groupBy(
        "lang", text.lang_guess(F.col("text")).alias("lang_guess")
    ).agg(F.count("*").alias("n"))
    row_tot = F.sum("n").over(Window.partitionBy("lang"))
    return cells.select(
        "lang",
        "lang_guess",
        "n",
        (F.col("n").cast("double") / row_tot.cast("double")).alias(
            "frac_of_actual"
        ),
    )


SQL_X19 = f"""
WITH cells AS (
    SELECT lang,
           CASE WHEN {_SR_SQL} > 0.05 THEN 'en' ELSE 'unknown' END
               AS lang_guess,
           COUNT(*) AS n
    FROM documents
    GROUP BY 1, 2
)
SELECT lang, lang_guess, n,
       CAST(n AS DOUBLE)
           / CAST(SUM(n) OVER (PARTITION BY lang) AS DOUBLE)
           AS frac_of_actual
FROM cells
"""


def q_x4_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        text.fingerprint_md5(t).alias("md5_fp"),
        text.shingle_fingerprint(t, 5).alias("shingle_fp"),
    )


SQL_X4 = """
WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS ts FROM documents)
SELECT doc_id,
       md5(text) AS md5_fp,
       list_min(list_transform(
           list_transform(range(1, greatest(len(ts) - 4, 1) + 1),
                          i -> array_to_string(array_slice(ts, i, i + 4), ' ')),
           s -> md5(s))) AS shingle_fp
FROM toks
"""


def q_m1_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload plumbing: attach opaque bytes, extract features via an
    Arrow-batched ``mapInPandas`` pass (the one deliberate Python hop —
    this is the slot where a real image/audio decoder goes)."""
    docs = load(spark, sf_dir, "documents")
    return multimodal.extract_features(multimodal.with_binary_payload(docs))


# text is pure ASCII (verified), so byte values == codepoints
SQL_M1 = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       CAST(ascii(text[1]) AS INT) AS first_byte,
       CAST(list_sum(list_transform(range(1, length(text) + 1),
                                    i -> ord(text[i]))) % 1000000007 AS BIGINT)
           AS checksum
FROM documents
"""


def q_m2_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-ingest plumbing: payload → sampled frames (one row per kept
    16-byte frame, every 2nd) through mapInPandas. The fake codec is
    deterministic, so the fan-out is fully oracle-checkable in SQL."""
    docs = load(spark, sf_dir, "documents")
    return multimodal.explode_sampled_frames(
        multimodal.with_binary_payload(docs), every_n=2
    )


# frame i covers bytes [32i+1, 32i+16]; frames exist while 32i < len
SQL_M2 = """
WITH f AS (
    SELECT doc_id, octet_length(encode(text)) AS blen,
           unnest(range(0, (octet_length(encode(text)) + 31) // 32)) AS frame_no
    FROM documents
)
SELECT doc_id, CAST(frame_no AS INT) AS frame_no,
       CAST(least(16, blen - frame_no * 32) AS INT) AS frame_len
FROM f
"""


def q_m3_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map pandas (applyInPandas): per-label embedding centroid
    via NumPy over each group's stacked vectors — the grouped twin of the
    mapInPandas feature pass. Rounded to 6 so the element-wise means match
    the oracle's avg() association order."""
    import numpy as np
    import pandas as pd_

    emb = load(spark, sf_dir, "embeddings")

    def centroid(pdf: pd_.DataFrame) -> pd_.DataFrame:
        vecs = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        c = np.round(vecs.mean(axis=0), 6)
        n = len(pdf)
        # per-dimension rows: scalar columns hash portably across engines
        return pd_.DataFrame(
            {
                "label": int(pdf["label"].iloc[0]),
                "dim": range(1, len(c) + 1),
                "centroid_value": c,
                "n_vectors": n,
            }
        )

    return emb.groupBy("label").applyInPandas(
        centroid, "label int, dim int, centroid_value double, n_vectors long"
    )


SQL_M3 = """
WITH u AS (
    SELECT label, d.i AS dim, CAST(embedding[d.i] AS DOUBLE) AS v
    FROM embeddings, (SELECT unnest(range(1, 65)) AS i) d
)
SELECT label, CAST(dim AS INT) AS dim,
       round(avg(v), 6) AS centroid_value,
       CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM u
GROUP BY label, dim
"""


def q_m4_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-normalization plumbing: payload → decode → resize to a fixed
    24×16 'pixel' buffer → fingerprint, through an Arrow-batched
    mapInPandas pass (operators/multimodal.py:resize_payloads).

    The operator is byte-based; DuckDB can only repeat/slice/md5
    CHARACTER strings, so the oracle contract restricts both sides —
    identically — to non-empty documents whose byte and character lengths
    coincide (ASCII). The current corpus is entirely ASCII so nothing is
    dropped today, but a regenerated non-ASCII corpus degrades to a
    smaller verified subset instead of a hash mismatch."""
    docs = load(spark, sf_dir, "documents").filter(
        (F.length("text") > 0)
        & (F.octet_length(F.col("text")) == F.length("text"))
    )
    return multimodal.resize_payloads(
        multimodal.with_binary_payload(docs), width=24, height=16
    )


# fake resize: (payload * (n // len + 1))[:n] with n = 24*16 = 384
SQL_M4 = """
SELECT doc_id,
       CAST(384 AS INT) AS out_len,
       md5(substr(repeat(text, CAST(384 // length(text) AS INT) + 1), 1, 384))
           AS resized_md5
FROM documents
WHERE length(text) > 0 AND octet_length(encode(text)) = length(text)
"""


def q_x5_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequency: tokenize → explode → count → top-20.

    The classic word-count shape; at scale the explode fans out
    map-side and the count partial-aggregates before the single shuffle
    on the term key. Ties broken by term for a deterministic top-k.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.length("term") > 0)
    return (
        toks.groupBy("term")
        .agg(F.count("*").alias("term_count"))
        .orderBy(F.desc("term_count"), "term")
        .limit(20)
    )


SQL_X5 = """
SELECT term, COUNT(*) AS term_count
FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
WHERE length(term) > 0
GROUP BY term
ORDER BY term_count DESC, term
LIMIT 20
"""


def q_x6_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinguishing terms per document by TF-IDF-style score —
    term frequency × corpus rarity, the keyword-extraction staple.

    Rarity is the *rational* form N/df rather than log(N/df): same
    ranking monotonicity, but exact IEEE division instead of a
    transcendental whose last-bit rounding differs across libm
    implementations — the engine-portable formulation. Score =
    (tf/doc_len)·(N/df) with identical association on both engines.

    Plan shape: ONE tokenize+explode scan produces the per-(doc,term)
    counts; document length (Σ tf per doc) and document frequency (row
    count per term) both *re-aggregate tf's partials* instead of
    rescanning the corpus — the A2-style rollup trick, cutting the
    explode from three evaluations to one. N is a 1-row broadcast.
    Final top-3 is a row_number window per doc with a term tiebreak.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.length("term") > 0)
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    doc_len = tf.groupBy(F.col("doc_id").alias("dl_doc")).agg(
        F.sum("tf").alias("doc_len")
    )
    df_t = tf.groupBy(F.col("term").alias("df_term")).agg(
        F.count("*").alias("df")
    )
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(doc_len, tf["doc_id"] == F.col("dl_doc"))
        .join(df_t, tf["term"] == F.col("df_term"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            (
                (F.col("tf").cast("double") / F.col("doc_len").cast("double"))
                * (F.col("n_docs").cast("double") / F.col("df").cast("double"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "score", "rk")
    )


SQL_X6 = """
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), toks_f AS (
    SELECT doc_id, term FROM toks WHERE length(term) > 0
), tf AS (
    SELECT doc_id, term, COUNT(*) AS tf FROM toks_f GROUP BY doc_id, term
), doc_len AS (
    SELECT doc_id, SUM(tf) AS doc_len FROM tf GROUP BY doc_id
), df_t AS (
    SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), scored AS (
    SELECT t.doc_id, t.term,
           (CAST(t.tf AS DOUBLE) / CAST(d.doc_len AS DOUBLE))
               * (CAST((SELECT COUNT(*) FROM documents) AS DOUBLE)
                  / CAST(f.df AS DOUBLE)) AS score
    FROM tf t
    JOIN doc_len d ON t.doc_id = d.doc_id
    JOIN df_t f ON t.term = f.term
)
SELECT doc_id, term, score, rk
FROM (SELECT doc_id, term, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term) AS rk
      FROM scored)
WHERE rk <= 3
"""


def q_x7_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText repetition filters: per-doc duplicate-word
    fraction and top-bigram occupancy (near-1 ⇒ one phrase repeated).
    Distributed as two partial-agg shuffles on the doc key — no
    self-joins (operators/text.py:repetition_signals)."""
    return text.repetition_signals(load(spark, sf_dir, "documents"))


SQL_X7 = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
base AS (
    SELECT doc_id, CAST(len(t) AS INT) AS n_tokens,
           CAST(len(t) - len(list_distinct(t)) AS DOUBLE) / len(t)
               AS dup_word_frac
    FROM toks
),
bi AS (
    SELECT doc_id,
           unnest(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - 1, 1) + 1),
               i -> array_to_string(
                   array_slice(string_split(text, ' '), i, i + 1), ' ')))
               AS bigram
    FROM documents
),
pb AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bi GROUP BY 1, 2),
pd AS (SELECT doc_id, MAX(c) AS mx, SUM(c) AS tot FROM pb GROUP BY 1)
SELECT b.doc_id, b.n_tokens, b.dup_word_frac,
       CAST(pd.mx AS DOUBLE) / pd.tot AS top_bigram_frac
FROM base b JOIN pd USING (doc_id)
"""


def q_x8_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass (every released corpus runs one): deterministic
    email injection on every 7th doc (the raw corpus contains none), then
    regex redaction with a per-doc redaction count and the scrubbed
    content hash. Pure JVM regexp — linear scan, no shuffle."""
    docs = load(spark, sf_dir, "documents")
    injected = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com now"),
        ),
    ).otherwise(F.col("text"))
    return docs.select(
        "doc_id",
        text.email_count(injected).cast("int").alias("n_redactions"),
        F.md5(text.scrub_emails(injected)).alias("scrubbed_md5"),
    )


_EMAIL_SQL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"

SQL_X8 = f"""
WITH inj AS (
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 0
                THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                     || '@example.com now'
                ELSE text END AS t
    FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_EMAIL_SQL}')) AS INT) AS n_redactions,
       md5(regexp_replace(t, '{_EMAIL_SQL}', '[EMAIL]', 'g')) AS scrubbed_md5
FROM inj
"""


def q_x9_quality_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite keep/drop filter verdict — the decision pass a corpus
    build runs after the signal passes (x2/x7): each document gets a
    reason BITMASK (1 = token count outside [20, 400], 2 = duplicate-word
    fraction > 0.3, 4 = top-bigram occupancy > 0.2, 8 = stopword ratio
    < 0.02, 16 = mean token length outside [3, 10]) and ``keep = 1`` iff
    no filter fired.

    Thresholds compare exact rational doubles (int/int divisions), so the
    verdicts are bit-portable across engines. Plan shape = x7's two
    partial-agg shuffles on the doc key plus expression-only signals —
    nothing new materializes at 100 TB beyond the bigram profile it
    already shares with x7."""
    rep = text.repetition_signals(load(spark, sf_dir, "documents"))
    docs = load(spark, sf_dir, "documents")
    t = F.col("text")
    sig = docs.select(
        "doc_id",
        text.stopword_ratio(t).alias("sw"),
        text.avg_token_len(t).alias("atl"),
    )
    j = rep.join(sig, "doc_id")
    reasons = (
        F.when((F.col("n_tokens") < 20) | (F.col("n_tokens") > 400), 1).otherwise(0)
        + F.when(F.col("dup_word_frac") > 0.3, 2).otherwise(0)
        + F.when(F.col("top_bigram_frac") > 0.2, 4).otherwise(0)
        + F.when(F.col("sw") < 0.02, 8).otherwise(0)
        + F.when((F.col("atl") < 3.0) | (F.col("atl") > 10.0), 16).otherwise(0)
    )
    return j.select(
        "doc_id",
        reasons.cast("int").alias("reasons"),
        F.when(reasons == 0, 1).otherwise(0).cast("int").alias("keep"),
    )


SQL_X9 = f"""
WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
base AS (
    SELECT doc_id,
           CAST(len(t) AS INT) AS n_tokens,
           CAST(len(t) - len(list_distinct(t)) AS DOUBLE) / len(t) AS dup_word_frac,
           CAST(len(list_filter(t, x -> x IN {_STOP_SQL})) AS DOUBLE) / len(t) AS sw,
           CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(t) AS atl
    FROM toks
),
bi AS (
    SELECT doc_id,
           unnest(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - 1, 1) + 1),
               i -> array_to_string(
                   array_slice(string_split(text, ' '), i, i + 1), ' ')))
               AS bigram
    FROM documents
),
pb AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bi GROUP BY 1, 2),
pd AS (SELECT doc_id, MAX(c) AS mx, SUM(c) AS tot FROM pb GROUP BY 1),
scored AS (
    SELECT b.doc_id,
           (CASE WHEN b.n_tokens < 20 OR b.n_tokens > 400 THEN 1 ELSE 0 END
            + CASE WHEN CAST(pd.mx AS DOUBLE) / pd.tot > 0.2 THEN 4 ELSE 0 END
            + CASE WHEN b.dup_word_frac > 0.3 THEN 2 ELSE 0 END
            + CASE WHEN b.sw < 0.02 THEN 8 ELSE 0 END
            + CASE WHEN b.atl < 3.0 OR b.atl > 10.0 THEN 16 ELSE 0 END) AS r
    FROM base b JOIN pd USING (doc_id)
)
SELECT doc_id, CAST(r AS INT) AS reasons,
       CAST(CASE WHEN r = 0 THEN 1 ELSE 0 END AS INT) AS keep
FROM scored
"""


def q_x10_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition report (the data-mixing table a pretraining run
    is weighted from): docs and exact token totals per (source, lang),
    with each cell's share of all corpus tokens.

    One partial+final agg shuffle; the share is a window over the
    ALREADY-AGGREGATED |sources|x|langs| table, so the unpartitioned
    window touches dozens of rows regardless of input scale."""
    docs = load(spark, sf_dir, "documents")
    g = docs.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(text.token_count(F.col("text"))).alias("n_tokens"),
    )
    w = Window.partitionBy()
    return g.select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w).cast("double")
         ).alias("token_share"),
    )


SQL_X10 = """
WITH g AS (
    SELECT source, lang, COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM documents GROUP BY 1, 2
)
SELECT source, lang, n_docs, n_tokens,
       CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS DOUBLE)
           AS token_share
FROM g
"""


def q_x11_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing weight solver: per-source sampling rates that equalize
    source token shares by downsampling every source to the smallest
    source's token budget (the classic pretraining-mix rebalance),
    preserving the language mix within each source.

    ``sample_rate = min_source_tokens / source_tokens`` is an exact
    int/int division and ``expected_tokens`` multiplies that rate by the
    cell's exact token count — both engine-portable IEEE ops. The windows
    run over the already-aggregated |sources|×|langs| table (dozens of
    rows at any input scale), so the only real shuffle is the one
    partial+final token aggregation."""
    docs = load(spark, sf_dir, "documents")
    g = docs.groupBy("source", "lang").agg(
        F.sum(text.token_count(F.col("text"))).alias("n_tokens")
    )
    ws = Window.partitionBy("source")
    wall = Window.partitionBy()
    g = g.withColumn("src_tokens", F.sum("n_tokens").over(ws)).withColumn(
        "min_src_tokens", F.min("src_tokens").over(wall)
    )
    rate = F.col("min_src_tokens").cast("double") / F.col("src_tokens").cast("double")
    return g.select(
        "source",
        "lang",
        "n_tokens",
        "src_tokens",
        rate.alias("sample_rate"),
        (rate * F.col("n_tokens").cast("double")).alias("expected_tokens"),
    )


SQL_X11 = """
WITH g AS (
    SELECT source, lang,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM documents GROUP BY 1, 2
),
s AS (
    SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY source) AS BIGINT)
               AS src_tokens
    FROM g
),
m AS (SELECT *, MIN(src_tokens) OVER () AS min_src FROM s)
SELECT source, lang, n_tokens, src_tokens,
       CAST(min_src AS DOUBLE) / CAST(src_tokens AS DOUBLE) AS sample_rate,
       (CAST(min_src AS DOUBLE) / CAST(src_tokens AS DOUBLE))
           * CAST(n_tokens AS DOUBLE) AS expected_tokens
FROM m
"""


def q_x12_unigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model familiarity score — the engine-portable
    stand-in for the CCNet/KenLM perplexity filter: documents made of
    corpus-common tokens score high, documents of rare tokens score low.

    Instead of mean log-probability (transcendental — last-bit libm
    differences across engines), the score is the *integer* corpus
    frequency mass: ``sum_freq = Σ_positions corpus_count(token)`` (exact
    BIGINT), surfaced as ``avg_token_freq = sum_freq / n_tokens`` (one
    IEEE division). ``rare_tokens`` counts occurrences of tokens seen ≤ 2
    times corpus-wide — the OOV-ish tail a filter would flag. Ranking
    monotonicity matches the log form; every value hashes bit-identically.

    Plan shape: x6's single tokenize+explode produces per-(doc,term)
    counts; corpus term counts RE-AGGREGATE those partials (no second
    scan); the join back to docs is on the term key. At 100 TB the term
    table is the Zipf-light side — orders of magnitude smaller than the
    corpus — so AQE broadcasts it; per-doc integer sums are one final
    shuffle on doc_id.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.length("term") > 0)
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    cnt = tf.groupBy(F.col("term").alias("c_term")).agg(
        F.sum("tf").alias("corpus_count")
    )
    return (
        tf.join(cnt, tf["term"] == F.col("c_term"))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("corpus_count"))
            .cast("bigint")
            .alias("sum_freq"),
            F.sum(
                F.when(F.col("corpus_count") <= 2, F.col("tf")).otherwise(0)
            ).cast("bigint").alias("rare_tokens"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "sum_freq",
            (F.col("sum_freq").cast("double") / F.col("n_tokens").cast("double")
             ).alias("avg_token_freq"),
            "rare_tokens",
        )
    )


SQL_X12 = """
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), toks_f AS (
    SELECT doc_id, term FROM toks WHERE length(term) > 0
), tf AS (
    SELECT doc_id, term, COUNT(*) AS tf FROM toks_f GROUP BY doc_id, term
), cnt AS (
    SELECT term, SUM(tf) AS corpus_count FROM tf GROUP BY term
)
SELECT t.doc_id,
       CAST(SUM(t.tf) AS BIGINT) AS n_tokens,
       CAST(SUM(t.tf * c.corpus_count) AS BIGINT) AS sum_freq,
       CAST(SUM(t.tf * c.corpus_count) AS DOUBLE)
           / CAST(SUM(t.tf) AS DOUBLE) AS avg_token_freq,
       CAST(SUM(CASE WHEN c.corpus_count <= 2 THEN t.tf ELSE 0 END) AS BIGINT)
           AS rare_tokens
FROM tf t JOIN cnt c ON t.term = c.term
GROUP BY t.doc_id
"""


def q_x13_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length budgeting: per document, exact whitespace tokens,
    a fixed-width subword estimate (Σ ceil(len(word)/4) — the BPE-ish
    upper bound used to budget sequences before the real tokenizer runs),
    and the chars-per-subword ratio.

    All integer arithmetic ((len+3) DIV 4 summed via a higher-order
    array fold — no explode, no shuffle, pure map over the scan) plus one
    final IEEE division, so values hash identically on any engine.
    """
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    est = F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, t: acc + F.floor((F.length(t) + F.lit(3)) / F.lit(4)),
    )
    return docs.select(
        "doc_id",
        F.size(toks).cast("int").alias("n_tokens"),
        est.cast("bigint").alias("est_subwords"),
        (F.length("text").cast("double") / est.cast("double")).alias(
            "chars_per_subword"
        ),
    )


SQL_X13 = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       CAST(list_sum(list_transform(string_split(text, ' '),
                                    t -> (length(t) + 3) // 4)) AS BIGINT)
           AS est_subwords,
       CAST(length(text) AS DOUBLE)
           / CAST(list_sum(list_transform(string_split(text, ' '),
                                          t -> (length(t) + 3) // 4)) AS DOUBLE)
           AS chars_per_subword
FROM documents
"""


def q_x31_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: subword-estimate tokens per
    whitespace word (x13's Σ ceil(len/4) budget, aggregated per lang)
    plus chars-per-word — the multilingual-fairness readout behind
    "language X pays 2× the tokens for the same text", which drives
    both cost accounting and per-language context budgets in a
    multilingual training mix.

    Same pure-map integer arithmetic as x13 (array fold, no explode),
    collapsed by ONE keyed aggregation over |langs| groups; the two
    ratios are single IEEE divisions of exact BIGINT sums.
    """
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    est = F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, t: acc + F.floor((F.length(t) + F.lit(3)) / F.lit(4)),
    )
    per = docs.select(
        "lang",
        F.size(toks).cast("bigint").alias("w"),
        est.cast("bigint").alias("s"),
        F.length("text").cast("bigint").alias("c"),
    )
    return per.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("w").cast("bigint").alias("n_words"),
        F.sum("s").cast("bigint").alias("n_subwords"),
        (
            F.sum("s").cast("bigint").cast("double")
            / F.sum("w").cast("bigint").cast("double")
        ).alias("fertility"),
        (
            F.sum("c").cast("bigint").cast("double")
            / F.sum("w").cast("bigint").cast("double")
        ).alias("chars_per_word"),
    )


SQL_X31 = """
WITH per AS (
    SELECT lang,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
           CAST(list_sum(list_transform(string_split(text, ' '),
                                        t -> (length(t) + 3) // 4))
                AS BIGINT) AS s,
           CAST(length(text) AS BIGINT) AS c
    FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(w) AS BIGINT) AS n_words,
       CAST(SUM(s) AS BIGINT) AS n_subwords,
       CAST(CAST(SUM(s) AS BIGINT) AS DOUBLE)
           / CAST(CAST(SUM(w) AS BIGINT) AS DOUBLE) AS fertility,
       CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE)
           / CAST(CAST(SUM(w) AS BIGINT) AS DOUBLE) AS chars_per_word
FROM per GROUP BY 1
"""


def q_x14_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over adjacent token pairs — the
    collocation-mining pass a corpus build runs to find multiword
    expressions worth protecting from tokenization ("new york"-style
    units).

    PMI(x,y) = ln( p(x,y) / (p(x)p(y)) ) with p(x,y) over bigram slots
    and p(x) over unigram occurrences. Every count is an exact BIGINT
    (three linear explode→groupBy passes, all map-side-combined). The
    probability-ratio factors are cast to double BEFORE multiplying:
    an integer c_xy·U·U overflows BIGINT on a large corpus, where Spark
    (non-ANSI) wraps silently while DuckDB raises — the engines would
    diverge. Both engines run the same left-associated IEEE multiply
    chain, so they still take ln() of the SAME double at any corpus
    size, and PMI precision is bounded by the 9-dp round anyway.
    ln() itself is NOT bit-portable (JDK Math.log and
    libm disagree by 1 ulp on some inputs — observed on this corpus), so
    the score is rounded to 9 decimals on both engines before ranking —
    the repo's round-before-rank convention. Support filter c_xy ≥ 5
    (PMI is noise below that), top-20 by (pmi, bigram) — deterministic
    total order.

    Scale shape: cost is linear in corpus tokens; the widest shuffle
    carries distinct bigrams (vocabulary-sized, Zipf-light). The two
    unigram joins rendezvous on single-token keys — broadcastable when
    the unigram table is small; AQE decides.

    Measured NON-change: materializing uni/bg_counts once
    (they are re-tokenized per consumer — 5 corpus passes) LOST on the
    bench (2.62 → 2.80 s): at local[32] the duplicate subplans run
    concurrently inside one job, and two eager checkpoints serialize
    them — TWO checkpoints still tokenize the corpus twice, serially.
    The plan is restructured instead: ONE positional
    expansion (x = tk[i], y = try_element_at(tk, i+2) — NULL at the last
    position, ANSI-safe) counted once into the vocabulary-sized ``xy``
    table, checkpointed; unigram counts are Σ_y xy (every token is the
    x of exactly one position), bigram counts are the y-non-null rows.
    Five corpus tokenizations → one, and the one checkpoint is of the
    Zipf-light count table, not the corpus.
    """
    # Tokenize/explode/partial-count all run
    # below the first exchange — in the single task a one-file scan
    # yields — so repartition the doc table first (no-op at real scale)
    docs = ensure_parallelism(load(spark, sf_dir, "documents"), "doc_id")
    # hoist the token array into a column BEFORE the lambda: transform's
    # element accesses would otherwise re-run split(text) per element
    # (no common-subexpression elimination inside higher-order lambdas)
    xy = (
        docs.select(F.split(F.col("text"), " ").alias("tk"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(tk) - 1),"
                    " i -> struct(tk[i] AS x, try_element_at(tk, i + 2) AS y))"
                )
            ).alias("b")
        )
        .select("b.x", "b.y")
        .groupBy("x", "y")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    uni = (
        xy.filter(F.length("x") > 0)
        .groupBy(F.col("x").alias("t"))
        .agg(F.sum("c").alias("c"))
    )
    u_tot = uni.agg(F.sum("c").cast("bigint").alias("U"))
    # a slot containing the empty token is not a bigram: the inner
    # unigram joins would drop it from scoring anyway, but leaving
    # it in N = Σc_xy deflates every surviving bigram's p(x,y)
    bg_counts = xy.filter(
        F.col("y").isNotNull()
        & (F.length("x") > 0)
        & (F.length("y") > 0)
    ).select("x", "y", F.col("c").alias("c_xy"))
    n_tot = bg_counts.agg(F.sum("c_xy").cast("bigint").alias("N"))
    cx = uni.select(F.col("t").alias("x"), F.col("c").alias("c_x"))
    cy = uni.select(F.col("t").alias("y"), F.col("c").alias("c_y"))
    num = (
        F.col("c_xy").cast("double")
        * F.col("U").cast("double")
        * F.col("U").cast("double")
    )
    den = (
        F.col("N").cast("double")
        * F.col("c_x").cast("double")
        * F.col("c_y").cast("double")
    )
    return (
        bg_counts.filter(F.col("c_xy") >= 5)
        .join(cx, "x")
        .join(cy, "y")
        .crossJoin(F.broadcast(u_tot))
        .crossJoin(F.broadcast(n_tot))
        .select(
            F.concat_ws(" ", "x", "y").alias("bigram"),
            F.col("c_xy"),
            F.round(F.ln(num / den), 9).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "bigram")
        .limit(20)
    )


SQL_X14 = """
WITH d AS (SELECT string_split(text, ' ') AS ts FROM documents
           WHERE len(string_split(text, ' ')) >= 2),
bg AS (
    SELECT unnest(list_transform(range(1, len(ts)),
                  i -> struct_pack(x := ts[i], y := ts[i+1]))) AS b
    FROM d
),
bgc AS (SELECT b.x AS x, b.y AS y, COUNT(*) AS c_xy FROM bg
        WHERE length(b.x) > 0 AND length(b.y) > 0 GROUP BY 1, 2),
uni AS (
    SELECT t, COUNT(*) AS c FROM (
        SELECT unnest(string_split(text, ' ')) AS t FROM documents
    ) WHERE length(t) > 0 GROUP BY 1
),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS U FROM uni),
ntot AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS N FROM bgc)
SELECT x || ' ' || y AS bigram,
       c_xy,
       ROUND(ln((CAST(c_xy AS DOUBLE) * CAST(U AS DOUBLE) * CAST(U AS DOUBLE))
                / (CAST(N AS DOUBLE) * CAST(cx.c AS DOUBLE)
                   * CAST(cy.c AS DOUBLE))),
             9) AS pmi
FROM bgc
JOIN uni cx ON cx.t = bgc.x
JOIN uni cy ON cy.t = bgc.y
CROSS JOIN tot CROSS JOIN ntot
WHERE c_xy >= 5
ORDER BY pmi DESC, bigram
LIMIT 20
"""


def q_x15_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash fingerprints (SIGMOD'03 / MOSS): polynomial
    k-gram hashes (k=8) over the char stream, window-of-4 minima, distinct
    per doc, exploded into the (doc_id, fp) posting table a plagiarism /
    near-dup index is built from. Complements x4 (whole-doc md5 + min-
    shingle): winnowing guarantees any shared run of ≥ k+w−1 = 11 chars
    yields a shared fingerprint, so it localizes partial overlap.

    Row-shaped on purpose — explode gram start positions, hash each 8-char
    substring with a constant-size JVM fold, take the min over a 4-row
    per-doc window, distinct. See operators/text.py:gram_hash for why the
    "natural" nested-array-lambda form is quadratic under Catalyst (no CSE
    inside lambda bodies). One shuffle (window by doc_id; docs are bounded
    size, so no skew); the DuckDB oracle runs the identical mod-arithmetic
    fold, making the sketch hash-provable rather than trusted. Output is
    ~n/w ints per doc (4-5× compression); downstream posting-table joins
    are the same inverted-index shape as d2/d6.
    """
    docs = load(spark, sf_dir, "documents")
    return text.winnow(docs, "doc_id", "text", k=8, w=4)


SQL_X15 = """
WITH base AS (
    SELECT doc_id, text, length(text) AS n FROM documents
    WHERE length(text) >= 11
),
grams AS (
    SELECT doc_id,
           list_transform(range(1, n - 8 + 2), i ->
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(range(i, i + 8),
                                      j -> CAST(ord(text[j]) AS BIGINT))),
                   (acc, c) -> CAST((acc * 257 + c) % 1000000007 AS BIGINT)))
               AS hs
    FROM base
),
wins AS (
    SELECT doc_id,
           list_distinct(list_transform(range(1, len(hs) - 4 + 2),
                         i -> list_min(list_slice(hs, i, i + 3)))) AS fps
    FROM grams
)
SELECT doc_id, CAST(unnest(fps) AS BIGINT) AS fp FROM wins
"""


def q_x16_doc_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram entropy (nats) — the vocabulary-diversity
    signal quality cascades use alongside x7's repetition ratios: spam
    and template boilerplate sit near 0, natural prose near ln(n_tokens).

    H = ln(n) − (Σ c·ln c)/n from exact integer token counts. ln() is not
    bit-portable across JDK/libm, so each c·ln(c) term is rounded to 9 dp
    and summed as DECIMAL(28,9) — the association-order-proof form of the
    repo's ln-9dp convention (a double Σ would expose partial-agg order) —
    then one deterministic IEEE divide/subtract and a final 9-dp round.

    Plan: one explode → (doc,term) count → per-doc agg; both shuffles
    partial-aggregated, vocabulary side never materialized globally.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.length("term") > 0)
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    term = F.round(
        F.col("c").cast("double") * F.ln(F.col("c").cast("double")), 9
    ).cast("decimal(28,9)")
    agg = tf.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.sum(term).alias("_clnc"),
    )
    n_d = F.col("n_tokens").cast("double")
    return agg.select(
        "doc_id",
        "n_tokens",
        F.round(
            F.ln(n_d) - F.col("_clnc").cast("double") / n_d, 9
        ).alias("entropy_nats"),
    )


SQL_X16 = """
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
    SELECT doc_id, term, COUNT(*) AS c FROM toks
    WHERE length(term) > 0 GROUP BY doc_id, term
), agg AS (
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           SUM(CAST(ROUND(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)), 9)
                    AS DECIMAL(28,9))) AS clnc
    FROM tf GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       ROUND(ln(CAST(n_tokens AS DOUBLE))
             - CAST(clnc AS DOUBLE) / CAST(n_tokens AS DOUBLE), 9)
           AS entropy_nats
FROM agg
"""


_BM25_TERMS = ("join", "filter", "scan")
_BM25_K1 = 1.2
_BM25_B = 0.75


def q_x17_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval: rank the corpus against a fixed 3-term
    query — the lexical-retrieval baseline every RAG / data-curation
    stack keeps next to its ANN index (v1/v2 are the dense twins).

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    idf(t) = ln(1 + (N−df+0.5)/(df+0.5)), k1=1.2, b=0.75.

    Exactness: every count (tf, df, dl, N, Σdl) is an exact BIGINT from
    linear explode→groupBy passes; avgdl and each factor divide those
    exact values through the SAME IEEE expression tree on both engines.
    ln() is rounded to 9 dp (the x14 convention — JDK Math.log and libm
    can differ by 1 ulp), and the per-term partial scores are summed as
    9-dp DECIMAL so document totals are association-proof before the
    final (score, doc_id) ranking.

    Plan shape: tf is computed ONCE and reused for doc length (Σ tf per
    doc) and for the query-term df (tf filtered to the 3 query terms —
    df never materializes the full vocabulary). The corpus constants
    (N, avgdl) and the ≤3-row df table ride as broadcasts, so the only
    wide shuffle carries per-(doc,term) counts — linear in corpus
    tokens at any scale.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.length("term") > 0)
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    doc_len = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    corpus = docs.agg(F.count("*").alias("n_docs")).crossJoin(
        doc_len.agg(F.sum("dl").alias("total_tokens"))
    )
    tf_q = tf.filter(F.col("term").isin(*_BM25_TERMS))
    df_t = tf_q.groupBy("term").agg(F.count("*").alias("df"))
    nd = F.col("n_docs").cast("double")
    avgdl = F.col("total_tokens").cast("double") / nd
    idf = F.ln(
        F.lit(1.0)
        + (nd - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    tf_part = (tfd * F.lit(_BM25_K1 + 1.0)) / (
        tfd
        + F.lit(_BM25_K1)
        * (F.lit(1.0 - _BM25_B) + F.lit(_BM25_B) * (dld / avgdl))
    )
    scored = (
        tf_q.join(F.broadcast(df_t), "term")
        .join(doc_len, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            F.round(idf * tf_part, 9).cast("decimal(28,9)").alias("s"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("s").cast("double").alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


SQL_X17 = f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), toks_f AS (
    SELECT doc_id, term FROM toks WHERE length(term) > 0
), tf AS (
    SELECT doc_id, term, COUNT(*) AS tf FROM toks_f GROUP BY doc_id, term
), doc_len AS (
    SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id
), corpus AS (
    SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
           (SELECT SUM(dl) FROM doc_len) AS total_tokens
), tf_q AS (
    SELECT * FROM tf WHERE term IN ('join', 'filter', 'scan')
), df_t AS (
    SELECT term, COUNT(*) AS df FROM tf_q GROUP BY term
), scored AS (
    SELECT t.doc_id,
           CAST(ROUND(
               LN(1.0 + (CAST(c.n_docs AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5)
                        / (CAST(f.df AS DOUBLE) + 0.5))
               * ((CAST(t.tf AS DOUBLE) * {_BM25_K1 + 1.0})
                  / (CAST(t.tf AS DOUBLE)
                     + {_BM25_K1} * ({1.0 - _BM25_B} + {_BM25_B}
                        * (CAST(d.dl AS DOUBLE)
                           / (CAST(c.total_tokens AS DOUBLE)
                              / CAST(c.n_docs AS DOUBLE)))))),
               9) AS DECIMAL(28,9)) AS s
    FROM tf_q t
    JOIN df_t f ON t.term = f.term
    JOIN doc_len d ON t.doc_id = d.doc_id
    CROSS JOIN corpus c
)
SELECT doc_id, CAST(SUM(s) AS DOUBLE) AS bm25
FROM scored GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT 20
"""


def q_x18_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level term association rules — support, confidence, and
    lift for term pairs, the market-basket analysis applied to a corpus
    (x14's PMI measures ADJACENT bigrams; this measures co-presence
    anywhere in the document).

    Pair support comes from a per-document self-join of the DISTINCT
    (doc, term) set under ``t1 < t2`` — exact BIGINT counts; candidate
    pairs are bounded by (per-doc distinct terms)², which a 31-word
    vocabulary keeps trivial and an open-vocabulary corpus bounds by
    restricting to the top-V frequency terms first (the x5 table) —
    the standard Apriori-style vocabulary cap. Confidence divides two
    exact counts once; lift multiplies count-derived DOUBLES (the
    integer product c_xy·N would overflow BIGINT on a large corpus —
    Spark wraps while DuckDB raises, the x14 lesson) and rounds to 9 dp
    before ranking. Support filter c_xy ≥ 25 (5% of the corpus);
    top-20 by (lift, t1, t2) — a deterministic total order.
    """
    docs = load(spark, sf_dir, "documents")
    dt = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
        )
        .filter(F.length("term") > 0)
        .distinct()
    )
    c_t = dt.groupBy("term").agg(F.count("*").alias("c"))
    a = dt.select("doc_id", F.col("term").alias("t1"))
    b = dt.select(F.col("doc_id").alias("doc_id_b"), F.col("term").alias("t2"))
    pairs = (
        a.join(
            b,
            (a["doc_id"] == b["doc_id_b"]) & (a["t1"] < b["t2"]),
        )
        .groupBy("t1", "t2")
        .agg(F.count("*").alias("c_xy"))
        .filter(F.col("c_xy") >= 25)
    )
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    cx = c_t.select(F.col("term").alias("t1"), F.col("c").alias("c_x"))
    cy = c_t.select(F.col("term").alias("t2"), F.col("c").alias("c_y"))
    lift = F.round(
        (F.col("c_xy").cast("double") * F.col("n_docs").cast("double"))
        / (F.col("c_x").cast("double") * F.col("c_y").cast("double")),
        9,
    )
    return (
        pairs.join(F.broadcast(cx), "t1")
        .join(F.broadcast(cy), "t2")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "t1",
            "t2",
            "c_xy",
            (F.col("c_xy").cast("double") / F.col("c_x").cast("double"))
            .alias("confidence"),
            lift.alias("lift"),
        )
        .orderBy(F.desc("lift"), "t1", "t2")
        .limit(20)
    )


SQL_X18 = """
WITH dt AS (
    SELECT DISTINCT doc_id, term FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ) WHERE length(term) > 0
), c_t AS (
    SELECT term, COUNT(*) AS c FROM dt GROUP BY term
), pairs AS (
    SELECT a.term AS t1, b.term AS t2, COUNT(*) AS c_xy
    FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
    GROUP BY 1, 2
    HAVING COUNT(*) >= 25
)
SELECT p.t1, p.t2, p.c_xy,
       CAST(p.c_xy AS DOUBLE) / CAST(cx.c AS DOUBLE) AS confidence,
       ROUND((CAST(p.c_xy AS DOUBLE)
              * CAST((SELECT COUNT(*) FROM documents) AS DOUBLE))
             / (CAST(cx.c AS DOUBLE) * CAST(cy.c AS DOUBLE)), 9) AS lift
FROM pairs p
JOIN c_t cx ON p.t1 = cx.term
JOIN c_t cy ON p.t2 = cy.term
ORDER BY lift DESC, t1, t2
LIMIT 20
"""


def q_x21_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out bigram LM score with stupid backoff — the stronger
    perplexity-filter proxy next to x12's unigram mass: the LM trains on
    80% of the corpus (doc_id % 5 != 0, the ml7 split) and scores the
    held-out 20%, so unseen bigrams genuinely occur and fall to the
    backoff path. (Training on the scored corpus itself would make the
    backoff arm unreachable — every scored bigram would have trained
    count ≥ 1.) score = mean over a doc's bigram slots of ln P̂, with
    P̂(y|x) = c_xy/c_x when the bigram was seen in training, else
    0.4·c_y/U (Brants et al.'s stupid backoff — no normalization, which
    is what makes it a pure join-and-arithmetic plan). Slots whose x or
    y is OOV from the train vocabulary are dropped (the inner unigram
    joins; same convention as ml7's token handling), and n_hits/n_slots
    reports each doc's seen-bigram fraction.

    Exactness: per-slot ln values are quantized to BIGINT nano-units
    (FLOOR(ln·1e9 + 0.5), the ml7 convention — bit-portable IEEE ops,
    association-order-free integer sums); the final mean is one IEEE
    divide. Plan: the x14 bigram shapes (hoisted token array, linear
    explode→groupBy counts) + per-slot joins against the bigram/unigram
    count tables — vocabulary-sized, so both broadcast; at an open-vocab
    100 TB corpus the bigram join flips to a keyed shuffle, same shape.
    """
    # Train-side tokenize+counts and the
    # held-out scoring joins (vs broadcast tables) otherwise run in the
    # one task a single-file scan yields — repartition the doc table
    # first (no-op at real scale)
    docs = ensure_parallelism(load(spark, sf_dir, "documents"), "doc_id")

    def bigram_slots(src: DataFrame) -> DataFrame:
        with_tk = (
            src.select("doc_id", F.split(F.col("text"), " ").alias("tk"))
            .filter(F.size("tk") >= 2)
            .select(
                "doc_id",
                F.expr(
                    "transform(sequence(0, size(tk) - 2),"
                    " i -> struct(tk[i] AS x, tk[i+1] AS y))"
                ).alias("bg"),
            )
        )
        return with_tk.select(
            "doc_id", F.explode("bg").alias("b")
        ).select("doc_id", "b.x", "b.y")

    train = docs.filter(F.col("doc_id") % 5 != 0)
    slots = bigram_slots(docs.filter(F.col("doc_id") % 5 == 0))
    # ONE positional expansion of the train corpus
    # (x = tk[i], y = try_element_at(tk, i+2), NULL at the last
    # position, ANSI-safe) counted into the vocabulary-sized ``xy``
    # table, checkpointed. Unigram counts are Σ_y xy — every token is
    # the x of exactly one position — and bigram counts are the
    # y-non-null rows, so the train side is tokenized ONCE rather than
    # twice (a uni job + a bg_counts broadcast build, both serial
    # jobs).
    xy = (
        train.select(F.split(F.col("text"), " ").alias("tk"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(tk) - 1),"
                    " i -> struct(tk[i] AS x, try_element_at(tk, i + 2) AS y))"
                )
            ).alias("b")
        )
        .select("b.x", "b.y")
        .groupBy("x", "y")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    uni = (
        xy.filter(F.length("x") > 0)
        .groupBy(F.col("x").alias("t"))
        .agg(F.sum("c").alias("c"))
    )
    u_tot = uni.agg(F.sum("c").cast("bigint").alias("U"))
    bg_counts = xy.filter(F.col("y").isNotNull()).select(
        "x", "y", F.col("c").alias("c_xy")
    )
    cx = uni.select(F.col("t").alias("x"), F.col("c").alias("c_x"))
    cy = uni.select(F.col("t").alias("y"), F.col("c").alias("c_y"))
    p_hat = F.when(
        F.col("c_xy").isNotNull(),
        F.col("c_xy").cast("double") / F.col("c_x").cast("double"),
    ).otherwise(
        F.lit(0.4) * F.col("c_y").cast("double") / F.col("U").cast("double")
    )
    scored = (
        slots.join(F.broadcast(bg_counts), ["x", "y"], "left")
        .join(F.broadcast(cx), "x")
        .join(F.broadcast(cy), "y")
        .crossJoin(F.broadcast(u_tot))
        .select(
            "doc_id",
            F.floor(F.ln(p_hat) * F.lit(1e9) + F.lit(0.5))
            .cast("bigint")
            .alias("ln_nanos"),
            F.when(F.col("c_xy").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("hit"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_slots"),
        F.sum("ln_nanos").cast("bigint").alias("_s"),
        F.sum("hit").cast("bigint").alias("n_hits"),
    )
    return agg.select(
        "doc_id",
        "n_slots",
        "n_hits",
        (
            F.col("_s").cast("double")
            / F.lit(1e9)
            / F.col("n_slots").cast("double")
        ).alias("avg_bigram_logp"),
    )


SQL_X21 = """
WITH tr AS (
    SELECT * FROM documents WHERE doc_id % 5 != 0
), te AS (
    SELECT * FROM documents WHERE doc_id % 5 = 0
), t_te AS (
    SELECT doc_id, string_split(text, ' ') AS tk FROM te
), slots AS (
    SELECT doc_id,
           tk[i + 1] AS x, tk[i + 2] AS y
    FROM t_te, LATERAL unnest(range(0, len(tk) - 1)) AS u(i)
    WHERE len(tk) >= 2
), t_tr AS (
    SELECT doc_id, string_split(text, ' ') AS tk FROM tr
), tr_slots AS (
    SELECT tk[i + 1] AS x, tk[i + 2] AS y
    FROM t_tr, LATERAL unnest(range(0, len(tk) - 1)) AS u(i)
    WHERE len(tk) >= 2
), uni AS (
    SELECT term, COUNT(*) AS c FROM (
        SELECT unnest(string_split(text, ' ')) AS term FROM tr
    ) WHERE length(term) > 0 GROUP BY term
), utot AS (
    SELECT CAST(SUM(c) AS BIGINT) AS U FROM uni
), bgc AS (
    SELECT x, y, COUNT(*) AS c_xy FROM tr_slots GROUP BY x, y
), per_slot AS (
    SELECT s.doc_id,
           CAST(FLOOR(ln(
               CASE WHEN b.c_xy IS NOT NULL
                    THEN CAST(b.c_xy AS DOUBLE) / CAST(cx.c AS DOUBLE)
                    ELSE 0.4 * CAST(cy.c AS DOUBLE) / CAST(u.U AS DOUBLE)
               END) * 1e9 + 0.5) AS BIGINT) AS ln_nanos,
           CASE WHEN b.c_xy IS NOT NULL THEN 1 ELSE 0 END AS hit
    FROM slots s
    LEFT JOIN bgc b ON b.x = s.x AND b.y = s.y
    JOIN uni cx ON cx.term = s.x
    JOIN uni cy ON cy.term = s.y
    CROSS JOIN utot u
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_slots,
       CAST(SUM(hit) AS BIGINT) AS n_hits,
       CAST(SUM(ln_nanos) AS DOUBLE) / 1e9 / CAST(COUNT(*) AS DOUBLE)
           AS avg_bigram_logp
FROM per_slot GROUP BY doc_id
"""


def q_x22_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source rebalancing: sampling probabilities
    p_i ∝ (token share)^α with α = 0.5 — the standard multilingual-LM
    rule (upweight small sources without flattening to uniform), sitting
    between x10's raw shares (α=1) and x11's equal-share solver (α=0).

    α = 0.5 is deliberately expressed as sqrt(), which IEEE-754 requires
    to be correctly rounded — bit-identical across engines — where a
    general pow() carries the same 1-ulp portability risk as ln(). Each
    sqrt is quantized to BIGINT nanos (FLOOR·1e9+0.5) and the
    normalizer is the exact integer sum of those nanos, so p_i is one
    IEEE division of exact integers regardless of partial-agg order.
    The whole computation runs on the |sources|-row aggregate; the only
    real shuffle is the token count.
    """
    docs = load(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.sum(text.token_count(F.col("text"))).cast("bigint").alias("n_tokens")
    )
    tot = src.agg(F.sum("n_tokens").cast("bigint").alias("total"))
    share = F.col("n_tokens").cast("double") / F.col("total").cast("double")
    w_nanos = F.floor(
        F.sqrt(share) * F.lit(1e9) + F.lit(0.5)
    ).cast("bigint")
    scored = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        share.alias("raw_share"),
        w_nanos.alias("_w"),
    )
    norm = scored.agg(F.sum("_w").cast("bigint").alias("_z"))
    p = F.col("_w").cast("double") / F.col("_z").cast("double")
    return scored.crossJoin(F.broadcast(norm)).select(
        "source",
        "n_tokens",
        "raw_share",
        p.alias("p_temp"),
        (p / F.col("raw_share")).alias("boost"),
    )


SQL_X22 = """
WITH src AS (
    SELECT source,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM documents GROUP BY source
), tot AS (
    SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM src
), scored AS (
    SELECT s.source, s.n_tokens,
           CAST(s.n_tokens AS DOUBLE) / CAST(t.total AS DOUBLE) AS raw_share,
           CAST(FLOOR(sqrt(CAST(s.n_tokens AS DOUBLE)
                           / CAST(t.total AS DOUBLE)) * 1e9 + 0.5)
                AS BIGINT) AS w
    FROM src s CROSS JOIN tot t
), norm AS (
    SELECT CAST(SUM(w) AS BIGINT) AS z FROM scored
)
SELECT s.source, s.n_tokens, s.raw_share,
       CAST(s.w AS DOUBLE) / CAST(n.z AS DOUBLE) AS p_temp,
       (CAST(s.w AS DOUBLE) / CAST(n.z AS DOUBLE)) / s.raw_share AS boost
FROM scored s CROSS JOIN norm n
"""


def q_x26_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) over the corpus: split
    each document into candidate phrases at stopword boundaries, score
    words by degree/frequency over all phrase occurrences, score each
    DISTINCT phrase as the sum of its member word scores, and emit the
    top 20 phrases with occurrence counts — the unsupervised
    keyword-table builder for corpus triage.

    Scale shape: phrase splitting is a pure map (stopwords → '§' marker
    inside one array transform, then split — no per-token explode until
    the phrase level); word stats are one token-keyed aggregation; the
    phrase score joins DISTINCT phrases to the word table (vocabulary-
    bounded) and the final top-20 is TakeOrderedAndProject. Exactness:
    word scores quantize as (deg·10⁶) DIV freq — exact integer division
    — so phrase scores are exact BIGINT sums and summation order is
    irrelevant; the /10⁶ display division is the single IEEE op.
    """
    stops = list(text.STOPWORDS)
    docs = load(spark, sf_dir, "documents")
    marked = F.array_join(
        F.transform(
            F.split("text", " "),
            lambda t: F.when(t.isin(*stops), F.lit("§")).otherwise(t),
        ),
        " ",
    )
    phr = (
        docs.select(F.explode(F.split(marked, "§")).alias("p0"))
        .select(F.trim(F.col("p0")).alias("phrase"))
        .filter(F.col("phrase") != "")
    )
    pw = phr.select(
        "phrase",
        F.size(F.split("phrase", " ")).alias("plen"),
        F.explode(F.split("phrase", " ")).alias("w"),
    )
    wscore = (
        pw.groupBy("w")
        .agg(F.count("*").alias("freq"), F.sum("plen").alias("deg"))
        .select("w", F.expr("(deg * 1000000) DIV freq").alias("ppm"))
    )
    pc = phr.groupBy("phrase").agg(F.count("*").alias("n_occurrences"))
    pscore = (
        phr.distinct()
        .select(
            "phrase", F.explode(F.split("phrase", " ")).alias("w")
        )
        .join(wscore, "w")
        .groupBy("phrase")
        .agg(F.sum("ppm").alias("ppm_sum"))
    )
    return (
        pscore.join(pc, "phrase")
        .select(
            "phrase",
            "n_occurrences",
            (F.col("ppm_sum").cast("double") / F.lit(1000000.0)).alias(
                "score"
            ),
        )
        .orderBy(F.desc("score"), F.asc("phrase"))
        .limit(20)
    )


SQL_X26 = f"""
WITH marked AS (
    SELECT array_to_string(
               list_transform(string_split(text, ' '),
                   t -> CASE WHEN t IN {_STOP_SQL}
                             THEN '§' ELSE t END),
               ' ') AS m
    FROM documents
),
phr AS (
    SELECT trim(p0) AS phrase
    FROM (SELECT unnest(string_split(m, '§')) AS p0 FROM marked)
    WHERE trim(p0) <> ''
),
pw AS (
    SELECT phrase, len(string_split(phrase, ' ')) AS plen,
           unnest(string_split(phrase, ' ')) AS w
    FROM phr
),
wscore AS (
    SELECT w, (SUM(plen) * 1000000) // COUNT(*) AS ppm
    FROM pw GROUP BY w
),
pc AS (SELECT phrase, COUNT(*) AS n_occurrences FROM phr GROUP BY phrase),
pd AS (
    SELECT DISTINCT phrase FROM phr
),
ps AS (
    SELECT t.phrase, SUM(ws.ppm) AS ppm_sum
    FROM (SELECT phrase, unnest(string_split(phrase, ' ')) AS w FROM pd) t
    JOIN wscore ws ON ws.w = t.w
    GROUP BY t.phrase
)
SELECT ps.phrase AS phrase, pc.n_occurrences,
       CAST(ppm_sum AS DOUBLE) / 1000000.0 AS score
FROM ps JOIN pc ON ps.phrase = pc.phrase
ORDER BY score DESC, ps.phrase LIMIT 20
"""


def q_x27_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness: the Fano factor (variance/mean over per-document
    counts, zeros included) for every vocabulary term, top-20 burstiest —
    the dispersion diagnostic that separates topical terms (bursty:
    absent from most docs, dense where present) from function-word-like
    terms (Fano ≈ 1, Poisson-scattered). The corpus-curation companion
    to x23's Zipf fit: frequency says HOW OFTEN, burstiness says HOW
    CLUMPED.

    Exactness: with zeros included, Fano = (N·Σc² − (Σc)²) / (N·Σc)
    over exact integer power sums (per-term Σc, Σc² from one
    token-keyed aggregation; N rides a 1-row broadcast) — the division
    is the single IEEE op, identical on both engines, so even the
    DESC ordering tie-breaks deterministically ((fano, term)). Scale
    shape: one explode + one (doc, term) count + one term-keyed
    reduce — vocabulary-bounded output, no windows, no joins beyond
    the broadcast scalar.
    """
    docs = load(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    per = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("term")
        )
        # the empty token from '' text / doubled spaces is not a
        # vocabulary term — every sibling unigram pass filters it
        .filter(F.length("term") > 0)
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("c"))
    )
    stats = per.groupBy("term").agg(
        F.count("*").alias("n_docs_with"),
        F.sum("c").alias("sc"),
        F.sum(F.col("c") * F.col("c")).alias("sc2"),
    )
    return (
        stats.crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            "n_docs_with",
            F.col("sc").alias("total_count"),
            (
                (
                    F.col("n_docs") * F.col("sc2")
                    - F.col("sc") * F.col("sc")
                ).cast("double")
                / (F.col("n_docs") * F.col("sc")).cast("double")
            ).alias("fano"),
        )
        .orderBy(F.desc("fano"), F.asc("term"))
        .limit(20)
    )


SQL_X27 = """
WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
per AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term
    FROM documents
),
c AS (SELECT doc_id, term, COUNT(*) AS c FROM per
      WHERE length(term) > 0 GROUP BY 1, 2),
stats AS (
    SELECT term, COUNT(*) AS n_docs_with, SUM(c) AS sc, SUM(c * c) AS sc2
    FROM c GROUP BY term
)
SELECT term, n_docs_with, CAST(sc AS BIGINT) AS total_count,
       CAST(n.n_docs * sc2 - sc * sc AS DOUBLE)
           / CAST(n.n_docs * sc AS DOUBLE) AS fano
FROM stats, n
ORDER BY fano DESC, term LIMIT 20
"""


def q_x25_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty curve: per document (in doc_id ingestion order),
    the fraction of its distinct word 5-grams NOT seen in any earlier
    document — the dataset-curation signal behind "is the crawl still
    contributing new content or re-treading?" (novelty ~1 early, decays
    as the corpus saturates; a sudden cliff means a duplicated source
    slipped in).

    Plan: per-doc distinct 5-gram arrays stay a PURE MAP (transform over
    split positions + array_distinct — no explode until the grams leave
    the row). The exploded (gram, doc) pairs reduce BOTH ways without
    ever joining on gram (joining the full posting table back on gram
    would re-shuffle the join output by doc): first_doc = min(doc_id) per gram, then n_novel per doc is
    just COUNT(*) of `first` grouped by first_doc (a gram is novel for
    exactly the doc that introduced it), and n_grams per doc is a
    direct count of the posting rows. Two doc-level row sets (~n_docs
    rows each) left-join at the end — AQE broadcasts. Shuffles: posting
    table by gram, posting table by doc, 8-byte first_doc keys — no
    posting-sized join-output shuffle. Documents shorter than 5
    words have no grams and drop on both engines (same predicate);
    zero-novel docs surface via coalesce(n_novel, 0).
    """
    # The 5-gram transform + explode runs below
    # the first exchange — single task on a one-file scan — in BOTH
    # concurrent duplicate subplans; repartition the doc table first
    # (no-op at real scale)
    docs = ensure_parallelism(load(spark, sf_dir, "documents"), "doc_id")
    words = F.split("text", " ")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(words) - 5),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, 5)),
        )
    )
    # Measured NON-change: checkpointing this posting table
    # (it feeds both the novelty and the count aggregates) LOST on the
    # bench (2.45 → 2.53 s A/B'd in one host phase) — the x14 pattern:
    # both consumers sit inside ONE job at local[32], run their copies
    # of the gram explode concurrently, and the eager materialization
    # serializes them. Kept lazy.
    per_doc = (
        docs.filter(F.size(words) >= 5)
        .select("doc_id", F.explode(grams).alias("gram"))
    )
    novel = (
        per_doc.groupBy("gram")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_novel"))
    )
    counts = per_doc.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    return counts.join(novel, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce(F.col("n_novel"), F.lit(0).cast("bigint")).alias(
            "n_novel"
        ),
        (
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("double")
            / F.col("n_grams").cast("double")
        ).alias("novelty_frac"),
    )


SQL_X25 = """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents
    WHERE len(string_split(text, ' ')) >= 5
), per_doc AS (
    SELECT DISTINCT doc_id,
           unnest(list_transform(range(1, len(w) - 5 + 2),
                  i -> array_to_string(array_slice(w, i, i + 4), ' ')))
               AS gram
    FROM toks
), first AS (
    SELECT gram, MIN(doc_id) AS first_doc FROM per_doc GROUP BY gram
)
SELECT p.doc_id,
       COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       CAST(SUM(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS novelty_frac
FROM per_doc p JOIN first f USING (gram)
GROUP BY p.doc_id
"""


def q_m6_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level media dedup profile — d8's chunk-containment idea on
    the MULTIMODAL path: per payload, how many of its sampled frames'
    content hashes also appear in another payload (shared_frac ≈ 1 ⇒
    the video is a re-encode/copy; ≈ 0 ⇒ unique footage). The hashes
    come from the Arrow-batched ``frame_hashes`` pass (the one
    deliberate Python hop), so only 32-char digests shuffle — never
    frame bytes; the rest is two linear keyed aggregations (docs per
    hash, then per-doc shared counts). No pairwise join anywhere, so a
    hot frame (an intro card shared by a million videos) costs its
    posting-list length, not its square.

    Oracle: the fake codec's frames are 16-byte slices every 32 bytes of
    the utf-8 payload, and the corpus is pure ASCII (byte == char), so
    DuckDB reproduces every frame hash with ``md5(substring(text, 32·i
    + 1, 16))`` — the mapInPandas fan-out is hash-provable end to end.
    """
    docs = load(spark, sf_dir, "documents")
    frames = multimodal.frame_hashes(
        multimodal.with_binary_payload(docs), every_n=2
    )
    per = frames.select("doc_id", "frame_md5").distinct()
    docs_per_hash = per.groupBy("frame_md5").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    return (
        per.join(docs_per_hash, "frame_md5")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_frames"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_frames",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / F.col("n_frames").cast("double")
            ).alias("shared_frac"),
        )
    )


SQL_M6 = """
WITH p AS (
    SELECT doc_id, text, length(text) AS blen FROM documents
), f AS (
    SELECT doc_id,
           unnest(range(0, (blen + 31) // 32)) AS i,
           text, blen
    FROM p
), h AS (
    SELECT DISTINCT doc_id,
           md5(substring(text, CAST(32 * i + 1 AS BIGINT),
                         CAST(least(16, blen - 32 * i) AS BIGINT))) AS fh
    FROM f
), dph AS (
    SELECT fh, COUNT(DISTINCT doc_id) AS nd FROM h GROUP BY fh
)
SELECT h.doc_id,
       COUNT(*) AS n_frames,
       CAST(SUM(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_shared,
       CAST(SUM(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS shared_frac
FROM h JOIN dph d USING (fh)
GROUP BY h.doc_id
"""


def q_m7_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut profile per video payload: adjacent sampled frames
    whose content hashes differ mark a cut; the per-payload cut density
    separates static footage (slides, title cards ≈ 0) from dynamic
    footage (≈ 1) — the standard shot-boundary pre-filter before a
    frame-sampling pipeline decides how densely to sample each video.
    m6 asks "are these frames shared ACROSS videos"; this asks "how
    fast do frames change WITHIN one".

    Same Arrow-batched ``frame_hashes`` hop as m2/m6 (only 32-char
    digests leave the task), sampled at every_n=1 so adjacency is
    physical adjacency; the lag window is partitioned per payload
    (bounded by frames-per-video, fully parallel). Oracle: the fake
    codec's frames are 16-byte slices at stride 16 over the ASCII
    payload, so DuckDB reproduces every hash with
    ``md5(substring(text, 16·i+1, 16))`` (the m6 convention).
    """
    docs = load(spark, sf_dir, "documents")
    frames = multimodal.frame_hashes(
        multimodal.with_binary_payload(docs), every_n=1
    )
    w = Window.partitionBy("doc_id").orderBy("frame_no")
    prev = F.lag("frame_md5").over(w)
    per = frames.select("doc_id", "frame_no", "frame_md5").withColumn(
        "is_cut",
        F.when(prev.isNotNull() & (F.col("frame_md5") != prev), 1).otherwise(
            0
        ),
    )
    return per.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_frames"),
        F.sum("is_cut").cast("bigint").alias("n_cuts"),
        F.when(
            F.count("*") > 1,
            F.sum("is_cut").cast("double")
            / (F.count("*") - F.lit(1)).cast("double"),
        ).alias("cut_density"),
    )


SQL_M7 = """
WITH p AS (
    SELECT doc_id, text, length(text) AS blen FROM documents
), f AS (
    SELECT doc_id,
           unnest(range(0, (blen + 15) // 16)) AS i,
           text, blen
    FROM p
), h AS (
    SELECT doc_id, i,
           md5(substring(text, CAST(16 * i + 1 AS BIGINT),
                         CAST(least(16, blen - 16 * i) AS BIGINT))) AS fh
    FROM f
), c AS (
    SELECT doc_id,
           CASE WHEN lag(fh) OVER w IS NOT NULL
                 AND fh != lag(fh) OVER w THEN 1 ELSE 0 END AS ic
    FROM h
    WINDOW w AS (PARTITION BY doc_id ORDER BY i)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_frames,
       CAST(SUM(ic) AS BIGINT) AS n_cuts,
       CASE WHEN COUNT(*) > 1
            THEN CAST(SUM(ic) AS DOUBLE) / CAST(COUNT(*) - 1 AS DOUBLE)
       END AS cut_density
FROM c GROUP BY doc_id
"""


def q_x23_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit: OLS of ln(freq) on ln(rank) over the
    corpus vocabulary — the distribution-health diagnostic that flags a
    machine-generated or template-heavy corpus (natural language sits
    near slope −1; uniform synthetic text flattens toward 0).

    Composes three house patterns: frequency ranks come from the shared
    range-partitioned rank helper (DESC by count via a negated-count
    bucket — no single-task window even on a 10M-type vocabulary); each
    ln() is quantized to 9 dp with the FLOOR(·1e9+0.5) convention
    (engine-divergent ROUND is avoided); the OLS moments are per-term
    doubles built from the SAME quantized inputs on both engines —
    deterministic IEEE products — rounded 9 dp and summed as
    DECIMAL(28,9) per the x16 convention, closing with ml5's
    closed-form slope/intercept/r² arithmetic. One explode→groupBy scan
    plus vocabulary-sized everything else.
    """
    docs = load(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("term"))
        .filter(F.length("term") > 0)
        .groupBy("term")
        .agg(F.count("*").alias("c"))
    )
    from ..operators.scale import distributed_row_number

    ranked = distributed_row_number(
        freq,
        bucket=F.expr("-c DIV 64"),
        order_cols=[F.desc("c"), "term"],
        rn_alias="rank",
    )

    def q9dp(col):
        return F.floor(col * F.lit(1e9) + F.lit(0.5)).cast("bigint").cast(
            "double"
        ) / F.lit(1e9)

    x = q9dp(F.ln(F.col("rank").cast("double")))
    y = q9dp(F.ln(F.col("c").cast("double")))
    pts = ranked.select(
        x.alias("x"),
        y.alias("y"),
    )

    def nsum(col):
        # FLOOR-nano quantization end to end — no ROUND anywhere (Spark
        # and DuckDB disagree at ROUND's half boundaries). |x·y| < 500 so
        # per-term nanos < 5e11; the BIGINT sum holds past 10^7 terms.
        return (
            F.sum(F.floor(col * F.lit(1e9) + F.lit(0.5)).cast("bigint"))
            .cast("double")
            / F.lit(1e9)
        )

    m = pts.agg(
        F.count("*").cast("double").alias("n"),
        nsum(F.col("x")).alias("sx"),
        nsum(F.col("y")).alias("sy"),
        nsum(F.col("x") * F.col("y")).alias("sxy"),
        nsum(F.col("x") * F.col("x")).alias("sxx"),
        nsum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    r_num = n * sxy - sx * sy
    r2 = (r_num * r_num) / ((n * sxx - sx * sx) * (n * syy - sy * sy))
    return m.select(
        n.cast("bigint").alias("vocab_size"),
        slope.alias("zipf_slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    )


SQL_X23 = """
WITH freq AS (
    SELECT term, COUNT(*) AS c FROM (
        SELECT unnest(string_split(text, ' ')) AS term FROM documents
    ) WHERE length(term) > 0 GROUP BY term
), ranked AS (
    SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, term) AS rank FROM freq
), pts AS (
    SELECT CAST(FLOOR(ln(CAST(rank AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)
               / 1e9 AS x,
           CAST(FLOOR(ln(CAST(c AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)
               / 1e9 AS y
    FROM ranked
), m AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(FLOOR(x * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1e9 AS sx,
           CAST(SUM(CAST(FLOOR(y * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1e9 AS sy,
           CAST(SUM(CAST(FLOOR(x * y * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1e9 AS sxy,
           CAST(SUM(CAST(FLOOR(x * x * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1e9 AS sxx,
           CAST(SUM(CAST(FLOOR(y * y * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1e9 AS syy
    FROM pts
)
SELECT CAST(n AS BIGINT) AS vocab_size,
       (n * sxy - sx * sy) / (n * sxx - sx * sx) AS zipf_slope,
       (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
           AS intercept,
       ((n * sxy - sx * sy) * (n * sxy - sx * sy))
           / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
FROM m
"""


def q_x30_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit: vocabulary growth V(N) ≈ k·N^β over the corpus
    read in doc_id order — x23's Zipf says how frequency decays across
    the vocabulary; this says how fast NEW vocabulary keeps arriving as
    the corpus grows (β ≈ 0.5 for natural text; a saturated ≈ 0 curve
    flags a closed-vocabulary/templated corpus, and the fit is the
    principled "is more data still buying new tokens" scaling readout).

    One point per document: N_d = tokens to date, V_d = distinct terms
    to date. V_d needs no distinct-over-window: each term contributes 1
    at its FIRST doc (one groupBy min), so both curves are plain
    running sums — computed here as a DUAL range-partitioned cumulative
    sum (the sc5 pattern with two BIGINT accumulators sharing one
    bucketing; exact integer window sums, no serial per-row window over
    the doc axis). The ln points and OLS moments follow x23's
    FLOOR-nano convention end to end; slope IS β, intercept is ln k
    (exp is deliberately not applied — libm exp is not bit-portable).
    """
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("t")
    ).filter(F.length("t") > 0)
    pd_tok = tok.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tok")
    )
    first = tok.groupBy("t").agg(F.min("doc_id").alias("doc_id"))
    nw = first.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_new")
    )
    j = pd_tok.join(nw, "doc_id", "left").select(
        "doc_id",
        "n_tok",
        F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new"),
    )
    keyed = j.withColumn("_b", F.expr("doc_id DIV 256"))
    bsum = keyed.groupBy("_b").agg(
        F.sum("n_tok").alias("_bt"), F.sum("n_new").alias("_bn")
    )
    w_off = W.orderBy("_b").rowsBetween(W.unboundedPreceding, -1)
    offs = bsum.select(
        "_b",
        F.coalesce(F.sum("_bt").over(w_off), F.lit(0)).alias("_ot"),
        F.coalesce(F.sum("_bn").over(w_off), F.lit(0)).alias("_on"),
    )
    w_in = (
        W.partitionBy("_b")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = keyed.join(F.broadcast(offs), "_b").select(
        (F.sum("n_tok").over(w_in) + F.col("_ot"))
        .cast("bigint")
        .alias("nd"),
        (F.sum("n_new").over(w_in) + F.col("_on"))
        .cast("bigint")
        .alias("vd"),
    )

    def q9dp(col):
        return F.floor(col * F.lit(1e9) + F.lit(0.5)).cast("bigint").cast(
            "double"
        ) / F.lit(1e9)

    def nsum(col):
        return (
            F.sum(F.floor(col * F.lit(1e9) + F.lit(0.5)).cast("bigint"))
            .cast("double")
            / F.lit(1e9)
        )

    pts = cum.select(
        q9dp(F.ln(F.col("nd").cast("double"))).alias("x"),
        q9dp(F.ln(F.col("vd").cast("double"))).alias("y"),
    )
    m = pts.agg(
        F.count("*").cast("double").alias("n"),
        nsum(F.col("x")).alias("sx"),
        nsum(F.col("y")).alias("sy"),
        nsum(F.col("x") * F.col("y")).alias("sxy"),
        nsum(F.col("x") * F.col("x")).alias("sxx"),
        nsum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    r_num = n * sxy - sx * sy
    return m.select(
        n.cast("bigint").alias("n_points"),
        slope.alias("heaps_beta"),
        ((sy - slope * sx) / n).alias("ln_k"),
        (
            (r_num * r_num) / ((n * sxx - sx * sx) * (n * syy - sy * sy))
        ).alias("r2"),
    )


SQL_X30 = """
WITH tok AS (
    SELECT doc_id, t FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ) WHERE length(t) > 0
),
pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok FROM tok GROUP BY 1),
fd AS (SELECT t, MIN(doc_id) AS doc_id FROM tok GROUP BY 1),
nw AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_new FROM fd GROUP BY 1),
j AS (
    SELECT pd.doc_id, pd.n_tok,
           CAST(COALESCE(nw.n_new, 0) AS BIGINT) AS n_new
    FROM pd LEFT JOIN nw USING (doc_id)
),
c AS (
    SELECT CAST(SUM(n_tok) OVER w AS BIGINT) AS nd,
           CAST(SUM(n_new) OVER w AS BIGINT) AS vd
    FROM j WINDOW w AS (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
),
pts AS (
    SELECT CAST(FLOOR(ln(CAST(nd AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)
               / 1e9 AS x,
           CAST(FLOOR(ln(CAST(vd AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)
               / 1e9 AS y
    FROM c
),
m AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(FLOOR(x * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1e9 AS sx,
           CAST(SUM(CAST(FLOOR(y * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1e9 AS sy,
           CAST(SUM(CAST(FLOOR(x * y * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1e9 AS sxy,
           CAST(SUM(CAST(FLOOR(x * x * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1e9 AS sxx,
           CAST(SUM(CAST(FLOOR(y * y * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1e9 AS syy
    FROM pts
)
SELECT CAST(n AS BIGINT) AS n_points,
       (n * sxy - sx * sy) / (n * sxx - sx * sx) AS heaps_beta,
       (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n AS ln_k,
       ((n * sxy - sx * sy) * (n * sxy - sx * sy))
           / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
FROM m
"""


def q_x20_chunk_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window context chunking: split every document into
    overlapping 32-token chunks on a 24-token stride — the chunking pass
    a RAG index or a fixed-context training build runs before embedding/
    packing (overlap preserves cross-boundary semantics; d8 hashes
    non-overlapping strides for dedup, this emits the actual chunk TEXT).

    Pure per-row array math — ``sequence`` for the stride starts,
    ``slice`` + ``array_join`` per chunk, one ``explode`` — so the plan
    is a single map over the scan with no shuffle at all; at 100 TB the
    fan-out (~n/stride chunks per doc) streams through whole-stage
    codegen and the output is written partition-parallel. Chunk ids are
    (doc_id, start) — deterministic, no global sequence needed.

    A non-initial chunk at start s contributes new tokens only when the
    doc extends past s + overlap (overlap = size − stride = 8), so the
    start bound is n − overlap − 1: without it, docs with
    (n−1) mod stride ≤ overlap−1 emit a trailing chunk that is entirely
    contained in its predecessor — a pure-duplicate row a RAG index
    would embed and store twice.
    """
    size, stride = 32, 24
    overlap = size - stride
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size(toks) - (overlap + 1), F.lit(0)),
        F.lit(stride),
    )
    exploded = docs.select(
        "doc_id", toks.alias("_t"), F.explode(starts).alias("start")
    )
    chunk = F.slice(F.col("_t"), F.col("start") + 1, size)
    return exploded.select(
        "doc_id",
        F.col("start").cast("int").alias("start"),
        F.size(chunk).cast("int").alias("chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


SQL_X20 = """
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), s AS (
    SELECT doc_id, toks,
           unnest(range(0, greatest(len(toks) - 9, 0) + 1, 24)) AS start
    FROM t
)
SELECT doc_id,
       CAST(start AS INT) AS start,
       CAST(len(list_slice(toks, start + 1, start + 32)) AS INT)
           AS chunk_tokens,
       array_to_string(list_slice(toks, start + 1, start + 32), ' ')
           AS chunk_text
FROM s
"""


def q_ml7_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier, trained and scored
    entirely in-plan — the lightweight model-assisted-curation loop:
    train on 80% of the corpus (doc_id % 5 != 0), Laplace-smoothed
    token likelihoods per class, score the held-out 20% and emit
    (true, predicted) per test doc. x19 evaluates a fixed heuristic;
    this one LEARNS from the same corpus it labels.

    Exactness: ln() is not bit-portable (JDK vs libm, 1 ulp), and even
    ROUND(double, 9) itself is engine-divergent at half boundaries —
    Spark rounds the shortest decimal STRING repr (BigDecimal.valueOf)
    while DuckDB rounds the binary value, and the 'en' class prior here
    actually hit that boundary. So log-likelihoods are quantized to
    integer NANO-units instead: FLOOR(ln(·)·1e9 + 0.5) — multiply, add,
    floor are pure IEEE ops that give bit-identical results on both
    engines. Scores are then Σ tf·like_nanos + prior_nanos in exact
    BIGINT arithmetic (association-order-free; |score| < 2^63 for any
    doc under ~10^8 tokens), divided by 1e9 only for display. Argmax
    tie-breaks (score DESC, lang ASC) via row_number. OOV test tokens
    are dropped (standard NB practice) by the inner join against the
    train vocabulary; a doc whose EVERY token is OOV still gets a row —
    its likelihood sum coalesces to 0 and the class prior decides.

    Scale: the likelihood grid is |vocab|×|classes| rows — broadcast —
    so scoring is one explode → broadcast join → per-doc aggregate;
    train-side counting is two linear explode→groupBy passes. Nothing
    quadratic, no driver round-trips; at 100 TB the grid for a 1M-type
    vocabulary × 100 classes is ~100M rows — then the broadcast becomes
    a shuffle join on `term`, same plan shape.
    """
    docs = load(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 5 != 0)
    test = docs.filter(F.col("doc_id") % 5 == 0)

    tr_toks = train.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.length("term") > 0)
    # class priors: ln(n_c / N), one tiny aggregate
    cls = train.groupBy("lang").agg(F.count("*").alias("n_c"))
    n_total = train.agg(F.count("*").alias("N"))
    prior = cls.crossJoin(F.broadcast(n_total)).select(
        "lang",
        F.floor(
            F.ln(F.col("n_c").cast("double") / F.col("N").cast("double"))
            * F.lit(1e9)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("prior_nanos"),
    )
    # Laplace-smoothed likelihood over the full vocab × class grid
    tc = tr_toks.groupBy("lang", "term").agg(F.count("*").alias("c_tc"))
    per_cls = tr_toks.groupBy("lang").agg(F.count("*").alias("tok_c"))
    vocab = tr_toks.select("term").distinct()
    v_size = vocab.agg(F.count("*").alias("V"))
    grid = (
        vocab.crossJoin(F.broadcast(cls.select("lang")))
        .join(tc, ["lang", "term"], "left")
        .join(per_cls, "lang")
        .crossJoin(F.broadcast(v_size))
        .select(
            "lang",
            "term",
            F.floor(
                F.ln(
                    (F.coalesce(F.col("c_tc"), F.lit(0)) + F.lit(1)).cast(
                        "double"
                    )
                    / (F.col("tok_c") + F.col("V")).cast("double")
                )
                * F.lit(1e9)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("like_nanos"),
        )
    )
    te_tf = (
        test.select(
            "doc_id",
            F.col("lang").alias("true_lang"),
            F.explode(F.split(F.col("text"), " ")).alias("term"),
        )
        .filter(F.length("term") > 0)
        .groupBy("doc_id", "true_lang", "term")
        .agg(F.count("*").alias("tf"))
    )
    ll = (
        te_tf.join(F.broadcast(grid), "term")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(F.col("tf") * F.col("like_nanos"))
            .cast("bigint")
            .alias("_ll")
        )
    )
    # every (test doc × class) gets a row even when ALL the doc's tokens
    # are OOV — the likelihood sum coalesces to 0 and the prior decides,
    # which is the actual NB semantics (an inner join here would silently
    # drop all-OOV docs from the evaluation and overstate accuracy)
    scored = (
        test.select("doc_id", F.col("lang").alias("true_lang"))
        .crossJoin(F.broadcast(prior))
        .join(ll, ["doc_id", "lang"], "left")
        .select(
            "doc_id",
            "true_lang",
            "lang",
            (F.coalesce(F.col("_ll"), F.lit(0)) + F.col("prior_nanos"))
            .alias("score_nanos"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_nanos"), "lang")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id",
            "true_lang",
            F.col("lang").alias("pred_lang"),
            # exact BIGINT nanos → one deterministic IEEE divide
            (F.col("score_nanos").cast("double") / F.lit(1e9)).alias("score"),
            (F.col("lang") == F.col("true_lang")).alias("correct"),
        )
    )


SQL_ML7 = """
WITH train AS (
    SELECT * FROM documents WHERE doc_id % 5 != 0
), test AS (
    SELECT * FROM documents WHERE doc_id % 5 = 0
), tr_toks AS (
    SELECT lang, unnest(string_split(text, ' ')) AS term FROM train
), tr AS (
    SELECT lang, term FROM tr_toks WHERE length(term) > 0
), cls AS (
    SELECT lang, COUNT(*) AS n_c FROM train GROUP BY lang
), tot AS (
    SELECT COUNT(*) AS N FROM train
), prior AS (
    SELECT lang,
           CAST(FLOOR(ln(CAST(n_c AS DOUBLE) / CAST(N AS DOUBLE)) * 1e9
                      + 0.5) AS BIGINT) AS prior_nanos
    FROM cls, tot
), tc AS (
    SELECT lang, term, COUNT(*) AS c_tc FROM tr GROUP BY lang, term
), per_cls AS (
    SELECT lang, COUNT(*) AS tok_c FROM tr GROUP BY lang
), vocab AS (
    SELECT DISTINCT term FROM tr
), vs AS (
    SELECT COUNT(*) AS V FROM vocab
), grid AS (
    SELECT c.lang, v.term,
           CAST(FLOOR(ln(CAST(COALESCE(t.c_tc, 0) + 1 AS DOUBLE)
                         / CAST(p.tok_c + vs.V AS DOUBLE)) * 1e9
                      + 0.5) AS BIGINT) AS like_nanos
    FROM vocab v
    CROSS JOIN cls c
    LEFT JOIN tc t ON t.lang = c.lang AND t.term = v.term
    JOIN per_cls p ON p.lang = c.lang
    CROSS JOIN vs
), te_tf AS (
    SELECT doc_id, true_lang, term, COUNT(*) AS tf FROM (
        SELECT doc_id, lang AS true_lang,
               unnest(string_split(text, ' ')) AS term
        FROM test
    ) WHERE length(term) > 0 GROUP BY doc_id, true_lang, term
), ll AS (
    SELECT t.doc_id, g.lang,
           CAST(SUM(t.tf * g.like_nanos) AS BIGINT) AS ll
    FROM te_tf t JOIN grid g ON t.term = g.term
    GROUP BY t.doc_id, g.lang
), scored AS (
    SELECT d.doc_id, d.lang AS true_lang, p.lang,
           COALESCE(l.ll, 0) + p.prior_nanos AS score_nanos
    FROM test d
    CROSS JOIN prior p
    LEFT JOIN ll l ON l.doc_id = d.doc_id AND l.lang = p.lang
), ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY score_nanos DESC, lang
    ) AS rk
    FROM scored
)
SELECT doc_id, true_lang, lang AS pred_lang,
       CAST(score_nanos AS DOUBLE) / 1e9 AS score,
       lang = true_lang AS correct
FROM ranked WHERE rk = 1
"""


def q_m5_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-modality plumbing: payloads framed on a 64-sample window /
    32-sample hop with exact integer per-frame energy — the STFT
    windowing pass (operators/multimodal.py:frame_audio), completing the
    media trio next to m2 (video frame sampling) and m4 (image resize).

    Same oracle contract as m1/m4: the fake decode treats bytes as
    samples, DuckDB can only index CHARACTERS, so both engines restrict
    — identically — to ASCII payloads (the whole current corpus).
    """
    docs = load(spark, sf_dir, "documents").filter(
        (F.length("text") > 0)
        & (F.octet_length(F.col("text")) == F.length("text"))
    )
    return multimodal.frame_audio(multimodal.with_binary_payload(docs))


SQL_M5 = """
WITH base AS (
    SELECT doc_id, text, length(text) AS n FROM documents
    WHERE length(text) > 0 AND octet_length(encode(text)) = length(text)
)
SELECT doc_id,
       CAST((s - 1) / 32 AS INT) AS frame_idx,
       CAST(s - 1 AS INT) AS start,
       CAST(64 AS INT) AS n_samples,
       CAST(list_sum(list_transform(range(s, s + 64),
                     j -> CAST(ord(text[j]) AS BIGINT)
                          * CAST(ord(text[j]) AS BIGINT))) AS BIGINT)
           AS energy
FROM base, LATERAL unnest(range(1, n - 64 + 2, 32)) AS u(s)
"""


def q_m8_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-threshold voice-activity detection over m5's audio frames:
    frames louder than the payload's own mean energy are "speech", runs
    of consecutive active frames become segments (the r4 gaps-and-
    islands idiom, per-payload windows), and the per-payload speech
    fraction / segment count / longest segment are exactly the gates an
    audio-curation pipeline filters on (all-silence and all-noise clips
    both die here). Composes m5 (the one Arrow hop) with pure Catalyst
    aggregation — frame energies leave the Python worker once, as
    BIGINTs.

    Exactness: the adaptive threshold comparison is cross-multiplied to
    exact integers (energy·n_frames > Σenergy, never energy > mean-as-
    double), so frame activity — and therefore every downstream count —
    is engine-exact; the speech fraction is the single IEEE division.
    """
    docs = load(spark, sf_dir, "documents").filter(
        (F.length("text") > 0)
        & (F.octet_length(F.col("text")) == F.length("text"))
    )
    frames = multimodal.frame_audio(multimodal.with_binary_payload(docs))
    tot = frames.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_frames"),
        F.sum("energy").cast("bigint").alias("tot_e"),
    )
    act = (
        frames.join(tot, "doc_id")
        .filter(F.col("energy") * F.col("n_frames") > F.col("tot_e"))
        .select("doc_id", "frame_idx")
    )
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    seg = (
        act.withColumn("g", F.col("frame_idx") - F.row_number().over(w))
        .groupBy("doc_id", "g")
        .agg(F.count("*").cast("bigint").alias("seg_len"))
    )
    per = seg.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_segments"),
        F.sum("seg_len").cast("bigint").alias("n_active"),
        F.max("seg_len").cast("bigint").alias("longest_segment"),
    )
    return tot.join(per, "doc_id", "left").select(
        "doc_id",
        "n_frames",
        F.coalesce("n_active", F.lit(0)).cast("bigint").alias("n_active"),
        F.coalesce("n_segments", F.lit(0)).cast("bigint").alias(
            "n_segments"
        ),
        F.coalesce("longest_segment", F.lit(0)).cast("bigint").alias(
            "longest_segment"
        ),
        (
            F.coalesce("n_active", F.lit(0)).cast("double")
            / F.col("n_frames").cast("double")
        ).alias("active_frac"),
    )


SQL_M8 = """
WITH base AS (
    SELECT doc_id, text, length(text) AS n FROM documents
    WHERE length(text) > 0 AND octet_length(encode(text)) = length(text)
),
frames AS (
    SELECT doc_id,
           CAST((s - 1) / 32 AS INT) AS frame_idx,
           CAST(list_sum(list_transform(range(s, s + 64),
                         j -> CAST(ord(text[j]) AS BIGINT)
                              * CAST(ord(text[j]) AS BIGINT))) AS BIGINT)
               AS energy
    FROM base, LATERAL unnest(range(1, n - 64 + 2, 32)) AS u(s)
),
tot AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(energy) AS BIGINT) AS tot_e
    FROM frames GROUP BY 1
),
act AS (
    SELECT f.doc_id, f.frame_idx,
           f.frame_idx - ROW_NUMBER() OVER (PARTITION BY f.doc_id
                                            ORDER BY f.frame_idx) AS g
    FROM frames f JOIN tot USING (doc_id)
    WHERE f.energy * tot.n_frames > tot.tot_e
),
seg AS (
    SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS seg_len
    FROM act GROUP BY 1, 2
),
per AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(seg_len) AS BIGINT) AS n_active,
           CAST(MAX(seg_len) AS BIGINT) AS longest_segment
    FROM seg GROUP BY 1
)
SELECT t.doc_id, t.n_frames,
       CAST(COALESCE(p.n_active, 0) AS BIGINT) AS n_active,
       CAST(COALESCE(p.n_segments, 0) AS BIGINT) AS n_segments,
       CAST(COALESCE(p.longest_segment, 0) AS BIGINT) AS longest_segment,
       CAST(COALESCE(p.n_active, 0) AS DOUBLE)
           / CAST(t.n_frames AS DOUBLE) AS active_frac
FROM tot t LEFT JOIN per p USING (doc_id)
"""


def q_x28_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence from the corpus unigram distribution —
    the information-theoretic "how far does each source's language
    drift from the blend" readout behind mixture rebalancing (q5's PSI
    bins sources by a single feature; this compares whole vocabulary
    distributions). KL(pₛ‖p_c) = Σₜ (c_st/nₛ)·ln((c_st·N)/(nₛ·c_t));
    every term a source emits exists in the corpus, so no zero-support
    guard is needed.

    Exactness: the x21/ml7 convention — each ln of an exact-integer
    ratio (formed in doubles, deterministic IEEE) is quantized to
    BIGINT nano-units, weighted by the exact integer count c_st, and
    summed as BIGINT (association-order-free); the only engine-shared
    IEEE ops are the ratio products and two final divisions. Plan: one
    token explode → (source, term) counts; term-keyed join against the
    vocabulary-sized corpus table (broadcast here, keyed shuffle at
    open-vocabulary scale); 1-row and |sources|-row broadcasts.
    """
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split("text", " ")).alias("t")
    ).filter(F.length("t") > 0)
    sc = tok.groupBy("source", "t").agg(
        F.count("*").cast("bigint").alias("c_st")
    )
    stot = sc.groupBy("source").agg(
        F.sum("c_st").cast("bigint").alias("n_s")
    )
    cc = sc.groupBy("t").agg(F.sum("c_st").cast("bigint").alias("c_t"))
    ctot = cc.agg(F.sum("c_t").cast("bigint").alias("N"))
    ratio = (
        F.col("c_st").cast("double") * F.col("N").cast("double")
    ) / (F.col("n_s").cast("double") * F.col("c_t").cast("double"))
    per_term = (
        sc.join(F.broadcast(cc), "t")
        .join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(ctot))
        .select(
            "source",
            "n_s",
            (
                F.col("c_st")
                * F.floor(F.ln(ratio) * F.lit(1e9) + F.lit(0.5)).cast(
                    "bigint"
                )
            ).cast("bigint").alias("w"),
        )
    )
    return per_term.groupBy("source").agg(
        F.max("n_s").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_terms"),
        (
            F.sum("w").cast("bigint").cast("double")
            / F.lit(1e9)
            / F.max("n_s").cast("double")
        ).alias("kl_nats"),
    )


SQL_X28 = """
WITH tok AS (
    SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
),
sc AS (
    SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c_st
    FROM tok WHERE length(t) > 0 GROUP BY 1, 2
),
stot AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s FROM sc GROUP BY 1),
cc AS (SELECT t, CAST(SUM(c_st) AS BIGINT) AS c_t FROM sc GROUP BY 1),
ctot AS (SELECT CAST(SUM(c_t) AS BIGINT) AS N FROM cc),
per_term AS (
    SELECT sc.source, stot.n_s,
           CAST(sc.c_st * CAST(FLOOR(ln(
               (CAST(sc.c_st AS DOUBLE) * CAST(ctot.N AS DOUBLE))
               / (CAST(stot.n_s AS DOUBLE) * CAST(cc.c_t AS DOUBLE))
           ) * 1e9 + 0.5) AS BIGINT) AS BIGINT) AS w
    FROM sc JOIN cc USING (t) JOIN stot USING (source) CROSS JOIN ctot
)
SELECT source,
       MAX(n_s) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST(CAST(SUM(w) AS BIGINT) AS DOUBLE) / 1e9
           / CAST(MAX(n_s) AS DOUBLE) AS kl_nats
FROM per_term GROUP BY 1
"""


def q_x29_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus's own
    top-50 vocabulary — the filter signal "how much of this doc is rare
    tokens" that training-data pipelines threshold on before tokenizer
    runs (x12 scores against unigram probabilities; this is the blunt
    set-membership variant a fixed production vocab uses).

    The vocabulary (top-50 terms by count, ties broken on the term) is
    a deliberately tiny broadcast array — per-token membership is an
    in-codegen array_contains, no join fan-out, and the per-doc counts
    are exact integers with one guarded IEEE division. At a real
    tokenizer-sized vocab (~10⁵) the same plan holds (a ~1 MB broadcast);
    past that the membership flips to a token-keyed anti-join.
    """
    docs = load(spark, sf_dir, "documents")
    cnt = (
        docs.select(F.explode(F.split("text", " ")).alias("t"))
        .filter(F.length("t") > 0)
        .groupBy("t")
        .agg(F.count("*").alias("c"))
    )
    vocab = (
        cnt.orderBy(F.desc("c"), F.asc("t"))
        .limit(50)
        .agg(F.collect_list("t").alias("v"))
    )
    d = docs.select("doc_id", F.split("text", " ").alias("tk"))
    return d.crossJoin(F.broadcast(vocab)).selectExpr(
        "doc_id",
        "CAST(size(filter(tk, x -> length(x) > 0)) AS BIGINT) AS n_tokens",
        "CAST(size(filter(tk, x -> length(x) > 0 AND NOT array_contains(v, x)))"
        " AS BIGINT) AS n_oov",
        """CASE WHEN size(filter(tk, x -> length(x) > 0)) > 0
                THEN CAST(size(filter(tk, x -> length(x) > 0
                                          AND NOT array_contains(v, x))) AS DOUBLE)
                     / CAST(size(filter(tk, x -> length(x) > 0)) AS DOUBLE)
           END AS oov_rate""",
    )


SQL_X29 = """
WITH cnt AS (
    SELECT t, COUNT(*) AS c FROM (
        SELECT unnest(string_split(text, ' ')) AS t FROM documents
    ) WHERE length(t) > 0 GROUP BY t
),
v AS (
    SELECT list(t) AS vocab FROM (
        SELECT t FROM cnt ORDER BY c DESC, t LIMIT 50
    )
),
d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
SELECT doc_id,
       CAST(len(list_filter(tk, x -> length(x) > 0)) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(tk, x -> length(x) > 0
                                AND NOT list_contains(vocab, x)))
            AS BIGINT) AS n_oov,
       CASE WHEN len(list_filter(tk, x -> length(x) > 0)) > 0
            THEN CAST(len(list_filter(tk, x -> length(x) > 0
                                         AND NOT list_contains(vocab, x)))
                      AS DOUBLE)
                 / CAST(len(list_filter(tk, x -> length(x) > 0)) AS DOUBLE)
       END AS oov_rate
FROM d CROSS JOIN v
"""


QUERIES: list[Query] = [
    Query("m7_scene_cuts", q_m7_scene_cuts, SQL_M7,
          "per-video scene-cut density (adjacent frame-hash changes)"),
    Query("x31_tokenizer_fertility", q_x31_tokenizer_fertility, SQL_X31,
          "per-language tokenizer fertility (multilingual cost fairness)"),
    Query("m8_vad_segments", q_m8_vad_segments, SQL_M8,
          "energy-threshold VAD segments over audio frames (islands)"),
    Query("x30_heaps_fit", q_x30_heaps_fit, SQL_X30,
          "Heaps'-law vocabulary-growth fit (dual distributed running sum)"),
    Query("x28_kl_divergence", q_x28_kl_divergence, SQL_X28,
          "per-source KL divergence from the corpus unigram mix"),
    Query("x29_oov_rate", q_x29_oov_rate, SQL_X29,
          "per-doc out-of-vocabulary rate vs the top-50 corpus vocab"),
    Query("x1_token_count", q_x1_token_count, SQL_X1, "token counting"),
    Query("x20_chunk_split", q_x20_chunk_split, SQL_X20,
          "overlapping sliding-window context chunking (RAG/packing prep)"),
    Query("x21_bigram_score", q_x21_bigram_score, SQL_X21,
          "bigram LM quality score with stupid backoff"),
    Query("x26_rake_keywords", q_x26_rake_keywords, SQL_X26,
          "RAKE keyword extraction (stopword-boundary phrases, deg/freq)"),
    Query("x27_burstiness", q_x27_burstiness, SQL_X27,
          "term burstiness / Fano dispersion top-20 (exact power sums)"),
    Query("x25_ngram_novelty", q_x25_ngram_novelty, SQL_X25,
          "per-doc first-seen 5-gram novelty fraction (corpus saturation curve)"),
    Query("x23_zipf_fit", q_x23_zipf_fit, SQL_X23,
          "Zipf rank-frequency OLS fit (corpus distribution health)"),
    Query("x22_temperature_mix", q_x22_temperature_mix, SQL_X22,
          "temperature-based source rebalancing (alpha=0.5 via sqrt)"),
    Query("ml7_naive_bayes", q_ml7_naive_bayes, SQL_ML7,
          "in-plan multinomial Naive Bayes language classifier"),
    Query("x17_bm25", q_x17_bm25, SQL_X17,
          "BM25 lexical retrieval (fixed 3-term query)"),
    Query("x18_cooccurrence", q_x18_cooccurrence, SQL_X18,
          "term-pair association rules (support/confidence/lift)"),
    Query("x19_lang_confusion", q_x19_lang_confusion, SQL_X19,
          "language-ID confusion matrix (classifier evaluation)"),
    Query("x14_pmi_collocations", q_x14_pmi_collocations, SQL_X14,
          "PMI bigram collocation mining"),
    Query("x13_token_budget", q_x13_token_budget, SQL_X13,
          "context-length budgeting (subword estimate)"),
    Query("x6_tfidf", q_x6_tfidf, SQL_X6, "TF-IDF keyword extraction"),
    Query("x5_top_terms", q_x5_top_terms, SQL_X5, "corpus term frequency top-k"),
    Query("x2_quality", q_x2_quality, SQL_X2, "quality scoring"),
    Query("x3_lang_guess", q_x3_lang_guess, SQL_X3, "language-ID heuristic"),
    Query("x4_fingerprint", q_x4_fingerprint, SQL_X4, "document fingerprinting"),
    Query("x7_repetition", q_x7_repetition, SQL_X7,
          "Gopher-style repetition quality signals"),
    Query("x8_pii_scrub", q_x8_pii_scrub, SQL_X8, "PII email redaction"),
    Query("x9_quality_cascade", q_x9_quality_cascade, SQL_X9,
          "composite keep/drop filter with reason bitmask"),
    Query("x10_source_mix", q_x10_source_mix, SQL_X10,
          "corpus composition / data-mixing report"),
    Query("x11_mixing_weights", q_x11_mixing_weights, SQL_X11,
          "data-mixing weight solver (equalize source token shares)"),
    Query("x12_unigram_score", q_x12_unigram_score, SQL_X12,
          "unigram LM familiarity score (perplexity-filter proxy)"),
    Query("x15_winnowing", q_x15_winnowing, SQL_X15,
          "winnowing rolling-hash fingerprints (MOSS sketch)"),
    Query("x16_doc_entropy", q_x16_doc_entropy, SQL_X16,
          "per-doc unigram entropy (vocabulary-diversity signal)"),
    Query("m1_multimodal_features", q_m1_multimodal_features, SQL_M1, "binary payload features (mapInPandas)"),
    Query("m2_frame_sampling", q_m2_frame_sampling, SQL_M2, "frame-sample fan-out (mapInPandas)"),
    Query("m3_label_centroids", q_m3_label_centroids, SQL_M3, "grouped centroids (applyInPandas)"),
    Query("m4_resize", q_m4_resize, SQL_M4,
          "image-resize plumbing (mapInPandas, deterministic fake codec)"),
    Query("m6_frame_dedup", q_m6_frame_dedup, SQL_M6,
          "frame-hash media dedup profile (mapInPandas digests, linear joins)"),
    Query("m5_audio_frames", q_m5_audio_frames, SQL_M5,
          "audio framing with per-frame energy (mapInPandas fan-out)"),
]
