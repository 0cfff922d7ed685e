"""Deduplication plans: exact, n-gram Jaccard, MinHash+LSH, SimHash
(SURVEY §7.4). The corpus here has no planted near-duplicates (verified:
max bigram Jaccard ≈ 0.12), so thresholds are calibrated per family to keep
results non-empty while exercising the full pipeline."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup
from .base import Query, load


def q_d1_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on full text (hash groupBy, min-id representative)."""
    return dedup.exact_dedup(load(spark, sf_dir, "documents"), ["text"])


SQL_D1 = "SELECT text, CAST(min(doc_id) AS BIGINT) AS doc_id FROM documents GROUP BY text"


def q_d1b_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-level dedup with real collisions: md5 of the 2-token prefix."""
    docs = load(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.md5(F.array_join(F.slice(F.split("text", " "), 1, 2), " ")).alias("prefix_key"),
    )
    return keyed.groupBy("prefix_key").agg(
        F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("group_size")
    )


SQL_D1B = """
SELECT md5(array_to_string(array_slice(string_split(text, ' '), 1, 2), ' '))
           AS prefix_key,
       CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
       COUNT(*) AS group_size
FROM documents
GROUP BY 1
"""


def q_d2_ngram_jaccard(
    spark: SparkSession, sf_dir: str, max_doc: int | None = 120
) -> DataFrame:
    """Pairwise word-bigram Jaccard ≥ 0.05 (shingle-join, no O(n²) cross
    join), over the whole corpus or a bounded id slice.

    The oracle-checked registry entry uses ``max_doc=120``, where
    ``max_df=120`` exercises the hot-shingle document-frequency guard on
    the live path while provably not dropping anything (df can't exceed
    the 120-doc corpus), so the oracle stays the uncapped SQL. Bench calls
    with ``max_doc=None`` to measure the full-corpus cost (there the
    df-cap genuinely prunes hot shingles — the scale behavior).
    """
    docs = load(spark, sf_dir, "documents")
    if max_doc is not None:
        docs = docs.filter(F.col("doc_id") < max_doc)
    return dedup.jaccard_pairs(dedup.shingle_table(docs, n=2), 0.05, max_df=120)


SQL_D2 = """
WITH sh AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - 1, 1) + 1),
               i -> array_to_string(
                   array_slice(string_split(text, ' '), i, i + 1), ' '))) AS sg
    FROM documents WHERE doc_id < 120
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       len(list_intersect(a.sg, b.sg))
           / (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg))) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.sg, b.sg))
          / (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg))) >= 0.05
"""


def d3_shingle_table(
    spark: SparkSession, sf_dir: str, max_doc: int | None = 150
) -> DataFrame:
    """The (doc_id, sh) unigram shingle-set table the d3 pipeline starts
    from — exposed so a caller timing several HASHER variants over one
    corpus (bench.py's md5-vs-xxhash64 pair) can materialize it once and
    pass it through ``q_d3_minhash_lsh(shingles=...)``; the signature
    build downward is the hasher-specific part being priced."""
    docs = load(spark, sf_dir, "documents")
    if max_doc is not None:
        docs = docs.filter(F.col("doc_id") < max_doc)
    return dedup.ensure_parallelism(docs, "doc_id").transform(
        lambda d: dedup.shingle_sets(d, "text", n=1)
    )


def q_d3_minhash_lsh(
    spark: SparkSession,
    sf_dir: str,
    max_doc: int | None = 150,
    hasher: str = "md5",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash(k=12) + LSH(4 bands × 3 rows) candidate pairs, verified at
    unigram Jaccard ≥ 0.7 (unigram space is dense in this corpus, so LSH
    genuinely fires).

    The oracle-checked registry entry bounds the corpus to ``doc_id <
    150`` (the DuckDB twin recomputes the same slice); bench calls with
    ``max_doc=None`` so the recorded dedup number measures the FULL
    corpus, not a slice, and passes a shared materialized ``shingles``
    table (from :func:`d3_shingle_table`) so the md5/xxhash64 variant
    pair prices the hasher, not the shingling twice.
    """
    docs = load(spark, sf_dir, "documents")
    if max_doc is not None:
        docs = docs.filter(F.col("doc_id") < max_doc)
    return dedup.minhash_lsh_dedup_pairs(
        docs,
        n=1,
        k=12,
        rows_per_band=3,
        threshold=0.7,
        hasher=hasher,
        shingles=shingles,
    )


SQL_D3 = """
WITH toks AS (
    SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts
    FROM documents WHERE doc_id < 150
),
sigs AS (
    SELECT doc_id, ts,
           list_transform(range(0, 12),
               i -> list_min(list_transform(ts,
                    t -> md5(CAST(i AS VARCHAR) || '|' || t)))) AS sig
    FROM toks
),
bands AS (
    SELECT doc_id, b.band_no,
           sig[3 * b.band_no + 1] || sig[3 * b.band_no + 2]
               || sig[3 * b.band_no + 3] AS band_sig
    FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS band_no) b
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_no = b.band_no AND a.band_sig = b.band_sig
         AND a.doc_id < b.doc_id
),
jac AS (
    SELECT c.doc_a, c.doc_b,
           len(list_intersect(ta.ts, tb.ts))
               / (len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts)))
               AS jaccard
    FROM cand c
    JOIN toks ta ON ta.doc_id = c.doc_a
    JOIN toks tb ON tb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.7
"""


def q_d14_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-calibration report: for every LSH candidate pair (the d3
    pipeline, doc_id < 150 slice), the MinHash ESTIMATE of Jaccard
    (matching components / k) next to the EXACT Jaccard and the signed
    error — the evaluation layer that tells an operator whether k=12
    components justify the dedup threshold they chose (E[est] = J;
    σ = sqrt(J(1−J)/k) ≈ 0.13 at J=0.7, which is why d3 verifies
    exactly instead of trusting the sketch).

    Both estimate and truth are exact rationals divided once in IEEE
    (match_count/12, |∩|/|∪|), so rows hash identically; the oracle
    recomputes the same md5 signature permutations in DuckDB. Plan adds
    ONE narrow join (signatures are per-doc arrays, zip_with compares
    map-side) to d3's candidate/verify shape.
    """
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    sets_ = dedup.ensure_parallelism(docs, "doc_id").transform(
        lambda d: dedup.shingle_sets(d, "text", n=1)
    )
    sigs = sets_.select(
        "doc_id", dedup._minhash_sig_expr(F.col("sh"), 12, "md5").alias("sig")
    )
    candidates = dedup.lsh_candidate_pairs(
        dedup.lsh_bands(sigs, rows_per_band=3)
    )
    exact = dedup.verify_candidate_jaccard_sets(candidates, sets_, 0.0)
    s_a = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    s_b = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    matches = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda m: m,
        )
    )
    return (
        exact.join(s_a, "doc_a")
        .join(s_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (matches / F.lit(12)).alias("est_jaccard"),
            F.col("jaccard").alias("exact_jaccard"),
            (matches / F.lit(12) - F.col("jaccard")).alias("err"),
        )
    )


SQL_D14 = """
WITH toks AS (
    SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts
    FROM documents WHERE doc_id < 150
),
sigs AS (
    SELECT doc_id, ts,
           list_transform(range(0, 12),
               i -> list_min(list_transform(ts,
                    t -> md5(CAST(i AS VARCHAR) || '|' || t)))) AS sig
    FROM toks
),
bands AS (
    SELECT doc_id, b.band_no,
           sig[3 * b.band_no + 1] || sig[3 * b.band_no + 2]
               || sig[3 * b.band_no + 3] AS band_sig
    FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS band_no) b
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_no = b.band_no AND a.band_sig = b.band_sig
         AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       list_sum(list_transform(range(1, 13),
           i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / 12.0
           AS est_jaccard,
       len(list_intersect(sa.ts, sb.ts))
           / (len(sa.ts) + len(sb.ts) - len(list_intersect(sa.ts, sb.ts)))
           AS exact_jaccard,
       list_sum(list_transform(range(1, 13),
           i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / 12.0
       - len(list_intersect(sa.ts, sb.ts))
           / (len(sa.ts) + len(sb.ts) - len(list_intersect(sa.ts, sb.ts)))
           AS err
FROM cand c
JOIN sigs sa ON sa.doc_id = c.doc_a
JOIN sigs sb ON sb.doc_id = c.doc_b
"""


_D17_THEORY_NANOS = {
    k: int((1.0 - (1.0 - ((k + 0.5) / 10.0) ** 3) ** 4) * 1e9 + 0.5)
    for k in range(10)
}


def q_d17_lsh_s_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH S-curve audit: empirical candidate rate per exact-Jaccard
    decile next to the theoretical 1−(1−s^r)^b at the decile midpoint
    (r=3 rows/band, b=4 bands — d3/d14's parameters). d14 calibrates
    the ESTIMATOR (does MinHash estimate J well?); this calibrates the
    CANDIDATE FILTER (does banding pass/block the pairs the threshold
    says it should?) — the v8-for-LSH tuning readout an operator reads
    before changing r/b. The pair universe is all pairs sharing ≥1
    token on the d14 slice — exactly the universe candidate generation
    can ever see (token-disjoint pairs have J = 0 and no shared
    posting).

    Exactness: empirical numerators/denominators are exact BIGINTs;
    the bucket is floor(J·10) of the identical IEEE quotient on both
    engines; the theory column is PYTHON-computed nano-INTEGER literals
    divided by 1e9 in-engine (the a24 ppm convention — no engine pow(),
    and no bare double literals: DuckDB parses those as DECIMAL, which
    drifts an ulp from Spark's float literal on re-cast).
    """
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    pairs = dedup.jaccard_pairs(dedup.shingle_table(docs, n=1), 0.0)
    sets_ = dedup.ensure_parallelism(docs, "doc_id").transform(
        lambda d: dedup.shingle_sets(d, "text", n=1)
    )
    sigs = sets_.select(
        "doc_id", dedup._minhash_sig_expr(F.col("sh"), 12, "md5").alias("sig")
    )
    cand = dedup.lsh_candidate_pairs(
        dedup.lsh_bands(sigs, rows_per_band=3)
    ).withColumn("is_cand", F.lit(1))
    j = pairs.join(cand, ["doc_a", "doc_b"], "left")
    bucket = F.least(
        F.floor(F.col("jaccard") * F.lit(10)).cast("int"), F.lit(9)
    )
    theory = F.when(
        bucket == 0, F.lit(_D17_THEORY_NANOS[0]).cast("double") / F.lit(1e9)
    )
    for k in range(1, 10):
        theory = theory.when(
            bucket == k,
            F.lit(_D17_THEORY_NANOS[k]).cast("double") / F.lit(1e9),
        )
    return (
        j.withColumn("bucket", bucket)
        .withColumn("theory", theory)
        .groupBy("bucket", "theory")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum(F.coalesce("is_cand", F.lit(0))).cast("bigint").alias(
                "n_candidates"
            ),
            (
                F.sum(F.coalesce("is_cand", F.lit(0))).cast("double")
                / F.count("*").cast("double")
            ).alias("empirical_rate"),
        )
        .select(
            "bucket",
            "n_pairs",
            "n_candidates",
            "empirical_rate",
            F.col("theory").alias("theoretical_rate"),
        )
    )


def _sql_d17() -> str:
    # integer nano literals divided in-engine — bare double literals
    # parse as DECIMAL in DuckDB and drift an ulp from Spark's floats
    theory_case = " ".join(
        f"WHEN {k} THEN CAST({_D17_THEORY_NANOS[k]} AS DOUBLE) / 1e9"
        for k in range(10)
    )
    return f"""
WITH toks AS (
    SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts
    FROM documents WHERE doc_id < 150
),
tok AS (SELECT doc_id, unnest(ts) AS t FROM toks),
sizes AS (SELECT doc_id, len(ts) AS sz FROM toks),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
    FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
jac AS (
    SELECT p.doc_a, p.doc_b,
           p.common / (sa.sz + sb.sz - p.common) AS jaccard
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
),
sigs AS (
    SELECT doc_id,
           list_transform(range(0, 12),
               i -> list_min(list_transform(ts,
                    t -> md5(CAST(i AS VARCHAR) || '|' || t)))) AS sig
    FROM toks
),
bands AS (
    SELECT doc_id, b.band_no,
           sig[3 * b.band_no + 1] || sig[3 * b.band_no + 2]
               || sig[3 * b.band_no + 3] AS band_sig
    FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS band_no) b
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_no = b.band_no AND a.band_sig = b.band_sig
         AND a.doc_id < b.doc_id
),
m AS (
    SELECT LEAST(CAST(FLOOR(j.jaccard * 10) AS INT), 9) AS bucket,
           CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS is_cand
    FROM jac j LEFT JOIN cand c
           ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(is_cand) AS BIGINT) AS n_candidates,
       CAST(SUM(is_cand) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
           AS empirical_rate,
       CASE bucket {theory_case} END AS theoretical_rate
FROM m GROUP BY bucket
"""


def q_d4_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash fingerprints (near-pair search via 15-bit-band
    blocking is exercised both in tests/test_dedup.py and by d4b's
    brute-force SQL oracle in the registry)."""
    return dedup.simhash_fingerprints(load(spark, sf_dir, "documents"))


def _sql_d4() -> str:
    bit_terms = " + ".join(
        "CASE WHEN list_sum(list_transform(hs, "
        f"h -> CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for j in range(60)
    )
    return f"""
WITH toks AS (
    SELECT doc_id,
           list_transform(list_distinct(string_split(text, ' ')),
               t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs
    FROM documents
)
SELECT doc_id, {bit_terms} AS simhash FROM toks
"""


def q_d4b_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3) via 15-bit-band blocking —
    exact recall at this threshold (pigeonhole over 4 bands), verified
    against the oracle's brute-force pair scan."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    return dedup.simhash_near_pairs(dedup.simhash_fingerprints(docs), max_hamming=3)


def _sql_d4b() -> str:
    return f"""
WITH sh AS ({_sql_d4().replace("FROM documents", "FROM documents WHERE doc_id < 150", 1)})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def q_d6_dup_clusters(
    spark: SparkSession, sf_dir: str, prefix_filter: bool = True
) -> DataFrame:
    """Duplicate clusters: unigram-Jaccard ≥ 0.95 edges (prefix-filtered
    inverted-index candidate generation + exact candidate-restricted
    verification, never all-pairs) → connected components (iterative
    min-label propagation, operators/graph.py) → (doc_id, cluster) where
    cluster is the component's min doc_id.

    Scale guards on the edge builder, in order:

    - **prefix filter** (``dedup.prefix_postings`` — PPJoin's prefix
      principle): each doc posts only its ``n - ceil(0.95·n) + 1``
      globally-rarest tokens (~2 of 30 here), and any pair with true
      J ≥ 0.95 provably collides on prefixes (see the operator's
      docstring for the theorem). This subsumes the df-cap idea — a hot
      term rendezvouses only docs where it is locally rarest — but is
      LOSSLESS by construction on every corpus, where an absolute df-cap
      (d2's ``max_df``) silently drops all edges on this corpus (31-term
      vocabulary, every term's df ≈ 390 » any sane cap). Pinned by
      tests/test_dedup.py::test_d6_prefix_filter_is_lossless.
    - **length filter** (LOSSLESS at this threshold): J(A,B) ≤
      min(|A|,|B|)/max(|A|,|B|), so J ≥ 0.95 forces sizes within 5% —
      pruned INSIDE the join condition, before the candidate shuffle.
    - **positional filter** (PPJoin's second filter, LOSSLESS): a shared
      token at prefix ranks (pᵢ, pⱼ) bounds the overlap by
      1 + min(nᵢ−pᵢ, nⱼ−pⱼ); candidates whose bound falls below the
      required ⌈19(nᵢ+nⱼ)/39⌉ never reach verification (cut the sf0.1
      candidate set 2.14M → 1.81M and the verify stage ~43%).
    - **candidate-restricted verification**: exact Jaccard via
      ``verify_candidate_jaccard_sets`` touches only surfaced pairs
      (array_intersect on per-doc full sets) — so found edges carry
      EXACT Jaccard values regardless of what candidate generation
      pruned, and the uncapped DuckDB oracle hash-matches.

    The transitive-closure step after candidate generation is what
    actual dedup pipelines need: A≈B and B≈C must collapse A,B,C into
    one group even when A≉C. Non-SQL-expressible in one query on the
    Spark side (iterative fixpoint); the oracle is DuckDB's recursive
    CTE computing the same unique min-label fixpoint over the FULL
    posting join (the hash gate thus re-proves the prefix filter
    lossless at the driver's SF).
    """
    from ..operators.graph import connected_components

    docs = load(spark, sf_dir, "documents")
    # Two lineage truncations, priced inside the
    # timed query. The shingle-set table feeds the posting builder AND
    # both verification sides (3 corpus re-shingles → 1); the prefix
    # postings (a df-join + per-doc window pipeline, ~2 rows/doc out)
    # feed BOTH sides of the candidate self-join, which lazily re-runs
    # the whole df/window pipeline once per side.
    sets_ = dedup.shingle_sets(
        dedup.ensure_parallelism(docs, "doc_id"), n=1
    ).localCheckpoint(eager=True)
    if prefix_filter:
        tok = dedup.prefix_postings(sets_, 0.95).localCheckpoint(eager=True)
    else:
        tok = sets_.select(
            "doc_id", F.size("sh").alias("n"), F.explode("sh").alias("term")
        )
    pos_cols = (["pos"] if prefix_filter else [])
    a = tok.select(
        F.col("doc_id").alias("i"), F.col("n").alias("ni"),
        *[F.col(c).alias("pi") for c in pos_cols], "term",
    )
    b = tok.select(
        F.col("doc_id").alias("j"), F.col("n").alias("nj"),
        *[F.col(c).alias("pj") for c in pos_cols], "term",
    )
    cond = (
        (a["term"] == b["term"])
        & (F.col("i") < F.col("j"))
        & (
            F.least("ni", "nj").cast("double")
            / F.greatest("ni", "nj").cast("double")
            >= 0.95
        )
    )
    if prefix_filter:
        # positional filter (PPJoin): any shared token bounds the
        # overlap by 1 + min(suffix lengths); J ≥ 19/20 needs
        # |A∩B| ≥ ⌈19(ni+nj)/39⌉ (t/(1+t) in exact integers). Lossless:
        # the order-minimal shared token of a true pair always satisfies
        # the bound (see dedup.prefix_postings docstring), and the pair
        # join generates through EVERY shared prefix token, so pruning a
        # non-minimal generation path never loses the pair. The
        # prefix_filter=False differential baseline stays the naive
        # unpruned join on purpose.
        cond = cond & (
            F.lit(1)
            + F.least(F.col("ni") - F.col("pi"), F.col("nj") - F.col("pj"))
            >= F.expr("(19 * (ni + nj) + 38) DIV 39")
        )
    cand = (
        a.join(b, cond)
        .select(F.col("i").alias("doc_a"), F.col("j").alias("doc_b"))
        .distinct()
    )
    edges = dedup.verify_candidate_jaccard_sets(cand, sets_, 0.95).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    labels = connected_components(
        docs.select("doc_id"), edges, node_col="doc_id"
    )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster")
    )


SQL_D6 = """
WITH RECURSIVE
tok AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
        FROM documents),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
    FROM tok a JOIN tok b ON a.term = b.term AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
edges AS (
    SELECT i, j FROM inter
    JOIN sizes si ON si.doc_id = i
    JOIN sizes sj ON sj.doc_id = j
    WHERE CAST(c AS DOUBLE) / (si.n + sj.n - c) >= 0.95
),
sym AS (SELECT i AS src, j AS dst FROM edges UNION ALL SELECT j, i FROM edges),
cc AS (
    SELECT doc_id AS node, doc_id AS label FROM documents
    UNION
    SELECT s.dst AS node, cc.label FROM cc JOIN sym s ON cc.node = s.src
    WHERE cc.label < s.dst
)
SELECT node AS doc_id, MIN(label) AS cluster FROM cc GROUP BY node
"""


def q_d7_cluster_representatives(
    spark: SparkSession, sf_dir: str, labels: DataFrame | None = None
) -> DataFrame:
    """The keep-list a dedup pipeline actually emits: one representative
    per duplicate cluster (the min-doc_id canonical member, which IS the
    cluster label) with the cluster's member count — downstream training
    jobs read this instead of the full corpus.

    One extra tiny aggregation over d6's (doc_id, cluster) labels; the
    label itself is the representative, so no join back to pick it.

    ``labels``: optionally pass d6's (doc_id, cluster) table already
    materialized (cache/localCheckpoint) so a pipeline running several
    d6-derived outputs pays the connected-components fixpoint ONCE.
    Default None recomputes it, keeping the registry entry standalone.
    """
    if labels is None:
        labels = q_d6_dup_clusters(spark, sf_dir)
    return labels.groupBy(F.col("cluster").alias("representative_doc")).agg(
        F.count("*").alias("cluster_size")
    )


SQL_D7 = SQL_D6.replace(
    "SELECT node AS doc_id, MIN(label) AS cluster FROM cc GROUP BY node",
    """SELECT cluster AS representative_doc, COUNT(*) AS cluster_size
FROM (SELECT node, MIN(label) AS cluster FROM cc GROUP BY node)
GROUP BY cluster""",
)


def q_d8_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-overlap (chunk-level) dedup profile: per document, the
    count and fraction of its strided 8-token chunks whose hash also
    appears in at least one OTHER document.

    This is the span-copy detector whole-document signatures (d3/d4)
    dilute away: a doc that copies one paragraph from another collides on
    exactly the chunks covering the span. No self-join — cost is linear
    in corpus chunks, the 100 TB-safe form.

    Shape: ONE chunk expansion. A freq-join form (ch → groupBy(chunk_h)
    countDistinct, then ch ⨝ freq back on chunk_h) executes the md5
    chunk table TWICE — once per join side — and shuffles every raw
    chunk OCCURRENCE for the join. Aggregating first to (chunk_h, doc_id, c) makes nd a plain
    count(*) window over chunk_h (rows per chunk = distinct docs, the
    exact countDistinct), and the per-doc stats re-weight by c:
    n_chunks = Σc, dup_chunks = Σc·[nd≥2]. One md5 pass, and only the
    deduplicated pair rows cross the exchanges.

    Why a window and not a freq-join on the pair table: column pruning
    rewrites the freq arm's aggregate (drops ``c``), so the two pair
    subtrees are no longer identical and exchange reuse does NOT fire —
    measured: the join form still runs the md5 expansion twice. The
    window's skew exposure is bounded: its partition size is
    distinct-docs-per-chunk (nd), strictly ≤ the occurrence count the
    old join shuffled into one pre-AQE partition for the same hot
    chunk; a corpus with a truly universal 8-token chunk would salt nd
    two-level instead. Locally this is a wash (probed 1.85 → 1.88 s,
    concurrent duplicate subplans — the x14 effect); kept because one
    md5 pass is half the dominant CPU at cluster occupancy, the d3/x21
    argument.
    """
    docs = load(spark, sf_dir, "documents")
    ch = dedup.ensure_parallelism(dedup.chunk_table(docs, n=8, stride=4))
    pairs = ch.groupBy("chunk_h", "doc_id").agg(F.count("*").alias("c"))
    nd = F.count("*").over(Window.partitionBy("chunk_h"))
    return (
        pairs.withColumn("nd", nd)
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("int").alias("n_chunks"),
            F.sum(F.when(F.col("nd") >= 2, F.col("c")).otherwise(0)).cast("int").alias("dup_chunks"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "dup_chunks",
            (F.col("dup_chunks").cast("double") / F.col("n_chunks").cast("double")
             ).alias("dup_chunk_frac"),
        )
    )


SQL_D8 = """
WITH ch AS (
    SELECT doc_id,
           unnest(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - 7, 1) + 1, 4),
               i -> md5(array_to_string(
                   array_slice(string_split(text, ' '), i, i + 7), ' '))))
               AS chunk_h
    FROM documents
),
freq AS (SELECT chunk_h, COUNT(DISTINCT doc_id) AS nd FROM ch GROUP BY 1)
SELECT doc_id,
       CAST(COUNT(*) AS INT) AS n_chunks,
       CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS INT) AS dup_chunks,
       CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS dup_chunk_frac
FROM ch JOIN freq USING (chunk_h)
GROUP BY doc_id
"""


def q_d10_cross_source_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source chunk containment: for each ``src0`` document, the
    fraction of its distinct 8-token chunks (stride 1) that also appear
    anywhere in the OTHER sources — the corpus-release question "how much
    of this source is already covered elsewhere", at span granularity.

    Shape: two chunk expansions (expression-only explodes, no shuffle),
    distinct + aggregate the reference side to its chunk SET, then one
    hash join on chunk_h and a per-doc agg. Cost is linear in corpus
    chunks; the reference set is the big side and stays partitioned by
    chunk_h — nothing is collected or broadcast by assumption, so the
    plan survives an arbitrarily large reference corpus (AQE may still
    choose to broadcast when the reference is genuinely small)."""
    docs = load(spark, sf_dir, "documents")
    target = dedup.ensure_parallelism(
        dedup.chunk_table(docs.filter(F.col("source") == "src0"), n=8, stride=1)
    ).distinct()
    ref = (
        dedup.ensure_parallelism(
            dedup.chunk_table(docs.filter(F.col("source") != "src0"), n=8, stride=1)
        )
        .select("chunk_h")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        target.join(ref, "chunk_h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_chunks"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("int")
            .alias("contaminated_chunks"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "contaminated_chunks",
            (F.col("contaminated_chunks").cast("double")
             / F.col("n_chunks").cast("double")).alias("containment"),
        )
    )


SQL_D10 = """
WITH ch AS (
    SELECT doc_id, source,
           unnest(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - 7, 1) + 1),
               i -> md5(array_to_string(
                   array_slice(string_split(text, ' '), i, i + 7), ' '))))
               AS chunk_h
    FROM documents
),
target AS (SELECT DISTINCT doc_id, chunk_h FROM ch WHERE source = 'src0'),
ref AS (SELECT DISTINCT chunk_h FROM ch WHERE source <> 'src0')
SELECT t.doc_id,
       CAST(COUNT(*) AS INT) AS n_chunks,
       CAST(SUM(CASE WHEN r.chunk_h IS NOT NULL THEN 1 ELSE 0 END) AS INT)
           AS contaminated_chunks,
       CAST(SUM(CASE WHEN r.chunk_h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS containment
FROM target t LEFT JOIN ref r USING (chunk_h)
GROUP BY t.doc_id
"""


def q_d9_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents (doc_id ≥ 20)
    sharing at least one word 4-gram with the held-out eval set
    (doc_id < 20), with the shared-shingle count per (corpus, eval) pair.

    This is the standard train/test-contamination check an LLM corpus
    build runs before release (production recipes use 8–13-grams; 4 fits
    this corpus's 10–99-word documents). Same inverted-index shape as d2:
    shingle both sides → equi-join on the shingle → pair counts — only
    docs sharing a shingle ever meet, never an all-pairs scan, and the
    eval side of the join is benchmark-sized (broadcastable at scale).
    """
    docs = load(spark, sf_dir, "documents")
    sh = dedup.shingle_table(docs, n=4)
    ev = sh.filter(F.col("doc_id") < 20).select(
        F.col("doc_id").alias("eval_doc_id"), "shingle"
    )
    corp = sh.filter(F.col("doc_id") >= 20)
    return (
        corp.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id", "eval_doc_id")
        .agg(F.count("*").alias("shared_ngrams"))
    )


SQL_D9 = """
WITH sh AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - 3, 1) + 1),
               i -> array_to_string(
                   array_slice(string_split(text, ' '), i, i + 3), ' '))))
               AS shingle
    FROM documents
)
SELECT c.doc_id, e.doc_id AS eval_doc_id, COUNT(*) AS shared_ngrams
FROM sh c JOIN sh e ON c.shingle = e.shingle
WHERE e.doc_id < 20 AND c.doc_id >= 20
GROUP BY 1, 2
"""


def q_d11_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: a new batch (doc_id ≥ 400) checked
    against the already-ingested corpus (doc_id < 400) by exact content
    hash — every continuously-built corpus runs this on each ingest
    instead of re-deduping the world.

    Shape: hash both sides (pure map), aggregate the existing side to one
    row per hash (min doc_id — the canonical owner), LEFT join the batch
    on the hash. Cost is linear in batch + corpus with one shuffle on the
    hash key; at 100 TB the corpus side is the pre-existing dedup index
    you keep partitioned by hash, so each ingest touches only the batch's
    hash partitions. ``dup_of`` = owning doc (null ⇒ genuinely new).
    """
    docs = load(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") >= 400).select(
        "doc_id", F.md5("text").alias("h")
    )
    existing = (
        docs.filter(F.col("doc_id") < 400)
        .groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("dup_of"))
    )
    return (
        batch.join(existing, "h", "left")
        .select(
            "doc_id",
            "dup_of",
            F.when(F.col("dup_of").isNull(), 1).otherwise(0).cast("int")
            .alias("is_new"),
        )
    )


SQL_D11 = """
WITH batch AS (
    SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id >= 400
),
existing AS (
    SELECT md5(text) AS h, CAST(MIN(doc_id) AS BIGINT) AS dup_of
    FROM documents WHERE doc_id < 400 GROUP BY 1
)
SELECT b.doc_id, e.dup_of,
       CAST(CASE WHEN e.dup_of IS NULL THEN 1 ELSE 0 END AS INT) AS is_new
FROM batch b LEFT JOIN existing e USING (h)
"""


def q_d12_fuzzy_title_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution by edit distance: near-duplicate document
    "titles" (first 3 tokens) at Levenshtein ≤ 5, using the classic ER
    blocking pattern — candidates must share a block key (first token +
    length band), then the exact edit distance verifies only
    within-block pairs.

    This completes the similarity-family matrix (set Jaccard d2, MinHash
    d3, SimHash Hamming d4, embedding cosine d5, and now string edit
    distance) with the shape every record-linkage pipeline uses: a cheap
    equi-join blocking key bounds the candidate space (never all-pairs —
    a length-band block is sound because Levenshtein ≥ length
    difference, so distance ≤ 5 forces |len_a − len_b| ≤ 5 and the
    ±1-band overlap covers the 8-wide bands), and the O(m·n) distance
    computation runs candidate-restricted, JVM-side on both engines.
    First-token blocking is an additional heuristic cut (standard ER
    practice; exact-recall variants use q-gram prefix blocks).
    """
    docs = load(spark, sf_dir, "documents")
    # The planner broadcast-hash-joins this blocked self-join (titles
    # estimate far under the auto-broadcast threshold), so the
    # candidate-pair levenshtein stage — the whole cost of this query —
    # runs at the STREAM side's parallelism: the documents scan is one
    # small parquet file = ONE task while the other cores idle (the
    # single-task-map-stage pattern, not a shuffle problem — there is no shuffle on the stream side of
    # a BHJ). ensure_parallelism on the stream side only, ROUND-ROBIN
    # (unkeyed): under the BHJ the stream side's partitioning is
    # irrelevant to the join, and hashing by the block token would
    # re-concentrate a hot first word's whole quadratic candidate
    # fan-out into one task — the pathology this change removes. No-op
    # when the scan is already ≥ cores partitions; the broadcast build
    # side stays un-repartitioned — an exchange before a
    # BroadcastExchange is pure waste.
    titled = docs.select(
        "doc_id",
        F.array_join(F.slice(F.split("text", " "), 1, 3), " ").alias("title"),
    ).select(
        "doc_id",
        "title",
        F.split("title", " ")[0].alias("blk_tok"),
        F.expr("length(title) DIV 8").alias("blk_len"),
    )
    a = dedup.ensure_parallelism(titled).select(
        F.col("doc_id").alias("doc_a"),
        F.col("title").alias("title_a"),
        "blk_tok",
        F.col("blk_len").alias("len_a"),
    )
    b = titled.select(
        F.col("doc_id").alias("doc_b"),
        F.col("title").alias("title_b"),
        "blk_tok",
        F.col("blk_len").alias("len_b"),
    )
    return (
        a.join(
            b,
            (a["blk_tok"] == b["blk_tok"])
            & (F.abs(F.col("len_a") - F.col("len_b")) <= 1)
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("title_a", "title_b").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 5)
    )


SQL_D12 = """
WITH t AS (
    SELECT doc_id,
           array_to_string(array_slice(string_split(text, ' '), 1, 3), ' ')
               AS title
    FROM documents
),
k AS (
    SELECT doc_id, title,
           string_split(title, ' ')[1] AS blk_tok,
           length(title) // 8 AS blk_len
    FROM t
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.title, b.title) AS INT) AS edit_dist
FROM k a JOIN k b
  ON a.blk_tok = b.blk_tok
 AND abs(a.blk_len - b.blk_len) <= 1
 AND a.doc_id < b.doc_id
WHERE levenshtein(a.title, b.title) <= 5
"""


def q_d15_keep_longest(
    spark: SparkSession, sf_dir: str, labels: DataFrame | None = None
) -> DataFrame:
    """The kept/dropped materialization a dedup pipeline actually
    applies downstream — d6's clusters resolved under the KEEP-LONGEST
    policy (content-richest member survives; d7's min-id representative
    is the *labeling* convention, not a content policy): per cluster,
    rank members by (n_chars DESC, doc_id ASC) and keep rank 1. Emits
    every doc with its cluster, the surviving doc id, and the keep flag
    — the join-ready filter table for "train on kept docs only".

    Cost over d6: one broadcast-joinable projection of documents
    (doc_id, n_chars) and a per-cluster rank window — clusters are tiny
    (≤ corpus duplicate-group size), so the window partitions are
    bounded and parallel.

    ``labels``: optionally pass d6's (doc_id, cluster) table already
    materialized (cache/localCheckpoint) so a pipeline running several
    d6-derived outputs pays the connected-components fixpoint ONCE.
    Default None recomputes it, keeping the registry entry standalone.
    """
    from pyspark.sql import Window

    if labels is None:
        labels = q_d6_dup_clusters(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = Window.partitionBy("cluster").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    ranked = labels.join(docs, "doc_id").withColumn(
        "_rk", F.row_number().over(w)
    )
    wk = Window.partitionBy("cluster")
    return ranked.select(
        "doc_id",
        "cluster",
        "n_chars",
        F.max(F.when(F.col("_rk") == 1, F.col("doc_id"))).over(wk).alias(
            "kept_doc"
        ),
        (F.col("_rk") == 1).alias("keep"),
    )


SQL_D15 = SQL_D6.replace(
    ")\nSELECT node AS doc_id, MIN(label) AS cluster FROM cc GROUP BY node",
    """),
labels AS (SELECT node AS doc_id, MIN(label) AS cluster FROM cc GROUP BY node),
ranked AS (
    SELECT l.doc_id, l.cluster, d.n_chars,
           ROW_NUMBER() OVER (PARTITION BY l.cluster
                              ORDER BY d.n_chars DESC, l.doc_id ASC) AS rk
    FROM labels l JOIN documents d USING (doc_id)
)
SELECT doc_id, cluster, n_chars,
       MAX(CASE WHEN rk = 1 THEN doc_id END)
           OVER (PARTITION BY cluster) AS kept_doc,
       rk = 1 AS keep
FROM ranked""",
)


def q_d16_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment detection — the quote/excerpt/superset case
    symmetric Jaccard (d2/d6) structurally under-scores: a paragraph
    fully quoted inside a 10× longer document has J ≈ 0.1 but
    containment C(A→B) = |A∩B|/|A| = 1.0. Over distinct strided 8-token
    chunk sets (d8's shingles), report every pair where the SMALLER
    set's containment ≥ 1/2 — exact intersection, both directions'
    fractions, the decision row an "is this doc subsumed?" curation
    gate consumes.

    Candidate generation is LOSSLESS, not df-capped: the smaller doc
    posts its ``floor(n/2)+1`` globally-rarest chunks
    (``dedup.prefix_postings`` at t = 1/2 — same pigeonhole theorem:
    if A shares ≥ ⌈|A|/2⌉ chunks, one of them lands in A's prefix),
    joined against the larger side's FULL posting list — the classic
    asymmetric containment prefix filter (ProbeCount family). Hot
    chunks stay cheap on the prefix side (a doc posts a hot chunk only
    when it is among ITS rarest); the full-side fan-out is the price of
    losslessness and is bounded by prefix_len·df. Verification is
    candidate-restricted exact set intersection. The oracle is the
    UNFILTERED all-pairs SQL — the driver hash gate re-proves the
    prefix filter lossless on real data, exactly as d6's does.

    Exactness: the threshold is the integer comparison 2·inter ≥ n_small
    (never a float ratio); the two fractions are terminal IEEE
    divisions.
    """
    docs = load(spark, sf_dir, "documents")
    ch = dedup.chunk_table(
        dedup.ensure_parallelism(docs, "doc_id"), n=8, stride=4
    ).distinct()
    # The d6 shingle-set pattern: the chunk-set
    # table feeds FOUR consumers (prefix postings, the full posting
    # side, and both verify sides) — without truncation each re-runs
    # the chunk explode + md5 + collect_set. Doc-count-sized rows.
    sets_ = (
        ch.groupBy("doc_id")
        .agg(F.collect_set("chunk_h").alias("sh"))
        .localCheckpoint(eager=True)
    )
    pre = dedup.prefix_postings(sets_, 0.5)
    full = sets_.select(
        "doc_id", F.size("sh").alias("n"), F.explode("sh").alias("term")
    )
    a = pre.select(
        F.col("doc_id").alias("i"), F.col("n").alias("ni"), "term"
    )
    b = full.select(
        F.col("doc_id").alias("j"), F.col("n").alias("nj"), "term"
    )
    cand = (
        a.join(
            b,
            (a["term"] == b["term"])
            & (
                (F.col("ni") < F.col("nj"))
                | ((F.col("ni") == F.col("nj")) & (F.col("i") < F.col("j")))
            ),
        )
        .select("i", "j")
        .distinct()
    )
    sa = sets_.select(F.col("doc_id").alias("i"), F.col("sh").alias("sh_i"))
    sb = sets_.select(F.col("doc_id").alias("j"), F.col("sh").alias("sh_j"))
    verified = (
        cand.join(sa, "i")
        .join(sb, "j")
        .select(
            F.col("i").alias("doc_small"),
            F.col("j").alias("doc_large"),
            F.size(F.array_intersect("sh_i", "sh_j"))
            .cast("bigint")
            .alias("inter"),
            F.size("sh_i").cast("bigint").alias("n_small"),
            F.size("sh_j").cast("bigint").alias("n_large"),
        )
        .filter(F.lit(2) * F.col("inter") >= F.col("n_small"))
    )
    return verified.select(
        "doc_small",
        "doc_large",
        "inter",
        "n_small",
        "n_large",
        (F.col("inter").cast("double") / F.col("n_small").cast("double"))
        .alias("containment_small"),
        (F.col("inter").cast("double") / F.col("n_large").cast("double"))
        .alias("containment_large"),
    )


SQL_D16 = """
WITH raw AS (
    SELECT doc_id,
           unnest(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - 7, 1) + 1, 4),
               i -> md5(array_to_string(
                   array_slice(string_split(text, ' '), i, i + 7), ' '))))
               AS chunk_h
    FROM documents
),
ch AS (SELECT DISTINCT doc_id, chunk_h FROM raw),
sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM ch GROUP BY 1),
pairs AS (
    SELECT a.doc_id AS doc_small, b.doc_id AS doc_large,
           CAST(COUNT(*) AS BIGINT) AS inter
    FROM ch a
    JOIN ch b ON a.chunk_h = b.chunk_h
    JOIN sz sa ON sa.doc_id = a.doc_id
    JOIN sz sb ON sb.doc_id = b.doc_id
    WHERE sa.n < sb.n OR (sa.n = sb.n AND a.doc_id < b.doc_id)
    GROUP BY 1, 2
)
SELECT doc_small, doc_large, inter, sa.n AS n_small, sb.n AS n_large,
       CAST(inter AS DOUBLE) / CAST(sa.n AS DOUBLE) AS containment_small,
       CAST(inter AS DOUBLE) / CAST(sb.n AS DOUBLE) AS containment_large
FROM pairs
JOIN sz sa ON sa.doc_id = doc_small
JOIN sz sb ON sb.doc_id = doc_large
WHERE 2 * inter >= sa.n
"""


QUERIES: list[Query] = [
    Query("d16_containment_pairs", q_d16_containment_pairs, SQL_D16,
          "directed chunk-set containment (quote/subset detection, "
          "lossless asymmetric prefix filter)"),
    Query("d17_lsh_s_curve", q_d17_lsh_s_curve, _sql_d17(),
          "LSH banding S-curve: empirical vs theoretical candidate rate"),
    Query("d15_keep_longest", q_d15_keep_longest, SQL_D15,
          "dedup keep/drop materialization (keep-longest cluster policy)"),
    Query("d1_dedup_exact", q_d1_dedup_exact, SQL_D1, "exact dedup"),
    Query("d12_fuzzy_title_match", q_d12_fuzzy_title_match, SQL_D12,
          "edit-distance entity resolution (blocked Levenshtein)"),
    Query("d6_dup_clusters", q_d6_dup_clusters, SQL_D6,
          "connected-components duplicate clusters"),
    Query("d7_cluster_representatives", q_d7_cluster_representatives, SQL_D7,
          "dedup keep-list (representative + cluster size)"),
    Query("d1b_dedup_prefix", q_d1b_dedup_prefix, SQL_D1B, "key dedup with collisions"),
    Query("d2_ngram_jaccard", q_d2_ngram_jaccard, SQL_D2, "n-gram Jaccard pairs"),
    Query("d3_minhash_lsh", q_d3_minhash_lsh, SQL_D3, "MinHash+LSH near-dup"),
    Query("d14_minhash_calibration", q_d14_minhash_calibration, SQL_D14,
          "MinHash estimate vs exact Jaccard calibration on LSH pairs"),
    Query("d4_simhash", q_d4_simhash, _sql_d4(), "SimHash fingerprints"),
    Query("d4b_simhash_pairs", q_d4b_simhash_pairs, _sql_d4b(), "SimHash Hamming pairs"),
    Query("d9_contamination", q_d9_contamination, SQL_D9,
          "benchmark decontamination (n-gram overlap vs eval set)"),
    Query("d8_chunk_dedup", q_d8_chunk_dedup, SQL_D8,
          "chunk-level partial-overlap dedup profile"),
    Query("d10_cross_source_contamination", q_d10_cross_source_contamination,
          SQL_D10, "cross-source chunk containment"),
    Query("d11_incremental_dedup", q_d11_incremental_dedup, SQL_D11,
          "incremental-ingest dedup vs existing corpus"),
]
