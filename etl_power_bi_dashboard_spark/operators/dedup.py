"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Spark-first design for 100 TB:

- **exact**: hash groupBy on the dedup key (one shuffle, map-side partial
  aggregation; at scale, pre-partition or bucket by the key).
- **n-gram Jaccard**: shingle → explode → self-equi-join on shingle →
  count — the join is the only shuffle and runs on (shingle, doc) pairs,
  never materializing the O(n²) pair space for non-overlapping docs.
- **MinHash+LSH**: per-doc signatures are a single groupBy over exploded
  (hash_i, shingle) rows; banding turns near-dup search into an equi-join
  on (band_no, band_signature), so candidate generation is linear-ish in
  the number of colliding docs — the textbook LSH shuffle pattern.
- **SimHash**: per-token 60-bit hashes aggregated into a per-doc
  fingerprint with conditional sums — one shuffle, no UDFs; 15-bit-band
  blocking (32,768 buckets/band) keeps candidate pairs sub-quadratic.

Hash functions are md5-based (content-deterministic, engine-portable) so
results are reproducible across Spark and the DuckDB oracle — xxhash64
would be faster but is not portable for differential testing; swap via the
``token_hash`` helper when oracle parity is not needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import tokens, word_shingles


def ensure_parallelism(df: DataFrame, *part_cols: str) -> DataFrame:
    """Repartition up to the cluster's default parallelism when the input
    has fewer partitions.

    Dedup signature stages are compute-bound (explode × k hash evaluations
    per token), not scan-bound: a small-but-expensive input read from one
    parquet file would otherwise run the whole map stage in ONE task and
    idle every other core. At real scale the scan already has ≥ cores
    partitions and this is a no-op — the shuffle is only paid when it buys
    back otherwise-idle parallelism (observed 76s → single-task vs ~6s
    repartitioned on the sf0.1 corpus).
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, *part_cols) if part_cols else df.repartition(target)
    return df


def token_hash60(c: Column) -> Column:
    """Portable 60-bit integer hash: first 15 hex chars of md5.

    60 (not 64) bits so the value always fits a signed BIGINT on both
    Spark and DuckDB without overflow games, and splits evenly into
    4 × 15-bit bands for SimHash blocking.
    """
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str = "doc_id") -> DataFrame:
    """Exact dedup keeping the minimum id per key group (deterministic
    representative, unlike dropDuplicates' arbitrary first row)."""
    return df.groupBy(*key_cols).agg(F.min(id_col).alias(id_col))


def shingle_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 2
) -> DataFrame:
    """(id, shingle) pairs, distinct per document."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(word_shingles(F.col(text_col), n))).alias("shingle"),
    )


def chunk_table(
    df: DataFrame,
    n: int = 8,
    stride: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, chunk_h) per strided token window: md5 of each n-token
    chunk starting at positions 1, 1+stride, 1+2·stride, …

    Chunk-level hashing is the partial-overlap complement of the
    whole-document shingle set: two documents that share a copied span
    (but differ elsewhere) collide on the chunks covering the span, which
    per-document MinHash/SimHash signatures dilute away. One row per
    POSITION (not distinct) so internal repetition stays countable.
    Expression-only explode — embarrassingly parallel, no shuffle."""
    t = tokens(F.col(text_col))
    m = F.greatest(F.size(t) - (n - 1), F.lit(1))
    pos = F.sequence(F.lit(1), m, F.lit(stride))
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.transform(pos, lambda i: F.md5(F.array_join(F.slice(t, i, n), " ")))
        ).alias("chunk_h"),
    )


def jaccard_pairs(
    shingled: DataFrame, threshold: float, max_df: int | None = None
) -> DataFrame:
    """All pairs (a < b) with shingle-set Jaccard ≥ threshold.

    Self-equi-join on the shingle — only docs sharing ≥1 shingle ever meet.

    ``max_df`` is the scale guard: a stopword-like shingle shared by 10⁶
    docs would alone create ~10¹² join rows, so shingles whose document
    frequency exceeds ``max_df`` are dropped from the whole computation
    (intersections AND set sizes — i.e. Jaccard over the capped shingle
    vocabulary, the standard prefix/frequency-filtering approximation).
    With no shingle above the cap the result is exactly the uncapped one
    (property-tested). The df filter is a groupBy + semi-join on the same
    key as the pair join, so it adds no new shuffle key.
    """
    if max_df is not None:
        allowed = (
            shingled.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("shingle")
        )
        shingled = shingled.join(allowed, "shingle", "semi")
    # The (possibly df-capped) posting table feeds BOTH sides of the
    # pair self-join AND the size aggregate — lazily the shingle
    # explode (plus the df-cap semi-join) re-runs
    # once per consumer (~4×). One eager truncation, priced inside the
    # query; the posting table is (doc_id, shingle) rows, tiny next to
    # the candidate pairs downstream.
    shingled = shingled.localCheckpoint(eager=True)
    a = shingled.alias("a")
    b = shingled.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("common"))
    )
    sizes = shingled.groupBy("doc_id").agg(F.count("*").alias("sz"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def prefix_postings(sets_: DataFrame, threshold: float) -> DataFrame:
    """Prefix-filtered inverted-index postings for a Jaccard self-join at
    ``threshold`` — the PPJoin prefix principle, the provably lossless
    form of hot-term pruning.

    Order every document's distinct-token set by a single global order
    (ascending document frequency, ties by term — rarest first) and post
    only the first ``p = n - ceil(t·n) + 1`` tokens. Theorem: if
    J(A,B) ≥ t, the prefixes of A and B intersect — let ``a`` be the
    order-minimal shared token; if ``a`` were outside either prefix, that
    document's intersection would fit inside its suffix of size
    ``ceil(t·n) - 1 < t·n``, contradicting |A∩B| ≥ t·|A∪B| ≥ t·n. So
    joining PREFIX postings only loses NO true pair, at any corpus scale
    and any token-frequency distribution — unlike an absolute df-cap,
    which silently drops every edge on a corpus whose vocabulary is
    globally hot (a df≤120 cap on a 31-term/500-doc corpus drops all 31
    terms). At t = 0.95 a 30-token doc posts 2 tokens instead of 30, and
    df-ascending ordering sends candidates through the RAREST tokens, so
    a ubiquitous term rendezvouses only the few docs where it is locally
    rarest — the df-cap's intent, achieved losslessly.

    ``p`` uses exact integer arithmetic (``(num·n + den − 1) DIV den``
    for ``ceil(num·n/den)``): IEEE ``ceil(0.95·n)`` can overshoot an integer
    product (0.95·20 → 19.000…004 → 20) and shrink the prefix below the
    theorem's bound.

    Cost: one vocabulary-sized df aggregation, one term-keyed join to
    rank tokens, one doc-keyed window for the per-doc order — all linear;
    the quadratic pair join downstream then runs on ~(1-t)·|tokens|
    postings. Returns (doc_id, n, pos, term) for the prefix tokens only;
    ``pos`` is the token's 1-based rank in the doc's global-order sort,
    which enables PPJoin's POSITIONAL filter at the pair join: all
    common tokens sort ≥ the order-minimal shared token, so
    |A∩B| ≤ 1 + min(n_a − pos_a, n_b − pos_b) for any shared token —
    candidates whose bound falls below the required overlap
    α = ⌈t·(n_a+n_b)/(1+t)⌉ prune BEFORE verification, losslessly
    (the minimal shared token of a true pair always passes: every other
    common token lies in both suffixes).
    """
    from fractions import Fraction

    frac = Fraction(threshold).limit_denominator(10**6)
    num, den = frac.numerator, frac.denominator
    tok = sets_.select(
        "doc_id", F.size("sh").alias("n"), F.explode("sh").alias("term")
    )
    df_tab = tok.groupBy("term").agg(F.count("*").alias("_df"))
    w = Window.partitionBy("doc_id").orderBy("_df", "term")
    return (
        tok.join(df_tab, "term")
        .withColumn("_rk", F.row_number().over(w))
        .filter(
            F.col("_rk")
            <= F.col("n") - F.expr(f"({num} * n + {den - 1}) DIV {den}") + 1
        )
        .select("doc_id", "n", F.col("_rk").alias("pos"), "term")
    )


def verify_candidate_jaccard_sets(
    candidates: DataFrame, sets_: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard for an explicit candidate-pair list ONLY, against
    per-doc shingle ARRAYS (doc_id, sh) (see :func:`shingle_sets`).

    Cost is linear in the number of candidates and never touches a
    non-candidate pair: the verification stage a bucketed dedup
    (LSH/SimHash) needs at scale.

    The jaccard projection is wrapped in a non-deterministic always-true
    conditional: the optimizer otherwise pushes ``filter(jaccard >= t)`` INTO the join
    condition and ALSO re-computes the expression in the output
    projection, so ``array_intersect`` — the dominant per-pair cost —
    would run ~2.5× per candidate (codegen CSE does not span the join/filter/
    project operator boundary). ``monotonically_increasing_id() >= 0``
    is true for every row by construction (non-negative 31-bit partition
    id ‖ 33-bit counter), but its non-determinism stops the optimizer
    from duplicating or pushing the guarded expression, so the intersect
    runs exactly once per candidate and the filter reads the projected
    column. Measured at sf0.1 on d3's 7.9M-candidate verify: 4.43 s →
    3.20 s (−28%); output proven identical (row counts + exceptAll in
    both directions empty).

    INVARIANT the guard relies on: no OTHER filter
    may need to push below this projection — the non-determinism blocks
    all predicate pushdown through it. Today the only predicates above
    are the jaccard threshold (must not push — that is the point) and
    derived isnotnull (zero-selectivity on these tables). If a future
    caller filters the candidate/set tables on a selective predicate,
    apply it BEFORE calling this function or the scan stops pruning
    silently.
    """
    sa = sets_.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sets_.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    jac = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    jac_once = F.when(F.monotonically_increasing_id() >= 0, jac)
    # Length pre-filter (lossless): J(A,B) ≤
    # min(|A|,|B|)/max(|A|,|B|), so any pair that could pass the
    # jaccard filter has size ratio ≥ threshold — checked with one
    # double division per candidate BEFORE the array_intersect (the
    # dominant per-pair cost; −15% of d3's sf0.1 candidates). Float-
    # safe: min/max ≥ J as exact rationals and double division is
    # monotone in the exact value, so ratio-double ≥ jaccard-double —
    # no pair that passes the final filter can be pruned here. Sits
    # BELOW the non-deterministic jac projection by construction (the
    # optimizer won't lift it above, and it cannot be pushed past the
    # guard from above).
    ratio_ok = (
        F.least(F.size("sh_a"), F.size("sh_b")).cast("double")
        / F.greatest(F.size("sh_a"), F.size("sh_b")).cast("double")
        >= threshold
    )
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(ratio_ok)
        .select("doc_a", "doc_b", jac_once.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def shingle_sets(
    df: DataFrame,
    text_col: str = "text",
    n: int = 1,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, sh: array<string>) — each document's DISTINCT shingle set
    as one array row. A pure map over the scan (no explode, no shuffle):
    the per-doc set representation every signature/verification stage
    downstream consumes."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(word_shingles(F.col(text_col), n)).alias("sh"),
    )


def _minhash_sig_expr(ts: Column, k: int, hasher: str) -> Column:
    """Signature expression over a shingle-array column: for each of the
    k permutations, the min of hash(i, shingle) — entirely JVM
    expression-level (`transform` × `array_min`), so signatures are
    computed in a single narrow pass with no explode and no shuffle."""
    if hasher == "md5":
        # lexicographic min over hex strings (engine-portable)
        def mh(i: Column) -> Column:
            return F.array_min(
                F.transform(
                    ts,
                    lambda s: F.md5(F.concat(i.cast("string"), F.lit("|"), s)),
                )
            )
    elif hasher == "xxhash64":
        # NUMERIC min over native 64-bit hashes, stringified afterwards
        def mh(i: Column) -> Column:
            return F.array_min(
                F.transform(ts, lambda s: F.xxhash64(i, s))
            ).cast("string")
    else:
        raise ValueError(f"unknown hasher: {hasher!r}")
    return F.transform(F.sequence(F.lit(0), F.lit(k - 1)), mh)


def minhash_signatures(
    shingled: DataFrame, k: int = 12, hasher: str = "md5"
) -> DataFrame:
    """k-permutation MinHash: signature_i = min over shingles of
    hash(i, shingle). Returns (doc_id, sig: array<string> length k).

    ``hasher``:

    - ``"md5"`` (default): lexicographic min on hex strings —
      engine-portable, so the DuckDB oracle can recompute signatures
      bit-for-bit (differential testing).
    - ``"xxhash64"``: numeric min on Spark's native 64-bit hash — one
      codegen'd JVM expression instead of md5's digest + hex formatting,
      ~2× faster on the signature stage. Not reproducible outside Spark;
      this is what a production corpus run should use. Any fixed total
      order over a uniform hash preserves the MinHash collision property
      Pr[min_a = min_b] = J, so the two hashers differ only in WHICH
      candidates surface, not in correctness — verification is exact
      Jaccard either way.
    """
    sig = _minhash_sig_expr(F.col("sh"), k, hasher)  # validate hasher eagerly
    sets_ = (
        ensure_parallelism(shingled, "doc_id")
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("sh"))
    )
    return sets_.select("doc_id", sig.alias("sig"))


def lsh_bands(signatures: DataFrame, rows_per_band: int = 3) -> DataFrame:
    """(doc_id, band_no, band_sig): concat of each band's signature rows.

    The signature length must be a NON-EMPTY MULTIPLE of
    ``rows_per_band`` — enforced with an in-plan assert_true. Silently
    flooring would drop the trailing signature rows (recall lower than
    the k the caller paid for), rows_per_band > k would make
    ``sequence(0, -1)`` yield a phantom negative-start band that slices
    from the array TAIL, and an EMPTY signature (0 % r == 0) would hit
    the same phantom-band path and bucket every empty-sig doc
    together."""
    # the guard is the sequence bound itself (a detached assert column
    # would be pruned as unused): rows with a mismatched length hit the
    # raise_error branch instead of silently flooring the band count
    n_bands_minus_1 = F.when(
        (F.size("sig") % rows_per_band == 0) & (F.size("sig") >= rows_per_band),
        (F.size("sig") / rows_per_band).cast("int") - 1,
    ).otherwise(
        F.raise_error(
            F.lit(
                "lsh_bands: signature length must be a non-empty "
                f"multiple of rows_per_band={rows_per_band}"
            )
        ).cast("int")
    )
    return signatures.select(
        "doc_id",
        F.posexplode(
            F.transform(
                # band starts: 0, r, 2r, ... — slice is 1-indexed
                F.sequence(F.lit(0), n_bands_minus_1),
                lambda b: F.array_join(
                    F.slice("sig", (b * rows_per_band + 1).cast("int"), rows_per_band),
                    "",
                ),
            )
        ).alias("band_no", "band_sig"),
    )


def lsh_candidate_pairs(bands: DataFrame) -> DataFrame:
    """Distinct pairs (a < b) sharing at least one band signature."""
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = 1,
    k: int = 12,
    rows_per_band: int = 3,
    threshold: float = 0.7,
    hasher: str = "md5",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Full near-dup pipeline: shingle → MinHash → LSH bands → candidate
    pairs → exact Jaccard verification ≥ threshold.

    Verification is candidate-restricted: the Jaccard join touches ONLY
    the pairs LSH surfaced (``verify_candidate_jaccard_sets``), never the
    full shingle self-join — at 10⁹ docs the all-sharing-pairs join would
    dwarf the LSH pass it's meant to avoid.

    Plan shape: shingle sets and signatures are PURE MAPS over the scan
    (array expressions, no explode, no shuffle — the old formulation
    shuffled k×shingle rows twice); the only shuffles left are the LSH
    band self-join and the candidate→set verification joins.

    ``hasher="xxhash64"`` swaps the signature hash for Spark's native
    codegen'd hash (see :func:`minhash_signatures`) — the production
    choice when DuckDB-reproducible signatures aren't needed; output
    pairs are still exact-Jaccard-verified.

    ``shingles`` lets a caller running SEVERAL hasher/parameter variants
    over one corpus supply the (doc_id, sh) shingle-set table once
    (materialized) instead of re-shingling per variant — the signature
    build downward is hasher-specific, the shingling is not. Must be
    the same (df, text_col, n) shingling this function would compute;
    equivalence of the two paths is pinned by
    tests/test_dedup.py::test_d3_shared_shingles_equivalence.
    """
    # Two lineage truncations, both priced
    # inside the query (localCheckpoint, no cross-run state):
    # - the shingle-set table feeds the signature build AND both sides
    #   of the verification join — lazily the corpus re-shingles 3×;
    # - the banded signature table feeds BOTH sides of the LSH
    #   candidate self-join, and the k·|sh| hash evaluations per doc
    #   (the pipeline's dominant per-row cost) re-run once per side.
    #   Banding first makes the checkpointed working set tiny
    #   (n_docs × n_bands short rows).
    sets_ = (
        shingles
        if shingles is not None
        else ensure_parallelism(df, "doc_id")
        .transform(lambda d: shingle_sets(d, text_col, n=n))
        .localCheckpoint(eager=True)
    )
    sigs = sets_.select(
        "doc_id", _minhash_sig_expr(F.col("sh"), k, hasher).alias("sig")
    )
    bands = lsh_bands(sigs, rows_per_band).localCheckpoint(eager=True)
    candidates = lsh_candidate_pairs(bands)
    return verify_candidate_jaccard_sets(candidates, sets_, threshold)


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 60
) -> DataFrame:
    """Per-document SimHash over distinct tokens: bit j of the fingerprint
    is the sign of Σ_tokens (2·bit_j(h(token)) − 1).

    60-bit fingerprints (15-hex-char md5 prefix hash): wide enough that
    the 4-band blocking in :func:`simhash_near_pairs` gets 2¹⁵ = 32,768
    buckets per band — at 10⁹ docs the expected candidate set is
    ~n²/32,768 per band instead of the ~n²/256 a byte-band scheme over a
    32-bit fingerprint would produce.
    """
    tok = ensure_parallelism(df, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"),
    ).select("doc_id", token_hash60(F.col("tok")).alias("h"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(bits)
    ]
    agg = tok.groupBy("doc_id").agg(*bit_sums)
    fp = None
    for j in range(bits):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        fp = term if fp is None else fp + term
    return agg.select("doc_id", fp.alias("simhash"))


def simhash_near_pairs(fps: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by Hamming distance on SimHash fingerprints.

    4-way 15-bit-band blocking over the 60-bit fingerprint: a pair within
    Hamming distance d shares at least one untouched band whenever
    d ≤ bands − 1 (pigeonhole), so recall is exact for max_hamming ≤ 3;
    larger thresholds would need more bands. 15-bit bands give 32,768
    buckets per band (vs 256 for byte bands), keeping per-bucket
    candidate sets sub-quadratic at corpus scale. The blocked equi-join
    replaces the O(n²) cross join — the classic SimHash dedup scheme.
    """
    bands = fps.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_no"),
                        F.shiftright(F.col("simhash"), 15 * i)
                        .bitwiseAND(0x7FFF)
                        .alias("band_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.band_no", "band.band_val")
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)
