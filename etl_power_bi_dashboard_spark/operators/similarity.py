"""Embedding similarity search: brute-force cosine top-k and an IVF
(inverted-file) approximate variant.

Spark-first design for scale:

- vectors stay as ``array<double>`` columns; dot products / norms are
  higher-order ``aggregate``/``zip_with`` expressions — JVM-side, no
  Python, no UDFs;
- brute force is a broadcast nested-loop of the (small) query set against
  the (huge) corpus followed by a per-query top-k window — the exact
  baseline;
- IVF: corpus is assigned once to its nearest centroid (a broadcast of the
  centroid table), bucketed by ``cluster_id``; a query probes only its
  ``n_probe`` nearest clusters, so the scan touches ~n_probe/n_clusters of
  the corpus. At 100 TB the assignment table is written partitioned by
  ``cluster_id`` so probing is partition pruning, not a filter scan.

Similarities are rounded to 6 decimals *before* ranking with a
deterministic id tie-break, so rankings are reproducible across engines
(float-sum association differs between engines in the last bits).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import ensure_parallelism


def as_double(vec: Column) -> Column:
    return vec.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def sq_dist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def quantize_int8(vec: Column) -> Column:
    """Symmetric per-vector int8 quantization: scale = max|x|/127,
    code_i = floor(x_i/scale + 0.5) ∈ [-127, 127]. The standard 4×
    memory/bandwidth compression for ANN serving — at 100 TB the
    quantized corpus is what fits in executor RAM, and integer dot
    products are exact (no float-association drift), so rankings are
    bit-reproducible across engines and partitionings.

    ``floor(x+0.5)`` instead of ``round(x)`` deliberately: round()'s
    tie behavior differs across engines (HALF_UP vs HALF_EVEN) while
    floor is a pure IEEE-754 op both engines evaluate identically.
    Pure higher-order Catalyst expressions — no UDF, no Python."""
    v = as_double(vec)
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.greatest(maxabs, F.lit(1e-30)) / F.lit(127.0)
    return F.transform(v, lambda x: F.floor(x / scale + F.lit(0.5)))


def cosine_pandas_udf():
    """Vectorized Arrow-batched cosine as a ``pandas_udf`` — the
    alternative to the native higher-order-function path for when the
    scoring math outgrows SQL expressions (e.g. a real model head).
    NumPy matrix math over whole Arrow batches; never row-at-a-time.
    The native ``cosine()`` expression remains the default (JVM-side,
    no serialization) — tests assert both agree."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # no inner type hints: `from __future__ import annotations` turns them
    # into strings pyspark's signature inspection can't resolve
    def _cos(a, b):
        va = np.stack(a.to_numpy())
        vb = np.stack(b.to_numpy())
        dots = np.einsum("ij,ij->i", va, vb)
        norms = np.linalg.norm(va, axis=1) * np.linalg.norm(vb, axis=1)
        return pd.Series(dots / norms)

    return pandas_udf(_cos, "double")


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine: broadcast queries × corpus, per-query window.

    Returns (query_id, vec_id, cosine, rank). Excludes self-matches.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    c = ensure_parallelism(
        corpus.select(
            F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("cv")
        ),
        "vec_id",
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    return scored.select(
        "query_id", "vec_id", "cosine", F.row_number().over(w).alias("rank")
    ).filter(F.col("rank") <= k)


def assign_clusters(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF assignment: nearest centroid per vector (rounded L2², centroid-id
    tie-break → deterministic).

    Aggregate before you shuffle: the argmin is
    a ``min(struct(d2, centroid_id, cv))`` aggregation, not a
    ``row_number() == 1`` window — struct field-order comparison gives
    the identical (distance, centroid-id) tie-break, but the aggregate
    partial-combines MAP-SIDE, so only one row per vector reaches the
    exchange and nothing is sorted; the window form shuffles and sorts
    all |corpus|·K scored rows. (d2, centroid_id) is unique per vector,
    so the trailing cv field never participates in the comparison.
    """
    c = ensure_parallelism(
        corpus.select(
            F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("cv")
        ),
        "vec_id",
    )
    cen = centroids.select(
        F.col("centroid_id"), as_double(F.col(vec_col)).alias("zv")
    )
    scored = c.crossJoin(F.broadcast(cen)).select(
        "vec_id",
        "cv",
        "centroid_id",
        F.round(sq_dist(F.col("cv"), F.col("zv")), 6).alias("d2"),
    )
    return (
        scored.groupBy("vec_id")
        .agg(F.min(F.struct("d2", "centroid_id", "cv")).alias("m"))
        .select(
            "vec_id",
            F.col("m.cv").alias("cv"),
            F.col("m.centroid_id").alias("cluster_id"),
        )
    )


def lsh_bucket(vec: Column, n_planes: int = 8, dim: int = 64, tag: str = "") -> Column:
    """Random-hyperplane LSH bucket id for cosine similarity.

    Plane p's coefficient for dimension j is ±1 derived from
    md5(f"{tag}{p}|{j}") — content-deterministic and engine-portable (same
    construction as the MinHash permutations). bucket = Σ_p 2^p·[v·h_p > 0].
    Similar directions land in the same bucket with probability
    1 − θ/π per plane; bucketing replaces the all-pairs scan at scale.

    Sizing contract (SCALE.md): pick ``n_planes ≈ log2(corpus_size)`` so
    expected bucket occupancy stays O(1); ``tag`` derives independent
    hash tables for the multi-table recall boost.

    Per-task work: the plane sign matrix is
    DATA-INDEPENDENT — md5 of the constant string f"{tag}{p}|{j}" —
    but Catalyst cannot constant-fold it through the transform lambda,
    so an in-plan expression recomputes n_planes·dim = 512 md5 digests
    PER ROW (the dominant bucket cost, measured ~3× on v3/d13). The
    signs are derived once driver-side with hashlib.md5 (bit-equal
    to Spark's md5 over the same UTF-8 bytes; pinned against the
    brute-force law test's independent derivation) and embedded as a
    literal array the row-side expression merely indexes. Summation
    stays the same left fold over j = 1..dim, so every float — and
    therefore every bucket id and the driver hash — is unchanged, and
    ``element_at(vec, j)`` still provides the wrong-dim guard (ANSI on:
    throws; ANSI off: NULL ⇒ bucket 0) the docstring above promises.
    """
    import hashlib

    def _signed_term(plane_tag: str):
        bits = F.array(
            *[
                F.lit(
                    int(
                        hashlib.md5(
                            f"{plane_tag}{j}".encode()
                        ).hexdigest()[:2],
                        16,
                    )
                    % 2
                )
                for j in range(1, dim + 1)
            ]
        )

        # MUST be a single-parameter lambda: pyspark treats a 2-arg lambda
        # as (element, index) and would silently rebind a default arg
        def term(j):
            return F.when(
                F.element_at(bits, j.cast("int")) == 1, F.element_at(vec, j)
            ).otherwise(-F.element_at(vec, j))

        return term

    bucket = F.lit(0).cast("bigint")
    for p in range(n_planes):
        signed = F.transform(F.sequence(F.lit(1), F.lit(dim)), _signed_term(f"{tag}{p}|"))
        dot_p = F.aggregate(signed, F.lit(0.0), lambda acc, x: acc + x)
        bucket = bucket + F.when(F.round(dot_p, 6) > 0, F.lit(1 << p).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return bucket


def lsh_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.3,
    n_planes: int = 8,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """LSH-bucketed near-dup: candidate pairs share a bucket in at least
    one of ``n_tables`` independent hash tables, then exact cosine
    verification ≥ threshold. The equi-join on the bucket replaces the
    O(n²) pair scan.

    Scaling the two knobs (the SCALE.md contract):

    - ``n_planes`` sets bucket CARDINALITY (2^n_planes per table). Per-pair
      collision probability is (1−θ/π)^n_planes, and expected candidate
      work is ~n²/2^n_planes per table — so n_planes must grow with the
      corpus: ≈ log2(n) keeps expected bucket occupancy O(1).
    - ``n_tables`` sets RECALL: a true pair is a candidate if ANY table
      collides, 1−(1−(1−θ/π)^n_planes)^n_tables — the standard way to buy
      back the recall that more planes cost.

    Table t > 0 derives its planes from the ``T{t}:`` md5 tag; table 0
    keeps the untagged construction (oracle-compatible with the single-
    table SQL twin). Candidates are verified by joining vec ids back to
    the vector table — per-candidate cost, never all-pairs.

    ``dim`` MUST equal the embedding dimensionality: the hyperplane dot
    product reads exactly ``dim`` vector slots, so a smaller true
    dimension would NULL every plane (ANSI off: all vectors collapse
    into bucket 0 and the join degenerates to all-pairs; ANSI on:
    element_at throws). The corpus fixture is 64-dim, hence the default.
    """
    if n_tables < 1:
        raise ValueError(f"n_tables must be >= 1, got {n_tables}")
    # compute-bound per-row stages (bucket folds, norms) must not run in
    # the single task a small one-file scan yields — see ensure_parallelism
    vecs = ensure_parallelism(
        corpus.select(
            F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("v")
        ),
        "vec_id",
    )
    cands: DataFrame | None = None
    for t in range(n_tables):
        tag = "" if t == 0 else f"T{t}:"
        bt = vecs.select(
            "vec_id",
            lsh_bucket(F.col("v"), n_planes, dim=dim, tag=tag).alias("bucket"),
        )
        left = bt.alias("a")
        right = bt.alias("b")
        pairs_t = left.join(
            right,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        ).select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        cands = pairs_t if cands is None else cands.unionByName(pairs_t)
    if n_tables > 1:
        cands = cands.distinct()
    # Verification cost is per-CANDIDATE, so
    # per-VECTOR work must not ride along. (1) Each side's L2 norm is
    # projected on the vector table BEFORE the candidate join — n norm
    # folds per side instead of one per candidate pair (the projection
    # stays below the join because it only needs that side's columns).
    # (2) The cosine projection is wrapped in the same non-deterministic
    # always-true guard as verify_candidate_jaccard_sets: the optimizer
    # otherwise pushes filter(cosine >= t) into the join condition AND
    # re-computes the expression in the output projection, so the dot
    # fold ran ~2.5× per candidate. dot/(na·nb) with na = norm(v)
    # evaluated upstream is the same expression tree per value as
    # cosine(va, vb) = dot/(norm(va)·norm(vb)) — bit-identical doubles.
    # INVARIANT: the guard blocks ALL predicate pushdown below the
    # cosine projection; callers must pre-filter the
    # vector table BEFORE this join if they need scan pruning — only the
    # cosine threshold and zero-selectivity isnotnull sit above today.
    va = vecs.select(
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"),
        norm(F.col("v")).alias("na"),
    )
    vb = vecs.select(
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
        norm(F.col("v")).alias("nb"),
    )
    cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    cos_once = F.when(F.monotonically_increasing_id() >= 0, F.round(cos, 6))
    return (
        cands.join(va, "vec_a")
        .join(vb, "vec_b")
        .select("vec_a", "vec_b", cos_once.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def ivf_topk(
    corpus: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: probe the n_probe nearest clusters per query,
    rank candidates within them by cosine. Assigns the corpus inline; for
    repeated querying, build the assignment once with
    :func:`ivf_write_index` and probe it with :func:`ivf_topk_indexed`.
    """
    assigned = assign_clusters(corpus, centroids, id_col, vec_col)
    return ivf_probe_topk(assigned, centroids, queries, k, n_probe, id_col, vec_col)


def ivf_write_index(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the IVF assignment partitioned by ``cluster_id`` — the
    one-time index build. Probing a persisted index scans only the
    probed clusters' directories (partition pruning via dynamic pruning
    on the equi-join), which is the 100 TB posture: the per-query cost is
    n_probe/n_clusters of the corpus in IO, not just in filtering."""
    assign_clusters(corpus, centroids, id_col, vec_col).write.mode(
        "overwrite"
    ).partitionBy("cluster_id").parquet(path)


def ivf_topk_indexed(
    spark,
    index_path: str,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k against a persisted IVF index (see :func:`ivf_write_index`)."""
    assigned = spark.read.parquet(index_path)
    return ivf_probe_topk(assigned, centroids, queries, k, n_probe, id_col, vec_col)


def ivf_probe_candidates(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scored IVF candidates with their probe rank: (query_id, vec_id,
    cosine, pr). The candidate set at ``n_probe = n`` is EXACTLY the
    ``pr <= n`` subset of the set at any larger n_probe, so a probe
    sweep (v8) scores once at the largest setting and derives every
    smaller one by filtering — the per-setting rankings are unchanged
    because each candidate's cosine is setting-independent."""
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    cen = centroids.select("centroid_id", as_double(F.col(vec_col)).alias("zv"))
    probe_w = Window.partitionBy("query_id").orderBy("d2", "centroid_id")
    probes = (
        q.crossJoin(F.broadcast(cen))
        .select(
            "query_id",
            "qv",
            "centroid_id",
            F.round(sq_dist(F.col("qv"), F.col("zv")), 6).alias("d2"),
        )
        .select(
            "query_id", "qv", "centroid_id", F.row_number().over(probe_w).alias("pr")
        )
        .filter(F.col("pr") <= n_probe)
        .select(
            "query_id", "qv", F.col("centroid_id").alias("cluster_id"), "pr"
        )
    )
    cand = probes.join(assigned, "cluster_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    return cand.select(
        "query_id",
        "vec_id",
        F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine"),
        "pr",
    )


def ivf_probe_topk(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe stage over an existing (vec_id, cv, cluster_id) assignment."""
    cand = ivf_probe_candidates(
        assigned, centroids, queries, n_probe, id_col, vec_col
    )
    rank_w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    return (
        cand.select("query_id", "vec_id", "cosine")
        .select("query_id", "vec_id", "cosine", F.row_number().over(rank_w).alias("rank"))
        .filter(F.col("rank") <= k)
    )
