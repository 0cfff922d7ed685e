"""Similarity operators: the pandas_udf alternative path agrees with the
native expression path, and IVF recall is sane vs brute force."""

from __future__ import annotations

import math
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from etl_power_bi_dashboard_spark.operators import similarity
from etl_power_bi_dashboard_spark.plans import REGISTRY

from .conftest import SF_DIR


def test_pandas_udf_cosine_matches_native(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    a = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qa"), F.col("embedding").cast("array<double>").alias("va")
    )
    b = emb.filter(F.col("vec_id").between(5, 30)).select(
        F.col("vec_id").alias("qb"), F.col("embedding").cast("array<double>").alias("vb")
    )
    pairs = a.crossJoin(b)
    udf_cos = similarity.cosine_pandas_udf()
    both = pairs.select(
        "qa",
        "qb",
        similarity.cosine(F.col("va"), F.col("vb")).alias("native"),
        udf_cos(F.col("va"), F.col("vb")).alias("vectorized"),
    ).collect()
    assert len(both) > 0
    for r in both:
        assert abs(r.native - r.vectorized) < 1e-9


@pytest.mark.slow
def test_lsh_multi_table_monotone_recall(spark):
    """Measured recall vs the exact pair set improves monotonically with
    the number of LSH hash tables (the sizing contract promised in
    lsh_neardup_pairs' docstring / SCALE.md): each extra table can only
    ADD verified pairs (table 0 is always included), every surfaced pair
    really clears the cosine threshold, and on this corpus extra tables
    buy a strict recall gain (not just a no-op superset)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter(
        F.col("vec_id") < 300
    )
    thr = 0.25
    # exact ground truth: brute-force pair scan on the bounded slice
    v = emb.select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("v")
    )
    a = v.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    b = v.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    exact = {
        (r.vec_a, r.vec_b)
        for r in a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(similarity.cosine(F.col("va"), F.col("vb")), 6).alias("c"),
        )
        .filter(F.col("c") >= thr)
        .collect()
    }
    assert exact, "slice has no near pairs at this threshold"

    found: dict[int, set] = {}
    for n_tables in (1, 2, 4):
        rows = similarity.lsh_neardup_pairs(
            emb, threshold=thr, n_tables=n_tables
        ).collect()
        found[n_tables] = {(r.vec_a, r.vec_b) for r in rows}
        assert all(r.cosine >= thr for r in rows)
        # verification is exact, so LSH output never exceeds ground truth
        assert found[n_tables] <= exact

    assert found[1] <= found[2] <= found[4]
    recalls = {n: len(found[n] & exact) / len(exact) for n in found}
    assert recalls[1] <= recalls[2] <= recalls[4]
    assert recalls[4] > recalls[1], f"tables bought no recall: {recalls}"


def test_lsh_rejects_nonpositive_tables(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    with pytest.raises(ValueError, match="n_tables"):
        similarity.lsh_neardup_pairs(emb, n_tables=0)


def test_ivf_recall_vs_brute_force(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.vec_id)
        for r in similarity.cosine_topk(emb, queries, k=3).collect()
    }
    centroids = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    approx = {
        (r.query_id, r.vec_id)
        for r in similarity.ivf_topk(emb, centroids, queries, k=3, n_probe=3).collect()
    }
    recall = len(exact & approx) / len(exact)
    # approximate by design, and this corpus is only weakly clustered
    # (max pairwise cosine ~0.51), so probing 3 of 10 coarse cells keeps
    # less than half of the true neighborhood — assert the floor that
    # distinguishes "working ANN" from "broken bucketing"
    assert recall >= 0.3, f"IVF recall suspiciously low: {recall}"


def test_ivf_persisted_index_matches_inline(spark, tmp_path):
    """ivf_write_index + ivf_topk_indexed return exactly the inline
    ivf_topk results, and the probe scan is pruned to the probed
    clusters' partitions (dynamic partition pruning on the equi-join),
    not a full-index filter scan."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    queries = emb.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "ivf_index")
    similarity.ivf_write_index(emb, centroids, path)

    inline = {
        tuple(r)
        for r in similarity.ivf_topk(emb, centroids, queries, k=3, n_probe=2).collect()
    }
    indexed_df = similarity.ivf_topk_indexed(
        spark, path, centroids, queries, k=3, n_probe=2
    )
    indexed = {tuple(r) for r in indexed_df.collect()}
    assert indexed == inline and len(indexed) > 0

    # layout: one directory per cluster (hive-partitioned by cluster_id)
    import os

    parts = [d for d in os.listdir(path) if d.startswith("cluster_id=")]
    assert len(parts) >= 2

    # strictly require dynamic partition pruning — an isnotnull partition
    # filter alone would mean the probe degraded to a full-index scan
    plan = indexed_df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()


def test_v5_gram_identity_matches_bruteforce_pairwise(spark, tmp_path):
    """The linear-time Gram-identity coherence must equal the O(n²)
    brute-force mean pairwise cosine (up to the 6-dp component
    quantization it documents)."""
    import itertools

    import numpy as np

    rng = np.random.RandomState(7)
    rows = []
    for label in (0, 1):
        for i in range(12):
            rows.append(
                (label * 100 + i, [float(x) for x in rng.randn(8)], label)
            )
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")

    got = {
        r.label: (r.n, r.mean_pairwise_cosine)
        for r in REGISTRY["v5_label_coherence"].spark(
            spark, str(tmp_path)
        ).collect()
    }
    by_label = {}
    for vid, emb, label in rows:
        e = np.array(emb, dtype=np.float32).astype(np.float64)
        by_label.setdefault(label, []).append(e / np.linalg.norm(e))
    for label, vecs in by_label.items():
        pair = [
            float(np.dot(a, b))
            for a, b in itertools.combinations(vecs, 2)
        ]
        want = 2.0 * sum(pair) / (len(vecs) * (len(vecs) - 1))
        n, coh = got[label]
        assert n == len(vecs)
        assert math.isclose(coh, want, abs_tol=5e-5), (label, coh, want)


def test_ivf_probe_candidates_subset_law(spark):
    """The operator contract the v8 sweep rework leans on: candidates at
    n_probe=n are EXACTLY the pr<=n subset of a larger setting's
    candidates (same cosines), and ivf_probe_topk over the shared
    candidates matches an independent direct evaluation."""
    from etl_power_bi_dashboard_spark.operators import similarity as sim
    from etl_power_bi_dashboard_spark.plans.similarity_plans import ivf_parts

    emb, centroids, queries = ivf_parts(spark, SF_DIR)
    assigned = sim.assign_clusters(emb, centroids)

    def snap(df):
        return {
            (r.query_id, r.vec_id): (r.cosine, r.pr) for r in df.collect()
        }

    at4 = snap(sim.ivf_probe_candidates(assigned, centroids, queries, 4))
    at2 = snap(sim.ivf_probe_candidates(assigned, centroids, queries, 2))
    assert at2 == {k: v for k, v in at4.items() if v[1] <= 2}
    assert len(at2) < len(at4)

    direct = {
        (r.query_id, r.rank): r.vec_id
        for r in sim.ivf_probe_topk(
            assigned, centroids, queries, k=3, n_probe=2
        ).collect()
    }
    # recompute top-3 from the pr<=2 slice of the shared candidates

    per_q = defaultdict(list)
    for (q, v), (cos, _pr) in at2.items():
        per_q[q].append((-cos, v))
    expect = {}
    for q, lst in per_q.items():
        for rk, (_, v) in enumerate(sorted(lst)[:3], start=1):
            expect[(q, rk)] = v
    assert direct == expect and len(direct) > 0
