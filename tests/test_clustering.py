"""K-means convergence contracts: Lloyd's iterations must not increase
SSE (up to the 1e-6 rounding in assignment distances), every vector is
assigned exactly once, and seeding is deterministic."""

from __future__ import annotations

from etl_power_bi_dashboard_spark.operators.clustering import (
    init_centroids,
    kmeans,
)
from etl_power_bi_dashboard_spark.plans.base import load

from .conftest import SF_DIR


def test_sse_non_increasing(spark):
    emb = load(spark, SF_DIR, "embeddings")
    _, _, sse = kmeans(spark, emb, k=4, iters=4)
    assert len(sse) == 4
    for prev, cur in zip(sse, sse[1:]):
        assert cur <= prev + 1e-3, f"SSE increased: {prev} -> {cur}"
    assert sse[-1] < sse[0]


def test_mass_conservation_and_k(spark):
    emb = load(spark, SF_DIR, "embeddings")
    assigned, cents, _ = kmeans(spark, emb, k=4, iters=2)
    assert assigned.count() == emb.count()
    assert assigned.select("vec_id").distinct().count() == emb.count()
    assert assigned.select("cluster_id").distinct().count() <= 4
    assert cents.count() <= 4
    dim = len(emb.first().embedding)
    assert all(len(r.embedding) == dim for r in cents.collect())


def test_deterministic_seeding(spark):
    emb = load(spark, SF_DIR, "embeddings")
    a = init_centroids(emb, 3).collect()
    b = init_centroids(emb.repartition(7), 3).collect()
    assert sorted((r.centroid_id, tuple(r.embedding)) for r in a) == sorted(
        (r.centroid_id, tuple(r.embedding)) for r in b
    )
