"""K-means convergence contracts: Lloyd's iterations must not increase
SSE (up to the 1e-6 rounding in assignment distances), every vector is
assigned exactly once, seeding is deterministic, and the centroid
literal carries every double exactly."""

from __future__ import annotations

import math

from pyspark.sql import Row
from pyspark.sql import functions as F

from etl_power_bi_dashboard_spark.operators import clustering
from etl_power_bi_dashboard_spark.operators.clustering import (
    assign_clusters_literal,
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


def _per_element_literal(cent_rows):
    """The centroid literal built from one ``F.lit`` per double."""
    return F.array(*[
        F.struct(
            F.lit(int(r["centroid_id"])).alias("cid"),
            F.array(*[F.lit(float(x)) for x in r["embedding"]]).alias("zv"),
        )
        for r in sorted(cent_rows, key=lambda r: r["centroid_id"])
    ])


def test_centroid_literal_is_exact(spark, monkeypatch):
    emb = load(spark, SF_DIR, "embeddings")
    seeds = [r.embedding for r in emb.orderBy("vec_id").limit(3).collect()]
    dim = len(seeds[0])
    cents = [
        Row(centroid_id=0, embedding=[float(x) for x in seeds[0]]),
        Row(centroid_id=1, embedding=[-float(x) for x in seeds[1]]),
        Row(centroid_id=2, embedding=[float(round(x * 4)) for x in seeds[2]]),
        Row(centroid_id=3, embedding=[(-0.0, 1e-07, -2.5e-12, 3.0)[i % 4]
                                      for i in range(dim)]),
    ]
    assert "e-" in repr(cents[3].embedding[1])
    # every double reaches the plan bit for bit, the sign of zero included
    (lit,) = spark.range(1).select(clustering._centroid_literal(cents)).first()
    for want, got in zip(cents, lit):
        assert got.cid == want.centroid_id
        assert [(x, math.copysign(1, x)) for x in got.zv] == [
            (x, math.copysign(1, x)) for x in want.embedding]

    def assigned():
        return sorted(
            (r.vec_id, r.cluster_id, r.d2)
            for r in assign_clusters_literal(emb, cents).collect())

    got = assigned()
    monkeypatch.setattr(clustering, "_centroid_literal", _per_element_literal)
    assert got == assigned()
    assert len({c for _, c, _ in got}) > 1
