"""Iterative k-means (Lloyd's algorithm) over embedding columns — the
clustering stage of a training-data pipeline (corpus topic bucketing,
IVF index construction for `similarity.ivf_topk`, diversity sampling).

The reference has no clustering (its analytics stop at groupbys,
SURVEY §2.4); this is a §7.4 extension. Spark-first design:

- assignment is a PURE MAP: between iterations the K centroids are
  driver-side rows anyway (K·dim doubles), so they re-enter the plan as
  a literal `array<struct<cid, zv>>` and each vector picks
  `array_min(transform(centroids, …))` — JVM-side `zip_with`/`aggregate`
  array math, no join, no window sort, NO SHUFFLE per iteration (the
  broadcast-join formulation for DataFrame-resident centroids lives on
  in `similarity.assign_clusters`, used by IVF index builds);
- centroid recomputation is posexplode → per-(cluster, dim) avg →
  re-assembled array: two shuffles keyed by (cluster_id, pos), both
  tiny (K·dim rows);
- centroids are collected to the driver between iterations (K·dim
  doubles — bytes, not data) and re-broadcast, which also truncates the
  lineage so iteration count can't deepen the plan;
- init is deterministic: the K lowest-id vectors seed the centroids, so
  runs are reproducible across partitionings and engines.

At 100 TB the per-iteration cost is one corpus scan + one K-row
broadcast — the canonical mergeable pattern; sampled mini-batch variants
drop in by replacing the corpus scan with `p9`-style stratified samples.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark.sql import Column, Row

from .similarity import as_double, sq_dist


def init_centroids(
    corpus: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic seeding: the K lowest-id vectors, centroid_id 0..K-1."""
    seeds = corpus.orderBy(id_col).limit(k).select(
        F.col(id_col), as_double(F.col(vec_col)).alias("embedding")
    )
    w_id = F.row_number().over(Window.orderBy(id_col))
    return seeds.select(
        (w_id - F.lit(1)).alias("centroid_id"), "embedding"
    )


def _double_sql(x: float) -> str:
    """A double as a Spark SQL literal: ``repr`` round-trips exactly
    through Spark's ``<digits>D`` literal; non-finite values go through
    a string cast."""
    x = float(x)
    return f"{x!r}D" if math.isfinite(x) else f"CAST('{x}' AS DOUBLE)"


def _centroid_literal(cent_rows: list[Row]) -> Column:
    """K centroids as a literal ``array<struct<cid, zv>>`` expression —
    the between-iteration centroid state is K·dim doubles on the driver,
    so embedding it in the plan costs nothing and buys a shuffle-free
    assignment pass. Built as one SQL expression: one ``F.lit`` per
    double would cost a py4j call each."""
    structs = ", ".join(
        f"named_struct('cid', {int(r['centroid_id'])}, 'zv', "
        f"array({', '.join(_double_sql(x) for x in r['embedding'])}))"
        for r in sorted(cent_rows, key=lambda r: r["centroid_id"])
    )
    return F.expr(f"array({structs})")


def assign_clusters_literal(
    corpus: DataFrame,
    cent_rows: list[Row],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment as a pure map over the corpus scan:
    per row, ``array_min`` over struct(d2, cid) — field-order comparison
    gives the same (distance, centroid-id) tie-break as a window sort,
    with no join, no window, no shuffle. Returns (vec_id, cv, cluster_id,
    d2) where d2 is the rounded L2² to the chosen centroid."""
    cv = as_double(F.col(vec_col))
    scored = F.transform(
        _centroid_literal(cent_rows),
        lambda s: F.struct(
            F.round(sq_dist(cv, s["zv"]), 6).alias("d2"), s["cid"].alias("cid")
        ),
    )
    best = F.array_min(scored)
    return corpus.select(
        F.col(id_col).alias("vec_id"),
        cv.alias("cv"),
        best["cid"].alias("cluster_id"),
        best["d2"].alias("d2"),
    )


def recompute_centroids(assigned: DataFrame, with_sse: bool = False) -> DataFrame:
    """Elementwise mean per cluster: posexplode → per-dimension avg →
    array re-assembly (sorted by position). All JVM-side.

    ``with_sse=True`` adds a ``_sse`` column (per-cluster Σ d2) computed
    INSIDE the same aggregation: each row's d2
    repeats once per exploded position, so the (cluster, pos) group sum
    of d2 at ANY single position is exactly the cluster's Σ d2 — the
    pos=0 slice is taken. The per-iteration SSE thus costs no job of
    its own beyond the centroid recompute (1 action per iteration)."""
    cols = ["cluster_id"] + (["d2"] if with_sse else [])
    ex = assigned.select(
        *cols, F.posexplode("cv").alias("pos", "x")
    )
    aggs = [F.avg("x").alias("m")]
    if with_sse:
        aggs.append(F.sum("d2").alias("_s_d2"))
    dims = ex.groupBy("cluster_id", "pos").agg(*aggs)
    final_aggs = [
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda s: s["m"],
        ).alias("embedding")
    ]
    if with_sse:
        final_aggs.append(
            F.max(F.when(F.col("pos") == 0, F.col("_s_d2"))).alias("_sse")
        )
    return (
        dims.groupBy("cluster_id")
        .agg(*final_aggs)
        .select(
            F.col("cluster_id").alias("centroid_id"),
            "embedding",
            *(["_sse"] if with_sse else []),
        )
    )


def kmeans(
    spark: SparkSession,
    corpus: DataFrame,
    k: int = 4,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame, list[float]]:
    """Lloyd's iterations; returns (assignments, centroids, sse_history).

    assignments: (vec_id, cluster_id); centroids: (centroid_id,
    embedding); sse_history: within-cluster sum of squared distances per
    iteration (non-increasing up to rounding — pinned by tests).
    """
    cent_rows = init_centroids(corpus, k, id_col, vec_col).collect()
    sse_history: list[float] = []
    assigned = None
    for _ in range(iters):
        # pure-map assignment: SSE against the CURRENT centroids is the
        # sum of the chosen d2 — no re-join needed.
        # Materialize the assignment ONCE per iteration — it
        # feeds the SSE aggregate, the centroid recompute AND (for the
        # last round) the caller's final consumption, and each of those
        # re-runs the full distance map on the lazy plan (2 corpus
        # passes per iteration + 1 at the end, measured). The
        # checkpoint holds (vec_id, cv, cluster_id, d2) — the same
        # corpus-sized working set MLlib's KMeans caches; storage is
        # memory-and-disk, and dropped references are freed by the
        # context cleaner between iterations.
        assigned = assign_clusters_literal(
            corpus, cent_rows, id_col, vec_col
        ).localCheckpoint(eager=True)
        # collect K·dim doubles to the driver: truncates lineage so the
        # plan depth is constant in the iteration count. SSE rides in
        # the SAME aggregation/collect: one action per
        # iteration instead of a separate Σd2 scan job.
        rows = recompute_centroids(assigned, with_sse=True).collect()
        sse_history.append(
            float(sum(r["_sse"] for r in rows if r["_sse"] is not None))
        )
        cent_rows = [
            Row(centroid_id=r["centroid_id"], embedding=r["embedding"])
            for r in rows
        ]
    cents = spark.createDataFrame(
        cent_rows, "centroid_id INT, embedding ARRAY<DOUBLE>"
    )
    return (
        assigned.select(F.col("vec_id").alias(id_col), "cluster_id"),
        cents,
        sse_history,
    )
