"""Accuracy contracts for the sketch operators (ax1/ax2) — the queries
that legitimately have no DuckDB oracle (sketch layouts are
engine-specific). Each sketch answer must sit within its documented error
bound of the exact in-engine answer, which is the honest correctness
statement for approximate operators at scale.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_power_bi_dashboard_spark.plans import REGISTRY
from etl_power_bi_dashboard_spark.plans.base import load, load_events

from .conftest import SF_DIR


def test_approx_distinct_within_bound(spark):
    approx = {
        r["l_returnflag"]: r
        for r in REGISTRY["ax1_approx_distinct"].spark(spark, SF_DIR).collect()
    }
    exact = {
        r["l_returnflag"]: r
        for r in load(spark, SF_DIR, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("orders"),
            F.countDistinct("l_partkey").alias("parts"),
        )
        .collect()
    }
    assert set(approx) == set(exact)
    for flag, row in exact.items():
        # rsd=0.01 ⇒ expected ~1%; 5% is a generous deterministic ceiling
        assert abs(approx[flag]["approx_orders"] - row["orders"]) <= 0.05 * row["orders"]
        assert abs(approx[flag]["approx_parts"] - row["parts"]) <= 0.05 * row["parts"]


def test_approx_quantiles_within_bound(spark):
    approx = {
        r["event_type"]: r
        for r in REGISTRY["ax2_approx_quantiles"].spark(spark, SF_DIR).collect()
    }
    exact = {
        r["event_type"]: r
        for r in REGISTRY["a14_percentiles_disc"].spark(spark, SF_DIR).collect()
    }
    assert set(approx) == set(exact)
    for etype, row in exact.items():
        for col in ["p50", "p90", "p99"]:
            # GK sketch with accuracy 10000 on ~10^2-10^5 rows/group is
            # near-exact; allow one rank's worth of slack via 2% of range
            assert abs(approx[etype][col] - row[col]) <= max(0.02 * row[col], 1e-9)


def test_exact_percentiles_are_order_insensitive(spark):
    """Repartitioning the input cannot change a rank-based percentile."""
    ev = load_events(spark, SF_DIR)
    base = REGISTRY["a14_percentiles_disc"].spark(spark, SF_DIR).collect()
    assert len(base) > 0
    again = REGISTRY["a14_percentiles_disc"].spark(spark, SF_DIR).collect()
    assert sorted(map(tuple, base)) == sorted(map(tuple, again))
    assert ev.count() == sum(r["n"] for r in base)


def test_freq_items_no_false_negatives(spark):
    """freqItems must return every value whose true frequency meets the
    support threshold (false positives allowed, false negatives not)."""
    got = {
        r.candidate_lang
        for r in REGISTRY["ax3_freq_items"].spark(spark, SF_DIR).collect()
    }
    docs = load(spark, SF_DIR, "documents")
    n = docs.count()
    true_heavy = {
        r.lang
        for r in docs.groupBy("lang").count().collect()
        if r["count"] >= 0.3 * n
    }
    assert true_heavy, "fixture should contain at least one heavy language"
    assert true_heavy <= got


def test_countmin_bounds(spark):
    """Count-min contract: the estimate never undercounts, and the
    overestimate is bounded by the colliding mass — at w=256 buckets use
    the standard eps*N bound with eps = e/w and N = total token
    occurrences (d=4 rows make exceeding it astronomically unlikely)."""
    rows = REGISTRY["ax4_countmin"].spark(spark, SF_DIR).collect()
    assert len(rows) == 10
    docs = load(spark, SF_DIR, "documents")
    n_tokens = docs.select(
        F.sum(F.size(F.split("text", " "))).alias("n")
    ).collect()[0]["n"]
    eps = 2.718281828 / 256
    for r in rows:
        assert r["cm_estimate"] >= r["exact_count"], r
        assert r["cm_estimate"] <= r["exact_count"] + eps * n_tokens, (
            r,
            n_tokens,
        )


def test_hll_merge_union_matches_direct_and_exact(spark):
    """ax5 contract: (a) every per-source estimate is within HLL error of
    the exact distinct count; (b) the __all__ row (union of per-source
    sketches) equals the estimate of ONE sketch built over the whole
    corpus — sketch merge must be lossless vs direct construction."""

    out = {
        r.source: r.est_distinct_terms
        for r in REGISTRY["ax5_hll_merge"].spark(spark, SF_DIR).collect()
    }
    docs = load(spark, SF_DIR, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.length("term") > 0)
    exact = {
        r.source: r.n
        for r in toks.groupBy("source")
        .agg(F.countDistinct("term").alias("n"))
        .collect()
    }
    for src, n in exact.items():
        assert abs(out[src] - n) / n <= 0.05, (src, out[src], n)
    direct = toks.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("term")).alias("e")
    ).first()["e"]
    assert out["__all__"] == direct
