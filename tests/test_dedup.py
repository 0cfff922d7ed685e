"""Dedup-operator properties not covered by oracle parity: the blocked
(sub-quadratic) paths must have exact recall vs brute force at their
guaranteed thresholds."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from etl_power_bi_dashboard_spark.operators import dedup

from .conftest import SF_DIR


def _docs(spark, n=150):
    return (
        spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(F.col("doc_id") < n)
    )


@pytest.mark.slow
def test_simhash_blocking_recall_exact(spark):
    """Byte-band blocking finds EVERY pair within Hamming ≤ 3 (pigeonhole:
    3 diffs can touch at most 3 of 4 bands)."""
    fps = {
        r.doc_id: r.simhash
        for r in dedup.simhash_fingerprints(_docs(spark)).collect()
    }
    brute = {
        (a, b)
        for a, b in itertools.combinations(sorted(fps), 2)
        if bin(fps[a] ^ fps[b]).count("1") <= 3
    }
    blocked = {
        (r.doc_a, r.doc_b)
        for r in dedup.simhash_near_pairs(
            dedup.simhash_fingerprints(_docs(spark)), max_hamming=3
        ).collect()
    }
    assert blocked == brute and len(brute) > 0


def test_lsh_candidates_superset_of_high_jaccard(spark):
    """Every verified pair surfaced by the full MinHash-LSH pipeline really
    has Jaccard ≥ threshold, and the pipeline finds a non-trivial share of
    the true ≥0.8 pairs (LSH is probabilistic; k=12, r=3 → ~99% at 0.8)."""
    shingled = dedup.shingle_table(_docs(spark), n=1)
    truth = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.jaccard_pairs(shingled, 0.8).collect()
    }
    found = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.minhash_lsh_dedup_pairs(
            _docs(spark), n=1, k=12, rows_per_band=3, threshold=0.8
        ).collect()
    }
    assert all(j >= 0.8 for j in found.values())
    assert len(truth) > 0
    recall = len(set(found) & set(truth)) / len(truth)
    assert recall >= 0.95, f"LSH recall too low: {recall}"


def test_minhash_fast_hasher_same_recall_contract(spark):
    """The xxhash64 signature path (production fast path — native codegen
    instead of portable md5) honors the same contract: every emitted pair
    is exact-Jaccard-verified, and recall vs brute force at the ≥0.8
    design point matches the md5 path's bound."""
    shingled = dedup.shingle_table(_docs(spark), n=1)
    truth = {
        (r.doc_a, r.doc_b)
        for r in dedup.jaccard_pairs(shingled, 0.8).collect()
    }
    fast = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.minhash_lsh_dedup_pairs(
            _docs(spark), n=1, k=12, rows_per_band=3, threshold=0.8,
            hasher="xxhash64",
        ).collect()
    }
    assert all(j >= 0.8 for j in fast.values())
    assert set(fast) <= truth
    recall = len(set(fast) & truth) / len(truth)
    assert recall >= 0.95, f"fast-path LSH recall too low: {recall}"

    with pytest.raises(ValueError, match="hasher"):
        dedup.minhash_signatures(shingled, hasher="sha1")


def test_d3_verification_is_candidate_restricted(spark):
    """The MinHash-LSH pipeline must never run the full shingle self-join:
    Jaccard verification joins candidate pairs to per-doc shingle sets
    (linear in candidates). Pinned on the optimized plan — no
    shingle = shingle equi-join may appear."""
    import contextlib
    import io
    import re

    df = dedup.minhash_lsh_dedup_pairs(
        _docs(spark), n=1, k=12, rows_per_band=3, threshold=0.7
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "array_intersect" in plan
    assert not re.search(r"shingle#\d+\)?\s*=\s*shingle#\d+", plan)


def test_verify_jaccard_sets_length_prefilter_is_lossless(spark):
    """verify_candidate_jaccard_sets drops pairs whose size ratio
    min/max is below the threshold before intersecting; J(A,B) ≤
    min/max makes that lossless. Pinned against a pure-Python Jaccard
    over every pair of a corpus with empty sets, strongly size-skewed
    pairs and pairs sitting exactly on the threshold (3 ⊂ 4 at 0.5,
    6 ⊂ 7 at 0.75)."""
    sets = {
        0: [],
        1: [],
        2: ["a"],
        3: ["a", "b"],
        4: ["a", "b", "c", "d"],
        5: [f"t{i}" for i in range(40)] + ["a"],
        6: ["a", "b", "c"],
        7: ["a", "b", "c", "e"],
        8: [f"t{i}" for i in range(30)],
        9: ["a", "b", "c", "x", "y"],
    }
    sets_ = spark.createDataFrame(
        list(sets.items()), "doc_id long, sh array<string>"
    )
    pairs = [(a, b) for a in sets for b in sets if a < b]
    candidates = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    for threshold in (0.5, 0.7, 0.75):
        want = {}
        pruned = 0
        for a, b in pairs:
            sa, sb = set(sets[a]), set(sets[b])
            short, long_ = sorted((len(sa), len(sb)))
            if short and short / long_ < threshold:
                pruned += 1
            if sa | sb and len(sa & sb) / len(sa | sb) >= threshold:
                want[(a, b)] = len(sa & sb) / len(sa | sb)
        assert pruned > 0 and want  # the pre-filter has work to do
        got = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in dedup.verify_candidate_jaccard_sets(
                candidates, sets_, threshold
            ).collect()
        }
        assert got == want


def test_jaccard_max_df_noop_when_under_cap(spark):
    """With the df cap above every shingle's document frequency, capped
    results are exactly the uncapped ones (the d2 registry query relies
    on this to keep its uncapped oracle)."""
    shingled = dedup.shingle_table(_docs(spark, 60), n=2)
    uncapped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.jaccard_pairs(shingled, 0.05).collect()
    }
    capped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.jaccard_pairs(shingled, 0.05, max_df=60).collect()
    }
    assert capped == uncapped and len(uncapped) > 0


def test_jaccard_max_df_drops_hot_shingles(spark):
    """A stopword-like shingle shared by every doc must not generate
    candidate pairs once its document frequency exceeds the cap."""
    docs = spark.createDataFrame(
        [(i, f"common tok{i}") for i in range(6)], ["doc_id", "text"]
    )
    shingled = dedup.shingle_table(docs, n=1)
    hot = dedup.jaccard_pairs(shingled, 0.2).collect()
    assert len(hot) == 15  # all C(6,2) pairs share 'common': jaccard 1/3
    capped = dedup.jaccard_pairs(shingled, 0.2, max_df=3).collect()
    assert capped == []  # 'common' (df=6) dropped; tok_i never collide


def test_exact_dedup_representative_is_min(spark):
    docs = _docs(spark)
    deduped = dedup.exact_dedup(docs, ["lang"])
    got = {r.lang: r.doc_id for r in deduped.collect()}
    want = {
        r.lang: r.m
        for r in docs.groupBy("lang").agg(F.min("doc_id").alias("m")).collect()
    }
    assert got == want


def test_connected_components_chain_and_isolate(spark):
    """Min-label propagation over a chain must converge to the chain's
    min id (requires diameter-many rounds), and isolated nodes stay
    singletons."""
    from etl_power_bi_dashboard_spark.operators.graph import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], ["id"])
    # chain 1-2-3-4-5 plus the separate pair 6-7
    edges = spark.createDataFrame(
        [(5, 4), (4, 3), (3, 2), (2, 1), (7, 6)], ["src", "dst"]
    )
    got = {
        (r["node"], r["label"])
        for r in connected_components(nodes, edges, node_col="id").collect()
    }
    want = {(1, 1), (2, 1), (3, 1), (4, 1), (5, 1), (6, 6), (7, 6)}
    assert got == want


def test_connected_components_isolated_singleton(spark):
    from etl_power_bi_dashboard_spark.operators.graph import connected_components

    nodes = spark.createDataFrame([(10,), (20,), (30,)], ["id"])
    edges = spark.createDataFrame([(20, 30)], ["src", "dst"])
    got = {
        (r["node"], r["label"])
        for r in connected_components(nodes, edges, node_col="id").collect()
    }
    assert got == {(10, 10), (20, 20), (30, 20)}


@pytest.mark.slow
def test_d6_prefix_filter_is_lossless(spark):
    """d6's prefix-filtered candidate generation must produce exactly the
    cluster assignment of the full-posting join: the PPJoin prefix
    theorem guarantees every true J>=0.95 pair collides on prefixes, and
    verification recomputes exact Jaccard over full token sets."""
    from etl_power_bi_dashboard_spark.plans.dedup_plans import q_d6_dup_clusters

    filtered = {
        (r.doc_id, r.cluster)
        for r in q_d6_dup_clusters(spark, SF_DIR, prefix_filter=True).collect()
    }
    full = {
        (r.doc_id, r.cluster)
        for r in q_d6_dup_clusters(spark, SF_DIR, prefix_filter=False).collect()
    }
    assert filtered == full and len(filtered) > 0
    # the corpus must actually contain non-trivial clusters for this to
    # be a meaningful losslessness statement
    assert any(d != c for d, c in filtered)


def test_prefix_postings_bound_and_coverage(spark):
    """prefix_postings posts exactly n - ceil(t*n) + 1 tokens per doc
    (integer arithmetic — no FP ceil overshoot), and identical docs keep
    identical prefixes (so true duplicates always collide)."""
    import math

    texts = [
        (0, "a b c d e f g h i j k l m n o p q r s t"),  # n=20 -> p=2
        (1, "a b c d e f g h i j k l m n o p q r s t"),  # dup of 0
        (2, "z y x w v u"),  # n=6 -> p=6-ceil(5.7)+1=1
        (3, "q"),  # n=1 -> p=1
    ]
    docs = spark.createDataFrame(texts, ["doc_id", "text"])
    pref = dedup.prefix_postings(dedup.shingle_sets(docs, n=1), 0.95)
    got = {}
    for r in pref.collect():
        got.setdefault(r.doc_id, set()).add(r.term)
    for doc_id, text in texts:
        n = len(set(text.split()))
        expect_p = n - math.ceil(19 * n / 20) + 1
        assert len(got[doc_id]) == expect_p, (doc_id, got[doc_id])
    assert got[0] == got[1]  # identical docs -> identical prefixes


@pytest.mark.slow
def test_d6_dependents_shared_labels_equivalence(spark):
    """bench.py materializes d6's (doc_id, cluster) labels once
    (localCheckpoint) and feeds them to d15/p15/d7 via the ``labels``
    kwarg so the connected-components fixpoint is paid once per
    pipeline. The shared-labels path must be bit-identical to the
    standalone recompute path the driver verifies."""
    from etl_power_bi_dashboard_spark.plans.dedup_plans import (
        q_d6_dup_clusters,
        q_d7_cluster_representatives,
        q_d15_keep_longest,
    )
    from etl_power_bi_dashboard_spark.plans.windows_more import (
        q_p15_leakage_safe_split,
    )

    labels = q_d6_dup_clusters(spark, SF_DIR).localCheckpoint()
    for fn in (q_d7_cluster_representatives, q_d15_keep_longest,
               q_p15_leakage_safe_split):
        standalone = {tuple(r) for r in fn(spark, SF_DIR).collect()}
        shared = {tuple(r) for r in fn(spark, SF_DIR, labels=labels).collect()}
        assert shared == standalone and len(standalone) > 0, fn.__name__


def test_d3_shared_shingles_equivalence(spark):
    """bench.py materializes the d3 shingle table once (localCheckpoint)
    and feeds it to BOTH hasher variants via the ``shingles`` kwarg so
    the md5-vs-xxhash64 pair prices the hasher, not the shingling twice.
    The shared-shingles path must be bit-identical to the standalone
    recompute path the driver verifies, for each hasher."""
    from etl_power_bi_dashboard_spark.plans.dedup_plans import (
        d3_shingle_table,
        q_d3_minhash_lsh,
    )

    shingles = d3_shingle_table(spark, SF_DIR).localCheckpoint()
    for hasher in ("md5", "xxhash64"):
        standalone = {
            tuple(r)
            for r in q_d3_minhash_lsh(spark, SF_DIR, hasher=hasher).collect()
        }
        shared = {
            tuple(r)
            for r in q_d3_minhash_lsh(
                spark, SF_DIR, hasher=hasher, shingles=shingles
            ).collect()
        }
        assert shared == standalone and len(standalone) > 0, hasher


def test_lsh_bands_rejects_mismatched_rows_per_band(spark):
    """A signature length that is not a multiple of rows_per_band must
    raise in-plan, not silently drop the trailing rows (lower recall
    than the k the caller paid for) or slice a phantom band."""

    from etl_power_bi_dashboard_spark.operators.text import word_shingles

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g")], "doc_id long, text string"
    )
    sh = docs.select(
        "doc_id", F.explode(word_shingles(F.col("text"), 3)).alias("shingle")
    )
    sigs = dedup.minhash_signatures(sh, k=12)
    assert dedup.lsh_bands(sigs, rows_per_band=3).count() == 8
    with pytest.raises(Exception, match="multiple of rows_per_band"):
        dedup.lsh_bands(sigs, rows_per_band=5).count()
