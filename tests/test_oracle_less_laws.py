"""Laws for the iterative / sequential entries that no SQL oracle
checks in full: each law test here RECOMPUTES the expected answer
brute-force in pure Python from the same inputs, so the iterative /
sequential operators are proven against an independent reimplementation,
not just against structural invariants.

- ml1: Lloyd's k-means — same deterministic lowest-id seeding, same
  sequential-fold distance (F.aggregate is a left fold, replicated
  exactly), same 6-dp HALF_UP distance rounding; assignments must match
  EXACTLY per iteration, SSE and centroids to float tolerance (the only
  divergence channel is distributed-sum association order in avg/sum,
  ~1e-15, far below the pinned tolerances).
- ml2: PageRank — synchronous power iteration with dangling-mass
  redistribution replicated in Python on the same trade graph; per-node
  ranks must agree within 1e-12 (below the query's 12-dp rounding) and
  the registry top-20 must equal Python's top-20 under the same
  (rank DESC, node ASC) order.
- p12: first-fit greedy packing — the per-bucket sequential bin state
  replicated in Python from the same (h, doc_id)-ordered inputs; bin
  assignments must match EXACTLY. SQL_P12 replays the same recurrence
  as a DuckDB recursive CTE, but the driver compares only the
  aggregated efficiency report; this law checks the full per-document
  bin ASSIGNMENT.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_power_bi_dashboard_spark.plans import REGISTRY
from etl_power_bi_dashboard_spark.plans.base import load

from .conftest import SF_DIR, spark_round


def test_ml1_kmeans_matches_pure_python_lloyds(spark):
    from etl_power_bi_dashboard_spark.operators.clustering import kmeans

    emb = load(spark, SF_DIR, "embeddings")
    vecs = {
        r.vec_id: [float(x) for x in r.embedding] for r in emb.collect()
    }
    k, iters = 4, 3
    # deterministic seeding: the K lowest-id vectors, centroid_id 0..K-1
    cents = [vecs[v] for v in sorted(vecs)[:k]]
    cent_ids = list(range(k))
    exp_sse = []
    exp_assign = {}
    for _ in range(iters):
        exp_assign = {}
        sse = 0.0
        for vid in vecs:
            v = vecs[vid]
            best = None
            for cid, c in zip(cent_ids, cents):
                acc = 0.0  # sequential left fold == F.aggregate
                for a, b in zip(v, c):
                    acc = acc + (a - b) * (a - b)
                d2 = spark_round(acc, 6)
                if best is None or (d2, cid) < best:
                    best = (d2, cid)
            exp_assign[vid] = best[1]
            sse += best[0]
        exp_sse.append(sse)
        groups = {}
        for vid, cid in exp_assign.items():
            groups.setdefault(cid, []).append(vecs[vid])
        cent_ids = sorted(groups)
        cents = [
            [sum(col) / len(col) for col in zip(*groups[cid])]
            for cid in cent_ids
        ]

    assigned, cents_df, sse_hist = kmeans(spark, emb, k=k, iters=iters)
    got_assign = {r.vec_id: r.cluster_id for r in assigned.collect()}
    assert got_assign == exp_assign  # EXACT assignment fixpoint
    assert len(sse_hist) == len(exp_sse)
    for got, exp in zip(sse_hist, exp_sse):
        assert abs(got - exp) <= max(1e-9, 1e-9 * abs(exp)), (got, exp)
    got_cents = {
        r.centroid_id: list(r.embedding) for r in cents_df.collect()
    }
    exp_cents = dict(zip(cent_ids, cents))
    assert set(got_cents) == set(exp_cents)
    for cid in exp_cents:
        for a, b in zip(got_cents[cid], exp_cents[cid]):
            assert abs(a - b) <= 1e-9, (cid, a, b)


def test_ml2_pagerank_matches_pure_python_power_iteration(spark):
    from etl_power_bi_dashboard_spark.plans.base import fact_sales

    fact = fact_sales(spark, SF_DIR)
    edges = [
        (r.src, r.dst)
        for r in fact.select(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
        .collect()
    ]
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    assert n > 0 and len(edges) > 0
    damping, iters = 0.85, 8
    out = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    ranks = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        contrib = {v: 0.0 for v in nodes}
        dm = 0.0
        for v in nodes:
            if v in out:
                share = ranks[v] / len(out[v])
                for d in out[v]:
                    contrib[d] += share
            else:
                dm += ranks[v]
        ranks = {
            v: (1.0 - damping) / n
            + damping * dm / n
            + damping * contrib[v]
            for v in nodes
        }
    assert abs(sum(ranks.values()) - 1.0) <= 1e-9  # mass conserved

    got = {r.node: r.rank for r in REGISTRY["ml2_pagerank"]
           .spark(spark, SF_DIR).collect()}
    exp_top = sorted(
        ((round(r, 12), v) for v, r in ranks.items()),
        key=lambda t: (-t[0], t[1]),
    )[:20]
    assert len(got) == min(20, n)
    for rank_exp, node in exp_top:
        assert node in got, node
        assert abs(got[node] - rank_exp) <= 1e-12, (node, got[node], rank_exp)


def test_p12_greedy_pack_matches_pure_python_first_fit(spark):
    from etl_power_bi_dashboard_spark.operators import packing

    docs = load(spark, SF_DIR, "documents")
    ctx_len, n_buckets = 512, 8
    prepped = docs.select(
        "doc_id",
        packing.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        F.md5(F.col("text")).alias("h"),
        packing._bucket(F.col("text"), n_buckets).alias("bucket"),
    ).collect()
    exp = {}
    buckets = {}
    for r in prepped:
        buckets.setdefault(r.bucket, []).append(r)
    for bucket, rows in buckets.items():
        open_fills = []
        for r in sorted(rows, key=lambda r: (r.h, r.doc_id)):
            nt = int(r.n_tokens)
            target = None
            for b, f in enumerate(open_fills):
                if f + nt <= ctx_len:
                    target = b
                    break
            if target is None:
                open_fills.append(0)
                target = len(open_fills) - 1
            open_fills[target] += nt
            exp[r.doc_id] = (bucket, nt, target, open_fills[target])

    got = {
        r.doc_id: (r.bucket, r.n_tokens, r.bin_no, r.bin_fill)
        for r in packing.pack_greedy(
            docs, ctx_len=ctx_len, n_buckets=n_buckets
        ).collect()
    }
    assert got == exp and len(exp) > 0  # EXACT sequential bin state
