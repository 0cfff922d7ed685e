"""Round-8 semantic audit, batch 26 — the last unaudited definitions
with no golden-replication pin: grouped mode (a15), the dow-hour
heatmap's weekday origin (a31), CUBE/GROUPING SETS level consistency
(g2/g3), unpivot (pv2), reconciliation (q3), hierarchical rollup (r3),
snapshot diff (u7), length buckets (p13), the leakage-safe split's
defining property (p15), language capping (p16), int8 quantization +
recall (v6), and the unrolled MMR greedy (v9).

Same method as batches 1-25: recompute each result from the prose
definition with plain Python over the parquet fixture, so a definition
misread shared by the Spark plan and its DuckDB oracle still fails.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict
from decimal import Decimal

import pandas as pd

from etl_power_bi_dashboard_spark.plans import REGISTRY

from .conftest import SF_DIR, sf_table, spark_decimal
from .test_round8_semantics import _cos, _vecs
from .test_round8_semantics_dx import _d6_labels


def _srem(a: int, b: int) -> int:
    """Spark/Java signed remainder (truncated division), which differs
    from Python's floored % for negative operands."""
    return int(math.fmod(a, b))


# ------------------------------------------------------------- a15/a31


def test_a15_mode_tiebreak_law(spark):
    """a15 law: the per-status mode is the max-count priority with the
    SMALLEST priority string on count ties."""
    cells = Counter(
        (r["o_orderstatus"], r["o_orderpriority"])
        for _, r in sf_table("orders").iterrows()
    )
    per_status = defaultdict(list)
    for (s, p), n in cells.items():
        per_status[s].append((-n, p))
    expect = {}
    for s, lst in per_status.items():
        nn, p = min(lst)
        expect[s] = (p, -nn)
    rows = REGISTRY["a15_group_mode"].spark(spark, SF_DIR).collect()
    got = {r.o_orderstatus: (r.mode_priority, r.mode_count) for r in rows}
    assert got == expect and len(got) > 0


def test_a31_weekday_origin_is_monday0(spark):
    """a31 law: dow_mon0 equals the civil Monday=0 weekday of the event
    date (the (epoch_day+3)%7 trick vs Python's calendar), with exact
    counts and DECIMAL(18,6) value sums per (dow, hour) cell."""
    ev = sf_table("events")
    cells = defaultdict(lambda: [0, Decimal(0)])
    for _, r in ev.iterrows():
        ts = pd.Timestamp(r["ts"])
        c = cells[(ts.weekday(), ts.hour)]
        c[0] += 1
        c[1] += spark_decimal(r["value"], "0.000001")
    rows = REGISTRY["a31_dow_hour_heatmap"].spark(spark, SF_DIR).collect()
    got = {
        (r.dow_mon0, r.hour): (r.n_events, r.total_value, r.mean_value)
        for r in rows
    }
    expect = {
        k: (n, float(t), float(t) / float(n)) for k, (n, t) in cells.items()
    }
    assert got == expect and len(got) > 0
    assert all(0 <= d <= 6 and 0 <= h <= 23 for d, h in got)


# -------------------------------------------------------------- g2/g3


def test_g2_cube_level_consistency(spark):
    """g2 law: the CUBE emits all four grouping combinations, each
    internally consistent with the detail cells (NULL = rolled-up)."""
    orders = sf_table("orders")
    detail = Counter(
        (r["o_orderstatus"], r["o_orderpriority"])
        for _, r in orders.iterrows()
    )
    by_s, by_p = Counter(), Counter()
    for (s, p), n in detail.items():
        by_s[s] += n
        by_p[p] += n
    expect = {(s, p): n for (s, p), n in detail.items()}
    expect.update({(s, None): n for s, n in by_s.items()})
    expect.update({(None, p): n for p, n in by_p.items()})
    expect[(None, None)] = len(orders)
    rows = REGISTRY["g2_cube"].spark(spark, SF_DIR).collect()
    got = {(r.o_orderstatus, r.o_orderpriority): r.cnt for r in rows}
    assert got == expect


def test_g3_grouping_sets_exact_sets(spark):
    """g3 law: exactly the (status), (priority), () sets — no detail
    cells — with the same totals g2's rollup levels carry."""
    orders = sf_table("orders")
    by_s = Counter(r["o_orderstatus"] for _, r in orders.iterrows())
    by_p = Counter(r["o_orderpriority"] for _, r in orders.iterrows())
    expect = {(s, None): n for s, n in by_s.items()}
    expect.update({(None, p): n for p, n in by_p.items()})
    expect[(None, None)] = len(orders)
    rows = REGISTRY["g3_grouping_sets"].spark(spark, SF_DIR).collect()
    got = {(r.o_orderstatus, r.o_orderpriority): r.cnt for r in rows}
    assert got == expect


# ----------------------------------------------------------- pv2 / q3


def test_pv2_unpivot_is_lossless_melt(spark):
    """pv2 law: each source row yields exactly one (measure, value) row
    per measure column, values carried verbatim (multiset — the fixture
    contains duplicate composite keys and they must all survive)."""
    li = sf_table("lineitem")
    li = li[li["l_orderkey"] < 100]
    expect = Counter()
    for _, r in li.iterrows():
        ok, ln = int(r["l_orderkey"]), int(r["l_linenumber"])
        expect[(ok, ln, "l_quantity", float(r["l_quantity"]))] += 1
        expect[(ok, ln, "l_discount", float(r["l_discount"]))] += 1
    rows = REGISTRY["pv2_unpivot"].spark(spark, SF_DIR).collect()
    got = Counter(
        (r.l_orderkey, r.l_linenumber, r.measure, r.value) for r in rows
    )
    assert got == expect and sum(got.values()) == 2 * len(li)


def test_q3_reconciliation_is_exact_zero(spark):
    """q3 law: the fact-grain DECIMAL total equals the daily-aggregate
    re-sum EXACTLY (abs_diff == 0.0, not merely small), and both equal
    the brute-force decimal sum of joined line prices."""
    li = sf_table("lineitem")[["l_orderkey", "l_extendedprice"]]
    keys = set(int(k) for k in sf_table("orders")["o_orderkey"])
    total = sum(
        (spark_decimal(r["l_extendedprice"], "0.01")
         for _, r in li.iterrows() if int(r["l_orderkey"]) in keys),
        Decimal(0),
    )
    [row] = REGISTRY["q3_reconciliation"].spark(spark, SF_DIR).collect()
    assert row.fact_total == row.agg_total == float(total)
    assert row.abs_diff == 0.0


# ------------------------------------------------------------ r3 / u7


def test_r3_rollup_equals_direct_daily(spark):
    """r3 law: the hourly-partials daily rollup equals the direct
    per-day count + DECIMAL(18,2) value sum."""
    ev = sf_table("events")
    per = defaultdict(lambda: [0, Decimal(0)])
    for _, r in ev.iterrows():
        day = pd.Timestamp(r["ts"]).normalize()
        c = per[day]
        c[0] += 1
        c[1] += spark_decimal(r["value"], "0.01")
    rows = REGISTRY["r3_hierarchical_rollup"].spark(spark, SF_DIR).collect()
    got = {pd.Timestamp(r.bucket_day): (r.n_events, r.total_value)
           for r in rows}
    assert got == {k: (n, float(t)) for k, (n, t) in per.items()}
    assert len(got) > 1


def test_u7_snapshot_diff_classification_law(spark):
    """u7 law: against old = customer and new = (u1 MERGE minus keys
    with signed-remainder %97 == 3), the diff is exactly — added: the
    three negative insert keys; removed: the %97==3 keys; changed: the
    %10==0 survivors with changed_cols == 'c_acctbal' (only the balance
    moves); everything else absent."""
    cust = sf_table("customer")
    keys = sorted(int(k) for k in cust["c_custkey"])
    insert_keys = [-k - 1 for k in keys[:3]]
    expect = {}
    for k in insert_keys:
        if _srem(k, 97) != 3:
            expect[k] = ("added", None)
    for k in keys:
        if _srem(k, 97) == 3:
            expect[k] = ("removed", None)
        elif k % 10 == 0:
            expect[k] = ("changed", "c_acctbal")
    rows = REGISTRY["u7_snapshot_diff"].spark(spark, SF_DIR).collect()
    got = {r.c_custkey: (r.change_type, r.changed_cols) for r in rows}
    assert got == expect
    assert sum(1 for v in got.values() if v[0] == "added") == 3
    assert any(v[0] == "removed" for v in got.values())
    assert any(v[0] == "changed" for v in got.values())


# ----------------------------------------------------- p13 / p15 / p16


def test_p13_interleaved_quantile_buckets(spark):
    """p13 law: bucket = floor((rank-1)*8/n) over the (token_count,
    doc_id) total order — every bucket holds floor/ceil(n/8) docs (the
    interleaved remainder, NOT NTILE's front-loading) with the right
    token ranges and sums."""
    docs = sf_table("documents")
    recs = sorted(
        (len(r["text"].split(" ")), int(r["doc_id"]))
        for _, r in docs.iterrows()
    )
    n = len(recs)
    per = defaultdict(lambda: [0, None, None, 0])
    for rank, (tc, _) in enumerate(recs, start=1):
        b = (rank - 1) * 8 // n
        c = per[b]
        c[0] += 1
        c[1] = tc if c[1] is None else min(c[1], tc)
        c[2] = tc if c[2] is None else max(c[2], tc)
        c[3] += tc
    rows = REGISTRY["p13_length_buckets"].spark(spark, SF_DIR).collect()
    got = {r.bucket: (r.n_docs, r.min_tokens, r.max_tokens, r.sum_tokens)
           for r in rows}
    assert got == {b: tuple(c) for b, c in per.items()}
    assert sorted(got) == list(range(8))
    assert all(v[0] in (n // 8, n // 8 + 1) for v in got.values())


def test_p15_same_cluster_same_split_and_hash_buckets(spark):
    """p15 law: the split of EVERY doc is the md5-prefix bucket of its
    union-find cluster representative's text (so near-duplicates can
    never straddle train/test), with the 80/10/10 bucket map."""
    labels = _d6_labels()
    texts = {
        int(r["doc_id"]): r["text"] for _, r in sf_table("documents").iterrows()
    }

    def split_of(rep_text: str) -> str:
        b = int(hashlib.md5(rep_text.encode()).hexdigest()[:4], 16) % 100
        return "train" if b < 80 else ("val" if b < 90 else "test")

    expect = {
        d: (c, split_of(texts[c])) for d, c in labels.items()
    }
    rows = REGISTRY["p15_leakage_safe_split"].spark(spark, SF_DIR).collect()
    got = {r.doc_id: (r.cluster, r.split) for r in rows}
    assert got == expect
    # the defining property, asserted directly: one split per cluster
    per_cluster = defaultdict(set)
    for d, (c, s) in got.items():
        per_cluster[c].add(s)
    assert all(len(s) == 1 for s in per_cluster.values())
    assert {s for _, s in got.values()} >= {"train"}


def test_p16_cap_keeps_lowest_hash_ranks(spark):
    """p16 law: cap = (6 * largest language count) DIV 10; each language
    keeps min(n, cap) docs — specifically the lowest (hash, doc_id)
    ranked ones, committed via kept_id_sum — and cap_applied fires only
    for over-cap languages."""
    docs = sf_table("documents")
    per_lang = defaultdict(list)
    for _, r in docs.iterrows():
        h = int(hashlib.md5(r["text"].encode()).hexdigest()[:12], 16)
        per_lang[r["lang"]].append((h, int(r["doc_id"])))
    cap = 6 * max(len(v) for v in per_lang.values()) // 10
    rows = REGISTRY["p16_lang_cap_sample"].spark(spark, SF_DIR).collect()
    got = {
        r.lang: (r.n_docs, r.cap, r.n_kept, r.cap_applied, r.kept_id_sum)
        for r in rows
    }
    expect = {}
    for lang, recs in per_lang.items():
        recs.sort()
        kept = recs[:cap]
        expect[lang] = (
            len(recs), cap, min(len(recs), cap), len(recs) > cap,
            sum(d for _, d in kept),
        )
    assert got == expect and len(got) > 1
    assert any(v[3] for v in got.values())
    assert any(not v[3] for v in got.values())


def _top5(vecs: dict[int, list]) -> dict[int, list[int]]:
    out = {}
    for q in sorted(vecs):
        if q >= 10:
            break
        scored = sorted(
            (-round(_cos(vecs[q], vecs[c]), 6), c)
            for c in vecs if c != q
        )
        out[q] = [c for _, c in scored[:5]]
    return out


def test_v6_quantization_and_recall_law(spark):
    """v6 law: codes are floor(x/scale + 0.5) with scale =
    max(|x|, 1e-30)/127 (all in [-127, 127]); recall@5 is the overlap
    of the quantized top-5 with the exact top-5 under the same
    (cosine@6dp DESC, id) ranking."""
    vecs = {k: v for k, (v, _) in _vecs().items()}
    qvecs = {}
    for k, v in vecs.items():
        scale = max(max(abs(x) for x in v), 1e-30) / 127.0
        code = [math.floor(x / scale + 0.5) for x in v]
        assert all(-127 <= c <= 127 for c in code)
        qvecs[k] = [float(c) for c in code]
    exact, quant = _top5(vecs), _top5(qvecs)
    rows = REGISTRY["v6_int8_recall"].spark(spark, SF_DIR).collect()
    got = {r.query_id: (r.n_match, r.recall) for r in rows}
    expect = {
        q: (
            len(set(exact[q]) & set(quant[q])),
            len(set(exact[q]) & set(quant[q])) / 5.0,
        )
        for q in exact
    }
    assert got == expect and len(got) == 10
    # faithful int8 keeps some of the float space's neighbours
    assert max(recall for _, recall in got.values()) > 0.0


def test_v9_mmr_greedy_unroll_law(spark):
    """v9 law: over each query's top-8 candidates (micro-unit relevance,
    id tie-breaks), the three picks maximize 7*rel, then
    7*rel - 3*sim(., p1), then 7*rel - 3*max(sim(., p1), sim(., p2)) —
    the literal greedy MMR with lambda = 0.7 in integer arithmetic."""
    vecs = {k: v for k, (v, _) in _vecs().items()}

    def micro(x: float) -> int:
        return math.floor(x * 1e6 + 0.5)

    expect = {}
    for q in range(5):
        rel = {
            c: micro(_cos(vecs[q], vecs[c])) for c in vecs if c != q
        }
        cand = [c for _, c in sorted((-r, c) for c, r in rel.items())[:8]]
        sim = {
            (a, b): micro(_cos(vecs[a], vecs[b]))
            for a in cand for b in cand if a != b
        }
        p1 = min(cand, key=lambda c: (-(7 * rel[c]), c))
        s1 = 7 * rel[p1]
        rem = [c for c in cand if c != p1]
        p2 = min(rem, key=lambda c: (-(7 * rel[c] - 3 * sim[(c, p1)]), c))
        s2 = 7 * rel[p2] - 3 * sim[(p2, p1)]
        rem = [c for c in rem if c != p2]
        p3 = min(
            rem,
            key=lambda c: (
                -(7 * rel[c] - 3 * max(sim[(c, p1)], sim[(c, p2)])), c
            ),
        )
        s3 = 7 * rel[p3] - 3 * max(sim[(p3, p1)], sim[(p3, p2)])
        expect[(q, 1)] = (p1, s1 / 1e7)
        expect[(q, 2)] = (p2, s2 / 1e7)
        expect[(q, 3)] = (p3, s3 / 1e7)
    rows = REGISTRY["v9_mmr_rerank"].spark(spark, SF_DIR).collect()
    got = {(r.query_id, r.rank): (r.vec_id, r.mmr_score) for r in rows}
    assert got == expect and len(got) == 15
