"""Law tests for the round-7 additions (v10 filtered ANN, ml16
calibration bins, u11 CDC net-effect): each recomputes the expected
answer brute-force in pure Python from the raw fixture tables, the
strongest local check before the DuckDB parity gate (which also covers
all three — they are fully oracle-backed)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_power_bi_dashboard_spark.plans import REGISTRY
from etl_power_bi_dashboard_spark.plans.base import load, load_events

from .conftest import SF_DIR, spark_round


def test_v10_filtered_ann_matches_brute_force(spark):
    emb = [
        (r.vec_id, r.label, [float(x) for x in r.embedding])
        for r in load(spark, SF_DIR, "embeddings").collect()
    ]
    exp = []
    for qid, qlab, qv in emb:
        if qid >= 8:
            continue
        scored = []
        for vid, lab, cv in emb:
            if lab != qlab or vid == qid:
                continue
            dot = n1 = n2 = 0.0
            for a, b in zip(qv, cv):  # sequential folds == F.aggregate
                dot += a * b
            for a in qv:
                n1 += a * a
            for b in cv:
                n2 += b * b
            cos = spark_round(dot / ((n1 ** 0.5) * (n2 ** 0.5)), 6)
            scored.append((-cos, vid, lab, cos))
        scored.sort()
        for rank, (_, vid, lab, cos) in enumerate(scored[:3], start=1):
            exp.append((qid, vid, lab, cos, rank))
    got = [
        (r.query_id, r.vec_id, r.label, r.cosine, r.rank)
        for r in REGISTRY["v10_filtered_ann"].spark(spark, SF_DIR).collect()
    ]
    assert sorted(got) == sorted(exp) and len(exp) == 8 * 3


def test_v10_every_result_respects_the_filter(spark):
    """The filtered top-k may never return a candidate outside the
    filter — the bug naive post-filtering has."""
    emb = {r.vec_id: r.label
           for r in load(spark, SF_DIR, "embeddings").collect()}
    for r in REGISTRY["v10_filtered_ann"].spark(spark, SF_DIR).collect():
        assert emb[r.vec_id] == emb[r.query_id]
        assert r.vec_id != r.query_id


def test_ml16_calibration_matches_brute_force(spark):
    from etl_power_bi_dashboard_spark.operators.text import STOPWORDS

    docs = [
        (r.lang, r.text)
        for r in load(spark, SF_DIR, "documents").collect()
        if len(r.text) > 0
    ]
    bins = {}
    for lang, text in docs:
        toks = text.split(" ")
        hits = sum(1 for t in toks if t in STOPWORDS)
        score_q = (hits * 1_000_000_000) // len(toks)
        b = min((score_q * 10) // 1_000_000_000, 9)
        n, npos, sq = bins.get(b, (0, 0, 0))
        bins[b] = (n + 1, npos + (lang == "en"), sq + score_q)
    exp = {
        b: (n, npos, sq / float(n * 1_000_000_000), npos / float(n))
        for b, (n, npos, sq) in bins.items()
    }
    got = {
        r.bin: (r.n_docs, r.n_pos, r.mean_score, r.pos_rate)
        for r in REGISTRY["ml16_calibration"].spark(spark, SF_DIR).collect()
    }
    assert got == exp and len(exp) > 1
    # reliability-table laws: bin means must sit inside the bin's edges
    for b, (n, npos, mean_score, pos_rate) in exp.items():
        assert b / 10.0 <= mean_score <= (b + 1) / 10.0 + 1e-12
        assert 0.0 <= pos_rate <= 1.0


def test_u11_cdc_net_effect_matches_brute_force(spark):
    ev = load_events(spark, SF_DIR).select(
        "user_id", F.unix_micros("ts").alias("us"), "event_id",
        "event_type", "value",
    ).collect()
    per_user = {}
    for r in ev:
        per_user.setdefault(r.user_id, []).append(r)
    exp = {}
    for uid, rows in per_user.items():
        rows.sort(key=lambda r: (r.us, r.event_id))
        op = lambda r: ("I" if r.event_type == "signup"
                        else "D" if r.event_type == "error" else "U")
        first_op, last_op = op(rows[0]), op(rows[-1])
        if first_op == "I" and last_op == "D":
            continue  # created+deleted inside the batch: no net effect
        if first_op == "I":
            net = "INSERT"
        elif last_op == "D":
            net = "DELETE"
        else:
            net = "UPDATE"
        payload = rows[-1].value if last_op != "D" else None
        exp[uid] = (net, payload, len(rows), rows[0].us, rows[-1].us)
    got = {
        r.user_id: (r.net_op, r.payload, r.n_ops, r.first_us, r.last_us)
        for r in REGISTRY["u11_cdc_net_effect"].spark(spark, SF_DIR).collect()
    }
    assert got == exp and len(exp) > 0
    assert {v[0] for v in exp.values()} <= {"INSERT", "UPDATE", "DELETE"}
