"""Law tests for the round-7 semantic corrections — each statistic is
recomputed brute-force in pure Python from the parquet fixture, so a
formula that drifted identically on BOTH engines (which the driver's
hash gate cannot see) still fails here.

Covered: q7's full-grid chi² (zero-observed cells contribute e), q8/a21/
a24's dense calendar spine (zero-activity days exist and row-lags equal
day-lags), and x14/x27's empty-token hygiene.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict
from datetime import timedelta
from decimal import Decimal

import pandas as pd

from etl_power_bi_dashboard_spark.plans import REGISTRY

from .conftest import SF_DIR, sf_table


def test_q7_chi2_includes_zero_cells(spark):
    docs = sf_table("documents")
    obs = Counter(zip(docs["source"], docs["lang"]))
    sources = sorted(set(docs["source"]))
    langs = sorted(set(docs["lang"]))
    n = len(docs)
    r_tot = Counter(docs["source"])
    c_tot = Counter(docs["lang"])

    chi2 = Decimal(0)
    for s in sources:
        for lang in langs:
            o = obs.get((s, lang), 0)
            e = r_tot[s] * c_tot[lang] / n
            chi2 += Decimal(repr(round((o - e) * (o - e) / e, 9)))
    row = REGISTRY["q7_chi2_independence"].spark(spark, SF_DIR).collect()[0]
    assert row.n_cells == len(sources) * len(langs)  # FULL grid
    assert abs(row.chi2 - float(chi2)) < 1e-6
    assert row.dof == (len(sources) - 1) * (len(langs) - 1)


def _daily_counts(ts_series) -> dict:
    days = ts_series.dt.date
    counts = Counter(days)
    lo, hi = min(counts), max(counts)
    spine = {}
    d = lo
    while d <= hi:
        spine[d] = counts.get(d, 0)
        d += timedelta(days=1)
    return spine


def test_q8_scores_every_spine_day(spark):
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    spine = _daily_counts(ev["ts"])
    days = sorted(spine)
    rows = {
        r.day.date(): r
        for r in REGISTRY["q8_volume_anomaly"].spark(spark, SF_DIR).collect()
    }
    # every spine day with >=3 predecessors is scored — including any
    # zero-event day, which an observed-days grouping would never emit
    for i, d in enumerate(days):
        k = min(i, 7)
        if k < 3:
            assert d not in rows
            continue
        baseline = [spine[days[j]] for j in range(max(0, i - 7), i)]
        r = rows[d]
        assert r.n_rows == spine[d]
        assert abs(r.baseline_mean - sum(baseline) / len(baseline)) < 1e-9


def test_a24_ewma_weights_attach_to_calendar_days(spark):
    o = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    cents = defaultdict(int)
    for d, p in zip(pd.to_datetime(o["o_orderdate"]).dt.date, o["o_totalprice"]):
        cents[d] += int(Decimal(repr(p)).quantize(Decimal("0.01")) * 100)
    lo, hi = min(cents), max(cents)
    days, d = [], lo
    while d <= hi:
        days.append(d)
        d += timedelta(days=1)
    from etl_power_bi_dashboard_spark.plans.stats_plans import _EWMA_W

    rows = {
        r.date_id: r
        for r in REGISTRY["a24_ewma"].spark(spark, SF_DIR).collect()
    }
    assert len(rows) == len(days)  # dense: gap days present (revenue 0)
    # spot-check a handful of days across the series, including the
    # first day after any zero-revenue gap day
    probe = {days[0], days[len(days) // 2], days[-1]}
    for i, d in enumerate(days[1:], start=1):
        if cents.get(days[i - 1], 0) == 0:
            probe.add(d)
    for d in probe:
        i = days.index(d)
        numer = denom = 0
        for k, wk in enumerate(_EWMA_W):
            if i - k < 0:
                break
            numer += cents.get(days[i - k], 0) * wk
            denom += wk
        r = rows[int(d.strftime("%Y%m%d"))]
        assert abs(r.ewma - numer / denom / 100.0) < 1e-9, d


def test_a21_trend_is_seven_calendar_days(spark):
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    spine = _daily_counts(ev["ts"])
    days = sorted(spine)
    rows = {
        r.day.date(): r
        for r in REGISTRY["a21_seasonality"].spark(spark, SF_DIR).collect()
    }
    assert set(rows) == set(days)  # dense spine
    for i, d in enumerate(days):
        if 3 <= i <= len(days) - 4:
            expected = sum(spine[days[j]] for j in range(i - 3, i + 4)) / 7.0
            assert abs(rows[d].trend - expected) < 1e-9
        else:
            assert rows[d].trend is None  # series edge, not a gap


def test_x27_and_x14_ignore_empty_tokens(spark):
    """Fano factors and PMI denominators recomputed brute force with the
    empty token excluded — the convention every unigram pass shares."""
    docs = sf_table("documents")
    per = defaultdict(Counter)
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        for t in (text or "").split(" "):
            if t:
                per[t][doc_id] += 1
    n_docs = len(docs)
    fano = {}
    for term, cc in per.items():
        sc = sum(cc.values())
        sc2 = sum(v * v for v in cc.values())
        fano[term] = (n_docs * sc2 - sc * sc) / (n_docs * sc)
    top = sorted(fano.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [
        (r.term, r.fano)
        for r in REGISTRY["x27_burstiness"].spark(spark, SF_DIR).collect()
    ]
    assert [t for t, _ in top] == [t for t, _ in got]
    for (_, e), (_, g) in zip(top, got):
        assert abs(e - g) < 1e-9

    # x14: N counts only bigram slots whose BOTH tokens are non-empty
    n_bigrams = 0
    for text in docs["text"]:
        tk = (text or "").split(" ")
        n_bigrams += sum(
            1 for a, b in zip(tk, tk[1:]) if len(a) > 0 and len(b) > 0
        )
    out = REGISTRY["x14_pmi_collocations"].spark(spark, SF_DIR)
    # recompute one row's pmi from brute-force counts
    uni = Counter(
        t for text in docs["text"] for t in (text or "").split(" ") if t
    )
    u_tot = sum(uni.values())
    bg = Counter()
    for text in docs["text"]:
        tk = [t for t in (text or "").split(" ")]
        for a, b in zip(tk, tk[1:]):
            if a and b:
                bg[(a, b)] += 1
    r = out.collect()[0]
    x, y = r.bigram.split(" ")
    expected = round(
        math.log(
            (bg[(x, y)] * u_tot * u_tot)
            / (n_bigrams * uni[x] * uni[y])
        ),
        9,
    )
    assert abs(r.pmi - expected) < 1e-9


def test_r10_midnight_exact_session_end_not_counted(spark):
    """End-exclusive sweep edges: a session ending at exactly 00:00:00
    applies at the next day's FIRST instant, so that day's peak must not
    be seeded with the pre-midnight carryover level; a day wholly inside
    a long session still reports the carryover."""
    from pyspark.sql import functions as F

    from etl_power_bi_dashboard_spark.plans.temporal_plans import (
        peak_concurrency_from_sessions,
    )

    sess = spark.createDataFrame(
        [
            # ends exactly at midnight: active on [22:00, Jan2 00:00)
            (1, "2024-01-01 22:00:00", "2024-01-02 00:00:00"),
            # long session spanning all of Jan 4 (no boundaries that day)
            (2, "2024-01-03 10:00:00", "2024-01-05 05:00:00"),
        ],
        "user_id long, session_start string, session_end string",
    ).select(
        "user_id",
        F.col("session_start").cast("timestamp").alias("session_start"),
        F.col("session_end").cast("timestamp").alias("session_end"),
    )
    peaks = {
        r.day.date().isoformat(): r.peak_concurrent
        for r in peak_concurrency_from_sessions(sess).collect()
    }
    assert peaks == {
        "2024-01-01": 1,
        "2024-01-02": 0,  # pre-fix: 1 (carryover seeded despite the end)
        "2024-01-03": 1,
        "2024-01-04": 1,  # carryover through a boundary-less day
        "2024-01-05": 1,
    }


def test_v5_single_vector_label_yields_null_not_nan(spark, tmp_path):
    """A label with exactly one vector has no pairs: the coherence metric
    must be NULL, never the 0/0 NaN a tightness gate would mis-compare."""
    from etl_power_bi_dashboard_spark.plans.similarity_plans import (
        q_v5_label_coherence,
    )

    rows = [
        (1, [1.0, 0.0], 7),   # label 7: singleton
        (2, [1.0, 0.0], 8),   # label 8: two identical directions
        (3, [1.0, 0.0], 8),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    out = {
        r.label: r
        for r in q_v5_label_coherence(spark, str(tmp_path)).collect()
    }
    assert out[7].mean_pairwise_cosine is None and out[7].n == 1
    assert abs(out[8].mean_pairwise_cosine - 1.0) < 1e-6
