"""Round-8 semantic audit (VERDICT r7 item 4) — brute-force pure-Python
law tests for the window family (w1–w7 frame semantics), the sampling
family (p7–p10, p14 exact-rate and selection laws), and the
survival/retention definitions (e6, e17). Each statistic is recomputed
from the parquet fixture with plain Python/Decimal from the DEFINITION,
so a formula misdefined identically on both engines (invisible to the
driver's hash gate) still fails here.
"""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict
from datetime import date, timedelta
from decimal import Decimal

import pandas as pd

from etl_power_bi_dashboard_spark.plans import REGISTRY

from .conftest import SF_DIR, STOPWORDS, events_sorted, sf_table


def _fact_rows():
    """(date_id, year, month, price_decimal) per lineitem, per the shared
    fact definition: price = l_extendedprice as DECIMAL(18,2)."""
    li = sf_table("lineitem")[["l_orderkey", "l_extendedprice"]]
    o = sf_table("orders")[["o_orderkey", "o_orderdate"]]
    j = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
    for _, r in j.iterrows():
        d = pd.Timestamp(r["o_orderdate"])
        yield (
            int(d.strftime("%Y%m%d")),
            d.year,
            d.month,
            Decimal(repr(round(float(r["l_extendedprice"]), 2))),
        )


# ---------------------------------------------------------------- w1-w3


def test_w1_top3_per_segment_law(spark):
    cust = sf_table("customer")
    expect = set()
    for seg, grp in cust.groupby("c_mktsegment"):
        ordered = grp.sort_values(
            ["c_acctbal", "c_custkey"], ascending=[False, True]
        )
        for rank, (_, r) in enumerate(ordered.head(3).iterrows(), start=1):
            expect.add((seg, int(r["c_custkey"]), rank))
    got = {
        (r.c_mktsegment, r.c_custkey, r.rank_in_segment)
        for r in REGISTRY["w1_rank_per_group"].spark(spark, SF_DIR).collect()
    }
    assert got == expect and len(expect) > 0


def test_w2_running_total_is_prefix_sum_of_daily(spark):
    daily = defaultdict(Decimal)
    for date_id, _, _, price in _fact_rows():
        daily[date_id] += price
    run, expect = Decimal(0), {}
    for d in sorted(daily):
        run += daily[d]
        expect[d] = (float(daily[d]), float(run))
    rows = REGISTRY["w2_running_total"].spark(spark, SF_DIR).collect()
    got = {r.date_id: (r.total_sales, r.cumulative_sales) for r in rows}
    assert got == expect


def test_w3_lag_delta_is_consecutive_month_difference(spark):
    monthly = defaultdict(Decimal)
    for _, y, m, price in _fact_rows():
        monthly[(y, m)] += price
    keys = sorted(monthly)
    expect = {}
    for i, k in enumerate(keys):
        prev = monthly[keys[i - 1]] if i else None
        expect[k] = (
            float(monthly[k]),
            float(monthly[k] - prev) if prev is not None else None,
        )
    rows = REGISTRY["w3_lag_delta"].spark(spark, SF_DIR).collect()
    got = {(r.year, r.month): (r.total_sales, r.mom_delta) for r in rows}
    assert got == expect


# ---------------------------------------------------------------- w4-w7


def test_w4_moving_avg_is_trailing_3_row_mean(spark):
    ev = sf_table("events").sort_values(["user_id", "ts", "event_id"])
    expect = {}
    for _, grp in ev.groupby("user_id"):
        vals = [Decimal(repr(round(v, 6))) for v in grp["value"]]
        ids = list(grp["event_id"])
        for i in range(len(vals)):
            frame = vals[max(0, i - 2) : i + 1]
            expect[int(ids[i])] = float(sum(frame)) / len(frame)
    rows = REGISTRY["w4_moving_avg"].spark(spark, SF_DIR).collect()
    got = {r.event_id: r.moving_avg_3 for r in rows}
    assert got == expect


def test_w5_distribution_laws(spark):
    """ntile front-loads the n % k remainder one row each onto the first
    buckets; percent_rank = (rank-1)/(n-1); cume_dist = (#rows ≤ peer
    group)/n — with a unique total order, position/n."""
    cust = sf_table("customer").sort_values(["c_acctbal", "c_custkey"])
    n = len(cust)
    base, rem = divmod(n, 4)
    expect = {}
    pos = 0
    for b in range(1, 5):
        size = base + (1 if b <= rem else 0)
        for _ in range(size):
            key = int(cust.iloc[pos]["c_custkey"])
            expect[key] = (b, pos / (n - 1), (pos + 1) / n)
            pos += 1
    rows = REGISTRY["w5_distribution"].spark(spark, SF_DIR).collect()
    got = {r.c_custkey: (r.quartile, r.pct_rank, r.cume) for r in rows}
    assert got == expect


def test_w6_value_picks_full_frame_law(spark):
    cust = sf_table("customer")
    expect = {}
    for seg, grp in cust.groupby("c_mktsegment"):
        ordered = grp.sort_values(
            ["c_acctbal", "c_custkey"], ascending=[False, True]
        )["c_custkey"].tolist()
        expect[seg] = (
            int(ordered[0]),
            int(ordered[-1]),
            int(ordered[1]) if len(ordered) > 1 else None,
        )
    rows = REGISTRY["w6_value_picks"].spark(spark, SF_DIR).collect()
    for r in rows:
        assert (
            r.richest_custkey,
            r.poorest_custkey,
            r.runner_up_custkey,
        ) == expect[r.c_mktsegment]


def test_w7_range_frame_includes_all_same_day_peers(spark):
    """RANGE 6 PRECEDING bounds by day VALUE: every order of the same
    customer within [day-6, day] is in-frame — including same-day peers
    that a ROWS frame would split on row order."""
    o = sf_table("orders")[["o_custkey", "o_orderkey", "o_totalprice", "o_orderdate"]]
    epoch = date(1970, 1, 1)
    recs = [
        (
            int(r["o_custkey"]),
            int(r["o_orderkey"]),
            Decimal(repr(round(float(r["o_totalprice"]), 2))),
            (pd.Timestamp(r["o_orderdate"]).date() - epoch).days,
        )
        for _, r in o.iterrows()
    ]
    by_cust = defaultdict(list)
    for c, k, p, d in recs:
        by_cust[c].append((k, p, d))
    expect = {}
    for c, rows_ in by_cust.items():
        for k, _, d in rows_:
            expect[k] = float(
                sum(p2 for _, p2, d2 in rows_ if d - 6 <= d2 <= d)
            )
    got = {
        r.o_orderkey: r.trailing_7d_revenue
        for r in REGISTRY["w7_range_frame"].spark(spark, SF_DIR).collect()
    }
    assert got == expect


# ------------------------------------------------------------- sampling


def _md5_bucket(text: str, digits: int = 4, mod: int = 100) -> int:
    return int(hashlib.md5(text.encode()).hexdigest()[:digits], 16) % mod


def test_p7_exact_key_modulus_sample(spark):
    o = sf_table("orders")
    kept = o[o["o_orderkey"] % 20 == 0]
    total = sum(Decimal(repr(round(float(v), 2))) for v in kept["o_totalprice"])
    row = REGISTRY["p7_sample_mod"].spark(spark, SF_DIR).collect()[0]
    assert row.sample_rows == len(kept)
    assert row.sample_total == float(total)


def test_p8_hash_split_assignment_law(spark):
    docs = sf_table("documents")
    rows = REGISTRY["p8_hash_split"].spark(spark, SF_DIR).collect()
    got = {r.doc_id: (r.bucket, r.split) for r in rows}
    assert len(got) == len(docs)
    for _, r in docs.iterrows():
        b = _md5_bucket(r["text"])
        split = "train" if b < 80 else ("val" if b < 90 else "test")
        assert got[int(r["doc_id"])] == (b, split)


def test_p9_stratified_exact_rate_and_selection(spark):
    docs = sf_table("documents")
    expect = set()
    for lang, grp in docs.groupby("lang"):
        n = len(grp)
        k = math.ceil(n * 0.2)
        ordered = sorted(
            grp.itertuples(),
            key=lambda r: (hashlib.md5(r.text.encode()).hexdigest(), r.doc_id),
        )
        expect.update((int(r.doc_id), lang) for r in ordered[:k])
    rows = REGISTRY["p9_stratified_sample"].spark(spark, SF_DIR).collect()
    got = {(r.doc_id, r.lang) for r in rows}
    assert got == expect
    # exact per-stratum rate, not approximate
    per_stratum = defaultdict(int)
    for _, lang in got:
        per_stratum[lang] += 1
    for lang, grp in docs.groupby("lang"):
        assert per_stratum[lang] == math.ceil(len(grp) * 0.2)


def test_p10_tiered_acceptance_law(spark):
    docs = sf_table("documents")
    rows = REGISTRY["p10_quality_weighted_sample"].spark(spark, SF_DIR).collect()
    got = {r.doc_id: (r.tier, r.bucket, r.keep) for r in rows}
    for _, r in docs.iterrows():
        nt = len(r["text"].split(" "))
        tier = "high" if nt >= 100 else ("mid" if nt >= 40 else "low")
        pct = 100 if nt >= 100 else (50 if nt >= 40 else 10)
        b = _md5_bucket(r["text"])
        assert got[int(r["doc_id"])] == (tier, b, 1 if b < pct else 0)


def test_p14_efraimidis_spirakis_selection_law(spark):
    """key = round(u^(1/w), 9) with u = (md5-prefix + 1)/2^32; the
    sample is exactly the top-10 by (key desc, doc_id asc)."""
    docs = sf_table("documents")
    keyed = []
    for _, r in docs.iterrows():
        u = (int(hashlib.md5(r["text"].encode()).hexdigest()[:8], 16) + 1) / 4294967296.0
        key = round(u ** (1.0 / float(r["n_chars"])), 9)
        keyed.append((key, int(r["doc_id"]), int(r["n_chars"])))
    keyed.sort(key=lambda t: (-t[0], t[1]))
    expect = {
        (doc, w, key, rk)
        for rk, (key, doc, w) in enumerate(keyed[:10], start=1)
    }
    rows = REGISTRY["p14_weighted_reservoir"].spark(spark, SF_DIR).collect()
    got = {(r.doc_id, r.weight, r.es_key, r.rk) for r in rows}
    assert got == expect


# --------------------------------------------------- survival/retention


def _monday_week(d: date) -> date:
    return d - timedelta(days=d.weekday())


def test_e6_weekly_cohort_retention_law(spark):
    ev = sf_table("events")[["user_id", "ts"]]
    first = ev.groupby("user_id")["ts"].min()
    cohort = {int(u): _monday_week(pd.Timestamp(t).date()) for u, t in first.items()}
    cells = defaultdict(set)
    for _, r in ev.iterrows():
        u = int(r["user_id"])
        week = _monday_week(pd.Timestamp(r["ts"]).date())
        offset = (week - cohort[u]).days // 7
        cells[(cohort[u], offset)].add(u)
    expect = {k: len(v) for k, v in cells.items()}
    rows = REGISTRY["e6_retention_cohorts"].spark(spark, SF_DIR).collect()
    got = {
        (r.cohort_week.date(), r.week_offset): r.n_users for r in rows
    }
    assert got == expect
    # retention sanity: every cohort has its own week-0 cell with every member
    for u, cw in cohort.items():
        assert (cw, 0) in got


def test_e17_censored_horizon_conversion_law(spark):
    ev = sf_table("events")[["user_id", "event_type", "ts"]]
    us = {
        int(u): int(pd.Timestamp(t).value // 1000)
        for u, t in ev[ev["event_type"] == "signup"]
        .groupby("user_id")["ts"]
        .min()
        .items()
    }
    first_p = {}
    for _, r in ev[ev["event_type"] == "purchase"].iterrows():
        u = int(r["user_id"])
        if u not in us:
            continue
        p = int(pd.Timestamp(r["ts"]).value // 1000)
        if p >= us[u] and (u not in first_p or p < first_p[u]):
            first_p[u] = p
    end_us = int(ev["ts"].max().value // 1000)
    expect = {}
    for h in (3600, 86400, 604800):
        at_risk = [u for u, s in us.items() if s + h * 1_000_000 <= end_us]
        conv = [
            u
            for u in at_risk
            if u in first_p and first_p[u] - us[u] <= h * 1_000_000
        ]
        expect[h] = (len(at_risk), len(conv), len(conv) / len(at_risk))
    rows = REGISTRY["e17_survival_horizons"].spark(spark, SF_DIR).collect()
    got = {
        r.horizon_sec: (r.n_at_risk, r.n_converted, r.conv_rate) for r in rows
    }
    assert got == expect
    # censoring law: a user whose observation window hasn't closed is
    # excluded from the denominator, never counted as a failure
    assert all(got[h][0] <= len(us) for h in got)


def _scored_docs():
    """(doc_id, lang, pos, score_q) per non-empty doc — the shared
    definition: score_q = (stopword_hits * 10^9) // n_tokens."""
    out = []
    for _, r in sf_table("documents").iterrows():
        if len(r["text"]) == 0:
            continue
        toks = r["text"].split(" ")
        hits = sum(1 for t in toks if t in STOPWORDS)
        out.append(
            (
                int(r["doc_id"]),
                r["lang"],
                r["lang"] == "en",
                (hits * 1_000_000_000) // len(toks),
            )
        )
    return out


def test_ml12_auc_is_pairwise_mann_whitney_with_midrank_ties(spark):
    docs = _scored_docs()
    langs = sorted({lang for _, lang, _, _ in docs})
    rows = REGISTRY["ml12_score_bias_auc"].spark(spark, SF_DIR).collect()
    got = {r.lang: (r.n_pos, r.n_neg, r.u2, r.auc) for r in rows}
    assert set(got) == set(langs)
    for lang in langs:
        pos = [q for _, l, _, q in docs if l == lang]
        neg = [q for _, l, _, q in docs if l != lang]
        # u2 = 2·U: 2 per won pair, 1 per tie — integer arithmetic until
        # the final division, so the AUC must match exactly
        u2 = sum(
            2 if p > n_ else (1 if p == n_ else 0)
            for p in pos
            for n_ in neg
        )
        auc = u2 / (2.0 * len(pos) * len(neg))
        assert got[lang] == (len(pos), len(neg), u2, auc), lang


def test_ml13_gain_lift_decile_law(spark):
    docs = _scored_docs()
    ranked = sorted(docs, key=lambda t: (-t[3], t[0]))
    n = len(ranked)
    total_pos = sum(1 for _, _, p, _ in ranked if p)
    per = defaultdict(lambda: [0, 0])  # decile -> [n_rows, n_pos]
    for rk, (_, _, p, _) in enumerate(ranked, start=1):
        d = ((rk - 1) * 10) // n
        per[d][0] += 1
        per[d][1] += int(p)
    cum_rows = cum_pos = 0
    expect = {}
    for d in sorted(per):
        cum_rows += per[d][0]
        cum_pos += per[d][1]
        expect[d] = (
            per[d][0],
            per[d][1],
            cum_rows,
            cum_pos,
            cum_pos / total_pos,
            (cum_pos * n) / (cum_rows * total_pos),
        )
    rows = REGISTRY["ml13_gain_lift"].spark(spark, SF_DIR).collect()
    got = {
        r.decile: (r.n_rows, r.n_pos, r.cum_rows, r.cum_pos, r.gain, r.lift)
        for r in rows
    }
    assert got == expect
    # law: the last decile's gain and overall lift are exactly 1
    last = max(expect)
    assert got[last][4:] == (1.0, 1.0)


def test_ml14_pr_curve_confusion_and_f1_law(spark):
    docs = _scored_docs()
    rows = REGISTRY["ml14_pr_curve"].spark(spark, SF_DIR).collect()
    assert sorted(r.thresh_ppb for r in rows) == [
        20_000_000, 50_000_000, 100_000_000, 150_000_000, 200_000_000
    ]
    for r in rows:
        tp = sum(1 for _, _, p, q in docs if q > r.thresh_ppb and p)
        fp = sum(1 for _, _, p, q in docs if q > r.thresh_ppb and not p)
        fn = sum(1 for _, _, p, q in docs if q <= r.thresh_ppb and p)
        tn = sum(1 for _, _, p, q in docs if q <= r.thresh_ppb and not p)
        assert (r.tp, r.fp, r.fn, r.tn) == (tp, fp, fn, tn)
        assert r.precision == (tp / (tp + fp) if tp + fp else None)
        assert r.recall == (tp / (tp + fn) if tp + fn else None)
        # F1 is the harmonic mean 2tp/(2tp+fp+fn), never a mean of the
        # two printed ratios
        assert r.f1 == (
            2 * tp / (2 * tp + fp + fn) if 2 * tp + fp + fn else None
        )
        assert r.accuracy == (tp + tn) / len(docs)


def test_q14_ks_statistic_is_sup_over_merged_support(spark):
    ev = sf_table("events")
    a = sorted(ev[ev["event_type"] == "click"]["value"])
    b = sorted(ev[ev["event_type"] == "purchase"]["value"])
    na, nb = len(a), len(b)
    support = sorted(set(a) | set(b))
    d = max(
        abs(
            sum(1 for x in a if x <= v) / na
            - sum(1 for x in b if x <= v) / nb
        )
        for v in support
    )
    crit = (1358 / 1000.0) * math.sqrt((na + nb) / (na * nb))
    row = REGISTRY["q14_ks_test"].spark(spark, SF_DIR).collect()[0]
    assert (row.na, row.nb) == (na, nb)
    assert abs(row.ks_stat - d) < 1e-12
    assert abs(row.ks_crit_05 - crit) < 1e-12
    assert row.reject_same_dist == (d > crit)


def test_ml16_calibration_bin_law(spark):
    docs = _scored_docs()
    bins = defaultdict(lambda: [0, 0, 0])  # bin -> [n, n_pos, sum_q]
    for _, _, p, q in docs:
        b = min((q * 10) // 1_000_000_000, 9)
        bins[b][0] += 1
        bins[b][1] += int(p)
        bins[b][2] += q
    rows = REGISTRY["ml16_calibration"].spark(spark, SF_DIR).collect()
    got = {r.bin: (r.n_docs, r.n_pos, r.mean_score, r.pos_rate) for r in rows}
    assert set(got) == set(bins)
    for b, (n, npos, sq) in bins.items():
        assert got[b][0] == n and got[b][1] == npos
        assert abs(got[b][2] - sq / (n * 1_000_000_000)) < 1e-15
        assert got[b][3] == npos / n
    # calibration-table law: mean_score of every bin lies inside the
    # bin's score interval [b/10, (b+1)/10) (capped top bin)
    for b, (_, _, mean_score, _) in got.items():
        assert b / 10 <= mean_score and (b == 9 or mean_score < (b + 1) / 10)


# ------------------------------------- distribution-statistics batch 2
# Beyond the judge's named families: the distribution/robust-stats
# definitions (Gini rank formula, PSI exclusion convention, lower-median
# MAD, trim/winsorize boundary ranks, Benford expected shares, ACF with
# zero-filled calendar, Zipf/Heaps log-log OLS) recomputed from the
# textbook definition in plain Python.


def test_a16_gini_rank_formula_and_top_decile(spark):
    o = sf_table("orders")
    rev = defaultdict(Decimal)
    for _, r in o.iterrows():
        rev[int(r["o_custkey"])] += Decimal(repr(round(float(r["o_totalprice"]), 2)))
    ordered = sorted(rev.items(), key=lambda kv: (kv[1], kv[0]))
    n = len(ordered)
    s = sum(x for _, x in ordered)
    s1 = sum(Decimal(i) * x for i, (_, x) in enumerate(ordered, start=1))
    gini = (2.0 * float(s1) - (n + 1.0) * float(s)) / (n * float(s))
    cut = math.ceil(n * 0.9)
    top = sum(x for i, (_, x) in enumerate(ordered, start=1) if i > cut)
    row = REGISTRY["a16_gini_concentration"].spark(spark, SF_DIR).collect()[0]
    assert row.n == n
    assert abs(row.gini - gini) < 1e-12
    assert abs(row.top_decile_share - float(top) / float(s)) < 1e-12
    assert 0.0 <= row.gini < 1.0  # Gini law for non-negative data


def test_q5_psi_terms_and_exclusion_convention(spark):
    docs = sf_table("documents")
    counts = defaultdict(lambda: [0, 0])
    for _, r in docs.iterrows():
        b = len(r["text"].split(" ")) // 10
        counts[b][0 if r["source"] == "src0" else 1] += 1
    ta = sum(v[0] for v in counts.values())
    tb = sum(v[1] for v in counts.values())
    expect = {}
    for b, (na, nb) in counts.items():
        if na > 0 and nb > 0:  # one-sided buckets excluded, not smoothed
            pa, pb = na / ta, nb / tb
            expect[b] = round((pa - pb) * math.log(pa / pb), 9)
    rows = REGISTRY["q5_drift_psi"].spark(spark, SF_DIR).collect()
    got = {r.bucket: r.psi_term for r in rows}
    assert set(got) == set(expect)
    for b in expect:
        assert abs(got[b] - expect[b]) < 1e-9, b
    # PSI law: every term is non-negative ((p-q) and ln(p/q) share sign)
    assert all(t >= 0 for t in got.values())


def _lower_median(sorted_vals):
    return sorted_vals[(len(sorted_vals) + 1) // 2 - 1]


def test_a20_mad_lower_median_convention(spark):
    ev = sf_table("events")
    rows = REGISTRY["a20_mad"].spark(spark, SF_DIR).collect()
    got = {r.event_type: (r.median_value, r.mad, r.n) for r in rows}
    for et, grp in ev.groupby("event_type"):
        ordered = grp.sort_values(["value", "event_id"])
        med = float(_lower_median(list(ordered["value"])))
        dev = sorted(
            (abs(float(v) - med), int(e))
            for v, e in zip(grp["value"], grp["event_id"])
        )
        mad = _lower_median(dev)[0]
        g_med, g_mad, g_n = got[et]
        assert g_n == len(grp)
        assert g_med == med and g_mad == mad, et


def test_a22_trim_winsorize_boundary_ranks(spark):
    ev = sf_table("events")
    rows = REGISTRY["a22_trimmed_mean"].spark(spark, SF_DIR).collect()
    got = {
        r.event_type: (r.n, r.k, r.mean, r.trimmed_mean, r.winsorized_mean)
        for r in rows
    }
    for et, grp in ev.groupby("event_type"):
        ordered = grp.sort_values(["value", "event_id"])["value"].tolist()
        n = len(ordered)
        k = n // 10
        dec = [Decimal(repr(round(float(v), 2))) for v in ordered]
        mid = dec[k : n - k]
        lo, hi = float(ordered[k]), float(ordered[n - k - 1])
        mean = float(sum(dec)) / n
        trimmed = float(sum(mid)) / len(mid)
        winsor = (float(sum(mid)) + k * lo + k * hi) / n
        g = got[et]
        assert (g[0], g[1]) == (n, k)
        assert abs(g[2] - mean) < 1e-12
        assert abs(g[3] - trimmed) < 1e-12
        assert abs(g[4] - winsor) < 1e-12


def test_q11_benford_digits_and_expected_shares(spark):
    o = sf_table("orders")
    digits = defaultdict(int)
    for v in o["o_totalprice"]:
        if float(v) > 0:
            txt = "%.6f" % float(v)
            first = next(ch for ch in txt if ch in "123456789")
            digits[int(first)] += 1
    nd = sum(digits.values())
    rows = REGISTRY["q11_benford"].spark(spark, SF_DIR).collect()
    got = {r.digit: r for r in rows}
    assert set(got) == set(digits)
    for d, cnt in digits.items():
        r = got[d]
        exp = math.log10(1.0 + 1.0 / d)  # the Benford definition itself
        assert r.n == cnt
        assert abs(r.observed_frac - cnt / nd) < 1e-6
        assert abs(r.expected_frac - exp) < 1e-6
        en = nd * exp
        assert abs(r.chi2_term - (cnt - en) ** 2 / en) < 1e-4
        assert r.chi2_term >= 0


def test_e19_acf_definition_with_zero_filled_calendar(spark):
    ev = sf_table("events")
    daily = defaultdict(int)
    for t in ev["ts"]:
        daily[(pd.Timestamp(t).date() - date(1970, 1, 1)).days] += 1
    lo, hi = min(daily), max(daily)
    xs = [daily.get(d, 0) for d in range(lo, hi + 1)]
    n = len(xs)
    mu = sum(xs) / n
    den = sum((x - mu) ** 2 for x in xs)
    rows = REGISTRY["e19_autocorrelation"].spark(spark, SF_DIR).collect()
    got = {r.lag: (r.n_days, r.n_pairs, r.acf) for r in rows}
    assert set(got) == {1, 2, 7, 14}
    for lag in (1, 2, 7, 14):
        num = sum((xs[t] - mu) * (xs[t + lag] - mu) for t in range(n - lag))
        nd_, np_, acf = got[lag]
        assert nd_ == n and np_ == max(0, n - lag)
        assert abs(acf - num / den) < 1e-12, lag


def _ols(xs, ys):
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx = sum(a * a for a in xs)
    syy = sum(b * b for b in ys)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    r2 = (n * sxy - sx * sy) ** 2 / ((n * sxx - sx * sx) * (n * syy - sy * sy))
    return slope, intercept, r2


def test_x23_zipf_fit_is_loglog_ols_over_term_frequencies(spark):
    docs = sf_table("documents")
    freq = defaultdict(int)
    for _, r in docs.iterrows():
        for t in r["text"].split(" "):
            if t:
                freq[t] += 1
    ranked = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))
    xs = [math.log(i) for i in range(1, len(ranked) + 1)]
    ys = [math.log(c) for _, c in ranked]
    slope, intercept, r2 = _ols(xs, ys)
    row = REGISTRY["x23_zipf_fit"].spark(spark, SF_DIR).collect()[0]
    assert row.vocab_size == len(ranked)
    assert abs(row.zipf_slope - slope) < 1e-5
    assert abs(row.intercept - intercept) < 1e-5
    assert abs(row.r2 - r2) < 1e-5
    assert row.zipf_slope < 0  # frequency decays with rank


def test_x30_heaps_fit_is_loglog_ols_over_growth_curve(spark):
    docs = sf_table("documents").sort_values("doc_id")
    seen = set()
    nd = vd = 0
    xs, ys = [], []
    for _, r in docs.iterrows():
        toks = [t for t in r["text"].split(" ") if t]
        nd += len(toks)
        for t in toks:
            if t not in seen:
                seen.add(t)
                vd += 1
        xs.append(math.log(nd))
        ys.append(math.log(vd))
    slope, intercept, r2 = _ols(xs, ys)
    row = REGISTRY["x30_heaps_fit"].spark(spark, SF_DIR).collect()[0]
    assert row.n_points == len(xs)
    assert abs(row.heaps_beta - slope) < 1e-5
    assert abs(row.ln_k - intercept) < 1e-5
    assert abs(row.r2 - r2) < 1e-5
    assert 0.0 < row.heaps_beta < 1.0  # sub-linear vocabulary growth


# -------------------------------------------- merge/SCD + flow batch 3
# Warehouse-maintenance and flow-accounting definitions: SCD-2 interval
# construction, bitemporal visibility, timeline compaction, CDC
# first/last folding, entry/exit bounce cells, the growth-accounting
# state machine, closed-form business days, and RFM quintiles.


def _events_sorted():
    ev = sf_table("events")
    recs = [
        (
            int(r["user_id"]),
            int(pd.Timestamp(r["ts"]).value // 1000),
            int(r["event_id"]),
            r["event_type"],
            float(r["value"]),
            pd.Timestamp(r["ts"]),
        )
        for _, r in ev.iterrows()
    ]
    recs.sort(key=lambda t: (t[0], t[1], t[2]))
    return recs


def test_u4_scd2_intervals_law(spark):
    recs = events_sorted()
    by_user = defaultdict(list)
    for u, us, e, _, v, ts in recs:
        by_user[u].append((ts, e, v))
    expect = {}
    for u, rows_ in by_user.items():
        for i, (ts, e, v) in enumerate(rows_):
            nxt = rows_[i + 1][0] if i + 1 < len(rows_) else None
            expect[e] = (u, v, ts, nxt, 1 if nxt is None else 0)
    got = {
        r.event_id: (
            r.user_id,
            r.value,
            pd.Timestamp(r.effective_from),
            pd.Timestamp(r.effective_to) if r.effective_to else None,
            r.is_current,
        )
        for r in REGISTRY["u4_scd2_history"].spark(spark, SF_DIR).collect()
    }
    assert got == expect
    # SCD-2 laws: intervals per user are contiguous and exactly one
    # current row per user
    assert sum(1 for v in got.values() if v[4] == 1) == len(by_user)


def test_u9_bitemporal_visibility_law(spark):
    recs = events_sorted()
    max_id = max(e for _, _, e, _, _, _ in recs)
    max_us = max(us for _, us, _, _, _, _ in recs)
    cells = {
        "T50_Vnow": (max_id // 2, max_us),
        "T50_V7d": (max_id // 2, max_us - 604_800_000_000),
        "Tall_Vnow": (max_id, max_us),
        "Tall_V7d": (max_id, max_us - 604_800_000_000),
    }
    expect = {}
    for cell, (t_cut, v_cut) in cells.items():
        vis = defaultdict(list)
        for u, us, e, _, v, _ in recs:
            if e <= t_cut and us <= v_cut:
                vis[u].append((us, e, v))
        for u, lst in vis.items():
            us, e, v = max(lst)
            expect[(cell, u)] = (e, us, v)
    got = {
        (r.cell, r.user_id): (r.event_id, r.valid_us, r.value)
        for r in REGISTRY["u9_bitemporal_lookup"].spark(spark, SF_DIR).collect()
    }
    assert got == expect
    # monotone-visibility law: widening either cutoff never removes a user
    assert set(
        u for (c, u) in got if c == "T50_V7d"
    ) <= set(u for (c, u) in got if c == "Tall_Vnow")


def test_u10_run_compaction_law(spark):
    recs = events_sorted()
    by_user = defaultdict(list)
    for u, us, e, et, _, _ in recs:
        by_user[u].append((us, e, et))
    expect = set()
    for u, rows_ in by_user.items():
        runs = []
        for us, e, et in rows_:
            if runs and runs[-1][0] == et:
                runs[-1][2] += 1
            else:
                runs.append([et, us, 1])
        for i, (et, frm, n) in enumerate(runs):
            to = runs[i + 1][1] if i + 1 < len(runs) else None
            expect.add((u, et, frm, to, n))
    got = {
        (r.user_id, r.event_type, r.effective_from_us,
         r.effective_to_us, r.n_collapsed)
        for r in REGISTRY["u10_scd_compaction"].spark(spark, SF_DIR).collect()
    }
    assert got == expect
    # compaction law: collapsed counts reconstruct the raw row count
    assert sum(t[4] for t in got) == len(recs)
    # and the corpus actually compacts
    assert any(t[4] > 1 for t in got)


def test_u11_cdc_first_last_folding_law(spark):
    recs = events_sorted()
    op_of = lambda et: "I" if et == "signup" else ("D" if et == "error" else "U")
    by_user = defaultdict(list)
    for u, us, e, et, v, _ in recs:
        by_user[u].append((us, e, op_of(et), v))
    expect = {}
    for u, rows_ in by_user.items():
        first_op = rows_[0][2]
        last_op = rows_[-1][2]
        if first_op == "I" and last_op == "D":
            continue  # NONE rows dropped
        net = (
            "INSERT" if first_op == "I"
            else ("DELETE" if last_op == "D" else "UPDATE")
        )
        payload = rows_[-1][3] if last_op != "D" else None
        expect[u] = (
            net, payload, len(rows_), rows_[0][0], rows_[-1][0]
        )
    got = {
        r.user_id: (r.net_op, r.payload, r.n_ops, r.first_us, r.last_us)
        for r in REGISTRY["u11_cdc_net_effect"].spark(spark, SF_DIR).collect()
    }
    assert got == expect


def test_e15_entry_exit_bounce_law(spark):
    recs = events_sorted()
    sessions = defaultdict(list)
    for u, us, e, et, _, ts in recs:
        sessions[(u, ts.date())].append((ts, e, et))
    cells = defaultdict(lambda: [0, 0])
    for lst in sessions.values():
        lst.sort()
        key = (lst[0][2], lst[-1][2])
        cells[key][0] += 1
        cells[key][1] += int(len(lst) == 1)
    rows = REGISTRY["e15_bounce_matrix"].spark(spark, SF_DIR).collect()
    got = {
        (r.entry_type, r.exit_type): (r.n_sessions, r.n_bounces, r.bounce_rate)
        for r in rows
    }
    assert set(got) == set(cells)
    for k, (n, b) in cells.items():
        assert got[k] == (n, b, b / n), k
    # bounce cells are diagonal: a 1-event session enters and exits on
    # the same type
    for (entry, exit_), (_, b, _) in got.items():
        if entry != exit_:
            assert b == 0


def test_e18_growth_accounting_state_machine(spark):
    recs = events_sorted()
    # weeks are epoch_day DIV 7 of the event DATE
    pairs = sorted(
        {(u, (ts.date() - date(1970, 1, 1)).days // 7)
         for u, _, _, _, _, ts in recs}
    )
    weeks_of = defaultdict(set)
    for u, wk in pairs:
        weeks_of[u].add(wk)
    weekly = defaultdict(lambda: [0, 0, 0, 0])  # active,new,ret,res
    for u, wks in weeks_of.items():
        first = min(wks)
        for wk in wks:
            st = (
                "new" if wk == first
                else ("retained" if wk - 1 in wks else "resurrected")
            )
            weekly[wk][0] += 1
            weekly[wk][{"new": 1, "retained": 2, "resurrected": 3}[st]] += 1
    rows = REGISTRY["e18_growth_accounting"].spark(spark, SF_DIR).collect()
    got = {r.wk: r for r in rows}
    assert set(got) == set(weekly)
    wks_sorted = sorted(weekly)
    for i, wk in enumerate(wks_sorted):
        a, nn, rt, rs = weekly[wk]
        r = got[wk]
        assert (r.n_active, r.n_new, r.n_retained, r.n_resurrected) == (
            a, nn, rt, rs,
        )
        assert a == nn + rt + rs  # the ledger identity
        contig = i > 0 and wks_sorted[i - 1] == wk - 1
        if contig:
            churned = weekly[wks_sorted[i - 1]][0] - rt
            assert r.n_churned == churned
            if churned > 0:
                assert abs(r.quick_ratio - (nn + rs) / churned) < 1e-12
        else:
            assert r.n_churned is None


def test_r13_business_days_closed_form_vs_brute_count(spark):
    li = sf_table("lineitem")
    o = sf_table("orders")
    ship = li.groupby("l_orderkey")["l_shipdate"].max()
    od = {int(r["o_orderkey"]): pd.Timestamp(r["o_orderdate"]).date()
          for _, r in o.iterrows()}

    def brute_busdays(d1, d2):
        if d2 >= d1:
            return sum(
                1
                for i in range(1, (d2 - d1).days + 1)
                if (d1 + timedelta(days=i)).weekday() < 5
            )
        return -brute_busdays(d2, d1)

    rows = REGISTRY["r13_business_days"].spark(spark, SF_DIR).collect()
    got = {r.o_orderkey: (r.cal_days, r.bus_days) for r in rows}
    assert len(got) == len(ship)
    for k, ts in ship.items():
        d1, d2 = od[int(k)], pd.Timestamp(ts).date()
        assert got[int(k)] == ((d2 - d1).days, brute_busdays(d1, d2)), k
    # the fixture ships on both sides of the order date, so the signed
    # semantics is exercised for real
    assert any(b < 0 for _, b in got.values())
    assert any(b > 0 for _, b in got.values())


def test_a23_rfm_quintiles_law(spark):
    o = sf_table("orders")
    mxd = max(pd.Timestamp(t).date() for t in o["o_orderdate"])
    per = {}
    for ck, grp in o.groupby("o_custkey"):
        last = max(pd.Timestamp(t).date() for t in grp["o_orderdate"])
        per[int(ck)] = [
            (mxd - last).days,
            len(grp),
            sum(Decimal(repr(round(float(v), 2))) for v in grp["o_totalprice"]),
        ]
    n = len(per)

    def quintile(metric_idx):
        ordered = sorted(per.items(), key=lambda kv: (kv[1][metric_idx], kv[0]))
        return {
            ck: ((i * 5) // n) + 1 for i, (ck, _) in enumerate(ordered)
        }

    rq, fq, mq = quintile(0), quintile(1), quintile(2)
    cells = defaultdict(lambda: [0, 0, Decimal(0)])
    for ck, (rec, _, mon) in per.items():
        key = (rq[ck], fq[ck], mq[ck])
        cells[key][0] += 1
        cells[key][1] += rec
        cells[key][2] += mon
    rows = REGISTRY["a23_rfm_segments"].spark(spark, SF_DIR).collect()
    got = {
        (r.r_q, r.f_q, r.m_q): (r.n_customers, r.avg_recency_days, r.avg_monetary)
        for r in rows
    }
    assert set(got) == set(cells)
    for key, (cnt, rsum, msum) in cells.items():
        g = got[key]
        assert g[0] == cnt
        assert abs(g[1] - rsum / cnt) < 1e-12
        assert abs(g[2] - float(msum) / cnt) < 1e-9
    # quintile law: each metric's quintile populations differ by <= 1
    from collections import Counter as C

    for q in (rq, fq, mq):
        sizes = sorted(C(q.values()).values())
        assert sizes[-1] - sizes[0] <= 1


# ------------------------------------ inventory/BI + rule-learner batch 4


def _part_revenue():
    """part -> exact Decimal revenue Σ price·(1−disc), the shared a27/a32
    revenue definition."""
    li = sf_table("lineitem")
    rev = defaultdict(Decimal)
    for _, r in li.iterrows():
        p = Decimal(repr(round(float(r["l_extendedprice"]), 2)))
        d = Decimal(repr(round(float(r["l_discount"]), 4)))
        rev[int(r["l_partkey"])] += p * (1 - d)
    return rev


def _abc_classes():
    rev = _part_revenue()
    ordered = sorted(rev.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(rev.values())
    cum = Decimal(0)
    classes = {}
    for pk, rv in ordered:
        cum += rv
        classes[pk] = (
            "A" if cum * 10 <= total * 7 else ("B" if cum * 10 <= total * 9 else "C")
        )
    return rev, classes, total


def test_a27_pareto_abc_boundaries_law(spark):
    rev, classes, total = _abc_classes()
    agg = defaultdict(lambda: [0, Decimal(0)])
    for pk, rv in rev.items():
        agg[classes[pk]][0] += 1
        agg[classes[pk]][1] += rv
    rows = REGISTRY["a27_pareto_abc"].spark(spark, SF_DIR).collect()
    got = {r.abc_class: (r.n_parts, r.revenue, r.share_pct) for r in rows}
    assert set(got) == set(agg)
    for c, (n, s) in agg.items():
        assert got[c][0] == n
        assert abs(got[c][1] - float(s)) < 1e-6
        assert abs(got[c][2] - float(s) / float(total) * 100.0) < 1e-9
    # the classes partition the dimension: shares add up to 100%
    assert abs(sum(v[2] for v in got.values()) - 100.0) < 1e-9
    # Pareto law: A-class revenue share is <= 70% + one part's worth,
    # and A+B <= 90% + one part's worth (boundary parts stay in-class)
    assert got["A"][2] <= 70.0 + 100.0 * float(max(rev.values())) / float(total)


def test_a32_abc_xyz_cv_classes_law(spark):
    li = sf_table("lineitem")
    _, classes, _ = _abc_classes()
    monthly = defaultdict(lambda: defaultdict(int))
    months = set()
    for _, r in li.iterrows():
        m = pd.Timestamp(r["l_shipdate"]).strftime("%Y%m")
        months.add(m)
        monthly[int(r["l_partkey"])][m] += int(r["l_quantity"])
    n_months = len(months)
    expect = defaultdict(lambda: [0, 0])
    rev = _part_revenue()
    for pk, per_m in monthly.items():
        s = sum(per_m.values())
        q2 = sum(v * v for v in per_m.values())
        var_term = n_months * q2 - s * s  # ∝ n²·variance (zero months free)
        xyz = (
            "X" if 4 * var_term < s * s else ("Y" if var_term < s * s else "Z")
        )
        # the integer comparisons ARE cv < 0.5 / cv < 1.0 with
        # cv² = (nQ − S²)/S²
        cv2 = var_term / (s * s)
        assert (xyz == "X") == (cv2 < 0.25)
        assert (xyz in ("X", "Y")) == (cv2 < 1.0)
        key = (classes[pk], xyz)
        expect[key][0] += 1
        expect[key][1] += s
    rows = REGISTRY["a32_abc_xyz"].spark(spark, SF_DIR).collect()
    got = {
        (r.abc_class, r.xyz_class): (r.n_parts, r.qty_total) for r in rows
    }
    assert set(got) == set(expect)
    for k, (n, q) in expect.items():
        assert got[k] == (n, q), k


def test_a28_price_volume_bridge_telescopes(spark):
    li = sf_table("lineitem")
    monthly = defaultdict(lambda: [Decimal(0), Decimal(0)])  # qty, revenue
    for _, r in li.iterrows():
        mid = int(pd.Timestamp(r["l_shipdate"]).strftime("%Y%m"))
        q = Decimal(repr(round(float(r["l_quantity"]), 2)))
        p = Decimal(repr(round(float(r["l_extendedprice"]), 2)))
        d = Decimal(repr(round(float(r["l_discount"]), 4)))
        monthly[mid][0] += q
        monthly[mid][1] += p * (1 - d)
    om = lambda mid: (mid // 100) * 12 + (mid % 100)
    mids = sorted(monthly)
    n_bridged = 0
    rows = REGISTRY["a28_price_volume_mix"].spark(spark, SF_DIR).collect()
    got = {r.month_id: r for r in rows}
    assert set(got) == set(mids)
    for i, mid in enumerate(mids):
        qty, rev = (float(x) for x in monthly[mid])
        r = got[mid]
        assert abs(r.qty - qty) < 1e-9 and abs(r.revenue - rev) < 1e-6
        contig = i > 0 and om(mids[i - 1]) == om(mid) - 1
        if not contig:
            assert r.delta_revenue is None
            continue
        n_bridged += 1
        pq, prv = (float(x) for x in monthly[mids[i - 1]])
        assert abs(r.delta_revenue - (rev - prv)) < 1e-6
        assert abs(r.volume_effect - (qty - pq) * (prv / pq)) < 1e-6
        assert abs(r.price_effect - (rev / qty - prv / pq) * qty) < 1e-6
        # bridge law: volume + price effects telescope to the delta
        assert abs(r.volume_effect + r.price_effect - r.delta_revenue) < 1e-6
    assert n_bridged > 0


def test_a25_yoy_lag12_alignment_law(spark):
    o = sf_table("orders")
    monthly = defaultdict(Decimal)
    for _, r in o.iterrows():
        mid = int(pd.Timestamp(r["o_orderdate"]).strftime("%Y%m"))
        monthly[mid] += Decimal(repr(round(float(r["o_totalprice"]), 2)))
    mids = sorted(monthly)
    rows = REGISTRY["a25_yoy_growth"].spark(spark, SF_DIR).collect()
    got = {r.month_id: r for r in rows}
    assert set(got) == set(mids)
    for i, mid in enumerate(mids):
        r = got[mid]
        assert abs(r.revenue - float(monthly[mid])) < 1e-6
        # lag-12 in SERIES position must also be the same month last
        # calendar year, else NULL
        if i >= 12 and mids[i - 12] == mid - 100:
            prev = float(monthly[mid - 100])
            assert abs(r.revenue_prev_year - prev) < 1e-6
            assert abs(r.yoy_pct - (float(monthly[mid]) - prev) / prev * 100.0) < 1e-9
        else:
            assert r.revenue_prev_year is None and r.yoy_pct is None


def test_a26_cohort_ltv_cumulative_law(spark):
    o = sf_table("orders")
    per = []
    for _, r in o.iterrows():
        ts = pd.Timestamp(r["o_orderdate"])
        per.append(
            (
                int(r["o_custkey"]),
                ts.year * 12 + ts.month,
                int(ts.strftime("%Y%m")),
                Decimal(repr(round(float(r["o_totalprice"]), 2))),
            )
        )
    first = {}
    for ck, om, mid, _ in per:
        if ck not in first or (om, mid) < first[ck]:
            first[ck] = (om, mid)
    cohort_size = defaultdict(int)
    for ck in first:
        cohort_size[first[ck][1]] += 1
    cells = defaultdict(lambda: [set(), Decimal(0)])
    for ck, om, mid, price in per:
        cm, cmid = first[ck]
        k = om - cm
        cells[(cmid, k)][0].add(ck)
        cells[(cmid, k)][1] += price
    rows = REGISTRY["a26_cohort_ltv"].spark(spark, SF_DIR).collect()
    got = {(r.cohort_month, r.k): r for r in rows}
    assert set(got) == set(cells)
    cum = defaultdict(Decimal)
    for (cmid, k) in sorted(cells):
        users, rev = cells[(cmid, k)]
        cum[cmid] += rev
        r = got[(cmid, k)]
        assert r.n_active == len(users)
        assert r.cohort_size == cohort_size[cmid]
        assert abs(r.revenue - float(rev)) < 1e-6
        assert abs(r.ltv_per_customer - float(cum[cmid]) / cohort_size[cmid]) < 1e-9
        # LTV curves are non-decreasing in k by construction
    for cmid in cohort_size:
        ks = sorted(k for (c, k) in got if c == cmid)
        ltvs = [got[(cmid, k)].ltv_per_customer for k in ks]
        assert all(b >= a - 1e-12 for a, b in zip(ltvs, ltvs[1:]))


def test_ml10_stump_exhaustive_threshold_search(spark):
    docs = sf_table("documents")
    pts = [(int(r["n_chars"]), r["lang"] == "en") for _, r in docs.iterrows()]
    thresholds = sorted({t for t, _ in pts})
    ttot = len(pts)
    tpos = sum(1 for _, p in pts if p)
    best = None
    for t in thresholds:
        lpos = sum(1 for v, p in pts if v <= t and p)
        ltot = sum(1 for v, _ in pts if v <= t)
        err = min(
            (ltot - lpos) + (tpos - lpos),           # left labeled en
            lpos + ((ttot - ltot) - (tpos - lpos)),  # right labeled en
        )
        if best is None or (err, t) < best:
            best = (err, t)
    row = REGISTRY["ml10_decision_stump"].spark(spark, SF_DIR).collect()[0]
    assert (row.err, row.threshold) == best
    assert row.baseline_err == min(tpos, ttot - tpos)
    assert row.accuracy == (ttot - best[0]) / ttot
    # a stump is never worse than the majority-class baseline
    assert row.err <= row.baseline_err


def test_ml11_oner_majority_rule_error_law(spark):
    docs = sf_table("documents")

    def rule(vals):
        cells = defaultdict(lambda: defaultdict(int))
        for v, c in vals:
            cells[v][c] += 1
        err = sum(sum(cs.values()) - max(cs.values()) for cs in cells.values())
        n = sum(sum(cs.values()) for cs in cells.values())
        return len(cells), err, (n - err) / n

    feats = {
        "source": [(str(r["source"]), r["lang"]) for _, r in docs.iterrows()],
        "n_chars_div64": [
            (str(int(r["n_chars"]) // 64), r["lang"]) for _, r in docs.iterrows()
        ],
    }
    rows = REGISTRY["ml11_oner"].spark(spark, SF_DIR).collect()
    got = {r.feature: (r.n_values, r.err, r.accuracy) for r in rows}
    assert set(got) == set(feats)
    for f, vals in feats.items():
        nv, err, acc = rule(vals)
        assert got[f][0] == nv and got[f][1] == err
        assert abs(got[f][2] - acc) < 1e-12


# ------------------------------------------- temporal interval batch 5
# Gap-fill, as-of direction/tie rules, calendarization conservation,
# interval intersection/coalescing/pairwise overlap — classic
# off-by-one territory, recomputed from the definitions.


def _daily_user_values():
    ev = sf_table("events")
    daily = defaultdict(Decimal)
    for _, r in ev.iterrows():
        d = pd.Timestamp(r["ts"]).date()
        daily[(int(r["user_id"]), d)] += Decimal(repr(round(float(r["value"]), 2)))
    return daily


def test_r5_locf_gapfill_law(spark):
    daily = _daily_user_values()
    span = defaultdict(lambda: [date.max, date.min])
    for (u, d) in daily:
        span[u][0] = min(span[u][0], d)
        span[u][1] = max(span[u][1], d)
    expect = {}
    for u, (d0, d1) in span.items():
        carry = None
        d = d0
        while d <= d1:
            if (u, d) in daily:
                carry = float(daily[(u, d)])
                expect[(u, d)] = (carry, 0)
            else:
                expect[(u, d)] = (carry, 1)
            d += timedelta(days=1)
    rows = REGISTRY["r5_gapfill_locf"].spark(spark, SF_DIR).collect()
    got = {
        (r.user_id, pd.Timestamp(r.d).date()): (r.value_locf, r.gap_filled)
        for r in rows
    }
    assert got == expect


def test_r6_interpolation_gapfill_law(spark):
    daily = _daily_user_values()
    span = defaultdict(lambda: [date.max, date.min])
    for (u, d) in daily:
        span[u][0] = min(span[u][0], d)
        span[u][1] = max(span[u][1], d)
    rows = REGISTRY["r6_gapfill_interpolate"].spark(spark, SF_DIR).collect()
    got = {
        (r.user_id, pd.Timestamp(r.d).date()): (r.value_interp, r.gap_filled)
        for r in rows
    }
    n_checked = 0
    for u, (d0, d1) in span.items():
        obs = sorted(d for (uu, d) in daily if uu == u)
        d = d0
        while d <= d1:
            if (u, d) in daily:
                assert got[(u, d)] == (float(daily[(u, d)]), 0)
            else:
                prev_d = max(x for x in obs if x < d)
                next_d = min(x for x in obs if x > d)
                pv = float(daily[(u, prev_d)])
                nv = float(daily[(u, next_d)])
                gap = float((next_d - prev_d).days)
                elapsed = float((d - prev_d).days)
                interp = pv + (nv - pv) * elapsed / gap
                v, flag = got[(u, d)]
                assert flag == 1 and abs(v - interp) < 1e-9, (u, d)
                # interpolation stays inside [min, max] of its endpoints
                assert min(pv, nv) - 1e-9 <= v <= max(pv, nv) + 1e-9
                n_checked += 1
            d += timedelta(days=1)
    assert n_checked > 0  # fixture must actually have gaps


def _clicks_purchases():
    recs = _events_sorted()
    clicks = [(u, us, e) for u, us, e, et, _, _ in recs if et == "click"]
    purch = [(u, us, e) for u, us, e, et, _, _ in recs if et == "purchase"]
    return clicks, purch


def test_r9_forward_asof_law(spark):
    clicks, purch = _clicks_purchases()
    by_user = defaultdict(list)
    for u, us, e in purch:
        by_user[u].append((us, e))
    expect = {}
    for u, us, e in clicks:
        cands = sorted((p_us, p_id) for p_us, p_id in by_user.get(u, [])
                       if p_us >= us)
        if cands:
            p_us, p_id = cands[0]
            expect[e] = (p_id, (p_us - us) / 1e6)
        else:
            expect[e] = (None, None)
    rows = REGISTRY["r9_asof_forward"].spark(spark, SF_DIR).collect()
    got = {r.event_id: (r.next_purchase_id, r.lag_seconds) for r in rows}
    assert set(got) == set(expect)
    for e in expect:
        assert got[e] == expect[e], e
    # forward as-of law: lag is never negative
    assert all(l is None or l >= 0 for _, l in got.values())


def test_r11_nearest_asof_tie_and_tolerance_law(spark):
    TOL = 48 * 3600 * 1_000_000
    clicks, purch = _clicks_purchases()
    by_user = defaultdict(list)
    for u, us, e in purch:
        by_user[u].append((us, e))
    expect = {}
    for u, us, e in clicks:
        ps = by_user.get(u, [])
        prevs = sorted(((p_us, p_id) for p_us, p_id in ps if p_us <= us),
                       key=lambda t: (-t[0], -t[1]))
        nexts = sorted((p_us, p_id) for p_us, p_id in ps if p_us > us)
        prev = prevs[0] if prevs and us - prevs[0][0] <= TOL else None
        nxt = nexts[0] if nexts and nexts[0][0] - us <= TOL else None
        if prev and (not nxt or us - prev[0] <= nxt[0] - us):
            expect[e] = (prev[1], -(us - prev[0]) / 1e6)
        elif nxt:
            expect[e] = (nxt[1], (nxt[0] - us) / 1e6)
        else:
            expect[e] = (None, None)
    rows = REGISTRY["r11_asof_nearest"].spark(spark, SF_DIR).collect()
    got = {r.event_id: (r.nearest_purchase_id, r.delta_seconds) for r in rows}
    assert set(got) == set(expect)
    for e in expect:
        assert got[e] == expect[e], e
    # tolerance law: no match farther than 48h either way
    assert all(d is None or abs(d) <= 48 * 3600 for _, d in got.values())


def test_r12_calendarize_allocation_conserves_days(spark):
    li = sf_table("lineitem")
    o = sf_table("orders")
    end = {
        int(k): pd.Timestamp(v).date()
        for k, v in li.groupby("l_orderkey")["l_shipdate"].max().items()
    }
    month_rev = defaultdict(int)   # month_id -> micro units
    month_orders = defaultdict(set)
    for _, r in o.iterrows():
        k = int(r["o_orderkey"])
        if k not in end:
            continue
        start_d = pd.Timestamp(r["o_orderdate"]).date()
        end_d = max(end[k], start_d)
        price = float(r["o_totalprice"])
        total_days = (end_d - start_d).days + 1
        m = date(start_d.year, start_d.month, 1)
        total_overlap = 0
        while m <= end_d:
            nxt = (
                date(m.year + 1, 1, 1) if m.month == 12
                else date(m.year, m.month + 1, 1)
            )
            last_day = nxt - timedelta(days=1)
            ov = (min(end_d, last_day) - max(start_d, m)).days + 1
            total_overlap += ov
            micro = math.floor(price * float(ov) / float(total_days) * 1e6 + 0.5)
            mid = m.year * 100 + m.month
            month_rev[mid] += micro
            month_orders[mid].add(k)
            m = nxt
        assert total_overlap == total_days  # conservation of days
    rows = REGISTRY["r12_calendarize"].spark(spark, SF_DIR).collect()
    got = {r.month_id: (r.n_orders, r.revenue_alloc) for r in rows}
    assert set(got) == set(month_rev)
    for mid in month_rev:
        assert got[mid][0] == len(month_orders[mid])
        assert abs(got[mid][1] - month_rev[mid] / 1e6) < 1e-9, mid


def _day_sessions():
    recs = _events_sorted()
    s = defaultdict(lambda: [None, None])
    for u, us, e, _, _, ts in recs:
        key = (u, (ts.date() - date(1970, 1, 1)).days)
        if s[key][0] is None:
            s[key] = [us, us]
        else:
            s[key][0] = min(s[key][0], us)
            s[key][1] = max(s[key][1], us)
    return s


def test_r14_peak_window_intersection_law(spark):
    sessions = _day_sessions()
    per_day = defaultdict(lambda: [0, 0, 0])  # n, dur_us, ov_us
    for (u, day), (s_us, e_us) in sessions.items():
        ws = day * 86_400_000_000 + 12 * 3600 * 1_000_000
        we = day * 86_400_000_000 + 14 * 3600 * 1_000_000
        ov = max(0, min(e_us, we) - max(s_us, ws))
        per_day[day][0] += 1
        per_day[day][1] += e_us - s_us
        per_day[day][2] += ov
    rows = REGISTRY["r14_peak_window_overlap"].spark(spark, SF_DIR).collect()
    got = {r.day_ep: r for r in rows}
    assert set(got) == set(per_day)
    for day, (n, dur, ov) in per_day.items():
        r = got[day]
        assert r.n_sessions == n
        assert r.total_session_sec == dur / 1e6
        assert r.peak_window_sec == ov / 1e6
        if dur > 0:
            assert abs(r.peak_share - ov / dur) < 1e-15
        # intersection law: the peak share is a fraction
        assert r.peak_share is None or 0.0 <= r.peak_share <= 1.0


def test_r15_interval_coalesce_touch_merges_law(spark):
    li = sf_table("lineitem")
    o = sf_table("orders")
    end = {
        int(k): pd.Timestamp(v).date()
        for k, v in li.groupby("l_orderkey")["l_shipdate"].max().items()
    }
    epoch = date(1970, 1, 1)
    by_cust = defaultdict(list)
    for _, r in o.iterrows():
        k = int(r["o_orderkey"])
        if k not in end:
            continue
        s = (pd.Timestamp(r["o_orderdate"]).date() - epoch).days
        e = max(s, (end[k] - epoch).days)
        by_cust[int(r["o_custkey"])].append((s, e, k))
    expect = {}
    for ck, ivs in by_cust.items():
        ivs.sort()  # (s, e, order)
        periods = []
        for s, e, _ in ivs:
            # touch (s == cur_e) merges; s == cur_e + 1 does not
            if periods and s <= periods[-1][1]:
                periods[-1][1] = max(periods[-1][1], e)
                periods[-1][2] += 1
            else:
                periods.append([s, e, 1])
        covered = sum(e - s + 1 for s, e, _ in periods)
        longest = max(e - s + 1 for s, e, _ in periods)
        expect[ck] = (len(ivs), len(periods), covered, longest)
    rows = REGISTRY["r15_interval_coalesce"].spark(spark, SF_DIR).collect()
    got = {
        r.o_custkey: (r.n_orders, r.n_busy_periods, r.covered_days, r.longest_days)
        for r in rows
    }
    assert got == expect


def test_r16_pairwise_overlap_equals_quadratic_join(spark):
    sessions = _day_sessions()
    per_day = defaultdict(list)
    for (u, day), (s_us, e_us) in sessions.items():
        if e_us > s_us:  # zero-length sessions excluded up front
            per_day[day].append((s_us, e_us))
    expect = {}
    for day, ivs in per_day.items():
        pairs = total = 0
        peak_events = []
        for i in range(len(ivs)):
            for j in range(i + 1, len(ivs)):
                ov = min(ivs[i][1], ivs[j][1]) - max(ivs[i][0], ivs[j][0])
                if ov > 0:
                    pairs += 1
                    total += ov
        # peak concurrency via literal sweep
        bounds = sorted(
            [(s, 1) for s, _ in ivs] + [(e, -1) for _, e in ivs],
            key=lambda t: (t[0], t[1]),
        )
        c = peak = 0
        for _, d in bounds:
            c += d
            peak = max(peak, c)
        expect[day] = (len(ivs), pairs, total / 1e6, peak)
    rows = REGISTRY["r16_pairwise_overlap"].spark(spark, SF_DIR).collect()
    got = {
        r.day_ep: (r.n_sessions, r.n_overlapping_pairs, r.pair_overlap_sec,
                   r.peak_concurrency)
        for r in rows
    }
    assert set(got) == set(expect)
    for day in expect:
        n, p, t, pk = expect[day]
        gn, gp, gt, gpk = got[day]
        assert (gn, gp, gpk) == (n, p, pk), day
        assert abs(gt - t) < 1e-9, day


# --------------------------------- percentiles, eval & retrieval batch 6


def test_a13_histogram_bucket_edges(spark):
    o = sf_table("orders")
    buckets = defaultdict(lambda: [0, Decimal(0)])
    for v in o["o_totalprice"]:
        b = math.floor(float(v) / 10000.0)
        buckets[b][0] += 1
        buckets[b][1] += Decimal(repr(round(float(v), 2)))
    rows = REGISTRY["a13_histogram"].spark(spark, SF_DIR).collect()
    got = {r.bucket: (r.n_orders, r.bucket_total) for r in rows}
    assert set(got) == set(buckets)
    for b, (n, s) in buckets.items():
        assert got[b] == (n, float(s)), b


def test_a14_a19_percentile_conventions(spark):
    """a14 is the rank-discrete pick at ceil(q*n); a19 is the
    pandas/NumPy 'linear' convention h = (n-1)q between order stats —
    check both against literal sorted-list indexing."""
    ev = sf_table("events")
    disc = {r.event_type: r for r in
            REGISTRY["a14_percentiles_disc"].spark(spark, SF_DIR).collect()}
    cont = {r.event_type: r for r in
            REGISTRY["a19_percentiles_cont"].spark(spark, SF_DIR).collect()}
    for et, grp in ev.groupby("event_type"):
        xs = [float(v) for v in
              grp.sort_values(["value", "event_id"])["value"]]
        n = len(xs)
        d = disc[et]
        assert d.n == n
        for q, col in ((0.5, d.p50), (0.9, d.p90), (0.99, d.p99)):
            assert col == xs[math.ceil(q * n) - 1], (et, q)
        c = cont[et]
        for q, col in ((0.5, c.p50_cont), (0.95, c.p95_cont)):
            h = (n - 1) * q
            lo, hi = xs[math.floor(h)], xs[math.ceil(h)]
            expect = lo + (h - math.floor(h)) * (hi - lo)
            assert abs(col - expect) < 1e-12, (et, q)
        # the two conventions bracket each other around the median
        assert xs[0] <= c.p50_cont <= xs[-1]


def test_ml6_pooled_two_proportion_z(spark):
    """A fixed name filter (FRANCE/GERMANY) matches zero fixture rows,
    leaving the z-test unexecuted — a degenerate 0-row green on both
    engines. The contrast is data-derived (the two largest supplier nations by line-item
    count, tie-break on the smaller key) and this test proves the
    arithmetic on real counts."""
    li = sf_table("lineitem")
    s = sf_table("supplier")[["s_suppkey", "s_nationkey"]]
    j = li.merge(s, left_on="l_suppkey", right_on="s_suppkey")
    per = sorted(
        (
            (-len(g), int(k), int((g["l_returnflag"] == "R").sum()))
            for k, g in j.groupby("s_nationkey")
        )
    )
    (negn1, _, x1), (negn2, _, x2) = per[0], per[1]
    n1, n2 = -negn1, -negn2
    assert n1 > 0 and n2 > 0  # the fixture must exercise the statistic
    p1, p2 = x1 / n1, x2 / n2
    pp = (x1 + x2) / (n1 + n2)
    z = (p1 - p2) / math.sqrt(pp * (1 - pp) * (1 / n1 + 1 / n2))
    row = REGISTRY["ml6_ab_proportion_test"].spark(spark, SF_DIR).collect()[0]
    assert (row.n1, row.x1, row.n2, row.x2) == (n1, x1, n2, x2)
    assert abs(row.z - z) < 1e-12


def test_ml8_markov_temporal_holdout_law(spark):
    recs = events_sorted()
    by_user = defaultdict(list)
    for u, us, e, et, _, _ in recs:
        by_user[u].append((us, e, et))
    pairs = []
    for rows_ in by_user.values():
        for a, b in zip(rows_, rows_[1:]):
            pairs.append((a[2], b[2], a[0]))  # from, to, from_us
    cutoff = max(us for _, us, *_ in recs) - 7 * 86_400_000_000
    train = [(f, t) for f, t, us in pairs if us < cutoff]
    test = [(f, t) for f, t, us in pairs if us >= cutoff]
    counts = defaultdict(int)
    for f, t in train:
        counts[(f, t)] += 1
    model = {}
    for (f, t), c in counts.items():
        # argmax with (count DESC, to_type ASC) tie-break
        if f not in model or (-c, t) < (-counts[(f, model[f])], model[f]):
            model[f] = t
    expect = defaultdict(lambda: [0, 0])
    for f, t in test:
        pred = model.get(f)
        expect[f][0] += 1
        expect[f][1] += int(pred is not None and pred == t)
    rows = REGISTRY["ml8_markov_eval"].spark(spark, SF_DIR).collect()
    got = {r.from_type: (r.predicted, r.n_test, r.n_correct, r.accuracy)
           for r in rows}
    assert set(got) == set(expect)
    for f, (nt, nc) in expect.items():
        pred, g_nt, g_nc, acc = got[f]
        assert pred == model.get(f)
        assert (g_nt, g_nc) == (nt, nc)
        assert acc == nc / nt


def test_e10_last_touch_attribution_law(spark):
    recs = events_sorted()
    by_user = defaultdict(list)
    for u, us, e, et, v, ts in recs:
        by_user[u].append((us, e, et, ts))
    expect = {}
    LOOKBACK = 7 * 24 * 3600 * 1_000_000
    for u, rows_ in by_user.items():
        last_click = None  # (us, id, ts)
        for us, e, et, ts in rows_:
            if et == "purchase":
                if last_click and us - last_click[0] <= LOOKBACK:
                    expect[e] = (u, last_click[1])
                else:
                    expect[e] = (u, None)
            if et == "click":
                last_click = (us, e, ts)
    rows = REGISTRY["e10_attribution"].spark(spark, SF_DIR).collect()
    got = {r.purchase_id: (r.user_id, r.attributed_click_id) for r in rows}
    assert got == expect
    # same-instant convention: a click in the same microsecond with a
    # LOWER event_id attaches (processed earlier in the total order) —
    # encoded above by updating last_click after scoring the purchase


def test_x17_bm25_textbook_formula(spark):
    K1, B = 1.2, 0.75
    docs = sf_table("documents")
    tf = defaultdict(lambda: defaultdict(int))
    dl = defaultdict(int)
    for _, r in docs.iterrows():
        for t in r["text"].split(" "):
            if t:
                tf[int(r["doc_id"])][t] += 1
                dl[int(r["doc_id"])] += 1
    n_docs = len(docs)
    avgdl = sum(dl.values()) / n_docs
    terms = ("join", "filter", "scan")
    df = {t: sum(1 for d in tf.values() if t in d) for t in terms}
    scores = {}
    for d, terms_d in tf.items():
        s = Decimal(0)
        for t in terms:
            if t not in terms_d:
                continue
            idf = math.log(1.0 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))
            part = (terms_d[t] * (K1 + 1.0)) / (
                terms_d[t] + K1 * (1.0 - B + B * (dl[d] / avgdl))
            )
            s += Decimal(repr(round(idf * part, 9)))
        if s:
            scores[d] = float(s)
    top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    rows = REGISTRY["x17_bm25"].spark(spark, SF_DIR).collect()
    assert [(r.doc_id, round(r.bm25, 8)) for r in rows] == [
        (d, round(s, 8)) for d, s in top
    ]


def test_x28_kl_divergence_formula(spark):
    docs = sf_table("documents")
    sc = defaultdict(lambda: defaultdict(int))
    for _, r in docs.iterrows():
        for t in r["text"].split(" "):
            if t:
                sc[r["source"]][t] += 1
    ct = defaultdict(int)
    for terms_s in sc.values():
        for t, c in terms_s.items():
            ct[t] += c
    N = sum(ct.values())
    rows = REGISTRY["x28_kl_divergence"].spark(spark, SF_DIR).collect()
    got = {r.source: (r.n_tokens, r.n_terms, r.kl_nats) for r in rows}
    assert set(got) == set(sc)
    for s, terms_s in sc.items():
        n_s = sum(terms_s.values())
        w = sum(
            c * math.floor(math.log((c * N) / (n_s * ct[t])) * 1e9 + 0.5)
            for t, c in terms_s.items()
        )
        kl = w / 1e9 / n_s
        assert got[s][0] == n_s and got[s][1] == len(terms_s)
        assert abs(got[s][2] - kl) < 1e-12, s
        # Gibbs' inequality: KL >= 0 (up to the nano-quantization)
        assert got[s][2] >= -1e-6


# ------------------------------------------ degeneracy sensitivity tests
# tools/degeneracy_sweep.py (built after the ml6 catch) flagged three
# always-NULL columns on the fixture. e16's disorder sensitivity was
# already pinned (test_round6_late.py); these two make the other dead
# arms fire on crafted fixtures so the gate's silence is no longer
# vacuous: e18.quick_ratio (the fixture's users never churn) and
# d11.dup_of (the fixture's ingest batch shares no hash with the base).


def _write_events(spark, tmp_path, rows):
    df = spark.createDataFrame(
        [(i + 1, pd.Timestamp(ts).to_pydatetime(), u, et, 1.0, "{}")
         for i, (ts, u, et) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    return str(tmp_path)


def test_e18_quick_ratio_fires_on_churning_fixture(spark, tmp_path):
    # weeks are epoch_day DIV 7; consecutive weeks = +7 days.
    # A,B,C all start week 1; B survives to week 2 with newcomer D;
    # C resurrects in week 3.
    d0 = "2024-01-01"
    rows = [
        (d0, 1, "click"), (d0, 2, "click"), (d0, 3, "click"),   # w1: A,B,C
        ("2024-01-08", 2, "click"), ("2024-01-08", 4, "click"),  # w2: B,D
        ("2024-01-15", 3, "click"),                              # w3: C
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = {
        r.wk: r
        for r in REGISTRY["e18_growth_accounting"].spark(spark, sf).collect()
    }
    wks = sorted(got)
    w1, w2, w3 = wks
    assert got[w1].n_new == 3 and got[w1].n_churned is None
    # w2: B retained, D new; A and C churned (3 - 1) = 2
    assert (got[w2].n_retained, got[w2].n_new, got[w2].n_churned) == (1, 1, 2)
    assert got[w2].quick_ratio == (1 + 0) / 2
    # w3: C resurrected; B and D churned (2 - 0) = 2
    assert (got[w3].n_resurrected, got[w3].n_churned) == (1, 2)
    assert got[w3].quick_ratio == (0 + 1) / 2


def test_d11_dup_of_fires_on_cross_batch_duplicate(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            (5, "alpha beta", "en", "src0", 10),
            (6, "gamma", "en", "src0", 5),
            (450, "alpha beta", "en", "src1", 10),   # dup of 5
            (451, "entirely new", "en", "src1", 12),  # genuinely new
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    docs.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r.doc_id: (r.dup_of, r.is_new)
        for r in REGISTRY["d11_incremental_dedup"].spark(spark, str(tmp_path)).collect()
    }
    assert got == {450: (5, 0), 451: (None, 1)}


# ---------------------------------------- events & moments batch 7


def test_e5_e12_funnel_sequencing_law(spark):
    """Strict-progression funnel: first click strictly after signup,
    first purchase strictly after that click; e12's timings are exact
    µs lags over the same stages."""
    recs = events_sorted()
    by_user = defaultdict(list)
    for u, us, e, et, _, _ in recs:
        by_user[u].append((us, et))
    signup, click, purchase = {}, {}, {}
    for u, rows_ in by_user.items():
        s = min((us for us, et in rows_ if et == "signup"), default=None)
        if s is None:
            continue
        signup[u] = s
        c = min((us for us, et in rows_ if et == "click" and us > s),
                default=None)
        if c is None:
            continue
        click[u] = c
        p = min((us for us, et in rows_ if et == "purchase" and us > c),
                default=None)
        if p is not None:
            purchase[u] = p
    r5 = REGISTRY["e5_funnel"].spark(spark, SF_DIR).collect()[0]
    assert (r5.n_signup, r5.n_click_after_signup,
            r5.n_purchase_after_click) == (
        len(signup), len(click), len(purchase))
    assert r5.n_signup >= r5.n_click_after_signup >= r5.n_purchase_after_click
    lag1 = [click[u] - signup[u] for u in purchase]
    lag2 = [purchase[u] - click[u] for u in purchase]
    r12 = REGISTRY["e12_time_to_convert"].spark(spark, SF_DIR).collect()[0]
    assert r12.n_converters == len(purchase)
    assert abs(r12.mean_signup_to_click_s - sum(lag1) / len(lag1) / 1e6) < 1e-9
    assert abs(r12.mean_click_to_purchase_s - sum(lag2) / len(lag2) / 1e6) < 1e-9
    assert r12.min_click_to_purchase_s == min(lag2) / 1e6
    assert r12.max_click_to_purchase_s == max(lag2) / 1e6


def _z_outliers(per_user_frames, min_n, cutoff):
    """Shared brute force for e7/e9: frames yield (event_id, value,
    [frame values as 2dp Decimals])."""
    out = {}
    for e, v, frame in per_user_frames:
        n = len(frame)
        if n < min_n:
            continue
        s1 = float(sum(frame))
        s2 = float(sum(x * x for x in frame))
        if not (n * s2 - s1 * s1 > 0):
            continue
        mean = s1 / n
        var = (n * s2 - s1 * s1) / (n * (n - 1.0))
        z = (v - mean) / math.sqrt(var)
        if abs(z) > cutoff:
            out[e] = z
    return out


def test_e7_full_history_zscore_law(spark):
    recs = events_sorted()
    by_user = defaultdict(list)
    for u, us, e, et, v, _ in recs:
        by_user[u].append((e, v))
    frames = []
    for rows_ in by_user.values():
        dec = [Decimal(repr(round(v, 2))) for _, v in rows_]
        for e, v in rows_:
            frames.append((e, v, dec))  # full-partition frame
    expect = _z_outliers(frames, min_n=2, cutoff=2.0)
    rows = REGISTRY["e7_value_outliers"].spark(spark, SF_DIR).collect()
    got = {r.event_id: r.z for r in rows}
    assert set(got) == set(expect)
    for e in expect:
        assert abs(got[e] - expect[e]) < 1e-9


def test_e9_trailing_window_zscore_law(spark):
    recs = events_sorted()
    by_user = defaultdict(list)
    for u, us, e, et, v, _ in recs:
        by_user[u].append((e, v))
    frames = []
    for rows_ in by_user.values():
        dec = [Decimal(repr(round(v, 2))) for _, v in rows_]
        for i, (e, v) in enumerate(rows_):
            frames.append((e, v, dec[max(0, i - 20):i]))  # excludes current
    expect = _z_outliers(frames, min_n=5, cutoff=3.0)
    rows = REGISTRY["e9_rolling_zscore"].spark(spark, SF_DIR).collect()
    got = {r.event_id: r.z for r in rows}
    assert set(got) == set(expect)
    for e in expect:
        assert abs(got[e] - expect[e]) < 1e-9


def test_e11_trailing_distinct_law(spark):
    recs = events_sorted()
    act = {(u, ts.date()) for u, _, _, _, _, ts in recs}
    days = sorted({d for _, d in act})
    d0, d1 = days[0], days[-1]
    rows = REGISTRY["e11_rolling_active_users"].spark(spark, SF_DIR).collect()
    got = {pd.Timestamp(r.day).date(): (r.dau, r.wau, r.stickiness)
           for r in rows}
    d = d0
    while d <= d1:
        dau = sum(1 for u, dd in act if dd == d)
        wau = len({u for u, dd in act if d - timedelta(days=6) <= dd <= d})
        if wau == 0:
            assert d not in got
        else:
            assert got[d] == (dau, wau, dau / wau), d
        d += timedelta(days=1)
    # a user active twice in the window still counts once: wau <= users
    assert all(w <= len({u for u, _ in act}) for _, w, _ in got.values())


def test_e14_top_paths_law(spark):
    recs = events_sorted()
    sessions = defaultdict(list)
    for u, us, e, et, _, ts in recs:
        sessions[(u, ts.date())].append((us, e, et))
    counts = defaultdict(int)
    for lst in sessions.values():
        lst.sort()
        counts[">".join(et for _, _, et in lst[:8])] += 1
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    rows = REGISTRY["e14_top_paths"].spark(spark, SF_DIR).collect()
    assert [(r.path, r.n_sessions) for r in rows] == top


def test_x16_entropy_definition(spark):
    docs = sf_table("documents")
    rows = REGISTRY["x16_doc_entropy"].spark(spark, SF_DIR).collect()
    got = {r.doc_id: (r.n_tokens, r.entropy_nats) for r in rows}
    for _, r in docs.iterrows():
        toks = [t for t in r["text"].split(" ") if t]
        if not toks:
            continue
        from collections import Counter as C

        tf = C(toks)
        n = len(toks)
        clnc = sum(Decimal(repr(round(c * math.log(c), 9)))
                   for c in tf.values())
        ent = round(math.log(n) - float(clnc) / n, 9)
        g_n, g_e = got[int(r["doc_id"])]
        assert g_n == n
        assert abs(g_e - ent) < 1e-9
        # entropy law: 0 <= H <= ln(n_tokens)
        assert -1e-9 <= g_e <= math.log(n) + 1e-9


def test_a17_cumulative_distinct_law(spark):
    recs = events_sorted()
    first = {}
    for u, us, e, et, _, ts in recs:
        if et == "purchase" and u not in first:
            first[u] = ts.date()
    daily = defaultdict(int)
    for d in first.values():
        daily[d] += 1
    rows = REGISTRY["a17_cumulative_distinct"].spark(spark, SF_DIR).collect()
    got = {pd.Timestamp(r.d).date(): (r.new_users, r.cum_distinct_users)
           for r in rows}
    assert set(got) == set(daily)
    cum = 0
    for d in sorted(daily):
        cum += daily[d]
        assert got[d] == (daily[d], cum)
    assert cum == len(first)  # totals to the distinct purchaser count


def test_a18_pearson_exact_moments(spark):
    li = sf_table("lineitem")
    names = {
        "quantity": "l_quantity",
        "price": "l_extendedprice",
        "discount": "l_discount",
        "tax": "l_tax",
    }
    dec = {
        a: [Decimal(repr(round(float(v), 2))) for v in li[c]]
        for a, c in names.items()
    }
    n = len(li)
    order = ["quantity", "price", "discount", "tax"]
    rows = REGISTRY["a18_corr_matrix"].spark(spark, SF_DIR).collect()
    got = {(r.col_x, r.col_y): r.pearson_r for r in rows}
    import itertools

    for a, b in itertools.combinations(order, 2):
        sa, sb = float(sum(dec[a])), float(sum(dec[b]))
        ssa = float(sum(x * x for x in dec[a]))
        ssb = float(sum(x * x for x in dec[b]))
        sp = float(sum(x * y for x, y in zip(dec[a], dec[b])))
        r_ = (n * sp - sa * sb) / (
            math.sqrt(n * ssa - sa * sa) * math.sqrt(n * ssb - sb * sb)
        )
        assert abs(got[(a, b)] - r_) < 1e-12, (a, b)
        assert -1.0 - 1e-12 <= got[(a, b)] <= 1.0 + 1e-12


def test_ml5_regional_trend_ols(spark):
    o = sf_table("orders")
    c = sf_table("customer")[["c_custkey", "c_nationkey"]]
    nt = sf_table("nation")[["n_nationkey", "n_regionkey"]]
    rg = sf_table("region")[["r_regionkey", "r_name"]]
    j = (
        o.merge(c, left_on="o_custkey", right_on="c_custkey")
        .merge(nt, left_on="c_nationkey", right_on="n_nationkey")
        .merge(rg, left_on="n_regionkey", right_on="r_regionkey")
    )
    daily = defaultdict(Decimal)
    for _, r in j.iterrows():
        x = (pd.Timestamp(r["o_orderdate"]).date() - date(1992, 1, 1)).days
        daily[(r["r_name"], x)] += Decimal(repr(round(float(r["o_totalprice"]), 2)))
    rows = REGISTRY["ml5_linreg_trend"].spark(spark, SF_DIR).collect()
    got = {r.r_name: (r.n_days, r.slope, r.intercept) for r in rows}
    regions = {rn for rn, _ in daily}
    assert set(got) == regions
    for rn in regions:
        pts = [(x, float(y)) for (r2, x), y in daily.items() if r2 == rn]
        nd = len(pts)
        sx = float(sum(x for x, _ in pts))
        sy = sum(y for _, y in pts)
        sxy = float(sum(Decimal(x) * Decimal(repr(y)) for x, y in pts))
        sxx = float(sum(x * x for x, _ in pts))
        slope = (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
        intercept = (sy - slope * sx) / nd
        g = got[rn]
        assert g[0] == nd
        assert abs(g[1] - slope) < 1e-9 and abs(g[2] - intercept) < 1e-6, rn


# ----------------------------------------- profiles & mixes batch 8


def test_e8_transition_rows_normalize(spark):
    recs = events_sorted()
    by_user = defaultdict(list)
    for u, us, e, et, _, _ in recs:
        by_user[u].append(et)
    counts = defaultdict(int)
    for seq in by_user.values():
        for a, b in zip(seq, seq[1:]):
            counts[(a, b)] += 1
    row_tot = defaultdict(int)
    for (a, _), c in counts.items():
        row_tot[a] += c
    rows = REGISTRY["e8_transition_matrix"].spark(spark, SF_DIR).collect()
    got = {(r.from_type, r.to_type): (r.n_transitions, r.p) for r in rows}
    assert set(got) == set(counts)
    for k, c in counts.items():
        assert got[k] == (c, c / row_tot[k[0]])
    # stochastic-matrix law: every row's probabilities sum to 1
    by_from = defaultdict(float)
    for (a, _), (_, p) in got.items():
        by_from[a] += p
    assert all(abs(s - 1.0) < 1e-9 for s in by_from.values())


def test_e13_interarrival_moments(spark):
    recs = events_sorted()
    gaps = defaultdict(list)
    by_key = defaultdict(list)
    for u, us, e, et, _, _ in recs:
        by_key[(u, et)].append(us)
    for (u, et), uss in by_key.items():
        for a, b in zip(uss, uss[1:]):
            gaps[et].append(b - a)
    rows = REGISTRY["e13_interarrival"].spark(spark, SF_DIR).collect()
    got = {r.event_type: r for r in rows}
    assert set(got) == set(gaps)
    for et, g in gaps.items():
        r = got[et]
        n = len(g)
        s = sum(g)
        ss = sum(x * x for x in g)
        mean_s = s / n / 1e6
        var_s = (ss - s * s / n) / n / 1e12
        assert r.n_gaps == n
        assert abs(r.mean_gap_s - mean_s) < 1e-9
        assert r.min_gap_s == min(g) / 1e6 and r.max_gap_s == max(g) / 1e6
        assert abs(r.var_gap_s - var_s) < 1e-6
        assert abs(r.rate_per_s - 1.0 / mean_s) < 1e-12
        assert r.var_gap_s >= -1e-9  # population variance is non-negative


def test_q13_fanout_includes_zero_bucket(spark):
    o = sf_table("orders")
    cust = sf_table("customer")
    li = sf_table("lineitem")
    opc = defaultdict(int)
    per_c = o.groupby("o_custkey").size()
    for ck in cust["c_custkey"]:
        opc[int(per_c.get(ck, 0))] += 1
    ipo = defaultdict(int)
    per_o = li.groupby("l_orderkey").size()
    for ok in o["o_orderkey"]:
        ipo[int(per_o.get(ok, 0))] += 1
    rows = REGISTRY["q13_fanout_profile"].spark(spark, SF_DIR).collect()
    got = defaultdict(dict)
    for r in rows:
        got[r.relation][r.fanout] = r.n_keys
    assert got["orders_per_customer"] == dict(opc)
    assert got["items_per_order"] == dict(ipo)
    # the zero bucket exists iff some parent has no children — and the
    # histogram totals to the parent-table row count either way
    assert sum(got["orders_per_customer"].values()) == len(cust)
    assert sum(got["items_per_order"].values()) == len(o)
    # and Σ fanout·n_keys is the child-table row count
    assert sum(f * n for f, n in got["orders_per_customer"].items()) == len(o)
    assert sum(f * n for f, n in got["items_per_order"].items()) == len(li)


def test_q16_sequence_gap_report(spark):
    ev = sf_table("events")
    ids = sorted(int(i) for i in ev["event_id"])
    glens = [b - a - 1 for a, b in zip(ids, ids[1:]) if b > a + 1]
    row = REGISTRY["q16_sequence_gaps"].spark(spark, SF_DIR).collect()[0]
    assert (row.min_id, row.max_id, row.n_rows) == (ids[0], ids[-1], len(ids))
    assert row.missing == ids[-1] - ids[0] + 1 - len(ids)
    assert row.n_gaps == len(glens)
    assert row.max_gap == (max(glens) if glens else 0)
    assert row.gap_total == (sum(glens) if glens else 0)
    # identity: total missing ids == the sum of gap lengths
    assert row.missing == row.gap_total


def test_x22_temperature_mix_alpha_half(spark):
    docs = sf_table("documents")
    tok = defaultdict(int)
    for _, r in docs.iterrows():
        tok[r["source"]] += len(r["text"].split(" "))
    total = sum(tok.values())
    w = {s: math.floor(math.sqrt(n / total) * 1e9 + 0.5) for s, n in tok.items()}
    z = sum(w.values())
    rows = REGISTRY["x22_temperature_mix"].spark(spark, SF_DIR).collect()
    got = {r.source: r for r in rows}
    assert set(got) == set(tok)
    for s in tok:
        r = got[s]
        assert r.n_tokens == tok[s]
        assert r.raw_share == tok[s] / total
        assert abs(r.p_temp - w[s] / z) < 1e-15
        assert abs(r.boost - (w[s] / z) / (tok[s] / total)) < 1e-9
    # temperature law (alpha=0.5 flattens): small sources boost > 1,
    # large sources boost < 1, and the mix still sums to 1
    assert abs(sum(r.p_temp for r in rows) - 1.0) < 1e-12
    mean_share = 1.0 / len(tok)
    for s in tok:
        if got[s].raw_share < mean_share / 2:
            assert got[s].boost > 1.0


def test_x29_oov_against_top50_vocab(spark):
    docs = sf_table("documents")
    cnt = defaultdict(int)
    for _, r in docs.iterrows():
        for t in r["text"].split(" "):
            if t:
                cnt[t] += 1
    vocab = {
        t for t, _ in sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    }
    rows = REGISTRY["x29_oov_rate"].spark(spark, SF_DIR).collect()
    got = {r.doc_id: (r.n_tokens, r.n_oov, r.oov_rate) for r in rows}
    assert len(rows) == len(got) == len(docs)
    for _, r in docs.iterrows():
        toks = [t for t in r["text"].split(" ") if t]
        oov = sum(1 for t in toks if t not in vocab)
        g = got[int(r["doc_id"])]
        assert g[0] == len(toks) and g[1] == oov
        if toks:
            assert g[2] == oov / len(toks)
        else:
            assert g[2] is None


def test_ml15_two_feature_normal_equations(spark):
    li = sf_table("lineitem")
    o = sf_table("orders")
    per = {
        int(k): (len(g), int(g["l_quantity"].sum()))
        for k, g in li.groupby("l_orderkey")
    }
    pts = []
    for _, r in o.iterrows():
        k = int(r["o_orderkey"])
        if k in per:
            y_cents = int(
                (Decimal(repr(round(float(r["o_totalprice"]), 2))) * 100)
            )
            pts.append((per[k][0], per[k][1], y_cents))
    n = len(pts)
    sx1 = sum(p[0] for p in pts)
    sx2 = sum(p[1] for p in pts)
    sy = sum(p[2] for p in pts)
    sx1x1 = sum(p[0] * p[0] for p in pts)
    sx2x2 = sum(p[1] * p[1] for p in pts)
    sx1x2 = sum(p[0] * p[1] for p in pts)
    sx1y = sum(p[0] * p[2] for p in pts)
    sx2y = sum(p[1] * p[2] for p in pts)
    syy = sum(p[2] * p[2] for p in pts)
    a11 = float(n * sx1x1 - sx1 * sx1)
    a12 = float(n * sx1x2 - sx1 * sx2)
    a22 = float(n * sx2x2 - sx2 * sx2)
    c1 = float(n * sx1y - sx1 * sy)
    c2 = float(n * sx2y - sx2 * sy)
    syy_c = float(n * syy - sy * sy)
    det = a11 * a22 - a12 * a12
    b1 = (c1 * a22 - c2 * a12) / det
    b2 = (c2 * a11 - c1 * a12) / det
    b0 = (sy - b1 * sx1 - b2 * sx2) / n / 100.0
    r2 = (b1 * c1 + b2 * c2) / syy_c
    row = REGISTRY["ml15_ols2"].spark(spark, SF_DIR).collect()[0]
    assert row.n == n
    assert abs(row.b1 - b1) < 1e-9 * max(1, abs(b1))
    assert abs(row.b2 - b2) < 1e-9 * max(1, abs(b2))
    assert abs(row.b0_dollars - b0) < 1e-6 * max(1, abs(b0))
    assert abs(row.r2 - r2) < 1e-9
    assert 0.0 <= row.r2 <= 1.0 + 1e-12  # OLS R^2 law (with intercept)


# ------------------------------------------------ similarity batch 9


def _vecs():
    emb = sf_table("embeddings")
    return {
        int(r["vec_id"]): ([float(x) for x in r["embedding"]], int(r["label"]))
        for _, r in emb.iterrows()
    }


def _cos(a, b):
    # sequential fold, matching the engines' aggregate order
    d = 0.0
    na = 0.0
    nb = 0.0
    for x, y in zip(a, b):
        d += x * y
    for x in a:
        na += x * x
    for y in b:
        nb += y * y
    return d / (math.sqrt(na) * math.sqrt(nb))


def test_v1_exact_cosine_topk_law(spark):
    vecs = _vecs()
    expect = {}
    for q in (i for i in vecs if i < 10):
        scored = sorted(
            (
                (-round(_cos(vecs[q][0], vecs[c][0]), 6), c)
                for c in vecs
                if c != q
            )
        )[:5]
        for rank, (negcos, c) in enumerate(scored, start=1):
            expect[(q, rank)] = (c, -negcos)
    rows = REGISTRY["v1_cosine_topk"].spark(spark, SF_DIR).collect()
    got = {(r.query_id, r.rank): (r.vec_id, r.cosine) for r in rows}
    assert set(got) == set(expect)
    for k in expect:
        assert got[k][0] == expect[k][0], k
        assert abs(got[k][1] - expect[k][1]) < 1e-9, k
    # cosine law: every score in [-1, 1]
    assert all(-1.0 - 1e-9 <= v[1] <= 1.0 + 1e-9 for v in got.values())


def test_ml4_knn_majority_vote_law(spark):
    vecs = _vecs()
    expect = {}
    for q in (i for i in vecs if i < 20):
        scored = sorted(
            (
                (-round(_cos(vecs[q][0], vecs[c][0]), 6), c)
                for c in vecs
                if c >= 20
            )
        )[:5]
        votes = defaultdict(int)
        for _, c in scored:
            votes[vecs[c][1]] += 1
        label, v = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))
        expect[q] = (label, v)
    rows = REGISTRY["ml4_knn_classify"].spark(spark, SF_DIR).collect()
    got = {r.query_id: (r.predicted_label, r.votes) for r in rows}
    assert got == expect


def test_v2_ivf_probe_semantics_law(spark):
    """IVF is approximate vs v1 but EXACT as specified: corpus assigned
    to its nearest centroid (squared L2, centroid-id tie-break),
    queries probe their 2 nearest clusters, and the top-3 comes from
    exactly those candidates."""
    vecs = _vecs()
    cents = {i: v for i, (v, _) in vecs.items() if i % 50 == 0}

    def sqd(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    assign = {
        c: min(cents, key=lambda z: (sqd(vecs[c][0], cents[z]), z))
        for c in vecs
    }
    expect = {}
    for q in (i for i in vecs if i < 5):
        probes = sorted(cents, key=lambda z: (sqd(vecs[q][0], cents[z]), z))[:2]
        cand = [c for c in vecs if assign[c] in probes and c != q]
        scored = sorted(
            ((-round(_cos(vecs[q][0], vecs[c][0]), 6), c) for c in cand)
        )[:3]
        for rank, (negcos, c) in enumerate(scored, start=1):
            expect[(q, rank)] = c
    rows = REGISTRY["v2_ann_ivf"].spark(spark, SF_DIR).collect()
    got = {(r.query_id, r.rank): r.vec_id for r in rows}
    assert got == expect


# --------------------------------------- learners & reports batch 10


def test_ml7_naive_bayes_nano_quantized(spark):
    docs = sf_table("documents")
    train = docs[docs["doc_id"] % 5 != 0]
    test = docs[docs["doc_id"] % 5 == 0]
    cls_docs = defaultdict(int)
    tc = defaultdict(lambda: defaultdict(int))
    tok_c = defaultdict(int)
    vocab = set()
    for _, r in train.iterrows():
        cls_docs[r["lang"]] += 1
        for t in r["text"].split(" "):
            if t:
                tc[r["lang"]][t] += 1
                tok_c[r["lang"]] += 1
                vocab.add(t)
    N = len(train)
    V = len(vocab)
    prior = {
        c: math.floor(math.log(n / N) * 1e9 + 0.5) for c, n in cls_docs.items()
    }
    like = {
        (c, t): math.floor(
            math.log((tc[c].get(t, 0) + 1) / (tok_c[c] + V)) * 1e9 + 0.5
        )
        for c in cls_docs
        for t in vocab
    }
    expect = {}
    for _, r in test.iterrows():
        tf = defaultdict(int)
        for t in r["text"].split(" "):
            if t and t in vocab:  # OOV dropped
                tf[t] += 1
        scores = {
            c: sum(n * like[(c, t)] for t, n in tf.items()) + prior[c]
            for c in cls_docs
        }
        pred = min(scores, key=lambda c: (-scores[c], c))
        expect[int(r["doc_id"])] = (
            r["lang"], pred, scores[pred] / 1e9, pred == r["lang"]
        )
    rows = REGISTRY["ml7_naive_bayes"].spark(spark, SF_DIR).collect()
    got = {r.doc_id: (r.true_lang, r.pred_lang, r.score, r.correct)
           for r in rows}
    assert set(got) == set(expect)
    for d in expect:
        tl, pl, sc_, ok = expect[d]
        assert got[d][0] == tl and got[d][1] == pl and got[d][3] == ok, d
        assert abs(got[d][2] - sc_) < 1e-9


def test_x26_rake_degree_over_frequency(spark):
    stops = set(STOPWORDS)
    docs = sf_table("documents")
    phrases = []
    for _, r in docs.iterrows():
        marked = " ".join(
            "§" if t in stops else t for t in r["text"].split(" ")
        )
        for p in marked.split("§"):
            p = p.strip()
            if p:
                phrases.append(p)
    freq = defaultdict(int)
    deg = defaultdict(int)
    for p in phrases:
        ws = p.split(" ")
        for w in ws:
            freq[w] += 1
            deg[w] += len(ws)
    ppm = {w: (deg[w] * 1_000_000) // freq[w] for w in freq}
    counts = defaultdict(int)
    for p in phrases:
        counts[p] += 1
    # member word scores sum WITH multiplicity (rake-nltk convention;
    # a repeated word in a phrase contributes once per occurrence)
    scores = {
        p: sum(ppm[w] for w in p.split(" ")) / 1e6 for p in counts
    }
    top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    rows = REGISTRY["x26_rake_keywords"].spark(spark, SF_DIR).collect()
    assert [(r.phrase, r.n_occurrences, round(r.score, 6)) for r in rows] == [
        (p, counts[p], round(s, 6)) for p, s in top
    ]


def test_x31_fertility_subword_rule(spark):
    docs = sf_table("documents")
    agg = defaultdict(lambda: [0, 0, 0, 0])  # docs, words, subwords, chars
    for _, r in docs.iterrows():
        toks = r["text"].split(" ")
        a = agg[r["lang"]]
        a[0] += 1
        a[1] += len(toks)
        a[2] += sum((len(t) + 3) // 4 for t in toks)
        a[3] += len(r["text"])
    rows = REGISTRY["x31_tokenizer_fertility"].spark(spark, SF_DIR).collect()
    got = {r.lang: r for r in rows}
    assert set(got) == set(agg)
    for lang, (nd, nw, ns, nc) in agg.items():
        r = got[lang]
        assert (r.n_docs, r.n_words, r.n_subwords) == (nd, nw, ns)
        assert r.fertility == ns / nw
        assert r.chars_per_word == nc / nw
        assert r.fertility >= 0.25  # every word yields >= 1 subword


def test_ml9_also_bought_support_confidence(spark):
    li = sf_table("lineitem")
    baskets = defaultdict(set)
    for _, r in li.iterrows():
        baskets[int(r["l_orderkey"])].add(int(r["l_partkey"]))
    cnt = defaultdict(int)
    sup = defaultdict(int)
    for parts in baskets.values():
        for p in parts:
            cnt[p] += 1
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                sup[(ps[i], ps[j])] += 1
    expect = {}
    for probe in (p for p in cnt if p < 20):
        partners = []
        for (a, b), s in sup.items():
            if a == probe:
                partners.append((s, b))
            elif b == probe:
                partners.append((s, a))
        top = sorted(partners, key=lambda t: (-t[0], t[1]))[:5]
        for rank, (s, rec) in enumerate(top, start=1):
            expect[(probe, rank)] = (rec, s, s / cnt[probe])
    rows = REGISTRY["ml9_also_bought"].spark(spark, SF_DIR).collect()
    got = {(r.part, r.rank): (r.rec, r.support, r.confidence) for r in rows}
    assert got == expect
    # support is symmetric and confidence <= 1
    assert all(c <= 1.0 for _, _, c in got.values())


def test_q6_profile_summary_law(spark):
    o = sf_table("orders")
    rows = REGISTRY["q6_profile_summary"].spark(spark, SF_DIR).collect()
    got = {r.col_name: r for r in rows}
    numeric = {"o_orderkey", "o_custkey", "o_totalprice"}
    for c in ("o_orderkey", "o_custkey", "o_orderstatus",
              "o_totalprice", "o_orderdate", "o_orderpriority"):
        r = got[c]
        assert r.n_rows == len(o)
        assert r.n_nulls == int(o[c].isna().sum())
        assert r.n_distinct == o[c].nunique()
        if c in numeric:
            assert r.min_num == float(o[c].min())
            assert r.max_num == float(o[c].max())
        else:
            assert r.min_num is None and r.max_num is None


def test_q15_pk_uniqueness_law(spark):
    li = sf_table("lineitem")
    o = sf_table("orders")
    rows = REGISTRY["q15_pk_uniqueness"].spark(spark, SF_DIR).collect()
    got = {r.table_name: r for r in rows}
    # lineitem's textbook composite key is genuinely violated by the
    # generator — verify the audit quantifies it exactly
    g = li.groupby(["l_orderkey", "l_linenumber"]).size()
    r = got["lineitem"]
    assert r.n_rows == len(li) and r.n_keys == len(g)
    assert r.dup_key_groups == int((g > 1).sum())
    assert r.excess_rows == int((g[g > 1] - 1).sum())
    assert bool(r.is_unique) == (len(g) == len(li))
    # orders' key is clean
    assert bool(got["orders"].is_unique) == (o["o_orderkey"].nunique() == len(o))
    # conservation: excess = rows - keys, per table
    for r in rows:
        assert r.excess_rows == r.n_rows - r.n_keys


def test_t3_keyset_equals_offset_pagination(spark):
    o = sf_table("orders")
    ordered = o.sort_values(["o_orderdate", "o_orderkey"])
    page = ordered.iloc[40:60]
    rows = REGISTRY["t3_keyset_page"].spark(spark, SF_DIR).collect()
    assert [(r.o_orderkey) for r in rows] == [int(k) for k in page["o_orderkey"]]


# --------------------------------------------- sketch & LM batch 11


def _minhash_sigs(doc_tokens, k=12):
    sigs = {}
    for d, toks in doc_tokens.items():
        sigs[d] = [
            min(hashlib.md5(f"{i}|{t}".encode()).hexdigest() for t in toks)
            for i in range(k)
        ]
    return sigs


def _lsh_cands(sigs, rows_per_band=3):
    buckets = defaultdict(set)
    for d, sig in sigs.items():
        for band in range(len(sig) // rows_per_band):
            key = (band, "".join(sig[band * rows_per_band:(band + 1) * rows_per_band]))
            buckets[key].add(d)
    cands = set()
    for ds in buckets.values():
        ds = sorted(ds)
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                cands.add((ds[i], ds[j]))
    return cands


def test_d14_minhash_estimate_vs_exact(spark):
    docs = sf_table("documents")
    toks = {
        int(r["doc_id"]): set(r["text"].split(" "))
        for _, r in docs.iterrows()
        if int(r["doc_id"]) < 150
    }
    sigs = _minhash_sigs(toks)
    expect = {}
    for a, b in _lsh_cands(sigs):
        matches = sum(1 for x, y in zip(sigs[a], sigs[b]) if x == y)
        inter = len(toks[a] & toks[b])
        union = len(toks[a] | toks[b])
        exact = inter / union
        expect[(a, b)] = (matches / 12, exact, matches / 12 - exact)
    rows = REGISTRY["d14_minhash_calibration"].spark(spark, SF_DIR).collect()
    got = {(r.doc_a, r.doc_b): (r.est_jaccard, r.exact_jaccard, r.err)
           for r in rows}
    assert set(got) == set(expect) and len(expect) > 0
    for k in expect:
        for g, e in zip(got[k], expect[k]):
            assert abs(g - e) < 1e-12, k


def test_d17_s_curve_empirical_and_theory(spark):
    docs = sf_table("documents")
    toks = {
        int(r["doc_id"]): set(r["text"].split(" "))
        for _, r in docs.iterrows()
        if int(r["doc_id"]) < 150
    }
    cands = _lsh_cands(_minhash_sigs(toks))
    ids = sorted(toks)
    per_bucket = defaultdict(lambda: [0, 0])
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = ids[i], ids[j]
            inter = len(toks[a] & toks[b])
            if inter == 0:  # universe = pairs sharing >= 1 token
                continue
            jac = inter / len(toks[a] | toks[b])
            bucket = min(int(jac * 10), 9)
            per_bucket[bucket][0] += 1
            per_bucket[bucket][1] += int((a, b) in cands)
    rows = REGISTRY["d17_lsh_s_curve"].spark(spark, SF_DIR).collect()
    got = {r.bucket: r for r in rows}
    assert set(got) == set(per_bucket)
    prev_theory = -1.0
    for bucket in sorted(per_bucket):
        n, c = per_bucket[bucket]
        r = got[bucket]
        assert (r.n_pairs, r.n_candidates) == (n, c), bucket
        assert r.empirical_rate == c / n
        s = (bucket + 0.5) / 10.0
        theory = 1.0 - (1.0 - s ** 3) ** 4
        assert abs(r.theoretical_rate - theory) < 1e-9
        # S-curve law: the theoretical pass rate is monotone in J
        assert r.theoretical_rate > prev_theory
        prev_theory = r.theoretical_rate
    # and the empirical curve separates its ends on this corpus
    lo = [got[b].empirical_rate for b in got if b <= 2]
    hi = [got[b].empirical_rate for b in got if b >= 8]
    if lo and hi:
        assert max(lo) < min(hi)


def test_x12_unigram_familiarity_law(spark):
    docs = sf_table("documents")
    corpus = defaultdict(int)
    per_doc = {}
    for _, r in docs.iterrows():
        toks = [t for t in r["text"].split(" ") if t]
        per_doc[int(r["doc_id"])] = toks
        for t in toks:
            corpus[t] += 1
    rows = REGISTRY["x12_unigram_score"].spark(spark, SF_DIR).collect()
    got = {r.doc_id: r for r in rows}
    for d, toks in per_doc.items():
        if not toks:
            continue
        sum_freq = sum(corpus[t] for t in toks)
        rare = sum(1 for t in toks if corpus[t] <= 2)
        r = got[d]
        assert r.n_tokens == len(toks)
        assert r.sum_freq == sum_freq
        assert r.avg_token_freq == sum_freq / len(toks)
        assert r.rare_tokens == rare
        # familiarity law: every token occurs at least once (itself)
        assert r.avg_token_freq >= 1.0


def test_x21_stupid_backoff_score(spark):
    docs = sf_table("documents")
    train = docs[docs["doc_id"] % 5 != 0]
    test = docs[docs["doc_id"] % 5 == 0]
    uni = defaultdict(int)
    bg = defaultdict(int)
    for _, r in train.iterrows():
        toks = [t for t in r["text"].split(" ") if t]
        for t in toks:
            uni[t] += 1
        full = r["text"].split(" ")
        for x, y in zip(full, full[1:]):
            bg[(x, y)] += 1
    U = sum(uni.values())
    expect = {}
    for _, r in test.iterrows():
        full = r["text"].split(" ")
        if len(full) < 2:
            continue
        s = hits = n = 0
        for x, y in zip(full, full[1:]):
            # inner joins on train unigram counts: OOV-x or OOV-y
            # slots are dropped from the score
            if x not in uni or y not in uni:
                continue
            n += 1
            if (x, y) in bg:
                hits += 1
                p = bg[(x, y)] / uni[x]
            else:
                p = 0.4 * uni[y] / U
            s += math.floor(math.log(p) * 1e9 + 0.5)
        if n:
            expect[int(r["doc_id"])] = (n, hits, s)
    rows = REGISTRY["x21_bigram_score"].spark(spark, SF_DIR).collect()
    got = {r.doc_id: r for r in rows}
    assert set(got) == set(expect)
    for d, (n, hits, s) in expect.items():
        r = got[d]
        assert (r.n_slots, r.n_hits) == (n, hits), d


# ------------------------------------- filtered/probed ANN batch 12


def test_v10_filtered_ann_prefilter_law(spark):
    vecs = _vecs()
    expect = {}
    for q in (i for i in vecs if i < 8):
        qlabel = vecs[q][1]
        cand = [c for c in vecs if vecs[c][1] == qlabel and c != q]
        scored = sorted(
            ((-round(_cos(vecs[q][0], vecs[c][0]), 6), c) for c in cand)
        )[:3]
        for rank, (negcos, c) in enumerate(scored, start=1):
            expect[(q, rank)] = (c, qlabel)
    rows = REGISTRY["v10_filtered_ann"].spark(spark, SF_DIR).collect()
    got = {(r.query_id, r.rank): (r.vec_id, r.label) for r in rows}
    assert got == expect
    # pre-filter law: every result carries the query's own label
    # (checked above via the expected label) and fills all 3 slots
    # whenever the label bucket has >= 3 other members
    from collections import Counter as C

    label_sizes = C(lab for _, lab in vecs.values())
    for q in (i for i in vecs if i < 8):
        have = sum(1 for (qq, _) in got if qq == q)
        assert have == min(3, label_sizes[vecs[q][1]] - 1)


def test_v8_probe_sweep_recall_monotone(spark):
    vecs = _vecs()
    cents = {i: v for i, (v, _) in vecs.items() if i % 50 == 0}

    def sqd(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    assign = {
        c: min(cents, key=lambda z: (sqd(vecs[c][0], cents[z]), z))
        for c in vecs
    }
    queries = [i for i in vecs if i < 5]
    exact = {}
    for q in queries:
        exact[q] = [
            c for _, c in sorted(
                ((-round(_cos(vecs[q][0], vecs[c][0]), 6), c)
                 for c in vecs if c != q)
            )[:3]
        ]
    expect = {}
    for np_ in (1, 2, 4):
        match = 0
        for q in queries:
            probes = sorted(
                cents, key=lambda z: (sqd(vecs[q][0], cents[z]), z)
            )[:np_]
            cand = [c for c in vecs if assign[c] in probes and c != q]
            approx = {
                c for _, c in sorted(
                    ((-round(_cos(vecs[q][0], vecs[c][0]), 6), c)
                     for c in cand)
                )[:3]
            }
            match += sum(1 for c in exact[q] if c in approx)
        expect[np_] = (match, match / (3 * len(queries)))
    rows = REGISTRY["v8_ivf_probe_sweep"].spark(spark, SF_DIR).collect()
    got = {r.n_probe: (r.n_match, r.recall) for r in rows}
    assert got == expect
    # recall law: more probes never lose neighbors
    assert got[1][1] <= got[2][1] <= got[4][1]


def test_u5_merged_partials_equal_direct_rollup(spark):
    """The mergeable-partials identity that justifies DECIMAL partial
    sums: base + tranche merged per day == one direct rollup of all
    events."""
    recs = events_sorted()
    direct = defaultdict(lambda: [0, Decimal(0)])
    for u, us, e, et, v, ts in recs:
        d = ts.date()
        direct[d][0] += 1
        direct[d][1] += Decimal(repr(round(v, 2)))
    rows = REGISTRY["u5_incremental_rollup"].spark(spark, SF_DIR).collect()
    got = {pd.Timestamp(r.day).date(): (r.n_events, r.total_value)
           for r in rows}
    assert set(got) == set(direct)
    for d, (n, tv) in direct.items():
        assert got[d] == (n, float(tv)), d


# --------------------------------------- dedup & packing batch 13


def test_d2_bigram_jaccard_pairs(spark):
    docs = sf_table("documents")
    sh = {}
    for _, r in docs.iterrows():
        d = int(r["doc_id"])
        if d >= 120:
            continue
        toks = r["text"].split(" ")
        if len(toks) < 2:
            sh[d] = {r["text"]}
        else:
            sh[d] = {" ".join(toks[i:i + 2]) for i in range(len(toks) - 1)}
    expect = {}
    ids = sorted(sh)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = ids[i], ids[j]
            inter = len(sh[a] & sh[b])
            if inter == 0:
                continue
            jac = inter / (len(sh[a]) + len(sh[b]) - inter)
            if jac >= 0.05:
                expect[(a, b)] = jac
    rows = REGISTRY["d2_ngram_jaccard"].spark(spark, SF_DIR).collect()
    got = {(r.doc_a, r.doc_b): r.jaccard for r in rows}
    assert set(got) == set(expect) and len(expect) > 0
    for k in expect:
        assert abs(got[k] - expect[k]) < 1e-12


def test_r4_gap_islands_sessionization(spark):
    recs = events_sorted()
    by_user = defaultdict(list)
    for u, us, e, et, _, ts in recs:
        by_user[u].append((us, ts))
    expect = {}
    for u, rows_ in by_user.items():
        sess = 0
        cur = []
        for i, (us, ts) in enumerate(rows_):
            if i > 0 and us - rows_[i - 1][0] > 3_600_000_000:
                expect[(u, sess)] = (len(cur), cur[0][1], cur[-1][1])
                sess += 1
                cur = []
            cur.append((us, ts))
        expect[(u, sess)] = (len(cur), cur[0][1], cur[-1][1])
    rows = REGISTRY["r4_gap_islands"].spark(spark, SF_DIR).collect()
    got = {
        (r.user_id, r.session_no): (
            r.n_events,
            pd.Timestamp(r.session_start),
            pd.Timestamp(r.session_end),
        )
        for r in rows
    }
    assert got == expect
    # island law: within a session, no internal gap exceeds 1h — and
    # consecutive sessions are separated by > 1h (implied by equality
    # with the literal sweep above)


def test_p11_pack_concat_chunk_law(spark):
    docs = sf_table("documents")
    per = []
    for _, r in docs.iterrows():
        h = hashlib.md5(r["text"].encode()).hexdigest()
        per.append(
            (
                int(h[:4], 16) % 8,                      # bucket
                h,
                int(r["doc_id"]),
                len(r["text"].split(" ")),
            )
        )
    expect = {}
    for bucket in range(8):
        run = 0
        for b, h, d, n in sorted(p for p in per if p[0] == bucket):
            expect[d] = (bucket, n, run // 512, run % 512)
            run += n
    rows = REGISTRY["p11_sequence_pack"].spark(spark, SF_DIR).collect()
    got = {r.doc_id: (r.bucket, r.n_tokens, r.seq_no, r.seq_offset)
           for r in rows}
    assert got == expect
    # packing law: concat-chunk wastes nothing — every token lands at a
    # unique (bucket, seq, offset) position, consecutive by hash order


def test_x13_token_budget_rule(spark):
    docs = sf_table("documents")
    rows = REGISTRY["x13_token_budget"].spark(spark, SF_DIR).collect()
    got = {r.doc_id: (r.n_tokens, r.est_subwords, r.chars_per_subword)
           for r in rows}
    for _, r in docs.iterrows():
        toks = r["text"].split(" ")
        est = sum((len(t) + 3) // 4 for t in toks)
        g = got[int(r["doc_id"])]
        assert g[0] == len(toks) and g[1] == est
        assert g[2] == len(r["text"]) / est
        # budget law: ceil-div means est >= n_tokens for non-empty tokens
        assert g[1] >= sum(1 for t in toks if t)


# ----------------------------------------- windows & CDC batch 14


def test_e1_e2_window_assignment_laws(spark):
    """Tumbling windows partition events exactly once; 1h/30m sliding
    windows place every event in exactly TWO windows, so the sliding
    totals double-count the corpus by construction."""
    recs = events_sorted()
    tumb = defaultdict(lambda: [0, Decimal(0)])
    slide = defaultdict(lambda: [0, Decimal(0)])
    for u, us, e, et, v, ts in recs:
        hour = ts.replace(minute=0, second=0, microsecond=0)
        d = Decimal(repr(round(v, 2)))
        tumb[(hour, et)][0] += 1
        tumb[(hour, et)][1] += d
        half = ts.replace(minute=(ts.minute // 30) * 30, second=0,
                          microsecond=0)
        for w0 in (half, half - timedelta(minutes=30)):
            slide[w0][0] += 1
            slide[w0][1] += d
    rows1 = REGISTRY["e1_tumbling_hourly"].spark(spark, SF_DIR).collect()
    got1 = {
        (pd.Timestamp(r.window_start), r.event_type): (r.n_events, r.total_value)
        for r in rows1
    }
    assert got1 == {k: (n, float(tv)) for k, (n, tv) in tumb.items()}
    assert sum(n for n, _ in got1.values()) == len(recs)  # exactly once
    rows2 = REGISTRY["e2_sliding_windows"].spark(spark, SF_DIR).collect()
    got2 = {
        pd.Timestamp(r.window_start): (r.n_events, r.total_value)
        for r in rows2
    }
    assert got2 == {k: (n, float(tv)) for k, (n, tv) in slide.items()}
    assert sum(n for n, _ in got2.values()) == 2 * len(recs)  # exactly twice


def test_e3_session_window_end_is_last_plus_gap(spark):
    recs = events_sorted()
    by_user = defaultdict(list)
    for u, us, e, et, v, ts in recs:
        by_user[u].append((us, ts, Decimal(repr(round(v, 2)))))
    expect = {}
    for u, rows_ in by_user.items():
        cur = []
        sessions = []
        for i, (us, ts, d) in enumerate(rows_):
            if i > 0 and us - rows_[i - 1][0] > 3_600_000_000:
                sessions.append(cur)
                cur = []
            cur.append((us, ts, d))
        sessions.append(cur)
        for s in sessions:
            start = s[0][1]
            end = s[-1][1] + timedelta(hours=1)
            expect[(u, start)] = (end, len(s), float(sum(d for _, _, d in s)))
    rows = REGISTRY["e3_session_windows"].spark(spark, SF_DIR).collect()
    got = {
        (r.user_id, pd.Timestamp(r.session_start)): (
            pd.Timestamp(r.session_end), r.n_events, r.total_value
        )
        for r in rows
    }
    assert got == expect


def test_u6_cdc_apply_with_tombstones(spark):
    cust = sf_table("customer").sort_values("c_custkey")
    base = {
        int(r["c_custkey"]): (
            r["c_name"], int(r["c_nationkey"]), float(r["c_acctbal"]),
            r["c_mktsegment"],
        )
        for _, r in cust.iterrows()
    }
    target = dict(base)
    # updates: every 10th key gets +100 balance
    for k in base:
        if k % 10 == 0:
            n, nk, bal, seg = base[k]
            target[k] = (n, nk, bal + 100.0, seg)
    # inserts: 3 smallest keys re-keyed to -(key)-1 (strictly negative;
    # a bare negation would collide on key 0)
    for k in sorted(base)[:3]:
        n, nk, bal, seg = base[k]
        target[-k - 1] = ("new_" + n, nk, bal, seg)
    # tombstones: every key % 7 == 3 deletes (delete-after-update wins)
    for k in [k for k in target if k % 7 == 3]:
        del target[k]
    rows = REGISTRY["u6_apply_cdc"].spark(spark, SF_DIR).collect()
    got = {
        r.c_custkey: (r.c_name, r.c_nationkey, r.c_acctbal, r.c_mktsegment)
        for r in rows
    }
    assert set(got) == set(target)
    for k in target:
        gn, gnk, gbal, gseg = got[k]
        assert (gn, gnk, gseg) == (target[k][0], target[k][1], target[k][3])
        assert abs(gbal - target[k][2]) < 1e-9


# ------------------------------------ as-of, chunks, rollups batch 15


def test_r1_backward_asof_law(spark):
    clicks, purch = _clicks_purchases()
    by_user = defaultdict(list)
    for u, us, e in clicks:
        by_user[u].append((us, e))
    expect = {}
    for u, us, e in purch:
        cands = sorted(
            ((c_us, c_id) for c_us, c_id in by_user.get(u, []) if c_us <= us),
            key=lambda t: (-t[0], -t[1]),
        )
        expect[e] = cands[0][1] if cands else None
    rows = REGISTRY["r1_asof_join"].spark(spark, SF_DIR).collect()
    got = {r.event_id: r.asof_click_id for r in rows}
    assert set(got) == set(expect)
    assert got == expect


def _chunks(toks, n=8, stride=4):
    starts = range(1, max(len(toks) - (n - 1), 1) + 1, stride)
    return [" ".join(toks[s - 1:s - 1 + n]) for s in starts]


def test_d8_chunk_dedup_fractions(spark):
    docs = sf_table("documents")
    per_doc = {
        int(r["doc_id"]): _chunks(r["text"].split(" "))
        for _, r in docs.iterrows()
    }
    owners = defaultdict(set)
    for d, chs in per_doc.items():
        for c in chs:
            owners[c].add(d)
    rows = REGISTRY["d8_chunk_dedup"].spark(spark, SF_DIR).collect()
    got = {r.doc_id: (r.n_chunks, r.dup_chunks, r.dup_chunk_frac)
           for r in rows}
    assert set(got) == set(per_doc)
    for d, chs in per_doc.items():
        dup = sum(1 for c in chs if len(owners[c]) >= 2)
        assert got[d] == (len(chs), dup, dup / len(chs)), d


def test_d10_cross_source_containment(spark):
    docs = sf_table("documents")
    ref = set()
    for _, r in docs.iterrows():
        if r["source"] != "src0":
            ref.update(_chunks(r["text"].split(" "), stride=1))
    rows = REGISTRY["d10_cross_source_contamination"].spark(spark, SF_DIR).collect()
    got = {r.doc_id: (r.n_chunks, r.contaminated_chunks, r.containment)
           for r in rows}
    n_checked = 0
    for _, r in docs.iterrows():
        if r["source"] != "src0":
            continue
        chs = set(_chunks(r["text"].split(" "), stride=1))
        hit = sum(1 for c in chs if c in ref)
        assert got[int(r["doc_id"])] == (len(chs), hit, hit / len(chs))
        n_checked += 1
    assert n_checked == len(got) > 0


def test_g1_rollup_levels_are_consistent(spark):
    rows = REGISTRY["g1_rollup"].spark(spark, SF_DIR).collect()
    detail = [(r.year, r.quarter, r.total_sales) for r in rows
              if r.year is not None and r.quarter is not None]
    per_year = {r.year: r.total_sales for r in rows
                if r.year is not None and r.quarter is None}
    grand = [r.total_sales for r in rows
             if r.year is None and r.quarter is None]
    assert len(grand) == 1
    # rollup law: each year total is the sum of its quarters, the grand
    # total is the sum of the years (exact: DECIMAL partials underneath)
    ysum = defaultdict(float)
    for y, _, ts in detail:
        ysum[y] += ts
    for y, ts in per_year.items():
        assert abs(ts - ysum[y]) < 1e-6
    assert abs(grand[0] - sum(per_year.values())) < 1e-6


def test_pv1_pivot_matches_contingency_table(spark):
    o = sf_table("orders")
    cells = defaultdict(int)
    for _, r in o.iterrows():
        cells[(r["o_orderpriority"], r["o_orderstatus"])] += 1
    rows = REGISTRY["pv1_pivot"].spark(spark, SF_DIR).collect()
    got = {r.o_orderpriority: (r.F, r.O, r.P) for r in rows}
    prios = {p for p, _ in cells}
    assert set(got) == prios
    for p in prios:
        expect = tuple(
            cells.get((p, s)) if (p, s) in cells else None
            for s in ("F", "O", "P")
        )
        assert got[p] == expect, p
    # pivot law: the wide cells total to the row count of orders (over
    # the explicit status list, which covers the domain here)
    assert sum(v for t in got.values() for v in t if v) == len(o)


# ----------------------------------- flagship & fingerprints batch 16


def test_h1_pricing_summary_brute_force(spark):
    li = sf_table("lineitem")
    cells = defaultdict(lambda: [Decimal(0), Decimal(0), Decimal(0),
                                 Decimal(0), 0])
    cutoff = pd.Timestamp("2000-09-02")
    one = Decimal(1)
    for _, r in li.iterrows():
        if pd.Timestamp(r["l_shipdate"]) > cutoff:
            continue
        qty = Decimal(repr(round(float(r["l_quantity"]), 2)))
        price = Decimal(repr(round(float(r["l_extendedprice"]), 2)))
        disc = Decimal(repr(round(float(r["l_discount"]), 4)))
        tax = Decimal(repr(round(float(r["l_tax"]), 4)))
        disc_price = price * (one - disc)
        # round the scale-10 product to scale 6 BEFORE summing (the
        # plan's double-rounding guard)
        charge = (disc_price * (one + tax)).quantize(Decimal("0.000001"))
        c = cells[(r["l_returnflag"], r["l_linestatus"])]
        c[0] += qty
        c[1] += price
        c[2] += disc_price
        c[3] += charge
        c[4] += 1
    rows = REGISTRY["h1_pricing_summary"].spark(spark, SF_DIR).collect()
    got = {(r.l_returnflag, r.l_linestatus): r for r in rows}
    assert set(got) == set(cells)
    for k, (sq, sp, sd, sc_, n) in cells.items():
        r = got[k]
        assert r.count_order == n
        assert r.sum_qty == float(sq)
        assert r.sum_base_price == float(sp)
        assert r.sum_disc_price == float(sd)
        assert r.sum_charge == float(sc_)
        assert r.avg_qty == float(sq) / n and r.avg_price == float(sp) / n


def test_x4_document_fingerprints(spark):
    docs = sf_table("documents")
    rows = REGISTRY["x4_fingerprint"].spark(spark, SF_DIR).collect()
    got = {r.doc_id: (r.md5_fp, r.shingle_fp) for r in rows}
    for _, r in docs.iterrows():
        toks = r["text"].split(" ")
        n = len(toks)
        shingles = [
            " ".join(toks[i:i + 5]) for i in range(max(n - 4, 1))
        ]
        expect = (
            hashlib.md5(r["text"].encode()).hexdigest(),
            min(hashlib.md5(s.encode()).hexdigest() for s in shingles),
        )
        assert got[int(r["doc_id"])] == expect


def test_x15_winnowing_fingerprints(spark):
    K, W, MOD = 8, 4, 1_000_000_007
    docs = sf_table("documents")
    expect = set()
    for _, r in docs.iterrows():
        text = r["text"]
        n = len(text)
        if n < 11:  # < k + w - 1: no full window exists
            continue
        hs = []
        for i in range(n - K + 1):
            acc = 0
            for ch in text[i:i + K]:
                acc = (acc * 257 + ord(ch)) % MOD
            hs.append(acc)
        fps = {min(hs[i:i + W]) for i in range(len(hs) - W + 1)}
        expect.update((int(r["doc_id"]), fp) for fp in fps)
    rows = REGISTRY["x15_winnowing"].spark(spark, SF_DIR).collect()
    got = {(r.doc_id, r.fp) for r in rows}
    assert got == expect
    # winnowing guarantee: at least one fingerprint per w consecutive
    # windows -> per-doc fingerprint count >= ceil(#windows / w) is NOT
    # the law (mins repeat); the real guarantee checked here is exact
    # equality with the literal window-minimum sweep


# ------------------------------------- quality & mix & CDC batch 17


def _x7_signals():
    docs = sf_table("documents")
    out = {}
    for _, r in docs.iterrows():
        toks = r["text"].split(" ")
        n = len(toks)
        dup = (n - len(set(toks))) / n
        if n < 2:
            bigrams = [r["text"]]
        else:
            bigrams = [" ".join(toks[i:i + 2]) for i in range(n - 1)]
        from collections import Counter as C

        bc = C(bigrams)
        out[int(r["doc_id"])] = (n, dup, max(bc.values()) / sum(bc.values()))
    return out


def test_x7_gopher_repetition_signals(spark):
    expect = _x7_signals()
    rows = REGISTRY["x7_repetition"].spark(spark, SF_DIR).collect()
    got = {r.doc_id: (r.n_tokens, r.dup_word_frac, r.top_bigram_frac)
           for r in rows}
    assert set(got) == set(expect)
    for d, (n, dup, top) in expect.items():
        g = got[d]
        assert g[0] == n and abs(g[1] - dup) < 1e-12 and abs(g[2] - top) < 1e-12
        assert 0.0 <= g[1] < 1.0 and 0.0 < g[2] <= 1.0


def test_x9_cascade_reason_bitmask(spark):
    rep = _x7_signals()
    docs = sf_table("documents")
    rows = REGISTRY["x9_quality_cascade"].spark(spark, SF_DIR).collect()
    got = {r.doc_id: (r.reasons, r.keep) for r in rows}
    for _, r in docs.iterrows():
        d = int(r["doc_id"])
        toks = r["text"].split(" ")
        n, dup, top = rep[d]
        sw = sum(1 for t in toks if t in STOPWORDS) / n
        atl = len(r["text"].replace(" ", "")) / n
        reasons = (
            (1 if (n < 20 or n > 400) else 0)
            + (2 if dup > 0.3 else 0)
            + (4 if top > 0.2 else 0)
            + (8 if sw < 0.02 else 0)
            + (16 if (atl < 3.0 or atl > 10.0) else 0)
        )
        assert got[d] == (reasons, 1 if reasons == 0 else 0), d


def test_x10_x11_token_shares_and_equalizer(spark):
    docs = sf_table("documents")
    cells = defaultdict(lambda: [0, 0])
    for _, r in docs.iterrows():
        c = cells[(r["source"], r["lang"])]
        c[0] += 1
        c[1] += len(r["text"].split(" "))
    total = sum(t for _, t in cells.values())
    rows10 = REGISTRY["x10_source_mix"].spark(spark, SF_DIR).collect()
    got10 = {(r.source, r.lang): (r.n_docs, r.n_tokens, r.token_share)
             for r in rows10}
    assert got10 == {
        k: (n, t, t / total) for k, (n, t) in cells.items()
    }
    assert abs(sum(s for _, _, s in got10.values()) - 1.0) < 1e-12
    # x11: every source downsampled to the smallest source's tokens
    src_tokens = defaultdict(int)
    for (s, _), (_, t) in cells.items():
        src_tokens[s] += t
    mn = min(src_tokens.values())
    rows11 = REGISTRY["x11_mixing_weights"].spark(spark, SF_DIR).collect()
    got11 = {(r.source, r.lang): r for r in rows11}
    assert set(got11) == set(cells)
    per_source_expected = defaultdict(float)
    for (s, lang), (_, t) in cells.items():
        r = got11[(s, lang)]
        assert r.src_tokens == src_tokens[s]
        assert r.sample_rate == mn / src_tokens[s]
        assert abs(r.expected_tokens - (mn / src_tokens[s]) * t) < 1e-9
        per_source_expected[s] += r.expected_tokens
    # equalizer law: after sampling, every source contributes the same
    # expected token mass (the smallest source's)
    for s, tot in per_source_expected.items():
        assert abs(tot - mn) < 1e-6, s


def test_u2_u3_cdc_classification_and_compaction(spark):
    cust = sf_table("customer")
    keys = set(int(k) for k in cust["c_custkey"])
    delta_keys = {k for k in keys if k % 10 == 0} | {
        -k - 1 for k in sorted(keys)[:3]
    }
    inserted = sum(1 for k in delta_keys if k not in keys)
    updated = sum(1 for k in delta_keys if k in keys)
    unchanged = sum(1 for k in keys if k not in delta_keys)
    r = REGISTRY["u2_delete_detect"].spark(spark, SF_DIR).collect()[0]
    assert (r.n_inserted, r.n_updated, r.n_unchanged) == (
        inserted, updated, unchanged)
    # u3: latest record per user under (ts DESC, event_id DESC)
    recs = events_sorted()
    latest = {}
    for u, us, e, et, v, ts in recs:  # sorted ascending; last one wins
        latest[u] = (e, ts, et, v)
    rows = REGISTRY["u3_latest_per_key"].spark(spark, SF_DIR).collect()
    got = {r.user_id: (r.event_id, pd.Timestamp(r.ts), r.event_type, r.value)
           for r in rows}
    assert got == latest
    assert len(got) == len({u for u, *_ in recs})  # exactly one per key


def test_u1_merge_output_keys_are_unique(spark):
    """The merged dimension must carry each business key EXACTLY once
    (the fixture's keys start at 0, so a bare-negation insert keying
    would collide -0 == 0 and emit customer 0 twice on both engines)."""
    from collections import Counter as C

    cust = sf_table("customer")
    rows = REGISTRY["u1_scd1_merge"].spark(spark, SF_DIR).collect()
    counts = C(r.c_custkey for r in rows)
    assert max(counts.values()) == 1
    assert len(rows) == len(cust) + 3  # every customer + 3 true inserts
    # updated keys carry the +100 adjustment exactly once
    base = {int(r["c_custkey"]): float(r["c_acctbal"])
            for _, r in cust.iterrows()}
    got = {r.c_custkey: r.c_acctbal for r in rows}
    for k, bal in base.items():
        expect = bal + 100.0 if k % 10 == 0 else bal
        assert abs(got[k] - expect) < 1e-9, k


# ---------------------------------------- OHLC, SimHash, JSON batch 18


def test_r8_ohlc_bar_conventions(spark):
    """OHLC: open = value at the FIRST (ts, event_id) of the bar,
    close = at the LAST; high/low are plain extremes; bars are 15-min
    tumbling per event_type."""
    recs = events_sorted()
    bars = defaultdict(list)
    for u, us, e, et, v, ts in recs:
        bar = ts.replace(minute=(ts.minute // 15) * 15, second=0,
                         microsecond=0)
        bars[(bar, et)].append((us, e, v))
    rows = REGISTRY["r8_resample_ohlc"].spark(spark, SF_DIR).collect()
    got = {(pd.Timestamp(r.bar_start), r.event_type): r for r in rows}
    assert set(got) == set(bars)
    for k, evs in bars.items():
        evs.sort()
        r = got[k]
        assert r.open == evs[0][2] and r.close == evs[-1][2]
        assert r.high == max(v for _, _, v in evs)
        assert r.low == min(v for _, _, v in evs)
        assert r.n_events == len(evs)
        tv = sum(Decimal(repr(round(v, 2))) for _, _, v in evs)
        assert r.total_value == float(tv)
        assert r.low <= r.open <= r.high and r.low <= r.close <= r.high


def _simhash60(text):
    toks = set(text.split(" "))
    bits = []
    for j in range(60):
        s = 0
        for t in toks:
            h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
            s += 1 if (h >> j) & 1 == 1 else -1
        bits.append(1 if s > 0 else 0)
    return sum(b << j for j, b in enumerate(bits))


def test_d4_simhash_bit_majority_law(spark):
    docs = sf_table("documents")
    rows = REGISTRY["d4_simhash"].spark(spark, SF_DIR).collect()
    got = {r.doc_id: r.simhash for r in rows}
    for _, r in docs.iterrows():
        assert got[int(r["doc_id"])] == _simhash60(r["text"]), r["doc_id"]


def test_d4b_simhash_pairs_exact_recall_at_3(spark):
    """15-bit-band blocking has EXACT recall at Hamming <= 3 over 4
    bands (pigeonhole: 4 bands, 3 differing bits, one band must be
    clean) — so the pair set equals the brute-force Hamming scan."""
    docs = sf_table("documents")
    fp = {
        int(r["doc_id"]): _simhash60(r["text"])
        for _, r in docs.iterrows()
        if int(r["doc_id"]) < 150
    }
    expect = {}
    ids = sorted(fp)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = ids[i], ids[j]
            d = bin(fp[a] ^ fp[b]).count("1")
            if d <= 3:
                expect[(a, b)] = d
    rows = REGISTRY["d4b_simhash_pairs"].spark(spark, SF_DIR).collect()
    got = {(r.doc_a, r.doc_b): r.hamming for r in rows}
    assert got == expect and len(expect) > 0


def test_e4_json_extraction(spark):
    import json as _json

    ev = sf_table("events")
    rows = REGISTRY["e4_props_json"].spark(spark, SF_DIR).collect()
    got = {r.event_id: r.k for r in rows}
    for _, r in ev.iterrows():
        assert got[int(r["event_id"])] == _json.loads(r["props"])["k"]


# --------------------------------------- PQ, hyperplane LSH, RAG batch 19


def test_v7_pq_adc_matches_literal_quantizer(spark):
    """Product quantization: 8 subspaces x 8 dims, codebook = vectors
    with vec_id % 64 == 0, assignment by 6dp-rounded squared L2 with
    code_id tie-break; ADC distance = sum over subspaces of the
    query-to-assigned-centroid distances; top-5 per query by
    (adc, vec_id)."""
    vecs = _vecs()
    M = D = 8

    def sub(v, s):
        return v[s * D:(s + 1) * D]

    def sqd6(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return round(acc, 6)

    cb = {i for i in vecs if i % 64 == 0}
    codes = {}
    for v_id, (v, _) in vecs.items():
        codes[v_id] = [
            min(cb, key=lambda c: (sqd6(sub(v, s), sub(vecs[c][0], s)), c))
            for s in range(M)
        ]
    expect = {}
    for q in (i for i in vecs if i < 10):
        qv = vecs[q][0]
        qd = {
            (s, c): Decimal(repr(sqd6(sub(qv, s), sub(vecs[c][0], s))))
            for s in range(M)
            for c in cb
        }
        scored = sorted(
            (
                float(sum(qd[(s, codes[v_id][s])] for s in range(M))),
                v_id,
            )
            for v_id in vecs
            if v_id != q
        )[:5]
        for rank, (d, v_id) in enumerate(scored, start=1):
            expect[(q, rank)] = (v_id, d)
    rows = REGISTRY["v7_pq_adc"].spark(spark, SF_DIR).collect()
    got = {(r.query_id, r.rank): (r.vec_id, r.adc_dist) for r in rows}
    assert set(got) == set(expect)
    for k in expect:
        assert got[k][0] == expect[k][0], k
        assert abs(got[k][1] - expect[k][1]) < 1e-9


def test_v3_hyperplane_lsh_bucketing(spark):
    """8 md5-derived +-1 hyperplanes bucket the corpus; near-dup pairs
    are same-bucket pairs whose EXACT cosine >= 0.3 — brute-forced with
    the identical sign convention (round the projection to 6dp before
    the > 0 test)."""
    vecs = _vecs()
    signs = {
        p: [
            1 if int(hashlib.md5(f"{p}|{j}".encode()).hexdigest()[:2], 16) % 2 == 1
            else -1
            for j in range(1, 65)
        ]
        for p in range(8)
    }

    def bucket(v):
        b = 0
        for p in range(8):
            acc = 0.0
            for x, sgn in zip(v, signs[p]):
                acc += x if sgn == 1 else -x
            if round(acc, 6) > 0:
                b += 1 << p
        return b

    buckets = defaultdict(list)
    for v_id, (v, _) in vecs.items():
        buckets[bucket(v)].append(v_id)
    expect = {}
    for ids in buckets.values():
        ids.sort()
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                # the operator rounds to 6dp BEFORE thresholding
                cos = round(_cos(vecs[ids[i]][0], vecs[ids[j]][0]), 6)
                if cos >= 0.3:
                    expect[(ids[i], ids[j])] = cos
    rows = REGISTRY["v3_lsh_neardup"].spark(spark, SF_DIR).collect()
    got = {(r.vec_a, r.vec_b): r.cosine for r in rows}
    assert set(got) == set(expect) and len(expect) > 0
    for k in expect:
        assert abs(got[k] - expect[k]) < 1e-9


def test_x20_chunk_split_coverage_law(spark):
    """RAG chunking (size 32, stride 24): starts run 0..n-overlap-1 by
    stride, every token is covered, and no chunk is fully contained in
    its predecessor (the trailing-duplicate guard)."""
    docs = sf_table("documents")
    rows = REGISTRY["x20_chunk_split"].spark(spark, SF_DIR).collect()
    got = defaultdict(dict)
    for r in rows:
        got[r.doc_id][r.start] = (r.chunk_tokens, r.chunk_text)
    size, stride, overlap = 32, 24, 8
    for _, r in docs.iterrows():
        toks = r["text"].split(" ")
        n = len(toks)
        starts = list(range(0, max(n - overlap - 1, 0) + 1, stride))
        d = int(r["doc_id"])
        assert sorted(got[d]) == starts
        covered = 0
        for s in starts:
            chunk = toks[s:s + size]
            assert got[d][s] == (len(chunk), " ".join(chunk)), (d, s)
            covered = max(covered, s + len(chunk))
        assert covered == n  # full coverage, no token dropped


# ------------------------------------------------- mop-up batch 20


def test_x5_corpus_top_terms(spark):
    docs = sf_table("documents")
    cnt = defaultdict(int)
    for _, r in docs.iterrows():
        for t in r["text"].split(" "):
            if t:
                cnt[t] += 1
    top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    rows = REGISTRY["x5_top_terms"].spark(spark, SF_DIR).collect()
    assert [(r.term, r.term_count) for r in rows] == top


def test_v4_text_embedding_join_norms(spark):
    docs = sf_table("documents")[["doc_id", "lang"]]
    emb = sf_table("embeddings")
    norm6 = {
        int(r["vec_id"]): Decimal(
            repr(round(math.sqrt(sum(float(x) * float(x)
                                     for x in r["embedding"])), 6))
        )
        for _, r in emb.iterrows()
    }
    per = defaultdict(lambda: [0, Decimal(0)])
    for _, r in docs.iterrows():
        d = int(r["doc_id"])
        if d in norm6:
            per[r["lang"]][0] += 1
            per[r["lang"]][1] += norm6[d]
    rows = REGISTRY["v4_text_embedding_join"].spark(spark, SF_DIR).collect()
    got = {r.lang: (r.n_docs, r[2]) for r in rows}
    assert set(got) == set(per)
    for lang, (n, s) in per.items():
        assert got[lang][0] == n
        assert abs(got[lang][1] - float(s) / n) < 1e-9


def test_q12_expectation_rules(spark):
    o = sf_table("orders")
    n = len(o)
    viol = {
        "totalprice_positive": int((~(o["o_totalprice"] > 0)).sum()),
        "status_in_domain": int((~o["o_orderstatus"].isin(["O", "F", "P"])).sum()),
        "orderdate_not_null": int(o["o_orderdate"].isna().sum()),
        "totalprice_under_cap": int((~(o["o_totalprice"] <= 400000)).sum()),
    }
    rows = REGISTRY["q12_expectations"].spark(spark, SF_DIR).collect()
    got = {r.rule: (r.n_rows, r.n_violations, r.violation_rate, r.passed)
           for r in rows}
    assert set(got) == set(viol)
    for rule, v in viol.items():
        assert got[rule] == (n, v, v / n, v == 0), rule
    # the cap rule is the deliberate warn-level check with real hits
    assert viol["totalprice_under_cap"] > 0


def test_d13_semantic_clusters_are_v3_components(spark):
    """d13's clusters must be exactly the connected components (min
    label) of v3's verified edge set — union-find over the edges the
    v3 law test already brute-forced."""
    edges = [
        (r.vec_a, r.vec_b)
        for r in REGISTRY["v3_lsh_neardup"].spark(spark, SF_DIR).collect()
    ]
    emb = sf_table("embeddings")
    parent = {int(v): int(v) for v in emb["vec_id"]}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {v: min(u for u in parent if find(u) == find(v))
              for v in parent}
    rows = REGISTRY["d13_semantic_clusters"].spark(spark, SF_DIR).collect()
    got = {r.vec_id: r.cluster for r in rows}
    assert got == expect


# ------------------------------------------ TPC-H join shapes batch 21


def _rev(row):
    p = Decimal(repr(round(float(row["l_extendedprice"]), 2)))
    d = Decimal(repr(round(float(row["l_discount"]), 4)))
    return p * (1 - d)


def test_h3_shipping_priority_brute_force(spark):
    li = sf_table("lineitem")
    o = sf_table("orders")
    c = sf_table("customer")
    bld = set(
        int(k) for k in c[c["c_mktsegment"] == "BUILDING"]["c_custkey"]
    )
    o_ok = {
        int(r["o_orderkey"]): (pd.Timestamp(r["o_orderdate"]),
                               r["o_orderpriority"])
        for _, r in o.iterrows()
        if int(r["o_custkey"]) in bld
        and pd.Timestamp(r["o_orderdate"]) < pd.Timestamp("1999-01-01")
    }
    per = defaultdict(Decimal)
    meta = {}
    for _, r in li.iterrows():
        k = int(r["l_orderkey"])
        if k in o_ok and pd.Timestamp(r["l_shipdate"]) > pd.Timestamp("1999-01-01"):
            per[k] += _rev(r)
            meta[k] = o_ok[k]
    top = sorted(
        ((float(v), k) for k, v in per.items()), key=lambda t: (-t[0], t[1])
    )[:10]
    rows = REGISTRY["h3_shipping_priority"].spark(spark, SF_DIR).collect()
    assert [(r.l_orderkey, r.revenue) for r in rows] == [
        (k, v) for v, k in top
    ]
    for r in rows:
        od, pr = meta[r.l_orderkey]
        assert pd.Timestamp(r.o_orderdate) == od and r.o_orderpriority == pr


def test_h5_region_volume_local_supplier_rule(spark):
    """Q5's defining subtlety: revenue counts only when the SUPPLIER
    shares the customer's nation (local supply chain)."""
    li = sf_table("lineitem")
    o = sf_table("orders")
    c = sf_table("customer")
    s = sf_table("supplier")
    n = sf_table("nation")
    r = sf_table("region")
    asia = set(
        int(k) for k in r[r["r_name"] == "ASIA"]["r_regionkey"]
    )
    nat = {
        int(rr["n_nationkey"]): (rr["n_name"], int(rr["n_regionkey"]))
        for _, rr in n.iterrows()
    }
    cust_nat = {int(rr["c_custkey"]): int(rr["c_nationkey"])
                for _, rr in c.iterrows()}
    supp_nat = {int(rr["s_suppkey"]): int(rr["s_nationkey"])
                for _, rr in s.iterrows()}
    ord_cust = {
        int(rr["o_orderkey"]): int(rr["o_custkey"])
        for _, rr in o.iterrows()
        if pd.Timestamp("1996-01-01")
        <= pd.Timestamp(rr["o_orderdate"])
        < pd.Timestamp("1997-01-01")
    }
    per = defaultdict(Decimal)
    for _, rr in li.iterrows():
        k = int(rr["l_orderkey"])
        if k not in ord_cust:
            continue
        cn = cust_nat[ord_cust[k]]
        sn = supp_nat[int(rr["l_suppkey"])]
        if cn != sn:  # the local-supplier join condition
            continue
        name, region = nat[cn]
        if region in asia:
            per[name] += _rev(rr)
    rows = REGISTRY["h5_region_volume"].spark(spark, SF_DIR).collect()
    got = {r2.n_name: r2.revenue for r2 in rows}
    assert got == {k: float(v) for k, v in per.items()} and len(got) > 0
