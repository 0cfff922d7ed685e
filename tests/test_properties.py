"""Property-based tests (SURVEY §5.2): semantic laws that must hold on
arbitrary inputs, via hypothesis over small generated frames."""

from __future__ import annotations

import pytest

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_power_bi_dashboard_spark.operators.model import build_fact_sales
from etl_power_bi_dashboard_spark.operators.transform import fill_missing

_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    vals=st.lists(
        st.one_of(st.none(), st.floats(-1e6, 1e6, allow_nan=False)),
        min_size=1,
        max_size=20,
    )
)
@_settings
@pytest.mark.slow
def test_median_fill_idempotent(spark, vals):
    """fill ∘ fill == fill, and the output never contains nulls when at
    least one value is present."""
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    once = fill_missing(df)
    twice = fill_missing(once)
    a = sorted((r.v is None, r.v) for r in once.collect())
    b = sorted((r.v is None, r.v) for r in twice.collect())
    assert a == b
    if any(v is not None for v in vals):
        assert all(r.v is not None for r in once.collect())


@given(d=st.dates(dt.date(1990, 1, 1), dt.date(2100, 12, 31)))
@_settings
@pytest.mark.slow
def test_date_id_roundtrip(spark, d):
    """yyyyMMdd surrogate key round-trips through parse (§1.4.6)."""
    df = spark.createDataFrame([(d.isoformat(),)], "s string")
    out = df.select(
        F.date_format(F.to_date("s"), "yyyyMMdd").cast("long").alias("id")
    ).first()
    assert out.id == int(d.strftime("%Y%m%d"))


@given(
    reviews_per_order=st.lists(st.integers(0, 3), min_size=1, max_size=6)
)
@_settings
@pytest.mark.slow
def test_fanout_row_count_law(spark, reviews_per_order):
    """|fact ⟕ reviews| = Σ max(1, reviews_per_order) (§1.4.8)."""
    orders = spark.createDataFrame(
        [(f"o{i}", "c", "2023-01-01 00:00:00") for i in range(len(reviews_per_order))],
        "order_id string, customer_id string, order_purchase_timestamp string",
    ).withColumn(
        "order_purchase_timestamp", F.to_timestamp("order_purchase_timestamp")
    )
    items = spark.createDataFrame(
        [
            (f"o{i}", 1, "p", "s", None, 1.0, 0.1)
            for i in range(len(reviews_per_order))
        ],
        "order_id string, order_item_id long, product_id string, seller_id string,"
        " shipping_limit_date string, price double, freight_value double",
    )
    review_rows = [
        (f"o{i}", j + 1)
        for i, n in enumerate(reviews_per_order)
        for j in range(n)
    ]
    reviews = spark.createDataFrame(
        review_rows or [("_none", 1)], "order_id string, review_score long"
    )
    fact = build_fact_sales(items, orders, reviews)
    want = sum(max(1, n) for n in reviews_per_order)
    assert fact.count() == want


@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000)),
        min_size=1, max_size=25,
    ),
    right=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000), st.integers(-99, 99)),
        min_size=1, max_size=25,
        unique_by=lambda t: (t[0], t[1]),
    ),
)
@_settings
@pytest.mark.slow
def test_asof_join_matches_bruteforce(spark, left, right):
    """asof_join law: for every left row, the carried value equals the
    right row with the greatest right.ts <= left.ts for that key (right
    timestamps unique per key, merge_asof's precondition)."""

    from etl_power_bi_dashboard_spark.operators.temporal import asof_join

    base = dt.datetime(2000, 1, 1)
    to_ts = lambda s: base + dt.timedelta(seconds=s)  # noqa: E731
    ldf = spark.createDataFrame(
        [(k, to_ts(s)) for k, s in left], "k BIGINT, ts TIMESTAMP"
    )
    rdf = spark.createDataFrame(
        [(k, to_ts(s), v) for k, s, v in right],
        "k BIGINT, ts TIMESTAMP, val BIGINT",
    )
    got = {
        (r.k, r.ts): r.asof_val
        for r in asof_join(ldf, rdf, on="k").collect()
    }
    for k, s in left:
        candidates = [(s2, v) for k2, s2, v in right if k2 == k and s2 <= s]
        want = max(candidates)[1] if candidates else None
        assert got[(k, to_ts(s))] == want, (k, s, candidates)


@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000)),
        min_size=1, max_size=25,
    ),
    right=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000), st.integers(-99, 99)),
        min_size=1, max_size=25,
        unique_by=lambda t: (t[0], t[1]),
    ),
)
@_settings
@pytest.mark.slow
def test_asof_forward_matches_bruteforce(spark, left, right):
    """asof_join_forward law (the r9 mirror): for every left row, the
    carried value equals the right row with the SMALLEST right.ts >=
    left.ts for that key (right timestamps unique per key)."""

    from etl_power_bi_dashboard_spark.operators.temporal import (
        asof_join_forward,
    )

    base = dt.datetime(2000, 1, 1)
    to_ts = lambda s: base + dt.timedelta(seconds=s)  # noqa: E731
    ldf = spark.createDataFrame(
        [(k, to_ts(s)) for k, s in left], "k BIGINT, ts TIMESTAMP"
    )
    rdf = spark.createDataFrame(
        [(k, to_ts(s), v) for k, s, v in right],
        "k BIGINT, ts TIMESTAMP, val BIGINT",
    )
    got = {
        (r.k, r.ts): r.next_val
        for r in asof_join_forward(
            ldf, rdf, on="k", tiebreak="val"
        ).collect()
    }
    for k, s in left:
        candidates = [(s2, v) for k2, s2, v in right if k2 == k and s2 >= s]
        want = min(candidates)[1] if candidates else None
        assert got[(k, to_ts(s))] == want, (k, s, candidates)


@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000)),
        min_size=1, max_size=25,
    ),
    right=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000), st.integers(0, 99)),
        min_size=1, max_size=25,
        unique_by=lambda t: (t[0], t[1]),
    ),
    tol=st.one_of(st.none(), st.integers(0, 200)),
)
@_settings
@pytest.mark.slow
def test_asof_nearest_matches_bruteforce(spark, left, right, tol):
    """asof_join_nearest law: for every left row, the match is the right
    row minimizing |right.ts − left.ts| for that key within tolerance,
    |Δ| ties resolving to the EARLIER candidate; no candidate within
    tolerance ⇒ NULL columns."""

    from etl_power_bi_dashboard_spark.operators.temporal import (
        asof_join_nearest,
    )

    base = dt.datetime(2000, 1, 1)
    to_ts = lambda s: base + dt.timedelta(seconds=s)  # noqa: E731
    ldf = spark.createDataFrame(
        [(k, to_ts(s)) for k, s in left], "k BIGINT, ts TIMESTAMP"
    )
    rdf = spark.createDataFrame(
        [(k, to_ts(s), v) for k, s, v in right],
        "k BIGINT, ts TIMESTAMP, rid BIGINT",
    )
    got = {
        (r.k, r.ts): (r.nearest_rid, r.delta_seconds)
        for r in asof_join_nearest(
            ldf, rdf, on="k", right_id="rid", tolerance_seconds=tol
        ).collect()
    }
    for k, s in left:
        cands = [
            (abs(s2 - s), s2, v)
            for k2, s2, v in right
            if k2 == k and (tol is None or abs(s2 - s) <= tol)
        ]
        if not cands:
            assert got[(k, to_ts(s))] == (None, None), (k, s)
            continue
        best_abs = min(d for d, _, _ in cands)
        # tie on |Δ| → earlier candidate (timestamps unique per key,
        # so at most one earlier + one later share best_abs)
        s2, v = min((s2, v) for d, s2, v in cands if d == best_abs)
        want_delta = float(s2 - s)
        rid, delta = got[(k, to_ts(s))]
        assert rid == v and delta == want_delta, (k, s, cands, rid, delta)


@given(
    lens=st.lists(st.integers(1, 40), min_size=1, max_size=30),
    ctx=st.integers(8, 64),
)
@_settings
@pytest.mark.slow
def test_greedy_pack_laws_arbitrary_docs(spark, lens, ctx):
    """pack_greedy on arbitrary documents (including ones LONGER than the
    context): every doc placed once; a bin exceeds ctx only when it holds
    a single oversized doc; bins number contiguously from 0 per bucket."""
    from etl_power_bi_dashboard_spark.operators.packing import pack_greedy

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(n))) for i, n in enumerate(lens)],
        "doc_id long, text string",
    )
    rows = pack_greedy(docs, ctx_len=ctx, n_buckets=2).collect()
    assert sorted(r.doc_id for r in rows) == list(range(len(lens)))
    fills: dict[tuple, int] = {}
    members: dict[tuple, int] = {}
    for r in rows:
        assert r.n_tokens == lens[r.doc_id]
        key = (r.bucket, r.bin_no)
        fills[key] = fills.get(key, 0) + r.n_tokens
        members[key] = members.get(key, 0) + 1
    for key, tot in fills.items():
        assert tot <= ctx or members[key] == 1, (key, tot, members[key])
    by_bucket: dict[int, set] = {}
    for r in rows:
        by_bucket.setdefault(r.bucket, set()).add(r.bin_no)
    for bins in by_bucket.values():
        assert bins == set(range(len(bins)))


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=8),
        min_size=2,
        max_size=10,
    )
)
@_settings
def test_d6_length_filter_lossless(spark, docs):
    """The PPJoin length filter in the duplicate-cluster edge join is
    LOSSLESS at θ=0.95: edges from the filtered inverted-index join equal
    the brute-force pairwise Jaccard edges on arbitrary corpora."""
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    sets_ = {i: set(toks) for i, toks in enumerate(docs)}
    expected = set()
    for i in sets_:
        for j in sets_:
            if i < j:
                inter = len(sets_[i] & sets_[j])
                union = len(sets_[i] | sets_[j])
                if union and inter / union >= 0.95:
                    expected.add((i, j))

    df = spark.createDataFrame(rows, "doc_id long, text string")
    ts = F.array_distinct(F.split("text", " "))
    tok = df.select("doc_id", F.size(ts).alias("n"), F.explode(ts).alias("term"))
    a = tok.select(F.col("doc_id").alias("i"), F.col("n").alias("ni"), "term")
    b = tok.select(F.col("doc_id").alias("j"), F.col("n").alias("nj"), "term")
    inter = (
        a.join(
            b,
            (a["term"] == b["term"])
            & (F.col("i") < F.col("j"))
            & (
                F.least("ni", "nj").cast("double")
                / F.greatest("ni", "nj").cast("double")
                >= 0.95
            ),
        )
        .groupBy("i", "j", "ni", "nj")
        .agg(F.count("*").alias("c"))
    )
    got = {
        (r.i, r.j)
        for r in inter.filter(
            F.col("c").cast("double") / (F.col("ni") + F.col("nj") - F.col("c"))
            >= 0.95
        ).collect()
    }
    assert got == expected


@given(
    changelog=st.lists(
        st.tuples(
            st.integers(0, 3),      # key
            st.integers(0, 500),    # ts seconds
            st.integers(-99, 99),   # value
        ),
        min_size=1,
        max_size=30,
    )
)
@_settings
def test_scd2_intervals_partition_timeline(spark, changelog):
    """scd2_history laws on arbitrary changelogs: per key, intervals
    ordered by effective_from chain exactly (each effective_to equals
    the next effective_from — no overlaps, no gaps), exactly one row per
    key is current (open-ended), and every changelog row appears exactly
    once."""

    from etl_power_bi_dashboard_spark.plans.merge_plans import scd2_history

    base = dt.datetime(2000, 1, 1)
    rows = [
        (k, i, v, base + dt.timedelta(seconds=s))
        for i, (k, s, v) in enumerate(changelog)
    ]
    df = spark.createDataFrame(
        rows, "user_id BIGINT, event_id BIGINT, value BIGINT, ts TIMESTAMP"
    )
    out = scd2_history(df).collect()
    assert len(out) == len(rows)  # every changelog row becomes one interval
    by_key: dict[int, list] = {}
    for r in out:
        by_key.setdefault(r.user_id, []).append(r)
    for k, ivs in by_key.items():
        ivs.sort(key=lambda r: (r.effective_from, r.event_id))
        # exactly one open (current) interval per key, and it is the last
        assert sum(r.is_current for r in ivs) == 1
        assert ivs[-1].is_current == 1 and ivs[-1].effective_to is None
        for prev, nxt in zip(ivs, ivs[1:]):
            assert prev.effective_to == nxt.effective_from  # chain: no gap
            # half-open intervals: [from, to) never overlaps the successor
            assert prev.effective_from <= prev.effective_to


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("abcdefghij"), min_size=1, max_size=12
        ).map(lambda toks: " ".join(toks)),
        min_size=2,
        max_size=12,
    ),
    thresh=st.sampled_from([0.5, 0.7, 0.8, 0.95]),
)
@_settings
@pytest.mark.slow
def test_prefix_filter_theorem(spark, docs, thresh):
    """PPJoin prefix theorem on arbitrary corpora: every pair of docs
    with token-set Jaccard >= t must share at least one PREFIX token
    (prefix_postings' losslessness guarantee), at several thresholds.
    The token universe is deliberately tiny (10 single-letter tokens) to
    force hot terms, shared prefixes, and degenerate overlaps."""
    from etl_power_bi_dashboard_spark.operators import dedup

    sdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    pref = dedup.prefix_postings(dedup.shingle_sets(sdf, n=1), thresh)
    prefixes: dict[int, set] = {}
    for r in pref.collect():
        prefixes.setdefault(r.doc_id, set()).add(r.term)
    sets_ = {i: set(t.split()) for i, t in enumerate(docs)}
    for a in sets_:
        for b in sets_:
            if a >= b:
                continue
            inter = sets_[a] & sets_[b]
            union = sets_[a] | sets_[b]
            if len(inter) / len(union) >= thresh:
                assert prefixes[a] & prefixes[b], (
                    docs[a], docs[b], prefixes[a], prefixes[b], thresh,
                )


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.floats(-100, 100, allow_nan=False),
        ),
        min_size=1,
        max_size=30,
    )
)
@_settings
@pytest.mark.slow
def test_bucketed_rank_equals_global_rank(spark, rows):
    """The sc5 range-partitioned ranking (shared by a14/a16/a19) must
    assign exactly the ranks of the single-reducer global window, on
    arbitrary value distributions including duplicates and negatives."""
    from pyspark.sql import Window

    from etl_power_bi_dashboard_spark.plans.stats_plans import (
        _ranked_by_value_per_type,
    )

    ev = spark.createDataFrame(
        [(t, float(v), i) for i, (t, v) in enumerate(rows)],
        "event_type string, value double, event_id long",
    )
    got = {
        (r.event_type, r.value, r.rn, r.n)
        for r in _ranked_by_value_per_type(ev).collect()
    }
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    want = {
        (r.event_type, r.value, r.rn, r.n)
        for r in ev.select(
            "event_type",
            "value",
            F.row_number().over(w).alias("rn"),
            F.count("*")
            .over(Window.partitionBy("event_type"))
            .cast("long")
            .alias("n"),
        ).collect()
    }
    assert got == want


@given(
    ivs=st.lists(
        st.tuples(st.integers(0, 60), st.integers(0, 30)),
        min_size=1,
        max_size=14,
    )
)
@_settings
@pytest.mark.slow
def test_interval_coalesce_law(spark, ivs):
    """coalesce_intervals ≡ the textbook sequential merge on arbitrary
    closed integer intervals: same periods, same fold counts, and the
    output is always disjoint with gaps > 0 between periods."""
    from etl_power_bi_dashboard_spark.operators.temporal import (
        coalesce_intervals,
    )

    rows = [(1, i, s, s + ln) for i, (s, ln) in enumerate(ivs)]
    df = spark.createDataFrame(rows, "k long, oid long, s long, e long")
    got = sorted(
        (r.period_start, r.period_end, r.n_intervals)
        for r in coalesce_intervals(
            df, key="k", s="s", e="e", order="oid"
        ).collect()
    )
    want = []
    for s, e in sorted((s, s + ln) for s, ln in ivs):
        if want and s <= want[-1][1]:
            want[-1][1] = max(want[-1][1], e)
            want[-1][2] += 1
        else:
            want.append([s, e, 1])
    assert got == [tuple(w) for w in want]
    for (a_s, a_e, _), (b_s, b_e, _) in zip(got, got[1:]):
        assert a_e < b_s - 0  # disjoint
        assert b_s > a_e + 1 - 1  # strictly beyond touch


@given(
    ids=st.sets(st.integers(0, 200), min_size=1, max_size=40),
    width=st.sampled_from([1, 3, 8, 64]),
)
@_settings
@pytest.mark.slow
def test_sequence_gap_report_law(spark, ids, width):
    """The bucketed gap report ≡ direct enumeration for any id set and
    any bucket width (seams included), and missing == gap_total."""
    from etl_power_bi_dashboard_spark.operators.quality import (
        sequence_gap_report,
    )

    df = spark.createDataFrame([(i,) for i in ids], "id long")
    r = sequence_gap_report(df, id_col="id", bucket_width=width).collect()[0]
    srt = sorted(ids)
    gaps = [
        b - a - 1 for a, b in zip(srt, srt[1:]) if b > a + 1
    ]
    assert (r.min_id, r.max_id, r.n_rows) == (srt[0], srt[-1], len(srt))
    assert r.n_gaps == len(gaps)
    assert r.max_gap == (max(gaps) if gaps else 0)
    assert r.gap_total == sum(gaps)
    assert r.missing == r.gap_total == srt[-1] - srt[0] + 1 - len(srt)


def test_asof_join_tiebreak_orders_equal_timestamps(spark):
    """Two right rows at the identical timestamp: with tiebreak the
    carried value is deterministic (largest tiebreak wins — carried
    last under ascending order), matching asof_join_forward's knob."""
    from etl_power_bi_dashboard_spark.operators import temporal

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00")], "user_id long, ts string"
    ).select("user_id", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [
            (1, "2024-01-01 09:00:00", 7),
            (1, "2024-01-01 09:00:00", 3),
        ],
        "user_id long, ts string, click_id long",
    ).select("user_id", F.col("ts").cast("timestamp"), "click_id")
    out = temporal.asof_join(
        left, right, on="user_id", ts="ts", tiebreak="click_id"
    ).collect()
    assert len(out) == 1 and out[0].asof_click_id == 7


def test_range_join_buckets_dedup_flag(spark):
    """dedup=True (the SQL-DISTINCT default the r2 oracle pins)
    collapses the projection; dedup=False keeps multiplicity for
    callers that count matches."""
    from etl_power_bi_dashboard_spark.operators import temporal

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00")], "user_id long, ts string"
    ).select("user_id", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 10:01:00"), (1, "2024-01-01 10:01:00")],
        "user_id long, ts string",
    ).select("user_id", F.col("ts").cast("timestamp"))
    assert (
        temporal.range_join_buckets(
            left, right, on="user_id", window_seconds=300
        ).count()
        == 1
    )
    assert (
        temporal.range_join_buckets(
            left, right, on="user_id", window_seconds=300, dedup=False
        ).count()
        == 2
    )


def test_sequence_gap_report_empty_input_is_concrete(spark):
    """Zero input rows must report n_rows=0, missing=0 (not NULLs a
    missing>0 monitor would silently pass over); min/max stay NULL —
    there are no ids to bound."""
    from etl_power_bi_dashboard_spark.operators.quality import (
        sequence_gap_report,
    )

    empty = spark.createDataFrame([], "id long")
    r = sequence_gap_report(empty).collect()[0]
    assert (r.n_rows, r.missing, r.n_gaps, r.max_gap, r.gap_total) == (
        0, 0, 0, 0, 0,
    )
    assert r.min_id is None and r.max_id is None


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=10),
        min_size=2,
        max_size=8,
    )
)
@_settings
def test_minhash_lsh_pipeline_matches_bruteforce(spark, docs):
    """The full MinHash→LSH→verify pipeline on ARBITRARY corpora equals
    the pure-Python pipeline with the same conventions (md5 signature
    permutations, 3-row bands, exact unigram-Jaccard verification at
    0.5) — the operator-level generalization of the fixture-pinned d3/
    d14 audits. LSH may MISS high-Jaccard pairs (that is the sketch's
    contract), so equality is against the brute-forced candidate set,
    not all-pairs."""
    import hashlib

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    sets_ = {i: set(toks) for i, toks in enumerate(docs)}
    sigs = {
        d: [
            min(hashlib.md5(f"{p}|{t}".encode()).hexdigest() for t in toks)
            for p in range(12)
        ]
        for d, toks in sets_.items()
    }
    buckets = {}
    for d, sig in sigs.items():
        for band in range(4):
            key = (band, "".join(sig[band * 3:band * 3 + 3]))
            buckets.setdefault(key, set()).add(d)
    expected = set()
    for ds in buckets.values():
        for i in ds:
            for j in ds:
                if i < j:
                    inter = len(sets_[i] & sets_[j])
                    union = len(sets_[i] | sets_[j])
                    if union and inter / union >= 0.5:
                        expected.add((i, j))

    from etl_power_bi_dashboard_spark.operators import dedup

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_dedup_pairs(
            df, n=1, k=12, rows_per_band=3, threshold=0.5
        ).collect()
    }
    assert got == expected
