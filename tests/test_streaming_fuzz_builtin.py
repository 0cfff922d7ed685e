"""Hypothesis fuzz for the BUILT-IN-operator streaming twins —
dedup_stream, daily_active_users, click_purchase_join — under arbitrary
corpora cut into event-time-ordered micro-batch tranches. The
single-corpus fixture tests drain in ONE micro-batch and so never
exercise cross-batch state; these laws do: dedup keys surviving
tranche boundaries, join state kept alive until the matching side
arrives batches later, watermark advancement between tranches.

Preconditions the laws encode (and the operators document):
- tranches are contiguous segments of the global (ts, event_id) order —
  same lambda precondition as attribution/funnel;
- every law's time spread keeps needed state inside the watermark
  horizon (dedup: duplicates within 2h of their first; join:
  watermark 2h > the 1h match window), so the stream answer must equal
  the batch answer EXACTLY, not merely approximately.
"""

from __future__ import annotations

import pytest

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_power_bi_dashboard_spark.streaming import events as se

_BASE = dt.datetime(2024, 1, 1)

_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)

# two cut points over the max record count → three contiguous tranches
_cuts = st.tuples(st.integers(0, 14), st.integers(0, 14))

_seq = iter(range(10**6))



pytestmark = pytest.mark.slow  # long-form tranching fuzz: opt-in via -m slow

def _tranche_and_write(spark, rows, cuts, src):
    """Order rows globally by (ts, event_id), cut into contiguous
    tranches, write each as ONE file (maxFilesPerTrigger=1 ⇒ one
    micro-batch per tranche), reversed within the tranche so intra-batch
    order is never the global order."""
    ordered = sorted(rows, key=lambda r: (r[1], r[0]))
    a, b = sorted((min(cuts[0], len(ordered)), min(cuts[1], len(ordered))))
    segs = [s for s in (ordered[:a], ordered[a:b], ordered[b:]) if s]
    for seg in segs:
        spark.createDataFrame(
            list(reversed(seg)), _SCHEMA
        ).coalesce(1).write.mode("append").parquet(src)
    return segs


def _drain(spark, stream_df, qname, mode):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(qname)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()


# dedup corpus: ids from a TIGHT domain (0-4) so duplicates are
# guaranteed; minute-granular ts within 90 min keeps every duplicate
# inside the 2h watermark horizon of its first occurrence. Duplicates
# of an id are REDELIVERIES: payload is derived from the id, so the
# first-occurrence-wins and any-occurrence-wins semantics coincide and
# the law is exact.
_dedup_records = st.lists(
    st.tuples(st.integers(0, 4), st.integers(0, 90)),
    min_size=1,
    max_size=14,
)


@given(records=_dedup_records, cuts=_cuts)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_dedup_stream_equals_batch_distinct_under_any_tranching(
    spark, tmp_path_factory, records, cuts
):
    """dedup_stream law: for any duplicate pattern cut across tranches
    (the fixture test doubles a corpus into ONE batch — here the same
    id recurs in LATER micro-batches, exercising the cross-batch state
    the operator exists for), the emitted rows are exactly one per
    distinct event_id; a restart with no new files emits nothing."""
    rows = [
        (eid, _BASE + dt.timedelta(minutes=m), eid % 3, "click",
         float(eid), "{}")
        for eid, m in records
    ]
    base = tmp_path_factory.mktemp("dedupfuzz")
    src = str(base / "src")
    segs = _tranche_and_write(spark, rows, cuts, src)
    assert segs
    # foreachBatch parquet sink, NOT memory: the memory sink cannot
    # recover from a checkpoint, and the restart-no-op law below needs
    # a true checkpointed resume
    ck, out_dir = str(base / "ck"), str(base / "out")

    def drain():
        q = (
            se.dedup_stream(
                spark.readStream.schema(_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            .writeStream.foreachBatch(
                lambda df, eid: df.write.mode("append").parquet(out_dir)
            )
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        spark.catalog.refreshByPath(out_dir)

    drain()
    out = spark.read.parquet(out_dir).collect()
    want_ids = {eid for eid, _ in records}
    assert sorted(r.event_id for r in out) == sorted(want_ids)
    # redelivery payloads are id-derived, so emitted rows are exact
    assert all(r.value == float(r.event_id) for r in out)

    # restart on the same checkpoint with no new files: nothing emitted
    drain()
    assert spark.read.parquet(out_dir).count() == len(want_ids)


# DAU corpus: (user 0-2, day 0-3, hour 0-23) — few users over few days
# forces the same user-day to recur across tranches (the dedup state
# the DAU plan rests on) and distinct days to close at different
# watermarks.
_dau_records = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 3), st.integers(0, 23)),
    min_size=1,
    max_size=14,
)


@given(records=_dau_records, cuts=_cuts)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_daily_active_users_equals_batch_under_any_tranching(
    spark, tmp_path_factory, records, cuts
):
    """daily_active_users law: the final counts (complete mode) equal
    the batch distinct-users-per-day aggregation for ANY corpus and
    tranching — a user's Nth event on a day, arriving batches after the
    first, must never double-count them."""
    rows = [
        (i, _BASE + dt.timedelta(days=d, hours=h), u, "view", 0.0, "{}")
        for i, (u, d, h) in enumerate(records)
    ]
    base = tmp_path_factory.mktemp("daufuzz")
    src = str(base / "src")
    _tranche_and_write(spark, rows, cuts, src)
    name = f"dau_fuzz_{next(_seq)}"
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # complete mode: every window's CURRENT count, closed or not — the
    # exact-agreement law (append mode would hold back open windows)
    _drain(spark, se.daily_active_users(stream), name, "complete")
    got = {
        (r.day.date(), r.dau) for r in spark.table(name).collect()
    }
    want = {
        (d, len({u for uu, dd, _ in records if dd == d for u in [uu]}))
        for d in {dd for _, dd, _ in records}
    }
    want = {
        ((_BASE + dt.timedelta(days=d)).date(), n) for d, n in want
    }
    assert got == want


# join corpus: (user 0-1, is_purchase, minute 0-180, value) — 3h spread
# against a 2h watermark exercises state eviction; the 1h match window
# is strictly inside the watermark, so ordered arrival loses no matches
# and the stream answer must equal the batch join exactly.
_join_records = st.lists(
    st.tuples(
        st.integers(0, 1),
        st.booleans(),
        st.integers(0, 180),
        st.integers(0, 5),
    ),
    min_size=1,
    max_size=14,
)


@given(records=_join_records, cuts=_cuts)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_click_purchase_join_equals_batch_under_any_tranching(
    spark, tmp_path_factory, records, cuts
):
    """click_purchase_join law: the watermarked stream-stream inner
    join emits exactly the batch join's (click_id, purchase_id) pairs
    for ANY corpus and tranching — including clicks whose purchase
    arrives micro-batches later (join state alive across tranches) and
    clicks with no purchase inside the window (state evicted, nothing
    emitted). Watermark (2h) > window (1h) + ordered tranches is the
    documented exactness precondition."""
    rows = [
        (
            i,
            _BASE + dt.timedelta(minutes=m),
            u,
            "purchase" if p else "click",
            float(v),
            "{}",
        )
        for i, (u, p, m, v) in enumerate(records)
    ]
    base = tmp_path_factory.mktemp("ssjfuzz")
    src = str(base / "src")
    _tranche_and_write(spark, rows, cuts, src)
    name = f"ssj_fuzz_{next(_seq)}"
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    _drain(spark, se.click_purchase_join(stream), name, "append")
    got = {
        (r.click_id, r.purchase_id)
        for r in spark.table(name).collect()
    }
    want = {
        (c_id, p_id)
        for c_id, c_ts, c_u in [
            (r[0], r[1], r[2]) for r in rows if r[3] == "click"
        ]
        for p_id, p_ts, p_u in [
            (r[0], r[1], r[2]) for r in rows if r[3] == "purchase"
        ]
        if c_u == p_u and c_ts <= p_ts <= c_ts + dt.timedelta(hours=1)
    }
    assert got == want


@given(records=_join_records, cuts=_cuts)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_click_purchase_left_join_equals_batch_once_horizon_passes(
    spark, tmp_path_factory, records, cuts
):
    """click_purchase_left_join law: once a sentinel event pushes the
    watermark past every click's match window, EVERY click has resolved
    — converted ones carry exactly the batch inner join's purchases,
    unconverted ones emitted exactly once with NULL purchase columns.
    The outer rows are inherently watermark-delayed, so cross-tranche
    arrival (the purchase micro-batches after its click, or never) is
    the semantics under test, not an edge case."""
    rows = [
        (
            i,
            _BASE + dt.timedelta(minutes=m),
            u,
            "purchase" if p else "click",
            float(v),
            "{}",
        )
        for i, (u, p, m, v) in enumerate(records)
    ]
    base = tmp_path_factory.mktemp("lsjfuzz")
    src = str(base / "src")
    _tranche_and_write(spark, rows, cuts, src)
    # sentinels far past the horizon close every click's outer bound.
    # BOTH sides need one: the global watermark is the MIN across the
    # two withWatermark nodes, so a click-only sentinel leaves the
    # purchase-side watermark at epoch whenever the corpus has no (or
    # only early) purchases and no outer row would ever emit. The
    # sentinel click itself stays pending (nothing can close its bound)
    # and is excluded below; the sentinel purchase uses a user outside
    # the corpus domain so it matches no real click.
    spark.createDataFrame(
        [
            (999998, _BASE + dt.timedelta(days=30), 0, "click", 0.0, "{}"),
            (999999, _BASE + dt.timedelta(days=30), 999, "purchase",
             0.0, "{}"),
        ],
        _SCHEMA,
    ).coalesce(1).write.mode("append").parquet(src)
    name = f"lsj_fuzz_{next(_seq)}"
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    _drain(spark, se.click_purchase_left_join(stream), name, "append")
    got = {
        (r.click_id, r.purchase_id, r.converted)
        for r in spark.table(name).collect()
        if r.click_id != 999998
    }
    matches = {
        (c_id, p_id)
        for c_id, c_ts, c_u in [
            (r[0], r[1], r[2]) for r in rows if r[3] == "click"
        ]
        for p_id, p_ts, p_u in [
            (r[0], r[1], r[2]) for r in rows if r[3] == "purchase"
        ]
        if c_u == p_u and c_ts <= p_ts <= c_ts + dt.timedelta(hours=1)
    }
    converted_clicks = {c for c, _ in matches}
    want = {(c, p, True) for c, p in matches} | {
        (r[0], None, False)
        for r in rows
        if r[3] == "click" and r[0] not in converted_clicks
    }
    assert got == want


# session corpus: (user 0-1, minute 0-300) over a 1h gap — a 5h spread
# forces multiple sessions per user, and same-user events landing in
# different tranches force CROSS-BATCH session merging (a session
# extended, or two provisional sessions bridged, by a later micro-batch)
_session_records = st.lists(
    st.tuples(st.integers(0, 1), st.integers(0, 300)),
    min_size=1,
    max_size=14,
)


@given(records=_session_records, cuts=_cuts)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_session_counts_equals_bruteforce_under_any_tranching(
    spark, tmp_path_factory, records, cuts
):
    """session_counts law: the final per-user sessions (complete mode)
    equal an independent pure-Python session builder — consecutive
    same-user events merge while the inter-event gap is < 1h, session
    end = last event + gap — for ANY corpus and tranching. The
    fixture test only checks session COUNT on one corpus in one batch;
    this pins boundaries, per-session aggregates, and the stateful
    cross-batch merge."""
    rows = [
        (i, _BASE + dt.timedelta(minutes=m), u, "view", float(i % 5), "{}")
        for i, (u, m) in enumerate(records)
    ]
    base = tmp_path_factory.mktemp("sessfuzz")
    src = str(base / "src")
    _tranche_and_write(spark, rows, cuts, src)
    name = f"sess_fuzz_{next(_seq)}"
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    _drain(spark, se.session_counts(stream), name, "complete")
    got = {
        (r.user_id, r.session_start, r.session_end,
         r.n_events, r.total_value)
        for r in spark.table(name).collect()
    }

    gap = dt.timedelta(hours=1)
    want = set()
    for u in {r[2] for r in rows}:
        ts = sorted((r[1], r[4]) for r in rows if r[2] == u)
        start, last, n, tot = ts[0][0], ts[0][0], 1, ts[0][1]
        for t, v in ts[1:]:
            if t < last + gap:  # windows are [start, last+gap)
                last, n, tot = t, n + 1, tot + v
            else:
                want.add((u, start, last + gap, n, tot))
                start, last, n, tot = t, t, 1, v
        want.add((u, start, last + gap, n, tot))
    assert got == want


@given(records=_session_records, cuts=_cuts)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_tumbling_counts_equals_bruteforce_under_any_tranching(
    spark, tmp_path_factory, records, cuts
):
    """tumbling_counts law: final per-(hour, event_type) counts and
    sums (complete mode) equal a pure-Python bucket fold for ANY corpus
    and tranching — a window receiving rows from several micro-batches
    must accumulate, not reset."""
    rows = [
        (i, _BASE + dt.timedelta(minutes=m), u, ("view", "click")[i % 2],
         float(i % 5), "{}")
        for i, (u, m) in enumerate(records)
    ]
    base = tmp_path_factory.mktemp("tumbfuzz")
    src = str(base / "src")
    _tranche_and_write(spark, rows, cuts, src)
    name = f"tumb_fuzz_{next(_seq)}"
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    _drain(spark, se.tumbling_counts(stream), name, "complete")
    got = {
        (r.window_start, r.event_type, r.n_events, r.total_value)
        for r in spark.table(name).collect()
    }
    buckets = {}
    for _, ts, _, et, v, _ in rows:
        key = (ts.replace(minute=0, second=0, microsecond=0), et)
        n, tot = buckets.get(key, (0, 0.0))
        buckets[key] = (n + 1, tot + v)
    want = {(w, et, n, tot) for (w, et), (n, tot) in buckets.items()}
    assert got == want


@given(records=_session_records, cuts=_cuts)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_sliding_counts_equals_bruteforce_under_any_tranching(
    spark, tmp_path_factory, records, cuts
):
    """sliding_counts law: final per-window counts and sums
    (complete mode) equal a pure-Python fold for ANY corpus and
    tranching. With window=1h, slide=30min every event belongs to
    EXACTLY two overlapping windows (starts at floor30(ts) and
    floor30(ts)-30min) — the overlap is what distinguishes this from
    the tumbling law: one late-tranche event must update TWO window
    states, both possibly opened by earlier micro-batches."""
    rows = [
        (i, _BASE + dt.timedelta(minutes=m), u, ("view", "click")[i % 2],
         float(i % 5), "{}")
        for i, (u, m) in enumerate(records)
    ]
    base = tmp_path_factory.mktemp("slidefuzz")
    src = str(base / "src")
    _tranche_and_write(spark, rows, cuts, src)
    name = f"slide_fuzz_{next(_seq)}"
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    _drain(spark, se.sliding_counts(stream), name, "complete")
    got = {
        (r.window_start, r.n_events, r.total_value)
        for r in spark.table(name).collect()
    }
    buckets = {}
    for _, ts, _, _, v, _ in rows:
        floor30 = ts.replace(
            minute=(ts.minute // 30) * 30, second=0, microsecond=0
        )
        for start in (floor30 - dt.timedelta(minutes=30), floor30):
            n, tot = buckets.get(start, (0, 0.0))
            buckets[start] = (n + 1, tot + v)
    want = {(w, n, tot) for w, (n, tot) in buckets.items()}
    assert got == want


# versioned-enrich replay law: arbitrary corpus, arbitrary tranching, a
# forced output-write failure on an arbitrary epoch, and a new dim
# version published during the outage. Law: every event is enriched
# with the version its epoch resolved at FIRST attempt — tranches at or
# before the crashed epoch carry v1 (the crashed epoch pinned v1 before
# failing; its replay must NOT see v2), tranches first attempted after
# the outage carry v2.
_enrich_records = st.lists(
    st.tuples(st.integers(0, 99), st.integers(0, 90)),
    min_size=1,
    max_size=12,
    unique_by=lambda r: r[0],
)


@given(records=_enrich_records, cuts=_cuts, fault=st.integers(0, 2))
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_versioned_enrich_replay_pins_first_attempt_version(
    spark, tmp_path_factory, records, cuts, fault
):
    from pyspark.sql.readwriter import DataFrameWriter

    base = tmp_path_factory.mktemp(f"venrich{next(_seq)}")
    src, dim = str(base / "src"), str(base / "dim")
    ck, out = str(base / "ck"), str(base / "out")

    rows = [
        (eid, _BASE + dt.timedelta(minutes=m), eid % 7, "view", 0.0, "{}")
        for eid, m in records
    ]
    segs = _tranche_and_write(spark, rows, cuts, src)
    f = fault % len(segs)

    def publish(version, tier):
        spark.createDataFrame(
            [(u, f"{tier}{u}") for u in range(7)],
            "user_id long, user_tier string",
        ).write.parquet(f"{dim}/v{version}")

    def drain(expect_fail):
        q = se.enrich_versioned_parquet_sink(
            spark.readStream.schema(_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            dim, out, ck,
        )
        try:
            q.awaitTermination(120)
        except Exception:
            assert expect_fail, "query failed without injected fault"
        finally:
            q.stop()

    publish(1, "b")
    orig = DataFrameWriter.parquet

    def failing(self, *paths, **kw):
        if paths and str(paths[0]).startswith(out) and str(paths[0]).endswith(
            f"epoch={f}"
        ):
            raise RuntimeError("injected crash before epoch output")
        return orig(self, *paths, **kw)

    DataFrameWriter.parquet = failing
    try:
        drain(expect_fail=True)
    finally:
        DataFrameWriter.parquet = orig
    publish(2, "g")  # new version lands during the outage
    drain(expect_fail=False)

    spark.catalog.refreshByPath(out)
    got = {
        (r.event_id, r.user_tier)
        for r in spark.read.parquet(out).collect()
    }
    want = set()
    for k, seg in enumerate(segs):
        tier = "b" if k <= f else "g"
        for r in seg:
            want.add((r[0], f"{tier}{r[2]}"))
    assert got == want
