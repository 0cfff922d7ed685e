"""Hypothesis fuzz for the stateful streaming operators
(applyInPandasWithState): attribution_stream and funnel_stream under
ARBITRARY event sets cut into event-time-ordered micro-batch tranches
must emit exactly what an independent pure-Python brute force computes
over everything seen (the fixture tests pin one crafted early/late split;
random corpora exercise what a crafted split can't: exact-ts ties cut
at tranche boundaries, lookback expiry across tranches, users whose
whole journey lands in one batch vs one event per batch, purchases
with no prior click, funnel stage regressions that must be ignored).

Tranches are contiguous segments of the GLOBAL (ts, event_id) order —
the operators' documented precondition (cross-batch event-time
regressions are the lambda gap; the batch e5/e10/e12 plans are the
backfill). Within a tranche, rows are written UNSORTED so the
operators' intra-batch re-sort is exercised on every example.
"""

from __future__ import annotations

import pytest

import datetime as dt

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_power_bi_dashboard_spark.streaming.events import EVENT_SCHEMA
from etl_power_bi_dashboard_spark.streaming.stateful import (
    _SEVEN_DAYS_US,
    attribution_stream,
    funnel_stream,
)

_BASE = dt.datetime(2024, 1, 1)
_ETYPES = ("signup", "click", "purchase")

# a record: (user 0-1, etype, day 0-9, value) — two users force keyed
# state to shard; day-granular timestamps force exact-ts ties (broken
# by event_id); a 0-9 day span crosses the 7-day attribution lookback
_records = st.lists(
    st.tuples(
        st.integers(0, 1),
        st.integers(0, 2),
        st.integers(0, 9),
        st.integers(-5, 5),
    ),
    min_size=1,
    max_size=12,
)
# two cut points over the max record count → three contiguous tranches
_cuts = st.tuples(st.integers(0, 12), st.integers(0, 12))



pytestmark = pytest.mark.slow  # long-form tranching fuzz: opt-in via -m slow

def _mk_rows(records):
    """(event_id, ts, user_id, event_type, value, props) rows, ids
    positional, then globally ordered by (ts, event_id)."""
    rows = [
        (
            i,
            _BASE + dt.timedelta(days=day),
            user,
            _ETYPES[etype],
            float(val),
            "{}",
        )
        for i, (user, etype, day, val) in enumerate(records)
    ]
    return sorted(rows, key=lambda r: (r[1], r[0]))


def _us(ts: dt.datetime) -> int:
    return int(pd.Timestamp(ts).value // 1000)


def _tranches(ordered, cuts):
    a, b = sorted((min(cuts[0], len(ordered)), min(cuts[1], len(ordered))))
    segs = [ordered[:a], ordered[a:b], ordered[b:]]
    # write each tranche in REVERSED order so the operator's intra-batch
    # (ts, event_id) re-sort is load-bearing on every example
    return [list(reversed(s)) for s in segs if s]


def _run_stream(spark, op, src, out, ck):
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    q = (
        op(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    q.stop()
    spark.catalog.refreshByPath(out)


_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


@given(records=_records, cuts=_cuts)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_attribution_stream_matches_bruteforce_under_ordered_tranching(
    spark, tmp_path_factory, records, cuts
):
    """attribution_stream law: every purchase is emitted exactly once,
    credited to the user's most recent click at most 7 days older,
    with the click carried across micro-batches in keyed state; a
    restart with no new files appends nothing."""
    ordered = _mk_rows(records)

    # independent brute force over the global order
    last: dict[int, tuple[int, int]] = {}
    want = set()
    for i, ts, user, etype, val, _p in ordered:
        ts_us = _us(ts)
        if etype == "click":
            last[user] = (ts_us, i)
        elif etype == "purchase":
            lt = last.get(user)
            hit = lt is not None and ts_us - lt[0] <= _SEVEN_DAYS_US
            want.add((user, i, ts_us, val, lt[1] if hit else None))

    base = tmp_path_factory.mktemp("attrfuzz")
    src, out, ck = str(base / "src"), str(base / "out"), str(base / "ck")
    for recs in _tranches(ordered, cuts):
        spark.createDataFrame(recs, _SCHEMA).write.mode("append").parquet(src)
        _run_stream(spark, attribution_stream, src, out, ck)

    def snap():
        return [
            (
                r.user_id, r.purchase_id, r.purchase_ts_us, r.value,
                r.attributed_click_id,
            )
            for r in spark.read.parquet(out).collect()
        ]

    got = snap()
    assert len(got) == len(set(got)), "append mode re-emitted a purchase"
    assert set(got) == want

    _run_stream(spark, attribution_stream, src, out, ck)  # no new files
    assert sorted(snap()) == sorted(got)


@given(records=_records, cuts=_cuts)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_funnel_stream_matches_bruteforce_under_ordered_tranching(
    spark, tmp_path_factory, records, cuts
):
    """funnel_stream law: per user, the first signup, the first click
    strictly after it, and the first purchase strictly after that click
    — sequenced across micro-batches in keyed state — produce exactly
    one conversion row at the purchase transition, never re-emitted by
    later batches or a no-new-data restart."""
    ordered = _mk_rows(records)

    UNSET = -1
    state: dict[int, list[int]] = {}
    want = set()
    for i, ts, user, etype, val, _p in ordered:
        s, c, p = state.setdefault(user, [UNSET, UNSET, UNSET])
        ts_us = _us(ts)
        if etype == "signup" and s == UNSET:
            state[user][0] = ts_us
        elif etype == "click" and s != UNSET and c == UNSET and ts_us > s:
            state[user][1] = ts_us
        elif etype == "purchase" and c != UNSET and p == UNSET and ts_us > c:
            state[user][2] = ts_us
            want.add((user, state[user][0], state[user][1], ts_us))

    base = tmp_path_factory.mktemp("funnelfuzz")
    src, out, ck = str(base / "src"), str(base / "out"), str(base / "ck")
    for recs in _tranches(ordered, cuts):
        spark.createDataFrame(recs, _SCHEMA).write.mode("append").parquet(src)
        _run_stream(spark, funnel_stream, src, out, ck)

    def snap():
        return [
            (r.user_id, r.signup_us, r.click_us, r.purchase_us)
            for r in spark.read.parquet(out).collect()
        ]

    got = snap()
    assert len(got) == len(set(got)), "conversion row re-emitted"
    assert set(got) == want

    _run_stream(spark, funnel_stream, src, out, ck)  # no new files
    assert sorted(snap()) == sorted(got)


# --------------------------------------------------------------------------
# streaming IVF index maintenance: incremental ingest with re-embeddings
# --------------------------------------------------------------------------

_vec_records = st.lists(
    st.tuples(
        st.integers(0, 3),  # vec_id — repeats across tranches = re-embedding
        st.integers(1, 5),
        st.integers(1, 5),
    ),
    min_size=1,
    max_size=10,
)


@given(records=_vec_records, cuts=_cuts, fold_after=st.integers(0, 3))
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_ivf_streamed_index_equals_batch_over_latest_vectors(
    spark, tmp_path_factory, records, cuts, fold_after
):
    """Streaming-index law: arbitrary vector tranches ingested
    incrementally through one checkpoint — with vec_ids re-ingested in
    later tranches (model-refresh re-embeddings) — must probe exactly
    like the one-shot batch build over the LATEST embedding per vec_id;
    a restart with no new files changes nothing. A fold
    (ivf_compact_index) injected between two drains of the SAME
    checkpoint (position fuzzed by ``fold_after``; 3 = no mid-ingest
    fold) must be invisible to the final probe — the resumed-checkpoint
    transparency the src_epoch provenance exists for. vec_id is deduped
    keep-last within each tranche (the sink's documented per-batch key
    contract)."""
    from etl_power_bi_dashboard_spark.operators import similarity
    from etl_power_bi_dashboard_spark.streaming import index as si

    a, b = sorted((min(cuts[0], len(records)), min(cuts[1], len(records))))
    segs = [records[:a], records[a:b], records[b:]]
    tranches = []
    for seg in segs:
        dedup = {vid: (vid, float(x), float(y)) for vid, x, y in seg}
        if dedup:
            tranches.append(list(dedup.values()))

    latest: dict[int, tuple] = {}
    for t in tranches:
        for vid, x, y in t:
            latest[vid] = (vid, [x, y], 0)

    base = tmp_path_factory.mktemp("ivffuzz")
    src, idx, ck = str(base / "src"), str(base / "idx"), str(base / "ck")
    centroids = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [5.0, 5.0]), (2, [1.0, 0.0])],
        "centroid_id int, embedding array<float>",
    )
    # ivf_probe_topk projects queries' id_col (default vec_id) to
    # query_id and EXCLUDES self-matches (vec_id == query_id), so query
    # ids must be disjoint from the corpus ids (0-3). The two probe
    # sets cover all three clusters between them, so a non-empty corpus
    # always yields at least one candidate.
    queries = spark.createDataFrame(
        [(100, [1.0, 1.0]), (101, [4.0, 5.0])],
        "vec_id long, embedding array<float>",
    )

    def drain():
        q = si.ivf_append_sink(
            si.read_embedding_stream(spark, src), centroids, idx, ck
        )
        q.awaitTermination(120)
        q.stop()
        spark.catalog.refreshByPath(idx)

    for i, t in enumerate(tranches):
        rows = [(vid, [x, y], 0) for vid, x, y in t]
        spark.createDataFrame(rows, si.EMBEDDING_DDL).write.mode(
            "append"
        ).parquet(src)
        drain()
        if i == fold_after:  # fold between drains of the same checkpoint
            si.ivf_compact_index(spark, idx)
            spark.catalog.refreshByPath(idx)

    def probe():
        return {
            (r.query_id, r.vec_id, r.cosine, r.rank)
            for r in si.ivf_topk_streamed(
                spark, idx, centroids, queries
            ).collect()
        }

    got = probe()
    corpus = spark.createDataFrame(list(latest.values()), si.EMBEDDING_DDL)
    want = {
        (r.query_id, r.vec_id, r.cosine, r.rank)
        for r in similarity.ivf_probe_topk(
            similarity.assign_clusters(corpus, centroids), centroids, queries
        ).collect()
    }
    assert got == want and len(got) > 0

    drain()  # same checkpoint, no new files: no-op
    assert probe() == want

    # offline fold between runs: one epoch remains, probes unchanged on
    # every fuzzed corpus/tranching
    si.ivf_compact_index(spark, idx)
    spark.catalog.refreshByPath(idx)
    import os

    epochs = [n for n in os.listdir(idx) if n.startswith("epoch=")]
    assert len(epochs) == 1
    assert probe() == want


_total_records = st.lists(
    st.tuples(st.integers(0, 1), st.integers(-5, 5)),
    min_size=1,
    max_size=12,
)
@given(records=_total_records, cuts=_cuts)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_running_user_totals_matches_bruteforce_under_any_tranching(
    spark, tmp_path_factory, records, cuts
):
    """running_user_totals law: for ANY event corpus under ANY
    tranching — count/sum are commutative, so unlike attribution/funnel
    this operator needs NO event-time ordering precondition, and the
    law deliberately doesn't impose one — every micro-batch emits one
    row per user present, the per-user emissions are strictly
    increasing lifetime prefixes (state really crossed batches), the
    LAST equals a pure-Python count/sum over everything seen, and a
    restart with no new files emits nothing."""
    from etl_power_bi_dashboard_spark.streaming.stateful import (
        running_user_totals,
    )

    a, b = sorted((min(cuts[0], len(records)), min(cuts[1], len(records))))
    tranches = [
        s for s in (records[:a], records[a:b], records[b:]) if s
    ]
    base = tmp_path_factory.mktemp("rtfuzz")
    src, ck, out_dir = str(base / "src"), str(base / "ck"), str(base / "out")

    def drain():
        # foreachBatch parquet sink, NOT memory: the memory sink cannot
        # recover from a checkpoint, and the restart-no-op law below
        # needs a true checkpointed resume
        stream = (
            spark.readStream.schema("user_id long, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            running_user_totals(stream)
            .writeStream.foreachBatch(
                lambda df, eid: df.write.mode("append").parquet(out_dir)
            )
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        spark.catalog.refreshByPath(out_dir)

    for t in tranches:
        spark.createDataFrame(
            [(u, float(v)) for u, v in t], "user_id long, value double"
        ).coalesce(1).write.mode("append").parquet(src)
    drain()

    out = spark.read.parquet(out_dir).collect()
    # brute force: lifetime (count, sum) per user; per-tranche presence
    want = {}
    appearances = {}
    for t in tranches:
        for u, v in t:
            n, tot = want.get(u, (0, 0.0))
            want[u] = (n + 1, tot + v)
        for u in {u for u, _ in t}:
            appearances[u] = appearances.get(u, 0) + 1
    by_user = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(
            (r.n_events, r.total_value)
        )
    assert set(by_user) == set(want)
    for u, rows in by_user.items():
        rows.sort()
        # one emission per batch the user appeared in (maxFilesPerTrigger=1
        # makes batches = tranche files), strictly increasing prefixes
        assert len(rows) == appearances[u]
        assert all(
            rows[i][0] < rows[i + 1][0] for i in range(len(rows) - 1)
        )
        assert rows[-1] == want[u]

    # restart on the same checkpoint with no new files: nothing emitted
    n_before = spark.read.parquet(out_dir).count()
    drain()
    assert spark.read.parquet(out_dir).count() == n_before
