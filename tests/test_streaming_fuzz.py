"""Hypothesis fuzz for the streaming SCD-2 sink: ARBITRARY changelogs
under ARBITRARY tranching must leave the target equal to the one-shot
batch `scd2_history` over everything seen — the lambda-architecture
equivalence that the fixture-based tests pin only for one recent/late
split. Random tranching exercises the cases a crafted split can't
enumerate: keys whose history arrives interleaved across tranches,
exact-timestamp ties split across tranches (tie-break identity), keys
that appear in every tranche, and single-record tranches.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_power_bi_dashboard_spark.plans.merge_plans import scd2_history
from etl_power_bi_dashboard_spark.streaming import events as se

_BASE = dt.datetime(2024, 1, 1)

# a record: (key 0-2, day 0-4, value) — the tight key/day domain forces
# same-key interleavings and exact-ts ties; event_id (the tie-break
# identity) is assigned positionally, so redeliveries stay no-ops
_records = st.lists(
    st.tuples(
        st.integers(0, 2), st.integers(0, 4), st.integers(-5, 5)
    ),
    min_size=1,
    max_size=10,
)


import pytest

pytestmark = pytest.mark.slow  # long-form tranching fuzz: opt-in via -m slow

@pytest.mark.parametrize("bucketed", [False, True], ids=["plain", "bucketed"])
@given(
    records=_records,
    tranche_of=st.lists(st.integers(0, 2), min_size=10, max_size=10),
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_scd2_sink_equals_batch_history_under_any_tranching(
    spark, tmp_path_factory, bucketed, records, tranche_of
):
    """Both SCD-2 sinks — the plain one and the key-bucketed
    partition-pruned 100 TB variant — must leave the target equal to
    the one-shot batch history under arbitrary tranching (the bucketed
    path additionally exercises random touched-bucket sets and dynamic
    partition overwrite on every example)."""
    base = tmp_path_factory.mktemp("scd2fuzz")
    rows = [
        (
            i,
            _BASE + dt.timedelta(days=day),
            key,
            "signup",
            float(val),
            "{}",
        )
        for i, (key, day, val) in enumerate(records)
    ]
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    out = str(base / "target")
    tranches = [
        [r for i, r in enumerate(rows) if tranche_of[i % 10] == t]
        for t in range(3)
    ]
    ran = 0
    for t, recs in enumerate(tranches):
        if not recs:
            continue
        src = str(base / f"src{t}")
        spark.createDataFrame(recs, schema).write.parquet(src)
        sink = (
            se.scd2_parquet_sink_bucketed if bucketed else se.scd2_parquet_sink
        )
        q = sink(se.read_event_stream(spark, src), out, str(base / f"ck{t}"))
        q.awaitTermination(120)
        q.stop()
        spark.catalog.refreshByPath(out)
        ran += 1
    assert ran >= 1

    def snap(df):
        return {
            (
                r.user_id, r.event_id, r.effective_from, r.effective_to,
                r.is_current, r.value,
            )
            for r in df.select(
                "user_id", "event_id", "effective_from", "effective_to",
                "is_current", "value",
            ).collect()
        }

    want = snap(scd2_history(spark.createDataFrame(rows, schema)))
    got = spark.read.parquet(out)
    if bucketed:
        got = got.drop("bucket")
    assert snap(got) == want and len(want) == len(rows)


@given(
    records=_records,
    tranche_of=st.lists(st.integers(0, 2), min_size=10, max_size=10),
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_upsert_sink_converges_to_global_latest_under_any_tranching(
    spark, tmp_path_factory, records, tranche_of
):
    """Upsert (SCD-1) law: whatever the tranche composition or arrival
    order, the target converges to the GLOBAL latest record per key by
    (ts, event_id) — arrival order must be irrelevant because the merge
    compares order_cols, never ingestion time — and replaying the final
    tranche is a no-op."""
    base = tmp_path_factory.mktemp("upsertfuzz")
    rows = [
        (
            i,
            _BASE + dt.timedelta(days=day),
            key,
            "signup",
            float(val),
            "{}",
        )
        for i, (key, day, val) in enumerate(records)
    ]
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    out = str(base / "target")
    tranches = [
        [r for i, r in enumerate(rows) if tranche_of[i % 10] == t]
        for t in range(3)
    ]

    def run(recs, tag):
        src = str(base / f"src{tag}")
        spark.createDataFrame(recs, schema).write.mode("overwrite").parquet(
            src
        )
        q = se.upsert_parquet_sink(
            se.read_event_stream(spark, src),
            out,
            str(base / f"ck{tag}"),
            key_cols=["user_id"],
            order_cols=["ts", "event_id"],
        )
        q.awaitTermination(120)
        q.stop()
        spark.catalog.refreshByPath(out)

    last = None
    for t, recs in enumerate(tranches):
        if recs:
            run(recs, t)
            last = recs

    def snap():
        return {
            (r.user_id, r.event_id, r.ts, r.value)
            for r in spark.read.parquet(out).select(
                "user_id", "event_id", "ts", "value"
            ).collect()
        }

    latest = {}
    for i, ts, key, _, val, _p in rows:
        cur = latest.get(key)
        if cur is None or (ts, i) > (cur[2], cur[1]):
            latest[key] = (key, i, ts, val)
    assert snap() == set(latest.values())

    run(last, "replay")  # redeliver the final tranche: no-op
    assert snap() == set(latest.values())


@given(
    records=_records,
    tranche_of=st.lists(st.integers(0, 2), min_size=10, max_size=10),
)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_trending_topk_incremental_tranches_equal_batch(
    spark, tmp_path_factory, records, tranche_of
):
    """Trending-top-k law: feeding tranches INCREMENTALLY through one
    checkpoint lineage (the production ingest pattern — each restart
    processes only new files, state carries the running counts) must
    leave the target equal to the batch twin over everything ingested;
    restarting with no new data is a no-op. Watermark set far beyond
    the data span so no generated tranche is droppable as late — this
    fuzzes the state merge/republish machinery, not late-data policy."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    base = tmp_path_factory.mktemp("trendfuzz")
    rows = [
        (
            i,
            _BASE + dt.timedelta(days=day, hours=key),
            key,
            f"type_{val % 3}",
            float(val),
            "{}",
        )
        for i, (key, day, val) in enumerate(records)
    ]
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    src = str(base / "src")
    out = str(base / "target")
    ck = str(base / "ck")
    tranches = [
        [r for i, r in enumerate(rows) if tranche_of[i % 10] == t]
        for t in range(3)
    ]

    def run():
        q = se.trending_topk_sink(
            se.read_event_stream(spark, src), out, ck,
            watermark="3650 days", k=2,
        )
        q.awaitTermination(120)
        q.stop()
        spark.catalog.refreshByPath(out)

    for recs in tranches:
        if not recs:
            continue
        spark.createDataFrame(recs, schema).write.mode("append").parquet(src)
        run()

    def snap():
        return {
            (r.window_start, r.rk): (r.event_type, r.n_events)
            for r in spark.read.parquet(out).collect()
        }

    batch = (
        spark.createDataFrame(rows, schema)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events"
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("window_start").orderBy(
                    F.desc("n_events"), "event_type"
                )
            ),
        )
        .filter(F.col("rk") <= 2)
    )
    want = {
        (r.window_start, r.rk): (r.event_type, r.n_events)
        for r in batch.collect()
    }
    got = snap()
    assert got == want and len(got) > 0

    run()  # same checkpoint, no new files: no-op
    assert snap() == want
