"""Structured Streaming tests: the streaming window aggregations must
agree with their batch twins on the same data (stream/batch unification is
the whole point of the design)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_power_bi_dashboard_spark.plans.base import load_events
from etl_power_bi_dashboard_spark.streaming import events as se
from etl_power_bi_dashboard_spark.streaming import runbase
from etl_power_bi_dashboard_spark.streaming.runbase import RUN_STRIDE

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    """Re-write events with µs timestamps (the raw files are TIMESTAMP
    NANOS, unreadable by a plain streaming scan) split into several files
    so the stream sees multiple input splits."""
    d = str(tmp_path_factory.mktemp("events_us"))
    load_events(spark, SF_DIR).repartition(4).write.mode("overwrite").parquet(d)
    return d


def _drain(q):
    q.awaitTermination(120)
    q.stop()


def test_tumbling_stream_matches_batch(spark, event_dir):
    stream = se.tumbling_counts(se.read_event_stream(spark, event_dir))
    _drain(se.run_to_memory(stream, "t_tumbling"))
    got = {
        (r.window_start, r.event_type): (r.n_events, round(r.total_value, 6))
        for r in spark.table("t_tumbling").collect()
    }
    batch = (
        load_events(spark, SF_DIR)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("tv"))
        .collect()
    )
    want = {(r.w.start, r.event_type): (r.n, round(r.tv, 6)) for r in batch}
    assert got == want


def test_session_stream_matches_batch(spark, event_dir):
    stream = se.session_counts(se.read_event_stream(spark, event_dir))
    _drain(se.run_to_memory(stream, "t_sessions"))
    got = spark.table("t_sessions")
    batch = (
        load_events(spark, SF_DIR)
        .groupBy(F.session_window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    assert got.count() == batch.count()
    assert got.agg(F.sum("n_events")).first()[0] == load_events(spark, SF_DIR).count()


def test_sliding_stream_runs(spark, event_dir):
    stream = se.sliding_counts(se.read_event_stream(spark, event_dir))
    _drain(se.run_to_memory(stream, "t_sliding"))
    rows = spark.table("t_sliding")
    # every event lands in exactly 2 sliding windows
    assert rows.agg(F.sum("n_events")).first()[0] == 2 * load_events(spark, SF_DIR).count()


def test_dedup_stream_removes_duplicates(spark, event_dir, tmp_path):
    """Stream the events twice over (union with itself, re-written to
    files) — the watermarked dedup must collapse back to the distinct
    event_id count."""
    doubled_dir = str(tmp_path / "doubled")
    base = spark.read.parquet(event_dir)
    base.union(base).repartition(6).write.mode("overwrite").parquet(doubled_dir)
    stream = se.dedup_stream(se.read_event_stream(spark, doubled_dir))
    _drain(se.run_to_memory(stream, "t_dedup", mode="append"))
    got = spark.table("t_dedup")
    n_distinct = base.select("event_id").distinct().count()
    assert got.count() == n_distinct
    assert got.select("event_id").distinct().count() == n_distinct


def test_stream_stream_join_matches_batch(spark, event_dir):
    stream = se.click_purchase_join(se.read_event_stream(spark, event_dir))
    _drain(se.run_to_memory(stream, "t_ssjoin", mode="append"))
    got = {
        (r.click_id, r.purchase_id)
        for r in spark.table("t_ssjoin").collect()
    }
    want = {
        (r.click_id, r.purchase_id)
        for r in se.click_purchase_join(spark.read.parquet(event_dir)).collect()
    }
    assert got == want
    assert len(want) > 0


def test_foreachbatch_idempotent_sink(spark, event_dir, tmp_path):
    """The foreachBatch sink drains the stream to per-epoch parquet dirs;
    the union of epochs must agree with the batch aggregation, and
    re-running the same batch id must not duplicate rows."""
    out = str(tmp_path / "sink_out")
    ckpt = str(tmp_path / "sink_ckpt")
    stream = se.tumbling_counts(se.read_event_stream(spark, event_dir))
    q = se.idempotent_parquet_sink(stream, out, ckpt, mode="complete")
    _drain(q)
    got = spark.read.parquet(out)
    batch = (
        load_events(spark, SF_DIR)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    # complete mode: the final epoch holds the full aggregate; take the
    # max epoch like a reader would
    last = got.agg(F.max("epoch")).first()[0]
    final = got.filter(F.col("epoch") == last)
    assert final.count() == batch.count()
    assert (
        final.agg(F.sum("n_events")).first()[0]
        == load_events(spark, SF_DIR).count()
    )
    # idempotence: simulate a replay of the same epoch — the directory is
    # overwritten, not appended (materialize first: can't write a dir
    # from a plan that scans it)
    n_final = final.count()
    replay = spark.createDataFrame(
        final.drop("epoch").collect(), final.drop("epoch").schema
    )
    replay.write.mode("overwrite").parquet(f"{out}/epoch={last}")
    spark.catalog.refreshByPath(out)
    again = spark.read.parquet(out).filter(F.col("epoch") == last)
    assert again.count() == n_final


def test_enrich_stream_matches_batch(spark, event_dir):
    """Stream-static join: the streamed enrichment equals the same left
    join over the static frame, including events whose user is absent
    from the dim (null tier survives)."""
    ev = load_events(spark, SF_DIR)
    user_dim = (
        ev.select("user_id")
        .distinct()
        .filter(F.col("user_id") % 3 != 0)  # leave some users unmatched
        .withColumn(
            "user_tier",
            F.when(F.col("user_id") % 2 == 0, "premium").otherwise("basic"),
        )
    )
    stream = se.enrich_stream(se.read_event_stream(spark, event_dir), user_dim)
    _drain(se.run_to_memory(stream, "t_enriched", mode="append"))
    got = {
        (r.event_id, r.user_tier) for r in spark.table("t_enriched").collect()
    }
    want = {(r.event_id, r.user_tier) for r in se.enrich_stream(ev, user_dim).collect()}
    assert got == want
    assert any(t is None for _, t in got)  # unmatched users kept with null tier
    assert len(got) == ev.count()


def test_upsert_sink_matches_latest_per_key_and_replays_clean(
    spark, event_dir, tmp_path
):
    """The foreachBatch upsert sink must leave the target equal to the
    batch latest-record-per-key compaction (u3's semantics keyed by
    user_id), and re-running the whole stream over the same input (a
    full replay) must leave the target byte-identical — the
    exactly-once-EFFECT contract for a MERGE sink."""
    out = str(tmp_path / "upsert_out")

    def run(ckpt_name):
        q = se.upsert_parquet_sink(
            se.read_event_stream(spark, event_dir),
            out,
            str(tmp_path / ckpt_name),
            key_cols=["user_id"],
            order_cols=["ts", "event_id"],
        )
        _drain(q)

    run("ck1")
    got = {
        (r.user_id, r.event_id)
        for r in spark.read.parquet(out)
        .select("user_id", "event_id")
        .collect()
    }
    ev = spark.read.parquet(event_dir)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    want = {
        (r.user_id, r.event_id)
        for r in ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", "event_id")
        .collect()
    }
    assert got == want and len(got) > 0

    # full replay with a fresh checkpoint: merging identical data again
    # must not change the target
    run("ck2")
    spark.catalog.refreshByPath(out)
    again = {
        (r.user_id, r.event_id)
        for r in spark.read.parquet(out)
        .select("user_id", "event_id")
        .collect()
    }
    assert again == got

    # the stage directory must not outlive a successful republish
    import os

    assert not os.path.exists(out + "_stage")


def test_upsert_sink_recovers_from_crashed_republish(
    spark, event_dir, tmp_path
):
    """Simulate a crash mid-republish: the stage directory holds the
    complete previous merge (with _SUCCESS) while the target is gone.
    The next run must restore the target from the stage FIRST, so keys
    absent from the replayed batch survive; rebuilding the table from
    the new batch alone would drop them."""
    import os
    import shutil

    out = str(tmp_path / "crash_out")

    q = se.upsert_parquet_sink(
        se.read_event_stream(spark, event_dir),
        out,
        str(tmp_path / "ck1"),
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
    )
    _drain(q)
    spark.catalog.refreshByPath(out)
    full_keys = {r.user_id for r in spark.read.parquet(out).select("user_id").collect()}
    assert len(full_keys) > 1

    # crash reconstruction: stage = the complete merge, target = destroyed
    # mid-overwrite (no _SUCCESS ⇒ untrustworthy, here simply absent)
    shutil.copytree(out, out + "_stage")
    shutil.rmtree(out)

    # next batch carries ONE user only
    one_user = sorted(full_keys)[0]
    nb_dir = str(tmp_path / "next_batch")
    (
        spark.read.parquet(event_dir)
        .filter(F.col("user_id") == one_user)
        .limit(5)
        .write.mode("overwrite")
        .parquet(nb_dir)
    )
    q = se.upsert_parquet_sink(
        se.read_event_stream(spark, nb_dir),
        out,
        str(tmp_path / "ck2"),
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
    )
    _drain(q)
    spark.catalog.refreshByPath(out)
    recovered = {
        r.user_id for r in spark.read.parquet(out).select("user_id").collect()
    }
    assert recovered == full_keys  # every key outside the batch survived
    assert not os.path.exists(out + "_stage")


def test_scd2_sink_matches_batch_history_and_splices_late_data(
    spark, event_dir, tmp_path
):
    """The streaming SCD-2 sink must leave the target equal to the batch
    u4 construction over every record seen so far — including when a
    whole tranche of LATE records (earlier event times) arrives after the
    dimension already exists, which must splice into the middle of each
    key's interval chain, not append. A replay of the late tranche must
    then be a no-op (exactly-once EFFECT)."""
    import os

    from etl_power_bi_dashboard_spark.plans.merge_plans import scd2_history

    out = str(tmp_path / "scd2_out")
    ev = spark.read.parquet(event_dir)
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    mid = lo + (hi - lo) / 2
    recent_dir = str(tmp_path / "recent")
    late_dir = str(tmp_path / "late")
    ev.filter(F.col("ts") >= F.lit(mid)).write.parquet(recent_dir)
    ev.filter(F.col("ts") < F.lit(mid)).write.parquet(late_dir)

    def run(src, ckpt):
        q = se.scd2_parquet_sink(
            se.read_event_stream(spark, src), out, str(tmp_path / ckpt)
        )
        _drain(q)
        spark.catalog.refreshByPath(out)

    def snapshot(df):
        return {
            (r.user_id, r.event_id, r.effective_from, r.effective_to,
             r.is_current, round(r.value, 6))
            for r in df.select(
                "user_id", "event_id", "effective_from", "effective_to",
                "is_current", "value",
            ).collect()
        }

    run(recent_dir, "ck1")
    want_recent = snapshot(scd2_history(spark.read.parquet(recent_dir)))
    assert snapshot(spark.read.parquet(out)) == want_recent
    assert len(want_recent) > 0

    # late tranche: every record predates the existing dimension
    run(late_dir, "ck2")
    want_full = snapshot(scd2_history(ev))
    assert snapshot(spark.read.parquet(out)) == want_full
    assert want_full != want_recent  # the splice actually changed history

    # replay of the late tranche: record identities dedupe → no-op
    run(late_dir, "ck3")
    assert snapshot(spark.read.parquet(out)) == want_full
    assert not os.path.exists(out + "_stage")


def test_scd2_sink_recovers_from_crashed_republish(spark, event_dir, tmp_path):
    """Crash window for the SCD-2 sink: stage holds the complete merge
    (with _SUCCESS), target was destroyed mid-overwrite. The next batch
    must restore the target from the stage FIRST, so keys absent from
    that batch keep their interval history."""
    import os
    import shutil

    out = str(tmp_path / "scd2_crash_out")

    q = se.scd2_parquet_sink(
        se.read_event_stream(spark, event_dir), out, str(tmp_path / "ck1")
    )
    _drain(q)
    spark.catalog.refreshByPath(out)
    full = spark.read.parquet(out)
    full_keys = {r.user_id for r in full.select("user_id").distinct().collect()}
    n_rows = full.count()
    assert len(full_keys) > 1

    shutil.copytree(out, out + "_stage")
    shutil.rmtree(out)

    one_user = sorted(full_keys)[0]
    nb_dir = str(tmp_path / "scd2_next_batch")
    (
        spark.read.parquet(event_dir)
        .filter(F.col("user_id") == one_user)
        .limit(5)
        .write.mode("overwrite")
        .parquet(nb_dir)
    )
    q = se.scd2_parquet_sink(
        se.read_event_stream(spark, nb_dir), out, str(tmp_path / "ck2")
    )
    _drain(q)
    spark.catalog.refreshByPath(out)
    recovered = spark.read.parquet(out)
    rec_keys = {
        r.user_id for r in recovered.select("user_id").distinct().collect()
    }
    assert rec_keys == full_keys  # every key outside the batch survived
    # the batch records are replays of existing record identities → no-op
    assert recovered.count() == n_rows
    assert not os.path.exists(out + "_stage")


def test_streaming_dau_matches_batch(spark, event_dir):
    """Streaming DAU (watermarked dedup → windowed count) must agree
    with the batch distinct-user-per-day aggregation."""
    stream = se.daily_active_users(se.read_event_stream(spark, event_dir))
    _drain(se.run_to_memory(stream, "t_dau", mode="append"))
    got = {
        (r.day.date(), r.dau) for r in spark.table("t_dau").collect()
    }
    batch = (
        load_events(spark, SF_DIR)
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
        .groupBy("d")
        .agg(F.count("*").alias("dau"))
        .collect()
    )
    want = {(r.d, r.dau) for r in batch}
    # append mode emits only watermark-closed windows; every emitted
    # window must match the batch answer exactly, and most must emit
    assert got <= want and len(got) >= len(want) - 2 and len(got) > 0


@pytest.mark.slow
def test_streaming_dau_pinned_cross_batch_duplicates(spark, tmp_path):
    """A user-day whose FIRST event arrives in one micro-batch and whose
    duplicates arrive in a LATER micro-batch counts once (a fixed
    tranching of the DAU fuzz law).

    The tranching: user 2's first day-2 event (day2 00:00) lands in
    micro-batch 2; duplicates (day2 02:00, day2 11:00) land in batch 3,
    2-11 h later — well inside the 1-day watermark. Under
    dropDuplicatesWithinWatermark the user-day is emitted again and DAU
    reads 3 where the batch truth is 2; plain dropDuplicates on the
    watermarked (user_id, window) key keeps it at 2."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    tranches = [
        # batch 1: user 0 active on day 1
        [(0, base, 0, "view", 0.0, "{}")],
        # batch 2: user 2's FIRST day-2 event
        [(1, base + dt.timedelta(days=1), 2, "view", 0.0, "{}")],
        # batch 3: user 0 also day 2, plus user 2's day-2 DUPLICATES
        [
            (2, base + dt.timedelta(days=1, hours=2), 2, "view", 0.0, "{}"),
            (3, base + dt.timedelta(days=1, hours=2), 0, "view", 0.0, "{}"),
            (4, base + dt.timedelta(days=1, hours=11), 2, "view", 0.0, "{}"),
        ],
    ]
    src = str(tmp_path / "src")
    for seg in tranches:
        spark.createDataFrame(seg, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = se.daily_active_users(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    _drain(se.run_to_memory(stream, "t_dau_pinned", mode="complete"))
    got = {
        (r.day.date(), r.dau)
        for r in spark.table("t_dau_pinned").collect()
    }
    assert got == {(base.date(), 1), ((base + dt.timedelta(days=1)).date(), 2)}


@pytest.mark.slow
def test_enrich_refreshing_sink_picks_up_dim_overwrites(spark, tmp_path):
    """Dim-refresh semantics: the plain
    stream-static join CANNOT pick up a parquet dim overwritten
    mid-query (its file listing is snapshotted at DataFrame creation —
    probed empirically; the docstring now says so), so
    enrich_refreshing_parquet_sink re-reads the dim path inside every
    micro-batch. Law: an event arriving after the dim overwrite carries
    the NEW tier, the earlier event keeps the tier its batch saw, and a
    checkpoint restart doesn't re-emit."""
    import datetime as dt

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    t0 = dt.datetime(2024, 1, 1)
    src = str(tmp_path / "src")
    dim = str(tmp_path / "dim")
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")

    def write_dim(tier):
        spark.createDataFrame(
            [(1, tier)], "user_id long, user_tier string"
        ).write.mode("overwrite").parquet(dim)

    def write_event(eid):
        spark.createDataFrame(
            [(eid, t0, 1, "view", 0.0, "{}")], schema
        ).coalesce(1).write.mode("append").parquet(src)

    def drain():
        q = se.enrich_refreshing_parquet_sink(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            dim, out, ck,
        )
        _drain(q)
        spark.catalog.refreshByPath(out)

    write_dim("bronze")
    write_event(10)
    drain()
    write_dim("gold")  # overwrite the dim BETWEEN drains
    write_event(11)
    drain()
    got = {
        (r.event_id, r.user_tier)
        for r in spark.read.parquet(out).collect()
    }
    assert got == {(10, "bronze"), (11, "gold")}
    drain()  # restart with no new files: nothing re-emitted
    assert spark.read.parquet(out).count() == 2


@pytest.mark.slow
def test_streaming_dau_state_survives_checkpoint_restart(spark, tmp_path):
    """The fixed DAU plan (plain dropDuplicates on the watermarked
    (user_id, window) key + windowed count) must recover BOTH state
    stores from a checkpoint: a resumed query seeing a duplicate of a
    user-day first seen before the restart must not re-count it, and a
    genuinely new user-day must still increment its window. The fuzz
    law covers tranching within one run; this covers the
    stop-the-query-and-resume timeline (memory sink can't recover a
    checkpoint, so the sink is foreachBatch-overwrite parquet in
    complete mode — each batch rewrites the full current answer)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    src, ck = str(tmp_path / "src"), str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def write_tranche(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def drain():
        q = (
            se.daily_active_users(
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            .writeStream.foreachBatch(
                lambda df, eid: df.write.mode("overwrite").parquet(out)
            )
            .outputMode("complete")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        spark.catalog.refreshByPath(out)

    # run 1: user 7's first day-1 event, plus user 8 on day 1
    write_tranche([
        (0, base, 7, "view", 0.0, "{}"),
        (1, base + dt.timedelta(hours=3), 8, "view", 0.0, "{}"),
    ])
    drain()
    got1 = {
        (r.day.date(), r.dau) for r in spark.read.parquet(out).collect()
    }
    assert got1 == {(base.date(), 2)}

    # run 2 (restart from the checkpoint): a DUPLICATE of user 7's
    # day-1 (must not re-count — dedup state recovered) and user 9's
    # first day-1 event (must count — agg state recovered, not reset)
    write_tranche([
        (2, base + dt.timedelta(hours=5), 7, "view", 0.0, "{}"),
        (3, base + dt.timedelta(hours=6), 9, "view", 0.0, "{}"),
    ])
    drain()
    got2 = {
        (r.day.date(), r.dau) for r in spark.read.parquet(out).collect()
    }
    assert got2 == {(base.date(), 3)}


def test_streaming_dau_equals_e11_dau_differential(spark, event_dir):
    """Differential pin: the streaming DAU surface and its batch twin
    (the dau column of e11_rolling_active_users) must agree on the SAME
    corpus, so the streaming side cannot double-count while the batch
    side stays green. Complete mode emits every window's final
    count; e11 reports a row per day in the observed span, with dau=0
    on gap days the stream (correctly) never emits."""
    from etl_power_bi_dashboard_spark.plans.events_plans import (
        q_e11_rolling_active_users,
    )

    stream = se.daily_active_users(se.read_event_stream(spark, event_dir))
    _drain(se.run_to_memory(stream, "t_dau_diff", mode="complete"))
    got = {
        (r.day.date(), r.dau) for r in spark.table("t_dau_diff").collect()
    }
    want = {
        (r.day.date(), r.dau)
        for r in q_e11_rolling_active_users(spark, SF_DIR).collect()
        if r.dau > 0
    }
    assert got == want and len(got) > 0


@pytest.mark.slow
def test_trending_topk_matches_batch_and_replays_clean(
    spark, event_dir, tmp_path
):
    """The trending sink's target must equal the batch twin (windowed
    counts ranked top-3 per window, (n DESC, type ASC) tie-break), and a
    full replay must leave it unchanged."""
    out = str(tmp_path / "trend_out")

    def run(ckpt):
        q = se.trending_topk_sink(
            se.read_event_stream(spark, event_dir),
            out,
            str(tmp_path / ckpt),
            k=3,
        )
        _drain(q)

    run("ckA")
    got = {
        (r.window_start, r.rk): (r.event_type, r.n_events)
        for r in spark.read.parquet(out).collect()
    }
    from pyspark.sql import Window

    batch = (
        load_events(spark, SF_DIR)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("window_start").orderBy(
                    F.desc("n_events"), "event_type"
                )
            ),
        )
        .filter(F.col("rk") <= 3)
    )
    want = {
        (r.window_start, r.rk): (r.event_type, r.n_events)
        for r in batch.collect()
    }
    assert got == want and len(got) > 0
    # every window carries at most k rows, ranked 1..k
    ranks = {}
    for (ws, rk) in got:
        ranks.setdefault(ws, []).append(rk)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in ranks.values())

    run("ckB")  # full replay: replace-by-key merge must be a no-op
    spark.catalog.refreshByPath(out)
    again = {
        (r.window_start, r.rk): (r.event_type, r.n_events)
        for r in spark.read.parquet(out).collect()
    }
    assert again == got


@pytest.mark.slow
def test_trending_topk_rewrites_only_touched_windows(spark, tmp_path):
    """Scale contract of the partitioned trending sink: a micro-batch
    that only adds events in a NEW window must leave every other
    window's state and target partition files byte-untouched (same file
    names — dynamic overwrite writes fresh part files whenever it
    rewrites a partition), while the new window appears with the
    correct top-k."""
    import os

    src = str(tmp_path / "incr_events")
    out = str(tmp_path / "incr_trend")
    ckpt = str(tmp_path / "incr_ck")
    base = load_events(spark, SF_DIR)
    base.repartition(2).write.mode("overwrite").parquet(src)

    def listing(root):
        files = {}
        for dirpath, _, names in os.walk(root):
            part = os.path.relpath(dirpath, root)
            for n in names:
                if n.endswith(".parquet"):
                    files.setdefault(part, set()).add(n)
        return files

    q = se.trending_topk_sink(se.read_event_stream(spark, src), out, ckpt, k=3)
    _drain(q)
    state = f"{out}_state"
    before_state = listing(state)
    before_target = listing(out)
    assert len(before_state) > 1  # partitioned by window

    # one new event far past every existing window (watermark keeps it)
    new_ts = base.agg(F.max("ts")).first()[0]
    late = spark.createDataFrame(
        [(999999, new_ts, 1, "click", 1.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 10 HOURS"))
    late.write.mode("append").parquet(src)

    q = se.trending_topk_sink(se.read_event_stream(spark, src), out, ckpt, k=3)
    _drain(q)
    after_state = listing(state)
    after_target = listing(out)

    changed_state = {
        p for p in before_state
        if after_state.get(p) != before_state[p]
    }
    assert changed_state == set(), f"untouched windows rewritten: {changed_state}"
    new_parts = set(after_state) - set(before_state)
    assert len(new_parts) == 1  # exactly the new window's partition
    changed_target = {
        p for p in before_target
        if after_target.get(p) != before_target[p]
    }
    assert changed_target == set()
    # and the new window's top-k is the single late event
    spark.catalog.refreshByPath(out)
    new_ws = new_parts.pop().split("=", 1)[1]
    rows = (
        spark.read.parquet(out)
        .filter(F.col("ws") == int(new_ws))
        .collect()
    )
    assert [(r.event_type, r.n_events, r.rk) for r in rows] == [("click", 1, 1)]


def test_stream_stream_left_join_matches_batch(spark, tmp_path):
    """The left-outer stream-stream join must emit every click exactly
    once — converted clicks with their purchases, unconverted clicks
    with NULLs — matching the batch left join. A sentinel event far past
    the horizon pushes the watermark so the final unconverted clicks
    flush (outer results are inherently watermark-delayed)."""
    src = str(tmp_path / "lj_events")
    base = load_events(spark, SF_DIR)
    base.repartition(4).write.mode("overwrite").parquet(src)
    far = base.agg(F.max("ts")).first()[0]
    # The watermark operators sit AFTER the event_type filters, so the
    # sentinel must be a click AND a purchase (on users absent from the
    # data) or it advances neither side's watermark and the last real
    # clicks stay pending forever.
    sentinel = spark.createDataFrame(
        [
            (999998, far, 999999, "click", 0.0, "{}"),
            (999999, far, 999998, "purchase", 0.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 30 DAYS"))
    sentinel.write.mode("append").parquet(src)

    stream = se.click_purchase_left_join(se.read_event_stream(spark, src))
    _drain(se.run_to_memory(stream, "t_lsjoin", mode="append"))
    got = {
        (r.click_id, r.purchase_id, r.converted)
        for r in spark.table("t_lsjoin").collect()
        if r.click_id != 999998  # sentinel click itself stays pending
    }
    want = {
        (r.click_id, r.purchase_id, r.converted)
        for r in se.click_purchase_left_join(
            spark.read.parquet(src)
        ).collect()
        if r.click_id != 999998
    }
    assert got == want
    unconverted = {c for c, p, conv in want if not conv}
    converted = {c for c, p, conv in want if conv}
    assert unconverted and converted  # both semantics actually exercised


def test_scd2_bucketed_sink_equivalent_and_prunes_quiet_buckets(
    spark, event_dir, tmp_path
):
    """The bucketed SCD-2 sink must (a) build exactly the history the
    plain sink builds (same scd2_history fold, bucketing is layout
    only), including a late tranche splicing mid-history, and (b) leave
    quiet buckets' partition files untouched when a batch only changes
    one key."""
    import os

    from etl_power_bi_dashboard_spark.plans.merge_plans import scd2_history

    out = str(tmp_path / "scd2b_out")
    ev = spark.read.parquet(event_dir)
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    mid = lo + (hi - lo) / 2
    recent_dir = str(tmp_path / "recent")
    late_dir = str(tmp_path / "late")
    ev.filter(F.col("ts") >= F.lit(mid)).write.parquet(recent_dir)
    ev.filter(F.col("ts") < F.lit(mid)).write.parquet(late_dir)

    def run(src, ckpt):
        q = se.scd2_parquet_sink_bucketed(
            se.read_event_stream(spark, src), out, str(tmp_path / ckpt),
            n_buckets=8,
        )
        _drain(q)
        spark.catalog.refreshByPath(out)

    def snapshot(df):
        return {
            (r.user_id, r.event_id, r.effective_from, r.effective_to,
             r.is_current, round(r.value, 6))
            for r in df.select(
                "user_id", "event_id", "effective_from", "effective_to",
                "is_current", "value",
            ).collect()
        }

    run(recent_dir, "ck1")
    assert snapshot(spark.read.parquet(out)) == snapshot(
        scd2_history(spark.read.parquet(recent_dir))
    )
    run(late_dir, "ck2")  # late tranche splices mid-history
    want_full = snapshot(scd2_history(ev))
    assert snapshot(spark.read.parquet(out)) == want_full

    def listing(root):
        files = {}
        for dirpath, _, names in os.walk(root):
            part = os.path.relpath(dirpath, root)
            for n in names:
                if n.endswith(".parquet"):
                    files.setdefault(part, set()).add(n)
        return files

    before = listing(out)
    assert len(before) == 8  # all 8 buckets materialized at this size

    # single-key batch: only that key's bucket may be rewritten
    one_user = ev.select("user_id").first()[0]
    single_dir = str(tmp_path / "single")
    single = spark.createDataFrame(
        [(888888, hi, one_user, "update", 42.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    single.write.parquet(single_dir)
    run(single_dir, "ck3")
    after = listing(out)
    changed = {p for p in before if after.get(p) != before[p]}
    assert len(changed) == 1  # exactly the touched key's bucket
    # and the fold stayed correct: target == batch history over all seen
    want_all = snapshot(scd2_history(ev.unionByName(single)))
    assert snapshot(spark.read.parquet(out)) == want_all


def test_trending_partial_window_update_keeps_other_keys(
    spark, tmp_path
):
    """The regression the _SUCCESS-marker fix closes: when a later batch
    updates ONE event type inside an existing window, update mode emits
    only that key — the sink must merge it against stored state, keeping
    the window's OTHER event types, not rewrite the partition from the
    batch alone (dynamic partition overwrite writes no root _SUCCESS, so
    the completeness gate silently failed and every batch looked like
    the first). Synthetic two-window fixture spanning < 2h so the agg
    state for both windows is still inside the watermark horizon when
    the follow-up batch arrives."""
    import datetime as dt

    src = str(tmp_path / "pw_events")
    out = str(tmp_path / "pw_trend")
    ckpt = str(tmp_path / "pw_ck")
    t0 = dt.datetime(2024, 3, 1, 10, 0, 0)

    def ev_rows(rows):
        return spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        )

    ev_rows([
        (1, t0 + dt.timedelta(minutes=10), 1, "click", 1.0, "{}"),
        (2, t0 + dt.timedelta(minutes=12), 2, "click", 1.0, "{}"),
        (3, t0 + dt.timedelta(minutes=15), 3, "view", 1.0, "{}"),
        (4, t0 + dt.timedelta(minutes=18), 4, "view", 1.0, "{}"),
        (5, t0 + dt.timedelta(minutes=20), 5, "view", 1.0, "{}"),
        (6, t0 + dt.timedelta(minutes=70), 6, "purchase", 1.0, "{}"),
    ]).write.mode("overwrite").parquet(src)

    q = se.trending_topk_sink(se.read_event_stream(spark, src), out, ckpt,
                              k=100)
    _drain(q)
    spark.catalog.refreshByPath(out)
    w1 = int(t0.replace(tzinfo=dt.timezone.utc).timestamp())
    before_w1 = {
        (r.event_type, r.n_events)
        for r in spark.read.parquet(out).filter(F.col("ws") == w1).collect()
    }
    assert before_w1 == {("click", 2), ("view", 3)}

    # batch 2, same checkpoint: ONE more click inside window 1 — update
    # mode emits only (w1, click); (w1, view) must survive the merge
    ev_rows([
        (7, t0 + dt.timedelta(minutes=40), 7, "click", 1.0, "{}"),
    ]).write.mode("append").parquet(src)
    q = se.trending_topk_sink(se.read_event_stream(spark, src), out, ckpt,
                              k=100)
    _drain(q)
    spark.catalog.refreshByPath(out)
    after_w1 = {
        (r.event_type, r.n_events)
        for r in spark.read.parquet(out).filter(F.col("ws") == w1).collect()
    }
    assert after_w1 == {("click", 3), ("view", 3)}
    # window 2 untouched
    w2 = w1 + 3600
    after_w2 = {
        (r.event_type, r.n_events)
        for r in spark.read.parquet(out).filter(F.col("ws") == w2).collect()
    }
    assert after_w2 == {("purchase", 1)}


@pytest.mark.slow
def test_watermark_drops_match_e16_diagnostic(spark, tmp_path):
    """Ties the e16 lateness diagnostic to REAL watermark behavior: a
    stream whose disorder e16 would flag (one event 113 min behind the
    per-user running max) actually loses that row to a 5-minute
    watermark — and a stream with zero e16-lateness (the driver
    fixture's property) can never hit this path. The drop is asserted
    three ways: the engine's numRowsDroppedByWatermark counter, the
    late value's absence from the appended output, and the e16-style
    recomputation seeing exactly one late row with the same lag."""
    import datetime as dt

    from pyspark.sql import Window

    d = str(tmp_path / "wm_events")
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    base = dt.datetime(2024, 3, 1, 10, 0, 0)

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(d)

    write([(1, base, 7, "click", 1.0, "{}"),
           (2, base + dt.timedelta(minutes=5), 7, "click", 1.0, "{}")])
    stream = se.tumbling_counts(
        se.read_event_stream(spark, d), window="10 minutes",
        watermark="5 minutes",
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("wm_drop")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # advance event time 2h: the watermark passes the early windows
        write([(3, base + dt.timedelta(hours=2), 7, "click", 1.0, "{}")])
        q.processAllAvailable()
        # 113 minutes behind the running max — beyond the 5-min watermark
        write([(4, base + dt.timedelta(minutes=7), 7, "click", 5.0, "{}")])
        q.processAllAvailable()
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for op in p.get("stateOperators", [])
        )
    finally:
        q.stop()
    assert dropped == 1
    out = spark.table("wm_drop").collect()
    assert all(r.total_value is None or abs(r.total_value - 5.0) > 1e-9
               for r in out)

    # e16-style diagnostic over the SAME files: exactly one late row,
    # lagging 113 min behind the user's running max
    ev = spark.read.schema(schema).parquet(d)
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    us = F.unix_micros(F.col("ts"))
    late = (
        ev.select(
            F.when(
                F.max(us).over(w).isNotNull() & (us < F.max(us).over(w)),
                F.max(us).over(w) - us,
            ).alias("late_us")
        )
        .agg(F.count("late_us").alias("n"), F.max("late_us").alias("mx"))
        .collect()[0]
    )
    assert late.n == 1
    assert late.mx == 113 * 60 * 1_000_000


def test_gap_monitor_sink_matches_batch_audit_and_guards_replay(
    spark, tmp_path
):
    """Drain a deliberately GAPPED id stream (every 7th id dropped, one
    large hole) through the gap monitor; the published report must
    agree with a direct recount (missing == true missing, in-bucket +
    seam decomposition consistent), state must stay bounded by
    #buckets, and the replay guard must be scoped to the RUN: a
    same-run replayed absolute epoch is a state no-op (additive cnt),
    but a FRESH-checkpoint run over the same state FOLDS (its batches
    carry a strictly larger run base) instead of being silently dropped
    — the checkpoint-loss hazard raw epoch ids had."""
    src = str(tmp_path / "ids_src")
    state = str(tmp_path / "gap_state")
    report = str(tmp_path / "gap_report")
    ckpt = str(tmp_path / "gap_ckpt")
    ids = [i for i in range(0, 5000) if i % 7 != 0 and not 1000 <= i < 1500]
    spark.createDataFrame(
        [(i,) for i in ids], "event_id long"
    ).repartition(4).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("event_id long").parquet(src)
    q = se.gap_monitor_sink(
        stream, state, report, ckpt, id_col="event_id", bucket_width=256
    )
    _drain(q)
    rep = spark.read.parquet(report).collect()
    assert len(rep) == 1
    r = rep[0]
    srt = sorted(ids)
    true_missing = srt[-1] - srt[0] + 1 - len(srt)
    assert (r.min_id, r.max_id, r.n_rows) == (srt[0], srt[-1], len(srt))
    assert r.missing == true_missing
    assert r.in_bucket_missing + _seam_total(spark, state) == true_missing
    st = spark.read.parquet(state)
    # bounded by #buckets + one watermark row per run
    assert st.filter(F.col("wm_base").isNull()).count() <= (srt[-1] // 256) + 1
    assert st.filter(F.col("wm_base").isNotNull()).count() == 1

    # same-run replay guard: re-folding an already-seen ABSOLUTE epoch
    # must leave state untouched (cnt is additive) — but must still
    # republish the report from state, healing a crash that landed
    # between the state publish and the report publish (simulated here
    # by deleting the report before the replay).
    before = sorted(map(tuple, st.collect()), key=repr)
    seen = st.agg(F.max("last_epoch")).first()[0]
    assert seen is not None and seen >= 0
    import shutil

    shutil.rmtree(report)
    batch = spark.read.schema("event_id long").parquet(src)
    run0 = (int(seen) // RUN_STRIDE) * RUN_STRIDE
    se._gap_state_merge(batch, int(seen), run0, state, report,
                        id_col="event_id", bucket_width=256)
    after = spark.read.parquet(state)
    assert sorted(map(tuple, after.collect()), key=repr) == before
    healed = spark.read.parquet(report).collect()
    assert len(healed) == 1 and healed[0].missing == true_missing

    # run-scoped guard: a FRESH checkpoint (e.g. after checkpoint loss)
    # claims a larger run base, so its batches FOLD into the existing
    # state rather than being dropped as "already seen". Re-reading the
    # same source therefore double-counts cnt — the documented additive
    # semantics — and proves new-run data is never silently skipped.
    q2 = se.gap_monitor_sink(
        spark.readStream.schema("event_id long").parquet(src),
        state, report, str(tmp_path / "gap_ckpt2"),
        id_col="event_id", bucket_width=256,
    )
    _drain(q2)
    st2 = spark.read.parquet(state)
    assert st2.agg(F.sum("cnt")).first()[0] == 2 * len(ids)
    assert st2.agg(F.max("last_epoch")).first()[0] >= RUN_STRIDE
    # resume of run 2 (same checkpoint) re-reads its marker: no refold
    q3 = se.gap_monitor_sink(
        spark.readStream.schema("event_id long").parquet(src),
        state, report, str(tmp_path / "gap_ckpt2"),
        id_col="event_id", bucket_width=256,
    )
    _drain(q3)
    assert spark.read.parquet(state).agg(F.sum("cnt")).first()[0] \
        == 2 * len(ids)


def test_gap_monitor_resumed_old_run_still_folds_after_newer_run(
    spark, tmp_path
):
    """Watermark scoping: once a NEWER run has folded into state, a
    resumed OLDER run's genuinely-new batches must still fold (a global
    max(last_epoch) guard would classify them as replays and silently
    drop them), while its genuinely-replayed batches still skip."""
    state = str(tmp_path / "st")
    report = str(tmp_path / "rp")
    b1 = spark.createDataFrame([(i,) for i in range(100)], "event_id long")
    b2 = spark.createDataFrame(
        [(i,) for i in range(100, 200)], "event_id long"
    )
    b3 = spark.createDataFrame(
        [(i,) for i in range(200, 300)], "event_id long"
    )
    stride = RUN_STRIDE
    se._gap_state_merge(b1, 0, 0, state, report, "event_id", 64)
    se._gap_state_merge(b2, stride, stride, state, report, "event_id", 64)
    # resumed run 0, NEW batch at abs epoch 1 — must FOLD
    se._gap_state_merge(b3, 1, 0, state, report, "event_id", 64)
    st = spark.read.parquet(state)
    assert st.agg(F.sum("cnt")).first()[0] == 300
    # replay of run 0's abs epoch 1 — must SKIP (cnt unchanged)
    se._gap_state_merge(b3, 1, 0, state, report, "event_id", 64)
    assert spark.read.parquet(state).agg(F.sum("cnt")).first()[0] == 300
    # one watermark row per run, each at its own high-water mark
    wm = {
        r.wm_base: r.last_epoch
        for r in spark.read.parquet(state)
        .filter(F.col("wm_base").isNotNull())
        .collect()
    }
    assert wm == {0: 1, stride: stride}
    # and the published report reflects all three folded batches
    rep = spark.read.parquet(report).collect()[0]
    assert (rep.min_id, rep.max_id, rep.n_rows) == (0, 299, 300)
    assert rep.missing == 0


def test_gap_monitor_markerless_checkpoint_claims_fresh_stride_and_folds(
    spark, tmp_path
):
    """A checkpoint that committed offsets but carries no run-base
    marker, resumed after another run claimed base 0 against the same
    state path: it claims a FRESH stride, not base 0 — sharing would
    misread its new batches as the other run's replays and silently
    drop them — and its batches fold."""
    import os

    state = str(tmp_path / "st")
    report = str(tmp_path / "rp")
    bare_ckpt = str(tmp_path / "ck_bare")
    os.makedirs(os.path.join(bare_ckpt, "offsets"), exist_ok=True)
    with open(os.path.join(bare_ckpt, "offsets", "0"), "w") as f:
        f.write("v1")
    # another run claims base 0 (state empty at claim time) and folds
    base_new = se._monitor_run_base(
        spark, state, state + "__stage", str(tmp_path / "ck_new")
    )
    assert base_new == 0
    batch = spark.createDataFrame([(i,) for i in range(30)], "event_id long")
    se._gap_state_merge(batch, 0, 0, state, report, "event_id", 64)
    # the marker-less checkpoint resumes: must NOT share base 0
    base_bare = se._monitor_run_base(
        spark, state, state + "__stage", bare_ckpt
    )
    assert base_bare >= RUN_STRIDE
    # its batch folds under its own run, nothing dropped
    more = spark.createDataFrame(
        [(i,) for i in range(100, 130)], "event_id long"
    )
    se._gap_state_merge(
        more, base_bare, base_bare, state, report, "event_id", 64
    )
    assert spark.read.parquet(state).agg(F.sum("cnt")).first()[0] == 60


@pytest.mark.slow
def test_gap_monitor_randomized_interleaved_runs_match_simulator(
    spark, tmp_path
):
    """Differential fuzz of the fold/replay state machine: a random
    interleaving of two runs' batches — epochs monotone WITHIN each run
    (Spark's delivery order), crash-replays re-delivering already-folded
    epochs at arbitrary points — must leave exactly the per-bucket
    (lo, hi, cnt) table a sequential Python simulator computes (every
    (run, epoch) folded once, replays no-ops), for any interleaving."""
    import random

    rng = random.Random(7)
    state = str(tmp_path / "st")
    report = str(tmp_path / "rp")
    stride = RUN_STRIDE
    width = 32
    runs: dict[int, list[list[int]]] = {0: [], stride: []}
    for base, start in ((0, 0), (stride, 10_000)):
        nxt = start
        for _ in range(6):
            ids = list(range(nxt, nxt + rng.randint(5, 40)))
            nxt += rng.randint(45, 60)
            runs[base].append(ids)
    # schedule: per-run epoch cursors advance monotonically; each step
    # either folds a run's next epoch or replays one of its earlier ones
    cursors = {0: 0, stride: 0}
    folded: set[tuple[int, int]] = set()
    sim: dict[int, list[int]] = {}
    steps = 0
    while any(cursors[b] < len(runs[b]) for b in runs) or steps < 18:
        steps += 1
        base = rng.choice(list(runs))
        if cursors[base] < len(runs[base]) and (
            rng.random() < 0.7 or cursors[base] == 0
        ):
            epoch = cursors[base]
            cursors[base] += 1
        elif cursors[base] > 0:
            epoch = rng.randrange(cursors[base])  # crash replay
        else:
            continue
        ids = runs[base][epoch]
        batch = spark.createDataFrame([(i,) for i in ids], "event_id long")
        se._gap_state_merge(
            batch, base + epoch, base, state, report, "event_id", width
        )
        if (base, epoch) not in folded:
            folded.add((base, epoch))
            for i in ids:
                sim.setdefault(i // width, []).append(i)
        if steps > 40:
            break
    expect = {
        b: (min(v), max(v), len(v)) for b, v in sim.items()
    }
    st = spark.read.parquet(state)
    got = {
        r._b: (r.lo, r.hi, r.cnt)
        for r in st.filter(F.col("wm_base").isNull()).collect()
    }
    assert got == expect
    # per-run watermarks sit at each run's highest folded epoch
    wm = {
        r.wm_base: r.last_epoch
        for r in st.filter(F.col("wm_base").isNotNull()).collect()
    }
    assert wm == {
        b: b + max(e for bb, e in folded if bb == b) for b in runs
    }
    # and the published report agrees with a recount of the simulator
    all_ids = sorted(i for v in sim.values() for i in v)
    rep = spark.read.parquet(report).collect()[0]
    assert (rep.min_id, rep.max_id, rep.n_rows) == (
        all_ids[0], all_ids[-1], len(all_ids)
    )
    assert rep.missing == all_ids[-1] - all_ids[0] + 1 - len(all_ids)


def test_claim_run_base_sequential_strides(spark, tmp_path):
    """Three fresh checkpoints against one output claim strictly
    increasing stride multiples (0, S, 2S) even when the discovery
    callback reports nothing — the sentinel files alone must prevent a
    stride from being claimed twice."""
    sent = str(tmp_path / "out__runs")
    bases = [
        runbase.claim_run_base(
            spark,
            str(tmp_path / f"ck{i}"),
            marker_prefix="t_run_base_",
            sentinel_dir=sent,
            existing_base_fn=lambda: -1,
        )
        for i in range(3)
    ]
    assert bases == [0, RUN_STRIDE, 2 * RUN_STRIDE]
    # resume: the same checkpoint re-reads its marker, no new claim
    again = runbase.claim_run_base(
        spark,
        str(tmp_path / "ck1"),
        marker_prefix="t_run_base_",
        sentinel_dir=sent,
        existing_base_fn=lambda: (_ for _ in ()).throw(
            AssertionError("resume must not re-scan")
        ),
    )
    assert again == RUN_STRIDE


def _seam_total(spark, state_path):
    from pyspark.sql import Window

    st = spark.read.parquet(state_path)
    if "wm_base" in st.columns:
        st = st.filter(F.col("wm_base").isNull())
    w = Window.orderBy("_b")
    rows = (
        st.withColumn("_prev_hi", F.lag("hi").over(w))
        .filter(F.col("lo") > F.col("_prev_hi") + 1)
        .agg(F.sum(F.col("lo") - F.col("_prev_hi") - 1))
        .first()[0]
    )
    return int(rows or 0)


@pytest.mark.slow
def test_enrich_versioned_sink_pins_dim_version_across_replay(
    spark, tmp_path
):
    """The versioned sink's crash-replayed
    batch re-joins against the version PINNED at its first attempt —
    not the version published during the outage — so replays are
    bit-identical; fresh batches still pick up new versions."""
    import datetime as dt
    import json as _json
    import os as _os

    from pyspark.sql.readwriter import DataFrameWriter

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    t0 = dt.datetime(2024, 1, 1)
    src = str(tmp_path / "src")
    dim = str(tmp_path / "dim")
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")

    def publish_dim(version, tier):
        spark.createDataFrame(
            [(1, tier)], "user_id long, user_tier string"
        ).write.parquet(f"{dim}/v{version}")

    def write_event(eid):
        spark.createDataFrame(
            [(eid, t0, 1, "view", 0.0, "{}")], schema
        ).coalesce(1).write.mode("append").parquet(src)

    def drain(expect_fail=False):
        q = se.enrich_versioned_parquet_sink(
            spark.readStream.schema(schema)
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
        spark.catalog.refreshByPath(out)

    publish_dim(1, "bronze")
    write_event(10)
    drain()

    # inject a crash on epoch 1's OUTPUT write (after version pinning)
    write_event(11)
    orig = DataFrameWriter.parquet

    def failing(self, *paths, **kw):
        if paths and str(paths[0]).startswith(out) and str(paths[0]).endswith(
            "epoch=1"
        ):
            raise RuntimeError("injected crash before epoch output")
        return orig(self, *paths, **kw)

    DataFrameWriter.parquet = failing
    try:
        drain(expect_fail=True)
    finally:
        DataFrameWriter.parquet = orig

    # the outage pinned epoch 1 to v1 before crashing
    pin = _json.load(open(_os.path.join(ck, "dim_versions", "epoch-1.json")))
    assert pin == {"version": 1}
    # a newer version lands DURING the outage
    publish_dim(2, "gold")
    drain()  # replay of epoch 1 must use pinned v1
    got = {
        (r.event_id, r.user_tier) for r in spark.read.parquet(out).collect()
    }
    assert got == {(10, "bronze"), (11, "bronze")}

    # a fresh batch AFTER the publish picks up v2
    write_event(12)
    drain()
    got = {
        (r.event_id, r.user_tier) for r in spark.read.parquet(out).collect()
    }
    assert got == {(10, "bronze"), (11, "bronze"), (12, "gold")}
