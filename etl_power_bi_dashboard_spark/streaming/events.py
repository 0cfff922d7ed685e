"""Structured Streaming surface over the events stream — the streaming
twins of the batch plans in ``plans/events_plans.py`` (same logical
windows; ``readStream`` + watermark swaps in for the batch scan).

The reference has no streaming at all (SURVEY §2.8); this is the §7.4
extension. Design notes for scale:

- event-time, not arrival-time: every aggregation keys on ``ts`` with an
  explicit watermark bounding state (late data beyond the watermark is
  dropped, state for closed windows is evicted);
- tumbling/sliding aggs are incremental hash aggregations over the
  watermarked window column; session windows use Spark's native
  ``session_window`` state store;
- sinks run in update/append mode; in production the sink would be a
  partitioned Delta/parquet table keyed by window start.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from . import runbase

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_event_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source event stream (one file per micro-batch by default)."""
    return spark.readStream.schema(EVENT_SCHEMA).parquet(path)


def tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming twin of e1: tumbling window × event_type with late-data
    watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of e2: sliding windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


def session_counts(
    events: DataFrame, gap: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming twin of e3: per-user session windows (stateful)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact deduplication on event_id — the streaming twin of
    the batch d1 exact-dedup operator.

    ``dropDuplicatesWithinWatermark`` keys state by event_id and evicts
    each key once the watermark passes its event time, so state stays
    bounded by (duplicate horizon × arrival rate) instead of growing with
    the whole stream — the only formulation that survives an unbounded
    100 TB/day feed.

    Checked against the DAU bug class ("dropDuplicatesWithinWatermark
    re-emits a key whose duplicates arrive in a later micro-batch when
    the event-time column is a window struct"): this site's event-time
    is the plain ``ts`` timestamp — the documented, contract-covered
    shape — and the cross-batch fuzz law
    (tests/test_streaming_fuzz_builtin.py::
    test_dedup_stream_equals_batch_distinct_under_any_tranching)
    exercises exactly the later-micro-batch redelivery pattern with
    DIFFERING timestamps inside the horizon; it is green. This is the
    repo's only remaining dropDuplicatesWithinWatermark call site.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def daily_active_users(
    events: DataFrame, watermark: str = "1 day"
) -> DataFrame:
    """Streaming DAU — the stream twin of the batch e11 DAU side:
    distinct users per event-time day, as a two-stage streaming plan.

    COUNT(DISTINCT) is not directly expressible over a stream, so stage
    one dedupes (user, day) pairs with plain ``dropDuplicates`` — the
    dedup key CONTAINS the watermarked event-time window, so Spark keys
    state by (user_id, w) and evicts each entry once the watermark
    passes the window's end (state = one entry per active user-day,
    bounded by the active population, not stream length) — and stage
    two is a plain streaming count per day window. Late events inside
    the watermark update their day's count; beyond it they drop — the
    standard completeness/latency trade a batch e11 backfill closes.

    ``dropDuplicatesWithinWatermark`` is deliberately NOT used here:
    its contract ("no duplicates whose event times are within the
    delay of each other") keys eviction off the FIRST-seen event time
    per key, and with a window struct as the event-time column it
    re-emits a user-day whose duplicates arrive in a later
    micro-batch (double-counted DAU; the cross-batch fuzz in
    tests/test_streaming_fuzz_builtin.py pins it). Plain
    ``dropDuplicates`` on a key that includes the watermarked window
    is the textbook exact formulation for this shape.
    """
    return (
        events.withWatermark("ts", watermark)
        # the window struct IS the event-time column after this select —
        # keeping ts alongside would leave two event-time columns, which
        # streaming rejects
        .select("user_id", F.window("ts", "1 day").alias("w"))
        .dropDuplicates(["user_id", "w"])
        .groupBy("w")
        .agg(F.count("*").alias("dau"))
        .select(F.col("w.start").alias("day"), "dau")
    )


def click_purchase_join(
    events: DataFrame,
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream join: purchases attributed to a prior
    click by the same user within ``within``.

    Both sides carry watermarks and the join condition bounds purchase
    time to [click_ts, click_ts + within], which lets Spark evict join
    state for clicks older than the watermark — the canonical bounded
    stream-stream equi-join. Batch twin: the same join expression over the
    static frame (tests assert agreement).
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("purchase_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    cond = (
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {within}"))
    )
    return clicks.join(purchases, cond, "inner").select(
        F.col("click_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )


def click_purchase_left_join(
    events: DataFrame,
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join — the conversion-rate
    shape: every click emits, converted ones carry their purchase,
    UNCONVERTED ones emit with NULL purchase columns once the watermark
    has passed ``click_ts + within`` (only then can the engine prove no
    matching purchase can still arrive — outer results are inherently
    watermark-delayed, which is the semantic difference from the inner
    join, not an implementation detail).

    State bounds are the inner join's: both sides evict past the
    watermark because the time-bound condition is part of the join. A
    terminating (availableNow) run emits the outer rows whose bound the
    final watermark passed; clicks inside the last watermark window
    remain pending — tests push a sentinel event past the horizon to
    flush them, which is exactly what a production heartbeat topic does.
    The heartbeat must reach BOTH sides: the engine's global watermark
    is the MIN across the two withWatermark nodes, so a click-only
    heartbeat leaves the purchase-side watermark at epoch whenever the
    feed has no (or only early) purchases, and no outer row ever emits
    (pinned by the left-join fuzz law's dual sentinel).
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("purchase_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    cond = (
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {within}"))
    )
    return clicks.join(purchases, cond, "leftOuter").select(
        F.col("click_user").alias("user_id"),
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
        F.col("purchase_id").isNotNull().alias("converted"),
    )


def enrich_stream(events: DataFrame, user_dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join: each streaming event picks up its
    user's dimension attributes — the canonical "enrich the stream with a
    dim table" shape (the streaming twin of the batch star join J1).

    The static side is joined per micro-batch with no streaming state at
    all (unlike stream-stream joins): Spark broadcasts/hash-joins the dim
    against each batch. The join RE-EXECUTES per batch, but for a
    file-backed dim the FILE LISTING is snapshotted when the DataFrame
    is created — overwriting the dim's parquet mid-query fails the next
    batch with FILE_NOT_EXIST rather than picking up the new rows
    (probed empirically; transactional formats like Delta
    re-resolve, plain parquet does not). For a dim that must be
    swappable while the query runs, use
    :func:`enrich_refreshing_parquet_sink`, which re-reads the dim path
    inside every micro-batch. Left join keeps events whose user is
    missing from the dim (null attributes), matching the batch twin's
    semantics.
    """
    dim = user_dim.select(
        F.col("user_id").alias("dim_user_id"), "user_tier"
    )
    return events.join(
        dim, events["user_id"] == dim["dim_user_id"], "left"
    ).select("event_id", "ts", "user_id", "event_type", "value", "user_tier")


def _foreach_batch(
    stream_df: DataFrame, fn, checkpoint: str, mode: str = "append"
):
    """Start ``fn`` as the ``foreachBatch`` body of a drain-everything
    (``availableNow``) query — the trigger every sink here runs, which
    is also the production backfill mode. Returns the started query;
    the caller awaits termination."""
    return (
        stream_df.writeStream.foreachBatch(fn)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _enrich_epoch(
    df: DataFrame, dim_path: str, target_path: str, epoch_id: int
) -> None:
    """The per-epoch body both enrich sinks share: join the batch
    against the dim snapshot at ``dim_path`` (re-read now, so the join
    sees the dim as of this micro-batch) and overwrite the epoch's own
    output directory (the :func:`idempotent_parquet_sink` pattern — a
    crash-replayed batch REWRITES its epoch directory instead of
    appending duplicates)."""
    enrich_stream(df, df.sparkSession.read.parquet(dim_path)).write.mode(
        "overwrite"
    ).parquet(f"{target_path}/epoch={epoch_id}")


def enrich_refreshing_parquet_sink(
    stream_df: DataFrame,
    dim_path: str,
    target_path: str,
    checkpoint: str,
):
    """Stream-static enrichment whose dim side ACTUALLY refreshes: the
    dim parquet is re-read inside every micro-batch (a fresh file-index
    snapshot per batch), so a slowly-changing dim overwritten between
    batches flows through without restarting the query — the semantics
    :func:`enrich_stream`'s plain stream-static join cannot deliver for
    file-backed dims (its file listing is pinned at DataFrame creation;
    see its docstring).

    Each event is enriched against the dim AS OF its micro-batch, into
    per-epoch overwrite directories. The replay of a crashed batch
    re-joins against the CURRENT dim, so callers who need bit-identical
    replay should use :func:`enrich_versioned_parquet_sink`, which pins
    each epoch to the dim version its first attempt resolved. Dim
    overwrites should be atomic relative to batch boundaries (write a
    stage directory, then swap it in; ``sinks.export_star`` overwrites
    in place, so it is not such a publisher) — a swap racing a batch's
    read can still fail that batch, which the checkpoint then retries
    against the settled dim.
    """

    def _enrich(df: DataFrame, epoch_id: int) -> None:
        _enrich_epoch(df, dim_path, target_path, epoch_id)

    return _foreach_batch(stream_df, _enrich, checkpoint)


def latest_dim_version(dim_root: str) -> int:
    """Largest ``v<digits>`` snapshot version under ``dim_root`` — the
    append-only publish convention (a producer adds ``v<N+1>``, never
    overwrites): the same ``v1/ v2/ ...`` layout the batch catalog's
    multi-version lake reader uses (``sources/catalog.py``)."""
    import re

    vers = [
        int(c[1:])
        for c in os.listdir(dim_root)
        if re.fullmatch(r"v\d+", c) and os.path.isdir(os.path.join(dim_root, c))
    ]
    if not vers:
        raise ValueError(
            f"latest_dim_version: no v<N> snapshot directories under "
            f"{dim_root!r} — publish the dim as append-only versioned "
            "snapshots (v1/, v2/, ...)"
        )
    return max(vers)


def enrich_versioned_parquet_sink(
    stream_df: DataFrame,
    dim_root: str,
    target_path: str,
    checkpoint: str,
):
    """Stream-static enrichment against a VERSIONED dim — the
    replay-deterministic formulation
    :func:`enrich_refreshing_parquet_sink`'s docstring promises but
    cannot deliver for an overwritten-in-place dim: foreachBatch is
    at-least-once, and that sink's crash-replayed batch re-joins
    against the CURRENT dim, so a dim overwrite landing mid-crash makes
    the replay differ from what the epoch would have written.

    Here the dim is published append-only as ``v1/ v2/ ...`` snapshot
    directories under ``dim_root`` (never overwritten — the batch
    catalog's lake convention). Each micro-batch, on its FIRST attempt,
    resolves the latest version and durably records ``epoch → version``
    (one JSON file under ``<checkpoint>/dim_versions``, written
    tmp+rename BEFORE the output write); a replayed attempt finds the
    map file and joins against the PINNED snapshot, so every epoch's
    output is bit-identical under any crash/retry interleaving — the
    fuzz law in tests/test_streaming_fuzz_builtin.py forces a
    mid-stream failure, publishes a newer version during the outage,
    and proves the replay still carries the pinned one.

    Fresh (first-attempt) batches DO see newly published versions — the
    refresh semantics are kept; only replays are pinned.

    Operational notes: the version map lives beside the streaming
    checkpoint (same durability domain as the offsets that drive
    replay; Spark only reads its own subdirectories, extra ones are
    inert) and is written with local-filesystem atomics — on a real
    cluster the checkpoint lives on HDFS/S3 and this sidecar write
    should go through the same ``FileSystem`` API (single-node
    concession, documented in SCALE.md §4). Dim snapshot retention must
    outlive the replay horizon: a pinned version deleted before its
    epoch commits fails the replay loudly (never silently re-resolves).
    """

    map_dir = os.path.join(checkpoint, "dim_versions")

    def _enrich(df: DataFrame, epoch_id: int) -> None:
        os.makedirs(map_dir, exist_ok=True)
        map_file = os.path.join(map_dir, f"epoch-{epoch_id}.json")
        if os.path.exists(map_file):
            with open(map_file) as f:
                version = json.load(f)["version"]
        else:
            version = latest_dim_version(dim_root)
            tmp = f"{map_file}.tmp"
            with open(tmp, "w") as f:
                json.dump({"version": version}, f)
            os.replace(tmp, map_file)
        _enrich_epoch(
            df, os.path.join(dim_root, f"v{version}"), target_path, epoch_id
        )

    return _foreach_batch(stream_df, _enrich, checkpoint)


def idempotent_parquet_sink(
    stream_df: DataFrame,
    target_path: str,
    checkpoint_path: str,
    mode: str = "update",
):
    """Exactly-once-effect parquet sink via ``foreachBatch``: each
    micro-batch overwrites its own ``epoch=<id>`` subdirectory, so a
    replayed batch (after failure between write and checkpoint commit)
    rewrites the same directory instead of duplicating rows — the
    standard idempotence recipe when the sink format is not
    transactional. Readers take the union of epochs; for an aggregation
    stream in update mode, the *latest* epoch per key wins (dedup on
    read or compact downstream).

    Returns the started query; caller awaits termination.
    """

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            f"{target_path}/epoch={epoch_id}"
        )

    return _foreach_batch(stream_df, _write, checkpoint_path, mode)


def upsert_parquet_sink(
    stream_df: DataFrame,
    target_path: str,
    checkpoint_path: str,
    key_cols: list[str],
    order_cols: list[str],
):
    """Streaming MERGE (SCD-1 upsert) via ``foreachBatch`` — the
    streaming twin of the batch u1/u3 plans: each micro-batch is first
    compacted to its newest record per key (u3's row_number shape), then
    merged into the target as a full-outer COALESCE against the current
    table state (u1's shape), and the merged result atomically replaces
    the target. ``order_cols`` must be a deterministic total order per
    key (e.g. ``["ts", "event_id"]``) or replay idempotence is lost to
    tie-breaking.

    Replay-safe (exactly-once EFFECT, not exactly-once write): merging
    the same batch twice is a no-op because the per-key winner is chosen
    by ``order_cols`` (newest wins; on equal order the incoming batch
    wins, which re-applies identical data idempotently). With a
    transactional format (Delta/Iceberg) the inner merge becomes a real
    ``MERGE INTO``; parquet's non-atomic directory swap is staged
    through a ``_stage`` path then republished, which is the
    batch-job-visible equivalent.

    Crash recovery: the republish (overwrite of ``target_path``) is not
    atomic, so both directories are gated on their ``_SUCCESS`` markers.
    A crash mid-republish leaves the target partial (no ``_SUCCESS``)
    while ``_stage`` still holds the complete merge; the next batch (or
    replay) first finishes the interrupted republish from ``_stage``,
    then merges normally. ``_stage`` is removed only after a successful
    republish, so at every instant at least one complete copy exists.
    At scale the target stays partitioned and only batch-key partitions
    need rewriting (dynamic partition overwrite); this single-table form
    keeps the recipe engine-minimal.
    """
    from pyspark.sql import Window

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        stage = f"{target_path}_stage"
        order = [F.desc(c) for c in order_cols]
        w = Window.partitionBy(*key_cols).orderBy(*order)
        compact = (
            batch_df.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .drop("_rk")
        )
        current = _read_current_or_recover(spark, target_path, stage)
        if current is not None:
            merged = (
                current.withColumn("_src", F.lit(0))
                .unionByName(compact.withColumn("_src", F.lit(1)))
                .withColumn(
                    "_rk",
                    F.row_number().over(
                        Window.partitionBy(*key_cols).orderBy(
                            *order, F.desc("_src")
                        )
                    ),
                )
                .filter(F.col("_rk") == 1)
                .drop("_rk", "_src")
            )
        else:
            merged = compact
        _republish(merged, target_path, stage)

    return _foreach_batch(stream_df, _merge, checkpoint_path, "update")


def trending_topk_sink(
    events: DataFrame,
    target_path: str,
    checkpoint_path: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    k: int = 3,
):
    """Streaming trending items: top-``k`` event types per tumbling
    window, continuously maintained. Ranking is not expressible inside a
    streaming query (no windows-over-aggregates in append/update mode),
    so this runs the standard two-layer recipe: a watermarked windowed
    COUNT in update mode, whose ``foreachBatch`` (1) merges the changed
    (window, event_type) totals into a parquet STATE table — update mode
    emits the full new aggregate per changed key, so merge is
    replace-by-key, idempotent under replay — and (2) republishes the
    derived top-k per window from the merged state.

    Scale shape: state AND target are
    partitioned by ``ws`` (epoch seconds of window_start — a LONG, so
    partition dir names round-trip without timestamp-encoding hazards)
    and every batch touches ONLY the partitions whose windows appear in
    the batch: the state read is partition-pruned to the touched
    windows, the merge ranks only those rows, and both writes use
    dynamic partition overwrite, so per-batch cost is proportional to
    the windows the batch changed, not to total state size. A watermark
    bounds how many distinct windows a batch can touch; closed windows'
    partitions are simply never rewritten again. Replay recovery: a
    crash mid-commit can leave a touched partition old and its
    neighbour new, but the replayed batch re-merges both to the same
    bytes (replace-by-key is idempotent), exactly the heal-on-replay
    contract the other sinks carry.
    """
    from pyspark.sql import Window

    counts = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events"
        )
    )
    state = f"{target_path}_state"

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.withColumn("ws", F.unix_seconds("window_start"))
        # Tiny driver sync (≤ #windows per batch, watermark-bounded):
        # the touched-window ids drive static partition pruning on the
        # state read below.
        touched = [r.ws for r in batch_df.select("ws").distinct().collect()]
        if not touched:
            return
        merged = batch_df
        if _is_complete(spark, state):
            spark.catalog.refreshByPath(state)
            current = spark.read.parquet(state).filter(
                F.col("ws").isin(touched)
            )
            merged = (
                current.withColumn("_src", F.lit(0))
                .unionByName(batch_df.withColumn("_src", F.lit(1)))
                .withColumn(
                    "_rk",
                    F.row_number().over(
                        Window.partitionBy("ws", "event_type").orderBy(
                            F.desc("_src")
                        )
                    ),
                )
                .filter(F.col("_rk") == 1)
                .drop("_rk", "_src")
            )
        merged = _pin_for_overwrite(merged)  # read+overwrite same path
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ws")
            .parquet(state)
        )
        _mark_complete(spark, state)
        # merged IS the post-write state for the touched windows — rank
        # it directly, no state re-read.
        ranked = merged.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("ws").orderBy(
                    F.desc("n_events"), "event_type"
                )
            ),
        ).filter(F.col("rk") <= k)
        (
            ranked.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ws")
            .parquet(target_path)
        )
        merged.unpersist()  # drop the localCheckpoint blocks per batch

    return _foreach_batch(counts, _apply, checkpoint_path, "update")


def _pin_for_overwrite(df: DataFrame) -> DataFrame:
    """Materialize ``df`` so the subsequent overwrite of the path its
    lineage reads cannot corrupt it. On ``local[*]`` masters the
    executor IS the driver process, so ``localCheckpoint`` blocks can
    only die with the whole job — cheap and safe. On a real cluster
    those blocks die with their executor, making the merge
    unrecoverable for that attempt, so use reliable ``checkpoint()``
    (re-readable from the checkpoint dir); that requires
    ``setCheckpointDir`` — fail loudly if unset rather than silently
    degrading to executor-pinned blocks."""
    sc = df.sparkSession.sparkContext
    if sc.master.startswith("local"):
        return df.localCheckpoint(eager=True)
    if sc.getCheckpointDir() is None:
        raise RuntimeError(
            "streaming state merge on a non-local master needs a "
            "reliable checkpoint dir: call "
            "spark.sparkContext.setCheckpointDir(<fault-tolerant path>)"
        )
    return df.checkpoint(eager=True)


def _mark_complete(spark: SparkSession, path: str) -> None:
    """Drop the root ``_SUCCESS`` marker a dynamic partition overwrite
    does NOT write (its committer touches only the overwritten partition
    dirs — discovered when ``_is_complete`` silently returned False for
    every partitioned sink target, making each batch treat the table as
    absent and lose the untouched keys of touched partitions). Called by
    the driver AFTER the write commits; crash before the marker on the
    FIRST batch means the replay rewrites the same partitions, and on
    later batches the earlier marker (never deleted) already tells the
    truth: the table exists and replay heals partition-by-partition."""
    fs, marker = runbase.fs_path(spark, f"{path}/_SUCCESS")
    fs.create(marker, True).close()


def _is_complete(spark: SparkSession, path: str) -> bool:
    """A parquet directory is trustworthy only once the committer has
    dropped its _SUCCESS marker (overwrite deletes the dir first, so a
    partial write never carries one)."""
    fs, marker = runbase.fs_path(spark, f"{path}/_SUCCESS")
    return fs.exists(marker)


def _read_current_or_recover(
    spark: SparkSession, target_path: str, stage: str
) -> DataFrame | None:
    """Current table state for a write-then-swap sink, honouring crash
    recovery: a complete target wins; else a complete stage means the
    previous merge died mid-republish — finish THAT republish first
    (never read state lazily out of the stage about to be overwritten),
    then read the restored target; else this is genuinely the first
    batch ever (None)."""
    if _is_complete(spark, target_path):
        return spark.read.parquet(target_path)
    if _is_complete(spark, stage):
        spark.read.parquet(stage).write.mode("overwrite").parquet(target_path)
        spark.catalog.refreshByPath(target_path)
        return spark.read.parquet(target_path)
    return None


def _republish(merged: DataFrame, target_path: str, stage: str) -> None:
    """Stage → swap: write the merge to the stage dir, republish it over
    the target, and only then (target _SUCCESS is down) drop the now-
    redundant stage copy, so at every instant at least one complete copy
    exists."""
    spark = merged.sparkSession
    merged.write.mode("overwrite").parquet(stage)
    spark.read.parquet(stage).write.mode("overwrite").parquet(target_path)
    spark.catalog.refreshByPath(target_path)
    fs, stage_path = runbase.fs_path(spark, stage)
    fs.delete(stage_path, True)


def _scd2_fold(
    batch_df: DataFrame,
    current: DataFrame | None,
    key_col: str,
    ts_col: str,
    tiebreak_col: str,
    carry_cols: tuple[str, ...],
) -> DataFrame:
    """The SCD-2 fold both SCD-2 sinks share: ``current`` (the stored
    dimension, or the slice of it the batch can touch; None on the first
    batch ever) with one micro-batch of changelog records folded in.

    (1) the batch is deduplicated on the record identity ``(key,
    tiebreak)`` — redelivered records are no-ops, which is what makes a
    full replay idempotent; (2) only the AFFECTED keys' stored intervals
    are re-opened into changelog form (``effective_from`` is the
    original record timestamp, so the stored table IS a lossless
    changelog of itself), unioned with the batch, and re-sectioned by
    one ``scd2_history`` window pass — late-arriving records therefore
    splice into the middle of a key's history correctly, not just
    append; (3) untouched keys pass through byte-identical. Columns
    outside ``scd2_history``'s output (the bucketed sink's ``bucket``)
    are dropped; the caller re-derives them.
    """
    from ..plans.merge_plans import scd2_history

    batch = batch_df.select(
        key_col, tiebreak_col, ts_col, *carry_cols
    ).dropDuplicates([key_col, tiebreak_col])
    untouched = None
    if current is not None:
        affected = batch.select(key_col).distinct()
        touched_log = current.join(affected, key_col, "left_semi").select(
            key_col,
            tiebreak_col,
            F.col("effective_from").alias(ts_col),
            *carry_cols,
        )
        untouched = current.join(affected, key_col, "left_anti")
        batch = touched_log.unionByName(batch).dropDuplicates(
            [key_col, tiebreak_col]
        )
    rebuilt = scd2_history(
        batch,
        key_col=key_col,
        ts_col=ts_col,
        tiebreak_col=tiebreak_col,
        carry_cols=tuple(carry_cols),
    )
    if untouched is None:
        return rebuilt
    return untouched.select(*rebuilt.columns).unionByName(rebuilt)


def scd2_parquet_sink(
    stream_df: DataFrame,
    target_path: str,
    checkpoint_path: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    carry_cols: tuple[str, ...] = ("value",),
):
    """Streaming SCD-2 dimension maintenance via ``foreachBatch`` — the
    CDC-feed twin of the batch u4 plan: each micro-batch of changelog
    records is folded (:func:`_scd2_fold`) into a versioned dimension
    whose validity intervals always equal what
    :func:`plans.merge_plans.scd2_history` would build over the full
    changelog seen so far. The merge publishes through the same
    _SUCCESS-gated stage-then-swap as :func:`upsert_parquet_sink`, with
    the same crash-recovery contract.

    Scale shape: the per-batch fold is one shuffle of (batch ∪ affected
    history), proportional to the keys that actually changed, but the
    publish rewrites the whole dimension;
    :func:`scd2_parquet_sink_bucketed` rewrites only touched buckets.
    """

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        stage = f"{target_path}_stage"
        current = _read_current_or_recover(spark, target_path, stage)
        merged = _scd2_fold(
            batch_df, current, key_col, ts_col, tiebreak_col, carry_cols
        )
        _republish(merged, target_path, stage)

    return _foreach_batch(stream_df, _merge, checkpoint_path, "update")


def scd2_parquet_sink_bucketed(
    stream_df: DataFrame,
    target_path: str,
    checkpoint_path: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    carry_cols: tuple[str, ...] = ("value",),
    n_buckets: int = 16,
):
    """The key-bucketed form of :func:`scd2_parquet_sink` — the 100 TB
    fallback SCALE.md argues for, implemented: the versioned dimension
    is partitioned by ``bucket = pmod(xxhash64(key), n_buckets)`` and
    every micro-batch touches ONLY the buckets its keys hash into.

    Where the plain sink's publish is O(table) per batch (stage-then-
    swap rewrites the whole dimension even for a 10-key batch), here:

    - the affected-history read is partition-pruned to the touched
      buckets (the left-semi/anti split runs on that slice — quiet
      buckets are never even scanned);
    - the rewrite is a dynamic partition overwrite of the touched
      buckets only, so publish cost is O(touched buckets · bucket
      size); ``n_buckets`` sizes a bucket to rewrite in seconds;
    - crash mid-commit can leave touched buckets mixed old/new; the
      replayed batch re-merges every touched bucket to identical bytes
      (the (key, tiebreak) dedup makes the fold idempotent) — the same
      heal-on-replay contract, now at bucket granularity.

    Fold semantics are IDENTICAL to the plain sink (the same
    :func:`_scd2_fold`, with ``bucket`` recomputed from the key after
    it — pinned by the equivalence test); only the storage layout and
    the per-batch cost model change.
    """
    bucket_of = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast(
        "int"
    )

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        touched = [
            r.b
            for r in batch_df.select(bucket_of.alias("b")).distinct().collect()
        ]
        if not touched:
            return
        current = None
        if _is_complete(spark, target_path):
            spark.catalog.refreshByPath(target_path)
            current = spark.read.parquet(target_path).filter(
                F.col("bucket").isin(touched)
            )
        merged = _scd2_fold(
            batch_df, current, key_col, ts_col, tiebreak_col, carry_cols
        ).withColumn("bucket", bucket_of)
        merged = _pin_for_overwrite(merged)  # read+overwrite target
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(target_path)
        )
        _mark_complete(spark, target_path)
        merged.unpersist()

    return _foreach_batch(stream_df, _merge, checkpoint_path, "update")


def run_to_memory(stream_df: DataFrame, name: str, mode: str = "complete"):
    """Drain a streaming aggregation into an in-memory table (tests/demos);
    returns the query handle — caller awaits termination/processing."""
    return (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )


def _monitor_run_base(
    spark: SparkSession, state_path: str, stage_state: str,
    checkpoint_path: str,
) -> int:
    """Checkpoint-scoped run base for the gap monitor's replay guard.

    Spark ``epoch_id`` is CHECKPOINT-LOCAL (a fresh checkpoint restarts
    at 0), so comparing raw epoch ids against the state's stored
    ``last_epoch`` mis-scopes the guard: a monitor restarted with a NEW
    checkpoint against an EXISTING state (checkpoint loss, redeploy)
    would silently skip every batch whose epoch_id <= the old run's
    last_epoch — dropping new ids from the report. Same hazard, same
    fix as ``streaming/index._run_base`` and the JDBC sink's run_id
    ledger: key run identity off the CHECKPOINT. The claim/resume
    protocol lives in ``streaming/runbase.claim_run_base``; the
    monitor-specific pieces are:

    - sentinels live in a SIBLING ``__runs`` dir (the state dir itself
      is wiped by every stage-then-swap republish, so they cannot live
      inside it);
    - the existing base is discovered from the state table's max
      absolute epoch (watermark rows included — see
      ``_gap_state_merge``).

    A fresh run re-reading input the state already folded will
    double-count — with additive cnt that is inherent; reset
    ``state_path`` when reprocessing a source from scratch.
    """

    def _existing() -> int:
        current = _read_current_or_recover(spark, state_path, stage_state)
        if current is not None:
            seen = current.agg(F.max("last_epoch")).first()[0]
            if seen is not None:
                return int(seen) - int(seen) % runbase.RUN_STRIDE
        return -1

    return runbase.claim_run_base(
        spark,
        checkpoint_path,
        marker_prefix="gap_run_base_",
        sentinel_dir=state_path + "__runs",
        existing_base_fn=_existing,
    )


def _gap_state_merge(
    batch_df: DataFrame,
    abs_epoch: int,
    run_base: int,
    state_path: str,
    report_path: str,
    id_col: str,
    bucket_width: int,
) -> None:
    """One gap-monitor fold at ABSOLUTE epoch ``abs_epoch`` (``run_base``
    + checkpoint-local batch id — see ``_monitor_run_base``). Split out
    of the sink so the replay guard is directly testable.

    Replay guard — per-RUN watermark rows: bucket rows alone cannot
    carry a run's replay high-water mark, because the per-bucket
    ``max(last_epoch)`` is taken ACROSS runs — once a newer run folds, a
    resumed older run comparing against the global max would see every
    one of its new batches as "already folded" and silently drop them.
    So every fold also upserts one WATERMARK row per run (``wm_base`` =
    the run base, ``_b``/``lo``/``hi`` NULL, ``cnt`` 0), merged through
    the same groupBy — which makes the guard atomic with the fold itself
    (both live in the one published state table; no marker file can
    lag the publish). A batch is a replay iff ``abs_epoch <=`` ITS OWN
    run's watermark. Replay skips the ADDITIVE fold — re-merging would
    double cnt — but still FALLS THROUGH to rebuild and republish the
    report from the already-published state: a crash between the state
    publish and the report publish would otherwise leave the report
    stale forever (or missing entirely if the crash hit batch 0). The
    guard costs a single aggregation job per batch.
    """
    spark = batch_df.sparkSession
    stage_state = state_path + "__stage"
    stage_report = report_path + "__stage"
    current = _read_current_or_recover(spark, state_path, stage_state)
    seen = None
    if current is not None:
        seen = current.agg(
            F.max(F.when(F.col("wm_base") == run_base, F.col("last_epoch")))
        ).first()[0]
    if seen is not None and abs_epoch <= seen:
        state = current  # replay: fold nothing, republish report below
    else:
        summary = (
            batch_df.select(F.col(id_col).cast("long").alias("id"))
            .withColumn("_b", F.expr(f"id DIV {bucket_width}"))
            .groupBy("_b")
            .agg(
                F.min("id").alias("lo"),
                F.max("id").alias("hi"),
                F.count("*").cast("long").alias("cnt"),
            )
            .withColumn("last_epoch", F.lit(abs_epoch).cast("long"))
            .withColumn("wm_base", F.lit(None).cast("long"))
        )
        watermark = spark.range(1).select(
            F.lit(None).cast("long").alias("_b"),
            F.lit(None).cast("long").alias("lo"),
            F.lit(None).cast("long").alias("hi"),
            F.lit(0).cast("long").alias("cnt"),
            F.lit(abs_epoch).cast("long").alias("last_epoch"),
            F.lit(run_base).cast("long").alias("wm_base"),
        )
        fold = summary.unionByName(watermark)
        if current is not None:
            # NULL groups fine here: bucket rows key as (_b, NULL),
            # watermark rows as (NULL, run_base) — one group per run.
            merged = (
                current.unionByName(fold)
                .groupBy("_b", "wm_base")
                .agg(
                    F.min("lo").alias("lo"),
                    F.max("hi").alias("hi"),
                    F.sum("cnt").cast("long").alias("cnt"),
                    F.max("last_epoch").alias("last_epoch"),
                )
                .select("_b", "lo", "hi", "cnt", "last_epoch", "wm_base")
            )
        else:
            merged = fold
        # pin the merge before the swap overwrites what `current`'s
        # lineage may read (stage_state, on the recovery path) —
        # master-gated: localCheckpoint on local[*], reliable
        # checkpoint() on a real cluster (see _pin_for_overwrite)
        merged = _pin_for_overwrite(merged)
        _republish(merged, state_path, stage_state)
        _mark_complete(spark, state_path)
        state = spark.read.parquet(state_path)

    buckets = state.filter(F.col("wm_base").isNull())
    w = Window.orderBy("_b")
    seams = (
        buckets.withColumn("_prev_hi", F.lag("hi").over(w))
        .filter(F.col("lo") > F.col("_prev_hi") + 1)
        .agg(
            F.count("*").cast("long").alias("seam_gaps"),
            F.coalesce(
                F.max(F.col("lo") - F.col("_prev_hi") - 1), F.lit(0)
            )
            .cast("long")
            .alias("max_seam_gap"),
        )
    )
    # watermark rows are harmless here (NULL lo/hi, cnt 0) and make
    # as_of_epoch truthful even when the latest fold was an empty batch
    tot = state.agg(
        F.min("lo").alias("min_id"),
        F.max("hi").alias("max_id"),
        F.sum("cnt").cast("long").alias("n_rows"),
        F.sum(F.col("hi") - F.col("lo") + 1 - F.col("cnt"))
        .cast("long")
        .alias("in_bucket_missing"),
        F.max("last_epoch").alias("as_of_epoch"),
    )
    report = tot.crossJoin(seams).select(
        "min_id",
        "max_id",
        "n_rows",
        (
            F.col("max_id") - F.col("min_id") + 1 - F.col("n_rows")
        ).alias("missing"),
        "in_bucket_missing",
        "seam_gaps",
        "max_seam_gap",
        "as_of_epoch",
    )
    # report's lineage reads state_path only; the stage-then-swap on
    # report_path never overwrites what it reads, so no materialization
    # (driver round-trip or otherwise) is needed here
    _republish(report, report_path, stage_report)
    _mark_complete(spark, report_path)


def gap_monitor_sink(
    stream_df: DataFrame,
    state_path: str,
    report_path: str,
    checkpoint_path: str,
    id_col: str = "event_id",
    bucket_width: int = 1024,
):
    """Streaming id-contiguity monitor — the streaming twin of the q16
    batch audit (``operators/quality.sequence_gap_report``): every
    micro-batch folds its ids into a per-bucket (lo, hi, cnt) state
    table and republishes a one-row drop report (min/max id, rows seen,
    MISSING id count, seam-gap count/max between non-empty buckets).

    Why this state shape: with unique ids, ``missing`` is EXACTLY
    derivable from bucket summaries alone — per-bucket missing =
    (hi − lo + 1 − cnt), plus the seam gaps between consecutive
    non-empty buckets — so state is bounded by #buckets (id_space /
    width) regardless of stream volume: no raw-id retention, no
    unbounded watermark state. (Within-bucket gap-RUN counts are the
    one thing summaries cannot give; the batch q16 reports those on
    demand.) State and report both publish through the stage-then-swap
    protocol (``_republish``), so a crash at any instant leaves a
    complete copy — and a replayed epoch still republishes the report
    from state, healing a crash that landed between the two publishes.
    Because cnt is ADDITIVE, a naively re-merged replay would
    double-count, so replay safety is an explicit epoch guard scoped to
    the RUN: ``_monitor_run_base`` derives a checkpoint-stable base
    (fresh checkpoints get a strictly larger stride), each fold upserts
    a per-run WATERMARK row carrying the run's latest ABSOLUTE epoch
    (base + batch id) — atomic with the fold, because it rides in the
    same published state table — and only a batch at or below ITS OWN
    run's watermark skips the fold. A new run's batches, and a resumed
    older run's new batches after a newer run has folded, always fold
    instead of being dropped (see ``_gap_state_merge``).
    """
    run_base = _monitor_run_base(
        stream_df.sparkSession, state_path, state_path + "__stage",
        checkpoint_path,
    )

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        _gap_state_merge(
            batch_df, run_base + epoch_id, run_base, state_path,
            report_path, id_col, bucket_width,
        )

    return _foreach_batch(stream_df, _merge, checkpoint_path)
