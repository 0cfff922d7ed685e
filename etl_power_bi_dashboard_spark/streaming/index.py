"""Streaming ANN index maintenance: continuous ingest of new embedding
vectors into the persisted, cluster_id-partitioned IVF index
(operators/similarity.ivf_write_index is the one-shot batch build; this
is its always-on twin — the pipeline a retrieval corpus actually runs,
where documents are embedded as they arrive).

Layout: each micro-batch writes its assignments under its own
``epoch=<id>`` partition, sub-partitioned by ``cluster_id``:

    index/epoch=3/cluster_id=17/part-*.parquet

- **Replay-idempotent**: a replayed batch (failure between write and
  checkpoint commit) overwrites the SAME epoch directory instead of
  duplicating vectors — the idempotent_parquet_sink recipe applied to an
  index.
- **Partition-pruned probes**: cluster_id stays a partition column, so a
  probe still scans only the probed clusters' directories across all
  epochs.
- **Re-embedding wins**: a vector re-ingested in a later epoch (model
  refresh) supersedes its old assignment — probes compact to the latest
  row per vec_id (u3's latest-per-key shape) before scoring, ordered by
  per-row RECENCY: the directory epoch for live rows, the preserved
  ``src_epoch`` for rows a fold rewrote (so folding never changes what
  any future batch supersedes).

At scale the epoch partitions are periodically folded by
:func:`ivf_compact_index` (latest-per-key fold into one fresh-stride
epoch, layout-preserving — the generic ``sinks.compact_parquet``
small-files rewrite would lose both) — the probe-time compaction
window stays bounded by the fold cadence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators import similarity
from . import runbase

EMBEDDING_DDL = "vec_id bigint, embedding array<float>, label int"


def read_embedding_stream(spark, path: str) -> DataFrame:
    return spark.readStream.schema(EMBEDDING_DDL).parquet(path)


# Tests set this to surface violations of the bit-identical-replay
# invariant on recency ties (see _latest_per_key); off in production —
# the check is an eager extra aggregation per compaction.
DEBUG_ASSERT_TIE_PAYLOADS = False


def _scan_root(spark, index_path: str) -> tuple[list[int], int]:
    """``(epoch ids, largest claimed stride base or -1)`` of the index
    root. The base is taken from both ``_runbase_`` sentinels and
    ``epoch=`` directories, so an index whose sentinels were lost still
    never re-claims a stride its data already occupies."""
    fs, root = runbase.fs_path(spark, index_path)
    epochs: list[int] = []
    existing = -1
    if fs.exists(root):
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if name.startswith("_runbase_"):
                existing = max(existing, int(name.rsplit("_", 1)[1]))
            elif name.startswith("epoch="):
                e = int(name.split("=", 1)[1])
                epochs.append(e)
                existing = max(existing, e - e % runbase.RUN_STRIDE)
    return epochs, existing


def _run_base(spark, index_path: str, checkpoint_path: str) -> int:
    """Globally-unique, checkpoint-stable epoch base for one logical run.

    Raw checkpoint-local epoch ids collide across runs: a second ingest
    run would overwrite ``epoch=0`` — destroying the prior run's data —
    and even without collision, latest-epoch ordering across runs would
    be meaningless (an old run's epoch 1 would beat a new run's epoch 0,
    resurrecting stale embeddings). The claim/resume protocol lives in
    ``streaming/runbase.claim_run_base``; sentinels live in the index
    root itself (underscore-prefixed, so parquet readers skip them).
    """
    return runbase.claim_run_base(
        spark,
        checkpoint_path,
        marker_prefix="ivf_run_base_",
        sentinel_dir=index_path,
        existing_base_fn=lambda: _scan_root(spark, index_path)[1],
    )


def ivf_append_sink(
    vec_stream: DataFrame,
    centroids: DataFrame,
    index_path: str,
    checkpoint_path: str,
):
    """Maintain the IVF index from a stream of (vec_id, embedding) rows.

    Each micro-batch runs the SAME assignment as the batch build (nearest
    centroid, rounded L2², deterministic tie-break) — stream/batch
    unification means a probe cannot tell which build produced the index.
    Epoch directories are ``run_base + batch_id`` (see :func:`_run_base`)
    so replays within a run overwrite their own directory while distinct
    runs never collide and always sort after earlier ones.

    Key contract: ``vec_id`` must be unique WITHIN a micro-batch (the
    same upstream-dedup precondition every keyed CDC sink carries).
    Across batches, later epochs supersede; within one batch there is
    no order column, so two same-id rows in one epoch would make the
    probe-time latest-per-key compaction pick arbitrarily.
    """
    base = _run_base(vec_stream.sparkSession, index_path, checkpoint_path)

    def _append(batch_df: DataFrame, epoch_id: int) -> None:
        assigned = similarity.assign_clusters(batch_df, centroids)
        assigned.write.mode("overwrite").partitionBy("cluster_id").parquet(
            f"{index_path}/epoch={base + epoch_id}"
        )

    return (
        vec_stream.writeStream.foreachBatch(_append)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def _recency(assigned: DataFrame):
    """Per-row recency for latest-per-key compaction: folded rows carry
    their ORIGINAL epoch in ``src_epoch`` (written by
    :func:`ivf_compact_index`), live rows use their directory epoch.
    Ordering by this — instead of the raw directory epoch — is what
    makes a fold semantically TRANSPARENT: rows keep exactly the
    recency they had before folding, so batches written later by a
    still-resumable pre-fold checkpoint compare exactly as they would
    have against the unfolded index."""
    if "src_epoch" in assigned.columns:
        return F.coalesce(F.col("src_epoch"), F.col("epoch"))
    return F.col("epoch")


def _latest_per_key(assigned: DataFrame) -> DataFrame:
    # Secondary key desc(epoch): ties on recency are bit-identical by
    # invariant (a crash-replayed batch vs its folded copy) or excluded
    # (vec_id unique within a batch), so ANY pick is correct — but the
    # directory epoch makes the pick STABLE across runs (the folded
    # copy, living in the highest directory epoch, always wins the tie)
    # instead of resting correctness on upstreams honoring the
    # invariants with no guard.
    w = Window.partitionBy("vec_id").orderBy(F.desc("_rec"), F.desc("epoch"))
    rec = assigned.withColumn("_rec", _recency(assigned))
    if DEBUG_ASSERT_TIE_PAYLOADS:
        # Debug-only invariant check (tests set the flag): rows tying
        # on recency must be bit-identical (a crash-replayed batch vs
        # its folded copy). If an upstream ever violates bit-identical
        # replay (non-deterministic re-embedding), the desc(epoch)
        # tie-break would silently and CONSISTENTLY prefer the stale
        # folded payload — this surfaces the violation instead. Eager
        # (one extra aggregation), hence gated off in production.
        viol = (
            rec.groupBy("vec_id", "_rec")
            .agg(
                F.countDistinct(F.hash("cv", "cluster_id")).alias("_n")
            )
            .filter(F.col("_n") > 1)
            .limit(5)
            .collect()
        )
        if viol:
            raise AssertionError(
                "bit-identical-replay invariant violated: rows tying on "
                "recency carry differing payloads for vec_ids "
                f"{sorted(r.vec_id for r in viol)} — an upstream "
                "re-embedded non-deterministically; the tie-break would "
                "silently shadow the fresher write"
            )
    return rec.withColumn("_rk", F.row_number().over(w)).filter(
        F.col("_rk") == 1
    )


def ivf_compact_index(spark, index_path: str) -> int | None:
    """Fold every ``epoch=`` partition into one: the latest row per
    vec_id, rewritten as a single new epoch whose rows RETAIN their
    original recency in a ``src_epoch`` column, old epoch directories
    removed once the fold commits. Returns the fold's epoch id (None
    when the root exists but holds no epochs — nothing to fold).

    This is the periodic maintenance the module docstring promises —
    the generic ``sinks.compact_parquet`` cannot do it, because a flat
    rewrite of the index root would lose both the latest-per-key
    semantics (stale re-embedded rows would survive as equals) and the
    ``epoch=/cluster_id=`` layout that probe-time partition pruning
    depends on. After a fold, a probe's compaction window is one epoch
    plus whatever arrived since — bounded by the fold cadence instead
    of stream lifetime.

    Recency provenance (``src_epoch``) is what makes the fold safe
    against EVERY checkpoint timeline, not just fresh ones: a pre-fold
    checkpoint resumed AFTER the fold keeps writing its original
    (lower) epoch ids, and because folded rows compare by their
    original epochs too, those new batches supersede exactly the rows
    they would have superseded in the unfolded index — no shadowing.
    A crash-replayed pre-fold batch recreates its old epoch directory;
    its rows TIE with their folded copies (same vec_id, same original
    epoch) and are bit-identical (deterministic assignment of the same
    input), so either side of the tie yields the same probe. A second
    fold carries ``src_epoch`` through unchanged.

    Epoch numbering: the fold directory claims a fresh ``RUN_STRIDE``
    multiple through the same create-exclusive sentinel protocol ingest
    runs use (``_runbase_<base>`` in the index root), so the fold can
    never collide with — or be overwritten by — any run's epoch
    directory, and the next fresh run claims above it.

    Precondition: no ingest run may be MID-BATCH against this index
    while the fold runs (the fold lists, reads, and deletes epoch
    directories; deleting a directory whose write is still committing
    would lose that batch), and no PROBE may be mid-scan either — a
    probe that listed pre-fold epoch directories hits
    FileNotFoundException when the fold deletes them under it. Do NOT
    paper over the probe race with ``ignoreMissingFiles``: the racing
    probe's listing predates the fold's new epoch directory, so
    skipping the deleted files would silently DROP those vectors from
    its answer — a loud retryable failure is strictly better. Between
    drains/probes — including between drains of one long-lived
    checkpoint — is safe. The ingest half is enforced mechanically: the
    fold refuses to run while any epoch directory contains an
    in-progress commit marker (``_temporary``). A table format
    (Delta/Iceberg) would own this swap transactionally in production;
    on plain parquet the fold is crash-safe because old epochs are
    deleted only after the fold's write commits, and a half-deleted
    state is merely duplicated storage that ties with the fold.

    Degenerate inputs resolve BEFORE any sentinel is claimed, so a
    no-op fold never burns a run-base stride: a missing index root
    raises ValueError (nothing was ever ingested there — almost
    certainly a wrong path), and an existing but epoch-less root
    returns None (a legitimate just-bootstrapped index; nothing to
    fold).
    """
    fs, root = runbase.fs_path(spark, index_path)
    if not fs.exists(root):
        raise ValueError(
            f"ivf_compact_index: no index at {index_path!r} — the root "
            "does not exist (nothing was ever ingested there)"
        )
    old_epochs, existing = _scan_root(spark, index_path)
    if not old_epochs:
        return None  # epoch-less root: nothing to fold, no stride burned

    def _mid_batch() -> list[int]:
        # an epoch directory still being committed carries the Hadoop
        # committer's _temporary marker
        return [e for e in old_epochs if fs.exists(
            runbase.fs_path(spark, f"{index_path}/epoch={e}/_temporary")[1]
        )]

    # Mechanical mid-batch guard (the ingest half of the precondition):
    # folding now would delete a batch whose checkpoint has not
    # committed, losing it forever.
    busy = _mid_batch()
    if busy:
        raise RuntimeError(
            f"ivf_compact_index: epoch={busy[0]} has an in-progress write "
            "(_temporary present) — an ingest run is mid-batch; "
            "fold between drains"
        )
    base = runbase.claim_stride(spark, index_path, existing)

    # mergeSchema: pre-fold epoch dirs have no src_epoch column; a
    # prior fold's dir does — the union must see both
    assigned = spark.read.option("mergeSchema", "true").parquet(index_path)
    latest = _latest_per_key(assigned).select(
        "vec_id", "cv", "cluster_id", F.col("_rec").alias("src_epoch")
    )
    latest.write.mode("overwrite").partitionBy("cluster_id").parquet(
        f"{index_path}/epoch={base}"
    )
    # Re-scan for _temporary immediately before deleting: the guard
    # above is check-then-act, and an ingest batch that started AFTER
    # that scan (during the fold's read+write, which can take minutes
    # at scale) would otherwise have its epoch directory deleted
    # mid-commit. Still best-effort — the docstring's fold-between-
    # drains precondition remains the hard contract — but this narrows
    # the window from the whole fold to the delete loop itself.
    busy = _mid_batch()
    if busy:
        raise RuntimeError(
            f"ivf_compact_index: epoch={busy[0]} gained an in-progress "
            "write (_temporary) during the fold — an ingest run "
            "started mid-fold; its batch is preserved (nothing "
            "deleted), but the fold epoch now shadows-by-recency "
            "only what it read. Re-run the fold between drains."
        )
    for e in old_epochs:
        fs.delete(runbase.fs_path(spark, f"{index_path}/epoch={e}")[1], True)
    return base


def ivf_topk_streamed(
    spark,
    index_path: str,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_probe: int = 2,
) -> DataFrame:
    """Top-k against a streamed index: compact to the latest row per
    vec_id by recency — directory epoch for live rows, preserved
    ``src_epoch`` for folded rows (re-embedded vectors supersede) —
    then the standard pruned probe. The compaction MUST be global (it
    runs before cluster pruning): a re-embedding can move a vector to
    a different cluster, and probing only the new cluster with
    per-cluster dedup would leave the stale row discoverable through
    its old cluster. The cost is one pass over the epoch partitions,
    which is exactly what the periodic :func:`ivf_compact_index` fold
    amortizes — after a fold, the un-compacted window is just the
    epochs since."""
    assigned = spark.read.option("mergeSchema", "true").parquet(index_path)
    latest = _latest_per_key(assigned).drop(
        "_rk", "_rec", "epoch", *(
            ["src_epoch"] if "src_epoch" in assigned.columns else []
        )
    )
    return similarity.ivf_probe_topk(latest, centroids, queries, k, n_probe)
