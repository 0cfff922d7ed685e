"""Checkpoint-keyed run-base claim protocol, shared by every streaming
sink that needs ABSOLUTE epoch ids (``abs_epoch = run_base + batch_id``):
``streaming/index.ivf_append_sink``, ``streaming/index.ivf_compact_index``
and ``streaming/events.gap_monitor_sink``.

Why it exists: Spark's ``epoch_id`` is CHECKPOINT-LOCAL — every fresh
checkpoint restarts at 0 — so raw epoch ids collide across logical runs
against the same long-lived output (an index, a state table). The
crash/race-sensitive part of the claim lives here once.

Protocol (all traffic through the Hadoop FileSystem API, so it holds on
whatever filesystem the URIs name — local, HDFS, or an object store with
an atomic-create primitive):

- resume (same checkpoint): the ``<marker_prefix><base>`` marker file in
  the checkpoint dir is re-read, so replayed batches keep the absolute
  epochs they were first folded/written under;
- fresh checkpoint (no marker, whether or not it has committed offsets):
  claim the next free ``RUN_STRIDE`` multiple above everything the
  output has seen by atomically creating a ``_runbase_<base>`` sentinel
  in ``sentinel_dir`` (create-exclusive: two racing fresh runs take
  different strides instead of silently sharing one), then publish the
  base as a marker in the checkpoint dir. A crash before the marker
  publish leaves only an unused sentinel and the resume claims a fresh
  stride — wasteful, never wrong.

Both the sentinel and the marker are empty files whose NAME carries the
value (underscore-separated, never ``=``: a root-level file whose name
contains ``=`` defeats Spark's hidden-file filter — partition discovery
parses ``name=value`` before the underscore check — and breaks
``read.parquet`` on the output root). ``FileSystem.createNewFile`` is
the atomic create-if-absent primitive, and a name-carried value has no
partially-written-content crash state. On S3-family stores without
atomic create, concurrent FRESH runs against one output need an external
lock; crash-resume — the case streaming recovery actually exercises —
needs no atomicity.
"""

from __future__ import annotations

from typing import Callable

# Epoch-id stride between logical runs: abs_epoch = run_base + batch_id.
# One million batches per run before strides could collide — a run that
# long has rotated its checkpoint many times over.
RUN_STRIDE = 1_000_000


def fs_path(spark, path: str):
    """``(FileSystem, Path)`` for ``path`` via the session's Hadoop
    configuration — the one entry point every streaming sink uses for
    marker, sentinel and directory traffic."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def claim_stride(spark, sentinel_dir: str, existing: int) -> int:
    """Atomically claim the lowest free ``RUN_STRIDE`` multiple above
    ``existing`` (-1 = output empty) by creating its ``_runbase_<base>``
    sentinel in ``sentinel_dir``; returns the claimed base."""
    fs, sdir = fs_path(spark, sentinel_dir)
    fs.mkdirs(sdir)
    base = existing + RUN_STRIDE if existing >= 0 else 0
    while not fs.createNewFile(
        fs_path(spark, f"{sentinel_dir}/_runbase_{base}")[1]
    ):
        base += RUN_STRIDE
    return base


def claim_run_base(
    spark,
    checkpoint_path: str,
    marker_prefix: str,
    sentinel_dir: str,
    existing_base_fn: Callable[[], int],
) -> int:
    """Return the absolute-epoch base for the logical run identified by
    ``checkpoint_path``, claiming a fresh stride if the checkpoint holds
    no marker yet.

    ``existing_base_fn`` is only called on the fresh-claim path (it may
    cost a Spark job — e.g. scanning a state table for its max epoch);
    it returns the largest stride-aligned base already present in the
    output, or -1 if the output is empty.
    """
    cfs, ckpt = fs_path(spark, checkpoint_path)
    if cfs.exists(ckpt):
        for st in cfs.listStatus(ckpt):
            name = st.getPath().getName()
            if name.startswith(marker_prefix):
                return int(name.rsplit("_", 1)[1])
    base = claim_stride(spark, sentinel_dir, existing_base_fn())
    cfs.mkdirs(ckpt)
    cfs.createNewFile(
        fs_path(spark, f"{checkpoint_path}/{marker_prefix}{base}")[1]
    )
    return base
