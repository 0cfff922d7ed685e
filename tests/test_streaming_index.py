"""Streaming IVF index maintenance: the streamed index must be
indistinguishable from the one-shot batch build at probe time, replay
and re-ingest must be safe (checkpoint-scoped epoch bases — raw epoch
ids are checkpoint-local and would otherwise collide across runs), and
a re-embedded vector must supersede its old assignment WITHOUT the old
run's data being destroyed."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_power_bi_dashboard_spark.operators import similarity
from etl_power_bi_dashboard_spark.streaming import index as si

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def emb_parts(spark, tmp_path_factory):
    """Corpus as a stream directory + centroids + queries."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") >= 20)
    centroids = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    queries = emb.filter(F.col("vec_id") < 5)
    d = tmp_path_factory.mktemp("emb_stream") / "corpus"
    corpus.repartition(2).write.parquet(str(d))
    return str(d), corpus, centroids, queries


def _drain(q):
    q.awaitTermination(120)
    q.stop()


def test_streamed_index_probe_matches_batch_build(spark, emb_parts, tmp_path):
    stream_dir, corpus, centroids, queries = emb_parts
    idx = str(tmp_path / "ivf_idx")
    ck = str(tmp_path / "ck1")
    _drain(
        si.ivf_append_sink(
            si.read_embedding_stream(spark, stream_dir), centroids, idx, ck
        )
    )
    got = {
        (r.query_id, r.vec_id, r.cosine, r.rank)
        for r in si.ivf_topk_streamed(spark, idx, centroids, queries).collect()
    }
    batch_assigned = similarity.assign_clusters(corpus, centroids)
    want = {
        (r.query_id, r.vec_id, r.cosine, r.rank)
        for r in similarity.ivf_probe_topk(
            batch_assigned, centroids, queries
        ).collect()
    }
    assert got == want and len(got) > 0

    # replay with the SAME checkpoint: batches are already committed, so
    # nothing re-fires and the index does not change
    n_before = spark.read.parquet(idx).count()
    _drain(
        si.ivf_append_sink(
            si.read_embedding_stream(spark, stream_dir), centroids, idx, ck
        )
    )
    spark.catalog.refreshByPath(idx)
    assert spark.read.parquet(idx).count() == n_before

    # re-ingest with a FRESH checkpoint: a new run base means the prior
    # run's epoch directories survive (raw rows double) while probe
    # results stay identical — the new identical assignments supersede
    _drain(
        si.ivf_append_sink(
            si.read_embedding_stream(spark, stream_dir),
            centroids,
            idx,
            str(tmp_path / "ck2"),
        )
    )
    spark.catalog.refreshByPath(idx)
    assert spark.read.parquet(idx).count() == 2 * n_before
    again = {
        (r.query_id, r.vec_id, r.cosine, r.rank)
        for r in si.ivf_topk_streamed(spark, idx, centroids, queries).collect()
    }
    assert again == want


def test_reembedded_vector_supersedes_without_data_loss(
    spark, emb_parts, tmp_path
):
    """A vector re-ingested in a LATER RUN replaces its old assignment in
    probes, the rest of the corpus survives, and the stale assignment
    loses the latest-epoch compaction even though the new run's raw
    epoch_id (0) is smaller than the old run's."""
    stream_dir, corpus, centroids, queries = emb_parts
    idx = str(tmp_path / "ivf_idx2")
    _drain(
        si.ivf_append_sink(
            si.read_embedding_stream(spark, stream_dir),
            centroids,
            idx,
            str(tmp_path / "ckA"),
        )
    )
    n_corpus = corpus.count()
    assert spark.read.parquet(idx).count() == n_corpus

    # re-embed one corpus vector as a copy of a query vector
    target = corpus.limit(1).collect()[0].vec_id
    qvec = queries.limit(1).collect()[0]
    d2 = str(tmp_path / "re_stream")
    spark.createDataFrame(
        [(int(target), qvec.embedding, int(qvec.label))],
        si.EMBEDDING_DDL,
    ).write.parquet(d2)
    _drain(
        si.ivf_append_sink(
            si.read_embedding_stream(spark, d2),
            centroids,
            idx,
            str(tmp_path / "ckB"),
        )
    )
    spark.catalog.refreshByPath(idx)
    assigned = spark.read.parquet(idx)
    # no data loss: every original assignment plus the one new row
    assert assigned.count() == n_corpus + 1
    # the target's two epochs sort new-run-last
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(F.desc("epoch"))
    rows = assigned.filter(F.col("vec_id") == target).collect()
    assert len(rows) == 2
    latest = (
        assigned.withColumn("rk", F.row_number().over(w))
        .filter((F.col("rk") == 1) & (F.col("vec_id") == target))
        .collect()
    )
    assert len(latest) == 1
    # being identical to the query, the re-embedded vector must be
    # retrieved for it under the compacted probe
    got = si.ivf_topk_streamed(spark, idx, centroids, queries)
    hit = got.filter(
        (F.col("query_id") == qvec.vec_id) & (F.col("vec_id") == target)
    ).collect()
    assert hit, "re-embedded duplicate of the query must be retrieved"


@pytest.mark.slow
def test_ivf_compact_index_preserves_probes_and_bounds_epochs(
    spark, emb_parts, tmp_path
):
    """ivf_compact_index law: folding collapses all epoch partitions to
    ONE while probe results stay identical; a stale lower-epoch
    directory reappearing afterwards (the crash-replay shadow case) is
    harmless; and a post-fold ingest run claims a HIGHER stride, so new
    re-embeddings still supersede the folded rows."""
    stream_dir, corpus, centroids, queries = emb_parts
    idx = str(tmp_path / "ivf_idx3")
    # two runs so the index holds epochs from two strides pre-fold
    _drain(
        si.ivf_append_sink(
            si.read_embedding_stream(spark, stream_dir),
            centroids,
            idx,
            str(tmp_path / "ck1"),
        )
    )
    target = corpus.limit(1).collect()[0].vec_id
    qvec = queries.limit(1).collect()[0]
    d2 = str(tmp_path / "re_stream3")
    spark.createDataFrame(
        [(int(target), qvec.embedding, int(qvec.label))], si.EMBEDDING_DDL
    ).write.parquet(d2)
    _drain(
        si.ivf_append_sink(
            si.read_embedding_stream(spark, d2),
            centroids,
            idx,
            str(tmp_path / "ck2"),
        )
    )
    spark.catalog.refreshByPath(idx)

    def probe():
        return {
            (r.query_id, r.vec_id, r.cosine, r.rank)
            for r in si.ivf_topk_streamed(
                spark, idx, centroids, queries
            ).collect()
        }

    def epoch_dirs():
        import os

        return sorted(
            int(n.split("=", 1)[1])
            for n in os.listdir(idx)
            if n.startswith("epoch=")
        )

    before = probe()
    pre_epochs = epoch_dirs()
    assert len(pre_epochs) >= 2
    n_latest = corpus.count()  # latest-per-key cardinality

    fold = si.ivf_compact_index(spark, idx)
    spark.catalog.refreshByPath(idx)
    assert epoch_dirs() == [fold]
    assert fold > max(pre_epochs)
    assert spark.read.parquet(idx).count() == n_latest
    assert probe() == before

    # crash-replay shadow: a stale pre-fold epoch dir reappearing is
    # storage, not semantics — the fold's higher epoch wins compaction
    stale = spark.read.parquet(idx).limit(3).drop("epoch")
    stale.write.mode("overwrite").partitionBy("cluster_id").parquet(
        f"{idx}/epoch={pre_epochs[0]}"
    )
    spark.catalog.refreshByPath(idx)
    assert probe() == before

    # a post-fold ingest run claims a stride ABOVE the fold: re-embed
    # the target back to its ORIGINAL vector — probes must track it
    orig = corpus.filter(F.col("vec_id") == target).collect()[0]
    d3 = str(tmp_path / "re_stream3b")
    spark.createDataFrame(
        [(int(target), orig.embedding, int(orig.label))], si.EMBEDDING_DDL
    ).write.parquet(d3)
    _drain(
        si.ivf_append_sink(
            si.read_embedding_stream(spark, d3),
            centroids,
            idx,
            str(tmp_path / "ck3"),
        )
    )
    spark.catalog.refreshByPath(idx)
    assert max(epoch_dirs()) > fold
    hit = si.ivf_topk_streamed(spark, idx, centroids, queries).filter(
        (F.col("query_id") == qvec.vec_id) & (F.col("vec_id") == target)
    )
    assert hit.count() == 0, "post-fold re-embedding must supersede the fold"


def test_fold_is_transparent_to_a_resumed_pre_fold_checkpoint(
    spark, emb_parts, tmp_path
):
    """A fold must not lose rows of a resumed checkpoint: ingest through checkpoint CK, terminate, fold, then resume
    the SAME CK with new data. The resumed run keeps its original
    (lower) run base, so under directory-epoch ordering the fold's
    fresh-stride rows would shadow everything it writes from then on.
    With src_epoch recency provenance the fold is transparent: the
    post-fold batch's re-embedding must supersede the folded row, and
    brand-new vectors must be probeable."""
    stream_dir, corpus, centroids, queries = emb_parts
    idx = str(tmp_path / "ivf_idx4")
    ck = str(tmp_path / "ck_shared")
    src = str(tmp_path / "src4")
    # tranche 1 through CK
    spark.read.parquet(stream_dir).write.mode("append").parquet(src)
    _drain(
        si.ivf_append_sink(
            si.read_embedding_stream(spark, src), centroids, idx, ck
        )
    )
    fold = si.ivf_compact_index(spark, idx)
    spark.catalog.refreshByPath(idx)

    # tranche 2 through the SAME checkpoint: re-embed one corpus vector
    # as a query duplicate, plus one brand-new vector far from both
    target = corpus.limit(1).collect()[0].vec_id
    qvec = queries.limit(1).collect()[0]
    new_id = 10_000_000
    spark.createDataFrame(
        [
            (int(target), qvec.embedding, int(qvec.label)),
            (new_id, qvec.embedding, int(qvec.label)),
        ],
        si.EMBEDDING_DDL,
    ).write.mode("append").parquet(src)
    _drain(
        si.ivf_append_sink(
            si.read_embedding_stream(spark, src), centroids, idx, ck
        )
    )
    spark.catalog.refreshByPath(idx)

    import os

    post_epochs = [
        int(n.split("=", 1)[1])
        for n in os.listdir(idx)
        if n.startswith("epoch=")
    ]
    # the resumed run wrote BELOW the fold directory — the exact layout
    # that shadowed new data under directory-epoch ordering
    assert min(post_epochs) < fold

    got = si.ivf_topk_streamed(spark, idx, centroids, queries)
    hits = {
        r.vec_id
        for r in got.filter(F.col("query_id") == qvec.vec_id).collect()
    }
    assert target in hits, "post-fold re-embedding was shadowed by the fold"
    assert new_id in hits, "post-fold new vector was shadowed by the fold"


def test_fold_degenerate_roots_never_burn_a_stride(spark, tmp_path):
    """A fold pointed at a MISSING root must
    raise (wrong path, loudly) and a fold on an existing but epoch-less
    root must return None — in BOTH cases before any _runbase_ sentinel
    is claimed, so a scheduled no-op fold never permanently advances
    the stride counter."""
    import os

    missing = str(tmp_path / "never_ingested")
    with pytest.raises(ValueError, match="no index at"):
        si.ivf_compact_index(spark, missing)
    assert not os.path.exists(missing)  # nothing created either

    empty = tmp_path / "bootstrapped_empty"
    empty.mkdir()
    assert si.ivf_compact_index(spark, str(empty)) is None
    assert os.listdir(str(empty)) == []  # no sentinel claimed


def test_fold_refuses_to_run_over_a_mid_batch_ingest(
    spark, emb_parts, tmp_path
):
    """Mechanical enforcement of the fold's ingest precondition: an
    epoch directory still carrying the committer's _temporary marker
    means a batch write is in flight — folding would delete data whose
    checkpoint has not committed. The fold must refuse, claim no
    sentinel, and delete nothing."""
    import os

    stream_dir, corpus, centroids, queries = emb_parts
    idx = str(tmp_path / "ivf_idx_midbatch")
    _drain(
        si.ivf_append_sink(
            si.read_embedding_stream(spark, stream_dir),
            centroids,
            idx,
            str(tmp_path / "ck"),
        )
    )
    epochs = [n for n in os.listdir(idx) if n.startswith("epoch=")]
    assert epochs
    marker = os.path.join(idx, epochs[0], "_temporary")
    os.makedirs(marker)
    sentinels_before = sorted(
        n for n in os.listdir(idx) if n.startswith("_runbase_")
    )
    try:
        with pytest.raises(RuntimeError, match="mid-batch"):
            si.ivf_compact_index(spark, idx)
        assert sorted(
            n for n in os.listdir(idx) if n.startswith("epoch=")
        ) == sorted(epochs)
        assert sorted(
            n for n in os.listdir(idx) if n.startswith("_runbase_")
        ) == sentinels_before
    finally:
        os.rmdir(marker)
    # marker gone -> the SAME fold call now proceeds
    assert si.ivf_compact_index(spark, idx) is not None


def test_latest_per_key_tie_break_is_stable(spark):
    """Ties on recency are bit-identical by invariant, so any pick is
    correct — but the pick must be STABLE (desc directory epoch) so a
    violated upstream invariant degrades to a deterministic answer, not
    a run-to-run coin flip. Rows here deliberately differ in payload to
    OBSERVE the pick."""
    rows = [
        # live row from the replayed pre-fold batch: dir epoch 5
        (1, [0.1, 0.2], 7, 5, None),
        # its folded copy: dir epoch 1000, src_epoch preserves 5
        (1, [0.9, 0.9], 8, 1000, 5),
    ]
    df = spark.createDataFrame(
        rows,
        "vec_id bigint, cv array<double>, cluster_id int, "
        "epoch bigint, src_epoch bigint",
    )
    picked = si._latest_per_key(df).collect()
    assert len(picked) == 1
    assert picked[0].epoch == 1000  # the folded copy wins the tie


def test_debug_tie_payload_assertion(spark):
    """DEBUG_ASSERT_TIE_PAYLOADS: with the flag on,
    a recency tie whose payloads DIFFER (an upstream violating
    bit-identical replay) raises instead of silently shadowing the
    fresher write; identical-payload ties (the invariant holding) pass
    through unchanged."""
    schema = (
        "vec_id bigint, cv array<double>, cluster_id int, "
        "epoch bigint, src_epoch bigint"
    )
    violating = spark.createDataFrame(
        [(1, [0.1, 0.2], 7, 5, None), (1, [0.9, 0.9], 8, 1000, 5)], schema
    )
    honest = spark.createDataFrame(
        [(1, [0.1, 0.2], 7, 5, None), (1, [0.1, 0.2], 7, 1000, 5)], schema
    )
    si.DEBUG_ASSERT_TIE_PAYLOADS = True
    try:
        import pytest as _pytest

        with _pytest.raises(AssertionError, match="bit-identical-replay"):
            si._latest_per_key(violating)
        picked = si._latest_per_key(honest).collect()
        assert len(picked) == 1 and picked[0].epoch == 1000
    finally:
        si.DEBUG_ASSERT_TIE_PAYLOADS = False
