"""Sequence-packing contracts (operators/packing.py): layout laws for the
oracle-checked concat-chunk plan and bin-capacity laws for the greedy
first-fit packer, plus partitioning-invariance (the layout must depend on
content hashes, never on physical row order)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_power_bi_dashboard_spark.operators import packing
from etl_power_bi_dashboard_spark.plans.base import load

from .conftest import SF_DIR

CTX = 512


def _docs(spark):
    return load(spark, SF_DIR, "documents")


def test_concat_chunk_layout_laws(spark):
    out = packing.pack_concat_chunk(_docs(spark), ctx_len=CTX, n_buckets=8)
    rows = out.collect()
    docs_n = _docs(spark).count()
    # every document placed exactly once
    assert len(rows) == docs_n
    assert len({r.doc_id for r in rows}) == docs_n
    for r in rows:
        assert 0 <= r.seq_offset < CTX
        assert r.seq_no >= 0
        assert 0 <= r.bucket < 8
    # per bucket: the stream is gapless — start positions are exactly the
    # cumulative sums of token counts in (hash-order) sequence
    by_bucket: dict[int, list] = {}
    for r in rows:
        by_bucket.setdefault(r.bucket, []).append(r)
    for bucket_rows in by_bucket.values():
        starts = sorted(r.seq_no * CTX + r.seq_offset for r in bucket_rows)
        total = 0
        lens_by_start = {
            r.seq_no * CTX + r.seq_offset: r.n_tokens for r in bucket_rows
        }
        for s in starts:
            assert s == total, "gap or overlap in packed stream"
            total += lens_by_start[s]


def test_concat_chunk_partitioning_invariant(spark):
    base = packing.pack_concat_chunk(_docs(spark), ctx_len=CTX, n_buckets=8)
    shuffled = packing.pack_concat_chunk(
        _docs(spark).repartition(13), ctx_len=CTX, n_buckets=8
    )
    a = {tuple(r) for r in base.collect()}
    b = {tuple(r) for r in shuffled.collect()}
    assert a == b


def test_greedy_bins_respect_capacity(spark):
    out = packing.pack_greedy(_docs(spark), ctx_len=CTX, n_buckets=8)
    rows = out.collect()
    docs_n = _docs(spark).count()
    assert len(rows) == docs_n
    assert len({r.doc_id for r in rows}) == docs_n
    fills: dict[tuple, int] = {}
    singles: dict[tuple, int] = {}
    for r in rows:
        key = (r.bucket, r.bin_no)
        fills[key] = fills.get(key, 0) + r.n_tokens
        singles[key] = singles.get(key, 0) + 1
    for key, tot in fills.items():
        # a bin may exceed ctx only when it holds a single oversized doc
        assert tot <= CTX or singles[key] == 1, (key, tot, singles[key])
    # bin numbering is contiguous from 0 within each bucket
    by_bucket: dict[int, set] = {}
    for r in rows:
        by_bucket.setdefault(r.bucket, set()).add(r.bin_no)
    for bins in by_bucket.values():
        assert bins == set(range(len(bins)))


def test_greedy_deterministic_under_repartition(spark):
    a = packing.pack_greedy(_docs(spark), ctx_len=CTX, n_buckets=8)
    b = packing.pack_greedy(_docs(spark).repartition(17), ctx_len=CTX, n_buckets=8)
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}


def test_greedy_packs_tighter_than_one_doc_per_bin(spark):
    """Greedy must actually pack: fewer bins than documents (the corpus
    median doc is far below ctx), and no bin under half-full except
    possibly the last bin of each bucket."""
    out = packing.pack_greedy(_docs(spark), ctx_len=CTX, n_buckets=8)
    agg = (
        out.groupBy("bucket", "bin_no")
        .agg(F.sum("n_tokens").alias("fill"), F.count("*").alias("n_docs"))
        .collect()
    )
    n_bins = len(agg)
    n_docs = _docs(spark).count()
    assert n_bins < n_docs
    # first-fit law: at most ONE bin per bucket may end ≤ half-full — two
    # half-empty bins contradict first-fit (the later bin's first doc,
    # itself ≤ ctx/2, would have fit in the earlier bin at placement time)
    half_empty: dict[int, int] = {}
    for r in agg:
        if r.fill <= CTX / 2:
            half_empty[r.bucket] = half_empty.get(r.bucket, 0) + 1
    assert all(v <= 1 for v in half_empty.values()), half_empty


def test_packers_drop_null_text_rows(spark):
    """A NULL-text document has no tokens: both packers must drop it
    (a NULL count reaches pandas as NaN and would kill the grouped map;
    the window packer would emit NULL bucket/seq rows)."""
    from etl_power_bi_dashboard_spark.operators.packing import (
        pack_concat_chunk,
        pack_greedy,
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, None), (3, "d e")], "doc_id long, text string"
    )
    g = pack_greedy(docs, ctx_len=4, n_buckets=2).collect()
    assert {r.doc_id for r in g} == {1, 3}
    c = pack_concat_chunk(docs, ctx_len=4, n_buckets=2).collect()
    assert {r.doc_id for r in c} == {1, 3}
    assert all(r.bucket is not None for r in c)


# --- differential fuzz for the p12 replay oracle -------------------------
# The driver compares q_p12 against SQL_P12 on the fixture corpus,
# whose longest document is ~100 tokens — the OVERSIZE branch (a doc
# longer than ctx_len gets a bin of its own, fill > ctx_len) never
# fires there, and multi-open-bin densities are narrow. This law runs
# the same differential on arbitrary corpora INCLUDING oversized docs,
# so the recursive-CTE replay is proven equivalent on every branch of
# the first-fit recurrence, not just the fixture's easy region.

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_corpora = st.lists(st.integers(1, 700), min_size=1, max_size=24)


@given(sizes=_corpora)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow
def test_p12_oracle_replays_first_fit_on_arbitrary_corpora(
    spark, tmp_path_factory, sizes
):
    import duckdb

    from etl_power_bi_dashboard_spark.plans.windows_more import (
        SQL_P12,
        q_p12_greedy_pack,
    )

    # doc i has EXACTLY sizes[i] whitespace tokens; the leading token
    # varies per doc so md5 order and bucket assignment vary freely
    rows = [
        (i, " ".join([f"w{i}"] + ["t"] * (n - 1)), "en", "fuzz", n)
        for i, n in enumerate(sizes)
    ]
    sf_dir = str(tmp_path_factory.mktemp("p12fuzz"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    got = {
        (r.bucket, r.n_bins, r.n_docs, r.mean_utilization)
        for r in q_p12_greedy_pack(spark, sf_dir).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet/*.parquet'"
    )
    want = {tuple(t) for t in con.execute(SQL_P12).fetchall()}
    assert got == want
