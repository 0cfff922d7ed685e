"""Behavioral tests for the LLM-pipeline operators beyond oracle
parity: chunk-level dedup detects partial span copies that whole-document
signatures dilute away (d8), the cohort-retention matrix obeys its
structural invariants (e6), and the quality-cascade bitmask decodes to
the individual filter verdicts (x9)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_power_bi_dashboard_spark.operators import dedup
from etl_power_bi_dashboard_spark.plans.events_plans import q_e6_retention_cohorts
from etl_power_bi_dashboard_spark.plans.text_plans import q_x9_quality_cascade

from .conftest import SF_DIR


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_chunk_table_positions_and_stride(spark):
    # 12 tokens, n=8, stride=4 -> starts at 1 and 5: exactly 2 chunks.
    text = " ".join(f"w{i}" for i in range(12))
    out = dedup.chunk_table(_docs(spark, [(1, text)]), n=8, stride=4).collect()
    assert len(out) == 2
    # A short doc (< n tokens) still yields exactly one (whole-doc) chunk.
    short = dedup.chunk_table(_docs(spark, [(2, "a b c")]), n=8, stride=4).collect()
    assert len(short) == 1


def test_chunk_dedup_catches_partial_span_copy(spark):
    """Doc 2 copies an 8-token span from doc 1 but differs everywhere
    else; doc 3 is unrelated. The shared span must collide chunk-wise
    while doc 3 stays clean — the partial-overlap case MinHash-style
    whole-document signatures are explicitly bad at."""
    span = " ".join(f"s{i}" for i in range(8))
    d1 = span + " " + " ".join(f"a{i}" for i in range(16))
    d2 = " ".join(f"b{i}" for i in range(4)) + " " + span  # span at offset 5
    d3 = " ".join(f"c{i}" for i in range(24))
    # stride=1 so the copied span aligns regardless of offset
    ch = dedup.chunk_table(_docs(spark, [(1, d1), (2, d2), (3, d3)]), n=8, stride=1)
    freq = ch.groupBy("chunk_h").agg(F.countDistinct("doc_id").alias("nd"))
    dup = (
        ch.join(freq, "chunk_h")
        .groupBy("doc_id")
        .agg(F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).alias("dup"))
    )
    got = {r["doc_id"]: r["dup"] for r in dup.collect()}
    assert got[1] >= 1 and got[2] >= 1, got
    assert got[3] == 0, got


def test_chunk_internal_repetition_counts_per_position(spark):
    """One row per POSITION, not per distinct hash: a doc that is one
    phrase repeated verbatim yields multiple identical chunk hashes."""
    text = " ".join(["x"] * 20)
    out = dedup.chunk_table(_docs(spark, [(1, text)]), n=8, stride=4)
    assert out.count() == 4  # starts 1,5,9,13
    assert out.select("chunk_h").distinct().count() == 1


def test_retention_cohort_invariants(spark):
    """Structural invariants of the weekly retention matrix: every cohort
    retains 100% at offset 0 (first event IS activity in the cohort
    week), offsets are non-negative, and total offset-0 users equals the
    number of distinct users in the corpus."""
    m = q_e6_retention_cohorts(spark, SF_DIR)
    rows = m.collect()
    assert all(r["week_offset"] >= 0 for r in rows)
    by_cohort: dict = {}
    for r in rows:
        by_cohort.setdefault(r["cohort_week"], {})[r["week_offset"]] = r["n_users"]
    for cohort, cells in by_cohort.items():
        assert 0 in cells, f"cohort {cohort} missing offset 0"
        assert cells[0] == max(cells.values()), (
            f"cohort {cohort}: offset-0 {cells[0]} < a later cell {max(cells.values())}"
        )
    from etl_power_bi_dashboard_spark.plans.base import load_events

    n_users = load_events(spark, SF_DIR).select("user_id").distinct().count()
    assert sum(c[0] for c in by_cohort.values()) == n_users


def test_quality_cascade_bitmask_decodes(spark):
    """keep=1 iff reasons==0, and each bit corresponds to its documented
    filter: re-derive bit 1 (token count outside [20, 400]) independently
    and check it against the mask."""
    out = q_x9_quality_cascade(spark, SF_DIR)
    assert out.filter((F.col("keep") == 1) != (F.col("reasons") == 0)).count() == 0
    from etl_power_bi_dashboard_spark.operators.text import token_count
    from etl_power_bi_dashboard_spark.plans.base import load

    docs = load(spark, SF_DIR, "documents").select(
        "doc_id", token_count(F.col("text")).alias("nt")
    )
    j = out.join(docs, "doc_id")
    bad = j.filter(
        (F.col("reasons").bitwiseAND(1) > 0)
        != ((F.col("nt") < 20) | (F.col("nt") > 400))
    )
    assert bad.count() == 0


# --- winnowing (x15) --------------------------------------------------------


def test_winnow_shared_substring_guarantee(spark):
    """The SIGMOD'03 theorem: documents sharing a substring of length
    ≥ k+w−1 share at least one fingerprint."""
    from etl_power_bi_dashboard_spark.operators.text import winnow

    shared = "the quick brown fox jumps"  # 25 chars >= 8+4-1
    docs = _docs(
        spark,
        [
            (1, "aaaa " + shared + " bbbb"),
            (2, "cccccccc " + shared + " dddddddd"),
        ],
    )
    fps = winnow(docs).collect()
    s1 = {r["fp"] for r in fps if r["doc_id"] == 1}
    s2 = {r["fp"] for r in fps if r["doc_id"] == 2}
    assert s1 & s2


def test_winnow_disjoint_docs_share_nothing(spark):
    from etl_power_bi_dashboard_spark.operators.text import winnow

    docs = _docs(
        spark,
        [
            (1, "abcdefghijklmnopqrstuvwxyz"),
            (2, "0123456789012345678901234567"),
        ],
    )
    fps = winnow(docs).collect()
    s1 = {r["fp"] for r in fps if r["doc_id"] == 1}
    s2 = {r["fp"] for r in fps if r["doc_id"] == 2}
    assert s1 and s2 and not (s1 & s2)


def test_winnow_compresses_and_drops_short_docs(spark):
    from etl_power_bi_dashboard_spark.operators.text import winnow

    long_text = "x" * 10 + "abcdefghij" * 20
    docs = _docs(spark, [(1, long_text), (2, "too short")])
    fps = winnow(docs).collect()
    by_doc = {r["doc_id"] for r in fps}
    assert by_doc == {1}
    # winnowing keeps ~1/w of gram hashes (dedup helps further)
    n_grams = len(long_text) - 7
    assert len(fps) < n_grams / 2


def test_x20_chunks_reconstruct_documents(spark):
    """Chunking law: size=32/stride=24 chunks overlap by 8 tokens, so
    chunk[0] + each later chunk's tokens[8:] must reconstruct the
    original token sequence exactly — no token lost or duplicated
    beyond the designed overlap."""
    from etl_power_bi_dashboard_spark.plans import REGISTRY

    from .conftest import SF_DIR

    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .limit(50)
        .collect()
    }
    chunks = (
        REGISTRY["x20_chunk_split"]
        .spark(spark, SF_DIR)
        .filter(F.col("doc_id").isin(list(docs)))
        .collect()
    )
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(docs)  # every doc chunks, even short ones
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r.start)
        toks = []
        for i, r in enumerate(rows):
            ct = r.chunk_text.split(" ")
            assert len(ct) == r.chunk_tokens <= 32
            # no redundant chunks: every non-first chunk must carry
            # tokens beyond the 8-token overlap with its predecessor
            assert i == 0 or len(ct) > 8, (doc_id, r.start)
            toks.extend(ct if i == 0 else ct[32 - 24:])
        assert " ".join(toks) == docs[doc_id], doc_id


def test_x21_backoff_arm_fires_and_scores_correctly(spark, tmp_path):
    """Crafted corpus: train docs (id % 5 != 0) contain 'a b' bigrams
    only; the held-out doc reads 'b a', whose bigram is unseen, so both
    slots... (doc is 'b a' -> one slot) must take the stupid-backoff
    path 0.4*c_y/U, with the exact nano-quantized ln value."""
    import math

    from etl_power_bi_dashboard_spark.plans import REGISTRY

    docs = spark.createDataFrame(
        [
            (0, "b a", "en", "src0", 3),   # held out: bigram (b,a) unseen
            (1, "a b", "en", "src0", 3),
            (2, "a b", "en", "src0", 3),
            (3, "a b", "en", "src0", 3),
            (4, "a b", "en", "src0", 3),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = REGISTRY["x21_bigram_score"].spark(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.doc_id, r.n_slots, r.n_hits) == (0, 1, 0)
    # train: c_a = c_b = 4, U = 8; backoff P = 0.4 * c_a / U = 0.2
    want = math.floor(math.log(0.4 * 4 / 8) * 1e9 + 0.5) / 1e9 / 1
    assert r.avg_bigram_logp == want


def test_ml7_all_oov_doc_predicts_by_prior(spark, tmp_path):
    """A held-out doc whose every token is OOV must still be classified
    (likelihood 0 + prior), predicting the majority-prior class — not
    silently vanish from the evaluation."""
    from etl_power_bi_dashboard_spark.plans import REGISTRY

    docs = spark.createDataFrame(
        [
            (0, "zz qq", "fr", "src0", 5),   # held out, fully OOV
            (1, "a b a", "en", "src0", 5),
            (2, "a b", "en", "src0", 3),
            (3, "a b", "en", "src0", 3),
            (4, "c d", "de", "src0", 3),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = REGISTRY["ml7_naive_bayes"].spark(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    # priors: en 3/4, de 1/4 -> all-OOV doc takes the en prior
    assert (r.doc_id, r.true_lang, r.pred_lang, r.correct) == (
        0, "fr", "en", False
    )


def test_q10_fingerprint_invariant_under_layout(spark, tmp_path):
    """The table fingerprint is a pure function of row CONTENT: a
    repartitioned, row-shuffled copy of the table must fingerprint
    identically, and flipping one value must change it."""
    from etl_power_bi_dashboard_spark.plans import REGISTRY

    q = REGISTRY["q10_table_fingerprint"].spark
    for t in ("lineitem", "orders"):
        df = spark.read.parquet(f"{SF_DIR}/{t}.parquet")
        df.orderBy(F.rand(7)).repartition(13).write.mode("overwrite").parquet(
            f"{tmp_path}/{t}.parquet"
        )
    base = {r.table_name: (r.n_rows, r.fingerprint)
            for r in q(spark, SF_DIR).collect()}
    moved = {r.table_name: (r.n_rows, r.fingerprint)
             for r in q(spark, str(tmp_path)).collect()}
    assert base == moved and len(base) == 2
    # flip one row's key -> fingerprint must move, count must not
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").withColumn(
        "l_orderkey",
        F.when(F.col("l_linenumber") == 1, F.col("l_orderkey") + 1)
        .otherwise(F.col("l_orderkey")),
    )
    li.write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    tampered = {r.table_name: (r.n_rows, r.fingerprint)
                for r in q(spark, str(tmp_path)).collect()}
    assert tampered["orders"] == base["orders"]
    assert tampered["lineitem"][0] == base["lineitem"][0]
    assert tampered["lineitem"][1] != base["lineitem"][1]


def test_p13_bucket_laws(spark):
    """Length buckets: ids are exactly 0..7, populations differ by at
    most one doc (equal-population NTILE law), bucket token ranges are
    non-overlapping and ordered, totals cover the corpus."""
    from etl_power_bi_dashboard_spark.plans import REGISTRY

    rows = sorted(
        REGISTRY["p13_length_buckets"].spark(spark, SF_DIR).collect(),
        key=lambda r: r.bucket,
    )
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_docs = docs.count()
    assert [r.bucket for r in rows] == list(range(8))
    pops = [r.n_docs for r in rows]
    assert sum(pops) == n_docs and max(pops) - min(pops) <= 1
    for lo, hi in zip(rows, rows[1:]):
        assert lo.max_tokens <= hi.min_tokens
    total_tokens = docs.select(
        F.sum(F.size(F.split("text", " "))).alias("s")
    ).collect()[0].s
    assert sum(r.sum_tokens for r in rows) == total_tokens


def test_d15_keep_policy_laws(spark):
    """Keep-longest materialization: exactly one kept doc per cluster,
    the kept doc is a longest member (ties -> smallest doc_id), kept_doc
    is consistent across the cluster, singletons keep themselves."""
    from etl_power_bi_dashboard_spark.plans import REGISTRY

    rows = REGISTRY["d15_keep_longest"].spark(spark, SF_DIR).collect()
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r.cluster, []).append(r)
    assert by_cluster
    for cluster, members in by_cluster.items():
        kept = [m for m in members if m.keep]
        assert len(kept) == 1
        best = min((-m.n_chars, m.doc_id) for m in members)
        assert (-kept[0].n_chars, kept[0].doc_id) == best
        assert {m.kept_doc for m in members} == {kept[0].doc_id}
