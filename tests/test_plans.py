"""Physical-plan assertions (the 100 TB posture, checkable at any scale):
filters and projections reach the parquet scan, dimension joins broadcast,
top-k plans as TakeOrderedAndProject, and no core plan ever drops into a
Python evaluator (the multimodal pandas hop is the one deliberate
exception)."""

from __future__ import annotations

import os
from collections import Counter
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from etl_power_bi_dashboard_spark.plans import REGISTRY
from etl_power_bi_dashboard_spark.plans.base import load

from .conftest import REPO, SF_DIR


def plan_of(spark, name: str) -> str:
    import contextlib
    import io

    df = REGISTRY[name].spark(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown(spark):
    plan = plan_of(spark, "p2_filter_eq")
    assert "PushedFilters" in plan
    assert "EqualTo(l_returnflag,R)" in plan


def test_projection_pruning(spark):
    plan = plan_of(spark, "p1_projection")
    # ReadSchema carries only the three projected columns
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "o_orderkey" in read and "o_orderdate" in read
    assert "o_totalprice" not in read and "o_orderpriority" not in read


def test_dim_join_broadcasts(spark):
    for name in ["a3_sales_by_category", "a4_sales_by_state", "t1_topk"]:
        assert "BroadcastHashJoin" in plan_of(spark, name), name


def test_topk_plans_as_take_ordered(spark):
    assert "TakeOrderedAndProject" in plan_of(spark, "t1_topk")


def test_partial_aggregation_present(spark):
    # partial (map-side) + final hash aggregate around the exchange
    plan = plan_of(spark, "a1_sales_by_date")
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


@pytest.mark.skipif(
    not __import__(
        "etl_power_bi_dashboard_spark.session", fromlist=["aqe_enabled"]
    ).aqe_enabled()
    or "SPARK_TEST_SHUFFLE" in __import__("os").environ,
    reason="asserts the TUNED session's plan layout; the hostile-config "
    "invariance sweep (SPARK_TEST_SHUFFLE/SPARK_GRAFT_AQE) checks "
    "RESULTS, not session features",
)
def test_whole_stage_codegen(spark):
    import contextlib
    import io

    # AQE finalizes the physical plan only on execution; the codegen spans
    # are visible in the post-execution explain.
    df = REGISTRY["a2_sales_by_month"].spark(spark, SF_DIR)
    df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # '*'-prefixed operators are inside WholeStageCodegen spans
    assert "isFinalPlan=true" in plan
    assert "* HashAggregate" in plan and "* BroadcastHashJoin" in plan


_PANDAS_PLANS = {
    "m1_multimodal_features",
    "m2_frame_sampling",
    "m3_label_centroids",
    "m4_resize",
    "m5_audio_frames",
    "m6_frame_dedup",
    "m7_scene_cuts",
    "m8_vad_segments",
    "p12_greedy_pack",
}


@pytest.mark.parametrize("name", sorted(n for n in REGISTRY if n not in _PANDAS_PLANS))
def test_no_python_in_core_plans(spark, name):
    plan = plan_of(spark, name)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert marker not in plan, f"{name} drops into Python: {marker}"


def test_multimodal_uses_arrow_batches(spark):
    assert "MapInPandas" in plan_of(spark, "m1_multimodal_features")


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_cartesian_products(spark, name):
    """No registry plan may degenerate into a cartesian product — the
    1-row scalar broadcasts (a9 NPS, h22 global avg) must plan as
    BroadcastNestedLoopJoin over a 1-row side, never CartesianProduct."""
    assert "CartesianProduct" not in plan_of(spark, name), name


def test_d12_blocking_is_hash_join(spark):
    """The edit-distance ER query must plan its blocking join as a
    hash-keyed equi-join on the block token (never a nested-loop over
    all pairs), with levenshtein evaluated as a residual join condition
    — i.e. only within hash-matched blocks."""
    p = plan_of(spark, "d12_fuzzy_title_match")
    assert ("BroadcastHashJoin" in p) or ("SortMergeJoin" in p)
    join_cond = [
        line for line in p.splitlines()
        if "Join condition" in line and "levenshtein" in line
    ]
    assert join_cond, "levenshtein must be a join-condition residual"


def test_x14_scalar_totals_broadcast(spark):
    """x14's corpus totals (U, N) are 1-row aggregates and must attach
    via broadcast nested-loop crosses, while the unigram count joins
    stay hash-keyed equi-joins."""
    p = plan_of(spark, "x14_pmi_collocations")
    # the two 1-row totals (tree section lists each node as
    # "BroadcastNestedLoopJoin Cross"; the detail section repeats the
    # bare name, so count the tree form)
    assert p.count("BroadcastNestedLoopJoin Cross") == 2
    assert ("BroadcastHashJoin" in p) or ("SortMergeJoin" in p)


def test_x17_broadcasts_constants_and_df(spark):
    """BM25's corpus constants (N, avgdl numerator) ride as a 1-row
    broadcast cross and the ≤3-row query-term df table as a broadcast
    hash join — the only wide shuffle carries per-(doc,term) counts."""
    p = plan_of(spark, "x17_bm25")
    assert "BroadcastNestedLoopJoin Cross" in p
    assert "BroadcastHashJoin" in p


def test_ml5_dims_broadcast(spark):
    """The OLS trend joins must broadcast the tiny nation/region dims;
    orders⨝customer stays a keyed join (both fact-scale at 100 TB)."""
    p = plan_of(spark, "ml5_linreg_trend")
    assert p.count("BroadcastHashJoin") >= 2


def test_x18_pair_join_is_keyed(spark):
    """The co-occurrence self-join must rendezvous on doc_id as a hash/
    sort-merge equi-join with t1<t2 as a residual condition — never a
    nested loop over all (term, term) pairs."""
    p = plan_of(spark, "x18_cooccurrence")
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        "BroadcastHashJoin" in p
    )
    assert "CartesianProduct" not in p


def test_x20_chunking_is_shuffle_free(spark):
    """Sliding-window chunking is per-row array math + one explode — a
    pure map over the scan. Any Exchange here would be a scale bug."""
    p = plan_of(spark, "x20_chunk_split")
    assert "Exchange" not in p
    assert "Generate" in p  # the explode fan-out


def test_ml7_scoring_joins_broadcast(spark):
    """NB scoring joins the |vocab|x|classes| likelihood grid and the
    per-class priors — both tiny — so they must broadcast; the only
    keyed shuffles are the explode->groupBy counting passes."""
    p = plan_of(spark, "ml7_naive_bayes")
    assert p.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in p


def test_sc5_big_window_is_partitioned(spark):
    """The distributed row-number rewrite may only run its per-row
    window partitioned by bucket (hashpartitioning); the single-
    partition window is confined to the #buckets-row offsets side,
    and the offsets join back must broadcast."""
    p = plan_of(spark, "sc5_distributed_row_number")
    assert "hashpartitioning(_drn_b" in p
    assert "BroadcastHashJoin" in p


def test_sc5_seq_is_dense_permutation(spark):
    """seq must be exactly 1..N with no gaps or duplicates."""
    df = REGISTRY["sc5_distributed_row_number"].spark(spark, SF_DIR)
    agg = df.agg(
        F.count("*").alias("n"),
        F.countDistinct("seq").alias("d"),
        F.min("seq").alias("mn"),
        F.max("seq").alias("mx"),
    ).collect()[0]
    assert agg.d == agg.n and agg.mn == 1 and agg.mx == agg.n


def test_x21_count_tables_broadcast(spark):
    """x21's bigram/unigram count tables are vocabulary-sized and must
    broadcast into the per-slot scoring joins; the only wide shuffles
    are the explode->groupBy counting passes."""
    p = plan_of(spark, "x21_bigram_score")
    assert p.count("BroadcastHashJoin") >= 3  # bgc (left), cx, cy
    assert "CartesianProduct" not in p


def test_d8_single_chunk_pass(spark):
    """Chunk duplication frequency (nd) comes from a
    count(*) window over chunk_h on the (chunk_h, doc_id) pair table —
    the md5 chunk expansion is built ONCE and never joined back to
    itself (the old freq-join shape executed it once per join side)."""
    import re

    plan = plan_of(spark, "d8_chunk_dedup")
    # formatted explain lists every operator twice (tree + details);
    # the "(n) Scan parquet" detail headers count physical scan nodes
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Join" not in plan
    assert "Window" in plan


def test_r10_carryover_and_boundaryless_days(spark, tmp_path):
    """Hand-computed sweep-line scenario covering the two review-caught
    defects: a day wholly inside long sessions (no boundary rows — must
    still report its carryover concurrency) and a day whose true peak IS
    the midnight carryover (its only boundaries are session ends)."""
    import datetime as dt

    rows = []

    def add(user, ts):
        rows.append((len(rows), ts, user, "click", 1.0, "{}"))

    t = dt.datetime(2024, 1, 1, 23, 0)
    while t <= dt.datetime(2024, 1, 3, 1, 0):   # u1: one 3-day session
        add(1, t)
        t += dt.timedelta(minutes=30)
    t = dt.datetime(2024, 1, 1, 22, 0)
    while t <= dt.datetime(2024, 1, 3, 0, 0):   # u4: overlapping session
        add(4, t)
        t += dt.timedelta(minutes=30)
    add(2, dt.datetime(2024, 1, 1, 10, 0))      # u2: lone morning session
    add(3, dt.datetime(2024, 1, 3, 2, 30))      # u3: after the ends
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")

    got = {
        r.day.date().isoformat(): r.peak_concurrent
        for r in REGISTRY["r10_peak_concurrency"]
        .spark(spark, str(tmp_path))
        .collect()
    }
    # Jan 1: u2 alone (1), then u4+u1 open -> 2.
    # Jan 2: NO boundaries at all; carryover 2 all day.
    # Jan 3: carryover 2 until u4 ends 01:00 (u1 end 02:00, u3 02:30-03:30
    #        never overlaps 2) -> peak is the midnight carryover.
    assert got == {"2024-01-01": 2, "2024-01-02": 2, "2024-01-03": 2}


# Queries whose plans legitimately feed a Window through an
# Exchange SinglePartition — every one is either (a) the sc5 helper's
# running-sum OFFSETS window over #buckets rows (sc5/sc6/a16/p13 —
# bounded by bucket count, never data rows), or (b) a window over an
# already-aggregated bounded set (days, digits, sources, contingency
# cells, vocabulary terms), or (c) a documented single-reducer
# concession with the caveat recorded in SCALE.md §4 (f2's exact
# interpolating median, the w2/w3/w5 reference-semantics windows).
# Any NEW query that trips this audit must either rewrite through
# operators/scale.py:distributed_row_number or join this list with a
# bounded-cardinality justification.
_SP_WINDOW_ALLOWED = {
    "a16_gini_concentration",
    # a27: only the #buckets-row offset window of distributed_running_sum
    # is serial (the sc5/a16 pattern generalized to DECIMAL sums)
    "a27_pareto_abc",
    # a32: same distributed_running_sum offsets window as a27 (ABC side);
    # the XYZ side is join+groupBy only
    "a32_abc_xyz",
    # ml10: cumulative window over DISTINCT n_chars values only —
    # bounded by the generator's length domain (~10² values at any
    # corpus size), the a13 value-domain-bounded class
    "ml10_decision_stump",
    # x30: only the #buckets-row offset window of the dual running sum
    # is serial (the sc5 pattern with two accumulators)
    "x30_heaps_fit",
    # q14: same dual-running-sum shape as x30 (offset window over
    # #buckets rows only)
    "q14_ks_test",
    "a23_rfm_segments",
    "a24_ewma",
    "a25_yoy_growth",
    # a28: lag over the calendar-bounded post-agg month series (a25 class)
    "a28_price_volume_mix",
    # e18: churn lag over the calendar-bounded weekly series (a25 class;
    # the per-user state windows are fully partitioned)
    "e18_growth_accounting",
    "a17_cumulative_distinct",
    "a21_seasonality",
    "f2_median_impute",
    "p13_length_buckets",
    "q11_benford",
    "q7_chi2_independence",
    "q8_volume_anomaly",
    # ml13: only the 10-row post-agg decile cumulative window (and the
    # #buckets-row offset window of the shared rank helper) is serial
    "ml13_gain_lift",
    # q16: only the #buckets-row seam window of sequence_gap_report is
    # serial (per-bucket lead() windows are keyed)
    "q16_sequence_gaps",
    "sc5_distributed_row_number",
    "sc6_range_partition_plan",
    "w2_running_total",
    "w3_lag_delta",
    "w5_distribution",
    "x10_source_mix",
    "x11_mixing_weights",
    "x23_zipf_fit",
}


@pytest.mark.slow
def test_no_unlisted_single_partition_windows(spark):
    """Registry-wide scale audit: no plan outside the justified
    allowlist may feed a Window through Exchange SinglePartition — the
    classic 100 TB killer (one task sorts the world). One loop, not a
    parametrized fixture, so the audit costs one explain per query."""
    import re

    bad = []
    for name in sorted(REGISTRY):
        df = REGISTRY[name].spark(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        for i, line in enumerate(lines):
            if re.search(r"\bWindow\b", line):
                if any(
                    "Exchange SinglePartition" in lines[j]
                    for j in range(i + 1, min(i + 6, len(lines)))
                ):
                    if name not in _SP_WINDOW_ALLOWED:
                        bad.append(name)
                    break
    assert not bad, f"unjustified single-partition windows: {sorted(set(bad))}"


# --- plans.base.load: one schema inference per table file --------------------


def _jobs_in_group(spark, group: str, fn):
    """``fn()`` run under its own job group: (its result, the number of
    Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, None)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_cached_schema_reads_like_inference(spark):
    """Every driver table reads the same through the cached schema as
    through a fresh inference: same schema JSON, same row multiset."""
    names = sorted(f[: -len(".parquet")] for f in os.listdir(SF_DIR)
                   if f.endswith(".parquet"))
    assert names
    for name in names:
        load(spark, SF_DIR, name)
        cached = load(spark, SF_DIR, name)
        fresh = spark.read.parquet(f"{SF_DIR}/{name}.parquet")
        assert cached.schema.json() == fresh.schema.json(), name
        # one action per table: both reads, tagged, in one union
        rows = cached.withColumn("_fresh", F.lit(0)).union(
            fresh.withColumn("_fresh", F.lit(1))).collect()
        sides = [Counter(repr(r[:-1]) for r in rows if r[-1] == f) for f in (0, 1)]
        assert sides[0] == sides[1], name


def test_second_load_runs_no_job(spark, tmp_path):
    spark.range(5).write.parquet(f"{tmp_path}/t.parquet")
    _, first = _jobs_in_group(spark, "load-infers", lambda: load(spark, str(tmp_path), "t"))
    df, second = _jobs_in_group(spark, "load-reuses", lambda: load(spark, str(tmp_path), "t"))
    assert first >= 1
    assert second == 0
    assert df.count() == 5


def test_load_sees_a_rewritten_file(spark, tmp_path):
    """The cache key holds every file's name, size and mtime, so a file
    rewritten in place with another schema is inferred again."""
    d = str(tmp_path)
    spark.range(3).write.parquet(f"{d}/t.parquet")
    assert load(spark, d, "t").dtypes == [("id", "bigint")]
    spark.range(3).selectExpr("CAST(id AS STRING) AS s").write.mode(
        "overwrite").parquet(f"{d}/t.parquet")
    df = load(spark, d, "t")
    assert df.dtypes == [("s", "string")]
    assert sorted(r.s for r in df.collect()) == ["0", "1", "2"]


def test_load_reinfers_when_nanos_conf_flips(spark, tmp_path):
    """The cache key holds the session's Parquet confs: a TIMESTAMP(NANOS)
    column reads as bigint under ``nanosAsLong`` and is refused without
    it, whatever an earlier load of the same file inferred."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(f"{tmp_path}/t.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([1_500, 2_000_000_000], pa.timestamp("ns"))}),
        f"{tmp_path}/t.parquet/part-0.parquet", version="2.6",
    )
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        assert load(spark, str(tmp_path), "t").dtypes == [("ts", "bigint")]
        spark.conf.set(key, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            load(spark, str(tmp_path), "t")
    finally:
        spark.conf.set(key, before)


def test_registry_plans_read_parquet_only_through_load():
    """Every plan reads its tables through ``base.load`` (or
    ``load_events``), so every plan gets the schema reuse."""
    plans = Path(REPO, "etl_power_bi_dashboard_spark", "plans")
    readers = sorted(
        str(f.relative_to(plans)) for f in plans.rglob("*.py")
        if "spark.read.parquet(" in f.read_text()
    )
    assert readers == ["base.py"]
