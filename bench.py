"""Benchmark harness and its stdout contract.

Runs every row of ``ROWS`` against $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]. Each rep forces the plan through the no-op
sink (full computation, no collect); a row's time is the best of
its reps. Prints two JSON lines: the per-query detail, then a compact
last line ``{"metric", "value", "unit", "n_queries", "sf"}`` that a
consumer parses from a short tail capture. Every rep time lands in
BENCH_DETAIL.json under "reps".

Performance verdicts come from ``perfbench/``; this harness keeps the
144-row wall-time record comparable from one change to the next.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_power_bi_dashboard_spark.operators import similarity
from etl_power_bi_dashboard_spark.plans import REGISTRY
from etl_power_bi_dashboard_spark.plans.dedup_plans import (
    d3_shingle_table,
    q_d2_ngram_jaccard,
    q_d3_minhash_lsh,
)
from etl_power_bi_dashboard_spark.plans.similarity_plans import ivf_parts
from etl_power_bi_dashboard_spark.session import get_spark

# Where a row runs. SHARED rows run in order in the first session, after
# the untimed warm-ups. A FRESH row gets its own SparkContext: state
# accumulated over ~1,400 earlier stages (shuffle files, checkpoint
# blocks) made the heavy iterative rows up to 3.5x slower in-session.
# D3_SHINGLES rows share one fresh session and one untimed shingle
# table, so each times only its hasher. D6_LABELS rows stay in the
# session of the d6_dup_clusters row before them and consume its labels,
# materialized once untimed, as a production pipeline would.
SHARED, FRESH, D3_SHINGLES, D6_LABELS = (
    "shared", "fresh", "d3-shingles", "d6-labels"
)

# (name, reps, session), run top to bottom. Three reps give the best-of
# two chances at a quiet window; the cheaper shared tail rows take two.
ROWS = [
    ("h1_pricing_summary",             3, SHARED),
    ("h5_region_volume",               3, SHARED),
    ("a1_sales_by_date",               3, SHARED),
    ("a2_sales_by_month",              3, SHARED),
    ("a3_sales_by_category",           3, SHARED),
    ("a4_sales_by_state",              3, SHARED),
    ("dax_measures",                   3, SHARED),
    ("t1_topk",                        3, SHARED),
    ("w2_running_total",               3, SHARED),
    ("e1_tumbling_hourly",             3, SHARED),
    ("e3_session_windows",             3, SHARED),
    ("d3_minhash_lsh",                 3, SHARED),
    ("v1_cosine_topk",                 3, SHARED),
    ("x2_quality",                     3, SHARED),
    ("x12_unigram_score",              3, SHARED),
    ("p11_sequence_pack",              3, SHARED),
    ("m1_multimodal_features",         3, SHARED),
    # expensive tails
    ("h9_product_profit",              2, SHARED),
    ("h21_waiting_supplier",           2, SHARED),
    ("d8_chunk_dedup",                 2, SHARED),
    ("d10_cross_source_contamination", 2, SHARED),
    ("e6_retention_cohorts",           2, SHARED),
    ("u1_scd1_merge",                  2, SHARED),
    ("v2_ann_ivf",                     2, SHARED),
    ("v2_ann_ivf_indexed",             2, SHARED),
    ("x14_pmi_collocations",           2, SHARED),
    ("d12_fuzzy_title_match",          2, SHARED),
    ("a16_gini_concentration",         2, SHARED),
    ("r5_gapfill_locf",                2, SHARED),
    ("r6_gapfill_interpolate",         2, SHARED),
    ("r7_asof_against_scd2",           2, SHARED),
    ("x15_winnowing",                  2, SHARED),
    ("x16_doc_entropy",                2, SHARED),
    ("a18_corr_matrix",                2, SHARED),
    ("r8_resample_ohlc",               2, SHARED),
    ("sc3_bloom_prune_join",           2, SHARED),
    ("x17_bm25",                       2, SHARED),
    ("e9_rolling_zscore",              2, SHARED),
    ("ml4_knn_classify",               2, SHARED),
    ("ml5_linreg_trend",               2, SHARED),
    ("x18_cooccurrence",               2, SHARED),
    ("e8_transition_matrix",           2, SHARED),
    ("e10_attribution",                2, SHARED),
    ("sc4_skew_report",                2, SHARED),
    ("q6_profile_summary",             2, SHARED),
    ("q7_chi2_independence",           2, SHARED),
    ("a19_percentiles_cont",           2, SHARED),
    ("r9_asof_forward",                2, SHARED),
    ("e11_rolling_active_users",       2, SHARED),
    ("u5_incremental_rollup",          2, SHARED),
    ("u6_apply_cdc",                   2, SHARED),
    ("p14_weighted_reservoir",         2, SHARED),
    ("p12_greedy_pack",                2, SHARED),
    ("x19_lang_confusion",             2, SHARED),
    ("ml6_ab_proportion_test",         2, SHARED),
    ("x20_chunk_split",                2, SHARED),
    ("ml7_naive_bayes",                2, SHARED),
    ("sc5_distributed_row_number",     2, SHARED),
    ("u7_snapshot_diff",               2, SHARED),
    ("x21_bigram_score",               2, SHARED),
    ("a20_mad",                        2, SHARED),
    ("e12_time_to_convert",            2, SHARED),
    ("m5_audio_frames",                2, SHARED),
    ("d13_semantic_clusters",          2, SHARED),
    ("r10_peak_concurrency",           2, SHARED),
    ("q9_fk_audit",                    2, SHARED),
    ("x23_zipf_fit",                   2, SHARED),
    ("ml8_markov_eval",                2, SHARED),
    ("x22_temperature_mix",            2, SHARED),
    ("d14_minhash_calibration",        2, SHARED),
    ("t3_keyset_page",                 2, SHARED),
    ("q8_volume_anomaly",              2, SHARED),
    ("r11_asof_nearest",               2, SHARED),
    ("q10_table_fingerprint",          2, SHARED),
    ("e13_interarrival",               2, SHARED),
    ("p13_length_buckets",             2, SHARED),
    ("a21_seasonality",                2, SHARED),
    ("x25_ngram_novelty",              2, SHARED),
    ("a22_trimmed_mean",               2, SHARED),
    ("v5_label_coherence",             2, SHARED),
    ("m6_frame_dedup",                 2, SHARED),
    ("v6_int8_recall",                 2, SHARED),
    ("q11_benford",                    2, SHARED),
    ("sc6_range_partition_plan",       2, SHARED),
    ("v7_pq_adc",                      2, SHARED),
    ("r12_calendarize",                2, SHARED),
    ("a23_rfm_segments",               2, SHARED),
    ("a24_ewma",                       2, SHARED),
    ("e14_top_paths",                  2, SHARED),
    ("q12_expectations",               2, SHARED),
    ("ml9_also_bought",                2, SHARED),
    ("v8_ivf_probe_sweep",             2, SHARED),
    ("x26_rake_keywords",              2, SHARED),
    ("x27_burstiness",                 2, SHARED),
    ("a25_yoy_growth",                 2, SHARED),
    ("a26_cohort_ltv",                 2, SHARED),
    ("a27_pareto_abc",                 2, SHARED),
    ("ml10_decision_stump",            2, SHARED),
    ("r13_business_days",              2, SHARED),
    ("e15_bounce_matrix",              2, SHARED),
    ("x28_kl_divergence",              2, SHARED),
    ("x29_oov_rate",                   2, SHARED),
    ("m7_scene_cuts",                  2, SHARED),
    ("x30_heaps_fit",                  2, SHARED),
    ("a28_price_volume_mix",           2, SHARED),
    ("v9_mmr_rerank",                  2, SHARED),
    ("e16_event_lateness",             2, SHARED),
    ("q13_fanout_profile",             2, SHARED),
    ("e17_survival_horizons",          2, SHARED),
    ("d17_lsh_s_curve",                2, SHARED),
    ("x31_tokenizer_fertility",        2, SHARED),
    ("e18_growth_accounting",          2, SHARED),
    ("ml11_oner",                      2, SHARED),
    ("r14_peak_window_overlap",        2, SHARED),
    ("u9_bitemporal_lookup",           2, SHARED),
    ("q14_ks_test",                    2, SHARED),
    ("a31_dow_hour_heatmap",           2, SHARED),
    ("m8_vad_segments",                2, SHARED),
    ("r15_interval_coalesce",          2, SHARED),
    ("sc7_zone_map_skipping",          2, SHARED),
    ("ml12_score_bias_auc",            2, SHARED),
    ("p16_lang_cap_sample",            2, SHARED),
    ("d16_containment_pairs",          2, SHARED),
    ("ml13_gain_lift",                 2, SHARED),
    ("ml14_pr_curve",                  2, SHARED),
    ("a32_abc_xyz",                    2, SHARED),
    ("e19_autocorrelation",            2, SHARED),
    ("q15_pk_uniqueness",              2, SHARED),
    ("ml15_ols2",                      2, SHARED),
    ("q16_sequence_gaps",              2, SHARED),
    ("u10_scd_compaction",             2, SHARED),
    ("r16_pairwise_overlap",           2, SHARED),
    ("v10_filtered_ann",               2, SHARED),
    ("ml16_calibration",               2, SHARED),
    ("u11_cdc_net_effect",             2, SHARED),
    # heavy iterative and full-corpus rows
    ("d2_ngram_jaccard_full",          3, FRESH),
    ("d3_minhash_lsh_full",            3, D3_SHINGLES),
    ("d3_minhash_lsh_fast",            3, D3_SHINGLES),
    ("ml1_kmeans",                     3, FRESH),
    ("ml2_pagerank",                   3, FRESH),
    ("ml3_triangle_count",             3, FRESH),
    ("d6_dup_clusters",                3, FRESH),
    ("d15_keep_longest",               3, D6_LABELS),
    ("p15_leakage_safe_split",         3, D6_LABELS),
]

# the bench-only full-corpus d3 variants and their hashers
_D3_HASHER = {"d3_minhash_lsh_full": "md5", "d3_minhash_lsh_fast": "xxhash64"}

_IVF_INDEX_PATH = "/tmp/spark_graft_bench_ivf_index"


def _prepare_ivf_index(spark, sf_dir: str) -> None:
    """One-time index build (UNTIMED — it's the amortized cost the
    persisted-index probe exists to avoid; the v2_ann_ivf row measures
    the no-index path for comparison). ``ivf_parts`` is the one
    definition of the IVF workload, so the indexed row measures exactly
    q_v2_ann_ivf's centroids and queries."""
    emb, centroids, _ = ivf_parts(spark, sf_dir)
    similarity.ivf_write_index(emb, centroids, _IVF_INDEX_PATH)


def _tail_plan(name: str):
    if name == "d2_ngram_jaccard_full":
        return lambda spark, sf_dir: q_d2_ngram_jaccard(spark, sf_dir, max_doc=None)
    if name in _D3_HASHER:
        # full-corpus pipeline over the SHARED materialized shingle
        # table (built untimed in main): md5 (DuckDB-reproducible) vs
        # xxhash64 (native codegen fast path) so the md5-portability
        # tax is visible as a pure hasher delta
        hasher = _D3_HASHER[name]
        return lambda spark, sf_dir, shingles=None: q_d3_minhash_lsh(
            spark, sf_dir, max_doc=None, hasher=hasher, shingles=shingles
        )
    if name == "v2_ann_ivf_indexed":
        # probe the persisted, cluster_id-partitioned index (built
        # untimed in main) — proves the partition-pruned probe beats the
        # inline assign-then-probe v2 row end-to-end
        def indexed(spark, sf_dir):
            _, centroids, queries = ivf_parts(spark, sf_dir)
            return similarity.ivf_topk_indexed(
                spark, _IVF_INDEX_PATH, centroids, queries, k=3, n_probe=2
            )

        return indexed
    return REGISTRY[name].spark


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _new_session(spark, app_name: str):
    if spark is not None:
        spark.stop()
    spark = get_spark(app_name=app_name)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    try:
        # a directory like .../sf./x or .../sf1.2.3/x must degrade to
        # sf=None, not kill the bench at startup
        sf = float(m.group(1).rstrip(".")) if m else None
    except ValueError:
        sf = None
    spark = _new_session(None, "bench")

    # Untimed warmup: spin up the Python worker pool (first mapInPandas
    # costs ~20s of process forking on local[32]) and prime parquet
    # footers/codegen, so timings measure the engine, not process bootstrap.
    _force(REGISTRY["m1_multimodal_features"].spark(spark, sf_dir))
    _force(REGISTRY["dax_measures"].spark(spark, sf_dir))

    reps: dict[str, list[float]] = {}
    d3_shingles = d6_labels = None
    for name, n, session in ROWS:
        plan = _tail_plan(name)
        kwargs = {}
        if session == FRESH:
            spark = _new_session(spark, f"bench-{name}")
        elif session == D3_SHINGLES:
            if d3_shingles is None:
                spark = _new_session(spark, "bench-d3_pair")
                d3_shingles = d3_shingle_table(
                    spark, sf_dir, max_doc=None
                ).localCheckpoint()
            kwargs = {"shingles": d3_shingles}
        elif session == D6_LABELS:
            # without the labels every rep would silently re-pay d6's
            # whole connected-components fixpoint
            assert d6_labels is not None, (
                f"{name} must follow d6_dup_clusters in ROWS"
            )
            kwargs = {"labels": d6_labels}
        if name == "v2_ann_ivf_indexed":
            _prepare_ivf_index(spark, sf_dir)
        times = []
        for _ in range(n):
            t0 = time.perf_counter()
            _force(plan(spark, sf_dir, **kwargs))
            times.append(round(time.perf_counter() - t0, 3))
        reps[name] = times
        if name == "d6_dup_clusters":
            # untimed: d6's row just priced this computation
            d6_labels = plan(spark, sf_dir).localCheckpoint()

    timings = {name: min(times) for name, times in reps.items()}
    for line in emit_records(timings, sf, write_detail=True, reps=reps):
        print(line)


def emit_records(
    timings: dict,
    sf: float,
    write_detail: bool = False,
    reps: dict | None = None,
    detail_path: str | None = None,
) -> list[str]:
    """The two stdout records, LAST one driver-parseable by contract.

    The per-query detail prints first and is also written to
    BENCH_DETAIL.json. Consumers read only a ~2 KB stdout tail, so the
    LAST line is a compact record without the per-query dict, bounded
    no matter how many queries the detail grows (pinned by
    tests/test_registry.py::test_bench_last_line_fits_tail).

    ``reps`` (every rep time per query) lands ONLY in BENCH_DETAIL.json.
    """
    total = round(sum(timings.values()), 3)
    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    file_detail = dict(detail)
    if reps:
        file_detail["reps"] = reps
    if write_detail:
        if detail_path is None:
            detail_path = os.path.join(
                os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
            )
        try:
            with open(detail_path, "w") as f:
                json.dump(file_detail, f, indent=1, sort_keys=True)
        except OSError:
            pass  # read-only checkout: the stdout detail line still has it
    compact = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "sf": sf,
    }
    return [json.dumps(detail), json.dumps(compact)]


if __name__ == "__main__":
    main()
