"""Query registry: name → (spark plan builder, DuckDB oracle SQL).

Registry ORDER is an external contract: each round's correctness check
verifies a fixed-size window (50 entries) from the FRONT of the registry.
Ordering invariant:

- ``_PRIORITY`` is the window, and it is exactly ``tools/rotation.py``'s
  output over the CORRECTNESS rounds its header names ("from
  CORRECTNESS_r01-rNN"): every registry entry ranked by the LATEST round
  with a CORRECTNESS row for it (no row = 0, FORCE_FRONT = 0), stable
  module order within a rank, first 50 taken.
  ``tests/test_rotation_tool.py`` pins this;
- every other entry follows in module order, so a query added after the
  rotation sits behind the window and, having no CORRECTNESS row, fronts
  the next window.

Recompute the window with ``tools/rotation.py`` at rotation time rather
than hand-editing it. Rotation history lives in COVERAGE.md.

Every query keeps its local sf0.001 DuckDB parity test regardless of
position (tests/test_oracle_parity.py covers the whole registry).
"""

from __future__ import annotations

from .base import Query
from . import (
    core,
    dedup_plans,
    events_plans,
    expressions,
    groupings,
    merge_plans,
    scale_plans,
    similarity_plans,
    stats_plans,
    temporal_plans,
    text_plans,
    tpch,
    tpch_more,
    tpch_rest,
    windows,
    windows_more,
)

_MODULES = [
    core,
    windows,
    windows_more,
    groupings,
    expressions,
    merge_plans,
    tpch,
    tpch_more,
    tpch_rest,
    events_plans,
    temporal_plans,
    text_plans,
    dedup_plans,
    similarity_plans,
    stats_plans,
    scale_plans,
]

# Driver-window priority (see module docstring). Names listed here come
# first, in this order; everything else follows in module order.
_PRIORITY = [
    # === ROUND-13 WINDOW =============================================
    # Generated by tools/rotation.py from CORRECTNESS_r01-r12: rank by
    # latest driver round (no row = 0, FORCE_FRONT = 0 -- empty this
    # round), stable module order within a round, take 50. Pure
    # re-checks, the oldest-evidence cohort: slots 1-9 are the remaining
    # r7 rows (q12-q14, ml10/ml11, a23/a24/a27/a28), slots 10-50 the 41
    # oldest r8 rows in module order (f*, t1/t2, q2-q4, u*, e4, h*, r3,
    # x1-x6, m1-m3, d1/d3/d4/d4b/d5, v1-v4/v10).
    "q14_ks_test",  # r7
    "ml11_oner",  # r7
    "q13_fanout_profile",  # r7
    "a28_price_volume_mix",  # r7
    "a27_pareto_abc",  # r7
    "ml10_decision_stump",  # r7
    "a23_rfm_segments",  # r7
    "a24_ewma",  # r7
    "q12_expectations",  # r7
    "f3_string_impute",  # r8
    "f4_date_parts",  # r8
    "f5_days_between",  # r8
    "f6_flag_coalesce",  # r8
    "f15_date_dim",  # r8
    "t1_topk",  # r8
    "t2_limit",  # r8
    "q2_null_audit",  # r8
    "q3_reconciliation",  # r8
    "q4_shape_report",  # r8
    "u11_cdc_net_effect",  # r8
    "u1_scd1_merge",  # r8
    "u7_snapshot_diff",  # r8
    "u6_apply_cdc",  # r8
    "u2_delete_detect",  # r8
    "e4_props_json",  # r8
    "h4_order_priority",  # r8
    "h6_forecast_revenue",  # r8
    "h10_returned_items",  # r8
    "h14_promo_ratio",  # r8
    "h11_important_parts",  # r8
    "h15_top_supplier",  # r8
    "r3_hierarchical_rollup",  # r8
    "x1_token_count",  # r8
    "x6_tfidf",  # r8
    "x2_quality",  # r8
    "x3_lang_guess",  # r8
    "x4_fingerprint",  # r8
    "m1_multimodal_features",  # r8
    "m2_frame_sampling",  # r8
    "m3_label_centroids",  # r8
    "d1_dedup_exact",  # r8
    "d3_minhash_lsh",  # r8
    "d4_simhash",  # r8
    "d4b_simhash_pairs",  # r8
    "v10_filtered_ann",  # r8
    "v1_cosine_topk",  # r8
    "v2_ann_ivf",  # r8
    "v3_lsh_neardup",  # r8
    "d5_embedding_neardup",  # r8
    "v4_text_embedding_join",  # r8
]


def all_queries() -> dict[str, Query]:
    collected: dict[str, Query] = {}
    for mod in _MODULES:
        for q in mod.QUERIES:
            if q.name in collected:
                raise ValueError(f"duplicate query name: {q.name}")
            collected[q.name] = q
    missing = [n for n in _PRIORITY if n not in collected]
    if missing:
        raise ValueError(f"_PRIORITY names not in registry: {missing}")
    out: dict[str, Query] = {n: collected[n] for n in _PRIORITY}
    for name, q in collected.items():
        if name not in out:
            out[name] = q
    return out


REGISTRY: dict[str, Query] = all_queries()

__all__ = ["Query", "REGISTRY", "all_queries"]
