"""Audit-coverage ratchet: every registry query must be pinned by a
brute-force/property LAW test or carry a justified entry in the
allowlist below.

The driver's differential hash gate proves Spark == DuckDB, but not
that the shared formula is RIGHT: a definition misread identically by
both engines passes the gate. This meta-test makes the law-test
discipline structural: a new registry entry fails here until someone
writes its law test or consciously allowlists it with a reason.

Matching rule: a query counts as covered ONLY if its FULL name appears
in a law-test file, or it has an explicit entry in OPERATOR_LAWS naming
the law file + the operator symbol the law exercises (validated to
exist). A looser match (the name's first underscore-token anywhere in
the law text) would be satisfied by incidental variable names (`a12`,
`r2`, `x1` are regression-math locals), so it is not accepted.
"""

from __future__ import annotations

import pathlib

from etl_power_bi_dashboard_spark.plans import REGISTRY

TESTS = pathlib.Path(__file__).parent

# Queries exempt from the law-test requirement, each with the stronger
# or equivalent evidence that replaces it.
ALLOWLIST = {
    # Golden bit-for-bit replication of the reference's committed
    # output tables (tests/test_olist_golden.py) — independent evidence
    # from a THIRD engine (the original pandas pipeline), stronger than
    # a reimplemented law.
    "a1_sales_by_date", "a2_sales_by_month", "a3_sales_by_category",
    "a4_sales_by_state", "a5_sales_by_city", "a6_sales_by_seller",
    "a7_review_distribution", "a8_global_minmax", "a9_nps",
    "dax_measures", "f1_to_timestamp", "f2_median_impute",
    "f3_string_impute", "f4_date_parts", "f5_days_between",
    "f6_flag_coalesce", "f15_date_dim", "j1_left_broadcast",
    "j2_inner_fact", "j3_left_fillzero",
    # Structural mirrors: the Spark plan and the oracle SQL are the
    # same trivial expression (a scan/projection/filter/distinct/limit
    # /set-op/count with no formula to misdefine); the differential
    # gate IS the law.
    "s1_scan", "p1_projection", "p2_filter_eq", "p3_filter_range",
    "p4_filter_in", "p5_rename", "a10_count_by_value", "a11_distinct",
    "f16_string_ops", "f17_conditionals", "f18_null_safe_eq",
    "t1_topk", "t2_limit", "set_union", "set_intersect", "set_except",
    "q2_null_audit", "q4_shape_report",
    # x2's component operators are law-tested under their own names
    # (token_count whitespace law in test_llm_pipeline_ops; stopword
    # ratio via the x3 language-heuristic law in
    # test_round8_semantics_dx); the 0.5/0.3/0.2 quality blend itself
    # is a DEFINITION with no external truth — both engines share it
    # by construction and the differential gate pins the mirror.
    "x2_quality",
    # sc1-sc3's oracles are deliberately the PLAIN (unsalted /
    # un-bloom-pruned) equivalents, so the driver's differential gate
    # is itself the invariance law "salting/pruning doesn't change the
    # answer" — documented in test_round8_semantics_m_sc.py.
    "sc1_salted_join", "sc2_salted_agg", "sc3_bloom_prune_join",
    # Operator-level brute force under another name: the registry entry
    # wraps an operator whose law lives in an operator-keyed test.
    "ml3_triangle_count",  # triangle_counts vs 3-subset enumeration
                           # (test_properties_round8) + textbook
                           # three-way self-join oracle (test_graph_ops)
    "q1_fk_orphans",       # fk_violations orphan sets on crafted data
                           # (test_pipeline quality gates)
}

# Laws that live under an OPERATOR symbol rather than the registry
# name: query -> (law file, symbol exercised by the law). The ratchet
# validates the file is a recognized law file AND contains the symbol,
# so a renamed/deleted law breaks the mapping loudly instead of
# silently un-pinning the query.
OPERATOR_LAWS = {
    # range_join_buckets bucket-cover + dedup-flag law on arbitrary
    # intervals (hypothesis)
    "r2_range_join": ("test_properties.py", "range_join_buckets"),
    # composition: backward as-of law (brute-force, hypothesis) applied
    # against u4's SCD2 intervals, whose no-overlap/no-gap invariant is
    # law-tested in test_round8_semantics.py (u4)
    "r7_asof_against_scd2": ("test_properties.py",
                             "test_asof_join_matches_bruteforce"),
    # sweep-line peak vs brute-force per-instant maximum
    "r10_peak_concurrency": ("test_round7_semantics.py",
                             "peak_concurrency_from_sessions"),
    # fixture reports 0 everywhere (ids are assigned in ts order), so
    # the operator's SENSITIVITY is pinned on an injected-disorder frame
    "e16_event_lateness": ("test_round6_late.py",
                           "test_e16_detects_injected_disorder"),
    # whitespace token-count law over crafted strings
    "x1_token_count": ("test_llm_pipeline_ops.py", "token_count"),
    # representative-is-min + idempotence laws for exact_dedup
    "d1_dedup_exact": ("test_dedup.py", "test_exact_dedup_representative_is_min"),
    # full minhash→bands→pairs pipeline vs brute-force Jaccard on
    # arbitrary corpora (hypothesis)
    "d3_minhash_lsh": ("test_properties.py",
                       "test_minhash_lsh_pipeline_matches_bruteforce"),
    # bucketed distributed rank == single-reducer global rank on
    # arbitrary distributions (hypothesis)
    "sc5_distributed_row_number": ("test_properties.py",
                                   "_ranked_by_value_per_type"),
}

_LAW_FILES = [
    p for p in TESTS.glob("test_*.py")
    if "semantic" in p.name or "properties" in p.name or "fuzz" in p.name
    or p.name in (
        "test_oracle_less_laws.py", "test_stats.py", "test_clustering.py",
        "test_graph_ops.py", "test_packing.py", "test_sampling.py",
        # operator-keyed law suites referenced by OPERATOR_LAWS /
        # full-name laws (d6's lossless-prefix-filter proof, q10's
        # layout-invariance law, the e16 disorder injection, the a12
        # moments law in test_round9)
        "test_dedup.py", "test_llm_pipeline_ops.py",
        "test_round6_late.py", "test_round9.py",
    )
]


def test_every_registry_query_has_a_law_or_an_allowlist_reason():
    texts = {p.name: p.read_text() for p in _LAW_FILES}
    law_text = "".join(texts.values())

    # Validate EVERY mapping unconditionally, before the substring
    # check can short-circuit: a mapped name that also happens to
    # appear as a substring somewhere (e.g. d3_minhash_lsh inside
    # q_d3_minhash_lsh in test_dedup.py) must still break loudly if
    # the mapped law is renamed or deleted.
    for name, (fname, symbol) in OPERATOR_LAWS.items():
        assert fname in texts, (
            f"OPERATOR_LAWS[{name}] points at {fname}, which is not a "
            "recognized law file"
        )
        assert symbol in texts[fname], (
            f"OPERATOR_LAWS[{name}]: symbol {symbol!r} not found in "
            f"{fname} — the law moved or was deleted"
        )

    def covered(name: str) -> bool:
        return name in law_text or name in OPERATOR_LAWS

    missing = sorted(
        q for q in REGISTRY if q not in ALLOWLIST and not covered(q)
    )
    assert missing == [], (
        f"registry queries without a semantic-audit law test: {missing} — "
        "write a brute-force law (tests/test_round*_semantics*.py) or "
        "allowlist with a justification"
    )
    # the allowlist may only shrink relative to the registry: entries
    # for queries that no longer exist are stale and must be removed
    stale = sorted(ALLOWLIST - set(REGISTRY))
    assert stale == [], f"stale allowlist entries: {stale}"
    stale_maps = sorted(set(OPERATOR_LAWS) - set(REGISTRY))
    assert stale_maps == [], f"stale OPERATOR_LAWS entries: {stale_maps}"
    overlap = sorted(set(OPERATOR_LAWS) & ALLOWLIST)
    assert overlap == [], (
        f"queries both mapped and allowlisted (pick one): {overlap}"
    )
