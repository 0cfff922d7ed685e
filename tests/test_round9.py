"""Round-9 pins: ADVICE.md fixes (AQE knob normalization, q9 helper
empty-input behavior) and the round's regression guards.
"""

import os
from unittest import mock
import math

from etl_power_bi_dashboard_spark.session import aqe_enabled

from .conftest import SF_DIR


class TestAqeKnobNormalization:
    """SPARK_GRAFT_AQE goes through one strict-boolean helper that feeds
    both the session conf and the test skip guards: passed verbatim,
    '0'/'off' would make spark.sql.adaptive.enabled an invalid boolean
    conf failing at session use, and a guard that recognizes only the
    literal 'false' would disagree with the session."""

    def test_falsy_spellings_disable(self):
        for v in ("false", "FALSE", "False", "0", "off", "OFF", "no"):
            with mock.patch.dict(os.environ, {"SPARK_GRAFT_AQE": v}):
                assert aqe_enabled() is False, v

    def test_truthy_and_unset_enable(self):
        for v in ("true", "TRUE", "1", "on", "yes", "anything"):
            with mock.patch.dict(os.environ, {"SPARK_GRAFT_AQE": v}):
                assert aqe_enabled() is True, v
        env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_AQE"}
        with mock.patch.dict(os.environ, env, clear=True):
            assert aqe_enabled() is True

    def test_session_conf_is_always_a_valid_boolean(self):
        # the value handed to spark.sql.adaptive.enabled must be the
        # literal 'true'/'false' regardless of the env spelling
        for v, expect in (("0", "false"), ("off", "false"), ("1", "true")):
            with mock.patch.dict(os.environ, {"SPARK_GRAFT_AQE": v}):
                assert ("true" if aqe_enabled() else "false") == expect


class TestFkAuditEmptyInputs:
    """q9_fk_audit law (crafted-data, hand-computed): the per-edge
    helper must report exact parent/referenced/orphan counts on inputs
    where the truth is enumerable, including the empty-input corner:
    F.sum over an empty full-outer join output is NULL, so the helper
    coalesces n_parent/n_referenced/n_orphans to 0; this pins the
    contract on every empty/non-empty combination."""

    def _frames(self, spark):
        child = spark.createDataFrame([(1, 10), (2, 10), (3, 99)], "id int, fk int")
        parent = spark.createDataFrame([(10,), (20,)], "pk int")
        empty_child = child.limit(0)
        empty_parent = parent.limit(0)
        return child, parent, empty_child, empty_parent

    def test_both_empty_returns_zeros_not_nulls(self, spark):
        from etl_power_bi_dashboard_spark.plans.core import _fk_audit_rel

        _, _, ec, ep = self._frames(spark)
        row = _fk_audit_rel("e->e", ec, "fk", ep, "pk").collect()[0]
        assert (row.n_parent, row.n_referenced, row.n_orphans) == (0, 0, 0)
        assert row.coverage is None  # 0/0 — no parents to cover

    def test_empty_child_counts_parents(self, spark):
        from etl_power_bi_dashboard_spark.plans.core import _fk_audit_rel

        _, parent, ec, _ = self._frames(spark)
        row = _fk_audit_rel("e->p", ec, "fk", parent, "pk").collect()[0]
        assert (row.n_parent, row.n_referenced, row.n_orphans) == (2, 0, 0)
        assert row.coverage == 0.0

    def test_empty_parent_counts_all_child_rows_as_orphans(self, spark):
        from etl_power_bi_dashboard_spark.plans.core import _fk_audit_rel

        child, _, _, ep = self._frames(spark)
        row = _fk_audit_rel("c->e", child, "fk", ep, "pk").collect()[0]
        assert (row.n_parent, row.n_referenced, row.n_orphans) == (0, 0, 3)

    def test_nonempty_semantics_unchanged(self, spark):
        from etl_power_bi_dashboard_spark.plans.core import _fk_audit_rel

        child, parent, _, _ = self._frames(spark)
        row = _fk_audit_rel("c->p", child, "fk", parent, "pk").collect()[0]
        # parents {10,20}; referenced {10}; orphan ROWS: fk=99 → 1 row
        assert (row.n_parent, row.n_referenced, row.n_orphans) == (2, 1, 1)
        assert row.coverage == 0.5

    def test_null_fks_count_as_orphan_rows(self, spark):
        from etl_power_bi_dashboard_spark.plans.core import _fk_audit_rel

        child = spark.createDataFrame(
            [(1, 10), (2, None), (3, None)], "id int, fk int"
        )
        parent = spark.createDataFrame([(10,)], "pk int")
        row = _fk_audit_rel("n->p", child, "fk", parent, "pk").collect()[0]
        # NULL FKs never equi-match, so they land child-only — the
        # documented anti-join semantics
        assert (row.n_parent, row.n_referenced, row.n_orphans) == (1, 1, 2)


def test_a12_stats_exact_matches_statistics_module(spark):
    """a12_stats_exact law: the DECIMAL-power-sum mean/variance/stddev
    must equal the textbook sample moments computed by Python's
    statistics module over the same values (brute force, independent of
    both engines' aggregation machinery)."""
    import statistics

    from etl_power_bi_dashboard_spark.plans.tpch_more import q_a12_stats_exact

    got = {r.l_returnflag: r for r in q_a12_stats_exact(spark, SF_DIR).collect()}
    raw = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .select("l_returnflag", "l_quantity")
        .collect()
    )
    by_flag: dict[str, list[float]] = {}
    for r in raw:
        by_flag.setdefault(r.l_returnflag, []).append(float(r.l_quantity))
    assert set(got) == set(by_flag)
    for flag, xs in by_flag.items():
        row = got[flag]
        assert row.n == len(xs)
        assert math.isclose(row.mean_qty, statistics.fmean(xs), rel_tol=1e-12)
        assert math.isclose(row.var_qty, statistics.variance(xs), rel_tol=1e-9)
        assert math.isclose(
            row.stddev_qty, statistics.stdev(xs), rel_tol=1e-9
        )
