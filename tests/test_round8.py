"""Round-8 hardening tests — one per ADVICE r7 item with a behavior
change (the runbase cardinality item is documentation-only; its safe
fall-through path stays pinned by tests/test_streaming_index.py)."""

from __future__ import annotations

import pytest


# lsh_bands must reject empty signatures (0 % r == 0 slips past a bare
# multiple-of check into the phantom sequence(0, -1)).
def test_lsh_bands_rejects_empty_signature(spark):
    from etl_power_bi_dashboard_spark.operators.dedup import lsh_bands

    sigs = spark.createDataFrame(
        [(1, ["a", "b", "c"]), (2, [])], "doc_id long, sig array<string>"
    )
    with pytest.raises(Exception, match="non-empty"):
        lsh_bands(sigs, rows_per_band=3).collect()


def test_lsh_bands_still_accepts_exact_multiple(spark):
    from etl_power_bi_dashboard_spark.operators.dedup import lsh_bands

    sigs = spark.createDataFrame(
        [(1, ["a", "b", "c", "d"])], "doc_id long, sig array<string>"
    )
    rows = lsh_bands(sigs, rows_per_band=2).collect()
    assert [(r.band_no, r.band_sig) for r in rows] == [(0, "ab"), (1, "cd")]


# conform_to_schema with duplicate-modulo-case source columns must
# prefer the exact-case match, not hit Spark's ambiguous-reference error.
def test_conform_prefers_exact_case_among_duplicates(spark):
    from etl_power_bi_dashboard_spark.sources.evolve import conform_to_schema

    df = spark.createDataFrame([("pt", "EN")], ["lang", "LANG"])
    out = conform_to_schema(df, "lang string")
    assert out.collect() == [("pt",)]


def test_conform_no_exact_match_among_duplicates_fails_loudly(spark):
    from etl_power_bi_dashboard_spark.sources.evolve import conform_to_schema

    df = spark.createDataFrame([("pt", "EN")], ["Lang", "LANG"])
    with pytest.raises(ValueError, match="multiple source columns"):
        conform_to_schema(df, "lang string")


def test_conform_single_inexact_match_still_resolves(spark):
    from etl_power_bi_dashboard_spark.sources.evolve import conform_to_schema

    df = spark.createDataFrame([("EN",)], ["LANG"])
    assert conform_to_schema(df, "lang string").collect() == [("EN",)]


# register_star_views compares underlying JVM sessions, not Python
# wrapper identity.
def test_register_star_views_accepts_rewrapped_session(spark):
    from pyspark.sql import SparkSession

    from etl_power_bi_dashboard_spark.views import register_star_views

    fact = spark.createDataFrame([(1,)], ["k"])
    dim = spark.createDataFrame([(1, "x")], ["k", "v"])
    rewrapped = SparkSession(spark.sparkContext, spark._jsparkSession)
    assert rewrapped is not spark
    names = register_star_views(rewrapped, {"d": dim}, fact)
    assert set(names) == {"fact_sales", "dim_d"}


def test_register_star_views_still_rejects_other_session(spark):
    from etl_power_bi_dashboard_spark.views import register_star_views

    other = spark.newSession()
    fact = other.createDataFrame([(1,)], ["k"])
    with pytest.raises(ValueError, match="different SparkSession"):
        register_star_views(spark, {}, fact)


# The streaming state-merge pin is master-gated — reliable checkpoint()
# on a non-local master, loud failure without a checkpoint dir. The
# non-local branch can't run under local[*]; pin the local branch and
# the gate's master inspection instead.
def test_pin_for_overwrite_local_master_uses_local_checkpoint(spark):
    from etl_power_bi_dashboard_spark.streaming.events import _pin_for_overwrite

    assert spark.sparkContext.master.startswith("local")
    pinned = _pin_for_overwrite(spark.range(3))
    assert pinned.count() == 3
    # lineage is truncated to a materialized scan (the pin happened)
    plan = pinned._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan or "ExistingRDD" in plan
    pinned.unpersist()


def test_conform_exact_duplicate_names_picks_first_occurrence(spark):
    """Spark legally produces duplicate column names (e.g. post-join
    select); the resolver would call a bare reference ambiguous, but the
    positional path picks the FIRST occurrence deterministically."""
    from etl_power_bi_dashboard_spark.sources.evolve import conform_to_schema

    df = spark.createDataFrame([("first", "second")], ["lang", "lang"])
    assert conform_to_schema(df, "lang string").collect() == [("first",)]


def test_conform_case_sensitive_mode_keeps_exact_semantics(spark):
    from etl_power_bi_dashboard_spark.sources.evolve import conform_to_schema

    old = spark.conf.get("spark.sql.caseSensitive")
    spark.conf.set("spark.sql.caseSensitive", "true")
    try:
        df = spark.createDataFrame([("pt", "EN")], ["lang", "LANG"])
        # distinct columns under case sensitivity: exact name resolves,
        # and a declared name with no exact match backfills NULL
        assert conform_to_schema(df, "LANG string").collect() == [("EN",)]
        out = conform_to_schema(df, "Lang string").collect()
        assert out == [(None,)]
    finally:
        spark.conf.set("spark.sql.caseSensitive", old)


def test_pin_for_overwrite_cluster_master_requires_checkpoint_dir():
    """The non-local branch can't run under local[*]; drive the gate
    with duck-typed stubs: cluster master without a checkpoint dir must
    fail loudly; with one it must take reliable checkpoint()."""

    from etl_power_bi_dashboard_spark.streaming.events import _pin_for_overwrite

    class _Ctx:
        def __init__(self, master, ckdir):
            self.master = master
            self._ckdir = ckdir

        def getCheckpointDir(self):
            return self._ckdir

    class _Sess:
        def __init__(self, master, ckdir):
            self.sparkContext = _Ctx(master, ckdir)

    class _DF:
        def __init__(self, master, ckdir):
            self.sparkSession = _Sess(master, ckdir)
            self.calls = []

        def localCheckpoint(self, eager=True):
            self.calls.append("local")
            return self

        def checkpoint(self, eager=True):
            self.calls.append("reliable")
            return self

    with pytest.raises(RuntimeError, match="checkpoint dir"):
        _pin_for_overwrite(_DF("spark://cluster:7077", None))
    df = _DF("yarn", "hdfs:///ck")
    assert _pin_for_overwrite(df) is df and df.calls == ["reliable"]
    df2 = _DF("local[32]", None)
    assert _pin_for_overwrite(df2) is df2 and df2.calls == ["local"]
