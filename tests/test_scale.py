"""Scale-toolkit tests: salted operators are result-equivalent to their
plain counterparts, and bucketed joins really eliminate the exchange."""

from __future__ import annotations

import contextlib
import io
import os

import pytest
from pyspark.sql import functions as F

from etl_power_bi_dashboard_spark.operators import scale

from .conftest import SF_DIR


def _li(spark):
    return spark.read.parquet(f"{SF_DIR}/lineitem.parquet")


def test_salted_sum_equals_plain(spark):
    plain = {
        r.l_returnflag: round(r.s, 6)
        for r in _li(spark)
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"))
        .collect()
    }
    salted = {
        r.l_returnflag: round(r.sum_l_quantity, 6)
        for r in scale.salted_sum(_li(spark), "l_returnflag", "l_quantity").collect()
    }
    assert salted == plain


def test_salted_join_equals_plain(spark):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"
    )
    plain = _li(spark).join(orders, "l_orderkey", "inner").count()
    salted = scale.salted_join(_li(spark), orders, "l_orderkey").count()
    assert salted == plain


def test_bucketed_join_has_no_exchange(spark):
    # uses the default spark-warehouse/ dir (gitignored); clear any stale
    # state from prior interrupted runs (orphan dirs survive catalog loss)
    import shutil

    for t in ("b_lineitem", "b_orders"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    li = _li(spark).select("l_orderkey", "l_quantity")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    scale.write_bucketed(li, "b_lineitem", "l_orderkey")
    scale.write_bucketed(orders, "b_orders", "l_orderkey")
    joined = scale.bucketed_join(spark, "b_lineitem", "b_orders", "l_orderkey")

    # at test scale the planner would broadcast instead (tables are tiny,
    # which also disables bucketed scans) — force the at-scale strategy
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = scale.bucketed_join(spark, "b_lineitem", "b_orders", "l_orderkey")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join still shuffles"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    # and it's still correct
    plain = _li(spark).select("l_orderkey", "l_quantity").join(orders, "l_orderkey").count()
    assert joined.count() == plain

    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")


def test_ivf_probe_is_partition_pruned(spark, tmp_path):
    """The IVF scale story: cluster assignments written partitioned by
    cluster_id mean a probe reads ONLY the probed clusters' files —
    partition pruning, not a filter scan."""
    from etl_power_bi_dashboard_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    assigned = similarity.assign_clusters(emb, centroids)
    path = str(tmp_path / "ivf_index")
    assigned.write.mode("overwrite").partitionBy("cluster_id").parquet(path)

    probe = spark.read.parquet(path).filter(F.col("cluster_id").isin(0, 50))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probe.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "cluster_id" in plan.split("PartitionFilters", 1)[1][:200]
    assert probe.count() > 0


def test_partitioned_fact_sink(spark, olist_raw, tmp_path):
    """export_star(partition_fact=True) writes fact_sales hive-partitioned
    by date_id (the 100 TB layout: date-pruned scans for period slices)."""

    from etl_power_bi_dashboard_spark import sinks
    from etl_power_bi_dashboard_spark.pipeline import run_pipeline

    dims, fact, aggs = run_pipeline(spark, olist_raw)
    sinks.export_star(dims, fact, {}, str(tmp_path), partition_fact=True)
    fact_dir = tmp_path / "fact_sales_parquet"
    parts = [d for d in os.listdir(fact_dir) if d.startswith("date_id=")]
    assert len(parts) > 10
    back = spark.read.parquet(str(fact_dir))
    assert back.count() == fact.count()


@pytest.mark.skipif(
    not __import__(
        "etl_power_bi_dashboard_spark.session", fromlist=["aqe_enabled"]
    ).aqe_enabled(),
    reason="asserts AQE's skew handling ENGAGES; meaningless with AQE "
    "disabled for the config-invariance sweep",
)
def test_aqe_skew_join_engages_and_preserves_results(spark):
    """AQE's skew-join handling — the runtime answer to hot keys that
    salting (sc1/sc2) solves statically — must actually engage on a
    skewed shuffle join and must not change the join's result.

    A 90%-hot-key left side is joined under thresholds scaled to the
    fixture (the same knobs a 100 TB job sets in real units:
    skewedPartitionFactor / ThresholdInBytes / advisoryPartitionSize);
    the executed adaptive plan must show the skew split
    (SortMergeJoin(skew=true) over a skewed AQEShuffleRead), and the
    aggregate over the skew-split join must equal the broadcast-join
    reference answer."""

    knobs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256KB",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    saved = {k: spark.conf.get(k, None) for k in knobs}
    left = spark.range(0, 2000000).select(
        F.when(F.col("id") < 1800000, F.lit(0))
        .otherwise((F.col("id") % 99) + 1)
        .alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.range(0, 10000).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("w")
    )
    try:
        for k, v in knobs.items():
            spark.conf.set(k, v)
        j = left.join(right, "k").select(
            F.sum(F.col("v") + F.col("w")).alias("s")
        )
        skewed_sum = j.collect()[0][0]
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
        assert "skewed" in plan  # the AQEShuffleRead split
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    ref = (
        left.join(F.broadcast(right), "k")
        .select(F.sum(F.col("v") + F.col("w")).alias("s"))
        .collect()[0][0]
    )
    assert skewed_sum == ref


# --- Bloom-filter runtime pruning ------------------------------------------


def test_bloom_prune_has_no_false_negatives(spark):
    from etl_power_bi_dashboard_spark.operators.scale import (
        bloom_build,
        bloom_prune,
    )

    # build over 100 keys; probe with 1000 keys, 100 of which match
    keys = spark.range(0, 1000, 10).withColumnRenamed("id", "k")
    probe = spark.range(0, 1000).withColumnRenamed("id", "k")
    bloom = bloom_build(keys, "k")
    kept = {r["k"] for r in bloom_prune(probe, bloom, "k").collect()}
    member = set(range(0, 1000, 10))
    # soundness: every true member survives pruning
    assert member <= kept


def test_bloom_prune_plus_verify_equals_semi_join(spark):
    from etl_power_bi_dashboard_spark.operators.scale import (
        bloom_build,
        bloom_prune,
    )

    keys = spark.range(0, 500, 7).withColumnRenamed("id", "k")
    probe = spark.range(0, 500).withColumnRenamed("id", "k")
    bloom = bloom_build(keys, "k")
    got = {
        r["k"]
        for r in bloom_prune(probe, bloom, "k")
        .join(keys, "k", "left_semi")
        .collect()
    }
    assert got == set(range(0, 500, 7))


def test_bloom_prune_rate_is_useful(spark):
    from etl_power_bi_dashboard_spark.operators.scale import (
        bloom_build,
        bloom_prune,
    )

    # tiny member set, large disjoint probe: the sketch must prune the
    # overwhelming majority (fp rate for m=8192, k=4, n=50 is ~1e-5)
    keys = spark.range(0, 50).withColumnRenamed("id", "k")
    probe = spark.range(10_000, 30_000).withColumnRenamed("id", "k")
    bloom = bloom_build(keys, "k")
    survivors = bloom_prune(probe, bloom, "k").count()
    assert survivors <= 20  # 0.1% of 20k


def test_salted_sum_spreads_constant_values(spark):
    """The salt must not collapse when the value column is constant (the
    count-style hot key): with default salt_cols=all columns, a hot key
    with value=1 rows spreads across (key, salt) groups, and the total
    still equals the plain groupBy sum."""
    rows = [("hot", i, 1.0) for i in range(400)] + [("cold", 0, 2.0)]
    df = spark.createDataFrame(rows, "k string, id long, v double")
    out = {r.k: r.sum_v for r in scale.salted_sum(df, "k", "v").collect()}
    assert out == {"hot": 400.0, "cold": 2.0}
    salted = df.withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.col("k"), F.col("id"), F.col("v")), F.lit(16)),
    )
    n_groups = (
        salted.filter(F.col("k") == "hot").select("_salt").distinct().count()
    )
    assert n_groups > 1  # the old value-only hash gave exactly 1


def test_bloom_prune_rejects_mismatched_parameters(spark):
    """The sketch row carries its build parameters; probing with
    different ones must raise instead of silently dropping present keys
    (a false negative breaks the soundness contract)."""

    keys = spark.createDataFrame([(i,) for i in range(50)], "k long")
    big = spark.createDataFrame([(i, i) for i in range(100)], "k long, x long")
    bloom = scale.bloom_build(keys, "k", m_bits=8192, k_hashes=4)
    ok = scale.bloom_prune(big, bloom, "k", m_bits=8192, k_hashes=4)
    kept = {r.k for r in ok.collect()}
    assert set(range(50)) <= kept  # no false negatives
    with pytest.raises(Exception, match="does not match the sketch"):
        scale.bloom_prune(big, bloom, "k", m_bits=4096, k_hashes=4).count()
