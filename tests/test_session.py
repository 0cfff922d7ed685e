"""``get_spark`` sizing rules: the shuffle partition count follows the
caller, then ``$SPARK_SHUFFLE_PARTITIONS``, then the local master's core
count; the generated-code cache holds a warm working set larger than
Spark's 100-class default; and PySpark's per-call origin capture is off."""

from __future__ import annotations

import re

from etl_power_bi_dashboard_spark.plans import REGISTRY
from etl_power_bi_dashboard_spark.session import get_spark

from .conftest import SF_DIR

# The five perfbench query_mix dashboard queries plus five more BI
# queries: 138 generated classes cold, each of which the same query
# regenerates byte for byte on its next run.
WARM_SET = (
    "a1_sales_by_date", "a4_sales_by_state", "dax_measures",
    "e1_tumbling_hourly", "h9_product_profit",
    "h8_market_share", "h10_returned_items", "a2_sales_by_month",
    "h3_shipping_priority", "h5_region_volume",
)


def test_codegen_cache_holds_a_warm_working_set(spark):
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = codegen.METRIC_COMPILATION_TIME()

    def run_set() -> int:
        before = compiles.getCount()
        for name in WARM_SET:
            REGISTRY[name].spark(spark, SF_DIR).write.format("noop").mode(
                "overwrite").save()
        return compiles.getCount() - before

    run_set()
    # at 100 entries the second run recompiles ~120 of the set's classes
    assert run_set() <= 10


def test_shuffle_partitions_precedence(spark, monkeypatch):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    m = re.fullmatch(r"local\[(\d+)\]", spark.sparkContext.master)
    cores = (
        int(m.group(1)) if m
        else spark._jvm.java.lang.Runtime.getRuntime().availableProcessors()
    )
    try:
        monkeypatch.setenv("SPARK_SHUFFLE_PARTITIONS", "7")
        assert get_spark(shuffle_partitions=5) is spark
        assert spark.conf.get(key) == "5"
        get_spark()
        assert spark.conf.get(key) == "7"
        monkeypatch.delenv("SPARK_SHUFFLE_PARTITIONS")
        get_spark()
        assert spark.conf.get(key) == str(cores)
    finally:
        spark.conf.set(key, before)


def test_call_site_capture_is_off(spark):
    # the conf itself: pyspark's is_debugging_enabled() caches its first
    # answer for the whole process, whichever session was active then
    partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert get_spark(shuffle_partitions=partitions) is spark
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
