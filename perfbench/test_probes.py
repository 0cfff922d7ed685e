"""The status-store harvest stays exact on a run that outlives the store's
retention, where differencing the store's list sizes goes wrong.

    python3 -m pytest perfbench/test_probes.py
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import probes  # noqa: E402

RETAINED = 20
SPANS, JOBS_PER_SPAN, PARTITIONS = 6, 8, 3


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    if SparkSession.getActiveSession() is not None:
        pytest.skip("needs a session of its own, with a small retention; "
                    "run this file in its own pytest process")
    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-test-probes")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.retainedJobs", str(RETAINED))
        .config("spark.ui.retainedStages", str(RETAINED))
        .getOrCreate()
    )
    yield s
    s.stop()


def test_harvest_is_exact_past_the_retention(spark):
    sp = probes.StatusProbe(spark)
    store = sp.store
    naive = []
    for span in range(SPANS):
        before = store.jobsList(None).size()
        group = sp.begin(f"span{span}")
        for _ in range(JOBS_PER_SPAN):
            # one job, one stage, PARTITIONS tasks
            spark.range(300, numPartitions=PARTITIONS).write.format(
                "noop").mode("overwrite").save()
        got = sp.harvest([group])
        naive.append(store.jobsList(None).size() - before)
        assert got["jobs"] == JOBS_PER_SPAN
        assert got["stages"] == JOBS_PER_SPAN
        assert got["tasks"] == JOBS_PER_SPAN * PARTITIONS
        assert got["failed_tasks"] == 0
    # the run kept more jobs than the store retains, so the naive
    # list-size difference undercounts (or goes negative) at least once
    assert SPANS * JOBS_PER_SPAN > RETAINED
    assert any(n != JOBS_PER_SPAN for n in naive), naive


def test_write_executions_split_by_format(spark, tmp_path):
    sp = probes.StatusProbe(spark)
    last = sp.last_execution_id()
    sp.begin("export")
    df = spark.range(10)
    df.write.mode("overwrite").csv(str(tmp_path / "t_csv"))
    df.write.mode("overwrite").parquet(str(tmp_path / "t_parquet"))
    assert [fmt for fmt, _ in sp.write_executions(last)] == ["csv", "parquet"]


def test_cpu_and_rss_cover_the_spark_jvm(spark):
    tree = probes.process_tree()
    assert len(tree) >= 2  # this process and the JVM it launched
    assert probes.cpu_seconds(tree) > 0
    assert probes.peak_rss_mb(tree) > probes.peak_rss_mb([os.getpid()])
