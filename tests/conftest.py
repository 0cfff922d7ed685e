from __future__ import annotations

import os
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_TEST_SF_DIR", "/root/testdata/sf0.001")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@pytest.fixture(scope="session")
def spark():
    from etl_power_bi_dashboard_spark.session import get_spark

    # SPARK_TEST_SHUFFLE: config-invariance harness — the whole suite
    # (notably the oracle parity sweep) re-runs under a hostile shuffle
    # partition count (e.g. 3) to prove no result depends on the
    # partitioning; combine with SPARK_GRAFT_AQE=false to also prove
    # independence from adaptive re-planning.
    s = get_spark(
        shuffle_partitions=int(os.environ.get("SPARK_TEST_SHUFFLE", "8"))
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def olist_raw(spark, tmp_path_factory):
    """Raw Olist input dir written by ``create_sample_data`` at its
    default sizes (100 customers, 200 orders, 300 items): deterministic,
    one review per order, every table a Spark CSV directory."""
    from etl_power_bi_dashboard_spark.sources.synthetic import (
        create_sample_data,
    )

    d = tmp_path_factory.mktemp("olist_raw")
    create_sample_data(spark, str(d))
    return str(d)


@pytest.fixture(scope="session")
def oracle():
    """DuckDB connection with the same tables registered as views, mirroring
    the driver's oracle harness."""
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    yield con
    con.close()
