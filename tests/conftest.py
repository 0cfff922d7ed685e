from __future__ import annotations

import functools
import os
import sys
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_TEST_SF_DIR", "/root/testdata/sf0.001")

# The stopword list the text laws recompute against, written out here so
# the laws stay independent of the package's own constant.
STOPWORDS = ("the", "a", "and", "of", "to", "in", "is")


@functools.lru_cache(maxsize=None)
def sf_table(name: str, sf_dir: str = SF_DIR) -> pd.DataFrame:
    """A fixture table as pandas, read once per session and shared by
    every law that asks for it — callers must not modify it in place."""
    return pd.read_parquet(f"{sf_dir}/{name}.parquet")


def doc_texts() -> dict[int, str]:
    return {int(r["doc_id"]): r["text"] for _, r in sf_table("documents").iterrows()}


def events_sorted() -> list[tuple]:
    """(user_id, ts_us, event_id, event_type, value, ts) per event,
    ordered by (user, ts, event_id)."""
    recs = [
        (
            int(r["user_id"]),
            int(pd.Timestamp(r["ts"]).value // 1000),
            int(r["event_id"]),
            r["event_type"],
            float(r["value"]),
            pd.Timestamp(r["ts"]),
        )
        for _, r in sf_table("events").iterrows()
    ]
    recs.sort(key=lambda t: (t[0], t[1], t[2]))
    return recs


def spark_decimal(x, places: str) -> Decimal:
    """Replicate Spark's CAST(double AS DECIMAL(p,s)): HALF_UP at s."""
    return Decimal(repr(float(x))).quantize(Decimal(places), ROUND_HALF_UP)


def spark_round(x: float, scale: int) -> float:
    """Replicate Spark's round(double, scale): BigDecimal.valueOf takes the
    shortest decimal repr (Python's repr), rounded HALF_UP at scale."""
    return float(spark_decimal(x, f"1e-{scale}"))


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
