"""Pipeline behavior tests beyond golden replication: optional-source
fallback, error-tolerant extract, fan-out semantics, quality gates, sink
round-trip."""

from __future__ import annotations

import collections
import csv
import glob
import os
import shutil

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from etl_power_bi_dashboard_spark import sinks
from etl_power_bi_dashboard_spark.operators import quality
from etl_power_bi_dashboard_spark.operators.model import build_fact_sales
from etl_power_bi_dashboard_spark.operators.transform import (
    coerce_timestamp,
    derive_order_columns,
    fill_missing,
)
from etl_power_bi_dashboard_spark.pipeline import run_pipeline
from etl_power_bi_dashboard_spark.sources.olist import FILENAMES, extract_data


@pytest.fixture(scope="module")
def raw_no_translation(olist_raw, tmp_path_factory):
    d = tmp_path_factory.mktemp("raw_no_trans")
    for f in os.listdir(olist_raw):
        if f != FILENAMES["category_translation"]:
            shutil.copytree(os.path.join(olist_raw, f), d / f)
    return str(d)


def _csv_rows(raw_dir: str, table: str) -> list[dict]:
    rows: list[dict] = []
    for part in sorted(
        glob.glob(os.path.join(raw_dir, FILENAMES[table], "part-*.csv"))
    ):
        with open(part, newline="") as f:
            rows += list(csv.DictReader(f))
    return rows


def _expected_fact_rows(raw_dir: str) -> int:
    """fact_sales cardinality recounted from the raw CSVs in plain
    Python: every item whose order exists (inner join), fanned out by
    that order's reviews, or kept once when it has none (left join)."""
    orders = {r["order_id"] for r in _csv_rows(raw_dir, "orders")}
    reviews = collections.Counter(
        r["order_id"] for r in _csv_rows(raw_dir, "reviews")
    )
    return sum(
        max(1, reviews[r["order_id"]])
        for r in _csv_rows(raw_dir, "order_items")
        if r["order_id"] in orders
    )


def test_extract_missing_required(spark, tmp_path):
    assert extract_data(spark, str(tmp_path)) is None


def test_pipeline_without_translation(spark, raw_no_translation):
    """S2/F13: without the optional translation table, english category is
    backfilled from the Portuguese name (ef:186-187) and the category
    rollup still works."""
    dims, fact, aggs = run_pipeline(spark, raw_no_translation)
    prod = dims["product"].toPandas()
    assert (prod["product_category_name_english"] == prod["product_category_name"]).all()
    cats = aggs["sales_by_category"].toPandas()
    assert len(cats) > 0 and "category_name" in cats.columns


def test_review_fanout_and_zero_fill(spark):
    """§1.4.8/9: multi-review orders multiply fact rows; unreviewed orders
    get score 0."""
    items = spark.createDataFrame(
        [
            ("o1", 1, "p", "s", None, 10.0, 1.0),
            ("o2", 1, "p", "s", None, 20.0, 2.0),
        ],
        "order_id string, order_item_id long, product_id string, "
        "seller_id string, shipping_limit_date string, price double, "
        "freight_value double",
    )
    orders = spark.createDataFrame(
        [
            Row(order_id="o1", customer_id="c1",
                order_purchase_timestamp="2023-01-01 10:00:00"),
            Row(order_id="o2", customer_id="c2",
                order_purchase_timestamp="2023-01-02 10:00:00"),
        ]
    ).withColumn(
        "order_purchase_timestamp", coerce_timestamp(F.col("order_purchase_timestamp"))
    )
    reviews = spark.createDataFrame(
        [Row(order_id="o1", review_score=4), Row(order_id="o1", review_score=2)]
    )
    fact = build_fact_sales(items, orders, reviews).toPandas()
    assert len(fact) == 3  # o1 fans out to 2 rows; o2 stays 1
    assert sorted(fact[fact.order_id == "o1"].review_score) == [2, 4]
    assert fact[fact.order_id == "o2"].review_score.tolist() == [0]


def test_nat_delivery_on_time_false(spark):
    """§1.4.3: missing delivery date → delivery metrics NULL but
    delivered_on_time False (pandas NaN <= 0 semantics)."""
    orders = spark.createDataFrame(
        [("o1", "2023-01-01 08:00:00", None, "2023-01-10 00:00:00")],
        "order_id string, order_purchase_timestamp string, "
        "order_delivered_customer_date string, order_estimated_delivery_date string",
    )
    for c in ["order_purchase_timestamp", "order_delivered_customer_date",
              "order_estimated_delivery_date"]:
        orders = orders.withColumn(c, coerce_timestamp(F.col(c)))
    row = derive_order_columns(orders).first()
    assert row.delivery_time_days is None
    assert row.delivery_delay_days is None
    assert row.delivered_on_time is False
    assert row.purchase_dayofweek == 6  # 2023-01-01 is a Sunday; Monday=0


def test_median_fill_interpolates(spark):
    """§1.4.2: even-count median interpolates like pandas."""
    df = spark.createDataFrame(
        [Row(v=1.0), Row(v=2.0), Row(v=4.0), Row(v=8.0), Row(v=None)]
    )
    filled = fill_missing(df).toPandas()["v"]
    assert sorted(filled) == [1.0, 2.0, 3.0, 4.0, 8.0]


def test_quality_gates(spark, olist_raw):
    dims, fact, aggs = run_pipeline(spark, olist_raw)
    violations = quality.fk_violations(fact, dims)
    assert set(violations.values()) == {0}
    nulls = quality.null_audit(fact)
    assert all(v == 0 for v in nulls.values())
    assert quality.reconcile_totals(fact, aggs["sales_by_date"]) < 1e-6
    shapes = quality.shape_report({"fact_sales": fact})
    assert shapes["fact_sales"][0] == _expected_fact_rows(olist_raw)


def test_sink_roundtrip(spark, olist_raw, tmp_path):
    dims, fact, aggs = run_pipeline(spark, olist_raw)
    written = sinks.export_star(dims, fact, aggs, str(tmp_path))
    assert "fact_sales" in written and "dim_date" in written
    back = spark.read.parquet(str(tmp_path / "fact_sales_parquet"))
    assert back.count() == fact.count()
    csv_back = spark.read.option("header", True).csv(str(tmp_path / "dim_seller_csv"))
    assert csv_back.count() == dims["seller"].count()
    contract = sinks.write_bi_contract(str(tmp_path))
    assert os.path.exists(contract)


def test_compact_parquet_reduces_files_preserving_rows(spark, tmp_path):
    from etl_power_bi_dashboard_spark.sinks import compact_parquet

    src = str(tmp_path / "fragmented")
    dest = str(tmp_path / "compacted")
    df = spark.range(0, 10_000).withColumnRenamed("id", "k")
    df.repartition(64).write.parquet(src)  # 64 tiny files
    import glob
    assert len(glob.glob(src + "/*.parquet")) == 64
    n = compact_parquet(spark, src, dest)
    assert n == 1  # tiny dataset → single right-sized file
    assert len(glob.glob(dest + "/*.parquet")) == 1
    got = spark.read.parquet(dest)
    assert got.count() == 10_000
    assert got.agg({"k": "sum"}).first()[0] == df.agg({"k": "sum"}).first()[0]


def test_csv_quarantine_read(spark, tmp_path):
    """read_csv_quarantine must parse clean rows, null-out and preserve
    the raw line for schema-violating rows, and never fail the job."""
    from etl_power_bi_dashboard_spark.sources.olist import (
        CORRUPT_COL,
        read_csv_quarantine,
        split_quarantine,
    )

    p = tmp_path / "feed.csv"
    p.write_text(
        "id,qty,price\n"
        "1,2,9.99\n"
        "2,not_a_number,1.50\n"
        "3,4,2.25\n"
    )
    # no manual .cache() here: split_quarantine must handle the
    # corrupt-column-only-query restriction itself
    clean, bad = split_quarantine(
        read_csv_quarantine(spark, str(p), "id INT, qty INT, price DOUBLE")
    )
    assert clean.count() == 2
    assert {r.id for r in clean.collect()} == {1, 3}
    assert CORRUPT_COL not in clean.columns
    assert bad.count() == 1
    raw = bad.collect()[0][CORRUPT_COL]
    assert "not_a_number" in raw


def test_write_observed_collects_metrics_without_extra_scan(spark, tmp_path):
    """The observe()-instrumented sink must report the written row count
    and null-key count from the write job itself."""
    from etl_power_bi_dashboard_spark.sinks import write_observed

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "c")], "k INT, v STRING"
    )
    out = str(tmp_path / "observed_out")
    metrics = write_observed(df, out)
    assert metrics == {"n_rows": 3, "null_k": 1}
    assert spark.read.parquet(out).count() == 3
