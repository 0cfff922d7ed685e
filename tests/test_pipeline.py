"""Pipeline behavior tests beyond golden replication: optional-source
fallback, error-tolerant extract, fan-out semantics, quality gates, sink
round-trip, and the concurrent star export's outputs, caches, job
properties and failure path."""

from __future__ import annotations

import collections
import csv
import glob
import math
import os
import shutil

import pytest
from pyspark import StorageLevel
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


def _expected_sales_by_category(raw_dir: str) -> dict:
    """sales_by_category recounted from the raw CSVs in plain Python:
    fact rows (items of existing orders, fanned out by reviews) grouped
    by the product's english category — translated when the translation
    CSV is present (untranslated names drop out), else the Portuguese
    name; a missing category is 'unknown' after fill_missing."""
    orders = {r["order_id"] for r in _csv_rows(raw_dir, "orders")}
    reviews = collections.Counter(
        r["order_id"] for r in _csv_rows(raw_dir, "reviews")
    )
    cat = {
        r["product_id"]: r["product_category_name"] or "unknown"
        for r in _csv_rows(raw_dir, "products")
    }
    if os.path.isdir(os.path.join(raw_dir, FILENAMES["category_translation"])):
        english = {
            r["product_category_name"]: r["product_category_name_english"]
            for r in _csv_rows(raw_dir, "category_translation")
        }
        cat = {p: english.get(c) for p, c in cat.items()}
    acc: dict = {}
    for r in _csv_rows(raw_dir, "order_items"):
        c = cat.get(r["product_id"])
        if r["order_id"] not in orders or c is None:
            continue
        n = max(1, reviews[r["order_id"]])
        ids, sales, freight = acc.setdefault(c, (set(), [], []))
        ids.add(r["order_id"])
        sales += [float(r["price"])] * n
        freight += [float(r["freight_value"])] * n
    return {c: (len(i), math.fsum(s), math.fsum(f)) for c, (i, s, f) in acc.items()}


def test_pipeline_without_translation(spark, olist_raw, raw_no_translation):
    """S2/F13: without the optional translation table, english category is
    backfilled from the Portuguese name (ef:186-187), and the category
    rollup equals a plain-Python recount from the CSVs with the
    translation table and without it."""
    dims, fact, aggs = run_pipeline(spark, raw_no_translation)
    prod = dims["product"].toPandas()
    assert (prod["product_category_name_english"] == prod["product_category_name"]).all()
    for raw_dir, cats in (
        (raw_no_translation, aggs["sales_by_category"]),
        (olist_raw, run_pipeline(spark, olist_raw)[2]["sales_by_category"]),
    ):
        got = {r.category_name: r for r in cats.collect()}
        want = _expected_sales_by_category(raw_dir)
        assert want and set(got) == set(want)
        for c, (n_orders, sales, freight) in want.items():
            r = got[c]
            assert r.order_count == n_orders
            assert math.isclose(r.total_sales, sales, rel_tol=1e-12)
            assert math.isclose(r.total_freight, freight, rel_tol=1e-12)
            assert math.isclose(r.avg_order_value, sales / n_orders, rel_tol=1e-12)


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


def test_compact_parquet_reduces_files_preserving_rows(spark, tmp_path):
    from etl_power_bi_dashboard_spark.sinks import compact_parquet

    src = str(tmp_path / "fragmented")
    dest = str(tmp_path / "compacted")
    df = spark.range(0, 10_000).withColumnRenamed("id", "k")
    df.repartition(64).write.parquet(src)  # 64 tiny files
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


def _star(spark, raw_dir):
    dims, fact, aggs = run_pipeline(spark, raw_dir)
    names = [f"dim_{n}" for n in dims] + ["fact_sales"] + [f"agg_{n}" for n in aggs]
    return dims, fact, aggs, names


def _persistent_rdds(spark) -> set[int]:
    """Ids of the persisted RDDs. Compared as sets, not sizes: the
    context cleaner may drop older tests' RDDs at any time."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _rounded(df, digits: int = 6):
    """Doubles rounded: a re-run of a sum over another partition layout
    may differ from the written value in the last bits."""
    return df.select([
        F.round(c.name, digits).alias(c.name)
        if c.dataType.typeName() == "double" else F.col(c.name)
        for c in df.schema
    ])


def test_sink_roundtrip(spark, olist_raw, tmp_path):
    """Every table's CSV and Parquet read back hold the same row multiset,
    exactly (both are written from one cached frame) and, doubles rounded,
    the source frame's; ``written`` is dims, fact, aggs in input order;
    the export leaves no persisted RDD behind; the BI contract is written
    beside the star."""
    dims, fact, aggs, names = _star(spark, olist_raw)
    sources = dict(zip(names, [*dims.values(), fact, *aggs.values()]))
    before = _persistent_rdds(spark)
    written = sinks.export_star(dims, fact, aggs, str(tmp_path))
    assert _persistent_rdds(spark) <= before
    assert written == names
    for name, src in sources.items():
        csv_back = spark.read.schema(src.schema).option("header", True).csv(
            str(tmp_path / f"{name}_csv"))
        parquet_back = spark.read.parquet(str(tmp_path / f"{name}_parquet"))
        assert csv_back.exceptAll(parquet_back).isEmpty(), name
        assert parquet_back.exceptAll(csv_back).isEmpty(), name
        assert _rounded(parquet_back).exceptAll(_rounded(src)).isEmpty(), name
        assert _rounded(src).exceptAll(_rounded(parquet_back)).isEmpty(), name
    assert os.path.exists(sinks.write_bi_contract(str(tmp_path)))


def test_export_star_keeps_caller_caches(spark, olist_raw, tmp_path):
    """persist() on a cached frame returns that frame, so the export must
    release only the caches it created, never the caller's."""
    dims, fact, aggs, _ = _star(spark, olist_raw)
    dims["date"].cache()
    fact.cache()
    try:
        sinks.export_star(dims, fact, aggs, str(tmp_path))
        assert dims["date"].storageLevel != StorageLevel.NONE
        assert fact.storageLevel != StorageLevel.NONE
        assert dims["product"].storageLevel == StorageLevel.NONE
    finally:
        dims["date"].unpersist()
        fact.unpersist()


def test_export_star_jobs_carry_caller_properties(spark, olist_raw, tmp_path):
    """Each pool task runs under its own copy of the caller's local
    properties: every export job belongs to the caller's job group, and
    every file write keeps its call site ("csv at ...", "parquet at ...")
    as its SQL execution description."""
    dims, fact, aggs, names = _star(spark, olist_raw)
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    sql_store = spark._jsparkSession.sharedState().statusStore()
    tracker = sc.statusTracker()

    def newest_executions(width: int = 256) -> list:
        bus.waitUntilEmpty()
        n = sql_store.executionsCount()
        seq = sql_store.executionsList(max(0, n - width), min(n, width))
        return [seq.apply(k) for k in range(seq.size())]

    last_id = max((e.executionId() for e in newest_executions(1)), default=-1)
    ungrouped = set(tracker.getJobIdsForGroup(None))
    group = "export-star-properties"
    sc.setJobGroup(group, None)
    try:
        sinks.export_star(dims, fact, aggs, str(tmp_path))
    finally:
        sc._jsc.clearJobGroup()
    bus.waitUntilEmpty()
    # a subset, not equality: the status store evicts its oldest jobs
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
    assert len(tracker.getJobIdsForGroup(group)) >= 2 * len(names)
    writes = [
        e for e in newest_executions()
        if e.executionId() > last_id
        and "InsertIntoHadoopFsRelationCommand" in e.physicalPlanDescription()
    ]
    assert len(writes) == 2 * len(names)
    fmts = [str(e.description()).split(" ", 1)[0] for e in writes]
    assert sorted(fmts) == ["csv"] * len(names) + ["parquet"] * len(names)


def test_export_star_failed_write_releases_caches(spark, olist_raw, tmp_path):
    """One table's failed write does not stop the others; the export
    raises it only after every write has ended and every cache it
    created is released."""
    dims, fact, aggs, names = _star(spark, olist_raw)
    aggs["broken"] = spark.range(4).where(F.assert_true(F.col("id") < 2).isNull())
    before = _persistent_rdds(spark)
    with pytest.raises(Exception, match="id < 2"):
        sinks.export_star(dims, fact, aggs, str(tmp_path))
    assert _persistent_rdds(spark) <= before
    for name in names:
        for fmt in ("csv", "parquet"):
            assert (tmp_path / f"{name}_{fmt}" / "_SUCCESS").exists(), (name, fmt)
    assert not (tmp_path / "agg_broken_parquet").exists()
