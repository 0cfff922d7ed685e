"""SQL entry point: the DAX measure surface answered via spark.sql over
the registered star views, cross-checked against the DataFrame plans."""

from __future__ import annotations

import pytest

from etl_power_bi_dashboard_spark import views
from etl_power_bi_dashboard_spark.pipeline import run_pipeline


@pytest.fixture(scope="module")
def star(spark, olist_raw):
    dims, fact, aggs = run_pipeline(spark, olist_raw)
    views.register_star_views(spark, dims, fact)
    return dims, fact, aggs


def test_measures_match_dataframe_path(spark, star):
    dims, fact, aggs = star
    row = views.answer_measures(spark).first()
    from pyspark.sql import functions as F

    want = fact.agg(
        F.sum("price").alias("ts"),
        F.sum("freight_value").alias("tf"),
        F.countDistinct("order_id").alias("oc"),
    ).first()
    assert row.order_count == want.oc
    assert abs(row.total_sales - want.ts) < 1e-6
    assert abs(row.avg_ticket - want.ts / want.oc) < 1e-9


def test_measures_by_period_reconciles(spark, star):
    dims, fact, aggs = star
    per = views.measures_by_period(spark)
    total = per.groupBy().sum("total_sales").first()[0]
    monthly_total = aggs["sales_by_date"].groupBy().sum("total_sales").first()[0]
    assert abs(total - monthly_total) < 1e-6
