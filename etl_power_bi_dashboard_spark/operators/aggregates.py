"""Aggregate-table stage (reference `src/etl_functions.py:240-393`): the
six downstream BI tables.

Every rollup is a declarative groupBy → Catalyst plans partial (map-side) +
final hash aggregation; dimension joins are broadcast. The monthly table
re-aggregates the daily rollup exactly like the reference (safe: each order
maps to one date_id). pandas drops NULL group keys (`groupby(dropna=True)`)
— reproduced with an explicit filter where a key can be NULL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def _sales_aggs() -> list:
    return [
        F.countDistinct("order_id").alias("order_count"),
        F.sum("price").alias("total_sales"),
        F.sum("freight_value").alias("total_freight"),
    ]


def _avg_order_value(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "avg_order_value", F.col("total_sales") / F.col("order_count")
    )


def sales_by_month(fact: DataFrame, dim_date: DataFrame) -> DataFrame:
    """A1 daily rollup → J4 date join → A2 monthly re-agg → F9 ratios
    (ef:258-289). Exported as `sales_by_date` (reference naming)."""
    daily = fact.groupBy("date_id").agg(*_sales_aggs())
    joined = daily.join(
        F.broadcast(dim_date.select("id", "year", "month", "quarter")),
        daily["date_id"] == F.col("id"),
        "inner",
    )
    monthly = joined.groupBy("year", "month", "quarter").agg(
        F.sum("order_count").alias("order_count"),
        F.sum("total_sales").alias("total_sales"),
        F.sum("total_freight").alias("total_freight"),
    )
    return _avg_order_value(monthly).withColumn(
        "freight_percentage",
        (F.col("total_freight") / F.col("total_sales")) * 100,
    )


def sales_by_category(fact: DataFrame, dim_product: DataFrame) -> DataFrame:
    """J5 + A3 (ef:292-313) by the english category, which
    `create_dimensional_model` always provides (translated, or the
    Portuguese name when the translation table is absent)."""
    key = F.col("product_category_name_english")
    joined = fact.join(
        F.broadcast(dim_product.select("id", key)),
        fact["product_id"] == F.col("id"),
        "inner",
    )
    agg = (
        joined.filter(key.isNotNull())  # pandas groupby drops NaN keys
        .groupBy(key.alias("category_name"))
        .agg(*_sales_aggs())
    )
    return _avg_order_value(agg)


def sales_by_state(fact: DataFrame, dim_customer: DataFrame) -> DataFrame:
    """J6 + A4 (ef:316-334). Exported as `sales_by_location`."""
    joined = fact.join(
        F.broadcast(dim_customer.select("id", "customer_state", "customer_city")),
        fact["customer_id"] == F.col("id"),
        "inner",
    )
    agg = joined.groupBy(F.col("customer_state").alias("state")).agg(*_sales_aggs())
    return _avg_order_value(agg)


def sales_by_city(fact: DataFrame, dim_customer: DataFrame) -> DataFrame:
    """A5 two-key rollup + F10 location concat (ef:336-343)."""
    joined = fact.join(
        F.broadcast(dim_customer.select("id", "customer_state", "customer_city")),
        fact["customer_id"] == F.col("id"),
        "inner",
    )
    agg = joined.groupBy(
        F.col("customer_state").alias("state"), F.col("customer_city").alias("city")
    ).agg(
        F.countDistinct("order_id").alias("order_count"),
        F.sum("price").alias("total_sales"),
    )
    return agg.withColumn(
        "location", F.concat(F.col("city"), F.lit(" ("), F.col("state"), F.lit(")"))
    )


def sales_by_seller(fact: DataFrame, dim_seller: DataFrame) -> DataFrame:
    """J7 + A6 (ef:349-369)."""
    joined = fact.join(
        F.broadcast(dim_seller.select("id", "seller_state", "seller_city")),
        fact["seller_id"] == F.col("id"),
        "inner",
    )
    agg = joined.groupBy(fact["seller_id"]).agg(*_sales_aggs())
    return _avg_order_value(agg)


def review_metrics(fact: DataFrame) -> DataFrame:
    """A7 score distribution + F14 NPS scalar broadcast (ef:371-391).

    Score 0 (zero-filled unreviewed orders) counts as a detractor
    (<= 3), preserving §1.4.9. The NPS scalar is attached to every row
    via a broadcast cross join of the 1-row aggregate — no collect.
    """
    metrics = fact.groupBy("review_score").agg(
        F.countDistinct("order_id").alias("order_count"),
        F.sum("price").alias("total_sales"),
    )
    nps = metrics.agg(
        (
            F.sum(F.when(F.col("review_score") == 5, F.col("order_count")).otherwise(0))
            / F.sum("order_count")
            * 100
            - F.sum(F.when(F.col("review_score") <= 3, F.col("order_count")).otherwise(0))
            / F.sum("order_count")
            * 100
        ).alias("nps")
    )
    return metrics.crossJoin(F.broadcast(nps))


def create_aggregated_tables(
    fact: DataFrame, dims: dict[str, DataFrame]
) -> dict[str, DataFrame]:
    """The 6 aggregate tables, keyed by their export names (ef:240-393)."""
    out: dict[str, DataFrame] = {}
    if "date" in dims:
        out["sales_by_date"] = sales_by_month(fact, dims["date"])
    if "product" in dims:
        out["sales_by_category"] = sales_by_category(fact, dims["product"])
    if "customer" in dims:
        out["sales_by_location"] = sales_by_state(fact, dims["customer"])
        out["sales_by_city"] = sales_by_city(fact, dims["customer"])
    if "seller" in dims:
        out["sales_by_seller"] = sales_by_seller(fact, dims["seller"])
    if "review_score" in fact.columns:
        out["review_metrics"] = review_metrics(fact)
    return out
