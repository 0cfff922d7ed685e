"""Core plans: the reference's operator inventory (SURVEY.md §2) re-expressed
Spark-first over the driver's TPC-H-ish tables.

Each query name carries the SURVEY §2 operator id it exercises (s=scan,
p=projection/filter, j=join, a=aggregation, f=scalar fn, t=topk, set=set op,
q=quality, dax=BI measures). Reference citations in the docstrings point at
`/root/reference/src/etl_functions.py` (abbrev. ``ef``) so parity can be
checked line by line.

Scale notes (100 TB posture):
- fact-side joins (lineitem ⨝ orders) are shuffle joins on the key, AQE
  handles skew; dimension joins carry explicit ``broadcast`` hints;
- every aggregate is a declarative groupBy → Catalyst plans partial
  (map-side) + final aggregation with whole-stage codegen;
- filters/projections sit directly over the parquet scan so they push down
  (verified in tests via ``explain``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .base import (
    Query,
    SQL_FACT,
    SQL_FREIGHT,
    SQL_PRICE,
    dsum,
    fact_sales,
    freight_dec,
    load,
    load_events,
    price_dec,
    sql_dsum,
)

# ---------------------------------------------------------------------------
# scans / projections / filters  (S1, P1-P5; ef:29-40, ef:199-202, ef:384, ...)
# ---------------------------------------------------------------------------


def q_s1_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: full scan of a small table (CSV-scan twin lives in sources/olist)."""
    return load(spark, sf_dir, "region")


def q_p1_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 column-subset projection (ef:199-202) — prunes at the parquet scan."""
    return load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")


def q_p2_filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 equality predicate (ef:384) — pushed to the scan."""
    return (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    )


def q_p3_filter_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 range predicate (ef:385, ef:116)."""
    return (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") <= 10)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


def q_p4_filter_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 membership predicate (ef:164)."""
    return (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select("o_orderkey", "o_orderpriority")
    )


def q_p5_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 schema projection / rename (ef:267, 310, ...)."""
    return load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("customer_key"),
        F.col("c_name").alias("customer_name"),
        F.col("c_mktsegment").alias("segment"),
    )


# ---------------------------------------------------------------------------
# joins (J1-J3; J4-J7 appear inside the aggregate plans)
# ---------------------------------------------------------------------------


def q_j1_left_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 small-dim left join + 'unknown' fill (ef:119-125) — broadcast hash."""
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").select(
        "r_regionkey", F.col("r_name").alias("region_name")
    )
    return (
        nation.join(
            F.broadcast(region),
            nation["n_regionkey"] == region["r_regionkey"],
            "left",
        )
        .select(
            "n_nationkey",
            "n_name",
            F.coalesce("region_name", F.lit("unknown")).alias("region_name"),
        )
    )


def q_j2_inner_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 fact assembly: items ⨝ orders(projected) (ef:214-220)."""
    return fact_sales(spark, sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        "date_id",
        F.col("price").cast("double").alias("price"),
        F.col("freight").cast("double").alias("freight"),
    )


def q_j3_left_fillzero(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 left join + fillna(0).astype(int) (ef:230-233, §1.4.9).

    Orders ⟕ per-order count of heavy lineitems; orders with none get 0,
    mirroring 'un-reviewed orders get review_score = 0'.
    """
    orders = load(spark, sf_dir, "orders").select("o_orderkey")
    heavy = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("cnt"))
    )
    return orders.join(
        heavy, orders["o_orderkey"] == heavy["l_orderkey"], "left"
    ).select(
        "o_orderkey",
        F.coalesce("cnt", F.lit(0)).cast("int").alias("heavy_items"),
    )


# ---------------------------------------------------------------------------
# the dim_date generator (F15; ef:152-172) — shared by a2
# ---------------------------------------------------------------------------


def dim_date_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15 date-range dimension: one row per day between min/max order date.

    ``sequence`` + ``explode`` over the 1-row min/max aggregate — no
    driver-side collect, and dim_date is inherently small (~2.4k rows here,
    ~36k rows even for a century), so single-partition generation is fine at
    any data scale. Columns mirror ef:152-172 with pandas weekday numbering
    (Monday=0, §1.4.5) and the yyyyMMdd surrogate key (§1.4.6).
    """
    bounds = load(spark, sf_dir, "orders").agg(
        F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi")
    )
    days = bounds.select(
        F.explode(F.sequence(F.to_date("lo"), F.to_date("hi"))).alias("d")
    )
    return days.select(
        F.date_format("d", "yyyy-MM-dd").alias("date"),
        F.date_format("d", "yyyyMMdd").cast("int").alias("id"),
        F.year("d").alias("year"),
        F.month("d").alias("month"),
        F.dayofmonth("d").alias("day"),
        F.quarter("d").alias("quarter"),
        F.weekday("d").alias("day_of_week"),
        F.weekday("d").isin(5, 6).cast("int").alias("is_weekend"),
        F.date_format("d", "MMMM").alias("month_name"),
        F.date_format("d", "EEEE").alias("day_name"),
    )


SQL_DIM_DATE = """
dim_date AS (
    SELECT strftime(d, '%Y-%m-%d')                  AS date,
           CAST(strftime(d, '%Y%m%d') AS INT)       AS id,
           CAST(year(d) AS INT)                     AS year,
           CAST(month(d) AS INT)                    AS month,
           CAST(day(d) AS INT)                      AS day,
           CAST(quarter(d) AS INT)                  AS quarter,
           CAST(isodow(d) - 1 AS INT)               AS day_of_week,
           CAST(isodow(d) - 1 IN (5, 6) AS INT)     AS is_weekend,
           monthname(d)                             AS month_name,
           dayname(d)                               AS day_name
    FROM (
        SELECT CAST(unnest(generate_series(
                   (SELECT CAST(min(o_orderdate) AS DATE) FROM orders),
                   (SELECT CAST(max(o_orderdate) AS DATE) FROM orders),
                   INTERVAL 1 DAY)) AS DATE) AS d
    )
)
"""


def q_f15_date_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dim_date_df(spark, sf_dir)


# ---------------------------------------------------------------------------
# aggregations (A1-A11; ef:256-393) — the 7 agg tables + scalar aggregates
# ---------------------------------------------------------------------------


def daily_sales_dec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 internals: daily rollup keeping DECIMAL sums (exact re-aggregation)."""
    return (
        fact_sales(spark, sf_dir, parallel=True)
        .groupBy("date_id")
        .agg(
            F.countDistinct("l_orderkey").alias("order_count"),
            F.sum("price").alias("total_sales_dec"),
            F.sum("freight").alias("total_freight_dec"),
        )
    )


def q_a1_sales_by_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 sales by day (ef:261-267): countDistinct + exact sums."""
    return daily_sales_dec(spark, sf_dir).select(
        "date_id",
        "order_count",
        F.col("total_sales_dec").cast("double").alias("total_sales"),
        F.col("total_freight_dec").cast("double").alias("total_freight"),
    )


SQL_A1 = f"""
WITH {SQL_FACT.strip().rstrip()}
SELECT date_id,
       COUNT(DISTINCT l_orderkey) AS order_count,
       {sql_dsum("price", "total_sales")},
       {sql_dsum("freight", "total_freight")}
FROM fact
GROUP BY date_id
"""


def q_a2_sales_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 monthly re-aggregation of daily partials + F9 ratios (ef:279-287).

    Faithful to the reference shape: daily rollup (A1) ⨝ dim_date (J4,
    broadcast — dim_date is tiny) → re-aggregate by (year, month, quarter).
    Exact because every date_id maps to exactly one month and the partial
    sums are DECIMAL.
    """
    daily = daily_sales_dec(spark, sf_dir)
    dim_date = dim_date_df(spark, sf_dir).select("id", "year", "month", "quarter")
    monthly = (
        daily.join(F.broadcast(dim_date), daily["date_id"] == dim_date["id"], "inner")
        .groupBy("year", "month", "quarter")
        .agg(
            F.sum("order_count").alias("order_count"),
            F.sum("total_sales_dec").alias("ts_dec"),
            F.sum("total_freight_dec").alias("tf_dec"),
        )
    )
    return monthly.select(
        "year",
        "month",
        "quarter",
        "order_count",
        F.col("ts_dec").cast("double").alias("total_sales"),
        F.col("tf_dec").cast("double").alias("total_freight"),
        (F.col("ts_dec").cast("double") / F.col("order_count")).alias("avg_order_value"),
        (
            F.col("tf_dec").cast("double") / F.col("ts_dec").cast("double") * 100
        ).alias("freight_percentage"),
    )


SQL_A2 = f"""
WITH {SQL_FACT.strip()}
SELECT CAST(year(o_orderdate) AS INT)    AS year,
       CAST(month(o_orderdate) AS INT)   AS month,
       CAST(quarter(o_orderdate) AS INT) AS quarter,
       CAST(SUM(order_count) AS BIGINT)  AS order_count,
       CAST(SUM(ts) AS DOUBLE)           AS total_sales,
       CAST(SUM(tf) AS DOUBLE)           AS total_freight,
       CAST(SUM(ts) AS DOUBLE) / CAST(SUM(order_count) AS BIGINT) AS avg_order_value,
       CAST(SUM(tf) AS DOUBLE) / CAST(SUM(ts) AS DOUBLE) * 100    AS freight_percentage
FROM (
    SELECT date_id, any_value(o_orderdate) AS o_orderdate,
           COUNT(DISTINCT l_orderkey) AS order_count,
           SUM(price) AS ts, SUM(freight) AS tf
    FROM fact
    GROUP BY date_id
)
GROUP BY 1, 2, 3
"""


def _sales_by_dim(
    fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str, group_cols: list[str]
) -> DataFrame:
    """Shared shape of A3/A4/A6 (ef:293-367): fact ⨝ broadcast dim → rollup."""
    joined = fact.join(F.broadcast(dim), fact[fact_key] == dim[dim_key], "inner")
    agg = joined.groupBy(*group_cols).agg(
        F.countDistinct("l_orderkey").alias("order_count"),
        F.sum("price").alias("ts_dec"),
        F.sum("freight").alias("tf_dec"),
    )
    return agg.select(
        *group_cols,
        "order_count",
        F.col("ts_dec").cast("double").alias("total_sales"),
        F.col("tf_dec").cast("double").alias("total_freight"),
        (
            F.col("tf_dec").cast("double") / F.col("ts_dec").cast("double") * 100
        ).alias("freight_percentage"),
    )


def q_a3_sales_by_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 sales by product category (ef:303-311); p_type plays category."""
    part = load(spark, sf_dir, "part").select("p_partkey", F.col("p_type").alias("category"))
    return _sales_by_dim(
        fact_sales(spark, sf_dir, parallel=True), part, "l_partkey", "p_partkey", ["category"]
    )


SQL_BY_DIM = f"""
SELECT {{group_sql}},
       COUNT(DISTINCT l_orderkey) AS order_count,
       {sql_dsum("price", "total_sales")},
       {sql_dsum("freight", "total_freight")},
       CAST(SUM(freight) AS DOUBLE) / CAST(SUM(price) AS DOUBLE) * 100 AS freight_percentage
FROM fact {{joins}}
GROUP BY {{group_names}}
"""

SQL_A3 = (
    f"WITH {SQL_FACT.strip()}\n"
    + SQL_BY_DIM.format(
        group_sql="p.p_type AS category",
        joins="JOIN part p ON fact.l_partkey = p.p_partkey",
        group_names="p.p_type",
    )
)


def q_a4_sales_by_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 sales by customer state (ef:327-334); nation plays state."""
    spark_df = fact_sales(spark, sf_dir, parallel=True)
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("state")
    )
    fact = spark_df.join(
        F.broadcast(cust), spark_df["o_custkey"] == cust["c_custkey"], "inner"
    ).join(F.broadcast(nation), F.col("c_nationkey") == nation["n_nationkey"], "inner")
    agg = fact.groupBy("state").agg(
        F.countDistinct("l_orderkey").alias("order_count"),
        F.sum("price").alias("ts_dec"),
        F.sum("freight").alias("tf_dec"),
    )
    return agg.select(
        "state",
        "order_count",
        F.col("ts_dec").cast("double").alias("total_sales"),
        F.col("tf_dec").cast("double").alias("total_freight"),
        (
            F.col("tf_dec").cast("double") / F.col("ts_dec").cast("double") * 100
        ).alias("freight_percentage"),
    )


SQL_A4 = (
    f"WITH {SQL_FACT.strip()}\n"
    + SQL_BY_DIM.format(
        group_sql="n.n_name AS state",
        joins=(
            "JOIN customer c ON fact.o_custkey = c.c_custkey "
            "JOIN nation n ON c.c_nationkey = n.n_nationkey"
        ),
        group_names="n.n_name",
    )
)


def q_a5_sales_by_city(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 two-key rollup + F10 concat location (ef:337-343)."""
    fact = fact_sales(spark, sf_dir, parallel=True)
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_mktsegment")
    nation = load(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("state")
    )
    joined = fact.join(
        F.broadcast(cust), fact["o_custkey"] == cust["c_custkey"], "inner"
    ).join(F.broadcast(nation), F.col("c_nationkey") == nation["n_nationkey"], "inner")
    agg = joined.groupBy("state", F.col("c_mktsegment").alias("city")).agg(
        F.countDistinct("l_orderkey").alias("order_count"),
        F.sum("price").alias("ts_dec"),
    )
    return agg.select(
        "state",
        "city",
        "order_count",
        F.col("ts_dec").cast("double").alias("total_sales"),
        F.concat(F.col("city"), F.lit(" ("), F.col("state"), F.lit(")")).alias("location"),
    )


SQL_A5 = f"""
WITH {SQL_FACT.strip()}
SELECT n.n_name AS state,
       c.c_mktsegment AS city,
       COUNT(DISTINCT l_orderkey) AS order_count,
       {sql_dsum("price", "total_sales")},
       c.c_mktsegment || ' (' || n.n_name || ')' AS location
FROM fact
JOIN customer c ON fact.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name, c.c_mktsegment
"""


def q_a6_sales_by_seller(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 sales by seller (ef:360-367); supplier plays seller."""
    supp = load(spark, sf_dir, "supplier").select(
        "s_suppkey", F.col("s_name").alias("seller_name")
    )
    return _sales_by_dim(
        fact_sales(spark, sf_dir, parallel=True), supp, "l_suppkey", "s_suppkey", ["s_suppkey", "seller_name"]
    )


SQL_A6 = (
    f"WITH {SQL_FACT.strip()}\n"
    + SQL_BY_DIM.format(
        group_sql="s.s_suppkey, s.s_name AS seller_name",
        joins="JOIN supplier s ON fact.l_suppkey = s.s_suppkey",
        group_names="s.s_suppkey, s.s_name",
    )
)


def q_a7_review_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 distribution by small-int score (ef:374-379); linenumber plays score."""
    return (
        fact_sales(spark, sf_dir, parallel=True)
        .groupBy(F.col("l_linenumber").alias("score"))
        .agg(
            F.countDistinct("l_orderkey").alias("order_count"),
            dsum(F.col("price"), "total_sales"),
        )
    )


SQL_A7 = f"""
WITH {SQL_FACT.strip()}
SELECT l_linenumber AS score,
       COUNT(DISTINCT l_orderkey) AS order_count,
       {sql_dsum("price", "total_sales")}
FROM fact
GROUP BY l_linenumber
"""


def q_a8_global_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 global min/max timestamps (ef:149-150)."""
    return load(spark, sf_dir, "orders").agg(
        F.min("o_orderdate").alias("min_date"), F.max("o_orderdate").alias("max_date")
    )


def q_a9_nps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9+F14 conditional sums → NPS scalar (ef:383-389).

    Pseudo review score := o_orderkey % 6 (0-5); score 0 counts as
    detractor exactly like the reference's zero-filled unreviewed orders
    (§1.4.9).
    """
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", (F.col("o_orderkey") % 6).cast("int").alias("score")
    )
    agg = orders.agg(
        F.sum((F.col("score") == 5).cast("bigint")).alias("promoters"),
        F.sum((F.col("score") <= 3).cast("bigint")).alias("detractors"),
        F.count("*").alias("total"),
    )
    return agg.select(
        "promoters",
        "detractors",
        "total",
        (
            (F.col("promoters") - F.col("detractors")) / F.col("total") * 100
        ).alias("nps"),
    )


SQL_A9 = """
WITH s AS (SELECT CAST(o_orderkey % 6 AS INT) AS score FROM orders)
SELECT CAST(SUM(CAST(score = 5 AS INT)) AS BIGINT)  AS promoters,
       CAST(SUM(CAST(score <= 3 AS INT)) AS BIGINT) AS detractors,
       COUNT(*)                                     AS total,
       (CAST(SUM(CAST(score = 5 AS INT)) AS BIGINT)
        - CAST(SUM(CAST(score <= 3 AS INT)) AS BIGINT)) / COUNT(*) * 100 AS nps
FROM s
"""


def q_a10_count_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 count-by-value (notebook countplot, nb cells 23/25)."""
    return load(spark, sf_dir, "orders").groupBy("o_orderstatus").agg(
        F.count("*").alias("cnt")
    )


def q_a11_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 distinct values (nb cell 21)."""
    return load(spark, sf_dir, "customer").select("c_mktsegment").distinct()


# ---------------------------------------------------------------------------
# scalar / derived-column functions (F1-F8, F11; ef:71-116)
# ---------------------------------------------------------------------------


def q_f1_to_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 string→timestamp with null-on-failure (ef:71-82, §1.4.1).

    ``try_to_timestamp`` keeps coerce semantics even under an ANSI session.
    """
    ev = load_events(spark, sf_dir).select(
        "event_id", F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("raw")
    )
    ev = ev.withColumn(
        "raw",
        F.when(F.col("event_id") % 10 == 0, F.lit("not-a-timestamp")).otherwise(
            F.col("raw")
        ),
    )
    return ev.select("event_id", "raw", F.try_to_timestamp("raw").alias("parsed"))


SQL_F1 = """
WITH t AS (
    SELECT event_id,
           CASE WHEN event_id % 10 = 0 THEN 'not-a-timestamp'
                ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END AS raw
    FROM events
)
SELECT event_id, raw, TRY_CAST(raw AS TIMESTAMP) AS parsed FROM t
"""


def _nullified_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 3, None)
        .otherwise(F.col("c_acctbal"))
        .alias("v"),
    )


def q_f2_median_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 exact-median imputation (ef:86-88, §1.4.2).

    pandas' exact median (linear interpolation between the two middle
    values) computed explicitly as avg of the middle one/two elements so
    Spark and the oracle agree bit-for-bit.

    SINGLE-REDUCER BY CONSTRUCTION — parity query, not the scale path:
    the global ``Window.orderBy`` funnels every non-null value through
    one task, which is the faithful mapping of pandas' interpolated
    median (SURVEY §1.4.2) and fine at dashboard scale. At 100 TB swap
    in the sketch: ``approx_percentile(col, 0.5)`` (ax2's
    Greenwald-Khanna formulation — distributed, mergeable, error-bounded)
    or, when exactness is mandatory per GROUP, a14's per-key rank window
    (parallel across keys). Same caveat applies to the per-table
    ``percentile(c, 0.5)`` in operators/transform.py:fill_missing.
    """
    t = _nullified_acctbal(spark, sf_dir)
    nn = t.filter(F.col("v").isNotNull())
    w = Window.orderBy("v", "c_custkey")
    ranked = nn.select(
        "v",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    mid = ranked.filter(
        (F.col("rn") == F.floor((F.col("n") + 1) / 2))
        | (F.col("rn") == F.floor((F.col("n") + 2) / 2))
    )
    med = mid.agg((F.sum("v") / F.count("*")).alias("m"))
    return t.crossJoin(F.broadcast(med)).select(
        "c_custkey", F.coalesce("v", "m").alias("acctbal_filled")
    )


SQL_F2 = """
WITH t AS (
    SELECT c_custkey,
           CASE WHEN c_custkey % 7 = 3 THEN NULL ELSE c_acctbal END AS v
    FROM customer
),
ranked AS (
    SELECT v, ROW_NUMBER() OVER (ORDER BY v, c_custkey) AS rn,
           COUNT(*) OVER () AS n
    FROM t WHERE v IS NOT NULL
),
med AS (
    SELECT SUM(v) / COUNT(*) AS m FROM ranked
    WHERE rn = CAST(FLOOR((n + 1) / 2.0) AS BIGINT)
       OR rn = CAST(FLOOR((n + 2) / 2.0) AS BIGINT)
)
SELECT c_custkey, COALESCE(v, (SELECT m FROM med)) AS acctbal_filled FROM t
"""


def q_f3_string_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 string NaN → 'unknown' (ef:90-92)."""
    t = load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_custkey") % 5 == 0, None)
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
    )
    return t.na.fill({"seg": "unknown"})


SQL_F3 = """
SELECT c_custkey,
       COALESCE(CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_mktsegment END,
                'unknown') AS seg
FROM customer
"""


def q_f4_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4/F7/F8 date parts with pandas weekday numbering (ef:97-101, 159-166)."""
    o = load(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("year"),
        F.month(d).alias("month"),
        F.dayofmonth(d).alias("day"),
        F.quarter(d).alias("quarter"),
        F.weekday(d).alias("day_of_week"),
        F.weekday(d).isin(5, 6).cast("int").alias("is_weekend"),
        F.date_format(d, "MMMM").alias("month_name"),
        F.date_format(d, "EEEE").alias("day_name"),
        F.date_format(d, "yyyyMMdd").cast("int").alias("date_id"),
    )


SQL_F4 = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INT)                 AS year,
       CAST(month(o_orderdate) AS INT)                AS month,
       CAST(day(o_orderdate) AS INT)                  AS day,
       CAST(quarter(o_orderdate) AS INT)              AS quarter,
       CAST(isodow(o_orderdate) - 1 AS INT)           AS day_of_week,
       CAST(isodow(o_orderdate) - 1 IN (5, 6) AS INT) AS is_weekend,
       monthname(o_orderdate)                         AS month_name,
       dayname(o_orderdate)                           AS day_name,
       CAST(strftime(o_orderdate, '%Y%m%d') AS INT)   AS date_id
FROM orders
"""


def q_f5_days_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 timestamp difference in fractional days (ef:104-113, §1.4.7).

    Microsecond-exact: integer micros difference / 86400e6 (same double op
    on both engines).
    """
    base = "2024-01-01 00:00:00"
    ev = load_events(spark, sf_dir)
    return ev.select(
        "event_id",
        (
            (F.unix_micros(F.col("ts")) - F.unix_micros(F.to_timestamp(F.lit(base))))
            / 86400000000.0
        ).alias("days_since_start"),
    )


SQL_F5 = """
SELECT event_id,
       (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00')) / 86400000000.0
           AS days_since_start
FROM events
"""


def q_f6_flag_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 NaN <= 0 → False flag (ef:116, §1.4.3)."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 11 == 0, None)
        .otherwise((F.col("o_orderkey") % 7 - 3).cast("int"))
        .alias("delay_days"),
    )
    return o.select(
        "o_orderkey",
        "delay_days",
        F.coalesce(F.col("delay_days") <= 0, F.lit(False)).alias("on_time"),
    )


SQL_F6 = """
WITH t AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 11 = 0 THEN NULL
                ELSE CAST(o_orderkey % 7 - 3 AS INT) END AS delay_days
    FROM orders
)
SELECT o_orderkey, delay_days,
       COALESCE(delay_days <= 0, FALSE) AS on_time
FROM t
"""


# ---------------------------------------------------------------------------
# sorts / top-k (T1-T2; nb cells 23/25)
# ---------------------------------------------------------------------------


def q_t1_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 top-10 by measure (nb cell 23) — plans as TakeOrderedAndProject.

    Deterministic: exact decimal sums + brand tie-break.
    """
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    fact = fact_sales(spark, sf_dir)
    agg = (
        fact.join(F.broadcast(part), fact["l_partkey"] == part["p_partkey"], "inner")
        .groupBy("p_brand")
        .agg(F.sum("price").alias("ts_dec"))
        .select("p_brand", F.col("ts_dec").cast("double").alias("total_sales"))
    )
    return agg.orderBy(F.desc("total_sales"), "p_brand").limit(10)


SQL_T1 = f"""
WITH {SQL_FACT.strip()}
SELECT p.p_brand, {sql_dsum("price", "total_sales")}
FROM fact JOIN part p ON fact.l_partkey = p.p_partkey
GROUP BY p.p_brand
ORDER BY total_sales DESC, p.p_brand
LIMIT 10
"""


def q_t2_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 deterministic preview limit (nb cells 10/12/16)."""
    return load(spark, sf_dir, "nation").orderBy("n_nationkey").limit(5)


def q_t3_keyset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset pagination (page 3, rows 41-60, of orders under the total
    order (o_orderdate, o_orderkey)) — the scale-correct form of
    OFFSET/LIMIT: instead of skip-scanning 40 rows (OFFSET cost grows
    linearly with page number and re-sorts the prefix every page), the
    page boundary key is fetched with a bounded top-40 (plans as
    TakeOrderedAndProject, never a full sort) and page 3 is a pushdown-
    friendly range filter + top-20 — constant cost per page at any
    depth. The oracle IS the naive ORDER BY .. LIMIT 20 OFFSET 40, so
    the driver hash gate proves keyset ≡ offset row-for-row (the
    equivalence every paginated API silently assumes).
    """
    o = load(spark, sf_dir, "orders")
    key = F.struct(F.col("o_orderdate"), F.col("o_orderkey"))
    boundary = (
        o.orderBy("o_orderdate", "o_orderkey")
        .limit(40)
        .agg(F.max(key).alias("b"))
    )
    return (
        o.crossJoin(F.broadcast(boundary))
        .filter(key > F.col("b"))
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .orderBy("o_orderdate", "o_orderkey")
        .limit(20)
    )


SQL_T3 = """
SELECT o_orderkey, o_orderdate, o_totalprice
FROM orders
ORDER BY o_orderdate, o_orderkey
LIMIT 20 OFFSET 40
"""


# ---------------------------------------------------------------------------
# set operations (§2.7 — beyond-reference completeness)
# ---------------------------------------------------------------------------


def _seg_sets(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    c = load(spark, sf_dir, "customer")
    return (
        c.filter(F.col("c_mktsegment") == "FURNITURE").select("c_custkey"),
        c.filter(F.col("c_acctbal") > 7500).select("c_custkey"),
    )


def q_set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _seg_sets(spark, sf_dir)
    return a.union(b).distinct()


def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _seg_sets(spark, sf_dir)
    return a.intersect(b)


def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _seg_sets(spark, sf_dir)
    return a.subtract(b)


_SQL_SETS = {
    "union": "UNION",
    "intersect": "INTERSECT",
    "except": "EXCEPT",
}


def _sql_set(op: str) -> str:
    return f"""
SELECT c_custkey FROM customer WHERE c_mktsegment = 'FURNITURE'
{_SQL_SETS[op]}
SELECT c_custkey FROM customer WHERE c_acctbal > 7500
"""


# ---------------------------------------------------------------------------
# data-quality operators (Q1-Q3; nb cell 21)
# ---------------------------------------------------------------------------


def q_q1_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 FK containment as a left-anti join: customers with no urgent
    orders (the restriction keeps the result non-empty at every SF, so the
    oracle check is non-trivial; the unrestricted FK audit lives in
    operators/quality.py and is asserted empty in tests)."""
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    urgent = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return cust.join(urgent, cust["c_custkey"] == urgent["o_custkey"], "left_anti")


SQL_Q1 = """
SELECT c_custkey FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
"""


def q_q2_null_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 null audit: per-column null counts in one aggregation pass."""
    t = load(spark, sf_dir, "customer").select(
        F.when(F.col("c_custkey") % 7 == 3, None).otherwise(F.col("c_acctbal")).alias("v1"),
        F.when(F.col("c_custkey") % 5 == 0, None).otherwise(F.col("c_mktsegment")).alias("v2"),
    )
    return t.agg(
        F.sum(F.col("v1").isNull().cast("bigint")).alias("nulls_acctbal"),
        F.sum(F.col("v2").isNull().cast("bigint")).alias("nulls_segment"),
    )


SQL_Q2 = """
SELECT CAST(SUM(CAST(v1 IS NULL AS INT)) AS BIGINT) AS nulls_acctbal,
       CAST(SUM(CAST(v2 IS NULL AS INT)) AS BIGINT) AS nulls_segment
FROM (
    SELECT CASE WHEN c_custkey % 7 = 3 THEN NULL ELSE c_acctbal END AS v1,
           CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_mktsegment END AS v2
    FROM customer
)
"""


def q_q3_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 fact-vs-aggregate sum reconciliation (nb cell 21) — exact, diff 0."""
    fact_total = fact_sales(spark, sf_dir).agg(F.sum("price").alias("t1"))
    agg_total = daily_sales_dec(spark, sf_dir).agg(F.sum("total_sales_dec").alias("t2"))
    return fact_total.crossJoin(agg_total).select(
        F.col("t1").cast("double").alias("fact_total"),
        F.col("t2").cast("double").alias("agg_total"),
        F.abs(F.col("t1") - F.col("t2")).cast("double").alias("abs_diff"),
    )


SQL_Q3 = f"""
WITH {SQL_FACT.strip()},
daily AS (SELECT date_id, SUM(price) AS ts FROM fact GROUP BY date_id)
SELECT CAST((SELECT SUM(price) FROM fact) AS DOUBLE) AS fact_total,
       CAST((SELECT SUM(ts) FROM daily) AS DOUBLE)   AS agg_total,
       CAST(abs((SELECT SUM(price) FROM fact) - (SELECT SUM(ts) FROM daily))
            AS DOUBLE) AS abs_diff
"""


def q_q4_shape_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape report (nb cells 5/7/8/14): rows × cols per table.

    Column counts come from the schema (free); row counts are one
    metadata-only parquet count per table — Spark answers these from
    footer statistics without scanning data.
    """
    tables = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem"]
    parts = []
    for t in tables:
        df = load(spark, sf_dir, t)
        parts.append(
            df.agg(
                F.lit(t).alias("table_name"),
                F.count("*").alias("n_rows"),
                F.lit(len(df.columns)).cast("int").alias("n_cols"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


SQL_Q4 = """
SELECT 'region' AS table_name, COUNT(*) AS n_rows, 2 AS n_cols FROM region
UNION ALL SELECT 'nation', COUNT(*), 3 FROM nation
UNION ALL SELECT 'customer', COUNT(*), 5 FROM customer
UNION ALL SELECT 'supplier', COUNT(*), 4 FROM supplier
UNION ALL SELECT 'part', COUNT(*), 6 FROM part
UNION ALL SELECT 'orders', COUNT(*), 6 FROM orders
UNION ALL SELECT 'lineitem', COUNT(*), 11 FROM lineitem
"""


# ---------------------------------------------------------------------------
# BI-layer measures (§2.10; ef:499-505) — the DAX surface answered natively
# ---------------------------------------------------------------------------


def q_dax_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10: Total Vendas / Total Frete / Número de Pedidos / Ticket Médio /
    Percentual de Frete as one scalar row."""
    agg = fact_sales(spark, sf_dir, parallel=True).agg(
        F.sum("price").alias("ts_dec"),
        F.sum("freight").alias("tf_dec"),
        F.countDistinct("l_orderkey").alias("order_count"),
    )
    return agg.select(
        F.col("ts_dec").cast("double").alias("total_sales"),
        F.col("tf_dec").cast("double").alias("total_freight"),
        "order_count",
        (F.col("ts_dec").cast("double") / F.col("order_count")).alias("avg_ticket"),
        (
            F.col("tf_dec").cast("double") / F.col("ts_dec").cast("double") * 100
        ).alias("freight_percentage"),
    )


SQL_DAX = f"""
WITH {SQL_FACT.strip()}
SELECT {sql_dsum("price", "total_sales")},
       {sql_dsum("freight", "total_freight")},
       COUNT(DISTINCT l_orderkey) AS order_count,
       CAST(SUM(price) AS DOUBLE) / COUNT(DISTINCT l_orderkey) AS avg_ticket,
       CAST(SUM(freight) AS DOUBLE) / CAST(SUM(price) AS DOUBLE) * 100
           AS freight_percentage
FROM fact
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def _fk_audit_rel(
    name: str, child: DataFrame, fk: str, parent: DataFrame, pk: str
) -> DataFrame:
    """One FK relationship's audit row — see q_q9_fk_audit. Module-level
    so the empty-input contract (all-zero row, not NULLs) is pinned
    directly by the tests' TestFkAuditEmptyInputs class.

    Measured NON-change: routing the child side through
    ensure_parallelism (the single-task-scan fix) was NEUTRAL
    interleaved-probed (before 1.50–1.81 s, after 1.58 s) — the child
    partial agg is a plain count-by-long-key whose map-side hashmap is
    already cheap, so the extra raw-key exchange buys nothing locally
    and the plan was left in its minimal 2-exchange-per-edge form."""
    ca = child.groupBy(F.col(fk).alias("k")).agg(
        F.count("*").alias("n_rows")
    )
    par = (
        parent.select(F.col(pk).alias("k"))
        .distinct()
        .withColumn("_p", F.lit(1))
    )
    # coalesce(0): SUM over an EMPTY join output is NULL, but when
    # both child and parent are empty the report must say 0 parents
    # / 0 referenced / 0 orphans, as a count(*) shape would
    # (unreachable on TPC-H loads, but the helper's contract must not
    # depend on the plan shape)
    stats = ca.join(par, "k", "full_outer").agg(
        F.coalesce(
            F.sum(F.when(F.col("_p").isNotNull(), 1).otherwise(0)),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_parent"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("_p").isNotNull() & F.col("n_rows").isNotNull(),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_referenced"),
        F.coalesce(
            F.sum(
                F.when(F.col("_p").isNull(), F.col("n_rows")).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_orphans"),
    )
    return stats.select(
        F.lit(name).alias("relationship"),
        "n_parent",
        "n_referenced",
        "n_orphans",
        (
            F.col("n_referenced").cast("double")
            / F.col("n_parent").cast("double")
        ).alias("coverage"),
    )


def q_q9_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-star referential-integrity report: every FK relationship in
    the schema audited in ONE query — per relationship, the parent key
    count, how many parents are actually referenced, the dangling-child
    count, and the coverage ratio (dead dimension members are a real DQ
    smell even when orphans are zero). Generalizes q1's single-edge
    anti-join to the full constellation.

    Each relationship costs ONE pass over the child (groupBy the FK —
    the same shuffle a distinct would pay, but carrying the per-key row
    count) and one over the parent (distinct PK), full-outer-joined on
    the key so every metric falls out of a single classify-aggregate:
    parent-side keys count n_parent, both-sides keys n_referenced, and
    child-only keys contribute their ROW counts to n_orphans (NULL FKs
    never equi-match, so they land child-only — exactly the anti-join
    semantics). The join reuses the aggregation's key partitioning (no
    extra exchange under AQE), and the 7 one-row results union
    driver-side-free. Coverage divides two exact BIGINTs.

    (A semi-join + anti-join + re-count shape would scan the child
    twice and the parent three times per edge — 35 scans / 49 shuffles
    for the report; this form is 14 scans and one keyed join per edge with
    identical semantics, the difference between 2 and 5 passes over a
    100 TB fact per audited relationship.)
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    part = load(spark, sf_dir, "part")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    frames = [
        _fk_audit_rel("lineitem.l_orderkey->orders", li, "l_orderkey", orders, "o_orderkey"),
        _fk_audit_rel("lineitem.l_partkey->part", li, "l_partkey", part, "p_partkey"),
        _fk_audit_rel("lineitem.l_suppkey->supplier", li, "l_suppkey", supp, "s_suppkey"),
        _fk_audit_rel("orders.o_custkey->customer", orders, "o_custkey", cust, "c_custkey"),
        _fk_audit_rel("customer.c_nationkey->nation", cust, "c_nationkey", nation, "n_nationkey"),
        _fk_audit_rel("supplier.s_nationkey->nation", supp, "s_nationkey", nation, "n_nationkey"),
        _fk_audit_rel("nation.n_regionkey->region", nation, "n_regionkey", region, "r_regionkey"),
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _q9_rel_sql(name: str, child: str, fk: str, parent: str, pk: str) -> str:
    return f"""
SELECT '{name}' AS relationship,
       (SELECT CAST(COUNT(DISTINCT {pk}) AS BIGINT) FROM {parent}) AS n_parent,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM
           (SELECT DISTINCT {fk} AS k FROM {child}) c
        WHERE EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = c.k))
           AS n_referenced,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM {child} c
        WHERE NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk}))
           AS n_orphans,
       CAST((SELECT COUNT(*) FROM (SELECT DISTINCT {fk} AS k FROM {child}) c
             WHERE EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = c.k))
            AS DOUBLE)
           / CAST((SELECT COUNT(DISTINCT {pk}) FROM {parent}) AS DOUBLE)
           AS coverage
"""


SQL_Q9 = " UNION ALL ".join([
    _q9_rel_sql("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    _q9_rel_sql("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    _q9_rel_sql("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    _q9_rel_sql("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    _q9_rel_sql("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    _q9_rel_sql("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    _q9_rel_sql("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
])


QUERIES: list[Query] = [
    Query("s1_scan", q_s1_scan, "SELECT * FROM region", "S1 parquet scan"),
    Query(
        "p1_projection",
        q_p1_projection,
        "SELECT o_orderkey, o_custkey, o_orderdate FROM orders",
        "P1 projection",
    ),
    Query(
        "p2_filter_eq",
        q_p2_filter_eq,
        "SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag "
        "FROM lineitem WHERE l_returnflag = 'R'",
        "P2 equality filter",
    ),
    Query(
        "p3_filter_range",
        q_p3_filter_range,
        "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity <= 10",
        "P3 range filter",
    ),
    Query(
        "p4_filter_in",
        q_p4_filter_in,
        "SELECT o_orderkey, o_orderpriority FROM orders "
        "WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')",
        "P4 IN filter",
    ),
    Query(
        "p5_rename",
        q_p5_rename,
        "SELECT c_custkey AS customer_key, c_name AS customer_name, "
        "c_mktsegment AS segment FROM customer",
        "P5 rename projection",
    ),
    Query(
        "j1_left_broadcast",
        q_j1_left_broadcast,
        "SELECT n_nationkey, n_name, COALESCE(r.r_name, 'unknown') AS region_name "
        "FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey",
        "J1 broadcast left join + fill",
    ),
    Query(
        "j2_inner_fact",
        q_j2_inner_fact,
        f"WITH {SQL_FACT.strip()} SELECT l_orderkey, l_linenumber, date_id, "
        "CAST(price AS DOUBLE) AS price, CAST(freight AS DOUBLE) AS freight FROM fact",
        "J2 fact assembly join",
    ),
    Query(
        "j3_left_fillzero",
        q_j3_left_fillzero,
        """
SELECT o.o_orderkey, CAST(COALESCE(h.cnt, 0) AS INT) AS heavy_items
FROM orders o LEFT JOIN (
    SELECT l_orderkey, COUNT(*) AS cnt FROM lineitem WHERE l_quantity > 45
    GROUP BY l_orderkey
) h ON o.o_orderkey = h.l_orderkey
""",
        "J3 left join + zero-fill",
    ),
    Query("a1_sales_by_date", q_a1_sales_by_date, SQL_A1, "A1 daily rollup"),
    Query("a2_sales_by_month", q_a2_sales_by_month, SQL_A2, "A2 monthly re-agg + F9 ratios"),
    Query("a3_sales_by_category", q_a3_sales_by_category, SQL_A3, "A3 by category (J5)"),
    Query("a4_sales_by_state", q_a4_sales_by_state, SQL_A4, "A4 by state (J6)"),
    Query("a5_sales_by_city", q_a5_sales_by_city, SQL_A5, "A5 two-key + F10 concat"),
    Query("a6_sales_by_seller", q_a6_sales_by_seller, SQL_A6, "A6 by seller (J7)"),
    Query("a7_review_distribution", q_a7_review_distribution, SQL_A7, "A7 score distribution"),
    Query(
        "a8_global_minmax",
        q_a8_global_minmax,
        "SELECT min(o_orderdate) AS min_date, max(o_orderdate) AS max_date FROM orders",
        "A8 global min/max",
    ),
    Query("a9_nps", q_a9_nps, SQL_A9, "A9+F14 NPS conditional sums"),
    Query(
        "a10_count_by_value",
        q_a10_count_by_value,
        "SELECT o_orderstatus, COUNT(*) AS cnt FROM orders GROUP BY o_orderstatus",
        "A10 count-by-value",
    ),
    Query(
        "a11_distinct",
        q_a11_distinct,
        "SELECT DISTINCT c_mktsegment FROM customer",
        "A11 distinct values",
    ),
    Query("f1_to_timestamp", q_f1_to_timestamp, SQL_F1, "F1 coercing parse"),
    Query("f2_median_impute", q_f2_median_impute, SQL_F2, "F2 exact-median fill"),
    Query("f3_string_impute", q_f3_string_impute, SQL_F3, "F3 string fill"),
    Query("f4_date_parts", q_f4_date_parts, SQL_F4, "F4/F7/F8 date parts"),
    Query("f5_days_between", q_f5_days_between, SQL_F5, "F5 fractional-day diff"),
    Query("f6_flag_coalesce", q_f6_flag_coalesce, SQL_F6, "F6 NaN<=0 → False"),
    Query(
        "f15_date_dim",
        q_f15_date_dim,
        f"WITH {SQL_DIM_DATE.strip()} SELECT * FROM dim_date",
        "F15 dim_date generator",
    ),
    Query("t1_topk", q_t1_topk, SQL_T1, "T1 top-10 by measure"),
    Query(
        "t2_limit",
        q_t2_limit,
        "SELECT * FROM nation ORDER BY n_nationkey LIMIT 5",
        "T2 deterministic limit",
    ),
    Query("set_union", q_set_union, _sql_set("union"), "set union distinct"),
    Query("set_intersect", q_set_intersect, _sql_set("intersect"), "set intersect"),
    Query("set_except", q_set_except, _sql_set("except"), "set except"),
    Query("q1_fk_orphans", q_q1_fk_orphans, SQL_Q1, "Q1 anti-join FK check"),
    Query("q9_fk_audit", q_q9_fk_audit, SQL_Q9,
          "whole-star FK integrity + coverage report"),
    Query("t3_keyset_page", q_t3_keyset_page, SQL_T3,
          "keyset pagination ≡ OFFSET/LIMIT (constant-cost pages)"),
    Query("q2_null_audit", q_q2_null_audit, SQL_Q2, "Q2 null audit"),
    Query("q3_reconciliation", q_q3_reconciliation, SQL_Q3, "Q3 sum reconciliation"),
    Query("q4_shape_report", q_q4_shape_report, SQL_Q4, "Q4 rows × cols per table"),
    Query("dax_measures", q_dax_measures, SQL_DAX, "§2.10 DAX measures"),
]
