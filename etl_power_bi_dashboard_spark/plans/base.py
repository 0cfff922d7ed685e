"""Plan-registry foundation.

Every capability from SURVEY.md §2 (and every extension operator) is
registered as a :class:`Query` — a named pair of

- ``spark``: ``(SparkSession, sf_dir) -> DataFrame`` building a lazy,
  Catalyst-optimizable plan over the driver parquet tables, and
- ``oracle``: an equivalent ANSI SQL string DuckDB can run on the same
  tables (``None`` only for genuinely non-SQL-expressible operators).

Exactness convention (so order-insensitive value hashes match bit-for-bit
between Spark and DuckDB):

- money aggregates are summed as DECIMAL (exact, association-independent)
  and cast to DOUBLE at the end — ``CAST(SUM(CAST(x AS DECIMAL)) AS
  DOUBLE)`` — never summed as floating point, where partial-aggregation
  order would make the two engines disagree in the last bits;
- ratios divide two such exact doubles (IEEE ops are deterministic);
- integer-valued keys are cast to explicit INT/BIGINT on both sides.

The "Olist role mapping" onto the TPC-H-ish driver tables (FIXTURES.md §3):
orders+lineitem ↔ orders+order_items, customer/part/supplier ↔
dim_customer/dim_product/dim_seller, ``o_orderdate`` ↔ purchase timestamp,
``price := l_extendedprice``, ``freight := l_extendedprice * l_discount``.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


@dataclass(frozen=True)
class Query:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


# (path, Parquet confs) -> (file stats at inference, inferred schema).
# Process-wide: the key holds everything inference reads, so an entry
# holds for any session. Two threads that miss at once both infer and
# store equal entries.
_SCHEMAS: dict[tuple[str, tuple[str, ...]], tuple[tuple, StructType]] = {}


def _file_stats(path: str) -> tuple[tuple[str, int, int], ...]:
    """(relative name, size, mtime_ns) of every file under a local
    ``path``, sorted; empty when the path is a URI or does not exist."""
    if "://" in path or not os.path.exists(path):
        return ()
    if os.path.isfile(path):
        st = os.stat(path)
        return (("", st.st_size, st.st_mtime_ns),)
    stats = []
    for root, _, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            st = os.stat(full)
            stats.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(stats))


def _parquet_confs(spark: SparkSession) -> tuple[str, ...]:
    """Every set session conf whose key names Parquet, as sorted
    ``key -> value`` entries (``nanosAsLong``, ``inferTimestampNTZ``,
    ``binaryAsString``, ``int96AsTimestamp``, ``mergeSchema``, ...): the
    confs that decide what schema inference returns. One JVM string, so
    the lookup costs two py4j calls however many confs are set."""
    entries = spark.conf._jconf.getAll().mkString("\0").split("\0")
    return tuple(sorted(e for e in entries if "parquet" in e.split(" -> ", 1)[0]))


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``{sf_dir}/{name}.parquet``, inferring its schema once per table.

    Schema inference runs a Spark job over the Parquet footers on every
    read (about 130 ms warm on 4 cores, against about 23 ms for a load
    given its schema), and a registry query reads several tables. So the
    first load of a table infers; later loads pass the inferred
    ``StructType`` back.
    The cache is sound because its key holds everything inference
    depends on: the path, the (relative name, size, mtime_ns) of every
    file under it, and every set conf whose key names Parquet. A rewrite
    or a flipped ``nanosAsLong`` re-infers. A path that cannot be
    stat-ed locally (a URI) always infers.

    Only the schema is cached, never the DataFrame: each load is a fresh
    read with fresh attribute ids, which self-joins need, and a fresh
    file listing.
    """
    path = f"{sf_dir}/{name}.parquet"
    files = _file_stats(path)
    if not files:
        return spark.read.parquet(path)
    key = (path, _parquet_confs(spark))
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == files:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (files, df.schema)
    return df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table with ``ts`` as TimestampType.

    The driver writes ``events.parquet`` with TIMESTAMP(NANOS), which
    Spark's vectorized parquet reader rejects ([PARQUET_TYPE_ILLEGAL]).
    Read nanos as raw int64 (``spark.sql.legacy.parquet.nanosAsLong``) and
    truncate to microseconds — exactly what DuckDB does when it coerces
    nanos to its µs-precision TIMESTAMP, so oracle comparisons line up.

    The session timezone is pinned to UTC for the same reason: ``ts`` is
    rebuilt via ``timestamp_micros`` (TZ-aware), so a non-UTC driver
    session would shift every derived window/timestamp relative to the
    TZ-naive DuckDB oracle. ``session.get_spark`` already pins UTC at
    construction; the pin here is deliberately kept anyway because the
    grading driver (and any external embedder) builds its OWN session
    that never goes through ``get_spark`` — this loader is the only
    code of ours guaranteed to run before event timestamps materialize.
    The read goes through ``load`` after both pins, so its cached schema
    is keyed on ``nanosAsLong=true``.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = load(spark, sf_dir, "events")
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif ts_type == "timestamp_ntz":
        # TIMESTAMP(MICROS) without timezone annotation reads as NTZ under
        # Spark 4's inferTimestampNTZ; with the session pinned to UTC the
        # cast is a pure re-tag of the same wall-clock instant, matching
        # DuckDB's TZ-naive read. Downstream operators (unix_micros,
        # window(), watermarks) require TimestampType.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# --- exact-money expression helpers (DataFrame side) -----------------------

def price_dec() -> Column:
    """price as exact decimal (2-decimal doubles round-trip exactly)."""
    return F.col("l_extendedprice").cast("decimal(18,2)")


def freight_dec() -> Column:
    """freight := price * discount, in exact decimal arithmetic."""
    return price_dec() * F.col("l_discount").cast("decimal(8,4)")


def dsum(c: Column, alias: str) -> Column:
    """Exact decimal sum surfaced as DOUBLE (deterministic across engines)."""
    return F.sum(c).cast("double").alias(alias)


# --- exact-money expression helpers (oracle SQL side) ----------------------

def lineitem_revenue() -> Column:
    """The TPC-H discounted-revenue expression, exact DECIMAL — ONE
    definition (SQL twin: SQL_REVENUE) consumed by every h-query that
    sums revenue, so the precision convention cannot fork."""
    return F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(6,4)")
        - F.col("l_discount").cast("decimal(6,4)")
    )


SQL_REVENUE = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))"
)


SQL_PRICE = "CAST(l_extendedprice AS DECIMAL(18,2))"
SQL_FREIGHT = f"({SQL_PRICE} * CAST(l_discount AS DECIMAL(8,4)))"


def sql_dsum(expr: str, alias: str) -> str:
    return f"CAST(SUM({expr}) AS DOUBLE) AS {alias}"


# --- the shared fact: lineitem ⨝ orders (reference J2, ef:214-220) ---------

FACT_ORDER_COLS = ("o_orderkey", "o_custkey", "o_orderdate", "o_orderstatus")


def fact_sales(spark: SparkSession, sf_dir: str, parallel: bool = False) -> DataFrame:
    """lineitem enriched with its order header + Olist-role measure columns.

    Fact-to-fact equi-join on the shuffle key; at 100 TB both sides are
    large, so no broadcast hint — AQE picks shuffle-hash/sort-merge and
    handles skew. ``date_id`` is the reference's yyyyMMdd surrogate key
    (reference `src/etl_functions.py:170, 223`).

    ``parallel=True`` routes the lineitem side
    through ``ensure_parallelism`` keyed on ``l_orderkey``: a one-file
    scan yields ONE task, so the join probe + partial (count-distinct)
    aggregation of every downstream rollup would serialize on one core. The
    repartition is a no-op at real scale (scan partitions >= cores) and
    hash-partitions on the join key, so a sort-merge plan reuses it.
    Opt-in — only ORDER-INSENSITIVE consumers (the a1–a7/dax rollups)
    set it, so row-shaped consumers keep their exact plan.
    """
    li = load(spark, sf_dir, "lineitem")
    if parallel:
        from ..operators.dedup import ensure_parallelism

        li = ensure_parallelism(li, "l_orderkey")
    orders = load(spark, sf_dir, "orders").select(*FACT_ORDER_COLS)
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"], "inner")
        .drop("o_orderkey")
        .withColumn("date_id", F.date_format("o_orderdate", "yyyyMMdd").cast("int"))
        .withColumn("price", price_dec())
        .withColumn("freight", freight_dec())
    )


SQL_FACT = f"""
fact AS (
    SELECT l.*,
           o.o_custkey, o.o_orderdate, o.o_orderstatus,
           CAST(strftime(o.o_orderdate, '%Y%m%d') AS INT) AS date_id,
           {SQL_PRICE} AS price,
           {SQL_FREIGHT} AS freight
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
)
"""
