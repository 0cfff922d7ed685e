"""Skew-mitigation plans: the operators/scale.py toolkit under the
driver's correctness gate.

Salting rewrites a plan's SHAPE (extra key, replicated small side, 2-level
aggregation) without changing its RESULT — exactly the kind of rewrite
that deserves differential testing, so both entries' oracles are the
PLAIN (unsalted) SQL: the driver hash-compare proves the rewrite is
semantics-preserving on real data, not just on the unit-test fixtures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import scale
from .base import SQL_PRICE, Query, load


def q_sc1_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted fact⨝dim join: lineitem (big, potentially hot-keyed)
    joined to supplier through an 8-way salt — the big side salts on
    within-key-varying columns (partkey, linenumber), the 100-row dim is
    replicated across salt values — then revenue per supplier nation.

    Row-for-row equivalent to the plain join (the oracle IS the plain
    join); at 100 TB this is the shape for a hot supplier key that AQE's
    skew splitting can't fix (e.g. when the output of the join feeds a
    same-key aggregation and must stay co-partitioned).
    """
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    joined = scale.salted_join(
        li, supp, "l_suppkey", salt_buckets=8,
        salt_cols=["l_partkey", "l_linenumber"],
    )
    return (
        joined.groupBy("s_nationkey")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


SQL_SC1 = f"""
SELECT s.s_nationkey, COUNT(*) AS n_items,
       CAST(SUM({SQL_PRICE}) AS DOUBLE) AS revenue
FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY s.s_nationkey
"""


def q_sc2_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted aggregation: quantity totals per return flag computed
    as partial sums on (flag, salt) then finalized on flag — the rewrite
    for a group key so hot a single task would overflow.

    Sums are DECIMAL at both levels, so the extra aggregation level
    cannot perturb the value (floats would differ by association order);
    the oracle is the plain one-level SUM.
    """
    li = load(spark, sf_dir, "lineitem").withColumn(
        "qty_dec", F.col("l_quantity").cast("decimal(12,2)")
    )
    out = scale.salted_sum(li, key="l_returnflag", value="qty_dec", salt_buckets=16)
    return out.select(
        "l_returnflag", F.col("sum_qty_dec").cast("double").alias("total_qty")
    )


SQL_SC2 = """
SELECT l_returnflag,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
FROM lineitem GROUP BY l_returnflag
"""


def q_sc3_bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned fact⨝dim: revenue per supplier for one nation's
    suppliers, with the fact side pre-filtered by a Bloom sketch of the
    qualifying supplier keys (operators/scale.py: bloom_build/bloom_prune)
    before the exact join kills the false positives.

    This is the runtime-filter pattern for the case Spark's own injection
    gives up on (build side behind an aggregate/non-broadcastable, or the
    consumer is a shuffle join): the sketch is a fixed ≤1 KiB map — at ANY
    build-side cardinality — broadcast to every scan task, so the fact
    table drops non-qualifying rows BEFORE its shuffle. At 100 TB with a
    1%-selective dim filter that's a ~99% shuffle-volume cut for one
    extra map-side hash per probe. The oracle is the PLAIN join —
    the driver hash gate proves prune+verify ≡ join (no-false-negative
    soundness on real data), the same differential contract as sc1/sc2.
    """
    from ..operators.scale import bloom_build, bloom_prune

    li = load(spark, sf_dir, "lineitem")
    supp = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") == 3)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    bloom = bloom_build(supp, "l_suppkey")
    candidates = bloom_prune(li, bloom, "l_suppkey")
    exact = candidates.join(F.broadcast(supp), "l_suppkey")
    return exact.groupBy("l_suppkey").agg(
        F.count("*").alias("n_items"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )


SQL_SC3 = """
SELECT l.l_suppkey, COUNT(*) AS n_items,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = 3
GROUP BY l.l_suppkey
"""


def q_sc4_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic — the profile a pipeline runs BEFORE a
    big join to decide between plain, AQE-skew-split, and salted (sc1)
    strategies: per-key row counts for lineitem's supplier key reduced
    to the skew factor (hottest key vs mean) plus the hot key itself.

    Two cheap aggregations: per-key counts (map-side partials, one
    shuffle on the key), then a single global reduce where the hot key
    rides as a lexicographic ``max(struct(n, −key))`` — the portable
    tie-broken argmax (smallest key wins a count tie; DuckDB's MAX_BY
    rejects struct orderings, struct MAX both engines share) — no sort,
    no window, no second scan. All inputs exact BIGINTs; mean and skew
    are two IEEE divisions. One row out at any scale.
    """
    li = load(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_suppkey").agg(F.count("*").alias("n"))
    hot = F.max(
        F.struct(F.col("n").alias("a"), (-F.col("l_suppkey")).alias("b"))
    )
    return per_key.agg(
        F.count("*").alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_rows"),
        (-hot.getField("b")).alias("hottest_key"),
        (
            F.max("n").cast("double")
            / (F.sum("n").cast("double") / F.count("*").cast("double"))
        ).alias("skew_factor"),
    )


SQL_SC4 = """
WITH per_key AS (
    SELECT l_suppkey, COUNT(*) AS n FROM lineitem GROUP BY l_suppkey
)
SELECT COUNT(*) AS n_keys,
       -- CAST: DuckDB's SUM(BIGINT) is HUGEINT (int128), which fetchdf()
       -- materializes as float64 (60000.0) while Spark's LongType sum is
       -- int64 (60000), and the driver hashes differ. Every other
       -- integer SUM in the registry already casts; this one must too.
       CAST(SUM(n) AS BIGINT) AS n_rows,
       MAX(n) AS max_rows,
       CAST(-(MAX(struct_pack(a := n, b := -l_suppkey)).b) AS BIGINT)
           AS hottest_key,
       CAST(MAX(n) AS DOUBLE)
           / (CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
           AS skew_factor
FROM per_key
"""


def q_sc5_distributed_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global deterministic row numbers WITHOUT a single-reducer sort —
    the scalable rewrite of ``ROW_NUMBER() OVER (ORDER BY ...)`` (which
    plans as one unpartitioned window task and dies at 100 TB). The
    pattern every stable-global-sequence assignment needs (sharded file
    ids, sorted exports, pagination keys).

    Three-step range-partitioned shape, same as Spark's own orderBy
    machinery but with the per-partition offsets kept IN-PLAN:
    (1) bucket rows by a fixed-width range of the leading sort key
    (``n_chars DIV 64`` — at 100 TB the boundaries come from a sampled
    CDF instead, same plan after that); (2) count per bucket and
    running-sum the counts into per-bucket offsets — a window over
    #buckets rows, trivially small; (3) broadcast the offsets back and
    add ``row_number`` within each bucket, partitioned — the only
    per-row window runs per-bucket, fully parallel. The oracle IS the
    naive global-window SQL, so the driver's hash gate proves the
    rewrite ≡ the single-reducer semantics row-for-row.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return scale.distributed_row_number(
        docs,
        bucket=F.expr("n_chars DIV 64"),
        order_cols=["n_chars", "doc_id"],
        rn_alias="seq",
    ).select("doc_id", "n_chars", "seq")


SQL_SC5 = """
SELECT doc_id, n_chars,
       CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS seq
FROM documents
"""


def q_sc6_range_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced range-partition planner: split lineitem's sort key into
    32 equal-count key ranges and report each range's row count and
    [lo, hi] key boundary — exactly the boundary table
    ``repartitionByRange`` / a sorted-bucketed table layout consumes,
    and the proof the split IS balanced (every bucket holds
    floor/ceil(N/32) rows, never a skewed slice).

    Scale shape: global ranks come from the shared range-partitioned
    row-number helper (no single-reducer window — see sc5); the total N
    rides along from the helper's own counts table (``count_alias``), so
    there is no second pass and no driver round-trip. The oracle is the
    naive global-window SQL, so the driver gate proves the distributed
    numbering ≡ single-reducer semantics before anyone trusts the
    boundaries.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    rn = scale.distributed_row_number(
        li,
        bucket=F.expr("l_orderkey DIV 1024"),
        order_cols=["l_orderkey", "l_linenumber"],
        rn_alias="seq",
        count_alias="_n",
    )
    return (
        rn.groupBy(
            F.expr("CAST(((seq - 1) * 32) DIV _n AS INT)").alias("bucket")
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.min("l_orderkey").alias("lo_key"),
            F.max("l_orderkey").alias("hi_key"),
        )
    )


SQL_SC6 = """
WITH r AS (
    SELECT l_orderkey,
           ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS seq,
           COUNT(*) OVER () AS n
    FROM lineitem
)
SELECT CAST(((seq - 1) * 32) // n AS INT) AS bucket,
       COUNT(*) AS n_rows,
       MIN(l_orderkey) AS lo_key,
       MAX(l_orderkey) AS hi_key
FROM r GROUP BY 1
"""


def q_sc7_zone_map_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (file-statistics) skipping audit across two table
    layouts: per "file", the min/max ship-date zone map a lakehouse
    writer (Delta/Iceberg/parquet row groups) records, and whether a
    scan for ``l_shipdate >= 1997-01-01`` could SKIP the file outright.
    Layout ``by_order_month`` files the fact by order month (the
    ingestion-order layout); layout ``by_ship_month`` files it
    range-clustered on the predicate column (what ``repartitionByRange``
    on sc6's boundaries produces). On this fixture ship dates are
    independent of order month, so the first layout's zone maps skip
    NOTHING while the clustered layout skips every pre-cutoff file —
    the before/after evidence a "should we re-cluster this table?"
    decision actually needs, measured rather than asserted.

    Shape: one fact⨝orders equi-join (order month rides in) + two
    |files|-group aggregates over one shared scan, union'd — linear,
    map-side partials, no window. All comparisons on integer
    epoch-days / yyyyMM ints, so skip decisions and counts are
    engine-exact.
    """
    cutoff = F.lit(9862).cast("bigint")  # epoch-day of DATE '1997-01-01'
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.date_format(F.to_date("o_orderdate"), "yyyyMM")
        .cast("int")
        .alias("order_month"),
        F.date_format(F.to_date("l_shipdate"), "yyyyMM")
        .cast("int")
        .alias("ship_month"),
        F.datediff(F.to_date("l_shipdate"), F.lit("1970-01-01"))
        .cast("bigint")
        .alias("ship_ep"),
    )

    def audit(file_col: str, layout: str) -> DataFrame:
        per = j.groupBy(F.col(file_col).alias("file_id")).agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("ship_ep").alias("min_ship_ep"),
            F.max("ship_ep").alias("max_ship_ep"),
            F.sum(F.when(F.col("ship_ep") >= cutoff, 1).otherwise(0))
            .cast("bigint")
            .alias("n_match"),
        )
        return per.select(
            F.lit(layout).alias("layout"),
            "file_id",
            "n_rows",
            "min_ship_ep",
            "max_ship_ep",
            "n_match",
            (F.col("max_ship_ep") < cutoff).alias("can_skip"),
            (
                (F.col("max_ship_ep") >= cutoff) & (F.col("n_match") == 0)
            ).alias("zone_false_positive"),
        )

    return audit("order_month", "by_order_month").unionByName(
        audit("ship_month", "by_ship_month")
    )


SQL_SC7 = """
WITH j AS (
    SELECT CAST(strftime(CAST(o_orderdate AS DATE), '%Y%m') AS INT)
               AS order_month,
           CAST(strftime(CAST(l_shipdate AS DATE), '%Y%m') AS INT)
               AS ship_month,
           CAST(date_diff('day', DATE '1970-01-01',
                          CAST(l_shipdate AS DATE)) AS BIGINT) AS ship_ep
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
a AS (
    SELECT 'by_order_month' AS layout, order_month AS file_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(ship_ep) AS BIGINT) AS min_ship_ep,
           CAST(MAX(ship_ep) AS BIGINT) AS max_ship_ep,
           CAST(SUM(CASE WHEN ship_ep >= 9862 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_match
    FROM j GROUP BY 2
    UNION ALL
    SELECT 'by_ship_month', ship_month,
           CAST(COUNT(*) AS BIGINT),
           CAST(MIN(ship_ep) AS BIGINT),
           CAST(MAX(ship_ep) AS BIGINT),
           CAST(SUM(CASE WHEN ship_ep >= 9862 THEN 1 ELSE 0 END) AS BIGINT)
    FROM j GROUP BY 2
)
SELECT layout, file_id, n_rows, min_ship_ep, max_ship_ep, n_match,
       max_ship_ep < 9862 AS can_skip,
       max_ship_ep >= 9862 AND n_match = 0 AS zone_false_positive
FROM a
"""


QUERIES: list[Query] = [
    Query("sc7_zone_map_skipping", q_sc7_zone_map_skipping, SQL_SC7,
          "zone-map file-skipping audit (min/max stats + skip decisions)"),
    Query("sc6_range_partition_plan", q_sc6_range_partition_plan, SQL_SC6,
          "balanced range-boundary planner (repartitionByRange feed)"),
    Query("sc5_distributed_row_number", q_sc5_distributed_row_number, SQL_SC5,
          "range-partitioned global row numbering (≡ single-reducer window)"),
    Query("sc4_skew_report", q_sc4_skew_report, SQL_SC4,
          "join-key skew diagnostic (hot key + skew factor)"),
    Query("sc1_salted_join", q_sc1_salted_join, SQL_SC1,
          "skew-salted join (semantics-preserving rewrite)"),
    Query("sc2_salted_agg", q_sc2_salted_agg, SQL_SC2,
          "skew-salted two-level aggregation"),
    Query("sc3_bloom_prune_join", q_sc3_bloom_prune_join, SQL_SC3,
          "Bloom-filter runtime pruning + exact verify (≡ plain join)"),
]
