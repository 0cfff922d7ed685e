"""Distributional statistics plans: exact histogram binning, exact
rank-based percentiles, and the approximate sketch operators
(HyperLogLog distinct, approx percentile) that are the *only* viable
formulation at 100 TB.

The approx queries register with ``oracle=None`` (sketch implementations
differ across engines, so a hash-compare is meaningless); their accuracy
is pinned by `tests/test_stats.py` against the exact in-engine answer
(relative error bounds), which is the honest contract for a sketch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import ensure_parallelism
from .base import Query, load, load_events


def q_a13_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals (10k-wide buckets).

    Bucketing is FLOOR over one IEEE divide — bit-identical on both
    engines — and the groupBy partial-aggregates map-side, so the shuffle
    carries only ~dozens of bucket rows regardless of input scale.
    """
    o = load(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 10000.0).cast("int")
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("bucket_total"),
        )
    )


SQL_A13 = """
SELECT CAST(FLOOR(o_totalprice / 10000.0) AS INT) AS bucket,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS bucket_total
FROM orders
GROUP BY 1
"""


def _ranked_by_value_per_type(ev: DataFrame) -> DataFrame:
    """(event_type, value, rn, n) with rn the exact per-type rank under
    (value, event_id) total order — assigned via the sc5 range-
    partitioned pattern so no per-row window is ever single-task:
    unit-width value buckets, per-(type, bucket) counts running-summed
    into broadcast offsets, row_number within (type, bucket) + offset.
    Shared by a14 (discrete) and a19 (interpolated) percentiles."""
    from ..operators.scale import distributed_row_number

    return distributed_row_number(
        ev.select("event_type", "value", "event_id"),
        bucket=F.floor(F.col("value")).cast("long"),
        order_cols=["value", "event_id"],
        partition_cols=["event_type"],
        rn_alias="rn",
        count_alias="n",
    ).select("event_type", "value", "rn", "n")


def q_a14_percentiles_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete percentiles (p50/p90/p99) of event value per type.

    Rank-based: the value at row ⌈q·n⌉ under a deterministic total order
    — no interpolation, so engines cannot disagree in the last bit the
    way interpolating percentile implementations do. One window sort per
    event_type partition, parallel across types.

    Ranks are assigned with the sc5 range-partitioned pattern (a per-
    type rank window would serialize that type's rows into one task): unit-width value buckets within each type, per-
    (type, bucket) counts running-summed into broadcast offsets, then
    row_number within (type, bucket) + offset — identical rn to the
    per-type global window, with every per-row window partitioned. For
    billions of rows per group ax2's ``approx_percentile`` sketch
    (distributed, mergeable) remains the documented scale path when
    exactness can be traded away.
    """
    ranked = _ranked_by_value_per_type(load_events(spark, sf_dir))

    def pick(q: float, alias: str):
        target = F.ceil(F.lit(q) * F.col("n")).cast("bigint")
        return F.max(F.when(F.col("rn") == target, F.col("value"))).alias(alias)

    return ranked.groupBy("event_type").agg(
        F.max("n").alias("n"),
        pick(0.5, "p50"),
        pick(0.9, "p90"),
        pick(0.99, "p99"),
    )


SQL_A14 = """
WITH ranked AS (
    SELECT event_type, value,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM events
)
SELECT event_type, MAX(n) AS n,
       MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT) THEN value END) AS p50,
       MAX(CASE WHEN rn = CAST(CEIL(0.9 * n) AS BIGINT) THEN value END) AS p90,
       MAX(CASE WHEN rn = CAST(CEIL(0.99 * n) AS BIGINT) THEN value END) AS p99
FROM ranked
GROUP BY event_type
"""


def q_ax1_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct counts — the 100 TB formulation of A1's
    countDistinct (no per-key state, mergeable sketches, one narrow
    shuffle). rsd=0.01 ⇒ ~1% expected error; accuracy bound pinned in
    tests/test_stats.py. No oracle: HLL++ bucket layouts are
    engine-specific.
    """
    fact = load(spark, sf_dir, "lineitem")
    return fact.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_orders"),
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
    )


def q_ax2_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna sketch) per event type — the
    streaming/100 TB twin of a14's exact rank percentiles. Accuracy
    bound pinned in tests/test_stats.py; no oracle (sketch-specific).

    Output is three SCALAR double columns (p50/p90/p99), not one
    array<double> — driver/BI canonicalizers sort on column values and
    cannot hash or order list cells (a driver row errors on exactly
    that), and scalar columns are what a dashboard binds to.
    """
    ev = load_events(spark, sf_dir)
    pcts = F.percentile_approx("value", [0.5, 0.9, 0.99], 10000)
    return ev.groupBy("event_type").agg(
        pcts[0].alias("p50"),
        pcts[1].alias("p90"),
        pcts[2].alias("p99"),
    )


def q_ax3_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate heavy hitters over the corpus language column —
    ``df.stat.freqItems`` (Karp-Shenker-Papadimitriou one-pass counting)
    is the fixed-memory formulation of a10/x5's exact value counts for
    when the key domain is too wide to hold (trending terms over a
    100 TB corpus).

    Guarantee: every value with true frequency ≥ the support threshold
    IS in the result (no false negatives; false positives possible) — a
    mergeable, single-pass, bounded-state contract pinned against exact
    counts in tests/test_stats.py. Exploded to one row per candidate so
    the driver's rows-only check sees scalar rows. No oracle: the
    false-positive set is partitioning-dependent, hence engine-specific.
    """
    docs = load(spark, sf_dir, "documents")
    freq = docs.stat.freqItems(["lang"], support=0.3)
    return freq.select(
        F.explode("lang_freqItems").alias("candidate_lang")
    )


def q_ax4_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy-hitter estimates over corpus tokens
    (d=4 rows × w=256 buckets), probed at the exact top-10 tokens so the
    result carries its own ground truth.

    The sketch build is the 100 TB form of a wide-domain frequency
    count: explode tokens, fan out each occurrence to d (seed, bucket)
    cells via xxhash64 (JVM-side, no UDF), and partial-aggregate — the
    shuffle carries at most d·w = 1,024 cell rows regardless of corpus
    size, where an exact token groupBy would shuffle the whole token
    domain. Estimates are min-over-seeds of the probed cells; the CM
    guarantee (estimate ≥ true count; overestimate ≤ εN w.h.p.) is
    pinned in tests/test_stats.py. No oracle: bucket layouts are
    xxhash64-specific, hence engine-specific.
    """
    d, w = 4, 256
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
    seeds = F.array([F.lit(i) for i in range(d)])
    cells = (
        toks.select("token", F.explode(seeds).alias("seed"))
        .groupBy(
            "seed",
            F.pmod(F.xxhash64("seed", "token"), F.lit(w)).alias("bucket"),
        )
        .agg(F.count("*").alias("cell_count"))
    )
    top = (
        toks.groupBy("token")
        .agg(F.count("*").alias("exact_count"))
        .orderBy(F.desc("exact_count"), "token")
        .limit(10)
    )
    probes = top.select(
        "token", "exact_count", F.explode(seeds).alias("seed")
    ).withColumn("bucket", F.pmod(F.xxhash64("seed", "token"), F.lit(w)))
    return (
        probes.join(cells, ["seed", "bucket"])
        .groupBy("token", "exact_count")
        .agg(F.min("cell_count").alias("cm_estimate"))
        .orderBy(F.desc("exact_count"), "token")
    )


def q_ax5_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketch rollup: per-source distinct-token sketches
    (``hll_sketch_agg``) whose BINARY sketches re-aggregate to the global
    estimate via ``hll_union_agg`` — never rescanning the corpus.

    This is the 100 TB incremental-analytics pattern the plain
    ``approx_count_distinct`` (ax1) can't do: persist one sketch per
    partition/day, answer "distinct over any source subset / rolling
    window" by unioning a handful of kilobyte sketches. The per-source
    row carries its own estimate; the ``__all__`` row is the union of the
    per-source sketches (NOT a second scan). Oracle-less (sketch binaries
    are engine-specific); union-vs-direct agreement and error bounds are
    pinned in tests/test_stats.py.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.length("term") > 0)
    per_source = toks.groupBy("source").agg(
        F.hll_sketch_agg("term").alias("sk")
    )
    source_rows = per_source.select(
        "source", F.hll_sketch_estimate("sk").alias("est_distinct_terms")
    )
    global_row = per_source.agg(
        F.hll_union_agg("sk").alias("sk")
    ).select(
        F.lit("__all__").alias("source"),
        F.hll_sketch_estimate("sk").alias("est_distinct_terms"),
    )
    return source_rows.unionByName(global_row)


def q_a15_group_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group mode: most frequent order priority per order
    status (count per pair → row_number with a value tiebreak). Two
    shuffles, both on aggregated cardinalities (|status|×|priority|
    rows), regardless of input scale."""
    o = load(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("n"), "o_orderpriority"
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("n").alias("mode_count"),
        )
    )


SQL_A15 = """
WITH c AS (
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders GROUP BY 1, 2
)
SELECT o_orderstatus, o_orderpriority AS mode_priority, n AS mode_count
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                   ORDER BY n DESC, o_orderpriority) AS rk
      FROM c)
WHERE rk = 1
"""


def q_a16_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration report: the Gini coefficient of per-customer
    order revenue plus the top-decile revenue share — the BI inequality
    measures behind "what fraction of revenue comes from our biggest
    customers".

    Gini via the rank formula G = (2·Σ i·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) over
    revenues sorted ascending (ties broken by custkey — deterministic
    total order). Both Σ i·xᵢ and Σxᵢ accumulate as DECIMAL (exact, so
    partial-aggregation order can't perturb them); only the final
    three-term expression is IEEE, identical on both engines.

    Ranks are assigned with the sc5 range-partitioned pattern (round
    5; previously a documented single-reducer caveat): bucket by a
    fixed-width revenue range, count per bucket, running-sum the counts
    into per-bucket offsets (a window over #buckets rows only), then
    row_number WITHIN each bucket + offset — identical i values to the
    global window, with the only per-row window fully partitioned. The
    same rewrite applies to a14/a19's rank-picked percentiles; the
    histogram-trapezoid variant remains the documented fallback when
    even the per-key aggregate is too wide to rank exactly.
    """
    from ..operators.scale import distributed_row_number

    o = load(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    ranked = distributed_row_number(
        rev,
        bucket=F.floor(F.col("rev") / F.lit(10000)).cast("long"),
        order_cols=["rev", "o_custkey"],
        rn_alias="i",
    ).select("rev", "i")
    agg = ranked.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("rev").cast("decimal(28,2)").alias("s"),
        F.sum(F.col("i") * F.col("rev")).cast("decimal(28,2)").alias("s1"),
    )
    n = F.col("n").cast("double")
    s = F.col("s").cast("double")
    s1 = F.col("s1").cast("double")
    decile = F.ceil(F.col("n").cast("double") * F.lit(0.9)).cast("long")
    # conditional sum, not filter+group: stays a 1-row aggregate on both
    # engines even if the decile cut leaves nothing
    top_share = (
        ranked.crossJoin(F.broadcast(agg.select("n", "s")))
        .agg(
            (
                F.sum(F.when(F.col("i") > decile, F.col("rev")))
                .cast("decimal(28,2)")
                .cast("double")
                / F.max(F.col("s").cast("double"))
            ).alias("top_decile_share")
        )
    )
    gini = agg.select(
        "n",
        s.alias("total_revenue"),
        ((F.lit(2.0) * s1 - (n + F.lit(1.0)) * s) / (n * s)).alias("gini"),
    )
    return gini.crossJoin(F.broadcast(top_share))


SQL_A16 = """
WITH rev AS (
    SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
    FROM orders GROUP BY 1
),
ranked AS (
    SELECT rev, CAST(ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS BIGINT) AS i
    FROM rev
),
agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(rev) AS DECIMAL(28,2)) AS s,
           CAST(SUM(i * rev) AS DECIMAL(28,2)) AS s1
    FROM ranked
),
top AS (
    SELECT CAST(CAST(SUM(CASE WHEN i > CAST(CEIL(CAST(n AS DOUBLE) * 0.9)
                                        AS BIGINT)
                              THEN ranked.rev END) AS DECIMAL(28,2)) AS DOUBLE)
               / MAX(CAST(agg.s AS DOUBLE)) AS top_decile_share
    FROM ranked CROSS JOIN agg
)
SELECT n,
       CAST(s AS DOUBLE) AS total_revenue,
       (2.0 * CAST(s1 AS DOUBLE) - (CAST(n AS DOUBLE) + 1.0) * CAST(s AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)) AS gini,
       top_decile_share
FROM agg CROSS JOIN top
"""


def q_a17_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct purchasers by day — the "total unique
    customers to date" dashboard line. ``COUNT(DISTINCT) OVER`` is
    unsupported as a window in Spark (and quadratic where engines do
    allow it); the standard rewrite is first-purchase-day per user (one
    groupBy) → new purchasers per day (one groupBy over |users| rows) →
    running sum (one window over |days| rows). All counts are exact
    BIGINTs; the widest shuffle carries one row per user, never
    user×day, and the final window orders the |days|-row aggregate, not
    the fact.
    """
    from pyspark.sql import Window

    ev = load_events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d")
    )
    daily_new = first_seen.groupBy("d").agg(
        F.count("*").alias("new_users")
    )
    w = (
        Window.orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily_new.select(
        F.col("d").cast("timestamp").alias("d"),
        "new_users",
        F.sum("new_users").over(w).alias("cum_distinct_users"),
    )


SQL_A17 = """
WITH first_seen AS (
    SELECT user_id, MIN(CAST(ts AS DATE)) AS d FROM events
    WHERE event_type = 'purchase' GROUP BY 1
),
daily_new AS (SELECT d, COUNT(*) AS new_users FROM first_seen GROUP BY 1)
SELECT CAST(d AS TIMESTAMP) AS d, new_users,
       CAST(SUM(new_users) OVER (ORDER BY d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_distinct_users
FROM daily_new
"""


def q_q5_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift check between corpus sources via the
    population stability index — the monitoring staple that answers
    "does src0's document-length profile still look like the rest of
    the corpus" (same math monitors feature drift between a training
    and a serving window).

    Documents bucket by token-count decade (integer division — exact);
    per bucket, PSI's term is (p_a − p_b)·ln(p_a/p_b) with p the
    bucket's share of its source group. Counts are exact BIGINTs,
    shares and the term are IEEE ops in identical textual order on both
    engines, and ln() is rounded to 9 decimals (x14's convention — JDK
    and libm differ by 1 ulp). Buckets empty on either side are
    excluded (ln undefined) rather than epsilon-smoothed — exclusion is
    deterministic, smoothing constants are a modeling choice. The
    aggregate shuffles bucket-count rows only; totals attach as a
    broadcast 1-row aggregate. Conventional reading: PSI < 0.1 stable,
    0.1–0.25 moderate drift, > 0.25 action.
    """
    docs = load(spark, sf_dir, "documents")
    bucketed = docs.select(
        F.expr("size(split(text, ' ')) DIV 10").alias("bucket"),
        (F.col("source") == "src0").alias("is_a"),
    )
    counts = bucketed.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0)).cast("bigint").alias("n_b"),
    )
    totals = counts.agg(
        F.sum("n_a").cast("bigint").alias("t_a"),
        F.sum("n_b").cast("bigint").alias("t_b"),
    )
    pa = F.col("n_a").cast("double") / F.col("t_a").cast("double")
    pb = F.col("n_b").cast("double") / F.col("t_b").cast("double")
    return (
        counts.filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            "n_a",
            "n_b",
            F.round((pa - pb) * F.ln(pa / pb), 9).alias("psi_term"),
        )
    )


SQL_Q5 = """
WITH b AS (
    SELECT len(string_split(text, ' ')) // 10 AS bucket,
           source = 'src0' AS is_a
    FROM documents
),
counts AS (
    SELECT bucket,
           CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b
    FROM b GROUP BY 1
),
totals AS (
    SELECT CAST(SUM(n_a) AS BIGINT) AS t_a, CAST(SUM(n_b) AS BIGINT) AS t_b
    FROM counts
)
SELECT bucket, n_a, n_b,
       ROUND((CAST(n_a AS DOUBLE) / CAST(t_a AS DOUBLE)
              - CAST(n_b AS DOUBLE) / CAST(t_b AS DOUBLE))
             * ln((CAST(n_a AS DOUBLE) / CAST(t_a AS DOUBLE))
                  / (CAST(n_b AS DOUBLE) / CAST(t_b AS DOUBLE))), 9)
           AS psi_term
FROM counts CROSS JOIN totals
WHERE n_a > 0 AND n_b > 0
"""


def q_a18_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations between the four lineitem measures —
    the feature-redundancy screen a training pipeline runs before
    selecting columns (|r|→1 pairs carry no extra signal).

    Bit-exact across engines WITHOUT an epsilon: instead of each engine's
    ``corr()`` (a float accumulation whose partial-aggregation order
    differs between Spark and DuckDB), both sides aggregate the raw
    moments Σx, Σx², Σxy as DECIMAL (the inputs have fixed 2-dp scale, so
    every moment is exact), cast once to double, and evaluate the SAME
    textbook expression ``(n·Σxy − Σx·Σy) / (√(n·Σx²−Σx²)·√(n·Σy²−Σy²))``
    — a deterministic IEEE expression tree, identical in both engines.

    Plan: ONE full-table pass, one partial-aggregated reduce to a single
    row of 14 moments, then a 6-row stack — at 100 TB this is the
    cheapest possible shape (map-side combine does all the work; nothing
    shuffles but 14 decimals per partition).
    """
    # The 15 decimal-moment partials would run inside the single task
    # a one-file scan yields; project the four measure
    # columns (all the agg needs) and repartition so the 128-bit decimal
    # arithmetic uses every core (no-op at real scale)
    li = ensure_parallelism(
        load(spark, sf_dir, "lineitem").select(
            "l_quantity", "l_extendedprice", "l_discount", "l_tax"
        ),
        "l_extendedprice",
    )
    cols = {
        "quantity": F.col("l_quantity").cast("decimal(18,2)"),
        "price": F.col("l_extendedprice").cast("decimal(18,2)"),
        "discount": F.col("l_discount").cast("decimal(18,2)"),
        "tax": F.col("l_tax").cast("decimal(18,2)"),
    }
    names = list(cols)
    aggs = [F.count("*").alias("n")]
    for a in names:
        aggs.append(F.sum(cols[a]).cast("decimal(38,2)").alias(f"s_{a}"))
        aggs.append(
            F.sum((cols[a] * cols[a]).cast("decimal(38,4)"))
            .cast("decimal(38,4)").alias(f"ss_{a}")
        )
    pairs = [(a, b) for i, a in enumerate(names) for b in names[i + 1:]]
    for a, b in pairs:
        aggs.append(
            F.sum((cols[a] * cols[b]).cast("decimal(38,4)"))
            .cast("decimal(38,4)").alias(f"sp_{a}_{b}")
        )
    m = li.agg(*aggs)

    n = F.col("n").cast("double")

    def corr(a: str, b: str) -> F.Column:
        sa = F.col(f"s_{a}").cast("double")
        sb = F.col(f"s_{b}").cast("double")
        return (n * F.col(f"sp_{a}_{b}").cast("double") - sa * sb) / (
            F.sqrt(n * F.col(f"ss_{a}").cast("double") - sa * sa)
            * F.sqrt(n * F.col(f"ss_{b}").cast("double") - sb * sb)
        )

    rows = [
        F.struct(F.lit(a).alias("col_x"), F.lit(b).alias("col_y"),
                 corr(a, b).alias("pearson_r"))
        for a, b in pairs
    ]
    return (
        m.select(F.explode(F.array(*rows)).alias("p"))
        .select("p.col_x", "p.col_y", "p.pearson_r")
    )


def _sql_a18() -> str:
    names = ["quantity", "price", "discount", "tax"]
    src = {n: f"CAST(l_{'extendedprice' if n == 'price' else n} AS DECIMAL(18,2))"
           for n in names}
    moments = ["COUNT(*) AS n"]
    for a in names:
        moments.append(f"SUM({src[a]}) AS s_{a}")
        moments.append(
            f"SUM(CAST({src[a]} * {src[a]} AS DECIMAL(38,4))) AS ss_{a}")
    pairs = [(a, b) for i, a in enumerate(names) for b in names[i + 1:]]
    for a, b in pairs:
        moments.append(
            f"SUM(CAST({src[a]} * {src[b]} AS DECIMAL(38,4))) AS sp_{a}_{b}")
    sel = []
    for a, b in pairs:
        expr = (
            f"(CAST(n AS DOUBLE) * CAST(sp_{a}_{b} AS DOUBLE)"
            f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
            f" / (sqrt(CAST(n AS DOUBLE) * CAST(ss_{a} AS DOUBLE)"
            f" - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
            f" * sqrt(CAST(n AS DOUBLE) * CAST(ss_{b} AS DOUBLE)"
            f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE)))"
        )
        sel.append(f"SELECT '{a}' AS col_x, '{b}' AS col_y, {expr} AS pearson_r FROM m")
    return "WITH m AS (SELECT " + ", ".join(moments) + " FROM lineitem)\n" + \
        "\nUNION ALL\n".join(sel)


SQL_A18 = _sql_a18()


def q_q6_profile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column dataset profile of ``orders`` — row count, null count,
    exact distinct count, numeric min/max — the schema-health report a
    pipeline emits before accepting a new data drop (the q2 null audit's
    grown-up sibling: one row PER COLUMN, ready to diff across drops and
    feed q5's PSI drift gate).

    ONE scan computes every statistic as a single wide aggregate (all
    partial-aggregated map-side; the multi-column distinct uses Spark's
    expand strategy, each distinct a hash partial); ``stack`` then
    unpivots the 1-row result into the per-column report driver-side-free.
    min/max are surfaced as DOUBLE for the numeric columns and NULL for
    the rest, so the report schema is stable no matter the table. The
    result is |columns| rows at any data scale.
    """
    o = load(spark, sf_dir, "orders")
    cols = [
        "o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority",
    ]
    numeric = {"o_orderkey", "o_custkey", "o_totalprice"}
    aggs = [F.count("*").alias("n_rows")]
    for c in cols:
        aggs.append(
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"nn_{c}")
        )
        aggs.append(F.count_distinct(F.col(c)).alias(f"nd_{c}"))
        if c in numeric:
            aggs.append(F.min(F.col(c)).cast("double").alias(f"mn_{c}"))
            aggs.append(F.max(F.col(c)).cast("double").alias(f"mx_{c}"))
    one = o.agg(*aggs)
    stack_args = []
    for c in cols:
        mn = f"mn_{c}" if c in numeric else "CAST(NULL AS DOUBLE)"
        mx = f"mx_{c}" if c in numeric else "CAST(NULL AS DOUBLE)"
        stack_args.append(f"'{c}', nn_{c}, nd_{c}, {mn}, {mx}")
    stack = (
        f"stack({len(cols)}, {', '.join(stack_args)}) AS "
        "(col_name, n_nulls, n_distinct, min_num, max_num)"
    )
    return one.select(F.col("n_rows"), F.expr(stack))


def _sql_q6() -> str:
    cols = [
        "o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority",
    ]
    numeric = {"o_orderkey", "o_custkey", "o_totalprice"}
    picks = []
    for c in cols:
        mn = f"CAST(MIN({c}) AS DOUBLE)" if c in numeric else "CAST(NULL AS DOUBLE)"
        mx = f"CAST(MAX({c}) AS DOUBLE)" if c in numeric else "CAST(NULL AS DOUBLE)"
        picks.append(
            f"SELECT COUNT(*) AS n_rows, '{c}' AS col_name,\n"
            f"       COUNT(*) - COUNT({c}) AS n_nulls,\n"
            f"       COUNT(DISTINCT {c}) AS n_distinct,\n"
            f"       {mn} AS min_num, {mx} AS max_num\n"
            f"FROM orders"
        )
    return "\nUNION ALL\n".join(picks)


SQL_Q6 = _sql_q6()


def q_ml5_linreg_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-region revenue trend by ordinary least squares — the
    "is this segment growing?" fit a dashboard runs over every slice,
    here as ONE distributed pass instead of a per-slice model loop.

    x = day index (exact int), y = that day's order revenue (exact
    DECIMAL). slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), intercept =
    (Σy − slope·Σx)/n. The five power sums are exact (BIGINT/DECIMAL,
    association-independent); they surface as doubles and the
    slope/intercept are then the SAME handful of IEEE ops on both
    engines — the e7/a18 moments pattern applied to regression.

    Plan shape: orders join customer on the shuffle key (both fact-
    scale — AQE picks the strategy), then the tiny nation/region dims
    broadcast; pre-aggregate to per-(region, day) partials, then one
    5-row moments aggregate per region. The wide shuffle carries
    (region × day) rows — bounded by the calendar, not the fact table.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    r = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    x = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
    ).cast("bigint")
    daily = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("r_name"), x.alias("x"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("y")
        )
    )
    moments = daily.groupBy("r_name").agg(
        F.count("*").alias("n_days"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    nd = F.col("n_days").cast("double")
    slope = (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        nd * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return moments.select(
        "r_name",
        "n_days",
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("sx")) / nd).alias("intercept"),
    )


SQL_ML5 = """
WITH daily AS (
    SELECT r.r_name,
           CAST(DATE_DIFF('day', DATE '1992-01-01', CAST(o.o_orderdate AS DATE))
                AS BIGINT) AS x,
           SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS y
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
), m AS (
    SELECT r_name, COUNT(*) AS n_days,
           CAST(SUM(x) AS DOUBLE) AS sx,
           CAST(SUM(y) AS DOUBLE) AS sy,
           CAST(SUM(x * y) AS DOUBLE) AS sxy,
           CAST(SUM(x * x) AS DOUBLE) AS sxx
    FROM daily GROUP BY r_name
)
SELECT r_name, n_days,
       (CAST(n_days AS DOUBLE) * sxy - sx * sy)
           / (CAST(n_days AS DOUBLE) * sxx - sx * sx) AS slope,
       (sy - ((CAST(n_days AS DOUBLE) * sxy - sx * sy)
              / (CAST(n_days AS DOUBLE) * sxx - sx * sx)) * sx)
           / CAST(n_days AS DOUBLE) AS intercept
FROM m
"""


def q_q7_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between document source and
    language — the statistical backstop behind q5's PSI gate: PSI says
    "the mix moved", chi² says "source and language are not independent",
    the standard pre-training-mix diagnostic pair.

    Every observed/marginal count is an exact BIGINT computed from ONE
    groupBy via window re-aggregation (no second scan, no joins: row,
    column, and grand totals are window sums over the contingency
    cells). Expected counts and per-cell terms are IEEE; each term is
    rounded to 9 dp and summed as DECIMAL(28,9) so the χ² total is
    association-order-proof (the x16 convention — a ~20-cell double sum
    would already be engine-ordering-dependent). One row out at any
    scale; the contingency table itself is |sources|×|langs|.

    The grid is the FULL cross of observed sources × languages: a
    (source, lang) cell with ZERO observations still contributes its
    expected count to χ² ((0−e)²/e = e) — omitting it understates the
    statistic precisely when a source never emits a language (the
    strongest dependence signal) while dof still assumes the full grid.
    The cross is a broadcast of the ≤|langs|-row dimension — trivial at
    any corpus size.
    """
    docs = load(spark, sf_dir, "documents")
    observed = docs.groupBy("source", "lang").agg(F.count("*").alias("o"))
    cells = (
        docs.select("source")
        .distinct()
        .crossJoin(F.broadcast(docs.select("lang").distinct()))
        .join(observed, ["source", "lang"], "left")
        .select(
            "source",
            "lang",
            F.coalesce("o", F.lit(0)).cast("bigint").alias("o"),
        )
    )
    w_r = Window.partitionBy("source")
    w_c = Window.partitionBy("lang")
    w_all = Window.partitionBy()
    with_m = cells.select(
        "o",
        F.sum("o").over(w_r).alias("r_tot"),
        F.sum("o").over(w_c).alias("c_tot"),
        F.sum("o").over(w_all).alias("n"),
    )
    e = (
        F.col("r_tot").cast("double")
        * F.col("c_tot").cast("double")
        / F.col("n").cast("double")
    )
    term = F.round(
        (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e,
        9,
    ).cast("decimal(28,9)")
    dims = docs.agg(
        F.count_distinct("source").alias("n_sources"),
        F.count_distinct("lang").alias("n_langs"),
    )
    return (
        with_m.agg(
            F.count("*").alias("n_cells"),
            F.sum(term).cast("double").alias("chi2"),
        )
        .crossJoin(F.broadcast(dims))
        .select(
            "n_cells",
            "chi2",
            ((F.col("n_sources") - 1) * (F.col("n_langs") - 1))
            .cast("bigint")
            .alias("dof"),
        )
    )


SQL_Q7 = """
WITH observed AS (
    SELECT source, lang, COUNT(*) AS o FROM documents GROUP BY source, lang
), cells AS (
    SELECT s.source, l.lang, COALESCE(ob.o, 0) AS o
    FROM (SELECT DISTINCT source FROM documents) s
    CROSS JOIN (SELECT DISTINCT lang FROM documents) l
    LEFT JOIN observed ob ON ob.source = s.source AND ob.lang = l.lang
), m AS (
    SELECT o,
           SUM(o) OVER (PARTITION BY source) AS r_tot,
           SUM(o) OVER (PARTITION BY lang) AS c_tot,
           SUM(o) OVER () AS n
    FROM cells
), terms AS (
    SELECT CAST(ROUND(
               (CAST(o AS DOUBLE)
                - CAST(r_tot AS DOUBLE) * CAST(c_tot AS DOUBLE)
                  / CAST(n AS DOUBLE))
               * (CAST(o AS DOUBLE)
                  - CAST(r_tot AS DOUBLE) * CAST(c_tot AS DOUBLE)
                    / CAST(n AS DOUBLE))
               / (CAST(r_tot AS DOUBLE) * CAST(c_tot AS DOUBLE)
                  / CAST(n AS DOUBLE)),
               9) AS DECIMAL(28,9)) AS term
    FROM m
)
SELECT (SELECT COUNT(*) FROM terms) AS n_cells,
       (SELECT CAST(SUM(term) AS DOUBLE) FROM terms) AS chi2,
       CAST(((SELECT COUNT(DISTINCT source) FROM documents) - 1)
            * ((SELECT COUNT(DISTINCT lang) FROM documents) - 1) AS BIGINT)
           AS dof
"""


def q_ml6_ab_proportion_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test — the A/B-test read-out: does nation 0's
    line-item return rate differ from nation 1's? Completes the
    hypothesis-testing kit next to q7's chi² (q7 asks "any association
    at all", this scores one planned contrast).

    The contrast is DATA-DERIVED — the two supplier nations with the
    most line items (tie-break on the smaller nationkey), i.e. the two
    largest samples: a fixed FRANCE-vs-GERMANY name filter matches ZERO
    rows of the synthetic fixture (NATION_0…24), leaving the z
    arithmetic unexecuted behind a degenerate 0-row agreement, and fixed
    keys are no better (the sf0.001 fixture has suppliers in only 10 of
    25 nations). Counts (n, returns) come from one pass over lineitem
    joined to its supplier (broadcast dim); the top-2 pick is a window
    over the ≤|nations| post-aggregation rows (calendar-bounded class);
    the pooled-proportion z statistic is then a fixed IEEE expression
    over four exact BIGINTs — bit-identical on both engines, no
    rounding convention needed. One row out at any scale.
    """
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    counts = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_nationkey")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("l_returnflag") == "R").cast("bigint")).alias("x"),
        )
    )
    w = Window.orderBy(F.desc("n"), F.asc("s_nationkey"))
    ranked = counts.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= 2
    )
    a = ranked.filter(F.col("rk") == 1).select(
        F.col("n").alias("n1"), F.col("x").alias("x1")
    )
    b = ranked.filter(F.col("rk") == 2).select(
        F.col("n").alias("n2"), F.col("x").alias("x2")
    )
    both = a.crossJoin(F.broadcast(b))
    n1, x1 = F.col("n1").cast("double"), F.col("x1").cast("double")
    n2, x2 = F.col("n2").cast("double"), F.col("x2").cast("double")
    p1, p2 = x1 / n1, x2 / n2
    pp = (x1 + x2) / (n1 + n2)
    z = (p1 - p2) / F.sqrt(
        pp * (F.lit(1.0) - pp) * (F.lit(1.0) / n1 + F.lit(1.0) / n2)
    )
    return both.select("n1", "x1", "n2", "x2", z.alias("z"))


SQL_ML6 = """
WITH counts AS (
    SELECT s.s_nationkey, COUNT(*) AS n,
           CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                AS BIGINT) AS x
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_nationkey
), ranked AS (
    SELECT *, ROW_NUMBER() OVER (ORDER BY n DESC, s_nationkey) AS rk
    FROM counts
), a AS (SELECT n AS n1, x AS x1 FROM ranked WHERE rk = 1),
b AS (SELECT n AS n2, x AS x2 FROM ranked WHERE rk = 2)
SELECT n1, x1, n2, x2,
       (CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        - CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE))
       / SQRT(((CAST(x1 AS DOUBLE) + CAST(x2 AS DOUBLE))
               / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))
              * (1.0 - ((CAST(x1 AS DOUBLE) + CAST(x2 AS DOUBLE))
                        / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))))
              * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE)))
           AS z
FROM a, b
"""


def q_a19_percentiles_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact INTERPOLATED percentiles (p50/p95) of event value per type
    — a14's continuous twin (a14 is rank-discrete): h = (n−1)·q, answer
    = x⌊h⌋₊₁ + (h−⌊h⌋)·(x⌈h⌉₊₁ − x⌊h⌋₊₁), the linear interpolation
    pandas/NumPy default. Both engines pick the two neighbor values by
    integer rank under the same deterministic total order and run one
    identical IEEE lerp — engine-portable where built-in
    percentile_cont implementations differ in rounding. Shares a14's
    sc5-style distributed ranking (see _ranked_by_value_per_type); ax2's
    sketch remains the approximate alternative when exactness can go.
    """
    ranked = _ranked_by_value_per_type(load_events(spark, sf_dir))

    grouped = ranked.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max(F.when(
            F.col("rn") == F.floor((F.col("n") - 1) * 0.5).cast("bigint") + 1,
            F.col("value"))).alias("p50_lo"),
        F.max(F.when(
            F.col("rn") == F.ceil((F.col("n") - 1) * 0.5).cast("bigint") + 1,
            F.col("value"))).alias("p50_hi"),
        F.max(F.when(
            F.col("rn") == F.floor((F.col("n") - 1) * 0.95).cast("bigint") + 1,
            F.col("value"))).alias("p95_lo"),
        F.max(F.when(
            F.col("rn") == F.ceil((F.col("n") - 1) * 0.95).cast("bigint") + 1,
            F.col("value"))).alias("p95_hi"),
    )
    nd = F.col("n").cast("double")

    def lerp(q: float, lo: str, hi: str, alias: str):
        h = (nd - 1.0) * F.lit(q)
        frac = h - F.floor(h)
        return (F.col(lo) + frac * (F.col(hi) - F.col(lo))).alias(alias)

    return grouped.select(
        "event_type",
        "n",
        lerp(0.5, "p50_lo", "p50_hi", "p50_cont"),
        lerp(0.95, "p95_lo", "p95_hi", "p95_cont"),
    )


SQL_A19 = """
WITH ranked AS (
    SELECT event_type, value,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM events
), grouped AS (
    SELECT event_type, MAX(n) AS n,
           MAX(CASE WHEN rn = CAST(FLOOR((CAST(n AS DOUBLE) - 1.0) * 0.5)
                              AS BIGINT) + 1 THEN value END) AS p50_lo,
           MAX(CASE WHEN rn = CAST(CEIL((CAST(n AS DOUBLE) - 1.0) * 0.5)
                              AS BIGINT) + 1 THEN value END) AS p50_hi,
           MAX(CASE WHEN rn = CAST(FLOOR((CAST(n AS DOUBLE) - 1.0) * 0.95)
                              AS BIGINT) + 1 THEN value END) AS p95_lo,
           MAX(CASE WHEN rn = CAST(CEIL((CAST(n AS DOUBLE) - 1.0) * 0.95)
                              AS BIGINT) + 1 THEN value END) AS p95_hi
    FROM ranked GROUP BY event_type
)
SELECT event_type, n,
       p50_lo + ((CAST(n AS DOUBLE) - 1.0) * 0.5
                 - FLOOR((CAST(n AS DOUBLE) - 1.0) * 0.5))
                * (p50_hi - p50_lo) AS p50_cont,
       p95_lo + ((CAST(n AS DOUBLE) - 1.0) * 0.95
                 - FLOOR((CAST(n AS DOUBLE) - 1.0) * 0.95))
                * (p95_hi - p95_lo) AS p95_cont
FROM grouped
"""


def q_a20_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation of event value per type — the robust
    dispersion measure outlier detectors (e7/e9) should be calibrated
    against when values are heavy-tailed and stddev is itself corrupted
    by the outliers it is supposed to find.

    Two exact rank passes, both via the sc5 range-partitioned pattern
    (operators/scale.distributed_row_number — no single-task windows):
    (1) the discrete lower median of value per type (rank ⌊(n+1)/2⌋
    under (value, event_id) total order — rank-based, so engines cannot
    disagree the way interpolating medians do); (2) the same rank pick
    over |value − median|, tie-broken by event_id. The deviation is one
    IEEE subtract/abs of doubles — deterministic on both engines.
    """
    from ..operators.scale import distributed_row_number

    ranked = _ranked_by_value_per_type(load_events(spark, sf_dir))
    # Materialize the per-type medians (a handful of rows) — ``med``
    # is broadcast into ``dev``, whose plan the second rank pass
    # executes twice; lazily each of those executions re-runs the
    # ENTIRE first rank pass underneath the broadcast (12 event scans
    # for this query in PLANS.md; 4 after the checkpoints).
    med = (
        ranked.filter(
            F.col("rn") == F.floor((F.col("n") + 1) / 2).cast("long")
        )
        .select("event_type", F.col("value").alias("med"))
        .localCheckpoint(eager=True)
    )
    ev = load_events(spark, sf_dir)
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "event_id",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("dev"),
    )
    dev_ranked = distributed_row_number(
        dev,
        bucket=F.floor(F.col("dev")).cast("long"),
        order_cols=["dev", "event_id"],
        partition_cols=["event_type"],
        rn_alias="rn",
        count_alias="n",
    )
    return (
        dev_ranked.filter(
            F.col("rn") == F.floor((F.col("n") + 1) / 2).cast("long")
        )
        .select(
            "event_type",
            F.col("med").alias("median_value"),
            F.col("dev").alias("mad"),
            F.col("n").alias("n"),
        )
    )


SQL_A20 = """
WITH ranked AS (
    SELECT event_type, value,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM events
), med AS (
    SELECT event_type, value AS med FROM ranked
    WHERE rn = CAST(FLOOR((n + 1) / 2) AS BIGINT)
), dev AS (
    SELECT e.event_type, e.event_id, m.med,
           ABS(e.value - m.med) AS dev
    FROM events e JOIN med m ON e.event_type = m.event_type
), dev_ranked AS (
    SELECT event_type, med, dev,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY dev, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM dev
)
SELECT event_type, med AS median_value, dev AS mad,
       CAST(n AS BIGINT) AS n
FROM dev_ranked
WHERE rn = CAST(FLOOR((n + 1) / 2) AS BIGINT)
"""


def q_q8_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-volume monitoring: each day's event row count scored
    against its trailing 7-day baseline — the freshness/volume gate a
    production pipeline runs on every load (``sinks.write_observed``
    captures the per-write counts; this is the cross-day analysis over
    them). e9's rolling-z shape lifted from per-user values to
    table-level metadata.

    Counts are exact BIGINTs, so the trailing power sums (Σn, Σn²) are
    exact integers and mean/variance/z are identical IEEE expressions on
    both engines — no rounding convention needed. The frame excludes the
    current day (a genuine forecast residual), requires ≥3 prior days,
    and NULLs z on a zero-variance baseline rather than dividing by 0.
    One shuffle to daily grain (map-side combined), then a ≤7-row frame
    over the tiny day-level table — the scan dominates, as it should.

    The day table is a DENSE calendar spine (min..max event day, built
    from a 1-row bound aggregate) left-joined to the observed counts
    with a zero fill: a day with ZERO events — the total feed outage
    this gate exists to catch — must appear and score, and with the
    spine dense the 7-ROW frame IS a 7-calendar-day baseline (grouping
    observed days alone would both skip outage days entirely and let
    the row frame silently span 8+ calendar days across gaps).
    """
    ev = load_events(spark, sf_dir)
    counts = ev.groupBy(
        F.col("ts").cast("date").alias("d")
    ).agg(F.count("*").cast("bigint").alias("n"))
    spine = (
        ev.agg(
            F.min(F.col("ts").cast("date")).alias("lo"),
            F.max(F.col("ts").cast("date")).alias("hi"),
        )
        .select(F.explode(F.sequence("lo", "hi")).alias("d"))
    )
    daily = spine.join(counts, "d", "left").select(
        F.col("d").cast("timestamp").alias("day"),
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n_rows"),
    )
    w = Window.orderBy("day").rowsBetween(-7, -1)
    stats = daily.select(
        "day",
        "n_rows",
        F.count("*").over(w).cast("bigint").alias("k"),
        F.sum("n_rows").over(w).cast("bigint").alias("s1"),
        F.sum(F.col("n_rows") * F.col("n_rows")).over(w)
        .cast("bigint")
        .alias("s2"),
    )
    k = F.col("k").cast("double")
    mean = F.col("s1").cast("double") / k
    var_num = k * F.col("s2").cast("double") - (
        F.col("s1").cast("double") * F.col("s1").cast("double")
    )
    var = var_num / (k * (k - F.lit(1.0)))
    z = (F.col("n_rows").cast("double") - mean) / F.sqrt(var)
    return (
        stats.filter(F.col("k") >= 3)
        .select(
            "day",
            "n_rows",
            mean.alias("baseline_mean"),
            F.when(var_num > 0, z).alias("z"),
        )
    )


SQL_Q8 = """
WITH counts AS (
    SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1
), bounds AS (
    SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi
    FROM events
), spine AS (
    SELECT lo + CAST(g.i AS INTEGER) AS d
    FROM bounds,
         LATERAL unnest(generate_series(0, CAST(hi - lo AS BIGINT))) AS g(i)
), daily AS (
    SELECT CAST(s.d AS TIMESTAMP) AS day, COALESCE(c.n, 0) AS n_rows
    FROM spine s LEFT JOIN counts c ON c.d = s.d
), stats AS (
    SELECT day, n_rows,
           CAST(COUNT(*) OVER w AS BIGINT) AS k,
           CAST(SUM(n_rows) OVER w AS BIGINT) AS s1,
           CAST(SUM(n_rows * n_rows) OVER w AS BIGINT) AS s2
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT day, n_rows,
       CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE) AS baseline_mean,
       CASE WHEN CAST(k AS DOUBLE) * CAST(s2 AS DOUBLE)
                 - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) > 0
            THEN (CAST(n_rows AS DOUBLE)
                  - CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE))
                 / sqrt((CAST(k AS DOUBLE) * CAST(s2 AS DOUBLE)
                         - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                        / (CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) - 1.0)))
       END AS z
FROM stats WHERE k >= 3
"""


def q_q10_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content fingerprint per table — the snapshot-
    equality primitive behind every 100 TB migration/backfill sign-off
    ("did engine A and engine B produce the same table?"): per-row
    canonical string → 60-bit md5 prefix → commutative SUM. Equal
    multisets of rows ⇒ equal (n_rows, fingerprint) pairs regardless of
    row order, partitioning, or file layout, so two engines can each
    compute it independently and compare two scalars instead of
    shipping data.

    Scale shape: pure map-side hashing with partial sums — the only
    traffic is one partial aggregate per partition into a single-row
    combine; no shuffle of data rows, no sort. The canon covers the
    integer/string/timestamp columns (timestamps as wall-clock
    `yyyy-MM-dd HH:mm:ss` strings — the driver parquet is TIMESTAMP_NTZ,
    so a wall-clock format is the timezone-independent canon both
    engines render identically); float columns are deliberately
    excluded — fingerprinting floats requires an explicit quantization
    policy (cf. the DECIMAL money convention in plans/base.py), not a
    silent ``CAST(double AS VARCHAR)`` whose textual form is
    engine-dependent. The sum accumulates in DECIMAL(38,0) (Spark) /
    HUGEINT (DuckDB) — exact at ~2^60 per row up to ~10^18 rows — and
    compares as a string.
    """
    def fp(df: DataFrame, cols: list, table: str) -> DataFrame:
        from ..operators.dedup import ensure_parallelism

        # The md5-per-row map would run inside the single task a
        # one-file scan yields. Project the canonical
        # string FIRST (the cheap concat — and the only column that
        # crosses the wire), repartition on it, and hash above the
        # exchange so the digest work uses every core. No-op at real
        # scale where the scan already has >= cores partitions; the
        # commutative DECIMAL sum is partitioning-independent.
        canon_df = ensure_parallelism(
            df.select(F.concat_ws("|", *cols).alias("canon")), "canon"
        )
        h = F.conv(F.substring(F.md5(F.col("canon")), 1, 15), 16, 10).cast(
            "decimal(38,0)"
        )
        return canon_df.agg(
            F.lit(table).alias("table_name"),
            F.count("*").alias("n_rows"),
            F.sum(h).cast("string").alias("fingerprint"),
        )

    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    return fp(
        li,
        [
            "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_returnflag", "l_linestatus",
            F.date_format("l_shipdate", "yyyy-MM-dd HH:mm:ss"),
        ],
        "lineitem",
    ).unionByName(
        fp(
            orders,
            [
                "o_orderkey", "o_custkey", "o_orderstatus",
                "o_orderpriority",
                F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
            ],
            "orders",
        )
    )


SQL_Q10 = """
SELECT 'lineitem' AS table_name,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(CAST(concat('0x', substr(md5(
           concat_ws('|', l_orderkey, l_partkey, l_suppkey, l_linenumber,
                     l_returnflag, l_linestatus, strftime(l_shipdate, '%Y-%m-%d %H:%M:%S'))
       ), 1, 15)) AS BIGINT) AS HUGEINT)) AS VARCHAR) AS fingerprint
FROM lineitem
UNION ALL
SELECT 'orders' AS table_name,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(CAST(concat('0x', substr(md5(
           concat_ws('|', o_orderkey, o_custkey, o_orderstatus,
                     o_orderpriority, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'))
       ), 1, 15)) AS BIGINT) AS HUGEINT)) AS VARCHAR) AS fingerprint
FROM orders
"""


def q_a22_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust means of event value per type — 10%-trimmed (drop the k =
    ⌊0.1·n⌋ smallest and largest) and winsorized (clamp them to the
    surviving boundary values) — the outlier-resistant location
    estimates a monitoring baseline wants next to a20's MAD when the
    value stream has fat tails.

    One pass over the sc5-ranked rows (shared ``_ranked_by_value_per_
    type`` — no single-task window): conditional DECIMAL(18,2) sums for
    the trimmed interior, boundary-value picks at ranks k+1 and n−k via
    max-when, then winsorized = (interior + k·lo + k·hi)/n as one IEEE
    expression per column in identical textual order on both engines
    (values are 2-dp doubles, so the DECIMAL partials are exact).
    """
    ranked = _ranked_by_value_per_type(load_events(spark, sf_dir))
    k = F.floor(F.col("n") / 10).cast("bigint")
    inside = (F.col("rn") > k) & (F.col("rn") <= F.col("n") - k)
    dec = F.col("value").cast("decimal(18,2)")
    g = ranked.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max(k).alias("k"),
        F.sum(dec).alias("sum_all"),
        F.sum(F.when(inside, dec)).alias("sum_mid"),
        F.count(F.when(inside, F.lit(1))).alias("n_mid"),
        F.max(F.when(F.col("rn") == k + 1, F.col("value"))).alias("lo_val"),
        F.max(F.when(F.col("rn") == F.col("n") - k, F.col("value"))).alias(
            "hi_val"
        ),
    )
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    return g.select(
        "event_type",
        "n",
        "k",
        (F.col("sum_all").cast("double") / nd).alias("mean"),
        (F.col("sum_mid").cast("double") / F.col("n_mid").cast("double"))
        .alias("trimmed_mean"),
        (
            (
                F.col("sum_mid").cast("double")
                + kd * F.col("lo_val")
                + kd * F.col("hi_val")
            )
            / nd
        ).alias("winsorized_mean"),
    )


SQL_A22 = """
WITH ranked AS (
    SELECT event_type, value,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM events
), g AS (
    SELECT event_type,
           MAX(n) AS n,
           MAX(CAST(FLOOR(n / 10) AS BIGINT)) AS k,
           SUM(CAST(value AS DECIMAL(18,2))) AS sum_all,
           SUM(CASE WHEN rn > CAST(FLOOR(n / 10) AS BIGINT)
                     AND rn <= n - CAST(FLOOR(n / 10) AS BIGINT)
                    THEN CAST(value AS DECIMAL(18,2)) END) AS sum_mid,
           COUNT(CASE WHEN rn > CAST(FLOOR(n / 10) AS BIGINT)
                       AND rn <= n - CAST(FLOOR(n / 10) AS BIGINT)
                      THEN 1 END) AS n_mid,
           MAX(CASE WHEN rn = CAST(FLOOR(n / 10) AS BIGINT) + 1
                    THEN value END) AS lo_val,
           MAX(CASE WHEN rn = n - CAST(FLOOR(n / 10) AS BIGINT)
                    THEN value END) AS hi_val
    FROM ranked GROUP BY event_type
)
SELECT event_type, n, k,
       CAST(sum_all AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
       CAST(sum_mid AS DOUBLE) / CAST(n_mid AS DOUBLE) AS trimmed_mean,
       (CAST(sum_mid AS DOUBLE) + CAST(k AS DOUBLE) * lo_val
        + CAST(k AS DOUBLE) * hi_val) / CAST(n AS DOUBLE)
           AS winsorized_mean
FROM g
"""


def q_a21_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the daily event
    volume — trend (centered 7-day moving average), day-of-week seasonal
    component, residual — the BI "is Monday really our slow day or is
    that the trend?" report and the baseline layer of volume-anomaly
    monitors (q8 flags deviations; this explains them).

    Exactness discipline: every mean is carried as EXACT INTEGER sums
    until one final IEEE division in identical textual order on both
    engines — trend = sum7/7 (frame sum of BIGINT counts), seasonal =
    Σ(7·n − sum7)/(7·cnt) per weekday (the detrended value scaled by 7
    so it stays integral; a double Σ of detrended values would expose
    partial-aggregation order), residual = the two-term expression over
    those. Edge days without a full 7-day frame carry NULL trend and
    are excluded from the seasonal means — same predicate both engines.

    Scale: the windows run over the pre-aggregated DAILY grain
    (≤ 365·years rows — the documented acceptable single-partition
    case, cf. w2/w5), never the raw events; everything before that is
    map-side partial aggregation.

    The daily series is a DENSE calendar spine (min..max event day,
    zero fill — the q8 construction): the ±3-ROW frame is a centered
    7-CALENDAR-DAY window only when no day is missing, and the
    count==7 guard then excludes exactly the series edges rather than
    accidentally admitting an 8+-day frame around a zero-event day.
    """
    ev = load_events(spark, sf_dir)
    counts = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").alias("nn")
    )
    spine = ev.agg(
        F.min(F.to_date("ts")).alias("lo"),
        F.max(F.to_date("ts")).alias("hi"),
    ).select(F.explode(F.sequence("lo", "hi")).alias("d"))
    daily = spine.join(counts, "d", "left").select(
        # date cast back to TIMESTAMP: the repo's portable day type
        # (DuckDB DATE fetches as datetime64, Spark DATE as date objects
        # — the hashers disagree; cf. r10's identical cast)
        F.col("d").cast("timestamp").alias("day"),
        F.coalesce("nn", F.lit(0)).cast("bigint").alias("n"),
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    with_trend = daily.select(
        "day",
        "n",
        F.when(
            F.count("*").over(w7) == 7, F.sum("n").over(w7)
        ).alias("sum7"),
    )
    dow = F.dayofweek("day")
    seas = (
        with_trend.filter(F.col("sum7").isNotNull())
        .groupBy(dow.alias("dw"))
        .agg(
            F.sum(F.col("n") * 7 - F.col("sum7")).alias("scaled"),
            F.count("*").alias("cnt"),
        )
    )
    out = with_trend.join(
        F.broadcast(seas), dow == F.col("dw"), "left"
    )
    trend = F.col("sum7").cast("double") / 7.0
    seasonal = F.when(
        F.col("sum7").isNotNull(),
        F.col("scaled").cast("double")
        / (7.0 * F.col("cnt").cast("double")),
    )
    return out.select(
        "day",
        "n",
        trend.alias("trend"),
        seasonal.alias("seasonal"),
        (F.col("n").cast("double") - trend - seasonal).alias("residual"),
    )


SQL_A21 = """
WITH counts AS (
    SELECT CAST(ts AS DATE) AS d, COUNT(*) AS nn FROM events GROUP BY 1
), bounds AS (
    SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi
    FROM events
), spine AS (
    SELECT lo + CAST(g.i AS INTEGER) AS d
    FROM bounds,
         LATERAL unnest(generate_series(0, CAST(hi - lo AS BIGINT))) AS g(i)
), daily AS (
    SELECT CAST(s.d AS TIMESTAMP) AS day,
           CAST(COALESCE(c.nn, 0) AS BIGINT) AS n
    FROM spine s LEFT JOIN counts c ON c.d = s.d
), framed AS (
    SELECT day, n,
           CASE WHEN COUNT(*) OVER w = 7 THEN SUM(n) OVER w END AS sum7
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), seas AS (
    SELECT EXTRACT(dow FROM day) + 1 AS dw,
           CAST(SUM(n * 7 - sum7) AS BIGINT) AS scaled,
           COUNT(*) AS cnt
    FROM framed WHERE sum7 IS NOT NULL GROUP BY 1
)
SELECT f.day, f.n,
       CAST(f.sum7 AS DOUBLE) / 7.0 AS trend,
       CASE WHEN f.sum7 IS NOT NULL THEN
           CAST(s.scaled AS DOUBLE) / (7.0 * CAST(s.cnt AS DOUBLE))
       END AS seasonal,
       CAST(f.n AS DOUBLE) - CAST(f.sum7 AS DOUBLE) / 7.0
           - CASE WHEN f.sum7 IS NOT NULL THEN
                 CAST(s.scaled AS DOUBLE) / (7.0 * CAST(s.cnt AS DOUBLE))
             END AS residual
FROM framed f
LEFT JOIN seas s ON s.dw = EXTRACT(dow FROM f.day) + 1
"""


def q_a23_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the classic BI cohorting operator:
    each customer scored 1–5 by rank quintile on Recency (days since
    last order), Frequency (order count) and Monetary (lifetime spend),
    then the 5×5×5 cell grid reported with population and means — the
    table a campaign planner reads directly.

    Scale shape: NO global NTILE window anywhere — each metric's ranks
    come from the shared range-partitioned row-number helper (monotone
    integer buckets per metric), and the quintile is the exact
    ⌊(rn−1)·5/n⌋+1 formula, so all three rank passes are fully parallel
    and the oracle's single-reducer ROW_NUMBER proves them row-exact.
    Ties break on custkey under both engines — no NTILE tie ambiguity.
    Exactness: recency/frequency are integers, spend sums as
    DECIMAL(18,2); each cell mean is one IEEE division of exact sums.
    """
    from ..operators.scale import distributed_row_number

    o = load(spark, sf_dir, "orders")
    mx = o.agg(F.max(F.to_date("o_orderdate")).alias("mxd"))
    cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.to_date("o_orderdate")).alias("last_d"),
            F.count("*").alias("freq"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("mon"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "o_custkey",
            F.datediff("mxd", "last_d").alias("rec"),
            "freq",
            "mon",
        )
        # The customer aggregate feeds the three
        # quintile rank passes (each consuming it 3× through
        # distributed_row_number's counts/offsets/rank paths) plus the
        # final join — ~10 executions of the orders scan + groupBy
        # lazily (PLANS.md: 36 exchanges / 20 scans for this query).
        # One eager truncation of the customer-sized table.
        .localCheckpoint(eager=True)
    )

    def quintile(df: DataFrame, metric: str, bucket, alias: str) -> DataFrame:
        ranked = distributed_row_number(
            df.select("o_custkey", metric),
            bucket=bucket,
            order_cols=[metric, "o_custkey"],
            rn_alias="rn",
            count_alias="n",
        )
        return ranked.select(
            "o_custkey",
            (F.expr("CAST(((rn - 1) * 5) DIV n AS INT)") + F.lit(1)).alias(
                alias
            ),
        )

    rq = quintile(cust, "rec", F.expr("rec DIV 16"), "r_q")
    fq = quintile(cust, "freq", F.expr("freq DIV 2"), "f_q")
    mq = quintile(
        cust, "mon", F.floor(F.col("mon") / F.lit(10000)).cast("long"), "m_q"
    )
    return (
        cust.join(rq, "o_custkey")
        .join(fq, "o_custkey")
        .join(mq, "o_custkey")
        .groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count("*").alias("n_customers"),
            (
                F.sum("rec").cast("double") / F.count("*").cast("double")
            ).alias("avg_recency_days"),
            (
                F.sum("mon").cast("double") / F.count("*").cast("double")
            ).alias("avg_monetary"),
        )
    )


SQL_A23 = """
WITH mx AS (SELECT CAST(MAX(o_orderdate) AS DATE) AS mxd FROM orders),
c AS (
    SELECT o_custkey,
           date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                     (SELECT mxd FROM mx)) AS rec,
           COUNT(*) AS freq,
           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS mon
    FROM orders GROUP BY o_custkey
),
rq AS (
    SELECT o_custkey,
           CAST(((ROW_NUMBER() OVER (ORDER BY rec, o_custkey) - 1) * 5)
                // (COUNT(*) OVER ()) AS INT) + 1 AS r_q
    FROM c
),
fq AS (
    SELECT o_custkey,
           CAST(((ROW_NUMBER() OVER (ORDER BY freq, o_custkey) - 1) * 5)
                // (COUNT(*) OVER ()) AS INT) + 1 AS f_q
    FROM c
),
mq AS (
    SELECT o_custkey,
           CAST(((ROW_NUMBER() OVER (ORDER BY mon, o_custkey) - 1) * 5)
                // (COUNT(*) OVER ()) AS INT) + 1 AS m_q
    FROM c
)
SELECT r_q, f_q, m_q,
       COUNT(*) AS n_customers,
       CAST(SUM(rec) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
           AS avg_recency_days,
       CAST(SUM(mon) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_monetary
FROM c
JOIN rq USING (o_custkey) JOIN fq USING (o_custkey) JOIN mq USING (o_custkey)
GROUP BY 1, 2, 3
"""


def q_a25_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year growth: monthly revenue with the same-month-last-
    year comparison and percent change — the first page of every BI
    deck. Same-month alignment is an exact lag-12 over the month_id
    series (not a date join), so holes in the calendar would surface as
    NULL rather than silently comparing misaligned months.

    Exactness: monthly revenue sums as DECIMAL(18,2) and casts to
    double identically on both engines; the YoY percent is arithmetic
    over those two doubles. The lag window runs over the
    POST-AGGREGATION month series (calendar-bounded, ~10² rows at any
    corpus size — a21/a24's justified class)."""
    o = load(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(
            F.date_format("o_orderdate", "yyyyMM").cast("int").alias(
                "month_id"
            )
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue")
        )
    )
    w = Window.orderBy("month_id")
    prev = F.lag("revenue", 12).over(w)
    prev_month = F.lag("month_id", 12).over(w)
    return monthly.select(
        "month_id",
        "revenue",
        # guard: lag-12 must actually be the same month last year
        # (a hole in the series would misalign the comparison)
        F.when(prev_month == F.col("month_id") - 100, prev).alias(
            "revenue_prev_year"
        ),
        F.when(
            prev_month == F.col("month_id") - 100,
            (F.col("revenue") - prev) / prev * F.lit(100.0),
        ).alias("yoy_pct"),
    )


SQL_A25 = """
WITH m AS (
    SELECT CAST(strftime(o_orderdate, '%Y%m') AS INT) AS month_id,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
    FROM orders GROUP BY 1
)
SELECT month_id, revenue,
       CASE WHEN lag(month_id, 12) OVER w = month_id - 100
            THEN lag(revenue, 12) OVER w END AS revenue_prev_year,
       CASE WHEN lag(month_id, 12) OVER w = month_id - 100
            THEN (revenue - lag(revenue, 12) OVER w)
                 / lag(revenue, 12) OVER w * 100.0 END AS yoy_pct
FROM m
WINDOW w AS (ORDER BY month_id)
"""


def q_a26_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers grouped by first-order
    month, each cohort's revenue tracked by months-since-acquisition,
    with cumulative revenue per cohort customer (the LTV curve) — the
    acquisition-economics readout e6's retention counts don't give
    (retention says WHO came back, LTV says what they were WORTH).

    Exactness: month arithmetic is pure integer math on yyyyMM ids,
    revenue sums as DECIMAL(18,2), and the cumulative sum is a DECIMAL
    window over each cohort's month axis (calendar-bounded partitions,
    fully parallel across cohorts) — the only IEEE ops are the final
    per-row casts/division. Scale shape: one keyed join (orders ⨝
    first-order table on custkey), two grouped aggregations, and a
    window partitioned by cohort — no global windows, no fan-out.
    """
    # Measured NON-change: ensure_parallelism here was neutral
    # interleaved-probed (0.94–0.99 s both ways) — the per-row work is
    # integer month math, cheap enough that the single-task scan is not
    # the bottleneck; the extra exchange was not kept.
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        (
            F.year("o_orderdate") * F.lit(12) + F.month("o_orderdate")
        ).alias("om"),
        F.date_format("o_orderdate", "yyyyMM").cast("int").alias("mid"),
    )
    first = o.groupBy("o_custkey").agg(
        F.min("om").alias("cm"), F.min("mid").alias("cohort_month")
    )
    base = o.join(first, "o_custkey").select(
        "o_custkey",
        "cohort_month",
        (F.col("om") - F.col("cm")).alias("k"),
        "price",
    )
    g = base.groupBy("cohort_month", "k").agg(
        F.countDistinct("o_custkey").alias("n_active"),
        F.sum("price").alias("rev_dec"),
    )
    size = first.groupBy("cohort_month").agg(
        F.count("*").alias("cohort_size")
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        g.withColumn("cum_dec", F.sum("rev_dec").over(w))
        .join(size, "cohort_month")
        .select(
            "cohort_month",
            "k",
            "n_active",
            "cohort_size",
            F.col("rev_dec").cast("double").alias("revenue"),
            (
                F.col("cum_dec").cast("double")
                / F.col("cohort_size").cast("double")
            ).alias("ltv_per_customer"),
        )
    )


SQL_A26 = """
WITH o AS (
    SELECT o_custkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
           year(o_orderdate) * 12 + month(o_orderdate) AS om,
           CAST(strftime(o_orderdate, '%Y%m') AS INT) AS mid
    FROM orders
),
f AS (
    SELECT o_custkey, MIN(om) AS cm, MIN(mid) AS cohort_month
    FROM o GROUP BY 1
),
b AS (
    SELECT o.o_custkey, f.cohort_month, o.om - f.cm AS k, o.price
    FROM o JOIN f USING (o_custkey)
),
g AS (
    SELECT cohort_month, k, COUNT(DISTINCT o_custkey) AS n_active,
           SUM(price) AS rev_dec
    FROM b GROUP BY 1, 2
),
s AS (SELECT cohort_month, COUNT(*) AS cohort_size FROM f GROUP BY 1)
SELECT g.cohort_month, g.k, g.n_active, s.cohort_size,
       CAST(g.rev_dec AS DOUBLE) AS revenue,
       CAST(SUM(g.rev_dec) OVER (PARTITION BY g.cohort_month ORDER BY g.k
                                 ROWS UNBOUNDED PRECEDING) AS DOUBLE)
           / CAST(s.cohort_size AS DOUBLE) AS ltv_per_customer
FROM g JOIN s USING (cohort_month)
"""


_Q12_RULES = [
    ("totalprice_positive", "o_totalprice > 0"),
    ("status_in_domain", "o_orderstatus IN ('O', 'F', 'P')"),
    ("orderdate_not_null", "o_orderdate IS NOT NULL"),
    ("totalprice_under_cap", "o_totalprice <= 400000"),
]


def q_q12_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectation suite over orders — the data-contract
    gate a pipeline runs before publishing: four row-level rules
    (domain, nullability, range) compiled into ONE aggregation pass
    (operators/quality.py:expectation_report — N rules never cost N
    scans), reported as per-rule violation counts/rates. The cap rule
    is a deliberate warn-level check with real violations, so the
    report exercises both outcomes."""
    from ..operators.quality import expectation_report

    return expectation_report(load(spark, sf_dir, "orders"), _Q12_RULES)


def _sql_q12() -> str:
    vs = ",\n           ".join(
        f"SUM(CASE WHEN {cond} THEN 0 ELSE 1 END) AS v{i}"
        for i, (_, cond) in enumerate(_Q12_RULES)
    )
    branches = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS rule, n_rows, CAST(v{i} AS BIGINT) AS n_violations,"
        f" CAST(v{i} AS DOUBLE) / CAST(n_rows AS DOUBLE) AS violation_rate,"
        f" v{i} = 0 AS passed FROM v"
        for i, (name, _) in enumerate(_Q12_RULES)
    )
    return f"""
WITH v AS (
    SELECT COUNT(*) AS n_rows,
           {vs}
    FROM orders
)
{branches}
"""


# EWMA weights (α = 0.2 ⇒ decay 0.8) quantized to exact parts-per-
# million integers in PYTHON and injected into both engines as
# literals — all in-frame arithmetic is then exact BIGINT (Σ Wk·cents
# ≤ 2e17 < 2^63), and the only IEEE ops are the two final casts + one
# division, which cannot differ across engines.
_EWMA_W = [round((0.8 ** k) * 1_000_000) for k in range(20)]


def q_a24_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of daily revenue (α = 0.2,
    20-day trailing frame) — the smoothing operator that completes the
    time-series family (a21 decomposition, e9 z-score, r8 OHLC, r5/r6
    gap-fill): ewma_t = Σ Wk·x_{t−k} / Σ Wk over the days present in
    the frame (leading partial frames renormalize instead of padding).

    Engine-exactness: daily revenue sums as DECIMAL cents (exact), the
    ppm-quantized weights are Python-computed integer literals shared
    by both engines, and each day's numerator/denominator are exact
    BIGINT dot products over 20 lag taps — association order can't
    move a bit, and the single final division is one IEEE op. The lag
    window runs over the POST-AGGREGATION daily series (bounded by the
    calendar, ~10³ rows at any corpus size — the a21/q8 class of
    justified single-partition windows).

    The daily series is a DENSE calendar spine (min..max order date)
    with zero-revenue fill: weight Wk belongs to the value k DAYS back,
    and lagging over observed days alone would re-attach every weight
    to the wrong calendar distance after any gap (the a25/a28
    contiguity concern, solved here by making the series contiguous —
    a zero-revenue day is real data to a revenue EWMA, not a hole)."""
    o = load(spark, sf_dir, "orders")
    counts = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            * F.lit(100)
        )
        .cast("bigint")
        .alias("cents")
    )
    spine = o.agg(
        F.min(F.to_date("o_orderdate")).alias("lo"),
        F.max(F.to_date("o_orderdate")).alias("hi"),
    ).select(F.explode(F.sequence("lo", "hi")).alias("d"))
    daily = spine.join(counts, "d", "left").select(
        F.date_format("d", "yyyyMMdd").cast("int").alias("date_id"),
        F.coalesce("cents", F.lit(0)).cast("bigint").alias("cents"),
    )
    w = Window.orderBy("date_id")
    numer = None
    denom = None
    for k, wk in enumerate(_EWMA_W):
        tap = F.lag("cents", k).over(w)
        term = F.when(tap.isNotNull(), tap * F.lit(wk)).otherwise(F.lit(0))
        dterm = F.when(tap.isNotNull(), F.lit(wk)).otherwise(F.lit(0))
        numer = term if numer is None else numer + term
        denom = dterm if denom is None else denom + dterm
    return daily.select(
        "date_id",
        (F.col("cents").cast("double") / F.lit(100.0)).alias("revenue"),
        (
            numer.cast("double") / denom.cast("double") / F.lit(100.0)
        ).alias("ewma"),
    )


def _sql_a24() -> str:
    taps_n = " + ".join(
        f"CASE WHEN lag(cents, {k}) OVER w IS NOT NULL"
        f" THEN lag(cents, {k}) OVER w * {wk} ELSE 0 END"
        for k, wk in enumerate(_EWMA_W)
    )
    taps_d = " + ".join(
        f"CASE WHEN lag(cents, {k}) OVER w IS NOT NULL"
        f" THEN {wk} ELSE 0 END"
        for k, wk in enumerate(_EWMA_W)
    )
    return f"""
WITH counts AS (
    SELECT CAST(o_orderdate AS DATE) AS d,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS cents
    FROM orders GROUP BY 1
), bounds AS (
    SELECT MIN(CAST(o_orderdate AS DATE)) AS lo,
           MAX(CAST(o_orderdate AS DATE)) AS hi
    FROM orders
), spine AS (
    SELECT lo + CAST(g.i AS INTEGER) AS d
    FROM bounds,
         LATERAL unnest(generate_series(0, CAST(hi - lo AS BIGINT))) AS g(i)
), daily AS (
    SELECT CAST(strftime(s.d, '%Y%m%d') AS INT) AS date_id,
           COALESCE(c.cents, 0) AS cents
    FROM spine s LEFT JOIN counts c ON c.d = s.d
)
SELECT date_id,
       CAST(cents AS DOUBLE) / 100.0 AS revenue,
       CAST({taps_n} AS DOUBLE) / CAST({taps_d} AS DOUBLE) / 100.0 AS ewma
FROM daily
WINDOW w AS (ORDER BY date_id)
"""


_BENFORD = {d: __import__("math").log10(1.0 + 1.0 / d) for d in range(1, 10)}


def q_q11_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit of order totals — the
    classic forensic data-quality gate for monetary columns (fabricated
    or truncated feeds deviate hard from the log distribution). Emits
    per-digit observed vs expected shares and the chi-square term; the
    consumer compares Σ chi2_term against the 8-df critical value.

    Engine-exactness: the first significant digit comes from
    ``%.6f``-formatted text (printf never uses scientific notation, and
    carry-through-all-9s rounding ties are impossible for binary
    doubles at the 6th decimal — a tie requires a 7-binary-digit dyadic
    whose expansion can't be all 9s), NOT from log10(), whose last-ulp
    behavior near powers of 10 is libm-dependent. Expected shares are
    Python-computed literals injected into BOTH engines, so no
    cross-engine log() call is ever compared. Scale shape: pure map +
    9-group partial agg; the only shuffle carries ≤9 rows.
    """
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.regexp_extract(
        F.format_string("%.6f", F.col("o_totalprice")), "[1-9]", 0
    ).cast("int")
    per = o.groupBy(digit.alias("digit")).agg(F.count("*").alias("n"))
    total = Window.partitionBy()
    exp = F.when(F.col("digit") == 1, F.lit(_BENFORD[1]))
    for d in range(2, 10):
        exp = exp.when(F.col("digit") == d, F.lit(_BENFORD[d]))
    nd = F.sum("n").over(total).cast("double")
    en = nd * exp
    return per.select(
        "digit",
        "n",
        F.round(F.col("n").cast("double") / nd, 6).alias("observed_frac"),
        F.round(exp, 6).alias("expected_frac"),
        F.round(
            (F.col("n").cast("double") - en) * (F.col("n").cast("double") - en)
            / en,
            6,
        ).alias("chi2_term"),
    )


SQL_Q11 = f"""
WITH per AS (
    SELECT CAST(regexp_extract(printf('%.6f', o_totalprice), '[1-9]', 0)
                AS INT) AS digit,
           COUNT(*) AS n
    FROM orders WHERE o_totalprice > 0
    GROUP BY 1
), e AS (
    -- CAST: a bare CASE over 17-digit literals types DECIMAL(18,17),
    -- and round(DECIMAL, 6) emits DECIMAL(18,6) — the one remaining
    -- non-native output type in the registry after the ml6 HUGEINT
    -- fix. Values agreed (shortest-roundtrip literals cast back to the
    -- same double), but the oracle should emit the type Spark emits.
    SELECT digit, n,
           CAST(CASE digit {' '.join(f'WHEN {d} THEN {_BENFORD[d]!r}' for d in range(1, 10))} END AS DOUBLE) AS exp_frac,
           CAST(SUM(n) OVER () AS DOUBLE) AS nd
    FROM per
)
SELECT digit, n,
       round(CAST(n AS DOUBLE) / nd, 6) AS observed_frac,
       round(exp_frac, 6) AS expected_frac,
       round((CAST(n AS DOUBLE) - nd * exp_frac)
             * (CAST(n AS DOUBLE) - nd * exp_frac) / (nd * exp_frac), 6)
           AS chi2_term
FROM e
"""


def _abc_classed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared ABC classification: per part, (rev, cum, total, abc_class)
    — ONE definition of the revenue expression, the range-partitioned
    running sum (bucketed on the revenue axis, sc5 pattern), and the
    exact DECIMAL ``cum·10 ≤ total·7/9`` boundary compares, consumed by
    BOTH q_a27_pareto_abc and q_a32_abc_xyz so the two reports can never
    classify a part differently. (30,6) keeps the ×10/×7 boundary
    products inside DECIMAL(38,·) exactly on both engines — at (38,6)
    Spark's precision cap would silently round the product and the
    boundary compare stops being exact."""
    from ..operators.scale import distributed_running_sum

    # The per-part revenue partials would run in the one task a single-file scan yields (shared by a27 and a32);
    # project the three needed columns and repartition on the group key
    # so the partial agg parallelizes AND the exchange satisfies the
    # groupBy distribution (no-op at real scale)
    li = ensure_parallelism(
        load(spark, sf_dir, "lineitem").select(
            "l_partkey", "l_extendedprice", "l_discount"
        ),
        "l_partkey",
    )
    rev = (
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (
            F.lit(1).cast("decimal(6,4)")
            - F.col("l_discount").cast("decimal(6,4)")
        )
    )
    per_part = li.groupBy("l_partkey").agg(
        F.sum(rev).cast("decimal(38,6)").alias("rev")
    )
    cum = distributed_running_sum(
        per_part,
        bucket=F.floor(F.col("rev").cast("double") / F.lit(-50000.0)).cast(
            "long"
        ),
        order_cols=[F.desc("rev"), F.asc("l_partkey")],
        value_col="rev",
        cum_alias="cum",
        # grand total from the helper's own per-bucket sums table — a
        # separate per_part aggregation would re-evaluate the whole
        # lineitem scan+shuffle a third time
        total_alias="total",
    )
    return (
        cum.withColumn("cum", F.col("cum").cast("decimal(30,6)"))
        .withColumn("total", F.col("total").cast("decimal(30,6)"))
        .withColumn(
            "abc_class",
            F.when(F.col("cum") * F.lit(10) <= F.col("total") * F.lit(7), "A")
            .when(F.col("cum") * F.lit(10) <= F.col("total") * F.lit(9), "B")
            .otherwise("C"),
        )
    )


def q_a27_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto inventory classification: parts ranked by revenue,
    cumulatively accumulated, and bucketed A (first 70% of revenue),
    B (next 20%), C (tail) — the "which 20% of SKUs drive 80% of sales"
    readout a16's Gini summarizes into one number but can't itemize.

    The cumulative revenue uses :func:`operators.scale.
    distributed_running_sum` — the sc5/a16 range-partitioned pattern
    generalized from ranks to DECIMAL running sums, so no single task
    ever sorts the whole part dimension (parts scale with the corpus,
    unlike calendar-bounded month axes). Class boundaries compare
    ``cum·10 ≤ total·7`` / ``cum·10 ≤ total·9`` in exact DECIMAL —
    never an IEEE share — so a part sitting precisely on a boundary
    cannot land in different classes on different engines. The whole
    classification lives in :func:`_abc_classed`, shared with a32.
    """
    classed = _abc_classed(spark, sf_dir)
    return classed.groupBy("abc_class").agg(
        F.count("*").cast("bigint").alias("n_parts"),
        F.sum("rev").cast("decimal(38,6)").cast("double").alias("revenue"),
        (
            F.sum("rev").cast("decimal(38,6)").cast("double")
            / F.max(F.col("total").cast("double"))
            * F.lit(100.0)
        ).alias("share_pct"),
    )


SQL_A27 = """
WITH per AS (
    SELECT l_partkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(6,4))
                       - CAST(l_discount AS DECIMAL(6,4))))
                AS DECIMAL(38,6)) AS rev
    FROM lineitem GROUP BY 1
),
c AS (
    SELECT rev,
           CAST(SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                               ROWS UNBOUNDED PRECEDING)
                AS DECIMAL(30,6)) AS cum,
           CAST(SUM(rev) OVER () AS DECIMAL(30,6)) AS total
    FROM per
),
k AS (
    SELECT rev, total,
           CASE WHEN cum * 10 <= total * 7 THEN 'A'
                WHEN cum * 10 <= total * 9 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM c
)
SELECT abc_class,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(CAST(SUM(rev) AS DECIMAL(38,6)) AS DOUBLE) AS revenue,
       CAST(CAST(SUM(rev) AS DECIMAL(38,6)) AS DOUBLE)
           / MAX(CAST(total AS DOUBLE)) * 100.0 AS share_pct
FROM k GROUP BY 1
"""


def q_ml10_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal 1-split decision stump: the best ``n_chars ≤ t`` rule for
    predicting ``lang = 'en'`` by exact misclassification count — the
    simplest supervised baseline (and the split primitive a full tree
    builder would iterate). Error, not entropy/Gini, is the split
    criterion precisely so the whole search stays in exact integers:
    err(t) = min over the two leaf labelings of (left mistakes + right
    mistakes), every term a BIGINT count, so the argmin (tie-broken on
    the smaller threshold) is engine-portable with zero float ops until
    the final accuracy division.

    Scale shape: one groupBy collapses the corpus to per-value (pos,
    tot) counts — the cumulative window then runs over DISTINCT feature
    values only, bounded by the generator's document-length domain
    (~10² values at any corpus size — the a13 value-domain-bounded
    class, allowlisted), never over documents.
    """
    docs = load(spark, sf_dir, "documents")
    per = docs.groupBy(F.col("n_chars").alias("t")).agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("bigint")
        .alias("pos"),
        F.count("*").cast("bigint").alias("tot"),
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        "t",
        F.sum("pos").over(w).cast("bigint").alias("cpos"),
        F.sum("tot").over(w).cast("bigint").alias("ctot"),
    )
    totals = per.agg(
        F.sum("pos").cast("bigint").alias("tpos"),
        F.sum("tot").cast("bigint").alias("ttot"),
    )
    e = cum.crossJoin(F.broadcast(totals)).select(
        "t",
        F.least(
            # left ≤ t labeled 'en': mistakes = left negatives + right positives
            (F.col("ctot") - F.col("cpos"))
            + (F.col("tpos") - F.col("cpos")),
            # left ≤ t labeled 'other': mistakes = left positives + right negatives
            F.col("cpos")
            + ((F.col("ttot") - F.col("ctot")) - (F.col("tpos") - F.col("cpos"))),
        )
        .cast("bigint")
        .alias("err"),
        F.least(F.col("tpos"), F.col("ttot") - F.col("tpos"))
        .cast("bigint")
        .alias("baseline_err"),
        F.col("ttot"),
    )
    best = e.agg(
        F.min(F.struct("err", "t", "baseline_err", "ttot")).alias("b")
    )
    return best.select(
        F.col("b.t").alias("threshold"),
        F.col("b.err").alias("err"),
        F.col("b.baseline_err").alias("baseline_err"),
        (
            (F.col("b.ttot") - F.col("b.err")).cast("double")
            / F.col("b.ttot").cast("double")
        ).alias("accuracy"),
    )


SQL_ML10 = """
WITH per AS (
    SELECT n_chars AS t,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos,
           CAST(COUNT(*) AS BIGINT) AS tot
    FROM documents GROUP BY 1
),
c AS (
    SELECT t,
           CAST(SUM(pos) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cpos,
           CAST(SUM(tot) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ctot,
           CAST(SUM(pos) OVER () AS BIGINT) AS tpos,
           CAST(SUM(tot) OVER () AS BIGINT) AS ttot
    FROM per
),
e AS (
    SELECT t,
           LEAST((ctot - cpos) + (tpos - cpos),
                 cpos + ((ttot - ctot) - (tpos - cpos))) AS err,
           LEAST(tpos, ttot - tpos) AS baseline_err,
           ttot
    FROM c
)
SELECT t AS threshold, CAST(err AS BIGINT) AS err,
       CAST(baseline_err AS BIGINT) AS baseline_err,
       CAST(ttot - err AS DOUBLE) / CAST(ttot AS DOUBLE) AS accuracy
FROM e ORDER BY err, t LIMIT 1
"""


def q_a28_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price/volume bridge: month-over-month revenue change decomposed
    into a volume effect ((q_t−q_{t−1})·p_{t−1}) and a price effect
    ((p_t−p_{t−1})·q_t) — the waterfall chart answering "did revenue
    move because we sold MORE or because we charged MORE", the page-2
    companion to a25's YoY growth. The two effects telescope to the
    exact revenue delta up to the rounding of the average-price
    quotients.

    Exactness: quantity and revenue accumulate as DECIMAL; average
    price is one IEEE division of those exact values, and the effects
    are fixed-order IEEE products — bit-identical on both engines. The
    lag runs over the calendar-bounded post-aggregation month series
    (the a25 class, allowlisted) and is hole-guarded on consecutive
    year·12+month ids so a missing month yields NULL effects rather
    than a silently mislabeled comparison.
    """
    # Date-parse + decimal partial sums would run in the one task a single-file scan yields; project the needed columns
    # and repartition first (no-op at real scale)
    li = ensure_parallelism(
        load(spark, sf_dir, "lineitem").select(
            "l_shipdate", "l_quantity", "l_extendedprice", "l_discount"
        ),
        "l_shipdate",
    )
    monthly = li.groupBy(
        F.date_format("l_shipdate", "yyyyMM").cast("int").alias("month_id"),
        (
            F.year("l_shipdate") * F.lit(12) + F.month("l_shipdate")
        ).alias("om"),
    ).agg(
        F.sum(F.col("l_quantity").cast("decimal(12,2)"))
        .cast("double")
        .alias("qty"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (
                F.lit(1).cast("decimal(6,4)")
                - F.col("l_discount").cast("decimal(6,4)")
            )
        )
        .cast("double")
        .alias("revenue"),
    )
    w = Window.orderBy("om")
    contig = F.lag("om").over(w) == F.col("om") - F.lit(1)
    pq = F.lag("qty").over(w)
    pr = F.lag("revenue").over(w)
    price = F.col("revenue") / F.col("qty")
    pprice = pr / pq
    return monthly.select(
        "month_id",
        "qty",
        "revenue",
        price.alias("avg_price"),
        F.when(contig, F.col("revenue") - pr).alias("delta_revenue"),
        F.when(contig, (F.col("qty") - pq) * pprice).alias("volume_effect"),
        F.when(contig, (price - pprice) * F.col("qty")).alias(
            "price_effect"
        ),
    )


SQL_A28 = """
WITH m AS (
    SELECT CAST(strftime(l_shipdate, '%Y%m') AS INT) AS month_id,
           year(l_shipdate) * 12 + month(l_shipdate) AS om,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(6,4))
                       - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE)
               AS revenue
    FROM lineitem GROUP BY 1, 2
)
SELECT month_id, qty, revenue,
       revenue / qty AS avg_price,
       CASE WHEN lag(om) OVER w = om - 1
            THEN revenue - lag(revenue) OVER w END AS delta_revenue,
       CASE WHEN lag(om) OVER w = om - 1
            THEN (qty - lag(qty) OVER w)
                 * (lag(revenue) OVER w / lag(qty) OVER w)
       END AS volume_effect,
       CASE WHEN lag(om) OVER w = om - 1
            THEN (revenue / qty - lag(revenue) OVER w / lag(qty) OVER w)
                 * qty END AS price_effect
FROM m
WINDOW w AS (ORDER BY om)
"""


def q_q13_fanout_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK fan-out histograms for the star's two biggest relationships:
    orders-per-customer and lineitems-per-order, INCLUDING the zero
    bucket (parents with no children, via a left join from the parent
    dim) — the cardinality profile that predicts join skew and sizes
    shuffle partitions before anyone runs the join (q9 audits FK
    VALIDITY; this profiles FK SHAPE). Two groupBy pairs, each linear;
    the histogram domain is bounded by the max fan-out.
    """
    o = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")

    def hist(parent, parent_key, child, child_key, label):
        per = child.groupBy(child_key).agg(F.count("*").alias("n"))
        full = parent.select(
            F.col(parent_key).alias(child_key)
        ).join(per, child_key, "left").select(
            F.coalesce("n", F.lit(0)).cast("bigint").alias("fanout")
        )
        return full.groupBy("fanout").agg(
            F.count("*").cast("bigint").alias("n_keys")
        ).select(F.lit(label).alias("relation"), "fanout", "n_keys")

    return hist(cust, "c_custkey", o, "o_custkey", "orders_per_customer").unionByName(
        hist(o, "o_orderkey", li, "l_orderkey", "items_per_order")
    )


SQL_Q13 = """
WITH opc AS (
    SELECT CAST(COALESCE(n, 0) AS BIGINT) AS fanout FROM customer
    LEFT JOIN (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY 1) o
           ON c_custkey = o_custkey
),
ipo AS (
    SELECT CAST(COALESCE(n, 0) AS BIGINT) AS fanout FROM orders
    LEFT JOIN (SELECT l_orderkey, COUNT(*) AS n FROM lineitem GROUP BY 1) l
           ON o_orderkey = l_orderkey
)
SELECT 'orders_per_customer' AS relation, fanout,
       CAST(COUNT(*) AS BIGINT) AS n_keys
FROM opc GROUP BY 2
UNION ALL
SELECT 'items_per_order', fanout, CAST(COUNT(*) AS BIGINT)
FROM ipo GROUP BY 2
"""


def q_ml11_oner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OneR feature selection (Holte '93): for each candidate feature,
    the best one-feature rule maps every feature value to its majority
    class, and the feature with the lowest total misclassification wins
    — the classic "a single attribute is often nearly as good as the
    tree" baseline, and the complement of ml10 (which optimizes ONE
    numeric threshold; this ranks whole CATEGORICAL rules). Features
    audited: `source`, and `n_chars DIV 64` as a bucketed numeric;
    target: `lang`.

    Exactness: err(f) = N − Σ_v max_c count(v, c) — every term an exact
    BIGINT from one (value, class) aggregation per feature, majority
    ties irrelevant to the error count; accuracy is the single IEEE
    division. Per-feature cost: one keyed groupBy over (value, class)
    pairs, value-domain-sized everything after.
    """
    docs = load(spark, sf_dir, "documents")

    def rule_err(feature_col, label):
        vc = docs.groupBy(
            feature_col.alias("v"), F.col("lang").alias("c")
        ).agg(F.count("*").cast("bigint").alias("n"))
        per_v = vc.groupBy("v").agg(
            F.sum("n").cast("bigint").alias("tot"),
            F.max("n").cast("bigint").alias("best"),
        )
        return per_v.agg(
            F.lit(label).alias("feature"),
            F.count("*").cast("bigint").alias("n_values"),
            F.sum(F.col("tot") - F.col("best")).cast("bigint").alias("err"),
            (
                F.sum("best").cast("bigint").cast("double")
                / F.sum("tot").cast("bigint").cast("double")
            ).alias("accuracy"),
        )

    return rule_err(
        F.col("source").cast("string"), "source"
    ).unionByName(
        rule_err(
            F.expr("CAST(n_chars DIV 64 AS STRING)"), "n_chars_div64"
        )
    )


SQL_ML11 = """
WITH s AS (
    SELECT CAST(source AS VARCHAR) AS v, lang AS c, COUNT(*) AS n
    FROM documents GROUP BY 1, 2
),
sv AS (
    SELECT v, CAST(SUM(n) AS BIGINT) AS tot, CAST(MAX(n) AS BIGINT) AS best
    FROM s GROUP BY 1
),
b AS (
    SELECT CAST(n_chars // 64 AS VARCHAR) AS v, lang AS c, COUNT(*) AS n
    FROM documents GROUP BY 1, 2
),
bv AS (
    SELECT v, CAST(SUM(n) AS BIGINT) AS tot, CAST(MAX(n) AS BIGINT) AS best
    FROM b GROUP BY 1
)
SELECT 'source' AS feature,
       CAST(COUNT(*) AS BIGINT) AS n_values,
       CAST(SUM(tot - best) AS BIGINT) AS err,
       CAST(CAST(SUM(best) AS BIGINT) AS DOUBLE)
           / CAST(CAST(SUM(tot) AS BIGINT) AS DOUBLE) AS accuracy
FROM sv
UNION ALL
SELECT 'n_chars_div64',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(tot - best) AS BIGINT),
       CAST(CAST(SUM(best) AS BIGINT) AS DOUBLE)
           / CAST(CAST(SUM(tot) AS BIGINT) AS DOUBLE)
FROM bv
"""


def q_q14_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test: D = max |F̂_click(x) −
    F̂_purchase(x)| between the click and purchase value distributions,
    with the α=0.05 decision — the distribution-shape sibling of q5's
    binned PSI (PSI needs bins chosen in advance; KS compares the full
    empirical CDFs and is the standard "did the value distribution
    drift" gate between pipeline runs).

    Scale shape: one groupBy collapses both samples to per-DISTINCT-
    value side counts, then the e-CDFs are a DUAL range-partitioned
    running sum over the value axis (x30's two-accumulator sc5
    pattern — no single-task window over the merged sample), and D is
    a 1-row max. Exactness: cumulative counts are BIGINTs; each CDF
    step is one IEEE division, |·| and max of identical doubles on
    both engines; sqrt is IEEE-correctly-rounded so the critical value
    c(α)·√((nₐ+n_b)/(nₐ·n_b)) with c = 1358/1000 is engine-portable.
    """
    from pyspark.sql import Window as W

    ev = load_events(spark, sf_dir)
    per_v = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy(F.col("value").alias("v"))
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("bigint")
            .alias("ca"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("bigint")
            .alias("cb"),
        )
    )
    keyed = per_v.withColumn("_b", F.floor(F.col("v") / F.lit(50.0)).cast("long"))
    bsum = keyed.groupBy("_b").agg(
        F.sum("ca").alias("_ba"), F.sum("cb").alias("_bb")
    )
    w_off = W.orderBy("_b").rowsBetween(W.unboundedPreceding, -1)
    offs = bsum.select(
        "_b",
        F.coalesce(F.sum("_ba").over(w_off), F.lit(0)).alias("_oa"),
        F.coalesce(F.sum("_bb").over(w_off), F.lit(0)).alias("_ob"),
    )
    w_in = W.partitionBy("_b").orderBy("v").rowsBetween(
        W.unboundedPreceding, 0
    )
    cum = keyed.join(F.broadcast(offs), "_b").select(
        (F.sum("ca").over(w_in) + F.col("_oa")).cast("bigint").alias("fa"),
        (F.sum("cb").over(w_in) + F.col("_ob")).cast("bigint").alias("fb"),
    )
    tot = per_v.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    d = (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.abs(
                F.col("fa").cast("double") / F.col("na").cast("double")
                - F.col("fb").cast("double") / F.col("nb").cast("double")
            ).alias("step"),
            "na",
            "nb",
        )
        .groupBy("na", "nb")
        .agg(F.max("step").alias("ks_stat"))
    )
    crit = (F.lit(1358).cast("double") / F.lit(1000.0)) * F.sqrt(
        (F.col("na") + F.col("nb")).cast("double")
        / (F.col("na").cast("double") * F.col("nb").cast("double"))
    )
    return d.select(
        "na",
        "nb",
        "ks_stat",
        crit.alias("ks_crit_05"),
        (F.col("ks_stat") > crit).alias("reject_same_dist"),
    )


SQL_Q14 = """
WITH per_v AS (
    SELECT value AS v,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS ca,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS cb
    FROM events WHERE event_type IN ('click', 'purchase')
    GROUP BY 1
),
c AS (
    SELECT CAST(SUM(ca) OVER w AS BIGINT) AS fa,
           CAST(SUM(cb) OVER w AS BIGINT) AS fb
    FROM per_v WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
),
t AS (
    SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
    FROM per_v
),
d AS (
    SELECT t.na, t.nb,
           MAX(ABS(CAST(fa AS DOUBLE) / CAST(na AS DOUBLE)
                   - CAST(fb AS DOUBLE) / CAST(nb AS DOUBLE))) AS ks_stat
    FROM c CROSS JOIN t GROUP BY 1, 2
)
SELECT na, nb, ks_stat,
       (CAST(1358 AS DOUBLE) / 1000.0)
           * sqrt(CAST(na + nb AS DOUBLE)
                  / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))
           AS ks_crit_05,
       ks_stat > (CAST(1358 AS DOUBLE) / 1000.0)
           * sqrt(CAST(na + nb AS DOUBLE)
                  / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))
           AS reject_same_dist
FROM d
"""


def _score_q_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared scored-corpus base for the model-eval family
    (ml12/ml13/ml14/ml16): every non-empty document with its
    integer-quantized stopword-density quality score
    ``score_q = (stopword_hits · 10⁹) DIV n_tokens`` — pure BIGINT, no
    float anywhere in the score — plus the label columns the consumers
    rank, decile, threshold, or bin against (``lang``; ``pos`` =
    lang='en'; ``doc_id`` as the deterministic tie-break). ONE
    definition so the exactness-critical quantization can never drift
    between plans that all claim to evaluate the same score; Catalyst
    prunes whichever columns a consumer leaves unused. The oracle twin
    is ``_sql_scored_cte`` — keep the two in lockstep."""
    from ..operators import text as text_ops

    docs = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    t = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        "lang",
        (F.col("lang") == "en").alias("pos"),
        F.size(F.filter(t, lambda x: x.isin(*text_ops.STOPWORDS)))
        .cast("bigint")
        .alias("hits"),
        F.size(t).cast("bigint").alias("n"),
    ).select(
        "doc_id",
        "lang",
        "pos",
        F.expr("(hits * 1000000000) DIV n").alias("score_q"),
    )


def _sql_scored_cte() -> str:
    """DuckDB CTE ``scored(doc_id, lang, pos, score_q)`` — the oracle
    twin of ``_score_q_base``; interpolates the same STOPWORDS constant
    so the two sides cannot drift independently."""
    from ..operators import text as text_ops

    stop_list = ", ".join(f"'{w}'" for w in text_ops.STOPWORDS)
    return f"""scored AS (
    SELECT doc_id, lang, lang = 'en' AS pos,
           (CAST(len(list_filter(string_split(text, ' '),
                 x -> x IN ({stop_list})))
                 AS BIGINT) * 1000000000)
             // CAST(len(string_split(text, ' ')) AS BIGINT) AS score_q
    FROM documents WHERE length(text) > 0
)"""


def q_ml12_score_bias_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate bias audit: per language, the exact Mann-Whitney
    AUC of the stopword-ratio quality signal at separating that
    language from the rest of the corpus — AUC 0.5 = unbiased gate,
    AUC far from 0.5 = the scorer systematically prefers (or buries)
    that language. The stopword list is English, so on a real corpus
    'en' would indict itself; the synthetic fixture shares vocabulary
    across langs and reads ≈0.5 everywhere, which is itself the
    correct answer. This is the audit an LLM curation pipeline
    runs before trusting any learned/heuristic quality filter: a
    filter with high per-group AUC silently skews the training mix.

    Exactness: the score is the integer-quantized ratio
    (stopword_hits·10⁹) DIV n_tokens — pure BIGINT division, no float
    anywhere in the ranking — and AUC uses the rank-sum identity
    2U = Σ_groups n_pos·(2·cum_neg_below + n_neg_tied), so ties get
    midrank credit and every term is a BIGINT; the single IEEE op is
    the final U/(n_pos·n_neg). Scale shape: two linear groupBys
    collapse the corpus to |langs|×|distinct scores| rows, the
    cumulative-below counts run as the q14 dual bucket pattern (per-
    (lang, bucket) keyed windows + a ≤32-row broadcast offset table —
    no single-reducer window), one final |langs|-group fold. BIGINT
    overflows only past ~3·10⁹ docs per class (switch u2 to DECIMAL
    then). Oracle is the naive global-window SQL — the driver gate is
    the differential proof the distributed ranking ≡ single-reducer
    semantics.
    """
    base = _score_q_base(spark, sf_dir).select("lang", "score_q")
    c_tot = base.groupBy("score_q").agg(
        F.count("*").cast("bigint").alias("n_all")
    )
    c_pos = base.groupBy("lang", "score_q").agg(
        F.count("*").cast("bigint").alias("n_pos")
    )
    langs = base.select("lang").distinct()
    grid = (
        langs.crossJoin(c_tot)
        .join(c_pos, ["lang", "score_q"], "left")
        .select(
            "lang",
            "score_q",
            "n_all",
            F.coalesce("n_pos", F.lit(0)).cast("bigint").alias("n_pos"),
        )
        .withColumn("_b", F.expr("score_q DIV 31250000"))
        .withColumn("n_neg", F.col("n_all") - F.col("n_pos"))
    )
    w_off = (
        Window.partitionBy("lang")
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = (
        grid.groupBy("lang", "_b")
        .agg(F.sum("n_neg").alias("_bn"))
        .select(
            "lang",
            "_b",
            F.coalesce(F.sum("_bn").over(w_off), F.lit(0)).alias("_on"),
        )
    )
    w_in = (
        Window.partitionBy("lang", "_b")
        .orderBy("score_q")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = grid.join(F.broadcast(offs), ["lang", "_b"]).select(
        "lang",
        "n_pos",
        "n_neg",
        (
            F.coalesce(F.sum("n_neg").over(w_in), F.lit(0)) + F.col("_on")
        )
        .cast("bigint")
        .alias("cumneg_below"),
    )
    per = cum.groupBy("lang").agg(
        F.sum("n_pos").cast("bigint").alias("n_pos"),
        F.sum("n_neg").cast("bigint").alias("n_neg"),
        F.sum(
            F.col("n_pos")
            * (F.lit(2) * F.col("cumneg_below") + F.col("n_neg"))
        )
        .cast("bigint")
        .alias("u2"),
    )
    return per.select(
        "lang",
        "n_pos",
        "n_neg",
        "u2",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.col("u2").cast("double")
            / (
                F.lit(2.0)
                * F.col("n_pos").cast("double")
                * F.col("n_neg").cast("double")
            ),
        ).alias("auc"),
    )


SQL_ML12 = f"""
WITH {_sql_scored_cte()},
cg AS (
    SELECT score_q, CAST(COUNT(*) AS BIGINT) AS n_all FROM scored GROUP BY 1
),
cl AS (
    SELECT lang, score_q, CAST(COUNT(*) AS BIGINT) AS n_pos
    FROM scored GROUP BY 1, 2
),
grid AS (
    SELECT l.lang, g.score_q, g.n_all, COALESCE(c.n_pos, 0) AS n_pos,
           g.n_all - COALESCE(c.n_pos, 0) AS n_neg
    FROM (SELECT DISTINCT lang FROM scored) l
    CROSS JOIN cg g
    LEFT JOIN cl c ON c.lang = l.lang AND c.score_q = g.score_q
),
cum AS (
    SELECT lang, n_pos, n_neg,
           COALESCE(SUM(n_neg) OVER (PARTITION BY lang ORDER BY score_q
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS cumneg_below
    FROM grid
)
SELECT lang,
       CAST(SUM(n_pos) AS BIGINT) AS n_pos,
       CAST(SUM(n_neg) AS BIGINT) AS n_neg,
       CAST(SUM(n_pos * (2 * cumneg_below + n_neg)) AS BIGINT) AS u2,
       CASE WHEN SUM(n_pos) > 0 AND SUM(n_neg) > 0 THEN
           CAST(SUM(n_pos * (2 * cumneg_below + n_neg)) AS DOUBLE)
           / (2.0 * CAST(SUM(n_pos) AS DOUBLE)
                  * CAST(SUM(n_neg) AS DOUBLE))
       END AS auc
FROM cum GROUP BY 1
"""


def q_ml13_gain_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains / lift table — ml12's AUC collapsed the whole
    ranking to one number; this is the decile-level view a campaign or
    curation planner actually reads ("the top 10% of docs by quality
    score holds 1.4× its share of English docs"): rank all documents by
    the quality signal descending, cut into 10 equal-count deciles, and
    report per-decile and cumulative capture of the positive class plus
    the lift over random.

    Exactness: ranking on the integer-quantized score with doc_id
    tie-break (a total order, so deciles are engine-identical); decile
    = ((rk−1)·10) DIV n is pure integer; gain and lift are single IEEE
    divisions of exact BIGINT products (cum_pos·n vs cum_rows·total_pos
    — never a ratio of ratios). Scale shape: the global descending rank
    runs through the shared range-partitioned row-number helper
    (bucketed on the quantized score — no single-task world sort); the
    only serial windows are over the 10 post-aggregation decile rows.
    Oracle = the naive global-window SQL (differential proof, as
    sc5/sc6/ml12).
    """
    from ..operators import scale

    base = _score_q_base(spark, sf_dir).select("doc_id", "pos", "score_q")
    rn = scale.distributed_row_number(
        base,
        bucket=F.expr("-(score_q DIV 31250000)"),
        order_cols=[F.desc("score_q"), F.asc("doc_id")],
        rn_alias="rk",
        count_alias="n_tot",
    )
    per = (
        rn.withColumn(
            "decile", F.expr("CAST(((rk - 1) * 10) DIV n_tot AS INT)")
        )
        .groupBy("decile")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.when(F.col("pos"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_pos"),
            F.max("n_tot").alias("n_tot"),
        )
    )
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = per.agg(F.sum("n_pos").cast("bigint").alias("total_pos"))
    cum = per.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n_rows",
        "n_pos",
        F.sum("n_rows").over(w_cum).cast("bigint").alias("cum_rows"),
        F.sum("n_pos").over(w_cum).cast("bigint").alias("cum_pos"),
        "n_tot",
        "total_pos",
    )
    return cum.select(
        "decile",
        "n_rows",
        "n_pos",
        "cum_rows",
        "cum_pos",
        (
            F.col("cum_pos").cast("double")
            / F.col("total_pos").cast("double")
        ).alias("gain"),
        (
            (F.col("cum_pos") * F.col("n_tot")).cast("double")
            / (F.col("cum_rows") * F.col("total_pos")).cast("double")
        ).alias("lift"),
    )


SQL_ML13 = f"""
WITH {_sql_scored_cte()},
rk AS (
    SELECT doc_id, pos,
           ROW_NUMBER() OVER (ORDER BY score_q DESC, doc_id) AS rk,
           COUNT(*) OVER () AS n_tot
    FROM scored
),
per AS (
    SELECT CAST(((rk - 1) * 10) // n_tot AS INT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           CAST(MAX(n_tot) AS BIGINT) AS n_tot
    FROM rk GROUP BY 1
),
cum AS (
    SELECT decile, n_rows, n_pos,
           CAST(SUM(n_rows) OVER (ORDER BY decile
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_rows,
           CAST(SUM(n_pos) OVER (ORDER BY decile
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_pos,
           n_tot,
           CAST(SUM(n_pos) OVER () AS BIGINT) AS total_pos
    FROM per
)
SELECT decile, n_rows, n_pos, cum_rows, cum_pos,
       CAST(cum_pos AS DOUBLE) / CAST(total_pos AS DOUBLE) AS gain,
       CAST(cum_pos * n_tot AS DOUBLE)
           / CAST(cum_rows * total_pos AS DOUBLE) AS lift
FROM cum
"""


def q_ml14_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall threshold sweep for the x3 English detector —
    x19 reports the confusion matrix at the shipped 0.05 cutoff; this
    answers the tuning question ("WHICH cutoff?") with the full
    operating-point table at five stopword-ratio thresholds: tp/fp/
    fn/tn, precision, recall, F1, accuracy per threshold — the PR curve
    a curation pipeline reads before committing a filter threshold.

    Exactness: the score is ml12's integer-quantized ratio
    (hits·10⁹ DIV n_tokens) compared against integer parts-per-billion
    thresholds — no float comparison anywhere — and every metric is a
    single IEEE division of exact BIGINT counts (F1 as
    2tp/(2tp+fp+fn), never a mean of two ratios). Scale shape: one
    linear scan fans each doc out to the 5 thresholds (constant ×5)
    into a 5-group aggregate — no joins, no windows.
    """
    base = _score_q_base(spark, sf_dir).select("pos", "score_q")
    fan = base.select(
        "pos",
        "score_q",
        F.explode(
            F.array(
                *[
                    F.lit(v).cast("bigint")
                    for v in (
                        20_000_000,
                        50_000_000,
                        100_000_000,
                        150_000_000,
                        200_000_000,
                    )
                ]
            )
        ).alias("thresh_ppb"),
    ).withColumn("pred", F.col("score_q") > F.col("thresh_ppb"))
    per = fan.groupBy("thresh_ppb").agg(
        F.sum(F.when(F.col("pred") & F.col("pos"), 1).otherwise(0))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.when(F.col("pred") & ~F.col("pos"), 1).otherwise(0))
        .cast("bigint")
        .alias("fp"),
        F.sum(F.when(~F.col("pred") & F.col("pos"), 1).otherwise(0))
        .cast("bigint")
        .alias("fn"),
        F.sum(F.when(~F.col("pred") & ~F.col("pos"), 1).otherwise(0))
        .cast("bigint")
        .alias("tn"),
    )
    return per.select(
        "thresh_ppb",
        "tp",
        "fp",
        "fn",
        "tn",
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.col("tp").cast("double")
            / (F.col("tp") + F.col("fp")).cast("double"),
        ).alias("precision"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.col("tp").cast("double")
            / (F.col("tp") + F.col("fn")).cast("double"),
        ).alias("recall"),
        F.when(
            F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn") > 0,
            (F.lit(2) * F.col("tp")).cast("double")
            / (F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn")).cast(
                "double"
            ),
        ).alias("f1"),
        (
            (F.col("tp") + F.col("tn")).cast("double")
            / (
                F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")
            ).cast("double")
        ).alias("accuracy"),
    )


SQL_ML14 = f"""
WITH {_sql_scored_cte()},
fan AS (
    SELECT pos, score_q, CAST(t AS BIGINT) AS thresh_ppb,
           score_q > t AS pred
    FROM scored, LATERAL unnest([20000000, 50000000, 100000000,
                               150000000, 200000000]) AS u(t)
),
per AS (
    SELECT thresh_ppb,
           CAST(SUM(CASE WHEN pred AND pos THEN 1 ELSE 0 END) AS BIGINT)
               AS tp,
           CAST(SUM(CASE WHEN pred AND NOT pos THEN 1 ELSE 0 END) AS BIGINT)
               AS fp,
           CAST(SUM(CASE WHEN NOT pred AND pos THEN 1 ELSE 0 END) AS BIGINT)
               AS fn,
           CAST(SUM(CASE WHEN NOT pred AND NOT pos THEN 1 ELSE 0 END)
                AS BIGINT) AS tn
    FROM fan GROUP BY 1
)
SELECT thresh_ppb, tp, fp, fn, tn,
       CASE WHEN tp + fp > 0
            THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END
           AS precision,
       CASE WHEN tp + fn > 0
            THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END
           AS recall,
       CASE WHEN 2 * tp + fp + fn > 0
            THEN CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE)
            END AS f1,
       CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE)
           AS accuracy
FROM per
"""


def q_a32_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC×XYZ planning matrix — the inventory-management grid that
    crosses a27's revenue concentration classes (A/B/C by cumulative
    share) with demand-VARIABILITY classes (X/Y/Z by the coefficient of
    variation of monthly shipped quantity over the corpus's full month
    horizon, zero months included): AX = high-value steady demand
    (automate replenishment), CZ = low-value erratic (stock to order).
    Nine rows, each with part count, revenue, and quantity.

    Exactness: XYZ never computes cv as a float — with S = Σ monthly
    qty, Q = Σ qty², n = total horizon months, cv² = (nQ − S²)/S², and
    the 0.5/1.0 cutoffs become the BIGINT comparisons 4(nQ − S²) < S² /
    (nQ − S²) < S² (zero-month contributions are zero terms, so the
    full horizon costs nothing to "fill"). ABC reuses a27's exact
    DECIMAL cum·10 ≤ total·7/9 boundary compares on the shared
    range-partitioned running sum. BIGINT overflow in nQ needs monthly
    quantities past ~3·10⁸ (switch to DECIMAL then). Scale shape: two
    linear part-keyed aggregates + the sc5-pattern running sum + one
    9-group fold; no window touches raw lineitem rows.
    """
    abc = _abc_classed(spark, sf_dir).select(
        "l_partkey", "rev", "abc_class"
    )
    # Both consumers below (monthly quantities, month horizon)
    # re-execute this scan; each partial agg would run in the one task a single-file scan yields — repartition the projected
    # columns first (no-op at real scale)
    li = ensure_parallelism(
        load(spark, sf_dir, "lineitem").select(
            "l_partkey", "l_shipdate", "l_quantity"
        ),
        "l_partkey",
    )
    monthly = li.groupBy(
        "l_partkey",
        F.date_format(F.to_date("l_shipdate"), "yyyyMM").alias("m"),
    ).agg(F.sum("l_quantity").cast("bigint").alias("qty_m"))
    horizon = (
        li.select(
            F.date_format(F.to_date("l_shipdate"), "yyyyMM").alias("m")
        )
        .distinct()
        .agg(F.count("*").cast("bigint").alias("n_months"))
    )
    stats = monthly.groupBy("l_partkey").agg(
        F.sum("qty_m").cast("bigint").alias("s"),
        F.sum(F.col("qty_m") * F.col("qty_m")).cast("bigint").alias("q2"),
    )
    xyz = stats.crossJoin(F.broadcast(horizon)).select(
        "l_partkey",
        "s",
        F.when(
            F.lit(4) * (F.col("n_months") * F.col("q2") - F.col("s") * F.col("s"))
            < F.col("s") * F.col("s"),
            "X",
        )
        .when(
            F.col("n_months") * F.col("q2") - F.col("s") * F.col("s")
            < F.col("s") * F.col("s"),
            "Y",
        )
        .otherwise("Z")
        .alias("xyz_class"),
    )
    return (
        abc.join(xyz, "l_partkey")
        .groupBy("abc_class", "xyz_class")
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            F.sum("rev").cast("decimal(38,6)").cast("double").alias("revenue"),
            F.sum("s").cast("bigint").alias("qty_total"),
        )
    )


SQL_A32 = """
WITH per AS (
    SELECT l_partkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(6,4))
                       - CAST(l_discount AS DECIMAL(6,4))))
                AS DECIMAL(38,6)) AS rev
    FROM lineitem GROUP BY 1
),
c AS (
    SELECT l_partkey, rev,
           CAST(SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                               ROWS UNBOUNDED PRECEDING)
                AS DECIMAL(30,6)) AS cum,
           CAST(SUM(rev) OVER () AS DECIMAL(30,6)) AS total
    FROM per
),
abc AS (
    SELECT l_partkey, rev,
           CASE WHEN cum * 10 <= total * 7 THEN 'A'
                WHEN cum * 10 <= total * 9 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM c
),
monthly AS (
    SELECT l_partkey, strftime(CAST(l_shipdate AS DATE), '%Y%m') AS m,
           CAST(SUM(l_quantity) AS BIGINT) AS qty_m
    FROM lineitem GROUP BY 1, 2
),
horizon AS (
    SELECT CAST(COUNT(DISTINCT strftime(CAST(l_shipdate AS DATE), '%Y%m'))
               AS BIGINT) AS n_months
    FROM lineitem
),
stats AS (
    SELECT l_partkey, CAST(SUM(qty_m) AS BIGINT) AS s,
           CAST(SUM(qty_m * qty_m) AS BIGINT) AS q2
    FROM monthly GROUP BY 1
),
xyz AS (
    SELECT l_partkey, s,
           CASE WHEN 4 * (n_months * q2 - s * s) < s * s THEN 'X'
                WHEN n_months * q2 - s * s < s * s THEN 'Y'
                ELSE 'Z' END AS xyz_class
    FROM stats, horizon
)
SELECT abc_class, xyz_class,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(CAST(SUM(rev) AS DECIMAL(38,6)) AS DOUBLE) AS revenue,
       CAST(SUM(s) AS BIGINT) AS qty_total
FROM abc JOIN xyz USING (l_partkey)
GROUP BY 1, 2
"""


_PK_SPEC: list[tuple[str, tuple[str, ...]]] = [
    ("region", ("r_regionkey",)),
    ("nation", ("n_nationkey",)),
    ("customer", ("c_custkey",)),
    ("supplier", ("s_suppkey",)),
    ("part", ("p_partkey",)),
    ("orders", ("o_orderkey",)),
    ("lineitem", ("l_orderkey", "l_linenumber")),
    ("events", ("event_id",)),
    ("documents", ("doc_id",)),
    ("embeddings", ("vec_id",)),
]


def q_q15_pk_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-star primary-key uniqueness audit: for every table, its
    declared key (composite for lineitem), row count, distinct-key
    count, duplicate-key groups, and excess rows — q1/q9 prove the FK
    edges point somewhere; this proves the keys they point AT are
    actually keys. The first gate any warehouse load runs: a dup key
    silently double-counts every downstream join. (It earns its keep on
    this very fixture: the synthetic generator draws l_linenumber at
    random, so lineitem's textbook composite key is genuinely violated
    — the audit reports it, pinned by the law test.)

    Shape: one count-distinct aggregate per table (10 linear scans over
    projection-pruned key columns only), union'd into a 10-row report —
    no joins, no windows. All BIGINT; `is_unique` is the exact
    n_rows == n_keys predicate.
    """
    parts = []
    # Measured NON-change: ensure_parallelism on the fact-sized
    # arms was neutral interleaved-probed (1.53–1.61 s both ways) — the
    # key-group partials are plain count-by-key hashmaps, so the raw-key
    # exchange buys nothing locally; the 10-arm plan keeps its minimal
    # one-exchange-per-arm shape.
    for table, keys in _PK_SPEC:
        t = load(spark, sf_dir, table)
        g = t.groupBy(*[F.col(k) for k in keys]).agg(
            F.count("*").cast("bigint").alias("_n")
        )
        parts.append(
            g.agg(
                F.sum("_n").cast("bigint").alias("n_rows"),
                F.count("*").cast("bigint").alias("n_keys"),
                F.sum(F.when(F.col("_n") > 1, 1).otherwise(0))
                .cast("bigint")
                .alias("dup_key_groups"),
                F.sum(F.when(F.col("_n") > 1, F.col("_n") - 1).otherwise(0))
                .cast("bigint")
                .alias("excess_rows"),
            ).select(
                F.lit(table).alias("table_name"),
                F.lit("+".join(keys)).alias("pk"),
                "n_rows",
                "n_keys",
                "dup_key_groups",
                "excess_rows",
                (F.col("n_rows") == F.col("n_keys")).alias("is_unique"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _sql_q15() -> str:
    blocks = []
    for table, keys in _PK_SPEC:
        kl = ", ".join(keys)
        blocks.append(f"""
    SELECT '{table}' AS table_name, '{"+".join(keys)}' AS pk,
           CAST(SUM(_n) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN _n > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS dup_key_groups,
           CAST(SUM(CASE WHEN _n > 1 THEN _n - 1 ELSE 0 END) AS BIGINT)
               AS excess_rows,
           SUM(_n) = COUNT(*) AS is_unique
    FROM (SELECT {kl}, CAST(COUNT(*) AS BIGINT) AS _n
          FROM {table} GROUP BY {kl})""")
    return "\nUNION ALL\n".join(blocks)


def q_ml15_ols2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature ordinary least squares — ml5 fits the univariate
    trend; this solves the full normal equations for
    ``o_totalprice ~ b0 + b1·n_items + b2·total_qty`` per order, closed
    form, no iteration: the "does quantity explain price beyond item
    count" attribution a margin model starts from, and the proof
    multiple regression needs nothing beyond exact aggregates + one
    scalar solve.

    Portability recipe (the ml10/v9 discipline extended to linear
    algebra): every moment is an EXACT integer — y in cents via
    DECIMAL(12,2)·100, the five centered moments as n·Σab − Σa·Σb on
    BIGINTs — and only then cast to double ONCE, after which the
    Cramer's-rule solve is a fixed scalar expression tree evaluated on
    identical 1-row inputs, so both engines round identically at every
    step. (Raw BIGINT centered moments stay under 2⁶³ through sf0.1
    ~3·10¹⁸; past that the moment casts switch to DECIMAL(38,0) —
    doubles would silently lose the low bits first.) Scale shape: one
    lineitem groupBy + one orders join + ONE global aggregate to a
    single moments row; the solve is driver-free scalar arithmetic on
    that row.
    """
    li = load(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.count("*").cast("bigint").alias("x1"),
        F.sum("l_quantity").cast("bigint").alias("x2"),
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(12,2)") * F.lit(100))
        .cast("bigint")
        .alias("y"),
    )
    j = o.join(li, o.o_orderkey == li.l_orderkey).select("x1", "x2", "y")
    # Σy² in cents is ~3·10¹⁹ at sf0.1 and n·Σy² ~10²² — past BIGINT —
    # so every moment aggregates in DECIMAL(38,0) (Spark) / HUGEINT
    # (oracle): both exact integers far below their 38-digit/int128
    # caps, converging to the identical double at the single cast
    dec = "decimal(38,0)"
    m = j.agg(
        F.count("*").cast(dec).alias("n"),
        F.sum("x1").cast(dec).alias("sx1"),
        F.sum("x2").cast(dec).alias("sx2"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast(dec).alias("sx1x1"),
        F.sum(F.col("x2") * F.col("x2")).cast(dec).alias("sx2x2"),
        F.sum(F.col("x1") * F.col("x2")).cast(dec).alias("sx1x2"),
        F.sum(F.col("x1") * F.col("y")).cast(dec).alias("sx1y"),
        F.sum(F.col("x2") * F.col("y")).cast(dec).alias("sx2y"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).cast(dec).alias("syy"),
    )
    # centered second moments, exact integers, THEN the single double cast
    c = m.selectExpr(
        "CAST(n AS BIGINT) AS n",
        "CAST(n * sx1x1 - sx1 * sx1 AS DOUBLE) AS a11",
        "CAST(n * sx1x2 - sx1 * sx2 AS DOUBLE) AS a12",
        "CAST(n * sx2x2 - sx2 * sx2 AS DOUBLE) AS a22",
        "CAST(n * sx1y - sx1 * sy AS DOUBLE) AS c1",
        "CAST(n * sx2y - sx2 * sy AS DOUBLE) AS c2",
        "CAST(n * syy - sy * sy AS DOUBLE) AS syy_c",
        "CAST(sx1 AS DOUBLE) AS dsx1",
        "CAST(sx2 AS DOUBLE) AS dsx2",
        "CAST(sy AS DOUBLE) AS dsy",
        "CAST(n AS DOUBLE) AS dn",
    )
    return c.selectExpr(
        "n",
        "(c1 * a22 - c2 * a12) / (a11 * a22 - a12 * a12) AS b1",
        "(c2 * a11 - c1 * a12) / (a11 * a22 - a12 * a12) AS b2",
        """(dsy - ((c1 * a22 - c2 * a12) / (a11 * a22 - a12 * a12)) * dsx1
               - ((c2 * a11 - c1 * a12) / (a11 * a22 - a12 * a12)) * dsx2)
           / dn / 100.0 AS b0_dollars""",
        """((c1 * a22 - c2 * a12) / (a11 * a22 - a12 * a12) * c1
            + (c2 * a11 - c1 * a12) / (a11 * a22 - a12 * a12) * c2)
           / syy_c AS r2""",
    )


SQL_ML15 = """
WITH li AS (
    SELECT l_orderkey,
           CAST(COUNT(*) AS BIGINT) AS x1,
           CAST(SUM(l_quantity) AS BIGINT) AS x2
    FROM lineitem GROUP BY 1
),
j AS (
    SELECT x1, x2,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
    FROM orders JOIN li ON o_orderkey = l_orderkey
),
m AS (
    SELECT CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(x1) AS HUGEINT) AS sx1,
           CAST(SUM(x2) AS HUGEINT) AS sx2,
           CAST(SUM(y) AS HUGEINT) AS sy,
           CAST(SUM(x1 * x1) AS HUGEINT) AS sx1x1,
           CAST(SUM(x2 * x2) AS HUGEINT) AS sx2x2,
           CAST(SUM(x1 * x2) AS HUGEINT) AS sx1x2,
           CAST(SUM(x1 * y) AS HUGEINT) AS sx1y,
           CAST(SUM(x2 * y) AS HUGEINT) AS sx2y,
           CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
    FROM j
),
c AS (
    SELECT CAST(n AS BIGINT) AS n,
           CAST(n * sx1x1 - sx1 * sx1 AS DOUBLE) AS a11,
           CAST(n * sx1x2 - sx1 * sx2 AS DOUBLE) AS a12,
           CAST(n * sx2x2 - sx2 * sx2 AS DOUBLE) AS a22,
           CAST(n * sx1y - sx1 * sy AS DOUBLE) AS c1,
           CAST(n * sx2y - sx2 * sy AS DOUBLE) AS c2,
           CAST(n * syy - sy * sy AS DOUBLE) AS syy_c,
           CAST(sx1 AS DOUBLE) AS dsx1,
           CAST(sx2 AS DOUBLE) AS dsx2,
           CAST(sy AS DOUBLE) AS dsy,
           CAST(n AS DOUBLE) AS dn
    FROM m
)
SELECT n,
       (c1 * a22 - c2 * a12) / (a11 * a22 - a12 * a12) AS b1,
       (c2 * a11 - c1 * a12) / (a11 * a22 - a12 * a12) AS b2,
       (dsy - ((c1 * a22 - c2 * a12) / (a11 * a22 - a12 * a12)) * dsx1
            - ((c2 * a11 - c1 * a12) / (a11 * a22 - a12 * a12)) * dsx2)
           / dn / 100.0 AS b0_dollars,
       ((c1 * a22 - c2 * a12) / (a11 * a22 - a12 * a12) * c1
        + (c2 * a11 - c1 * a12) / (a11 * a22 - a12 * a12) * c2)
           / syy_c AS r2
FROM c
"""


def q_q16_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-completeness audit over the event_id sequence: min/max id,
    row count, missing ids, gap runs, largest gap, total gap length —
    the "did the feed drop messages" monitor that pairs with q15 (q15
    proves ids unique, this proves them CONTIGUOUS; together they prove
    the feed delivered exactly-once AND in full).

    Shape: operators/quality.sequence_gap_report — adjacency without a
    global sort: lead() per id-range bucket (keyed windows), seams
    closed on the #buckets-row min/max summary (the sc5 rewrite applied
    to gap detection; the only serial window is over bucket summaries).
    The oracle is the naive global-LEAD SQL, so the driver hash gate is
    the differential proof the seam logic loses no gap. All-BIGINT;
    missing == gap_total is the conservation law the test pins.
    """
    from ..operators import quality

    ev = load_events(spark, sf_dir).select("event_id")
    return quality.sequence_gap_report(ev, id_col="event_id")


SQL_Q16 = """
WITH ids AS (SELECT CAST(event_id AS BIGINT) AS id FROM events),
adj AS (SELECT id, LEAD(id) OVER (ORDER BY id) AS nxt FROM ids),
g AS (SELECT nxt - id - 1 AS glen FROM adj WHERE nxt > id + 1)
SELECT (SELECT CAST(MIN(id) AS BIGINT) FROM ids) AS min_id,
       (SELECT CAST(MAX(id) AS BIGINT) FROM ids) AS max_id,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM ids) AS n_rows,
       (SELECT CAST(MAX(id) - MIN(id) + 1 - COUNT(*) AS BIGINT) FROM ids)
           AS missing,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM g) AS n_gaps,
       (SELECT CAST(COALESCE(MAX(glen), 0) AS BIGINT) FROM g) AS max_gap,
       (SELECT CAST(COALESCE(SUM(glen), 0) AS BIGINT) FROM g) AS gap_total
"""


def q_ml16_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration table (reliability-diagram bins) for the x3 English
    detector's stopword-ratio score — the companion readout to ml14's
    PR sweep: per fixed-width score decile, how does the MEAN SCORE
    compare to the ACTUAL positive rate? A well-calibrated scorer sits
    on the diagonal; the per-bin gap is what an ECE (expected
    calibration error) sums. Curation pipelines read this before using
    a classifier score as a sampling WEIGHT (ml14 answers thresholding;
    this answers weighting — a miscalibrated score skews the mixture
    even when its ranking is perfect).

    Exactness: ml12's integer-quantized score (hits·10⁹ DIV n_tokens,
    pure BIGINT) bins by integer division into 10 fixed-width ppb
    deciles (NO quantile/ntile — rank-based bin edges are tie-broken
    differently across engines; fixed width is engine-free), and every
    reported double is ONE IEEE division of exact BIGINTs (mean_score
    as Σscore_q / (n·10⁹), pos_rate as n_pos/n), so the driver hash
    gate applies bit-for-bit. Scale shape: one linear scan into a
    ≤10-group aggregate — no joins, no windows, map-side partials do
    nearly all the work.
    """
    base = _score_q_base(spark, sf_dir).select("pos", "score_q")
    binned = base.selectExpr(
        "pos",
        "score_q",
        "LEAST((score_q * 10) DIV 1000000000, 9) AS bin",
    )
    agg = binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("pos"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_pos"),
        F.sum("score_q").cast("bigint").alias("_sum_q"),
    )
    return agg.select(
        F.col("bin").cast("int").alias("bin"),
        "n_docs",
        "n_pos",
        (
            F.col("_sum_q").cast("double")
            / (F.col("n_docs") * F.lit(1_000_000_000)).cast("double")
        ).alias("mean_score"),
        (
            F.col("n_pos").cast("double") / F.col("n_docs").cast("double")
        ).alias("pos_rate"),
    )


def _sql_ml16() -> str:
    return f"""
WITH {_sql_scored_cte()}, binned AS (
    SELECT pos, score_q,
           LEAST((score_q * 10) // 1000000000, 9) AS bin
    FROM scored
)
SELECT CAST(bin AS INT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       CAST(SUM(score_q) AS DOUBLE)
           / CAST(COUNT(*) * 1000000000 AS DOUBLE) AS mean_score,
       CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS pos_rate
FROM binned
GROUP BY bin
"""


QUERIES: list[Query] = [
    Query("ml16_calibration", q_ml16_calibration, _sql_ml16(),
          "reliability-diagram calibration bins for the quality score"),
    Query("q16_sequence_gaps", q_q16_sequence_gaps, SQL_Q16,
          "id-sequence contiguity audit (CDC drop detection)"),
    Query("ml15_ols2", q_ml15_ols2, SQL_ML15,
          "two-feature OLS via exact-moment normal equations"),
    Query("q15_pk_uniqueness", q_q15_pk_uniqueness, _sql_q15(),
          "whole-star primary-key uniqueness audit"),
    Query("a32_abc_xyz", q_a32_abc_xyz, SQL_A32,
          "ABC×XYZ inventory planning matrix (value × demand variability)"),
    Query("ml14_pr_curve", q_ml14_pr_curve, SQL_ML14,
          "precision/recall threshold sweep for the English detector"),
    Query("ml13_gain_lift", q_ml13_gain_lift, SQL_ML13,
          "decile gains/lift table over the quality-score ranking"),
    Query("ml12_score_bias_auc", q_ml12_score_bias_auc, SQL_ML12,
          "per-language quality-gate bias (exact Mann-Whitney AUC)"),
    Query("q14_ks_test", q_q14_ks_test, SQL_Q14,
          "two-sample KS drift test (dual distributed e-CDF running sum)"),
    Query("ml11_oner", q_ml11_oner, SQL_ML11,
          "OneR single-feature rule ranking (exact integer errors)"),
    Query("q13_fanout_profile", q_q13_fanout_profile, SQL_Q13,
          "FK fan-out histograms incl. zero bucket (join-skew forecast)"),
    Query("a28_price_volume_mix", q_a28_price_volume_mix, SQL_A28,
          "MoM price/volume revenue-bridge decomposition"),
    Query("a27_pareto_abc", q_a27_pareto_abc, SQL_A27,
          "ABC/Pareto revenue classification (distributed DECIMAL running sum)"),
    Query("ml10_decision_stump", q_ml10_decision_stump, SQL_ML10,
          "optimal 1-split decision stump (exact integer misclassification)"),
    Query("a23_rfm_segments", q_a23_rfm_segments, SQL_A23,
          "RFM quintile segmentation grid (rank-exact, no NTILE windows)"),
    Query("a24_ewma", q_a24_ewma, _sql_a24(),
          "exponentially weighted moving average (exact integer taps)"),
    Query("q12_expectations", q_q12_expectations, _sql_q12(),
          "declarative expectation suite (N rules, one scan)"),
    Query("a25_yoy_growth", q_a25_yoy_growth, SQL_A25,
          "year-over-year monthly growth (hole-safe lag-12 alignment)"),
    Query("a26_cohort_ltv", q_a26_cohort_ltv, SQL_A26,
          "cohort LTV curves (cumulative DECIMAL revenue per acquisition cohort)"),
    Query("q11_benford", q_q11_benford, SQL_Q11,
          "Benford first-digit audit of order totals (forensic QA)"),
    Query("q10_table_fingerprint", q_q10_table_fingerprint, SQL_Q10,
          "order-insensitive table content fingerprint (snapshot equality)"),
    Query("a13_histogram", q_a13_histogram, SQL_A13, "fixed-width histogram"),
    Query("q8_volume_anomaly", q_q8_volume_anomaly, SQL_Q8,
          "daily ingest-volume anomaly check (trailing-7-day z)"),
    Query("a22_trimmed_mean", q_a22_trimmed_mean, SQL_A22,
          "10%-trimmed + winsorized means per event type (robust location)"),
    Query("a21_seasonality", q_a21_seasonality, SQL_A21,
          "additive seasonal decomposition of daily volume (trend/dow/residual)"),
    Query("a20_mad", q_a20_mad, SQL_A20,
          "median absolute deviation (robust dispersion, two rank passes)"),
    Query("q7_chi2_independence", q_q7_chi2_independence, SQL_Q7,
          "chi-square source-language independence test"),
    Query("a19_percentiles_cont", q_a19_percentiles_cont, SQL_A19,
          "exact interpolated percentiles (continuous)"),
    Query("q6_profile_summary", q_q6_profile_summary, SQL_Q6,
          "per-column profile report (nulls/distinct/min/max)"),
    Query("ml5_linreg_trend", q_ml5_linreg_trend, SQL_ML5,
          "per-region OLS revenue trend from exact moments"),
    Query("ml6_ab_proportion_test", q_ml6_ab_proportion_test, SQL_ML6,
          "two-proportion z-test (A/B read-out)"),
    Query("a18_corr_matrix", q_a18_corr_matrix, SQL_A18,
          "pairwise Pearson correlations from exact DECIMAL moments"),
    Query("q5_drift_psi", q_q5_drift_psi, SQL_Q5,
          "source-vs-corpus distribution drift (PSI)"),
    Query("a17_cumulative_distinct", q_a17_cumulative_distinct, SQL_A17,
          "cumulative distinct users by day"),
    Query("a16_gini_concentration", q_a16_gini_concentration, SQL_A16,
          "revenue concentration (Gini + top-decile share)"),
    Query("a15_group_mode", q_a15_group_mode, SQL_A15, "exact per-group mode"),
    Query("a14_percentiles_disc", q_a14_percentiles_disc, SQL_A14,
          "exact rank-based percentiles"),
    Query("ax1_approx_distinct", q_ax1_approx_distinct, None,
          "HLL approximate distinct (sketch; accuracy-tested)"),
    Query("ax2_approx_quantiles", q_ax2_approx_quantiles, None,
          "approximate percentiles (sketch; accuracy-tested)"),
    Query("ax3_freq_items", q_ax3_freq_items, None,
          "approximate heavy hitters (no-false-negative; accuracy-tested)"),
    Query("ax4_countmin", q_ax4_countmin, None,
          "count-min sketch token frequency estimates (accuracy-tested)"),
    Query("ax5_hll_merge", q_ax5_hll_merge, None,
          "mergeable HLL sketch rollup (union-vs-direct tested)"),
]
