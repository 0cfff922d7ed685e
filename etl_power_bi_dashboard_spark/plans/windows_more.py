"""Window-surface completion: explicit frames (moving average), tile /
distribution functions, value-picking functions, and the gaps-and-islands
sessionization idiom — the remaining standard window shapes w1-w3 didn't
cover (the reference has no windows at all, SURVEY §2.8).

Scale notes: the windows here partition by a high-cardinality key
(user_id, c_mktsegment) so the sort happens per-partition across the
cluster — with ONE deliberate exception: w5's global ntile/percent_rank/
cume_dist over the customer dimension is the §2.8 distribution-function
showcase and runs as a single-partition window (allowlisted in the
plan-audit test). Its 100 TB form is the sc5 range-partitioned
row-number pattern plus tie-aware rank reconstruction (p13/p16 apply it
where the input scales with the corpus); the customer DIM grows with SF,
so treat w5 as the semantic reference, not the scale path. The
moving-average frame sums DECIMAL so sliding-window evaluation order
(segment trees vs running sums — engines differ) cannot perturb values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .base import Query, load, load_events


def q_w4_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user moving average of the last 3 event values (ROWS frame).

    The frame sum is DECIMAL (event values carry ≤3 decimals, so the cast
    is exact) divided by the frame row count — association-independent,
    so Spark's running-frame evaluation and DuckDB's segment-tree window
    aggregation produce bit-identical doubles. Total order (ts, event_id)
    makes frame contents deterministic.
    """
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 0)
    return ev.select(
        "user_id",
        "event_id",
        "value",
        (
            F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double")
            / F.count("*").over(w)
        ).alias("moving_avg_3"),
    )


SQL_W4 = """
SELECT user_id, event_id, value,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
           / COUNT(*) OVER w AS moving_avg_3
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


def q_w5_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile tiling + rank distributions over customer balances.

    ntile / percent_rank / cume_dist under a deterministic total order;
    the distribution values are small-integer ratios, identical IEEE on
    both engines.
    """
    w = Window.orderBy("c_acctbal", "c_custkey")
    return load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_acctbal",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


SQL_W5 = """
SELECT c_custkey, c_acctbal,
       CAST(NTILE(4) OVER w AS INT) AS quartile,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cume
FROM customer
WINDOW w AS (ORDER BY c_acctbal, c_custkey)
"""


def q_w6_value_picks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first / last / nth value per market segment (full-partition frame).

    last_value needs the UNBOUNDED FOLLOWING frame end on both engines —
    the default frame stops at CURRENT ROW and would return the row
    itself.
    """
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy(F.desc("c_acctbal"), F.col("c_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return load(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_custkey",
        "c_acctbal",
        F.first("c_custkey").over(w).alias("richest_custkey"),
        F.last("c_custkey").over(w).alias("poorest_custkey"),
        F.nth_value("c_custkey", 2).over(w).alias("runner_up_custkey"),
    )


SQL_W6 = """
SELECT c_mktsegment, c_custkey, c_acctbal,
       FIRST_VALUE(c_custkey) OVER w AS richest_custkey,
       LAST_VALUE(c_custkey) OVER w AS poorest_custkey,
       NTH_VALUE(c_custkey, 2) OVER w AS runner_up_custkey
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def q_r4_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization: per-user event sessions split on
    >1h inactivity, via lag + running sum of session-start flags — the
    window-function twin of the e3 session_window aggregation.

    Gap arithmetic is integer microseconds (unix_micros / epoch_us), so
    the 1-hour threshold compares exactly on both engines.
    """
    ev = load_events(spark, sf_dir)
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    micros = F.unix_micros(F.col("ts"))
    is_start = F.when(
        micros - F.lag(micros).over(order) > 3600 * 1_000_000, 1
    ).otherwise(0)
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        is_start.alias("is_start"),
    ).withColumn(
        "session_no",
        F.sum("is_start").over(
            order.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("int"),
    )
    return flagged.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


SQL_R4 = """
WITH flagged AS (
    SELECT user_id, event_id, ts,
           CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 3600000000
                THEN 1 ELSE 0 END AS is_start
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
    SELECT user_id, ts,
           CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
               AS session_no
    FROM flagged
)
SELECT user_id, session_no, COUNT(*) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end
FROM numbered
GROUP BY user_id, session_no
"""


def q_p7_sample_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5% key-sample: o_orderkey % 20 = 0.

    The engine-portable sampling primitive — unlike TABLESAMPLE /
    rand(), a key-modulus predicate selects the same rows on any engine
    and any partitioning, which is what reproducible training-data
    pipelines need.
    """
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 20 == 0)
    return o.agg(
        F.count("*").alias("sample_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sample_total"),
    )


SQL_P7 = """
SELECT COUNT(*) AS sample_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sample_total
FROM orders WHERE o_orderkey % 20 = 0
"""


def q_p8_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by content hash (80/10/10).

    The training-data staple: assignment depends only on the document's
    content (md5 prefix mod 100), so it is stable across engines, runs,
    repartitions, and incremental ingests — unlike randomSplit, whose
    assignment depends on partitioning. Salting the hash input (e.g.
    ``md5(concat(split_name, text))``) yields independent re-splits.
    """
    docs = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("text")), 1, 4), 16, 10).cast("int") % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return docs.select("doc_id", bucket.alias("bucket"), split.alias("split"))


SQL_P8 = """
SELECT doc_id,
       CAST(CAST(concat('0x', substr(md5(text), 1, 4)) AS INTEGER) % 100 AS INT)
           AS bucket,
       CASE WHEN CAST(concat('0x', substr(md5(text), 1, 4)) AS INTEGER) % 100 < 80
                THEN 'train'
            WHEN CAST(concat('0x', substr(md5(text), 1, 4)) AS INTEGER) % 100 < 90
                THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def q_w7_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day revenue per customer — a RANGE window frame over a
    numeric day key (the time-based twin of w4's ROWS frame).

    RANGE frames bound by *value* distance, so same-day peer orders are
    always in-frame together regardless of row order — the correct
    semantics for time-series trailing sums, and deterministic without a
    row-level tiebreak. The day key is integer floor-division of epoch
    microseconds (identical on both engines for post-1970 data); the
    frame sum is an exact DECIMAL partial surfaced as DOUBLE, so the
    engines' different frame-evaluation strategies (running sum vs
    segment tree) cannot perturb it. Partitioned by o_custkey: the sort
    is per-customer across the cluster, never a global single partition.

    The day key is date-based (days since epoch), not epoch-microsecond
    division: the parquet timestamps surface as TIMESTAMP_NTZ under a
    plain session, where unix_micros() doesn't apply and an LTZ cast
    would drag session-timezone semantics into the key.
    """
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).cast("bigint").alias("day_num"),
    )
    w = (
        Window.partitionBy("o_custkey").orderBy("day_num").rangeBetween(-6, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "day_num",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("trailing_7d_revenue"),
    )


SQL_W7 = """
WITH o AS (
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS day_num
    FROM orders
)
SELECT o_custkey, o_orderkey, day_num,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
           PARTITION BY o_custkey ORDER BY day_num
           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS trailing_7d_revenue
FROM o
"""


def q_p9_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-rate stratified sample: 20% of each language stratum,
    chosen by content-hash order (the per-group twin of p7/p8).

    Within each stratum, documents are ranked by md5(text) (with doc_id
    as total-order tiebreak) and the first ceil(0.2·n) kept — an exact
    per-stratum rate, stable across engines, runs, and repartitions,
    where per-row Bernoulli sampling only approximates the rate in small
    strata. One shuffle on the stratum key; rank and stratum size come
    from the same window sort.
    """
    docs = load(spark, sf_dir, "documents")
    order = [F.md5(F.col("text")), F.col("doc_id")]
    rk = F.row_number().over(Window.partitionBy("lang").orderBy(*order))
    n = F.count("*").over(Window.partitionBy("lang"))
    return (
        docs.select(
            "doc_id", "lang", rk.alias("rk"), n.alias("stratum_size")
        )
        .filter(F.col("rk") <= F.ceil(F.col("stratum_size") * 0.2))
        .select("doc_id", "lang", "rk", "stratum_size")
    )


SQL_P9 = """
WITH ranked AS (
    SELECT doc_id, lang,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(text), doc_id)
               AS rk,
           COUNT(*) OVER (PARTITION BY lang) AS stratum_size
    FROM documents
)
SELECT doc_id, lang, rk, stratum_size
FROM ranked
WHERE rk <= CEIL(stratum_size * 0.2)
"""


def q_p10_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic sampling: per-document keep/drop
    where the acceptance RATE depends on a quality tier (token count ≥
    100 → keep 100%, ≥ 40 → 50%, else 10%) and the acceptance DECISION is
    the p8 content-hash bucket — so higher-quality strata are oversampled
    (the usual corpus-weighting move) while the decision stays stable
    across engines, runs, repartitions, and incremental ingests.

    Everything is integer comparisons on exact values (token counts,
    md5-prefix bucket), so verdicts are bit-portable; the plan is a pure
    map over the scan — no shuffle at any scale."""
    docs = load(spark, sf_dir, "documents")
    nt = F.size(F.split(F.col("text"), " "))
    tier = F.when(nt >= 100, "high").when(nt >= 40, "mid").otherwise("low")
    pct = F.when(nt >= 100, 100).when(nt >= 40, 50).otherwise(10)
    bucket = (
        F.conv(F.substring(F.md5(F.col("text")), 1, 4), 16, 10).cast("int") % 100
    )
    return docs.select(
        "doc_id",
        tier.alias("tier"),
        bucket.alias("bucket"),
        F.when(bucket < pct, 1).otherwise(0).cast("int").alias("keep"),
    )


SQL_P10 = """
WITH b AS (
    SELECT doc_id,
           len(string_split(text, ' ')) AS nt,
           CAST(CAST(concat('0x', substr(md5(text), 1, 4)) AS INTEGER) % 100
                AS INT) AS bucket
    FROM documents
)
SELECT doc_id,
       CASE WHEN nt >= 100 THEN 'high'
            WHEN nt >= 40 THEN 'mid' ELSE 'low' END AS tier,
       bucket,
       CAST(CASE WHEN bucket < (CASE WHEN nt >= 100 THEN 100
                                     WHEN nt >= 40 THEN 50 ELSE 10 END)
                 THEN 1 ELSE 0 END AS INT) AS keep
FROM b
"""


def q_p11_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing, GPT-style concatenate-then-chunk:
    documents are concatenated in deterministic content-hash order within
    8 hash buckets and the token stream is cut into 512-token sequences;
    each document reports where it lands ((bucket, seq_no) + seq_offset).

    The step between a filtered corpus and a pretraining dataloader. One
    per-bucket window sort (no global ORDER BY — bucket count is the
    parallelism knob at 100 TB); cumulative sums are exact integer
    arithmetic, so the layout is bit-identical on any engine and any
    partitioning (operators/packing.py:pack_concat_chunk).
    """
    from ..operators import packing

    return packing.pack_concat_chunk(
        load(spark, sf_dir, "documents"), ctx_len=512, n_buckets=8
    )


SQL_P11 = """
WITH d AS (
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           md5(text) AS h,
           CAST(CAST(concat('0x', substr(md5(text), 1, 4)) AS INTEGER) % 8
                AS INT) AS bucket
    FROM documents
), c AS (
    SELECT doc_id, bucket, n_tokens,
           SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
               AS start
    FROM d
)
SELECT doc_id, bucket, n_tokens,
       CAST(start // 512 AS INT) AS seq_no,
       CAST(start % 512 AS INT) AS seq_offset
FROM c
"""


def q_p12_greedy_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy first-fit packing efficiency report: documents packed into
    512-token bins that never split a document
    (operators/packing.py:pack_greedy, per-bucket applyInPandas), then
    per-bucket bin count, docs, and mean fill — the dataloader-prep
    summary that tells you how much padding a no-split policy costs.

    The packer is sequential per bucket (bin state carries across rows),
    so it can't be a window/aggregate expression — but its first-fit
    recurrence IS deterministically replayable, and SQL_P12 replays it
    in DuckDB with a recursive CTE whose accumulator is the per-bucket
    bin-fill LIST (one recursion step per document in (md5, doc_id)
    order; "first bin with room" = list_position over a list_transform
    predicate). The pure-Python first-fit law
    (tests/test_oracle_less_laws.py) and the capacity/determinism laws
    (tests/test_packing.py) remain as independent checks.
    """
    from ..operators import packing

    packed = packing.pack_greedy(
        load(spark, sf_dir, "documents"), ctx_len=512, n_buckets=8
    )
    bins = packed.groupBy("bucket", "bin_no").agg(
        F.max("bin_fill").alias("fill"), F.count("*").alias("docs")
    )
    return (
        bins.groupBy("bucket")
        .agg(
            F.count("*").cast("int").alias("n_bins"),
            F.sum("docs").cast("int").alias("n_docs"),
            (F.sum("fill").cast("double") / (F.count("*") * 512)).alias(
                "mean_utilization"
            ),
        )
        .orderBy("bucket")
    )


# p12 oracle: deterministic REPLAY of the first-fit recurrence as a
# recursive CTE — the accumulator is the per-bucket bin-fill list, one
# step per document in the packer's (md5(text), doc_id) visit order.
# "Lowest-numbered bin with room" = 1-based list_position of the first
# true in `fill + n_tokens <= 512` (DuckDB returns 0 when absent →
# open a new bin via list_append). The final row per bucket (max rn)
# holds the complete bin state; the report derives from it exactly as
# the Spark plan derives from pack_greedy's output: n_bins = len(fills),
# n_docs = rn, mean_utilization = total tokens / (bins × 512).
SQL_P12 = """
WITH RECURSIVE d AS (
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           md5(text) AS h,
           CAST(CAST(concat('0x', substr(md5(text), 1, 4)) AS INTEGER) % 8
                AS INT) AS bucket
    FROM documents
    WHERE text IS NOT NULL
), o AS (
    SELECT doc_id, bucket, n_tokens,
           ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY h, doc_id) AS rn
    FROM d
), pack AS (
    SELECT bucket, CAST(0 AS BIGINT) AS rn, CAST([] AS BIGINT[]) AS fills
    FROM (SELECT DISTINCT bucket FROM o)
    UNION ALL
    SELECT o.bucket, o.rn,
           CASE WHEN coalesce(list_position(
                    list_transform(p.fills, x -> x + o.n_tokens <= 512),
                    true), 0) = 0
                THEN list_append(p.fills, o.n_tokens)
                ELSE list_transform(p.fills, (x, i) ->
                     CASE WHEN i = list_position(
                              list_transform(p.fills,
                                             y -> y + o.n_tokens <= 512),
                              true)
                          THEN x + o.n_tokens ELSE x END)
           END AS fills
    FROM pack p JOIN o ON o.bucket = p.bucket AND o.rn = p.rn + 1
), fin AS (
    SELECT bucket, rn, fills,
           ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY rn DESC) AS rk
    FROM pack
)
SELECT bucket,
       CAST(len(fills) AS INT) AS n_bins,
       CAST(rn AS INT) AS n_docs,
       CAST(list_sum(fills) AS DOUBLE) / (len(fills) * 512)
           AS mean_utilization
FROM fin WHERE rk = 1
ORDER BY bucket
"""


def q_p14_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement — the Efraimidis-Spirakis
    reservoir (top-k by key u^(1/w)): each document draws a uniform u
    from its own content hash and the 10 largest keys win, so inclusion
    probability tracks weight (here n_chars) while the draw stays
    deterministic across engines, runs, and repartitions (p8's
    content-hash doctrine applied to the weighted case; p10's tiered
    acceptance is the rate-based cousin — this one delivers an EXACT
    sample size).

    u = (first 8 md5 hex digits + 1) / 2³². The E-S key runs through
    ``pow`` — a libm call, not bit-portable — so keys are rounded to
    9 dp before ranking with a doc_id tie-break (the x14
    round-before-rank convention). One pass + one top-k; at scale this
    is a single TakeOrderedAndProject over a map-side key computation —
    no shuffle of the corpus.
    """
    docs = load(spark, sf_dir, "documents")
    u = (
        (F.conv(F.substring(F.md5(F.col("text")), 1, 8), 16, 10)
         .cast("bigint") + 1)
        .cast("double")
        / F.lit(4294967296.0)
    )
    key = F.round(
        F.pow(u, F.lit(1.0) / F.col("n_chars").cast("double")), 9
    )
    w = Window.orderBy(F.desc("es_key"), "doc_id")
    return (
        docs.select(
            "doc_id",
            F.col("n_chars").alias("weight"),
            key.alias("es_key"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
    )


SQL_P14 = """
WITH keyed AS (
    SELECT doc_id, n_chars AS weight,
           ROUND(POWER(
               (CAST(CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT)
                     AS DOUBLE) + 1) / 4294967296.0,
               1.0 / CAST(n_chars AS DOUBLE)), 9) AS es_key
    FROM documents
)
SELECT doc_id, weight, es_key,
       CAST(rk AS INT) AS rk
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY es_key DESC, doc_id) AS rk
      FROM keyed)
WHERE rk <= 10
"""


def q_p13_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-population token-length bucketing (8 buckets) — the
    batch-shape planner for training ingestion: group docs of similar
    token count so per-batch padding waste is bounded, then report each
    bucket's population and token range. Assignment is the equal-width
    quantile formula bucket = ⌊(rn−1)·8/n⌋ over the (token_count,
    doc_id) total order — deliberately NOT SQL NTILE, which front-loads
    the n % 8 remainder rows onto the first buckets (sizes 2,2,1,1 for
    n=6, k=4) where this formula interleaves them (2,1,2,1); the
    interleaved form is a pure integer expression both engines compute
    identically, while real NTILE's remainder placement is the kind of
    convention a swapped-in engine can disagree on. The rank comes from
    the sc5 range-partitioned
    ``distributed_row_number`` (token_count itself is the monotone
    bucket key), so no single-task global window exists anywhere in the
    plan; the final rollup partial-aggregates to 8 rows.
    """
    from ..operators.scale import distributed_row_number

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("token_count")
    )
    ranked = distributed_row_number(
        docs,
        bucket=F.col("token_count").cast("long"),
        order_cols=["token_count", "doc_id"],
        rn_alias="rn",
        count_alias="n",
    )
    b = F.floor((F.col("rn") - 1) * 8 / F.col("n")).cast("int")
    return (
        ranked.groupBy(b.alias("bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("token_count").alias("min_tokens"),
            F.max("token_count").alias("max_tokens"),
            F.sum("token_count").cast("bigint").alias("sum_tokens"),
        )
    )


SQL_P13 = """
WITH toks AS (
    SELECT doc_id, len(string_split(text, ' ')) AS token_count
    FROM documents
), ranked AS (
    SELECT token_count,
           ROW_NUMBER() OVER (ORDER BY token_count, doc_id) AS rn,
           COUNT(*) OVER () AS n
    FROM toks
)
SELECT CAST(FLOOR(CAST((rn - 1) * 8 AS BIGINT) / n) AS INT) AS bucket,
       COUNT(*) AS n_docs,
       CAST(MIN(token_count) AS INT) AS min_tokens,
       CAST(MAX(token_count) AS INT) AS max_tokens,
       CAST(SUM(token_count) AS BIGINT) AS sum_tokens
FROM ranked
GROUP BY 1
"""


def q_p15_leakage_safe_split(
    spark: SparkSession, sf_dir: str, labels: DataFrame | None = None
) -> DataFrame:
    """Leakage-safe train/val/test split: p8's content-hash assignment,
    but keyed on each document's DUPLICATE-CLUSTER REPRESENTATIVE's text
    (d6's min-doc_id member), so near-duplicates can never straddle the
    train/test boundary — the split every evaluation leaks through if
    the corpus wasn't deduped first. d6 seeds every doc as its own
    component, so singletons hash their own text and behave exactly
    like p8; only duplicate-cluster members get pulled onto their
    representative's side (pinned by a same-cluster-same-split law
    test).

    Plan cost over d6: one join back to the representative's text
    (cluster IS the representative doc_id) + the p8 bucket arithmetic
    (md5 prefix mod 100 — engine-portable, content-deterministic).

    ``labels``: optionally pass d6's (doc_id, cluster) table already
    materialized (cache/localCheckpoint) so a pipeline running several
    d6-derived outputs pays the connected-components fixpoint ONCE.
    Default None recomputes it, keeping the registry entry standalone.
    """
    from .dedup_plans import q_d6_dup_clusters

    if labels is None:
        labels = q_d6_dup_clusters(spark, sf_dir)
    rep_text = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("cluster"), F.col("text").alias("rep_text")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("rep_text")), 1, 4), 16, 10).cast(
            "int"
        )
        % 100
    )
    return (
        labels.join(rep_text, "cluster")
        .select(
            "doc_id",
            "cluster",
            F.when(bucket < 80, "train")
            .when(bucket < 90, "val")
            .otherwise("test")
            .alias("split"),
        )
    )


def _sql_p15() -> str:
    # p15's oracle = d6's recursive components + p8's content-hash
    # buckets applied to the representative's text
    from .dedup_plans import SQL_D6

    return SQL_D6.replace(
        ")\nSELECT node AS doc_id, MIN(label) AS cluster FROM cc GROUP BY node",
        """),
labels AS (
    SELECT node AS doc_id, MIN(label) AS cluster FROM cc GROUP BY node
)
SELECT l.doc_id, l.cluster,
       CASE WHEN CAST(concat('0x', substr(md5(d.text), 1, 4)) AS INTEGER)
                 % 100 < 80 THEN 'train'
            WHEN CAST(concat('0x', substr(md5(d.text), 1, 4)) AS INTEGER)
                 % 100 < 90 THEN 'val'
            ELSE 'test' END AS split
FROM labels l JOIN documents d ON d.doc_id = l.cluster""",
    )


def q_p16_lang_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language capping — the C4/Gopher-style curation op that
    downsamples dominant groups so one language (or domain) can't
    swamp the training mix: every language keeps at most
    cap = (6·largest_language_count) DIV 10 documents, and WHICH
    documents survive is decided by content-hash rank, not by
    partition order — stable across engines, runs, repartitions, and
    incremental ingests (p8's determinism argument, promoted from
    splitting to capping). On this fixture 'en' (the majority class)
    is capped and the rest pass through, so both branches carry real
    rows.

    Scale shape: the per-language ranking runs through the shared
    range-partitioned row-number helper (bucketed on the hash axis —
    no single-task per-language window, which is exactly where a
    100 TB majority language would bottleneck); the cap is a 1-row
    broadcast. kept_id_sum commits the exact surviving set to the
    driver hash gate, so the oracle (naive global window) proves the
    distributed ranking picks identical documents. All-BIGINT.
    """
    from ..operators import scale

    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "lang",
        F.conv(F.substring(F.md5(F.col("text")), 1, 12), 16, 10)
        .cast("bigint")
        .alias("h"),
    )
    rn = scale.distributed_row_number(
        base,
        bucket=F.expr("h DIV 17592186044416"),  # 2^44-wide, h < 2^48
        order_cols=["h", "doc_id"],
        partition_cols=["lang"],
        rn_alias="rk",
        count_alias="n_docs",
    )
    cap = (
        base.groupBy("lang")
        .agg(F.count("*").alias("_n"))
        .agg(F.expr("(6 * MAX(_n)) DIV 10").cast("bigint").alias("cap"))
    )
    kept = rn.crossJoin(F.broadcast(cap)).withColumn(
        "_kept", F.col("rk") <= F.col("cap")
    )
    return kept.groupBy("lang").agg(
        F.max("n_docs").cast("bigint").alias("n_docs"),
        F.max("cap").cast("bigint").alias("cap"),
        F.sum(F.when(F.col("_kept"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        (F.max("n_docs") > F.max("cap")).alias("cap_applied"),
        F.sum(F.when(F.col("_kept"), F.col("doc_id")).otherwise(0))
        .cast("bigint")
        .alias("kept_id_sum"),
    )


SQL_P16 = """
WITH base AS (
    SELECT doc_id, lang,
           CAST(concat('0x', substr(md5(text), 1, 12)) AS BIGINT) AS h
    FROM documents
),
cap AS (
    SELECT (6 * MAX(n)) // 10 AS cap
    FROM (SELECT COUNT(*) AS n FROM base GROUP BY lang)
),
rk AS (
    SELECT doc_id, lang,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
    FROM base
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(cap.cap) AS BIGINT) AS cap,
       CAST(SUM(CASE WHEN rk <= cap.cap THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept,
       COUNT(*) > MAX(cap.cap) AS cap_applied,
       CAST(SUM(CASE WHEN rk <= cap.cap THEN doc_id ELSE 0 END) AS BIGINT)
           AS kept_id_sum
FROM rk, cap GROUP BY 1
"""


QUERIES: list[Query] = [
    Query("p16_lang_cap_sample", q_p16_lang_cap_sample, SQL_P16,
          "language/domain capping (deterministic content-hash survivors)"),
    Query("p15_leakage_safe_split", q_p15_leakage_safe_split, _sql_p15(),
          "cluster-aware train/val/test split (near-dups never straddle)"),
    Query("p13_length_buckets", q_p13_length_buckets, SQL_P13,
          "equal-population token-length bucketing (distributed quantiles)"),
    Query("w4_moving_avg", q_w4_moving_avg, SQL_W4, "ROWS-frame moving average"),
    Query("p14_weighted_reservoir", q_p14_weighted_reservoir, SQL_P14,
          "Efraimidis-Spirakis weighted reservoir sample"),
    Query("w5_distribution", q_w5_distribution, SQL_W5, "ntile/percent_rank/cume_dist"),
    Query("w6_value_picks", q_w6_value_picks, SQL_W6, "first/last/nth value"),
    Query("r4_gap_islands", q_r4_gap_islands, SQL_R4, "gaps-and-islands sessions"),
    Query("p7_sample_mod", q_p7_sample_mod, SQL_P7, "deterministic key sampling"),
    Query("p8_hash_split", q_p8_hash_split, SQL_P8,
          "content-hash train/val/test split"),
    Query("w7_range_frame", q_w7_range_frame, SQL_W7,
          "RANGE-frame trailing 7-day revenue"),
    Query("p9_stratified_sample", q_p9_stratified_sample, SQL_P9,
          "exact-rate stratified sampling"),
    Query("p10_quality_weighted_sample", q_p10_quality_weighted_sample, SQL_P10,
          "quality-weighted deterministic sampling"),
    Query("p11_sequence_pack", q_p11_sequence_pack, SQL_P11,
          "training-sequence packing (concatenate-then-chunk)"),
    Query("p12_greedy_pack", q_p12_greedy_pack, SQL_P12,
          "greedy no-split packing efficiency (recursive-CTE replay oracle)"),
]
