"""Warehouse-maintenance operators: MERGE/upsert semantics expressed as
set operations Catalyst can plan — the batch idiom for refreshing the
star-schema dimensions the reference rebuilds from scratch each run
(`src/etl_functions.py:562-585` re-runs the whole pipeline; a 100 TB
deployment upserts the delta instead).

Without a transactional table format, MERGE INTO is a full-outer join on
the business key with COALESCE picking source over target — one shuffle
on the key, and the result overwrites the dim atomically via
write-then-swap. The source delta here is derived deterministically from
the customer table itself (updates = keys divisible by 10 with a +100.00
balance adjustment; inserts = three re-keyed rows), so the oracle can
reproduce it exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .base import Query, load


def _delta(cust: DataFrame) -> DataFrame:
    """Deterministic upsert source: updated balances for every 10th
    customer, plus three brand-new rows re-keyed to ``-(key) - 1`` —
    strictly negative for every key ≥ 0, so an insert key can never
    collide with a real customer (a fixed "+1,000,000" offset would
    collide once SF reaches ~7 and 150k·SF keys pass the offset,
    silently turning the inserts into overwrites). A bare negation is
    wrong too: this fixture's keys START AT ZERO and −0 == 0, so
    customer 0's "insert" would become a second source row for key 0
    and the u1 MERGE would emit a duplicate-key dimension — identically
    on both engines, invisible to the hash gate."""
    updates = cust.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        (F.col("c_acctbal") + F.lit(100.0)).alias("c_acctbal"),
        "c_mktsegment",
    )
    inserts = cust.orderBy("c_custkey").limit(3).select(
        (-F.col("c_custkey") - F.lit(1)).alias("c_custkey"),
        F.concat(F.lit("new_"), F.col("c_name")).alias("c_name"),
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
    )
    return updates.unionByName(inserts)


def q_u1_scd1_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-1 MERGE: upsert a delta into the customer dimension —
    matched keys take the source row, unmatched-by-target keys insert,
    unmatched-by-source keys persist unchanged.

    Expressed as FULL OUTER join on the business key + per-column
    COALESCE(source, target): exactly what MERGE INTO lowers to without
    a transactional table format. One shuffle on c_custkey; at scale the
    (small) delta side broadcasts and the join degrades to a cheap
    broadcast outer join. The +100.00 balance adjustment is a single
    IEEE add, identical on both engines.
    """
    cust = load(spark, sf_dir, "customer")
    src = _delta(cust)
    tgt = cust.select(
        F.col("c_custkey").alias("t_key"),
        F.col("c_name").alias("t_name"),
        F.col("c_nationkey").alias("t_nation"),
        F.col("c_acctbal").alias("t_acctbal"),
        F.col("c_mktsegment").alias("t_seg"),
    )
    merged = src.join(tgt, src["c_custkey"] == tgt["t_key"], "full_outer")
    return merged.select(
        F.coalesce(src["c_custkey"], F.col("t_key")).alias("c_custkey"),
        F.coalesce(src["c_name"], F.col("t_name")).alias("c_name"),
        F.coalesce(src["c_nationkey"], F.col("t_nation")).alias("c_nationkey"),
        F.coalesce(src["c_acctbal"], F.col("t_acctbal")).alias("c_acctbal"),
        F.coalesce(src["c_mktsegment"], F.col("t_seg")).alias("c_mktsegment"),
    )


SQL_U1 = """
WITH src AS (
    SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0 AS c_acctbal,
           c_mktsegment
    FROM customer WHERE c_custkey % 10 = 0
    UNION ALL
    SELECT -c_custkey - 1, 'new_' || c_name, c_nationkey, c_acctbal,
           c_mktsegment
    FROM (SELECT * FROM customer ORDER BY c_custkey LIMIT 3)
)
SELECT COALESCE(s.c_custkey, t.c_custkey) AS c_custkey,
       COALESCE(s.c_name, t.c_name) AS c_name,
       COALESCE(s.c_nationkey, t.c_nationkey) AS c_nationkey,
       COALESCE(s.c_acctbal, t.c_acctbal) AS c_acctbal,
       COALESCE(s.c_mktsegment, t.c_mktsegment) AS c_mktsegment
FROM src s
FULL OUTER JOIN customer t ON s.c_custkey = t.c_custkey
"""


def q_u2_delete_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture companion: classify every key in the merged
    state as inserted / updated / unchanged by anti/semi-joining the
    delta against the target — the audit view a MERGE pipeline emits.

    Three counts from two broadcast-ish joins; at scale the delta side
    is small, so classification costs one scan of the dim.
    """
    cust = load(spark, sf_dir, "customer")
    src = _delta(cust)
    tgt_keys = cust.select("c_custkey")
    inserted = src.join(tgt_keys, "c_custkey", "left_anti")
    updated = src.join(tgt_keys, "c_custkey", "left_semi")
    unchanged = tgt_keys.join(src.select("c_custkey"), "c_custkey", "left_anti")
    return (
        inserted.agg(F.count("*").alias("n_inserted"))
        .crossJoin(updated.agg(F.count("*").alias("n_updated")))
        .crossJoin(unchanged.agg(F.count("*").alias("n_unchanged")))
    )


SQL_U2 = """
WITH src AS (
    SELECT c_custkey FROM customer WHERE c_custkey % 10 = 0
    UNION ALL
    SELECT -c_custkey - 1
    FROM (SELECT * FROM customer ORDER BY c_custkey LIMIT 3)
)
SELECT (SELECT COUNT(*) FROM src s
        WHERE s.c_custkey NOT IN (SELECT c_custkey FROM customer))
           AS n_inserted,
       (SELECT COUNT(*) FROM src s
        WHERE s.c_custkey IN (SELECT c_custkey FROM customer)) AS n_updated,
       (SELECT COUNT(*) FROM customer t
        WHERE t.c_custkey NOT IN (SELECT c_custkey FROM src)) AS n_unchanged
"""


def q_u3_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC compaction: keep only the newest record per key — the dedup
    every change-log consumer runs before serving state (Kafka topic →
    table, upsert-stream materialization).

    row_number over (key, recency) with an event_id tiebreak for a total
    order; one shuffle on the key, filter rank=1. At scale this is the
    exact single-pass formulation (no self-join against max(ts), which
    would shuffle twice and break on ts ties).
    """
    from .base import load_events

    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", "event_id", "ts", "event_type", "value")
    )


SQL_U3 = """
SELECT user_id, event_id, ts, event_type, value
FROM (SELECT user_id, event_id, ts, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rk
      FROM events)
WHERE rk = 1
"""


def scd2_history(
    changelog: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    carry_cols: tuple[str, ...] = ("value",),
) -> DataFrame:
    """SCD-2 validity intervals from a changelog: per key, each record
    opens a half-open interval ``[effective_from, effective_to)`` that
    the next record (by ``(ts, tiebreak)``) closes; the newest row stays
    open (``effective_to`` null, ``is_current`` = 1).

    Interval laws (pinned by tests/test_properties.py::
    test_scd2_intervals_partition_timeline): per key, intervals are
    pairwise disjoint, chain exactly (each ``effective_to`` equals the
    next ``effective_from``), and exactly one row is current. One
    shuffle on the key; the close is a single ``lead`` over the same
    sort — one window pass at any scale.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    nxt = F.lead(ts_col).over(w)
    return changelog.select(
        key_col,
        tiebreak_col,
        *carry_cols,
        F.col(ts_col).alias("effective_from"),
        nxt.alias("effective_to"),
        F.when(nxt.isNull(), 1).otherwise(0).cast("int").alias("is_current"),
    )


def q_u4_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension history built from a changelog
    (see :func:`scd2_history` for the construction and its laws).

    u1 is the type-1 overwrite; this is the other warehouse staple, the
    versioned dim a point-in-time (as-of, r1) lookup joins against.
    """
    from .base import load_events

    return scd2_history(load_events(spark, sf_dir))


SQL_U4 = """
SELECT user_id, event_id, value,
       ts AS effective_from,
       LEAD(ts) OVER w AS effective_to,
       CAST(CASE WHEN LEAD(ts) OVER w IS NULL THEN 1 ELSE 0 END AS INT)
           AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_u6_apply_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CDC application — u1's upsert MERGE extended with DELETE
    tombstones (every 7th-mod-3 key), producing the next dimension
    snapshot: matched keys take the source row, new keys insert,
    tombstoned keys drop, everyone else persists. This is the
    WHEN MATCHED THEN DELETE arm MERGE INTO adds over u1.

    Shape: the u1 full-outer COALESCE followed by one left-anti join on
    the (small, broadcastable) tombstone set — deletes never force a
    rewrite of untouched partitions beyond the key anti-join. A
    tombstone for an upserted key wins (delete-after-update ordering,
    the CDC convention for a batch that both updates and deletes).
    """
    cust = load(spark, sf_dir, "customer")
    src = _delta(cust)
    tomb = cust.filter(F.col("c_custkey") % 7 == 3).select("c_custkey")
    tgt = cust.select(
        F.col("c_custkey").alias("t_key"),
        F.col("c_name").alias("t_name"),
        F.col("c_nationkey").alias("t_nation"),
        F.col("c_acctbal").alias("t_acctbal"),
        F.col("c_mktsegment").alias("t_seg"),
    )
    merged = src.join(tgt, src["c_custkey"] == tgt["t_key"], "full_outer")
    upserted = merged.select(
        F.coalesce(src["c_custkey"], F.col("t_key")).alias("c_custkey"),
        F.coalesce(src["c_name"], F.col("t_name")).alias("c_name"),
        F.coalesce(src["c_nationkey"], F.col("t_nation")).alias("c_nationkey"),
        F.coalesce(src["c_acctbal"], F.col("t_acctbal")).alias("c_acctbal"),
        F.coalesce(src["c_mktsegment"], F.col("t_seg")).alias("c_mktsegment"),
    )
    return upserted.join(F.broadcast(tomb), "c_custkey", "left_anti")


SQL_U6 = """
WITH src AS (
    SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0 AS c_acctbal,
           c_mktsegment
    FROM customer WHERE c_custkey % 10 = 0
    UNION ALL
    SELECT -c_custkey - 1, 'new_' || c_name, c_nationkey, c_acctbal,
           c_mktsegment
    FROM (SELECT * FROM customer ORDER BY c_custkey LIMIT 3)
), upserted AS (
    SELECT COALESCE(s.c_custkey, t.c_custkey) AS c_custkey,
           COALESCE(s.c_name, t.c_name) AS c_name,
           COALESCE(s.c_nationkey, t.c_nationkey) AS c_nationkey,
           COALESCE(s.c_acctbal, t.c_acctbal) AS c_acctbal,
           COALESCE(s.c_mktsegment, t.c_mktsegment) AS c_mktsegment
    FROM src s
    FULL OUTER JOIN customer t ON s.c_custkey = t.c_custkey
)
SELECT * FROM upserted
WHERE c_custkey NOT IN (
    SELECT c_custkey FROM customer WHERE c_custkey % 7 = 3
)
"""


def q_u5_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: an existing daily
    rollup absorbs a late-arriving tranche by MERGING partials instead
    of recomputing — the continuous-aggregate refresh every warehouse
    runs nightly, and the reason this repo sums measures as DECIMAL
    (exact partials are mergeable; float partials would drift from the
    recompute).

    The tranche split is derived deterministically from the data (the
    timestamp midpoint); the "existing" rollup aggregates the earlier
    half, the tranche aggregates the rest, and the refresh is one
    full-outer COALESCE-add on the day key — counts add, DECIMAL sums
    add, and only then does the total surface as DOUBLE. The oracle is
    the FULL recompute over all events, so the driver hash gate proves
    merge-of-partials ≡ recompute bit-for-bit (the sc1 differential
    contract applied to incremental view maintenance). At 100 TB the
    tranche side touches only its own days' partitions — the rollup
    never rescans history.
    """
    from .base import load_events

    ev = load_events(spark, sf_dir)
    bounds = ev.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).select(
        F.timestamp_micros(
            (
                (F.unix_micros("lo") + F.unix_micros("hi")) / F.lit(2)
            ).cast("bigint")
        ).alias("mid")
    )
    tagged = ev.crossJoin(F.broadcast(bounds))
    dec = F.col("value").cast("decimal(18,2)")

    def rollup(df):
        return df.groupBy(F.to_date("ts").alias("d")).agg(
            F.count("*").alias("n"), F.sum(dec).alias("tv")
        )

    base = rollup(tagged.filter(F.col("ts") < F.col("mid")))
    tranche = rollup(tagged.filter(F.col("ts") >= F.col("mid")))
    b = base.select(
        F.col("d"), F.col("n").alias("n_b"), F.col("tv").alias("tv_b")
    )
    t = tranche.select(
        F.col("d").alias("d_t"), F.col("n").alias("n_t"),
        F.col("tv").alias("tv_t"),
    )
    merged = b.join(t, b["d"] == t["d_t"], "full_outer")
    zero = F.lit(0).cast("decimal(18,2)")
    return merged.select(
        F.coalesce(F.col("d"), F.col("d_t")).cast("timestamp").alias("day"),
        (
            F.coalesce(F.col("n_b"), F.lit(0))
            + F.coalesce(F.col("n_t"), F.lit(0))
        ).alias("n_events"),
        (
            F.coalesce(F.col("tv_b"), zero) + F.coalesce(F.col("tv_t"), zero)
        )
        .cast("double")
        .alias("total_value"),
    )


SQL_U5 = """
SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1
"""


def q_u7_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level snapshot diff (the data-diff report a warehouse runs
    before swapping table versions): old = the customer dim, new = the
    u1 MERGE result minus simulated deletes (c_custkey % 97 == 3).
    Emits one row per differing key — added / removed / changed — with
    the exact set of changed columns, so a reviewer sees WHAT drifted,
    not just how many rows (u2 reports the counts; this is the per-row
    forensic view).

    Shape: one full-outer join on the business key; per-column null-safe
    inequality feeds ``concat_ws`` (which skips NULLs on both engines)
    to build the changed-column list with zero extra passes. At scale
    both snapshots shuffle once on the key — or zero times if the dim
    is bucketed by key (operators/scale.bucketed) — and the output is
    bounded by the churn, not the table.
    """
    cust = load(spark, sf_dir, "customer")
    new = q_u1_scd1_merge(spark, sf_dir).filter(F.col("c_custkey") % 97 != 3)
    o = cust.select(
        F.col("c_custkey").alias("o_key"),
        F.col("c_name").alias("o_name"),
        F.col("c_nationkey").alias("o_nation"),
        F.col("c_acctbal").alias("o_acctbal"),
        F.col("c_mktsegment").alias("o_seg"),
    )
    n = new.select(
        F.col("c_custkey").alias("n_key"),
        F.col("c_name").alias("n_name"),
        F.col("c_nationkey").alias("n_nation"),
        F.col("c_acctbal").alias("n_acctbal"),
        F.col("c_mktsegment").alias("n_seg"),
    )
    j = o.join(n, o["o_key"] == n["n_key"], "full_outer")
    diffs = [
        ("c_name", "o_name", "n_name"),
        ("c_nationkey", "o_nation", "n_nation"),
        ("c_acctbal", "o_acctbal", "n_acctbal"),
        ("c_mktsegment", "o_seg", "n_seg"),
    ]
    any_diff = None
    for _, oc, nc in diffs:
        d = ~F.col(oc).eqNullSafe(F.col(nc))
        any_diff = d if any_diff is None else (any_diff | d)
    change_type = (
        F.when(F.col("o_key").isNull(), F.lit("added"))
        .when(F.col("n_key").isNull(), F.lit("removed"))
        .when(any_diff, F.lit("changed"))
    )
    changed_cols = F.when(
        change_type == "changed",
        F.concat_ws(
            ",",
            *[
                F.when(~F.col(oc).eqNullSafe(F.col(nc)), F.lit(name))
                for name, oc, nc in diffs
            ],
        ),
    )
    return (
        j.select(
            F.coalesce(F.col("o_key"), F.col("n_key")).alias("c_custkey"),
            change_type.alias("change_type"),
            changed_cols.alias("changed_cols"),
        )
        .filter(F.col("change_type").isNotNull())
    )


SQL_U7 = """
WITH src AS (
    SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0 AS c_acctbal,
           c_mktsegment
    FROM customer WHERE c_custkey % 10 = 0
    UNION ALL
    SELECT -c_custkey - 1, 'new_' || c_name, c_nationkey, c_acctbal,
           c_mktsegment
    FROM (SELECT * FROM customer ORDER BY c_custkey LIMIT 3)
), new AS (
    SELECT * FROM (
        SELECT COALESCE(s.c_custkey, t.c_custkey) AS c_custkey,
               COALESCE(s.c_name, t.c_name) AS c_name,
               COALESCE(s.c_nationkey, t.c_nationkey) AS c_nationkey,
               COALESCE(s.c_acctbal, t.c_acctbal) AS c_acctbal,
               COALESCE(s.c_mktsegment, t.c_mktsegment) AS c_mktsegment
        FROM src s
        FULL OUTER JOIN customer t ON s.c_custkey = t.c_custkey
    ) WHERE c_custkey % 97 != 3
), j AS (
    SELECT o.c_custkey AS o_key, n.c_custkey AS n_key,
           o.c_name AS o_name, n.c_name AS n_name,
           o.c_nationkey AS o_nation, n.c_nationkey AS n_nation,
           o.c_acctbal AS o_acctbal, n.c_acctbal AS n_acctbal,
           o.c_mktsegment AS o_seg, n.c_mktsegment AS n_seg
    FROM customer o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
)
SELECT COALESCE(o_key, n_key) AS c_custkey,
       change_type,
       CASE WHEN change_type = 'changed' THEN concat_ws(',',
            CASE WHEN o_name IS DISTINCT FROM n_name THEN 'c_name' END,
            CASE WHEN o_nation IS DISTINCT FROM n_nation
                 THEN 'c_nationkey' END,
            CASE WHEN o_acctbal IS DISTINCT FROM n_acctbal
                 THEN 'c_acctbal' END,
            CASE WHEN o_seg IS DISTINCT FROM n_seg THEN 'c_mktsegment' END)
       END AS changed_cols
FROM (
    SELECT *,
           CASE WHEN o_key IS NULL THEN 'added'
                WHEN n_key IS NULL THEN 'removed'
                WHEN o_name IS DISTINCT FROM n_name
                  OR o_nation IS DISTINCT FROM n_nation
                  OR o_acctbal IS DISTINCT FROM n_acctbal
                  OR o_seg IS DISTINCT FROM n_seg THEN 'changed'
           END AS change_type
    FROM j
)
WHERE change_type IS NOT NULL
"""


def q_u9_bitemporal_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal time travel: what did we BELIEVE (at a transaction
    time) the state was, VALID at a given instant — r7/u4 travel one
    axis (valid time); this adds the second. Transaction time is the
    monotone ingest id (event_id ≤ T — "the table as of ingest batch
    T"), valid time is the event timestamp (ts ≤ V); per user and
    (T, V) grid cell, the visible state is the last event under BOTH
    cutoffs in the u4 ordering (ts, event_id). The audit question this
    answers — "did Friday's report mis-state Tuesday's balance, and was
    that a late event or a correction?" — is unanswerable with one
    time axis.

    Grid: T ∈ {½·max_id, max_id} × V ∈ {max_ts − 7d, max_ts}, all four
    cutoffs data-derived in-plan (1-row broadcast, no driver round
    trip). One events scan fans out ≤4× through the broadcast grid;
    the per-(user, cell) argmax is an exact struct-max on the unique
    (ts, event_id) key — no window over the raw stream.
    """
    from .base import load_events

    ev = load_events(spark, sf_dir).select(
        "user_id", "event_id", "value", F.unix_micros("ts").alias("t_us")
    )
    bounds = ev.agg(
        F.max("event_id").alias("max_id"),
        F.max("t_us").alias("max_us"),
    )
    grid = (
        bounds.selectExpr(
            """explode(array(
                 struct('T50_Vnow'  AS cell, CAST(max_id DIV 2 AS BIGINT) AS t_cut, max_us AS v_cut),
                 struct('T50_V7d'   AS cell, CAST(max_id DIV 2 AS BIGINT) AS t_cut, max_us - 604800000000 AS v_cut),
                 struct('Tall_Vnow' AS cell, max_id AS t_cut, max_us AS v_cut),
                 struct('Tall_V7d'  AS cell, max_id AS t_cut, max_us - 604800000000 AS v_cut)
               )) AS g"""
        ).select("g.cell", "g.t_cut", "g.v_cut")
    )
    j = ev.crossJoin(F.broadcast(grid)).filter(
        (F.col("event_id") <= F.col("t_cut"))
        & (F.col("t_us") <= F.col("v_cut"))
    )
    picked = j.groupBy("cell", "user_id").agg(
        F.max(F.struct("t_us", "event_id", "value")).alias("s")
    )
    return picked.select(
        "cell",
        "user_id",
        F.col("s.event_id").alias("event_id"),
        F.col("s.t_us").alias("valid_us"),
        F.col("s.value").alias("value"),
    )


SQL_U9 = """
WITH ev AS (
    SELECT user_id, event_id, value, epoch_us(ts) AS t_us FROM events
),
b AS (SELECT MAX(event_id) AS max_id, MAX(t_us) AS max_us FROM ev),
grid AS (
    SELECT 'T50_Vnow' AS cell, CAST(max_id // 2 AS BIGINT) AS t_cut,
           max_us AS v_cut FROM b
    UNION ALL
    SELECT 'T50_V7d', CAST(max_id // 2 AS BIGINT),
           max_us - 604800000000 FROM b
    UNION ALL
    SELECT 'Tall_Vnow', max_id, max_us FROM b
    UNION ALL
    SELECT 'Tall_V7d', max_id, max_us - 604800000000 FROM b
),
j AS (
    SELECT g.cell, e.user_id, e.event_id, e.value, e.t_us,
           ROW_NUMBER() OVER (PARTITION BY g.cell, e.user_id
                              ORDER BY e.t_us DESC, e.event_id DESC) AS r
    FROM ev e CROSS JOIN grid g
    WHERE e.event_id <= g.t_cut AND e.t_us <= g.v_cut
)
SELECT cell, user_id, event_id, t_us AS valid_us, value
FROM j WHERE r = 1
"""


def q_u10_scd_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 timeline compaction — the warehouse maintenance op u4's
    raw history eventually needs: a changelog-built dimension carries
    one row per CHANGE EVENT even when the tracked attribute did not
    actually change, so consecutive same-value rows collapse into one
    validity interval (here: each user's event_type timeline — runs of
    identical types become single [from, to) periods with the collapsed
    row count kept for the compaction-ratio readout). r4's gaps-and-
    islands idiom applied to value-run compression on a keyed timeline;
    DW folklore calls this "merging contiguous SCD rows".

    Shape: two keyed window passes (change flag via lag, run id via
    running sum) + one groupBy + one more keyed window for the
    [from, to) chaining — shuffle on user_id only, nothing global.
    Exactness: timestamps leave as unix-micros BIGINTs (raw timestamp
    columns canonicalize differently across drivers); the (ts,
    event_id) order is a unique total order so run boundaries are
    engine-identical.
    """
    from .base import load_events

    ev = load_events(spark, sf_dir).select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_id",
        "event_type",
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    flagged = ev.withColumn(
        "_chg",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.col("event_type") != F.lag("event_type").over(w)),
            1,
        ).otherwise(0),
    ).withColumn(
        "_run",
        F.sum("_chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    runs = flagged.groupBy("user_id", "_run").agg(
        F.first("event_type").alias("event_type"),
        F.min("us").cast("bigint").alias("effective_from_us"),
        F.count("*").cast("bigint").alias("n_collapsed"),
    )
    w_runs = Window.partitionBy("user_id").orderBy("effective_from_us")
    return runs.select(
        "user_id",
        "event_type",
        "effective_from_us",
        F.lead("effective_from_us").over(w_runs).alias("effective_to_us"),
        "n_collapsed",
    )


SQL_U10 = """
WITH ev AS (
    SELECT user_id, epoch_us(ts) AS us, event_id, event_type FROM events
),
flagged AS (
    SELECT *,
           CASE WHEN LAG(event_type) OVER w IS NULL
                     OR event_type <> LAG(event_type) OVER w
                THEN 1 ELSE 0 END AS chg
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
runs_id AS (
    SELECT *,
           SUM(chg) OVER (PARTITION BY user_id ORDER BY us, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS run
    FROM flagged
),
runs AS (
    SELECT user_id, run,
           MIN(event_type) AS event_type,
           CAST(MIN(us) AS BIGINT) AS effective_from_us,
           CAST(COUNT(*) AS BIGINT) AS n_collapsed
    FROM runs_id GROUP BY 1, 2
)
SELECT user_id, event_type, effective_from_us,
       LEAD(effective_from_us) OVER (PARTITION BY user_id
                                     ORDER BY effective_from_us)
           AS effective_to_us,
       n_collapsed
FROM runs
"""


def q_u11_cdc_net_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC batch compaction to NET effects — the preprocessing step a
    MERGE consumer runs on a change-capture feed before applying it:
    within one batch, only each key's FIRST and LAST operations decide
    what the target must do (Debezium/Kafka-compaction folklore):
    I…D → NOTHING (created and deleted inside the batch — the target
    never sees the key), I…(I/U) → one INSERT with the final payload,
    (U/D)…D → one DELETE, (U/D)…(I/U) → one UPDATE with the final
    payload. Applying the raw log row-by-row would both waste target
    I/O and (for I…D keys) leave tombstone churn.

    The op-log is derived deterministically from the events table so
    the oracle reproduces it exactly: per user ordered by (ts,
    event_id) — a unique total order, so first/last are engine-
    identical — signup ⇒ I, error ⇒ D, anything else ⇒ U, payload =
    value. Shape: one keyed window pass (row_number ascending +
    descending in the same sort) + one groupBy user — shuffle on
    user_id only, nothing global; NONE rows are dropped before the
    aggregate's output leaves the stage. The payload DOUBLE passes
    through untouched (no arithmetic), so the driver hash gate applies.
    """
    from .base import load_events

    ops = load_events(spark, sf_dir).select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_id",
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
        F.col("value").alias("payload"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    wd = Window.partitionBy("user_id").orderBy(
        F.desc("us"), F.desc("event_id")
    )
    marked = ops.select(
        "user_id",
        "us",
        "op",
        "payload",
        F.row_number().over(w).alias("_a"),
        F.row_number().over(wd).alias("_z"),
    )
    folded = marked.groupBy("user_id").agg(
        F.max(F.when(F.col("_a") == 1, F.col("op"))).alias("first_op"),
        F.max(F.when(F.col("_z") == 1, F.col("op"))).alias("last_op"),
        F.max(F.when(F.col("_z") == 1, F.col("payload"))).alias(
            "last_payload"
        ),
        F.count("*").cast("bigint").alias("n_ops"),
        F.min("us").cast("bigint").alias("first_us"),
        F.max("us").cast("bigint").alias("last_us"),
    )
    net = folded.select(
        "user_id",
        F.when(
            (F.col("first_op") == "I") & (F.col("last_op") == "D"), "NONE"
        )
        .when(F.col("first_op") == "I", "INSERT")
        .when(F.col("last_op") == "D", "DELETE")
        .otherwise("UPDATE")
        .alias("net_op"),
        F.when(F.col("last_op") != "D", F.col("last_payload")).alias(
            "payload"
        ),
        "n_ops",
        "first_us",
        "last_us",
    )
    return net.filter(F.col("net_op") != "NONE")


SQL_U11 = """
WITH ops AS (
    SELECT user_id,
           epoch_us(ts) AS us,
           event_id,
           CASE WHEN event_type = 'signup' THEN 'I'
                WHEN event_type = 'error' THEN 'D'
                ELSE 'U' END AS op,
           value AS payload
    FROM events
), marked AS (
    SELECT user_id, us, op, payload,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY us, event_id) AS a,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY us DESC, event_id DESC) AS z
    FROM ops
), folded AS (
    SELECT user_id,
           MAX(CASE WHEN a = 1 THEN op END) AS first_op,
           MAX(CASE WHEN z = 1 THEN op END) AS last_op,
           MAX(CASE WHEN z = 1 THEN payload END) AS last_payload,
           CAST(COUNT(*) AS BIGINT) AS n_ops,
           CAST(MIN(us) AS BIGINT) AS first_us,
           CAST(MAX(us) AS BIGINT) AS last_us
    FROM marked GROUP BY user_id
), net AS (
    SELECT user_id,
           CASE WHEN first_op = 'I' AND last_op = 'D' THEN 'NONE'
                WHEN first_op = 'I' THEN 'INSERT'
                WHEN last_op = 'D' THEN 'DELETE'
                ELSE 'UPDATE' END AS net_op,
           CASE WHEN last_op <> 'D' THEN last_payload END AS payload,
           n_ops, first_us, last_us
    FROM folded
)
SELECT user_id, net_op, payload, n_ops, first_us, last_us
FROM net WHERE net_op <> 'NONE'
"""


QUERIES: list[Query] = [
    Query("u11_cdc_net_effect", q_u11_cdc_net_effect, SQL_U11,
          "CDC batch compaction to per-key net effects (first/last-op fold)"),
    Query("u10_scd_compaction", q_u10_scd_compaction, SQL_U10,
          "SCD-2 timeline compaction (collapse same-value runs)"),
    Query("u9_bitemporal_lookup", q_u9_bitemporal_lookup, SQL_U9,
          "bitemporal (transaction × valid time) state lookup grid"),
    Query("u1_scd1_merge", q_u1_scd1_merge, SQL_U1, "SCD-1 MERGE upsert"),
    Query("u7_snapshot_diff", q_u7_snapshot_diff, SQL_U7,
          "column-level snapshot diff (added/removed/changed + columns)"),
    Query("u5_incremental_rollup", q_u5_incremental_rollup, SQL_U5,
          "incremental rollup refresh ≡ full recompute"),
    Query("u6_apply_cdc", q_u6_apply_cdc, SQL_U6,
          "CDC apply with DELETE tombstones (next snapshot)"),
    Query("u2_delete_detect", q_u2_delete_detect, SQL_U2,
          "CDC insert/update/unchanged audit"),
    Query("u3_latest_per_key", q_u3_latest_per_key, SQL_U3,
          "CDC latest-record-per-key compaction"),
    Query("u4_scd2_history", q_u4_scd2_history, SQL_U4,
          "SCD-2 validity-interval history from a changelog"),
]
