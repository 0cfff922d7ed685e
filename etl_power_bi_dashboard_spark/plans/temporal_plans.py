"""Temporal operator plans over the events stream: as-of join, bounded
range join, hierarchical (hypertable-style) rollup — custom operators
built as DataFrame compositions (operators/temporal.py), each with a SQL
oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import temporal
from .base import Query, load, load_events


def q_r1_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every purchase event, the user's most recent click at-or-before
    it (classic as-of enrichment)."""
    ev = load_events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    # tiebreak: two clicks in the same truncated microsecond resolve to
    # the larger click_id on BOTH engines (the oracle orders ts DESC,
    # click_id DESC) — without it the carried id is partition-order luck
    out = temporal.asof_join(
        purchases, clicks, on="user_id", ts="ts", tiebreak="click_id"
    )
    return out.select(
        "user_id", "event_id", "ts", "asof_ts", "asof_click_id"
    )


SQL_R1 = """
WITH p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts, event_id AS click_id FROM events WHERE event_type = 'click')
SELECT p.user_id, p.event_id, p.ts,
       (SELECT max(c.ts) FROM c
        WHERE c.user_id = p.user_id AND c.ts <= p.ts) AS asof_ts,
       (SELECT c.click_id FROM c
        WHERE c.user_id = p.user_id AND c.ts <= p.ts
        ORDER BY c.ts DESC, c.click_id DESC LIMIT 1) AS asof_click_id
FROM p
"""


def q_r9_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-conversion: for every click, the user's NEXT purchase
    at-or-after it (r1 mirrored in time — forward as-of via
    :func:`operators.temporal.asof_join_forward`) plus the conversion
    lag in seconds as an exact integer µs difference. Same one-shuffle
    union-and-carry plan; unconverted clicks keep NULL lag.
    """
    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    out = temporal.asof_join_forward(
        clicks, purchases, on="user_id", ts="ts", tiebreak="purchase_id"
    )
    return out.select(
        "user_id",
        "event_id",
        "ts",
        "next_ts",
        "next_purchase_id",
        F.when(
            F.col("next_ts").isNotNull(),
            (F.unix_micros("next_ts") - F.unix_micros("ts")) / F.lit(1000000.0),
        ).alias("lag_seconds"),
    )


SQL_R9 = """
WITH c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts, event_id AS purchase_id FROM events
      WHERE event_type = 'purchase')
SELECT c.user_id, c.event_id, c.ts,
       (SELECT min(p.ts) FROM p
        WHERE p.user_id = c.user_id AND p.ts >= c.ts) AS next_ts,
       (SELECT p.purchase_id FROM p
        WHERE p.user_id = c.user_id AND p.ts >= c.ts
        ORDER BY p.ts ASC, p.purchase_id ASC LIMIT 1) AS next_purchase_id,
       CASE WHEN (SELECT min(p.ts) FROM p
                  WHERE p.user_id = c.user_id AND p.ts >= c.ts) IS NOT NULL
            THEN (epoch_us((SELECT min(p.ts) FROM p
                            WHERE p.user_id = c.user_id AND p.ts >= c.ts))
                  - epoch_us(c.ts)) / 1000000.0
       END AS lag_seconds
FROM c
"""


def q_r2_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events within 5 minutes AFTER an error by the same user (bounded
    range join via interval bucketing — equi-join shuffle, no nested
    loop)."""
    ev = load_events(spark, sf_dir)
    errors = ev.filter(F.col("event_type") == "error").select("user_id", "ts")
    actions = ev.filter(F.col("event_type") != "error").select("user_id", "ts")
    return temporal.range_join_buckets(
        errors, actions, on="user_id", ts="ts", window_seconds=300
    )


SQL_R2 = """
SELECT DISTINCT e.user_id, e.ts AS l_ts, a.ts AS r_ts
FROM (SELECT user_id, ts FROM events WHERE event_type = 'error') e
JOIN (SELECT user_id, ts FROM events WHERE event_type <> 'error') a
  ON a.user_id = e.user_id
 AND a.ts >= e.ts
 AND epoch_us(a.ts) < epoch_us(e.ts) + 300000000
"""


def q_r3_hierarchical_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily totals re-aggregated from hourly partials (hypertable
    continuous-aggregate shape) — exact because partials are DECIMAL."""
    _, daily = temporal.hierarchical_rollup(load_events(spark, sf_dir))
    return daily.select(
        "bucket_day",
        "n_events",
        F.col("tv_dec").cast("double").alias("total_value"),
    )


SQL_R3 = """
SELECT date_trunc('day', ts) AS bucket_day,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1
"""


def q_r5_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill + last-observation-carried-forward — the
    hypertable resample (TimescaleDB's ``time_bucket_gapfill`` +
    ``locf``) the r3 rollup can't answer: turn a sparse per-user event
    log into a DENSE daily series where missing days carry the last
    observed day's total, flagged as filled.

    Shape: daily aggregate (one shuffle, DECIMAL-exact), per-user date
    span (tiny agg), spine = ``sequence(d0, d1)`` exploded — generated,
    never scanned, like dim_date — left join actuals back on
    (user, day), then one ``last(ignorenulls)`` window over the same
    per-user partitioning for the carry-forward. Spine size is
    |users| × |days of that user's own span| (never the global span),
    and every value is either an exact DECIMAL→DOUBLE daily total or
    its exact copy — LOCF introduces no arithmetic, so the hash gate
    holds.
    """
    from pyspark.sql import Window

    ev = load_events(spark, sf_dir)
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("d")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("day_value")
    )
    span = daily.groupBy("user_id").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    spine = span.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("d")
    )
    joined = spine.join(daily, ["user_id", "d"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        # emitted as TIMESTAMP: DuckDB's pandas bridge widens DATE to
        # Timestamp, so both engines publish the midnight instant (the
        # e6 cohort_week convention)
        F.col("d").cast("timestamp").alias("d"),
        F.last("day_value", ignorenulls=True).over(w).alias("value_locf"),
        F.when(F.col("day_value").isNull(), 1)
        .otherwise(0)
        .cast("int")
        .alias("gap_filled"),
    )


SQL_R5 = """
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS d,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value
    FROM events GROUP BY 1, 2
),
span AS (SELECT user_id, MIN(d) AS d0, MAX(d) AS d1 FROM daily GROUP BY 1),
spine AS (
    SELECT user_id,
           CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                       CAST(d1 AS TIMESTAMP),
                                       INTERVAL 1 DAY)) AS DATE) AS d
    FROM span
)
SELECT s.user_id, CAST(s.d AS TIMESTAMP) AS d,
       LAST_VALUE(daily.day_value IGNORE NULLS) OVER (
           PARTITION BY s.user_id ORDER BY s.d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf,
       CAST(CASE WHEN daily.day_value IS NULL THEN 1 ELSE 0 END AS INT)
           AS gap_filled
FROM spine s LEFT JOIN daily ON s.user_id = daily.user_id AND s.d = daily.d
"""


def q_r6_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap-fill — r5's other resample mode
    (TimescaleDB's ``interpolate``): a missing day gets
    ``prev + (next − prev) · elapsed/gap`` between its surrounding
    observations; days with no observation on one side stay NULL (no
    extrapolation — deterministic and honest).

    Same spine shape as r5 (per-user generated date span, one left
    join); the carry columns come from two mirrored ignore-nulls
    windows (last-preceding and first-following value+day), and the
    interpolation is four IEEE double ops in the SAME textual order on
    both engines — deterministic, so the hash gate holds without any
    rounding escape hatch.
    """
    from pyspark.sql import Window

    ev = load_events(spark, sf_dir)
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("d")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("day_value")
    )
    span = daily.groupBy("user_id").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    spine = span.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("d")
    )
    joined = spine.join(daily, ["user_id", "d"], "left")
    back = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_d = F.when(F.col("day_value").isNotNull(), F.col("d"))
    prev_v = F.last("day_value", ignorenulls=True).over(back)
    prev_d = F.last(obs_d, ignorenulls=True).over(back)
    next_v = F.first("day_value", ignorenulls=True).over(fwd)
    next_d = F.first(obs_d, ignorenulls=True).over(fwd)
    gap = F.datediff(next_d, prev_d).cast("double")
    elapsed = F.datediff(F.col("d"), prev_d).cast("double")
    interp = F.when(
        F.col("day_value").isNotNull(), F.col("day_value")
    ).otherwise(
        prev_v + (next_v - prev_v) * elapsed / gap
    )
    return joined.select(
        "user_id",
        F.col("d").cast("timestamp").alias("d"),
        interp.alias("value_interp"),
        F.when(F.col("day_value").isNull(), 1)
        .otherwise(0)
        .cast("int")
        .alias("gap_filled"),
    )


SQL_R6 = """
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS d,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value
    FROM events GROUP BY 1, 2
),
span AS (SELECT user_id, MIN(d) AS d0, MAX(d) AS d1 FROM daily GROUP BY 1),
spine AS (
    SELECT user_id,
           CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                       CAST(d1 AS TIMESTAMP),
                                       INTERVAL 1 DAY)) AS DATE) AS d
    FROM span
),
j AS (
    SELECT s.user_id, s.d, daily.day_value
    FROM spine s LEFT JOIN daily ON s.user_id = daily.user_id AND s.d = daily.d
),
carried AS (
    SELECT user_id, d, day_value,
           LAST_VALUE(day_value IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
           LAST_VALUE(CASE WHEN day_value IS NOT NULL THEN d END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_d,
           FIRST_VALUE(day_value IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY d
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
           FIRST_VALUE(CASE WHEN day_value IS NOT NULL THEN d END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY d
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_d
    FROM j
)
SELECT user_id, CAST(d AS TIMESTAMP) AS d,
       CASE WHEN day_value IS NOT NULL THEN day_value
            ELSE prev_v + (next_v - prev_v)
                 * CAST(datediff('day', prev_d, d) AS DOUBLE)
                 / CAST(datediff('day', prev_d, next_d) AS DOUBLE)
       END AS value_interp,
       CAST(CASE WHEN day_value IS NULL THEN 1 ELSE 0 END AS INT) AS gap_filled
FROM carried
"""


def q_r7_asof_against_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup against a versioned (SCD-2) dimension — the
    composition a warehouse user actually runs: u4 builds the validity
    intervals, r1 is the raw as-of; this query answers "which version of
    the user's click profile was in effect when each purchase happened".

    Dim = :func:`~..plans.merge_plans.scd2_history` over the click
    changelog (half-open ``[effective_from, effective_to)`` intervals,
    pairwise disjoint and chaining per key — the u4 interval laws).
    Probe = purchase events, left-joined on the key plus interval
    containment, so each probe matches AT MOST one version (zero-length
    intervals from same-timestamp versions are empty under the half-open
    convention and can never double-match) and probes before the first
    version keep NULLs — no tie-break ambiguity, the hash gate holds.

    Scale shape: one shuffle on ``user_id`` for the equi-join; the
    interval predicates ride in the join condition so no V×P blowup
    reaches the output, and the per-probe work is bounded by that key's
    version count (dim-sized, small). If a key's version chain were
    unbounded, the single-shuffle union+window as-of on
    ``effective_from`` (r1's machinery — valid because the intervals
    chain) replaces the interval join; this form keeps the materialized
    dim, which is what the lookup exists to reuse.
    """
    from .merge_plans import scd2_history

    ev = load_events(spark, sf_dir)
    dim = scd2_history(ev.filter(F.col("event_type") == "click"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    v = dim.select(
        F.col("user_id").alias("_vu"),
        F.col("event_id").alias("version_id"),
        F.col("value").alias("version_value"),
        "effective_from",
        "effective_to",
        "is_current",
    )
    return purchases.join(
        v,
        (purchases["user_id"] == v["_vu"])
        & (purchases["ts"] >= v["effective_from"])
        & (v["effective_to"].isNull() | (purchases["ts"] < v["effective_to"])),
        "left",
    ).select(
        "user_id",
        "event_id",
        "ts",
        "version_id",
        "version_value",
        "effective_from",
        "is_current",
    )


SQL_R7 = """
WITH dim AS (
    SELECT user_id, event_id AS version_id, value AS version_value,
           ts AS effective_from,
           LEAD(ts) OVER w AS effective_to,
           CAST(CASE WHEN LEAD(ts) OVER w IS NULL THEN 1 ELSE 0 END AS INT)
               AS is_current
    FROM events WHERE event_type = 'click'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT p.user_id, p.event_id, p.ts,
       d.version_id, d.version_value, d.effective_from, d.is_current
FROM (SELECT user_id, event_id, ts FROM events
      WHERE event_type = 'purchase') p
LEFT JOIN dim d
  ON p.user_id = d.user_id
 AND p.ts >= d.effective_from
 AND (d.effective_to IS NULL OR p.ts < d.effective_to)
"""


def q_r8_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC resampling: 15-minute bars per event_type with open/high/low/
    close of ``value`` plus count and exact sum — the downsampling shape
    every time-series store exposes (candlesticks, metric rollups).

    open/close are picked by ``min_by``/``max_by`` over the UNIQUE order
    key (ts, event_id): ties on ts alone would make the pick
    engine-dependent; the struct tiebreak makes both engines choose the
    same row deterministically (the oracle expresses the identical pick
    as a row_number window — DuckDB's arg_min can't order by a composite).
    high/low are plain min/max (no float summation), the bar total is a
    DECIMAL sum — everything hash-exact.

    One shuffle on (bucket, event_type); min_by/max_by are partial-
    aggregable JVM aggregates, so at 100 TB each map task emits one
    candidate row per bar and the reduce side merges — no window, no
    per-bar sort, unlike the naive row_number-then-filter plan the oracle
    uses (fine for DuckDB, wasteful at scale).
    """
    ev = load_events(spark, sf_dir)
    bar = F.window("ts", "15 minutes").start.alias("bar_start")
    key = F.struct("ts", "event_id")
    return (
        ev.groupBy(bar, "event_type")
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double").alias("total_value"),
        )
    )


SQL_R8 = """
WITH b AS (
    SELECT time_bucket(INTERVAL '15 minutes', ts) AS bar_start,
           event_type, ts, event_id, value,
           ROW_NUMBER() OVER (
               PARTITION BY time_bucket(INTERVAL '15 minutes', ts), event_type
               ORDER BY ts, event_id) AS rn_a,
           ROW_NUMBER() OVER (
               PARTITION BY time_bucket(INTERVAL '15 minutes', ts), event_type
               ORDER BY ts DESC, event_id DESC) AS rn_d
    FROM events
)
SELECT bar_start, event_type,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM b
GROUP BY bar_start, event_type
"""


def q_r10_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the occupancy/concurrency
    analysis (capacity planning, license seats, live-user peaks) over
    e3's session intervals, via a SWEEP-LINE instead of the quadratic
    interval self-join: each session contributes a +1 at its start and a
    −1 at its (exclusive) end, and the running sum of deltas IS the
    instantaneous concurrency.

    The running sum is made distributed exactly like sc5's row numbers —
    prefix sums within day buckets + a broadcast running-sum of per-day
    nets (addition is associative, so bucket offsets compose) — so no
    single-task window touches the boundary stream. Tie order
    (ts, delta, user_id) is total and puts −1 before +1 at equal
    timestamps (end-exclusive: a session ending exactly when another
    starts does not overlap it). All exact integers end to end.

    Three subtleties a naive per-day max over boundary rows gets wrong
    (all real bugs caught in review): the day's peak may be its
    MIDNIGHT CARRYOVER (sessions open since yesterday, peak before the
    first boundary of the day — so the carryover seeds the max), BUT
    that seed exists only when the day's first boundary is strictly
    after midnight — a session ending at exactly 00:00:00 applies at
    the day's first instant (end-exclusive), so the carryover level is
    never held during the day and seeding it would overstate the peak;
    and a day wholly inside long sessions has NO boundary rows at all
    yet nonzero concurrency — so the report is built on a generated day
    SPINE covering the whole span, not on the boundary days.
    """
    from .events_plans import q_e3_session_windows

    return peak_concurrency_from_sessions(
        q_e3_session_windows(spark, sf_dir)
    )


def peak_concurrency_from_sessions(sess: DataFrame) -> DataFrame:
    """The r10 sweep over an arbitrary (user_id, session_start,
    session_end) table — split out so the midnight-boundary edge cases
    are directly testable on crafted sessions."""
    bounds = (
        sess.select(
            F.col("session_start").alias("ts"),
            F.lit(1).alias("delta"),
            "user_id",
        )
        .unionByName(
            sess.select(
                F.col("session_end").alias("ts"),
                F.lit(-1).alias("delta"),
                "user_id",
            )
        )
        .withColumn("day", F.col("ts").cast("date").cast("timestamp"))
        # The boundary stream feeds THREE
        # consumers — day_max, the per-day nets (a broadcast build, its
        # own serial job) and the spine extent agg — and each union arm
        # re-runs the full sessionize (events scan + per-user window)
        # lazily, ~6 executions of the upstream. 2 rows/session, so the
        # materialization is session-bounded.
        .localCheckpoint(eager=True)
    )
    w_in = (
        Window.partitionBy("day")
        .orderBy("ts", "delta", "user_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # highest within-day level RELATIVE to the day's carryover, plus
    # the day's first boundary instant (the carryover-seed condition)
    day_max = (
        bounds.withColumn("prefix", F.sum("delta").over(w_in).cast("long"))
        .groupBy("day")
        .agg(F.max("prefix").alias("mx"), F.min("ts").alias("first_ts"))
    )
    nets = bounds.groupBy("day").agg(F.sum("delta").cast("long").alias("net"))
    spine = (
        bounds.agg(
            F.min("day").alias("d0"), F.max("day").alias("d1")
        )
        .select(
            F.explode(
                F.sequence("d0", "d1", F.expr("interval 1 day"))
            ).alias("day")
        )
    )
    carried = (
        spine.join(F.broadcast(nets), "day", "left")
        .join(F.broadcast(day_max), "day", "left")
        .withColumn("net", F.coalesce(F.col("net"), F.lit(0)))
    )
    w_off = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    # peak relative to the carryover: no boundaries -> the carryover
    # level holds all day (0); first boundary after midnight -> the
    # carryover level is held until it, so 0 seeds the max; first
    # boundary AT midnight -> only the post-boundary levels exist
    peak_rel = (
        F.when(F.col("mx").isNull(), F.lit(0))
        .when(
            F.col("first_ts") > F.col("day"),
            F.greatest(F.col("mx"), F.lit(0)),
        )
        .otherwise(F.col("mx"))
    )
    return carried.select(
        "day",
        (F.coalesce(F.sum("net").over(w_off), F.lit(0)) + peak_rel)
        .cast("bigint")
        .alias("peak_concurrent"),
    )


SQL_R10 = """
WITH flagged AS (
    SELECT user_id, ts,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     > INTERVAL '1 hour'
                OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                THEN 1 ELSE 0 END AS is_new
    FROM events
), numbered AS (
    SELECT user_id, ts,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
    FROM flagged
), sessions AS (
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '1 hour' AS session_end
    FROM numbered GROUP BY user_id, session_no
), bounds AS (
    SELECT session_start AS ts, 1 AS delta, user_id,
           CAST(CAST(session_start AS DATE) AS TIMESTAMP) AS day
    FROM sessions
    UNION ALL
    SELECT session_end AS ts, -1 AS delta, user_id,
           CAST(CAST(session_end AS DATE) AS TIMESTAMP) AS day
    FROM sessions
), per_day AS (
    SELECT day, MAX(prefix) AS mx, MIN(ts) AS first_ts FROM (
        SELECT day, ts,
               SUM(delta) OVER (PARTITION BY day
                   ORDER BY ts, delta, user_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS prefix
        FROM bounds
    ) GROUP BY day
), nets AS (
    SELECT day, SUM(delta) AS net FROM bounds GROUP BY day
), span AS (
    SELECT MIN(day) AS d0, MAX(day) AS d1 FROM nets
), spine AS (
    SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM span
), carried AS (
    SELECT s.day, COALESCE(n.net, 0) AS net, p.mx, p.first_ts
    FROM spine s
    LEFT JOIN nets n ON n.day = s.day
    LEFT JOIN per_day p ON p.day = s.day
)
SELECT day,
       CAST(COALESCE(SUM(net) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            + CASE WHEN mx IS NULL THEN 0
                   WHEN first_ts > day THEN GREATEST(mx, 0)
                   ELSE mx END AS BIGINT) AS peak_concurrent
FROM carried
"""


def q_r11_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-as-of join (pandas ``merge_asof(direction='nearest')``,
    tolerance=48h): every click matched to the user's closest purchase
    in EITHER time direction — the sensor-alignment/sessionless-
    attribution semantic that backward (r1/r7) and forward (r9) as-of
    can't express. One shuffle + one sort via the dual-window union
    plan (:func:`operators.temporal.asof_join_nearest`); |Δ| ties pick
    the earlier candidate, equal-ts purchases tie-break on purchase id,
    so the pick is engine-portable.
    """
    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    return temporal.asof_join_nearest(
        clicks,
        purchases,
        on="user_id",
        ts="ts",
        right_id="purchase_id",
        tolerance_seconds=48 * 3600,
    )


SQL_R11 = """
WITH c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts, event_id AS purchase_id FROM events
      WHERE event_type = 'purchase'),
cand AS (
    SELECT c.user_id, c.ts, c.event_id,
           (SELECT p.ts FROM p
            WHERE p.user_id = c.user_id AND p.ts <= c.ts
            ORDER BY p.ts DESC, p.purchase_id DESC LIMIT 1) AS prev_ts,
           (SELECT p.purchase_id FROM p
            WHERE p.user_id = c.user_id AND p.ts <= c.ts
            ORDER BY p.ts DESC, p.purchase_id DESC LIMIT 1) AS prev_id,
           (SELECT p.ts FROM p
            WHERE p.user_id = c.user_id AND p.ts > c.ts
            ORDER BY p.ts ASC, p.purchase_id ASC LIMIT 1) AS next_ts,
           (SELECT p.purchase_id FROM p
            WHERE p.user_id = c.user_id AND p.ts > c.ts
            ORDER BY p.ts ASC, p.purchase_id ASC LIMIT 1) AS next_id
    FROM c
), scored AS (
    SELECT user_id, ts, event_id, prev_ts, prev_id, next_ts, next_id,
           date_diff('microsecond', prev_ts, ts) AS d_prev_us,
           date_diff('microsecond', ts, next_ts) AS d_next_us,
           (prev_ts IS NOT NULL
            AND date_diff('microsecond', prev_ts, ts) <= 172800000000)
               AS prev_ok,
           (next_ts IS NOT NULL
            AND date_diff('microsecond', ts, next_ts) <= 172800000000)
               AS next_ok
    FROM cand
), picked AS (
    SELECT *,
           prev_ok AND (NOT next_ok OR d_prev_us <= d_next_us) AS pick_prev,
           next_ok AND NOT (prev_ok AND (NOT next_ok OR d_prev_us <= d_next_us))
               AS pick_next
    FROM scored
)
SELECT user_id, ts, event_id,
       CASE WHEN pick_prev THEN prev_ts WHEN pick_next THEN next_ts END
           AS nearest_ts,
       CASE WHEN pick_prev THEN prev_id WHEN pick_next THEN next_id END
           AS nearest_purchase_id,
       CASE WHEN pick_prev THEN CAST(0 - d_prev_us AS DOUBLE) / 1e6
            WHEN pick_next THEN CAST(d_next_us AS DOUBLE) / 1e6 END
           AS delta_seconds
FROM picked
"""


def q_r12_calendarize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval calendarization — pro-rata allocation of each order's
    value across the calendar months its fulfillment interval
    [orderdate, last shipdate] overlaps, by overlap-day share: the
    revenue-recognition / SLA-accounting primitive no plain GROUP BY
    month expresses (an order spanning Jan 15 → Mar 2 must book into
    three months, weighted by days).

    Scale shape: the month fan-out is a per-row ``sequence``/``explode``
    bounded by interval length in months (no join against a calendar
    table, no shuffle to build candidates), then one groupBy month whose
    shuffle carries #months × partial rows. Exactness: overlap/total day
    counts are exact integers; each allocation micro-quantizes through
    pure-IEEE ``floor(x·10⁶ + 0.5)`` into an exact BIGINT (the ml8
    nano-quantization convention — engine round() implementations split
    on scaled-tie cases, floor cannot) and the per-month totals sum
    those integers exactly, so summation order can't move a bit. The
    invariant Σ months(order) = total_days keeps the allocation
    conservative (shares sum to the full price up to the µ-round).
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    per_o = li.groupBy("l_orderkey").agg(
        F.max(F.to_date("l_shipdate")).alias("end_d")
    )
    base = (
        o.select(
            "o_orderkey",
            F.col("o_totalprice").alias("price"),
            F.to_date("o_orderdate").alias("start_d"),
        )
        .join(per_o, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            "o_orderkey",
            "price",
            "start_d",
            F.greatest("end_d", "start_d").alias("end_d"),
        )
        .withColumn(
            "total_days", F.datediff("end_d", "start_d") + F.lit(1)
        )
    )
    m = base.select(
        "*",
        F.explode(
            F.sequence(
                F.trunc("start_d", "month"),
                F.trunc("end_d", "month"),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("month"),
    )
    overlap = (
        F.datediff(
            F.least(F.col("end_d"), F.last_day("month")),
            F.greatest(F.col("start_d"), F.col("month")),
        )
        + F.lit(1)
    )
    alloc_micro = F.floor(
        (F.col("price") * overlap.cast("double"))
        / F.col("total_days").cast("double")
        * F.lit(1000000.0)
        + F.lit(0.5)
    )
    return (
        m.groupBy(
            F.date_format("month", "yyyyMM").cast("int").alias("month_id")
        )
        .agg(
            F.countDistinct("o_orderkey").alias("n_orders"),
            (F.sum(alloc_micro).cast("double") / F.lit(1000000.0)).alias(
                "revenue_alloc"
            ),
        )
    )


SQL_R12 = """
WITH per_o AS (
    SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS end_d
    FROM lineitem GROUP BY 1
),
b AS (
    SELECT o_orderkey, o_totalprice AS price,
           CAST(o_orderdate AS DATE) AS start_d,
           greatest(per_o.end_d, CAST(o_orderdate AS DATE)) AS end_d
    FROM orders JOIN per_o ON o_orderkey = l_orderkey
),
m AS (
    SELECT o_orderkey, price, start_d, end_d,
           date_diff('day', start_d, end_d) + 1 AS total_days,
           CAST(unnest(generate_series(date_trunc('month', start_d),
                                       date_trunc('month', end_d),
                                       INTERVAL 1 MONTH)) AS DATE) AS month
    FROM b
)
SELECT CAST(strftime(month, '%Y%m') AS INT) AS month_id,
       COUNT(DISTINCT o_orderkey) AS n_orders,
       CAST(CAST(SUM(CAST(floor(
               (price * CAST(date_diff('day', greatest(start_d, month),
                                       least(end_d, last_day(month))) + 1
                             AS DOUBLE))
               / CAST(total_days AS DOUBLE) * 1000000.0 + 0.5)
           AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000.0 AS revenue_alloc
FROM m GROUP BY 1
"""


def q_r13_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business-day SLA intervals: per order, calendar vs business days
    from order date to the LAST line-item ship date — the working-days
    arithmetic every fulfillment SLA is written in (a 7-calendar-day gap
    over a weekend is 5 working days; r12 allocates across months, this
    measures inside the week).

    Closed-form, not calendar-join: weekdays in (d₁, d₂] = W(d₂) −
    W(d₁) where W(d) = 5·(m DIV 7) + LEAST(m MOD 7 + 1, 5) and m =
    epoch_day(d) − 4 anchors m = 0 on a Monday (1970-01-05) — pure
    integer arithmetic on both engines, no generated date dim, no
    per-row fan-out, valid for any date after the anchor. One keyed
    aggregation (max ship date per order) + one join on the order key.
    The count is SIGNED, matching cal_days: the synthetic fixture ships
    some orders before their order date, and W(d₂) − W(d₁) handles the
    reversed interval for free (bruteforce-pinned both ways in tests).
    """
    li = load(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("ship_ts")
    )
    o = load(spark, sf_dir, "orders")
    j = o.join(li, o.o_orderkey == li.l_orderkey).select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("od"),
        F.to_date("ship_ts").alias("sd"),
    )
    # SQL-expr form for the exact DIV/% integer semantics shared with the
    # oracle (all operands positive past the 1970-01-05 anchor, so DIV
    # truncation == floor on both engines)
    j = j.selectExpr(
        "o_orderkey",
        "CAST(date_format(od, 'yyyyMMdd') AS INT) AS order_date_id",
        "CAST(date_format(sd, 'yyyyMMdd') AS INT) AS ship_date_id",
        "CAST(datediff(sd, od) AS BIGINT) AS cal_days",
        """CAST(
             (5 * ((datediff(sd, DATE'1970-01-01') - 4) DIV 7)
              + LEAST((datediff(sd, DATE'1970-01-01') - 4) % 7 + 1, 5))
           - (5 * ((datediff(od, DATE'1970-01-01') - 4) DIV 7)
              + LEAST((datediff(od, DATE'1970-01-01') - 4) % 7 + 1, 5))
           AS BIGINT) AS bus_days""",
    )
    return j


SQL_R13 = """
WITH li AS (
    SELECT l_orderkey, MAX(l_shipdate) AS ship_ts FROM lineitem GROUP BY 1
),
j AS (
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS od,
           CAST(ship_ts AS DATE) AS sd
    FROM orders JOIN li ON o_orderkey = l_orderkey
)
SELECT o_orderkey,
       CAST(strftime(od, '%Y%m%d') AS INT) AS order_date_id,
       CAST(strftime(sd, '%Y%m%d') AS INT) AS ship_date_id,
       CAST(date_diff('day', od, sd) AS BIGINT) AS cal_days,
       CAST(
         (5 * ((date_diff('day', DATE '1970-01-01', sd) - 4) // 7)
          + LEAST((date_diff('day', DATE '1970-01-01', sd) - 4) % 7 + 1, 5))
       - (5 * ((date_diff('day', DATE '1970-01-01', od) - 4) // 7)
          + LEAST((date_diff('day', DATE '1970-01-01', od) - 4) % 7 + 1, 5))
       AS BIGINT) AS bus_days
FROM j
"""


def q_r14_peak_window_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-intersection analytics: per day, how much of users'
    session time falls inside the 12:00–14:00 peak window — the
    "business-hours share" readout, and the closed-form interval
    overlap primitive (r2 joins intervals to POINTS; this intersects
    intervals with intervals). Sessions are (user, day) spans
    [min ts, max ts]; overlap = GREATEST(0, LEAST(end, w_end) −
    GREATEST(start, w_start)) in exact µs BIGINTs, no minute-level
    explode, no calendar join.

    Scale shape: one keyed aggregate builds sessions, one |days|-group
    aggregate folds them; every µs sum is an exact BIGINT and the two
    share divisions are terminal IEEE ops.
    """
    ev = load_events(spark, sf_dir)
    us = F.unix_micros("ts")
    day_us = (
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("bigint")
        * F.lit(86400000000)
    )
    s = ev.groupBy(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
        .cast("bigint")
        .alias("day_ep"),
    ).agg(F.min(us).alias("s_us"), F.max(us).alias("e_us"))
    w_start = F.col("day_ep") * F.lit(86400000000) + F.lit(
        12 * 3600 * 1000000
    )
    w_end = F.col("day_ep") * F.lit(86400000000) + F.lit(14 * 3600 * 1000000)
    overlap = F.greatest(
        F.lit(0).cast("bigint"),
        F.least(F.col("e_us"), w_end) - F.greatest(F.col("s_us"), w_start),
    )
    per = s.select(
        "day_ep",
        (F.col("e_us") - F.col("s_us")).alias("dur_us"),
        overlap.alias("ov_us"),
    )
    return per.groupBy("day_ep").agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        (F.sum("dur_us").cast("bigint").cast("double") / F.lit(1e6)).alias(
            "total_session_sec"
        ),
        (F.sum("ov_us").cast("bigint").cast("double") / F.lit(1e6)).alias(
            "peak_window_sec"
        ),
        F.when(
            F.sum("dur_us") > 0,
            F.sum("ov_us").cast("bigint").cast("double")
            / F.sum("dur_us").cast("bigint").cast("double"),
        ).alias("peak_share"),
    )


SQL_R14 = """
WITH s AS (
    SELECT user_id,
           date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_ep,
           MIN(epoch_us(ts)) AS s_us, MAX(epoch_us(ts)) AS e_us
    FROM events GROUP BY 1, 2
),
p AS (
    SELECT day_ep,
           e_us - s_us AS dur_us,
           GREATEST(0, LEAST(e_us, day_ep * 86400000000 + 50400000000)
                       - GREATEST(s_us, day_ep * 86400000000
                                        + 43200000000)) AS ov_us
    FROM s
)
SELECT day_ep,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(CAST(SUM(dur_us) AS BIGINT) AS DOUBLE) / 1e6
           AS total_session_sec,
       CAST(CAST(SUM(ov_us) AS BIGINT) AS DOUBLE) / 1e6
           AS peak_window_sec,
       CASE WHEN SUM(dur_us) > 0
            THEN CAST(CAST(SUM(ov_us) AS BIGINT) AS DOUBLE)
                 / CAST(CAST(SUM(dur_us) AS BIGINT) AS DOUBLE)
       END AS peak_share
FROM p GROUP BY 1
"""


def q_r15_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal interval coalescing (Snodgrass's COALESCE, the missing
    half of r14's intersection): merge each customer's overlapping
    [order date, last ship date] spans into maximal disjoint "busy
    periods" and report how many orders fold together, the total days
    covered, and the longest stretch — the canonical
    concurrent-engagement readout (hotel-stay overlap, policy coverage,
    machine-utilization windows all reduce to it).

    Shape: one keyed agg builds per-order intervals (reversed fixture
    ships clamp to zero-length via GREATEST, as r13 documents), then
    operators/temporal.coalesce_intervals runs the start-ordered
    cumulative-max sweep — two per-customer window passes + one groupBy,
    shuffle on the customer key only, no self-join, no day-level
    explode. Closed integer-day intervals: s == prev_e merges (same-day
    touch), s == prev_e + 1 does not. All-BIGINT arithmetic, so every
    column is engine-exact.
    """
    li = load(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("ship_ts")
    )
    o = load(spark, sf_dir, "orders")
    iv = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            "o_custkey",
            "o_orderkey",
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
            .cast("bigint")
            .alias("s"),
            F.greatest(
                F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")),
                F.datediff(F.to_date("ship_ts"), F.lit("1970-01-01")),
            )
            .cast("bigint")
            .alias("e"),
        )
    )
    periods = temporal.coalesce_intervals(
        iv, key="o_custkey", s="s", e="e", order="o_orderkey"
    )
    return periods.groupBy("o_custkey").agg(
        F.sum("n_intervals").cast("bigint").alias("n_orders"),
        F.count("*").cast("bigint").alias("n_busy_periods"),
        F.sum(F.col("period_end") - F.col("period_start") + 1)
        .cast("bigint")
        .alias("covered_days"),
        F.max(F.col("period_end") - F.col("period_start") + 1)
        .cast("bigint")
        .alias("longest_days"),
    )


SQL_R15 = """
WITH li AS (
    SELECT l_orderkey, MAX(l_shipdate) AS ship_ts FROM lineitem GROUP BY 1
),
iv AS (
    SELECT o_custkey, o_orderkey,
           CAST(date_diff('day', DATE '1970-01-01',
                          CAST(o_orderdate AS DATE)) AS BIGINT) AS s,
           CAST(GREATEST(
               date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)),
               date_diff('day', DATE '1970-01-01', CAST(ship_ts AS DATE))
           ) AS BIGINT) AS e
    FROM orders JOIN li ON o_orderkey = l_orderkey
),
f AS (
    SELECT *,
           CASE WHEN s > COALESCE(
                    MAX(e) OVER (PARTITION BY o_custkey
                                 ORDER BY s, e, o_orderkey
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING),
                    CAST(-4611686018427387904 AS BIGINT))
                THEN 1 ELSE 0 END AS new_grp
    FROM iv
),
g AS (
    SELECT *,
           SUM(new_grp) OVER (PARTITION BY o_custkey
                              ORDER BY s, e, o_orderkey
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS gid
    FROM f
),
grp AS (
    SELECT o_custkey, gid,
           MIN(s) AS gs, MAX(e) AS ge, COUNT(*) AS n
    FROM g GROUP BY 1, 2
)
SELECT o_custkey,
       CAST(SUM(n) AS BIGINT) AS n_orders,
       CAST(COUNT(*) AS BIGINT) AS n_busy_periods,
       CAST(SUM(ge - gs + 1) AS BIGINT) AS covered_days,
       CAST(MAX(ge - gs + 1) AS BIGINT) AS longest_days
FROM grp GROUP BY 1
"""


def q_r16_pairwise_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise session-overlap statistics WITHOUT the quadratic pair
    join: per day, how many session PAIRS overlap and for how long in
    total — the contention/co-presence readout (ad co-viewership,
    support-queue collision, lock contention all reduce to it). The
    naive formulation joins every same-day session pair (Θ(k²) rows);
    this plan derives both statistics from the sweep-line step function
    C(t) (r10's concurrency machinery, upgraded from max to moments):
    total pairwise overlap = ∫ C(C−1)/2 dt, and each session's start
    contributes (C_after − 1) newly-overlapping pairs — both LINEAR in
    boundary events. The oracle IS the quadratic join, so the driver
    hash gate is the identity proof ∫C(C−1)/2 = Σ_pairs overlap.

    Exactness and determinism: boundaries sort by (t, delta, sid) with
    ends (−1) before starts (+1) at equal instants, so a session ending
    exactly when another starts is NOT an overlapping pair (zero
    measure), and simultaneous starts pair exactly once (at the later
    sid). Zero-length sessions are excluded up front (they overlap
    nothing positively). All arithmetic is µs-BIGINT; C(C−1) is even so
    DIV 2 is exact; the /1e6 is terminal. Sweep windows are keyed by
    day (sessions never span days), the natural time-partition — at
    100 TB you'd sub-bucket the day axis exactly like sc5.
    """
    ev = load_events(spark, sf_dir)
    s = (
        ev.groupBy(
            "user_id",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
            .cast("bigint")
            .alias("day_ep"),
        )
        .agg(
            F.min(F.unix_micros("ts")).alias("s_us"),
            F.max(F.unix_micros("ts")).alias("e_us"),
        )
        .filter(F.col("e_us") > F.col("s_us"))
    )
    starts = s.select(
        "day_ep",
        F.col("s_us").alias("t"),
        F.lit(1).cast("int").alias("delta"),
        F.col("user_id").alias("sid"),
    )
    ends = s.select(
        "day_ep",
        F.col("e_us").alias("t"),
        F.lit(-1).cast("int").alias("delta"),
        F.col("user_id").alias("sid"),
    )
    b = starts.unionByName(ends)
    w = Window.partitionBy("day_ep").orderBy("t", "delta", "sid")
    swept = b.withColumn(
        "c_after",
        F.sum("delta").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    ).withColumn("nxt_t", F.lead("t").over(w))
    return swept.groupBy("day_ep").agg(
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_sessions"),
        F.sum(
            F.when(F.col("delta") == 1, F.col("c_after") - 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_overlapping_pairs"),
        (
            F.sum(
                F.when(
                    F.col("nxt_t").isNotNull(),
                    (F.col("nxt_t") - F.col("t"))
                    * F.expr("CAST(c_after * (c_after - 1) DIV 2 AS BIGINT)"),
                ).otherwise(0)
            )
            .cast("bigint")
            .cast("double")
            / F.lit(1e6)
        ).alias("pair_overlap_sec"),
        F.max("c_after").cast("bigint").alias("peak_concurrency"),
    )


SQL_R16 = """
WITH s AS (
    SELECT user_id,
           date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_ep,
           MIN(epoch_us(ts)) AS s_us, MAX(epoch_us(ts)) AS e_us
    FROM events GROUP BY 1, 2
    HAVING MAX(epoch_us(ts)) > MIN(epoch_us(ts))
),
p AS (
    SELECT a.day_ep,
           GREATEST(CAST(0 AS BIGINT),
                    LEAST(a.e_us, b.e_us) - GREATEST(a.s_us, b.s_us)) AS ov
    FROM s a JOIN s b ON a.day_ep = b.day_ep AND a.user_id < b.user_id
),
pairs AS (
    SELECT day_ep,
           CAST(SUM(CASE WHEN ov > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_overlapping_pairs,
           CAST(CAST(SUM(ov) AS BIGINT) AS DOUBLE) / 1e6
               AS pair_overlap_sec
    FROM p GROUP BY 1
),
bounds AS (
    SELECT day_ep, s_us AS t, 1 AS delta FROM s
    UNION ALL
    SELECT day_ep, e_us, -1 FROM s
),
sweep AS (
    SELECT day_ep,
           SUM(delta) OVER (PARTITION BY day_ep ORDER BY t, delta
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS c
    FROM bounds
),
peaks AS (
    SELECT day_ep, CAST(MAX(c) AS BIGINT) AS peak_concurrency
    FROM sweep GROUP BY 1
),
ns AS (
    SELECT day_ep, CAST(COUNT(*) AS BIGINT) AS n_sessions FROM s GROUP BY 1
)
SELECT ns.day_ep, ns.n_sessions,
       COALESCE(pairs.n_overlapping_pairs, 0) AS n_overlapping_pairs,
       COALESCE(pairs.pair_overlap_sec, 0.0) AS pair_overlap_sec,
       peaks.peak_concurrency
FROM ns
JOIN peaks USING (day_ep)
LEFT JOIN pairs USING (day_ep)
"""


QUERIES: list[Query] = [
    Query("r16_pairwise_overlap", q_r16_pairwise_overlap, SQL_R16,
          "pairwise session-overlap stats via linear sweep (≡ quadratic join)"),
    Query("r15_interval_coalesce", q_r15_interval_coalesce, SQL_R15,
          "per-customer busy-period interval coalescing (temporal COALESCE)"),
    Query("r14_peak_window_overlap", q_r14_peak_window_overlap, SQL_R14,
          "daily peak-window session-overlap share (interval intersection)"),
    Query("r13_business_days", q_r13_business_days, SQL_R13,
          "business-day SLA intervals (closed-form weekday arithmetic)"),
    Query("r12_calendarize", q_r12_calendarize, SQL_R12,
          "interval→month pro-rata value allocation (revenue recognition)"),
    Query("r11_asof_nearest", q_r11_asof_nearest, SQL_R11,
          "nearest as-of join (merge_asof direction='nearest', 48h tolerance)"),
    Query("r1_asof_join", q_r1_asof_join, SQL_R1, "as-of join"),
    Query("r10_peak_concurrency", q_r10_peak_concurrency, SQL_R10,
          "peak concurrent sessions per day (distributed sweep-line)"),
    Query("r9_asof_forward", q_r9_asof_forward, SQL_R9,
          "forward as-of join (time-to-conversion lag)"),
    Query("r2_range_join", q_r2_range_join, SQL_R2, "bounded range join"),
    Query("r3_hierarchical_rollup", q_r3_hierarchical_rollup, SQL_R3, "hypertable rollup"),
    Query("r5_gapfill_locf", q_r5_gapfill_locf, SQL_R5,
          "time-series gap-fill + LOCF resample"),
    Query("r6_gapfill_interpolate", q_r6_gapfill_interpolate, SQL_R6,
          "time-series gap-fill + linear interpolation"),
    Query("r7_asof_against_scd2", q_r7_asof_against_scd2, SQL_R7,
          "point-in-time lookup against the SCD-2 versioned dim"),
    Query("r8_resample_ohlc", q_r8_resample_ohlc, SQL_R8,
          "15-minute OHLC bar resampling (min_by/max_by picks)"),
]
