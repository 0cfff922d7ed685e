"""Scale toolkit: skew mitigation and shuffle elimination.

AQE's skew-join splitting handles most runtime skew automatically (enabled
in session.py); these operators cover the cases AQE can't:

- **salted aggregation** — a groupBy whose key distribution is so skewed
  that even one key overflows a task: pre-aggregate on (key, salt), then
  finalize on key. Two shuffles, but each balanced.
- **salted join** — a skewed-key equi-join: the skewed (big) side gets a
  deterministic salt; the small side is replicated across all salt values.
- **bucketed co-located join** — pre-bucket both tables by the join key at
  write time; subsequent joins read bucket-aligned splits and need NO
  exchange at all (verified by plan inspection in tests). This is the
  100 TB answer for repeatedly-joined fact tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def salted_sum(
    df: DataFrame, key: str, value: str, salt_buckets: int = 16,
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """Skew-resistant sum: partial agg on (key, salt) → final agg on key.

    Salt is derived from a hash of ``salt_cols`` (default: every column,
    like :func:`salted_join` — cheap, deterministic, no RNG →
    reproducible plans). Hashing the value column ALONE is the trap the
    default avoids: a hot key whose values are constant (count-style
    value=1) would land every row in one (key, salt) group and keep the
    skew intact. Equivalent to a plain groupBy().sum() — tests assert
    equality for any salt choice.
    """
    salt_src = salt_cols if salt_cols else df.columns
    salted = df.withColumn(
        "_salt",
        F.pmod(
            F.xxhash64(*[F.col(c) for c in salt_src]), F.lit(salt_buckets)
        ),
    )
    partial = salted.groupBy(key, "_salt").agg(F.sum(value).alias("_partial"))
    return partial.groupBy(key).agg(F.sum("_partial").alias(f"sum_{value}"))


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 8,
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """Skewed-key equi-join: salt the big side, explode the small side
    across every salt value, join on (key, salt). Row-for-row equivalent
    to ``skewed.join(small, key)``.

    The salt is a content hash (default: all columns of the skewed side),
    so bucket assignment — and therefore the physical plan and any
    persisted intermediate — is reproducible across runs, partitionings,
    and task retries (a ``monotonically_increasing_id`` salt would not be).

    Pass ``salt_cols`` to hash a cheap high-cardinality column subset
    instead of the whole row: (a) hashing wide rows (e.g. long text
    columns) costs per-row CPU, and (b) **fully identical rows all hash to
    the same salt bucket**, so for duplicate-heavy hot keys the default
    content salt silently does NOT spread the skew — pick a column that
    varies within the hot key (an id, an event timestamp) in that case.
    Join correctness is unaffected either way; only balance is."""
    salt_src = salt_cols if salt_cols else skewed.columns
    left = skewed.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in salt_src]), F.lit(salt_buckets)),
    )
    right = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    ).withColumn("_salt", F.col("_salt").cast("bigint"))
    return left.join(right, [key, "_salt"], "inner").drop("_salt")


def write_bucketed(
    df: DataFrame,
    table_name: str,
    key: str,
    num_buckets: int = 8,
) -> None:
    """Persist as a bucketed table (hash-partitioned files + sorted
    buckets) so future equi-joins/aggregations on `key` skip the
    exchange."""
    (
        df.write.mode("overwrite")
        .bucketBy(num_buckets, key)
        .sortBy(key)
        .saveAsTable(table_name)
    )


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, key: str
) -> DataFrame:
    """Join two tables bucketed on the same key with the same bucket count
    — planned with zero Exchange operators (bucket-aligned scan)."""
    return spark.table(left_table).join(spark.table(right_table), key, "inner")


def bloom_build(keys: DataFrame, key: str, m_bits: int = 8192,
                k_hashes: int = 4) -> DataFrame:
    """Build a Bloom filter over ``keys[key]`` as a ONE-ROW DataFrame with
    a ``_bloom`` map<bigint,bigint> column: word index → 64-bit word.

    Each key sets ``k_hashes`` bits at ``xxhash64(key, seed) mod m_bits``
    — all JVM expressions, partial-aggregated (``bit_or`` combines
    map-side), so the build is one reduce to ≤ m_bits/64 rows and one
    1-row map fold. The sketch never touches the driver: callers
    ``broadcast``-crossJoin the row, the same plumbing Spark's own
    runtime-filter injection uses (it stops at semi-join pushdown;
    ``might_contain``/``bloom_filter_agg`` are not public SQL surface,
    which is why this exists).
    """
    seeds = F.array(*[F.lit(i) for i in range(k_hashes)])
    # shiftleft's bit-count arg must be a column here, so the mask goes
    # through F.expr over a materialized _pos (the python API only takes
    # an int literal)
    words = (
        keys.select(F.col(key), F.explode(seeds).alias("_seed"))
        .select(
            F.pmod(F.xxhash64(F.col(key), F.col("_seed")),
                   F.lit(m_bits)).alias("_pos")
        )
        .select(
            F.expr("_pos DIV 64").alias("_word"),
            F.expr("shiftleft(1L, CAST(_pos % 64 AS INT))").alias("_mask"),
        )
        .groupBy("_word")
        .agg(F.bit_or("_mask").alias("_bits"))
    )
    # the sketch row carries its OWN parameters so a mismatched prune
    # cannot silently produce false negatives (see bloom_prune)
    return words.agg(
        F.map_from_arrays(
            F.collect_list("_word"), F.collect_list("_bits")
        ).alias("_bloom")
    ).select(
        "_bloom",
        F.lit(m_bits).cast("long").alias("_m_bits"),
        F.lit(k_hashes).cast("int").alias("_k_hashes"),
    )


def bloom_prune(big: DataFrame, bloom: DataFrame, key: str,
                m_bits: int = 8192, k_hashes: int = 4) -> DataFrame:
    """Map-side Bloom pruning of ``big`` rows whose ``key`` cannot be in
    the filter: broadcast the 1-row sketch, test all ``k_hashes`` bits.
    No shuffle of ``big`` at all — the 100 TB win over a semi-join, whose
    shuffle moves the full fact table when the build side isn't
    broadcastable. False positives survive (callers follow with an exact
    join — see q_sc3); false negatives are impossible, so pruning is
    sound — PROVIDED the probe parameters match the build's. The sketch
    row carries its own (_m_bits, _k_hashes), and the probe refuses to
    run against a sketch built with different parameters: a mismatch
    would compute different bit positions and silently drop rows whose
    keys ARE in the filter.
    """
    pruned = big.crossJoin(F.broadcast(bloom))
    cond = F.when(
        (F.col("_m_bits") == F.lit(m_bits))
        & (F.col("_k_hashes") == F.lit(k_hashes)),
        F.lit(True),
    ).otherwise(
        F.raise_error(
            F.lit(
                f"bloom_prune(m_bits={m_bits}, k_hashes={k_hashes}) "
                "does not match the sketch's build parameters"
            )
        ).cast("boolean")
    )
    for i in range(k_hashes):
        pos = f"pmod(xxhash64({key}, {i}), {m_bits})"
        word = F.coalesce(
            F.element_at(F.col("_bloom"), F.expr(f"{pos} DIV 64")),
            F.lit(0).cast("long"),
        )
        mask = F.expr(f"shiftleft(1L, CAST({pos} % 64 AS INT))")
        cond = cond & (word.bitwiseAND(mask) != 0)
    return pruned.filter(cond).drop("_bloom", "_m_bits", "_k_hashes")


def distributed_row_number(
    df: DataFrame,
    bucket,
    order_cols,
    partition_cols=(),
    rn_alias: str = "rn",
    count_alias: str | None = None,
) -> DataFrame:
    """Exact ``ROW_NUMBER() OVER ([PARTITION BY ...] ORDER BY ...)``
    without any single-task per-row window — the range-partitioned
    pattern shared by sc5 (global sequence), a16 (Gini ranks) and
    a14/a19 (percentile ranks).

    ``bucket`` must be a Column monotone non-decreasing in the leading
    order column (e.g. ``floor(value / width)``); ties in the order
    always share a bucket then, so per-bucket ``row_number`` + the
    running-sum bucket offset reproduces the global numbering exactly.
    Three steps: per-(partition, bucket) counts; a running-sum offset
    window over #buckets rows only (the single tiny serial window);
    broadcast offsets back and number within each (partition, bucket) —
    every per-row window fully parallel. With ``count_alias``, the
    per-partition total row count is attached from the (tiny) counts
    table — no second pass over ``df``.

    At 100 TB pick bucket widths from a sampled CDF (what Spark's own
    range partitioner does); any fixed monotone bucketing is CORRECT,
    width only balances the per-bucket sort.
    """
    from pyspark.sql import Window

    pc = list(partition_cols)
    keyed = df.withColumn("_drn_b", bucket)
    # Measured NON-change: checkpointing this counts table (it
    # feeds both the offsets and totals broadcasts, so the lazy form
    # executes the input 3×) LOST on the bench — at local[32] the
    # duplicate subplans run concurrently inside one job and the eager
    # materialization serializes them (a27 1.09→1.80 s, sc5 0.22→0.27).
    # At cluster scale with busy executors the 3rd pass is real cost;
    # revisit only with a measured win there.
    counts = keyed.groupBy(*pc, "_drn_b").agg(F.count("*").alias("_drn_n"))
    w_off = (
        (Window.partitionBy(*pc) if pc else Window)
        .orderBy("_drn_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        *pc,
        "_drn_b",
        F.coalesce(F.sum("_drn_n").over(w_off), F.lit(0)).alias("_drn_off"),
    )
    w_in = Window.partitionBy(*pc, "_drn_b").orderBy(*order_cols)
    out = (
        keyed.join(F.broadcast(offsets), pc + ["_drn_b"])
        .withColumn(
            rn_alias,
            (F.row_number().over(w_in) + F.col("_drn_off")).cast("long"),
        )
    )
    if count_alias is not None:
        totals = counts.groupBy(*pc).agg(
            F.sum("_drn_n").cast("bigint").alias(count_alias)
        )
        out = (
            out.join(F.broadcast(totals), pc)
            if pc
            else out.crossJoin(F.broadcast(totals))
        )
    return out.drop("_drn_b", "_drn_off")


def distributed_running_sum(
    df: DataFrame,
    bucket,
    order_cols,
    value_col: str,
    cum_alias: str = "cum",
    total_alias: str | None = None,
) -> DataFrame:
    """Exact ``SUM(value) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)``
    without a single-task per-row window — :func:`distributed_row_number`
    generalized from counting to summing (a27's Pareto cumulative
    revenue is the first consumer).

    ``bucket`` must be monotone non-decreasing in the leading order
    column so order-ties share a bucket; ``value_col`` should be a
    DECIMAL column (exact, association-independent — a double here
    would re-introduce partial-aggregation-order noise the helper
    exists to avoid). Three steps: per-bucket value sums; a running-sum
    offset window over #buckets rows only (the single tiny serial
    window); broadcast offsets back and accumulate WITHIN each bucket —
    every per-row window fully parallel. With ``total_alias``, the
    grand total is attached from the (tiny) per-bucket sums table — no
    second aggregation pass over ``df`` (the count_alias idea from
    :func:`distributed_row_number`, for sums).
    """
    from pyspark.sql import Window

    keyed = df.withColumn("_drs_b", bucket)
    counts = keyed.groupBy("_drs_b").agg(
        F.sum(value_col).alias("_drs_s")
    )
    w_off = Window.orderBy("_drs_b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "_drs_b",
        F.coalesce(
            F.sum("_drs_s").over(w_off), F.lit(0).cast("decimal(38,6)")
        ).alias("_drs_off"),
    )
    w_in = (
        Window.partitionBy("_drs_b")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = (
        keyed.join(F.broadcast(offsets), "_drs_b")
        .withColumn(
            cum_alias,
            (F.sum(value_col).over(w_in) + F.col("_drs_off")).cast(
                "decimal(38,6)"
            ),
        )
        .drop("_drs_b", "_drs_off")
    )
    if total_alias is not None:
        totals = counts.agg(
            F.sum("_drs_s").cast("decimal(38,6)").alias(total_alias)
        )
        out = out.crossJoin(F.broadcast(totals))
    return out
