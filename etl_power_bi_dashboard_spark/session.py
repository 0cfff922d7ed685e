"""SparkSession factory.

The reference engine (pandas, `src/etl_functions.py:562-585` in the
reference repo) is eager and single-node; here the equivalent "runtime" is a
SparkSession tuned for correctness parity and for scale:

- AQE on (runtime partition coalescing, skew-join splitting) so the same
  plans survive a 100× scale-up without retuning,
- AQE's coalescing floor lowered to 64KB: coalescing decides by BYTES,
  but the dedup/graph families shuffle data that is tiny in bytes and
  huge in compute (md5 hashing, array intersections, pair-explosion
  joins over a small-vocabulary corpus) — under the 1MB default floor
  those stages collapse to ONE task and serialize ~20s of work that 32
  cores finish in ~3s (measured on d6's edge build at sf0.1: 26s → 9s
  cold). At cluster scale real partitions dwarf both thresholds and the
  setting is inert; it only stops byte-blind coalescing from
  serializing compute-bound local stages,
- ANSI mode OFF so casts/parses return NULL on failure like
  `pd.to_datetime(errors='coerce')` (plans additionally use try_* functions
  so they stay correct even under an ANSI-on session provided by a driver),
- UTC session timezone so date_id surrogate keys and window buckets are
  deterministic across environments,
- shuffle partitions default to the core count of the local master (N
  for ``local[N]``, the cores the JVM sees for ``local[*]``) unless the
  caller or ``$SPARK_SHUFFLE_PARTITIONS`` names a count, in that order.
  Local shuffles here are small, so every partition past one per core is
  a task that pays scheduling and a file that pays a write: on 4 cores
  the 32-partition default made a warm ``run_pipeline`` pass 464 tasks
  and 105 files, against 124 and 43 at 4. At cluster scale AQE
  coalesces or splits as needed,
- a generated-code cache of 1024 classes instead of Spark's 100: one cold
  pass of the benchmark workloads compiles 124-257 classes, so at 100 the
  cache evicts what the next pass needs and every warm pass compiles its
  code again (125-198 compiles a traced warm pass, 8 at 1024). The cost
  is a few MB of metaspace and code heap,
- no Python call-site capture (``spark.python.sql.dataFrameDebugging
  .enabled=false``): with it on, every ``Column`` operator and ``F``
  function call makes about 7 extra py4j round trips to record where in
  Python it was called, and a registry query builds its plan from
  thousands of such calls. What this loses: an AnalysisException no
  longer names the Python line that built the failing expression.
  Results do not change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def aqe_enabled() -> bool:
    """Strict-boolean read of the SPARK_GRAFT_AQE invariance knob.

    Any falsy spelling (false/0/off/no, any case) disables AQE;
    everything else (including unset) enables it. Passing the raw env
    value to ``spark.sql.adaptive.enabled`` would produce an invalid
    boolean conf for "0"/"off" that only fails at first session USE,
    and the test skip guards must agree with the session on what
    counts as disabled — both go through this one helper.
    """
    return os.environ.get("SPARK_GRAFT_AQE", "true").lower() not in (
        "false", "0", "off", "no",
    )


def get_spark(
    app_name: str = "etl-power-bi-dashboard-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # Config-invariance knob: results must not depend on AQE, so the
    # parity suite can re-run with SPARK_GRAFT_AQE=false to prove no
    # plan silently relies on a runtime re-plan for CORRECTNESS (AQE is
    # a performance feature; only the streaming gap-monitor's
    # state-merge pin and the bench numbers are allowed to care).
    aqe = "true" if aqe_enabled() else "false"
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", aqe)
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64KB")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    # `is None`, not truthiness: an explicit shuffle_partitions=0 must
    # surface as the (invalid) value the caller passed, not silently
    # become a default. A local master's default parallelism is its core
    # count, as the JVM resolved it for local[*].
    if shuffle_partitions is None:
        env = os.environ.get("SPARK_SHUFFLE_PARTITIONS")
        shuffle_partitions = (
            int(env) if env is not None else spark.sparkContext.defaultParallelism
        )
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark
