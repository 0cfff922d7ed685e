"""Catalog of the driver-provided parquet tables.

The reference models a "catalog" as ``dict[str, pandas.DataFrame]``
(reference `src/etl_functions.py:29-36`); the Spark-native equivalent is a
dict of lazy DataFrames plus temp views, so every table is reachable from
both the DataFrame API and ``spark.sql``.

Dimension tables (small, bounded cardinality) are broadcast-joined by the
plans; fact tables (orders, lineitem, events) scale with SF and join via
shuffle with AQE.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Tables whose size is bounded (or grows far slower than the facts) — safe
# to broadcast at any SF. `customer`/`part` grow with SF but stay dimension
# -sized relative to lineitem; broadcast hints are still given per-plan, not
# globally, so a 100 TB run can drop them where inappropriate.
DIM_TABLES = ("region", "nation", "supplier")


def _snapshot_roots(path: str) -> list[str]:
    """Schema-version snapshot roots under a table path, or [] when the
    path is a plain parquet table.

    Convention: a table whose immediate children are ALL directories
    named ``v<digits>`` (v1, v2, ...) is a multi-version lake — each
    child one schema snapshot, ordered by version number. Hive-
    partitioned tables (``col=val`` children) and flat file roots don't
    match, so existing layouts read exactly as before. A plain
    ``spark.read.parquet`` on such a root would see NO data (Spark
    neither recurses into non-partition subdirectories nor merges
    drifted types), so routing these through the widening reader is new
    capability, not a behavior change.
    """
    import re

    if not os.path.isdir(path):
        return []
    children = [c for c in os.listdir(path) if not c.startswith(("_", "."))]
    if not children:
        return []
    if all(
        re.fullmatch(r"v\d+", c) and os.path.isdir(os.path.join(path, c))
        for c in children
    ):
        return [
            os.path.join(path, c)
            for c in sorted(children, key=lambda c: int(c[1:]))
        ]
    return []


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    schema=None,
) -> DataFrame:
    """Catalog read with schema evolution ON by default (the
    reference's F13 lesson, `src/etl_functions.py:
    186-187`, generalized: a missing or narrowed column must never
    crash, nor silently null, a pipeline that declared its schema):

    - plain table root → footer-merging read
      (:func:`~..sources.evolve.read_with_schema_evolution`): columns
      added by newer producers surface everywhere, older files backfill
      NULL — a bare ``spark.read.parquet`` instead takes one random
      footer's schema and silently DROPS the others' columns;
    - multi-version lake (``v1/ v2/ ...`` children, see
      :func:`_snapshot_roots`) → type-widening union read
      (:func:`~..sources.evolve.read_with_type_widening`): int→long /
      float→double producer drift lands at the widest type, per-arm
      pushdown and pruning preserved;
    - ``schema`` (StructType or DDL string) → the result is conformed
      to the declaration (:func:`~..sources.evolve.conform_to_schema`):
      missing columns materialize as typed NULLs, extras drop, types
      cast — the declared contract, enforced at the catalog boundary.

    Cost at 100 TB: mergeSchema is one footer read per file at PLANNING
    time, no data pass — the raw-parquet floor; a metadata catalog or
    table format amortizes it, and single-schema tables can pin
    ``schema=`` to skip surprises entirely.
    """
    from .evolve import (
        conform_to_schema,
        read_with_schema_evolution,
        read_with_type_widening,
    )

    path = f"{sf_dir}/{name}.parquet"
    snaps = _snapshot_roots(path)
    if snaps:
        df = read_with_type_widening(spark, *snaps)
    else:
        df = read_with_schema_evolution(spark, path)
    if schema is not None:
        df = conform_to_schema(df, schema)
    return df


def load_tables(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    register_views: bool = False,
    schemas: dict[str, object] | None = None,
) -> dict[str, DataFrame]:
    """Load every present catalog table through :func:`load_table` (so
    each gets the schema-evolution read path), optionally conforming
    tables named in ``schemas`` to their declared StructType/DDL."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = f"{sf_dir}/{name}.parquet"
        if not os.path.exists(path):
            continue  # optional-source probe (reference S2, `src/etl_functions.py:39-40`)
        df = load_table(
            spark, sf_dir, name, schema=(schemas or {}).get(name)
        )
        out[name] = df
        if register_views:
            df.createOrReplaceTempView(name)
    return out
