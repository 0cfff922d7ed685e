"""The catalog path reads with schema evolution by DEFAULT — added
columns surface (footer merge), type drift widens (v1/v2/... snapshot
lakes), and a declared schema is enforced at the boundary (missing ->
typed NULL, extra -> dropped), generalizing the reference's F13 backfill
(`src/etl_functions.py:186-187`) from one hardcoded column to any
table."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType

from etl_power_bi_dashboard_spark.sources.catalog import (
    _snapshot_roots,
    load_table,
    load_tables,
)


def _write_lake(spark, root):
    """events.parquet as a two-version lake: v1 (n int, v float),
    v2 widens both and adds lang."""
    (root / "events.parquet").mkdir(parents=True)
    spark.createDataFrame([(1, 1.5), (2, 2.5)], "n int, v float").write.parquet(
        str(root / "events.parquet" / "v1")
    )
    spark.createDataFrame(
        [(2**40, 0.1, "en")], "n bigint, v double, lang string"
    ).write.parquet(str(root / "events.parquet" / "v2"))


@pytest.mark.slow
def test_load_table_reads_multi_version_lake(spark, tmp_path):
    _write_lake(spark, tmp_path)
    df = load_table(spark, str(tmp_path), "events")
    assert isinstance(df.schema["n"].dataType, LongType)
    assert isinstance(df.schema["v"].dataType, DoubleType)
    got = {(r.n, r.v, r.lang) for r in df.collect()}
    assert got == {(1, 1.5, None), (2, 2.5, None), (2**40, 0.1, "en")}


def test_load_tables_routes_lake_and_registers_view(spark, tmp_path):
    _write_lake(spark, tmp_path)
    out = load_tables(spark, str(tmp_path), register_views=True)
    assert set(out) == {"events"}
    assert spark.sql("SELECT COUNT(*) AS c FROM events").collect()[0].c == 3


def test_load_table_declared_schema_backfills_and_drops(spark, tmp_path):
    """The F13 contract at the catalog boundary: a pipeline declaring
    (n long, quality double) gets quality as typed NULLs (not a crash),
    and the undeclared lang column is dropped."""
    _write_lake(spark, tmp_path)
    df = load_table(
        spark, str(tmp_path), "events", schema="n bigint, quality double"
    )
    assert df.columns == ["n", "quality"]
    assert isinstance(df.schema["quality"].dataType, DoubleType)
    assert df.filter(F.col("quality").isNull()).count() == 3


def test_plain_table_root_still_reads_with_footer_merge(spark, tmp_path):
    """Non-lake layout: two drifted-COLUMN files in one flat root read
    via mergeSchema — the added column surfaces with NULL backfill."""
    root = tmp_path / "documents.parquet"
    spark.createDataFrame([(1,)], "a int").write.parquet(str(root))
    spark.createDataFrame([(2, "x")], "a int, b string").write.mode(
        "append"
    ).parquet(str(root))
    df = load_table(spark, str(tmp_path), "documents")
    assert {(r.a, r.b) for r in df.collect()} == {(1, None), (2, "x")}


def test_snapshot_roots_rejects_hive_and_flat_layouts(spark, tmp_path):
    hive = tmp_path / "hive.parquet"
    spark.createDataFrame([(1, "a")], "n int, k string").write.partitionBy(
        "k"
    ).parquet(str(hive))
    assert _snapshot_roots(str(hive)) == []
    flat = tmp_path / "flat.parquet"
    spark.createDataFrame([(1,)], "n int").write.parquet(str(flat))
    assert _snapshot_roots(str(flat)) == []
    lake = tmp_path / "lake.parquet"
    (lake / "v2").mkdir(parents=True)
    (lake / "v10").mkdir()
    assert _snapshot_roots(str(lake)) == [
        str(lake / "v2"),
        str(lake / "v10"),
    ]


def test_driver_tables_read_identically_through_catalog(spark):
    """The real sf0.001 tables are plain roots — the catalog path must
    read them bit-identically to a bare spark.read.parquet."""
    sf = "/root/testdata/sf0.001"
    plain = spark.read.parquet(f"{sf}/region.parquet")
    cat = load_table(spark, sf, "region")
    assert cat.schema == plain.schema
    assert sorted(map(tuple, cat.collect())) == sorted(
        map(tuple, plain.collect())
    )
