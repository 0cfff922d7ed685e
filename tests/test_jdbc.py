"""JDBC connector (reference S8) against embedded Apache Derby — the
derby jars ship inside pyspark, so this is a REAL database roundtrip:
no mocks, no network, no installs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_power_bi_dashboard_spark.sources import excel, jdbc

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def derby_url(tmp_path_factory):
    db = tmp_path_factory.mktemp("derby") / "testdb"
    return f"jdbc:derby:{db};create=true"


def test_jdbc_roundtrip(spark, derby_url):
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "lang", "n_chars")
    )
    jdbc.write_jdbc(docs, derby_url, "docs", mode="overwrite")
    back = jdbc.read_jdbc(spark, derby_url, "docs")
    assert back.count() == docs.count()
    orig = {r.doc_id: (r.lang, r.n_chars) for r in docs.collect()}
    got = {r.DOC_ID: (r.LANG, r.N_CHARS) for r in back.collect()} \
        if "DOC_ID" in back.columns else \
        {r.doc_id: (r.lang, r.n_chars) for r in back.collect()}
    assert got == orig


def test_jdbc_partitioned_read_parallelism_and_values(spark, derby_url):
    """partition_column splits the scan into range-bounded concurrent
    queries — partition count must match and the union must be exactly
    the table (no dropped or duplicated boundary rows)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    jdbc.write_jdbc(docs, derby_url, "docs_p", mode="overwrite")
    n = docs.count()
    part = jdbc.read_jdbc(
        spark,
        derby_url,
        "docs_p",
        partition_column="doc_id",
        lower_bound=0,
        upper_bound=n,
        num_partitions=4,
    )
    assert part.rdd.getNumPartitions() == 4
    assert part.count() == n
    cols = [c.lower() for c in part.columns]
    renamed = part.toDF(*cols)
    assert renamed.select(F.sum("doc_id")).collect()[0][0] == \
        docs.select(F.sum("doc_id")).collect()[0][0]


def test_jdbc_pushdown_reaches_generated_sql(spark, derby_url):
    """Catalyst must push the filter into the JDBC scan (PushedFilters),
    not fetch-all-then-filter."""
    import contextlib
    import io

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang"
    )
    jdbc.write_jdbc(
        docs, derby_url, "docs_f", mode="overwrite",
        column_types="lang VARCHAR(16)",
    )
    df = jdbc.read_jdbc(spark, derby_url, "docs_f").filter(
        F.col("lang") == "en"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan and "lang" in plan.lower()
    assert df.count() == docs.filter(F.col("lang") == "en").count()


def test_excel_capability_gate(spark):
    """Without openpyxl the Excel reader must raise the documented
    capability error (and parse fine when an engine is present)."""
    if excel.excel_available():
        pytest.skip("openpyxl unexpectedly present; gate untestable")
    with pytest.raises(NotImplementedError, match="openpyxl"):
        excel.read_excel(spark, "/nonexistent.xlsx")


def test_jdbc_exactly_once_sink_end_to_end_and_replay(spark, derby_url, tmp_path):
    """The staged-write + driver-transaction protocol must (a) deliver
    every input row exactly once through a real availableNow run, and
    (b) treat a redelivered epoch as a no-op — simulated by invoking the
    sink's batch function again with an already-committed epoch id,
    which is precisely what a crash between JDBC commit and checkpoint
    commit produces on restart."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    src = str(tmp_path / "x1_src")
    docs.repartition(3).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "doc_id bigint, lang string, n_chars bigint"
    ).parquet(src)
    q = jdbc.jdbc_exactly_once_sink(
        stream, derby_url, "x1_target", str(tmp_path / "ck"), run_id="runA"
    )
    q.awaitTermination(120)
    q.stop()
    back = jdbc.read_jdbc(spark, derby_url, "x1_target").toDF(
        "doc_id", "lang", "n_chars"
    )
    assert back.count() == docs.count()
    assert {r.doc_id for r in back.collect()} == {
        r.doc_id for r in docs.collect()
    }

    # redeliver an epoch: replay epoch 0 with a batch that WOULD
    # double-append if the ledger were not consulted
    conn = jdbc._driver_connection(spark, derby_url)
    try:
        rs = conn.createStatement().executeQuery(
            "SELECT COUNT(*) FROM x1_target_EPOCHS WHERE run_id = 'runA'"
        )
        rs.next()
        n_epochs = rs.getLong(1)
    finally:
        conn.close()
    assert n_epochs >= 1

    from etl_power_bi_dashboard_spark.sources.jdbc import write_jdbc  # noqa

    # rebuild the sink's batch function by calling the foreachBatch body
    # the way a replay does: same run_id, same epoch id 0
    sink_fn_holder = {}

    class _FakeWriter:
        def foreachBatch(self, fn):
            sink_fn_holder["fn"] = fn
            return self

        def __getattr__(self, name):
            return lambda *a, **k: self

        def start(self):
            return None

    class _FakeStream:
        writeStream = _FakeWriter()

    jdbc.jdbc_exactly_once_sink(
        _FakeStream(), derby_url, "x1_target", str(tmp_path / "ck2"),
        run_id="runA",
    )
    sink_fn_holder["fn"](docs, 0)  # replayed epoch 0: must be a no-op
    spark.catalog.clearCache()
    again = jdbc.read_jdbc(spark, derby_url, "x1_target")
    assert again.count() == docs.count()  # no duplicates

    # a different run_id is a NEW logical run and must append
    sink_fn_holder2 = {}

    class _FakeWriter2(_FakeWriter):
        def foreachBatch(self, fn):
            sink_fn_holder2["fn"] = fn
            return self

    class _FakeStream2:
        writeStream = _FakeWriter2()

    jdbc.jdbc_exactly_once_sink(
        _FakeStream2(), derby_url, "x1_target", str(tmp_path / "ck3"),
        run_id="runB",
    )
    sink_fn_holder2["fn"](docs.limit(5), 0)
    final = jdbc.read_jdbc(spark, derby_url, "x1_target")
    assert final.count() == docs.count() + 5


def test_exactly_once_sink_rejects_non_identifier_table(spark, tmp_path):
    """The sink interpolates the table
    name unquoted into DDL/DML, so anything that is not a plain
    identifier must be rejected up front — not fail per-batch or worse."""
    import pytest

    from etl_power_bi_dashboard_spark.sources.jdbc import (
        jdbc_exactly_once_sink,
    )

    stream = spark.readStream.format("rate").load()
    for bad in ('"Quoted"', "sch.tbl", "t;DROP TABLE x", "1start", ""):
        with pytest.raises(ValueError):
            jdbc_exactly_once_sink(
                stream, "jdbc:derby:memory:nope;create=true", bad,
                str(tmp_path / "ck"), run_id="r1",
            )
