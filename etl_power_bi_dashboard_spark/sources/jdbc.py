"""JDBC source/sink (reference S8: `requirements.txt:8-11` declares
sqlalchemy/pyodbc but `src/etl_functions.py` never imports them — the
capability a reference user EXPECTS even though no call site exercises
it). Spark's built-in JDBC datasource replaces both libraries: one API,
any driver on the classpath.

Scale posture — the three things that make a JDBC ingest survive a big
source table:

- **Partitioned parallel reads**: ``partition_column`` +
  ``num_partitions`` turn one giant ``SELECT *`` into N concurrent
  range-bounded queries (``WHERE col >= lo AND col < hi``), one per
  Spark task. Without it the whole table streams through a single
  executor thread — the JDBC twin of the single-reducer window.
- **Predicate/column pushdown**: Catalyst pushes ``filter``/``select``
  into the generated SQL (visible as ``PushedFilters`` in ``explain``),
  so the database ships only the needed rows/columns.
- **Batched writes**: ``batchsize`` controls rows per INSERT batch;
  ``truncate`` avoids full DROP/CREATE on overwrite where supported.

The test suite exercises a REAL roundtrip against embedded Apache Derby
(`derby-*.jar` ships inside pyspark's jars — no install, no network).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

# Unquoted SQL identifier: what the exactly-once sink may interpolate
# into DDL/DML. Deliberately narrow — no quoting, no schema qualifier,
# no unicode — because the sink's statements use the name UNQUOTED and
# its existence probe relies on the database's unquoted-identifier
# case folding (see jdbc_exactly_once_sink docstring).
_IDENT_RE = re.compile(r"^[A-Za-z][A-Za-z0-9_]*$")


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    fetchsize: int = 10_000,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """Read a JDBC table (or ``(subquery) alias``) as a DataFrame.

    With ``partition_column`` (numeric/date column, ideally indexed) and
    bounds, the scan is split into ``num_partitions`` concurrent range
    queries; otherwise it is a single-task read (fine for dimension
    tables, wrong for facts).
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("fetchsize", str(fetchsize))
    )
    if partition_column is not None:
        if None in (lower_bound, upper_bound, num_partitions):
            raise ValueError(
                "partition_column requires lower_bound, upper_bound and "
                "num_partitions"
            )
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    *,
    mode: str = "overwrite",
    batchsize: int = 10_000,
    column_types: str | None = None,
    properties: dict[str, str] | None = None,
) -> None:
    """Write a DataFrame to a JDBC table in ``batchsize``-row batches.

    ``mode="overwrite"`` drops/recreates (or truncates, with
    ``truncate=true`` in ``properties``) the target; ``"append"`` adds
    rows. Each Spark task opens its own connection, so a wide
    ``df.repartition(n)`` parallelizes the load n-ways — size n to what
    the database can absorb, not to the cluster width.

    ``column_types`` (Spark's ``createTableColumnTypes``, e.g.
    ``"lang VARCHAR(16)"``) overrides the default DDL mapping — needed
    wherever the default is a large-object type the database won't
    index or compare (Derby maps StringType→CLOB, and a pushed-down
    ``WHERE lang = 'en'`` then fails: CLOB isn't comparable).
    """
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .mode(mode)
    )
    if column_types:
        writer = writer.option("createTableColumnTypes", column_types)
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


def _driver_connection(spark: SparkSession, url: str):
    """Driver-side java.sql connection via the JVM gateway — the
    transaction coordinator for the exactly-once sink (executors write
    only the staging table; the atomic publish is one driver txn)."""
    return spark._jvm.java.sql.DriverManager.getConnection(url)


def _table_exists(conn, table: str) -> bool:
    """Existence probe scoped to the connection's CURRENT schema, with
    LIKE wildcards escaped: ``getTables`` treats ``_``/``%`` as pattern
    characters and a null schema pattern spans every schema, so an
    unescaped FACT_SALES would match a stranger's FACTSSALES — a false
    positive that skips CREATE TABLE and then fails every INSERT."""
    meta = conn.getMetaData()
    esc = meta.getSearchStringEscape()
    pattern = table.upper().replace("_", esc + "_")
    rs = meta.getTables(None, conn.getSchema(), pattern, None)
    try:
        return rs.next()
    finally:
        rs.close()


def jdbc_exactly_once_sink(
    stream_df: DataFrame,
    url: str,
    table: str,
    checkpoint_path: str,
    run_id: str,
):
    """Exactly-once streaming append into a transactional JDBC store —
    the S8 connector promoted to a streaming sink with the guarantee
    foreachBatch alone cannot give (plain ``df.write.jdbc`` in
    foreachBatch is at-least-once: a crash between the JDBC write and
    the checkpoint commit re-appends the whole batch on replay).

    Per micro-batch:

    1. executors write the batch to a staging table (``<table>_STAGE``,
       overwritten per batch — partition-parallel, restartable, outside
       any transaction);
    2. the driver opens ONE transaction against the database:
       ``INSERT INTO target SELECT * FROM staging`` + an epoch-ledger
       row ``(run_id, epoch_id)`` into ``<table>_EPOCHS``, then commits.
       The ledger insert and the data insert commit atomically, so a
       replayed epoch finds its ledger row and SKIPS — redelivery
       becomes a no-op, which upgrades at-least-once to exactly-once on
       any store with real transactions (here: embedded Derby, the same
       protocol any RDBMS/warehouse with ACID commits supports).

    ``run_id`` scopes the ledger to one checkpoint lineage (epoch ids
    are checkpoint-local — a NEW checkpoint legitimately reprocesses
    input and must not be suppressed by an old run's ledger; cf. the
    ``streaming/index._run_base`` discussion of the same hazard).

    Scale posture: the staged write is the partitioned-parallel path;
    the driver transaction moves no rows through the driver — it is two
    SQL statements executed inside the database. INSERT..SELECT cost is
    the database's own bulk-move, which warehouses optimize; the Spark
    side never blocks executors on the transaction.

    Identifier contract: ``table`` must be a plain UNQUOTED identifier
    (``[A-Za-z][A-Za-z0-9_]*`` — enforced up front, ValueError
    otherwise). The sink interpolates ``table``/``<table>_STAGE``/
    ``<table>_EPOCHS`` unquoted into its statements and probes
    existence via JDBC metadata under the store's unquoted-identifier
    case folding (upper-case here — correct for Derby/Oracle/DB2;
    lower-folding stores would need ``storesLowerCaseIdentifiers``
    dispatch). Quoted, case-sensitive, or schema-qualified names are
    out of contract — without the regex gate a lowercase/quoted name
    would miss the existence check and fail CREATE TABLE on every
    batch, and an arbitrary string would be SQL injection into DDL.
    """
    if not _IDENT_RE.fullmatch(table):
        raise ValueError(
            "jdbc_exactly_once_sink: table must be an unquoted SQL "
            f"identifier ([A-Za-z][A-Za-z0-9_]*), got {table!r}"
        )

    def _epoch_committed(spark, ledger: str, epoch_id: int) -> bool:
        """Ensure the ledger exists and report whether (run_id,
        epoch_id) already committed — checked BEFORE staging, so a
        replayed epoch is a true no-op instead of a full re-ship of the
        batch over JDBC just to discover it already landed."""
        conn = _driver_connection(spark, url)
        try:
            conn.setAutoCommit(False)
            st = conn.createStatement()
            try:
                if not _table_exists(conn, ledger):
                    st.executeUpdate(
                        f"CREATE TABLE {ledger} "
                        "(run_id VARCHAR(128), epoch_id BIGINT)"
                    )
                conn.commit()
                ps = conn.prepareStatement(
                    f"SELECT COUNT(*) FROM {ledger} "
                    "WHERE run_id = ? AND epoch_id = ?"
                )
                ps.setString(1, run_id)
                ps.setLong(2, epoch_id)
                rs = ps.executeQuery()
                rs.next()
                seen = rs.getLong(1) > 0
                rs.close()
                ps.close()
                # the SELECT opened a transaction (autocommit off) —
                # end it, or close() throws "transaction still active"
                # on strict drivers (Derby 25001)
                conn.commit()
                return seen
            finally:
                st.close()
        except Exception:
            conn.rollback()
            raise
        finally:
            conn.close()

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        stage = f"{table}_STAGE"
        ledger = f"{table}_EPOCHS"
        if _epoch_committed(spark, ledger, epoch_id):
            return
        write_jdbc(batch_df, url, stage, mode="overwrite")
        conn = _driver_connection(spark, url)
        try:
            conn.setAutoCommit(False)
            st = conn.createStatement()
            try:
                if not _table_exists(conn, table):
                    st.executeUpdate(
                        f"CREATE TABLE {table} AS SELECT * FROM {stage} "
                        "WITH NO DATA"
                    )
                    conn.commit()  # DDL before the data txn
                st.executeUpdate(
                    f"INSERT INTO {table} SELECT * FROM {stage}"
                )
                ins = conn.prepareStatement(
                    f"INSERT INTO {ledger} VALUES (?, ?)"
                )
                ins.setString(1, run_id)
                ins.setLong(2, epoch_id)
                ins.executeUpdate()
                ins.close()
                conn.commit()
            finally:
                st.close()
        except Exception:
            conn.rollback()
            raise
        finally:
            conn.close()

    return (
        stream_df.writeStream.foreachBatch(_write)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
