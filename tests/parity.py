"""Spark-vs-DuckDB comparison harness mirroring the driver's oracle check:
row count + schema (column names) + order-insensitive value comparison.

Stricter than the driver: values must match exactly after canonicalization
(our plans are engineered for bit-exact aggregates), so anything passing
here passes any reasonable epsilon-based check too.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import math

import pandas as pd


def _canon_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "∅"
        # exact repr: engineered plans must agree bit-for-bit
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, (pd.Timestamp, _dt.datetime)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (bool,)):
        return str(bool(v))
    if isinstance(v, (int,)):
        return str(int(v))
    return str(v)


def canonicalize(df: pd.DataFrame) -> list[tuple]:
    # Column-wise conversion: iterrows() coerces mixed int/float rows to
    # float64, which hides int/float mismatches from the check — the
    # driver's typed value-hash distinguishes int64
    # `1985` from float64 `1985.0`. Series.tolist() preserves each
    # column's dtype (int64 -> int, float64 -> float), so this harness
    # is at least as strict as the driver gate.
    # positional extraction (iloc), not label lookup: with duplicate
    # column labels df[label] returns a sub-DataFrame and would crash.
    # str() makes the ordering total over mixed-type labels (an int and
    # a str label in one frame would make the bare tuple key raise)
    idx = sorted(range(df.shape[1]), key=lambda i: (str(df.columns[i]), i))
    columns = [df.iloc[:, i].tolist() for i in idx]
    out = [tuple(_canon_cell(v) for v in row) for row in zip(*columns)]
    if not columns:
        out = [()] * len(df)
    return sorted(out)


def compare(spark_df, oracle_con, sql: str, name: str = "?") -> None:
    pdf_s = spark_df.toPandas()
    pdf_o = oracle_con.execute(sql).fetchdf()
    assert sorted(pdf_s.columns) == sorted(pdf_o.columns), (
        f"{name}: column mismatch spark={sorted(pdf_s.columns)} "
        f"oracle={sorted(pdf_o.columns)}"
    )
    assert len(pdf_s) == len(pdf_o), (
        f"{name}: row count spark={len(pdf_s)} oracle={len(pdf_o)}"
    )
    rows_s = canonicalize(pdf_s)
    rows_o = canonicalize(pdf_o)
    if rows_s != rows_o:
        diff_s = [r for r in rows_s if r not in set(rows_o)][:5]
        diff_o = [r for r in rows_o if r not in set(rows_s)][:5]
        raise AssertionError(
            f"{name}: value mismatch\n  spark-only: {diff_s}\n  oracle-only: {diff_o}"
        )
