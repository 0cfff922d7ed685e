"""Pins the parity harness itself — the in-repo oracle gate must be at
least as strict as the driver's typed value-hash.

The driver compares Spark vs DuckDB results with a TYPED hash, so an
int64 `1985` and a float64 `1985.0` mismatch. A `canonicalize` built
on `DataFrame.iterrows()` coerces every mixed int/float row to float64,
so `tools/driver_sim.py` and the registry sweeps would pass queries the
real driver fails. These tests replay the driver's demo frames and fail
if the harness ever regresses to row-coercing iteration.
"""

import pandas as pd

from tests.parity import canonicalize


def test_int64_vs_float64_column_canonicalize_differently():
    # The judge's ml6 repro: oracle fetchdf() materialized HUGEINT as
    # float64 (x1=1985.0) while Spark returned int64 (x1=1985).
    spark_like = pd.DataFrame({"n1": [24004], "x1": [1985]})
    oracle_like = pd.DataFrame({"n1": [24004], "x1": [1985.0]})
    assert spark_like["x1"].dtype.kind == "i"
    assert oracle_like["x1"].dtype.kind == "f"
    assert canonicalize(spark_like) != canonicalize(oracle_like)


def test_mixed_row_does_not_coerce_int_column_to_float():
    # A frame with BOTH an int and a float column — iterrows() would
    # upcast the int cells to float64 and canonicalize 7 as '7.0'.
    df = pd.DataFrame({"k": [7, 8], "z": [0.5, 1.5]})
    rows = canonicalize(df)
    # sorted column order: k, z
    assert rows == [("7", repr(0.5)), ("8", repr(1.5))]


def test_identical_frames_still_agree():
    a = pd.DataFrame({"g": ["x", "y"], "n": [3, 4], "v": [1.25, 2.5]})
    b = pd.DataFrame({"v": [2.5, 1.25], "n": [4, 3], "g": ["y", "x"]})
    assert canonicalize(a) == canonicalize(b)


def test_nan_and_none_both_canonical_null():
    a = pd.DataFrame({"v": [float("nan")], "s": [None]})
    rows = canonicalize(a)
    assert rows == [("∅", "∅")]


def test_bool_column_not_coerced_by_numeric_neighbor():
    df = pd.DataFrame({"b": [True, False], "x": [1.0, float("nan")]})
    rows = canonicalize(df)
    assert ("True", repr(1.0)) in rows
    assert ("False", "∅") in rows


def test_empty_frame_canonicalizes_empty():
    df = pd.DataFrame({"a": pd.Series([], dtype="int64")})
    assert canonicalize(df) == []


def test_duplicate_column_labels_compare_not_crash():
    # label lookup (df[c]) returns a sub-DataFrame for duplicate labels;
    # the positional iloc path must still produce a row comparison
    a = pd.DataFrame([[1, 2.5], [3, 4.5]], columns=["k", "k"])
    b = pd.DataFrame([[3, 4.5], [1, 2.5]], columns=["k", "k"])
    assert canonicalize(a) == canonicalize(b)
    c = pd.DataFrame([[1, 9.9], [3, 4.5]], columns=["k", "k"])
    assert canonicalize(a) != canonicalize(c)
