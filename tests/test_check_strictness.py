"""The local correctness gate must be at least as strict as the driver.

Round-6 postmortem (VERDICT r6 #2): the driver's value hash is
type-sensitive, but tools/check_correctness.py canonicalized np scalars
with ``.item()`` — and ``500 == 500.0`` in Python — so a DuckDB
HUGEINT→float64 oracle column silently matched a Spark int64 column
locally while failing the driver (q_pack_sequences). These tests pin the
fix: an int column and a float column with identical values must DIFFER
under the local comparator, including the exact windowed-sum shape that
caused the r6 red row.
"""

from __future__ import annotations

import os
import sys

import pandas as pd

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.join(_ROOT, "tools"))

from check_correctness import canon, rows_of  # noqa: E402


def test_int_vs_float_same_value_differs():
    a = pd.DataFrame({"x": pd.array([500, 17], dtype="int64")})
    b = pd.DataFrame({"x": pd.array([500.0, 17.0], dtype="float64")})
    assert rows_of(a, 0.0) != rows_of(b, 0.0)


def test_bool_vs_int_differs():
    a = pd.DataFrame({"x": pd.array([True, False], dtype="bool")})
    b = pd.DataFrame({"x": pd.array([1, 0], dtype="int64")})
    assert rows_of(a, 0.0) != rows_of(b, 0.0)


def test_int32_vs_int64_same_value_matches():
    # Same kind + same value hashes identically under a value-string
    # hash; the local gate must not be *stricter* than that either.
    a = pd.DataFrame({"x": pd.array([500, 17], dtype="int32")})
    b = pd.DataFrame({"x": pd.array([500, 17], dtype="int64")})
    assert rows_of(a, 0.0) == rows_of(b, 0.0)


def test_nested_array_int_vs_float_differs():
    import numpy as np

    assert canon(np.array([1, 2], dtype="int64"), 0.0) != canon(
        np.array([1.0, 2.0], dtype="float64"), 0.0
    )


def test_hugeint_window_sum_oracle_fails():
    """The exact r6 failure: DuckDB windowed sum(BIGINT) → HUGEINT →
    float64 in pandas, vs Spark's int64. Without a CAST in the oracle,
    the local gate must now FAIL this comparison."""
    import duckdb

    con = duckdb.connect()
    hug = con.execute(
        "SELECT sum(x) OVER (ORDER BY x) AS s FROM (VALUES (1::BIGINT), (2), (3)) t(x)"
    ).fetch_df()
    assert str(hug["s"].dtype) == "float64"  # the HUGEINT fetch artifact
    big = con.execute(
        "SELECT CAST(sum(x) OVER (ORDER BY x) AS BIGINT) AS s "
        "FROM (VALUES (1::BIGINT), (2), (3)) t(x)"
    ).fetch_df()
    spark_like = pd.DataFrame({"s": pd.array([1, 3, 6], dtype="int64")})
    assert rows_of(hug, 0.0) != rows_of(spark_like, 0.0)  # un-CAST oracle: red
    assert rows_of(big, 0.0) == rows_of(spark_like, 0.0)  # CAST fix: green
