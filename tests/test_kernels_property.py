"""functions/kernels.py is the Column tree, bit for bit (hypothesis).

Generated pairs of float32 or float64 vectors of 1–130 dims (crossing
numpy's 8-way unrolled and 128-element pairwise-summation blocks, where
a BLAS dot, einsum or ``sum`` drifts from a sequential fold), with NaN,
±inf, signed-zero and zero-vector elements, NULL elements and NULL
rows. Each property
compares against the native Column expressions of
functions/distance.py, collected from Spark:

- ``kernels.evaluate_rows`` equals the native value of all six
  functions;
- the six SQL-registered functions (``register_sql_functions``) equal
  the native path, including the size-mismatch error text;
- the MMR pair distances (operators/mmr.py) equal the native value of
  their metric's function on every pair.

NaN compares by NaN-ness (Spark may canonicalize the payload); every
other value by its exact bits."""

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from duckdb_vss_spark.functions import distance as D
from duckdb_vss_spark.functions import kernels
from duckdb_vss_spark.operators.mmr import _METRIC_KERNELS, _pair_dists

NAMES = list(kernels.FUNCTIONS)


def _settings(n):
    return settings(
        max_examples=n,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
    )


def _elements(width):
    special = st.sampled_from([0.0, -0.0, math.nan, math.inf, -math.inf])
    plain = st.floats(-1e3, 1e3, width=width)
    wide = st.floats(allow_nan=False, allow_infinity=False, width=width)
    return st.one_of(plain, plain, plain, wide, special)


def _null_element(draw, vec):
    """``vec`` with one element set to NULL, with probability 1/8."""
    if vec is None or draw(st.integers(0, 7)):
        return vec
    i = draw(st.integers(0, len(vec) - 1))
    return vec[:i] + [None] + vec[i + 1 :]


@st.composite
def _pairs(draw, mismatch=False):
    """(element type, rows of (a, b)); a side is NULL with probability
    1/8, a side holds a NULL element with probability 1/8, and the two
    vectors of a row share one width unless ``mismatch``."""
    width = draw(st.sampled_from([32, 64]))
    el = _elements(width)
    rows = []
    for _ in range(draw(st.integers(1, 6))):
        d = draw(st.integers(1, 130))
        db = d + draw(st.integers(1, 3)) if mismatch else d
        zero = draw(st.integers(0, 7)) == 0
        a = [0.0] * d if zero else draw(st.lists(el, min_size=d, max_size=d))
        b = draw(st.lists(el, min_size=db, max_size=db))
        a, b = _null_element(draw, a), _null_element(draw, b)
        if not mismatch:
            a = None if draw(st.integers(0, 7)) == 0 else a
            b = None if draw(st.integers(0, 7)) == 0 else b
        rows.append((a, b))
    return ("float" if width == 32 else "double"), rows


def _same(x, y) -> bool:
    if x is None or y is None:
        return x is None and y is None
    if math.isnan(x) or math.isnan(y):
        return math.isnan(x) and math.isnan(y)
    return float(x).hex() == float(y).hex()


def _frame(spark, etype, rows):
    return spark.createDataFrame(rows, f"a array<{etype}>, b array<{etype}>")


def _native(df):
    cols = [getattr(D, n)("a", "b").alias(n) for n in NAMES]
    return [tuple(r) for r in df.select(*cols).collect()]


@pytest.fixture(scope="module")
def sql_spark(spark):
    D.register_sql_functions(spark)
    return spark


@_settings(10)
@given(_pairs())
def test_kernels_and_sql_functions_equal_native(sql_spark, case):
    etype, rows = case
    df = _frame(sql_spark, etype, rows)
    native = _native(df)
    # float32 draws are float32 values, so Spark holds these exact doubles
    a_rows, b_rows = [r[0] for r in rows], [r[1] for r in rows]
    for j, name in enumerate(NAMES):
        vals, null = kernels.evaluate_rows(name, a_rows, b_rows)
        for i, want in enumerate(native):
            got = None if null[i] else float(vals[i])
            assert _same(got, want[j]), (name, i, got, want[j])
    df.createOrReplaceTempView("kernel_pairs")
    sql = sql_spark.sql(
        "SELECT " + ", ".join(f"{n}(a, b) AS {n}" for n in NAMES) + " FROM kernel_pairs"
    ).collect()
    for i, want in enumerate(native):
        for j, name in enumerate(NAMES):
            assert _same(sql[i][j], want[j]), (name, i, sql[i][j], want[j])


def test_null_element_is_null_on_every_path(sql_spark):
    """A NULL element makes the row NULL on the native Column path, the
    kernel and the SQL-registered functions alike (it used to reach the
    SQL kernel as NaN: array_distance NaN, array_cosine_similarity
    −1.0). DuckDB raises on a NULL element instead."""
    rows = [([1.0, None], [1.0, 2.0]), ([1.0, 2.0], [None, 2.0])]
    df = _frame(sql_spark, "double", rows)
    assert all(v is None for r in _native(df) for v in r)
    for name in NAMES:
        _vals, null = kernels.evaluate_rows(name, [r[0] for r in rows], [r[1] for r in rows])
        assert null.all(), name
    df.createOrReplaceTempView("kernel_null_elements")
    sql = sql_spark.sql(
        "SELECT " + ", ".join(f"{n}(a, b)" for n in NAMES) + " FROM kernel_null_elements"
    ).collect()
    assert all(v is None for r in sql for v in r)


@_settings(6)
@given(_pairs(mismatch=True), st.sampled_from(NAMES))
def test_size_mismatch_error_text_equal_native(sql_spark, case, name):
    etype, rows = case
    df = _frame(sql_spark, etype, rows[:1])
    a, b = rows[0]
    guard = kernels.FUNCTIONS[name][0]
    text = (
        f"{guard}: array size mismatch ({len(a)} vs {len(b)}); both arguments"
        " must have the same number of elements"
    )
    with pytest.raises(Exception) as native:
        df.select(getattr(D, name)("a", "b")).collect()
    assert text in str(native.value)
    df.createOrReplaceTempView("kernel_mismatch")
    with pytest.raises(Exception) as sql:
        sql_spark.sql(f"SELECT {name}(a, b) FROM kernel_mismatch").collect()
    assert text in str(sql.value)
    with pytest.raises(ValueError) as kern:
        kernels.evaluate_rows(name, [a], [b])
    assert str(kern.value) == text


@st.composite
def _shortlists(draw):
    n, d = draw(st.integers(2, 5)), draw(st.integers(1, 130))
    el = st.one_of(st.floats(-1e3, 1e3, width=64), st.just(0.0))
    mat = [draw(st.lists(el, min_size=d, max_size=d)) for _ in range(n)]
    if draw(st.booleans()):
        mat[0] = [0.0] * d  # a zero vector: the cosine pin
    return np.asarray(mat, dtype=np.float64)


@_settings(8)
@given(_shortlists())
def test_mmr_pair_distances_equal_native(spark, mat):
    n = len(mat)
    pairs = [(mat[i].tolist(), mat[j].tolist()) for i in range(n) for j in range(n)]
    native = _native(_frame(spark, "double", pairs))
    for metric, name in _METRIC_KERNELS.items():
        got = _pair_dists(mat, metric)
        j = NAMES.index(name)
        for p, want in enumerate(native):
            g = float(got[p // n, p % n])
            assert _same(g, want[j]), (metric, p, g, want[j])
