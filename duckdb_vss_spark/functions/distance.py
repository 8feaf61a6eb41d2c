"""Vector distance scalar functions — the engine's core new surface.

The reference consumes DuckDB core's array distance functions and maps
them onto index metrics (reference: src/hnsw/hnsw_index.cpp:632-662 —
l2sq→{array_distance, <->}, cosine→{array_cosine_distance, <=>},
ip→{array_negative_inner_product, <#>}). Semantics we pin (SURVEY §2.3):

- ``array_distance``              = Euclidean WITH sqrt (DuckDB-core convention)
- ``array_distance_sq``           = Σ(aᵢ−bᵢ)² (usearch l2sq index metric,
  rank-equivalent to array_distance; index_plugins.hpp:1033-1053)
- ``array_inner_product``         = a·b
- ``array_negative_inner_product``= −a·b
- ``array_cosine_similarity``     = a·b/(‖a‖·‖b‖)
- ``array_cosine_distance``       = 1 − cosine_similarity

All are *native Column expressions* (zip_with + aggregate higher-order
functions) so they stay JVM-side inside whole-stage codegen — no Python
boundary in the hot path. Math is float64: inputs are cast to
array<double> before accumulation so results hash-match a DOUBLE[]
oracle; sequential left-fold matches DuckDB's sequential kernel order.

NULL semantics: NULL input array → NULL result (a NULL vector can never
be a nearest neighbor; reference excludes NULLs from the index entirely,
src/hnsw/hnsw_index.cpp:437-440). Mismatched array sizes → runtime
error, matching DuckDB's array-kernel binder/runtime error — on BOTH
entry paths (the native Column expressions guard sizes before the fold;
zip_with alone would NULL-pad the shorter side and silently yield
NULL/NaN, and the SQL-registered UDFs raise the same message).

``functions/kernels.py`` replays these trees in numpy bit for bit; it is
the kernel behind the SQL-registered functions and every driver-side
exact rerank.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "array_normalize",
    "array_value",
    "array_distance",
    "array_distance_sq",
    "array_inner_product",
    "array_negative_inner_product",
    "array_cosine_similarity",
    "array_cosine_distance",
    "distance_for_metric",
    "METRICS",
    "register_sql_functions",
    "require_dim",
]


def _to_col(v) -> Column:
    """Accept a Column, a column name, or a Python list (constant vector)."""
    if isinstance(v, Column):
        return v
    if isinstance(v, str):
        return F.col(v)
    if isinstance(v, (list, tuple)):
        return F.array(*[F.lit(float(x)) for x in v])
    raise TypeError(f"cannot treat {type(v).__name__} as a vector column")


def _d(v) -> Column:
    return _to_col(v).cast("array<double>")


def array_value(*xs) -> Column:
    """DuckDB ``array_value(a, b, c)`` — construct a float vector column."""
    return F.array(*[_to_col(x) if isinstance(x, (Column, str)) else F.lit(x) for x in xs]).cast(
        "array<float>"
    )


def _fold_sum(arr: Column) -> Column:
    # Sequential left fold — same accumulation order as a scalar loop.
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def _pair_guard(ac: Column, bc: Column, expr: Column, name: str) -> Column:
    """NULL input → NULL; size mismatch → runtime error; else ``expr``.

    DuckDB's array kernels error on size mismatch, whereas a bare
    zip_with NULL-pads the shorter array and the fold silently yields
    NULL — the same divergence the SQL-registered UDFs already guard
    against (ADVICE r8: both entry paths must share the reference's
    error behavior). The size compare is O(1) JVM-side and stays
    inside whole-stage codegen."""
    return F.when(ac.isNull() | bc.isNull(), F.lit(None).cast("double")).otherwise(
        F.when(F.size(ac) == F.size(bc), expr).otherwise(
            F.raise_error(
                F.format_string(
                    name
                    + ": array size mismatch (%d vs %d); both arguments"
                    " must have the same number of elements",
                    F.size(ac),
                    F.size(bc),
                )
            ).cast("double")
        )
    )


def array_distance_sq(a, b) -> Column:
    """Σ(aᵢ−bᵢ)² — usearch's l2sq (no sqrt; index_plugins.hpp:1033-1053)."""
    ac, bc = _d(a), _d(b)
    return _pair_guard(
        ac,
        bc,
        _fold_sum(F.zip_with(ac, bc, lambda x, y: (x - y) * (x - y))),
        "array_distance_sq",
    )


def array_distance(a, b) -> Column:
    """Euclidean distance (with sqrt) — DuckDB core's array_distance / <->."""
    return F.sqrt(array_distance_sq(a, b))


def array_inner_product(a, b) -> Column:
    ac, bc = _d(a), _d(b)
    return _pair_guard(
        ac,
        bc,
        _fold_sum(F.zip_with(ac, bc, lambda x, y: x * y)),
        "array_inner_product",
    )


def array_negative_inner_product(a, b) -> Column:
    """−a·b — DuckDB core's array_negative_inner_product / <#>."""
    return -array_inner_product(a, b)


def array_cosine_similarity(a, b) -> Column:
    ac, bc = _d(a), _d(b)
    dot = _fold_sum(F.zip_with(ac, bc, lambda x, y: x * y))
    na = F.sqrt(_fold_sum(F.transform(ac, lambda x: x * x)))
    nb = F.sqrt(_fold_sum(F.transform(bc, lambda x: x * x)))
    denom = na * nb
    # DuckDB pins zero-norm, NaN-poisoned and ±inf-element pairs to -1.0
    # — verified against the oracle: array_cosine_similarity([0,0], v),
    # the all-NaN case and ([inf,0], [1,0]) (inf/inf) are all -1.0. The
    # bare division CRASHED here instead (review r15: Spark 4 defaults to
    # ANSI mode, which this session keeps, so 0/0 is DIVIDE_BY_ZERO, not
    # NULL) — one zero vector in a corpus killed every cosine query. CASE
    # WHEN evaluates lazily per row, so the guarded branch never divides
    # by zero under ANSI; nanvl pins every NaN quotient (a NaN
    # denominator, or inf/inf after the zero guard) and keeps NULL.
    sim = F.when(denom == F.lit(0.0), F.lit(-1.0)).otherwise(
        F.nanvl(dot / denom, F.lit(-1.0))
    )
    return _pair_guard(ac, bc, sim, "array_cosine_similarity")


def array_normalize(a) -> Column:
    """v / ||v||₂ — unit-normalize a vector (the preprocessing step for
    cosine/IP indexes; usearch normalizes internally for cos). The norm
    is the same sequential-fold sum the distance kernels use, so a SQL
    oracle (list_transform / list_sum) reproduces every component
    bit-for-bit. Zero vectors pass through unchanged (no NaNs)."""
    ac = _d(a)
    n = F.sqrt(_fold_sum(F.transform(ac, lambda x: x * x)))
    return F.when(n == 0.0, ac).otherwise(
        F.transform(ac, lambda x: x / n)
    )


def array_cosine_distance(a, b) -> Column:
    """1 − cosine_similarity — DuckDB core's array_cosine_distance / <=>.

    The reference's expression-rewrite rule canonicalizes
    ``1.0 - array_cosine_similarity(a,b)`` to this function
    (src/hnsw/hnsw_optimize_expr.cpp:18-75); here they are definitionally
    equal, which is the semantic the rewrite preserves.
    """
    return F.lit(1.0) - array_cosine_similarity(a, b)


# metric name → SQL-visible distance function, as the index matcher maps
# them (src/hnsw/hnsw_index.cpp:632-662). Keys are the accepted values of
# CREATE INDEX ... WITH (metric = ...), validated like
# src/hnsw/hnsw_index_plan.cpp:38-46.
METRICS = {
    "l2sq": array_distance,
    "cosine": array_cosine_distance,
    "ip": array_negative_inner_product,
}


def distance_for_metric(metric: str):
    if metric not in METRICS:
        raise ValueError(
            f"HNSW index 'metric' must be one of: {', '.join(sorted(METRICS))}"
        )
    return METRICS[metric]


def require_dim(vec: Column, dim: int) -> Column:
    """Runtime fixed-dimension guard (Spark has no FLOAT[N] type).

    Mirrors the reference binder's "HNSW index keys must be of type
    FLOAT[N]" enforcement (src/hnsw/hnsw_index_plan.cpp:86-99): raises at
    execution time if a non-NULL vector has the wrong length.
    """
    return F.when(vec.isNull(), F.lit(None).cast("array<float>")).otherwise(
        F.when(F.size(vec) == dim, vec).otherwise(
            F.raise_error(F.format_string("HNSW index keys must be of type FLOAT[%d]", F.lit(dim)))
        )
    )


def register_sql_functions(spark: SparkSession) -> None:
    """Expose the distance surface to ``spark.sql`` queries by name.

    The DataFrame-API forms above are the canonical (JVM-native) path;
    these registrations exist so SQL text using the reference's function
    names runs unchanged. Each is an Arrow-native UDF (pyspark 4's
    ``arrow_udf``: pa.Array → pa.Array) over ``functions/kernels.py``,
    the numpy replay of the Column tree above, so both entry paths return
    the same bits on every input: the same fold order, NULL rows, NaN
    values, cosine pins and size-mismatch error text. The result is
    built as ``pa.array(values, mask=null_mask)`` so NaN stays a VALUE
    and NULL a mask bit (a pandas round trip would turn NaN results into
    NULL). SQL UDFs (CREATE FUNCTION … RETURN <expr>) would be fully
    JVM-side but are rejected in Sort ([UNSUPPORTED_SQL_UDF_USAGE]), and
    ``ORDER BY array_distance(…) LIMIT k`` is exactly the reference's
    hot shape. (``VssPlanner.sql`` routes non-rewritten distance calls
    here; rewritten TopN queries never reach them, the index scan
    replaces the call.)
    """
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf
    from pyspark.sql.types import DoubleType

    from duckdb_vss_spark.functions import kernels

    def _wrap(name):
        def inner(a, b):  # (pa.Array, pa.Array) -> pa.Array
            null_mask = (
                a.is_null().to_numpy(zero_copy_only=False)
                | b.is_null().to_numpy(zero_copy_only=False)
            )
            out = np.zeros(len(a), dtype=np.float64)
            idx = np.flatnonzero(~null_mask)
            if len(idx):
                # materialize only the valid rows (review r16: a full
                # to_pylist paid per-row Python conversion for every
                # NULL row of a null-heavy batch just to skip it)
                take = pa.array(idx)
                out[idx], null_mask[idx] = kernels.evaluate_rows(
                    name, a.take(take).to_pylist(), b.take(take).to_pylist()
                )
            return pa.array(out, type=pa.float64(), mask=null_mask)

        return inner

    for name in kernels.FUNCTIONS:
        spark.udf.register(name, arrow_udf(_wrap(name), DoubleType()))
