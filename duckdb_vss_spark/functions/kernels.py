"""The exact-distance kernel: numpy replay of the distance Column tree.

``functions/distance.py`` builds every SQL-visible distance as a native
Column expression: cast both vectors to ``array<double>``, form the
per-element terms (``(x-y)*(x-y)``, ``x*y``, ``x*x``), fold them with a
0.0-seeded sequential left fold, then compose (sqrt, negate, the cosine
quotient). This module is the ONE numpy implementation of that tree.
Each fold is a 0.0-seeded vectorized add over the last axis, one
dimension at a time, of the same IEEE-double terms, so every value is
bit-identical to the Column path (never a BLAS dot, einsum or numpy
``sum``, whose pairwise or multi-accumulator order differs). Leading
axes broadcast: ``(n, d)`` against ``(d,)`` scores a corpus against one
query, ``(c, 1, d)`` against ``(1, m, d)`` a block of pairs.

Callers: the SQL-registered functions (``register_sql_functions``), the
IVF and IVF×SQ driver shortlists (index/), the MMR pair distances
(operators/mmr.py) and the neardup pair kernel (pipeline/dedup.py).
Bit parity with the Column tree is pinned by
tests/test_kernels_property.py.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "FUNCTIONS",
    "METRIC_FUNCTIONS",
    "cosine_similarity",
    "dot",
    "evaluate_rows",
    "metric_distance",
    "norm",
    "sq_l2",
]


def _f64(a) -> np.ndarray:
    return np.asarray(a, dtype=np.float64)


def _fold(a, b, term) -> np.ndarray:
    acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    # inf and NaN elements are inputs like any other: their IEEE results
    # are the semantics, not faults to warn about
    with np.errstate(over="ignore", invalid="ignore"):
        for i in range(a.shape[-1]):
            acc = acc + term(a[..., i], b[..., i])
    return acc


def dot(a, b) -> np.ndarray:
    """Σ aᵢ·bᵢ in the Column tree's fold order."""
    return _fold(_f64(a), _f64(b), lambda x, y: x * y)


def sq_l2(a, b) -> np.ndarray:
    """Σ (aᵢ−bᵢ)·(aᵢ−bᵢ) in the Column tree's fold order."""
    return _fold(_f64(a), _f64(b), lambda x, y: (x - y) * (x - y))


def norm(a) -> np.ndarray:
    """√(Σ aᵢ·aᵢ) — the cosine denominator's per-vector factor."""
    return np.sqrt(dot(a, a))


def cosine_similarity(a, b) -> np.ndarray:
    """dot/(‖a‖·‖b‖), pinned to −1.0 where the denominator is zero or
    the quotient is NaN (zero-norm, NaN- or ±inf-element vectors) —
    DuckDB's value for those pairs."""
    d = dot(a, b)
    with np.errstate(over="ignore", divide="ignore", invalid="ignore"):
        denom = norm(a) * norm(b)
        sim = d / denom
    return np.where((denom == 0.0) | np.isnan(sim), -1.0, sim)


# SQL name → (the name the Column tree's size-mismatch error carries,
# kernel). The guard names mirror distance.py: array_distance errors
# through array_distance_sq's guard, the negative inner product through
# array_inner_product's, the cosine distance through the similarity's.
FUNCTIONS = {
    "array_distance": ("array_distance_sq", lambda a, b: np.sqrt(sq_l2(a, b))),
    "array_distance_sq": ("array_distance_sq", sq_l2),
    "array_inner_product": ("array_inner_product", dot),
    "array_negative_inner_product": ("array_inner_product", lambda a, b: -dot(a, b)),
    "array_cosine_similarity": ("array_cosine_similarity", cosine_similarity),
    "array_cosine_distance": (
        "array_cosine_similarity",
        lambda a, b: 1.0 - cosine_similarity(a, b),
    ),
}

# index metric → SQL-visible distance (distance.METRICS' mapping)
METRIC_FUNCTIONS = {
    "l2sq": "array_distance",
    "cosine": "array_cosine_distance",
    "ip": "array_negative_inner_product",
}


def metric_distance(metric: str, a, b) -> np.ndarray:
    """The SQL-visible distance an index of ``metric`` orders by."""
    return FUNCTIONS[METRIC_FUNCTIONS[metric]][1](a, b)


def evaluate_rows(name: str, a_rows, b_rows) -> tuple[np.ndarray, np.ndarray]:
    """Row-wise SQL semantics of function ``name`` over two equal-length
    sequences of vectors: a NULL (None) vector on either side gives a
    NULL row, a size mismatch raises the Column tree's error text, a
    NULL element on either side then gives a NULL row (the Column
    tree's fold propagates it), and every other row is the kernel value
    (NaN stays a value). Returns ``(values, null_mask)``; values under
    the mask are 0.0."""
    guard, fn = FUNCTIONS[name]
    n = len(a_rows)
    null = np.fromiter(
        (x is None or y is None for x, y in zip(a_rows, b_rows)), dtype=bool, count=n
    )
    out = np.zeros(n)
    idx = np.flatnonzero(~null)
    if not len(idx):
        return out, null
    xa = [_f64(a_rows[i]) for i in idx]
    xb = [_f64(b_rows[i]) for i in idx]
    la = np.fromiter((v.shape[0] for v in xa), dtype=np.int64, count=len(idx))
    lb = np.fromiter((v.shape[0] for v in xb), dtype=np.int64, count=len(idx))
    bad = np.flatnonzero(la != lb)
    if len(bad):
        i = int(bad[0])
        raise ValueError(
            f"{guard}: array size mismatch ({la[i]} vs {lb[i]}); both"
            " arguments must have the same number of elements"
        )
    for d in np.unique(la):  # one stacked pass per vector width
        sel = np.flatnonzero(la == d)
        a, b = np.stack([xa[i] for i in sel]), np.stack([xb[i] for i in sel])
        out[idx[sel]] = fn(a, b)
        # None became NaN in the float cast: only rows holding a NaN can
        # hold a NULL element
        for i in idx[sel[np.isnan(a).any(axis=-1) | np.isnan(b).any(axis=-1)]]:
            if None in a_rows[i] or None in b_rows[i]:
                null[i], out[i] = True, 0.0
    return out, null
