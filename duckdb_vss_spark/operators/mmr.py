"""Maximal Marginal Relevance (MMR) — diversified top-k re-selection.

Carbonell & Goldstein, "The Use of MMR, Diversity-Based Reranking for
Reordering Documents and Producing Summaries" (SIGIR 1998). Given a
per-query candidate shortlist (from any of the engine's knn paths —
HNSW/IVF/PQ scans or the brute-force join), greedily re-select ``k``
results trading relevance against redundancy:

    score(d) = λ·(−dist(q, d)) − (1−λ)·max_{s∈S}(−dist(d, s))
             = (1−λ)·min_{s∈S} dist(d, s) − λ·dist(q, d)

i.e. prefer candidates CLOSE to the query and FAR from everything
already selected — the standard answer to near-duplicate hits
crowding a semantic search result page (the reference ecosystem ships
this as vector-store `mmr` search; there is no DuckDB analogue, so
both the operator and its unrolled-greedy SQL oracle are ours).

Scale shape: the greedy is quadratic in the SHORTLIST (n ≤ a few
hundred per query), never the corpus — candidates arrive from an index
scan that already did the sublinear work. Execution is one
``applyInPandas`` over query groups: each group is one (n·d) slab, the
pairwise-distance matrix is (n²) floats, and queries parallelize
across the cluster. Nothing is collected to the driver.

Float discipline (oracle parity): the pair distances come from
``functions/kernels.py``, the numpy replay of the SQL-visible distance
functions' Column tree (same 0.0-seeded sequential fold, same cosine
−1.0 similarity pin, i.e. distance 2.0, for zero-norm vectors), so every
pair distance equals the native Column expression of its metric bit for
bit, on all four metrics (pinned by tests/test_kernels_property.py). The
emitted ``dist`` column is passed through from the
(JVM-computed) input, never recomputed. With λ a dyadic rational (e.g.
0.5) the score arithmetic is exact in both engines.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from duckdb_vss_spark.functions import kernels

__all__ = ["mmr_rerank"]

# mmr metric → the SQL-visible distance its pair distances replay
_METRIC_KERNELS = {
    "l2": "array_distance",
    "l2sq": "array_distance_sq",
    "cosine": "array_cosine_distance",
    "ip": "array_negative_inner_product",
}


def _pair_dists(mat: np.ndarray, metric: str) -> np.ndarray:
    """(n, d) float64 → (n, n) pairwise distances in the metric's
    SQL-visible form, through the exact-distance kernel; n is
    shortlist-sized, so the (n, n) fold is trivial."""
    if metric not in _METRIC_KERNELS:
        raise ValueError(f"mmr metric must be one of {tuple(_METRIC_KERNELS)}")
    return kernels.FUNCTIONS[_METRIC_KERNELS[metric]][1](
        mat[:, None, :], mat[None, :, :]
    )


def _mmr_group(
    ids: np.ndarray, dists: np.ndarray, mat: np.ndarray, k: int, lam: float, metric: str
):
    """Greedy MMR over one query's shortlist → (selected index order)."""
    n = len(ids)
    k = min(k, n)
    # round 1: pure relevance, ties by id (the knn rank-1 candidate)
    order = np.lexsort((ids, dists))
    selected = [int(order[0])]
    pd = _pair_dists(mat, metric)
    remaining = [int(i) for i in order[1:]]
    while len(selected) < k and remaining:
        rem = np.asarray(remaining, dtype=np.int64)
        mind = pd[np.ix_(rem, np.asarray(selected, dtype=np.int64))].min(axis=1)
        score = (1.0 - lam) * mind - lam * dists[rem]
        # argmax score, ties by smallest id — negate score for lexsort
        best = np.lexsort((ids[rem], -score))[0]
        pick = int(rem[best])
        selected.append(pick)
        remaining.remove(pick)
    return selected


def mmr_rerank(
    candidates: DataFrame,
    query_id_col: str,
    id_col: str,
    vec_col: str,
    k: int,
    lam: float = 0.5,
    metric: str = "l2",
    dist_col: str = "dist",
    rank_col: str = "mmr_rank",
) -> DataFrame:
    """Per-query MMR re-selection over a candidate DataFrame.

    ``candidates``: (query_id_col, id_col, vec_col, dist_col) — one row
    per (query, candidate), ``dist_col`` the query→candidate distance
    in the metric's SQL-visible form (as every knn path here emits).
    Returns (query_id_col, id_col, dist_col, rank_col) — ``k`` rows per
    query in greedy selection order (rank 1 = the nearest neighbor).

    λ=1 degenerates to plain knn order; λ=0 to a maximally-spread set
    seeded with the nearest neighbor.
    """
    if not 0.0 <= lam <= 1.0:
        raise ValueError("lambda must be in [0, 1]")
    if k <= 0:
        raise ValueError("k must be a positive integer")
    if metric not in _METRIC_KERNELS:
        raise ValueError(f"mmr metric must be one of {tuple(_METRIC_KERNELS)}")
    import pandas as pd

    kk, ll, mm = int(k), float(lam), metric

    def apply(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame(
                {query_id_col: [], id_col: [], dist_col: [], rank_col: []}
            )
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        dists = pdf[dist_col].to_numpy(dtype=np.float64)
        mat = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
        )
        sel = _mmr_group(ids, dists, mat, kk, ll, mm)
        return pd.DataFrame(
            {
                query_id_col: pdf[query_id_col].iloc[0],
                id_col: ids[sel],
                dist_col: dists[sel],
                rank_col: np.arange(1, len(sel) + 1, dtype=np.int32),
            }
        )

    src = candidates.select(query_id_col, id_col, vec_col, dist_col).where(
        candidates[vec_col].isNotNull()
    )
    return src.groupBy(query_id_col).applyInPandas(
        apply,
        schema=f"{query_id_col} long, {id_col} long, {dist_col} double, {rank_col} int",
    )
