"""Exact numpy oracle: the reference answers every benchmark check and
quality metric is measured against."""

from __future__ import annotations

import numpy as np

# Two results that differ only in the order of (near-)equal distances are
# both exact: the engine may sum the 64 terms in another order than numpy.
REL_TIE = 1e-5


def l2sq(vecs: np.ndarray, q: np.ndarray) -> np.ndarray:
    d = vecs.astype(np.float64) - np.asarray(q, dtype=np.float64)
    return np.einsum("ij,ij->i", d, d)


class LiveSet:
    """The rows a table holds at one point of a DML sequence."""

    def __init__(self, ids: np.ndarray, vecs: np.ndarray):
        self.ids = np.asarray(ids, dtype=np.int64)
        self.vecs = np.asarray(vecs, dtype=np.float32)
        self.dead: set[int] = set()
        self._pos: dict[int, int] | None = None

    def insert(self, ids: np.ndarray, vecs: np.ndarray) -> None:
        self.ids = np.concatenate([self.ids, ids.astype(np.int64)])
        self.vecs = np.concatenate([self.vecs, vecs.astype(np.float32)])
        self._pos = None

    def delete(self, ids: np.ndarray) -> int:
        keep = ~np.isin(self.ids, ids)
        gone = int((~keep).sum())
        self.dead.update(int(i) for i in self.ids[~keep])
        self.ids, self.vecs = self.ids[keep], self.vecs[keep]
        self._pos = None
        return gone

    def __len__(self) -> int:
        return len(self.ids)

    def exact_topk(self, q: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
        """Ids and distances of the k nearest live rows (ties by id)."""
        d = l2sq(self.vecs, q)
        order = np.lexsort((self.ids, d))[:k]
        return self.ids[order], d[order]

    def positions(self, ids) -> np.ndarray:
        """Row positions of ``ids`` in this set (-1 for an id not live)."""
        if self._pos is None:
            self._pos = {int(i): j for j, i in enumerate(self.ids)}
        return np.array([self._pos.get(int(i), -1) for i in ids], dtype=np.int64)


def recall(got, exact) -> float:
    """|got ∩ exact| / |exact| over id lists."""
    exact = list(exact)
    if not exact:
        return 1.0
    return len(set(int(x) for x in got) & set(int(x) for x in exact)) / len(exact)


def is_exact_topk(got, live: LiveSet, q: np.ndarray, k: int) -> bool:
    """Whether ``got`` is an exact top-k of ``live`` for ``q``: k distinct
    live ids (fewer only if fewer rows are live), none farther than the
    k-th exact distance beyond float-summation ties."""
    got = [int(x) for x in got]
    want = min(k, len(live))
    if len(got) != want or len(set(got)) != want:
        return False
    _, dist = live.exact_topk(q, k)
    kth = float(dist[-1]) if len(dist) else 0.0
    pos = live.positions(got)
    if (pos < 0).any():
        return False
    d = l2sq(live.vecs[pos], q)
    return bool((d <= kth * (1 + REL_TIE) + 1e-9).all())


def dedup_outcome(kept_ids, copies, n_docs: int) -> tuple[float, bool]:
    """(planted copies removed / planted, every document that is not a
    planted copy survived — originals included)."""
    kept = set(int(x) for x in kept_ids)
    removed = sum(1 for c in copies if int(c) not in kept)
    others_ok = all(i in kept for i in range(n_docs))
    return removed / max(1, len(copies)), others_ok
