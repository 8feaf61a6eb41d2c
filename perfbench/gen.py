"""Seeded input generator for the benchmark workloads.

Everything a workload feeds the engine comes from here: the vector
corpus, the query sets, the DML batches and the planted-duplicate text
corpus. The same ``seed`` always produces the same arrays and the same
parquet bytes, so two runs with one seed see identical inputs.

Vectors are 64-d float32 drawn from a Gaussian mixture whose clusters
overlap heavily, so HNSW recall sits below 1 and moves when the index
changes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIMS = 64
CLUSTERS = 32
# cluster spread relative to the unit in-cluster noise. Heavily
# overlapping clusters make the data near-isotropic, the hard case for a
# graph index: with the default graph (m=16) recall@10 of 200 queries
# over 5k rows is about 0.99, where well-separated clusters (1.0) give 1.
CENTER_SCALE = 0.3


def _rng(seed: int, stream: str) -> np.random.Generator:
    """An independent stream per input kind, so resizing one input never
    shifts the draws of another."""
    tag = int.from_bytes(stream.encode(), "little") % (2**32)
    return np.random.default_rng([int(seed), tag])


def mixture(rng: np.random.Generator, centers: np.ndarray, n: int) -> np.ndarray:
    lab = rng.integers(0, len(centers), n)
    return (centers[lab] + rng.standard_normal((n, centers.shape[1]))).astype(np.float32)


def centers_for(seed: int) -> np.ndarray:
    return (_rng(seed, "centers").standard_normal((CLUSTERS, DIMS)) * CENTER_SCALE).astype(
        np.float32
    )


def write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray, id_name: str = "id",
                  vec_name: str = "vec") -> None:
    """One parquet file of (id BIGINT, vec ARRAY<FLOAT>) under ``path``."""
    os.makedirs(path, exist_ok=True)
    flat = pa.array(np.ascontiguousarray(vecs, dtype=np.float32).ravel())
    lists = pa.ListArray.from_arrays(
        pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32)), flat
    )
    table = pa.table({id_name: pa.array(ids.astype(np.int64)), vec_name: lists})
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def write_docs(path: str, ids: np.ndarray, texts: list[str]) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.table({"id": pa.array(ids.astype(np.int64)), "text": pa.array(texts)})
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


@dataclass
class VectorInputs:
    """Corpus + read queries (+ DML batches for the maintenance mix)."""

    ids: np.ndarray
    vecs: np.ndarray
    queries: np.ndarray
    query_k: np.ndarray
    inserts: list[tuple[np.ndarray, np.ndarray]] = field(default_factory=list)
    deletes: list[np.ndarray] = field(default_factory=list)
    paths: dict[str, str] = field(default_factory=dict)


def vector_inputs(
    seed: int,
    out_dir: str,
    n: int,
    n_queries: int,
    k_large: int = 100,
    large_share: float = 0.0,
    cycles: int = 0,
    insert_rows: int = 0,
    delete_rows: int = 0,
    warm_rows: int = 0,
) -> VectorInputs:
    """Write the corpus (``items``), optional query table (``queries``),
    optional per-cycle insert batches (``insert_<c>``) and a small warm-up
    table (``warm``) under ``out_dir``; return the arrays behind them.

    Delete batches draw ids from the rows live at that point of the
    sequence (corpus plus earlier inserts minus earlier deletes), never
    from the batch inserted in the same cycle, so every delete removes
    exactly ``delete_rows`` rows."""
    centers = centers_for(seed)
    ids = np.arange(n, dtype=np.int64)
    vecs = mixture(_rng(seed, "corpus"), centers, n)
    rq = _rng(seed, "queries")
    queries = mixture(rq, centers, n_queries)
    query_k = np.where(rq.random(n_queries) < large_share, k_large, 10).astype(np.int64)
    out = VectorInputs(ids=ids, vecs=vecs, queries=queries, query_k=query_k)
    write_vectors(os.path.join(out_dir, "items"), ids, vecs)
    out.paths["items"] = os.path.join(out_dir, "items")
    write_vectors(os.path.join(out_dir, "queries"), np.arange(n_queries, dtype=np.int64),
                  queries, "qid", "qvec")
    out.paths["queries"] = os.path.join(out_dir, "queries")
    if warm_rows:
        rw = _rng(seed, "warm")
        wv = mixture(rw, centers, warm_rows)
        write_vectors(os.path.join(out_dir, "warm"), np.arange(warm_rows, dtype=np.int64), wv)
        out.paths["warm"] = os.path.join(out_dir, "warm")
    ri = _rng(seed, "inserts")
    rd = _rng(seed, "deletes")
    live = list(ids)
    next_id = n
    for c in range(cycles):
        b_ids = np.arange(next_id, next_id + insert_rows, dtype=np.int64)
        b_vecs = mixture(ri, centers, insert_rows)
        next_id += insert_rows
        name = f"insert_{c}"
        write_vectors(os.path.join(out_dir, name), b_ids, b_vecs)
        out.paths[name] = os.path.join(out_dir, name)
        out.inserts.append((b_ids, b_vecs))
        pick = rd.choice(len(live), size=delete_rows, replace=False)
        doomed = np.sort(np.asarray(live, dtype=np.int64)[pick])
        out.deletes.append(doomed)
        dead = set(doomed.tolist())
        live = [i for i in live if i not in dead] + b_ids.tolist()
    return out


@dataclass
class DocInputs:
    ids: np.ndarray
    texts: list[str]
    originals: np.ndarray  # ids that have a planted copy
    copies: np.ndarray  # copies[i] is the planted near-duplicate of originals[i]
    paths: dict[str, str] = field(default_factory=dict)


def doc_inputs(seed: int, out_dir: str, n_docs: int, n_planted: int, words: int = 60,
               vocab: int = 20000) -> DocInputs:
    """``n_docs`` independent random-word documents plus ``n_planted``
    near-duplicate copies of distinct originals. A copy changes one word
    of its original, so its 3-shingle Jaccard stays near 0.9, far above
    the dedup threshold; independent documents share almost no shingles.
    Copies carry larger ids than every original, so the canonical
    (minimum-id) survivor of each planted pair is the original."""
    r = _rng(seed, "docs")
    lex = np.array([f"w{i:05d}" for i in range(vocab)])
    texts = [" ".join(lex[r.integers(0, vocab, words)]) for _ in range(n_docs)]
    originals = np.sort(r.choice(n_docs, size=n_planted, replace=False)).astype(np.int64)
    copies = np.arange(n_docs, n_docs + n_planted, dtype=np.int64)
    for o in originals:
        toks = texts[int(o)].split()
        toks[int(r.integers(0, words))] = "edited"
        texts.append(" ".join(toks))
    ids = np.arange(n_docs + n_planted, dtype=np.int64)
    out = DocInputs(ids=ids, texts=texts, originals=originals, copies=copies)
    write_docs(os.path.join(out_dir, "docs"), ids, texts)
    out.paths["docs"] = os.path.join(out_dir, "docs")
    return out
