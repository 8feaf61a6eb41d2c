"""Recall@10 of the quantized index families at sf0.1, pinned as floors.

The exact top-10 of every 40th embedding (50 queries) is computed in
numpy over the 2,000 sf0.1 embeddings, and each family is built and
searched with the parameters the sf0.1 row bench used for its recall
table:

- PQ (m=32, ksub=64): the default ``knn_join`` (auto re-rank over the
  recorded source) and the ADC-only join (``rerank=0``), all 50 queries;
- IVF (defaults): the default ``knn_join``, all 50 queries;
- IVFADC (nlist=16, m=32, ksub=64): the default ``knn_search``, the
  first 16 queries;
- SQ8 (``sq_knn`` with the corpus bounds), BQ (``bq_knn`` at its
  calibrated default) and the persisted asymmetric BQ index
  (``knn_search`` at its default): the first 16 queries.

Each floor is the value these builds measure today; the builds are
seeded, so a lower value means a build or search path changed."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from duckdb_vss_spark.index import (
    bq_knn,
    create_bq_index,
    create_ivf_index,
    create_ivfpq_index,
    create_pq_index,
    sq_knn,
    train_sq,
)
from duckdb_vss_spark.sources import load_table

SF = "/root/testdata/sf0.1"
FLOORS = {
    "pq": 1.0,
    "pq_adc": 0.742,
    "ivf": 0.91,
    "ivfpq": 0.9375,
    "sq": 0.975,
    "bq": 0.9563,
    "bq_asym": 0.975,
}


@pytest.fixture(scope="module")
def corpus(spark):
    emb = load_table(spark, SF, "embeddings").cache()
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    mat = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    qmask = ids % 40 == 0
    d = ((mat[qmask][:, None, :] - mat[None, :, :]) ** 2).sum(-1)
    exact = {
        int(q): set(ids[np.argsort(dq, kind="stable")[:10]].tolist())
        for q, dq in zip(ids[qmask], d)
    }
    queries = emb.where(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    vec = {int(i): [float(x) for x in m] for i, m in zip(ids, mat)}
    yield emb, exact, queries, vec
    emb.unpersist()


def _join_recall(out, exact):
    got: dict[int, set] = {}
    for r in out.select("qid", "vec_id").collect():
        got.setdefault(r["qid"], set()).add(r["vec_id"])
    hits = sum(len(got.get(q, set()) & exact[q]) for q in exact)
    return round(hits / (10 * len(exact)), 4)


def _search_recall(search, exact, vec):
    sub = list(exact)[:16]
    hits = sum(len({r["vec_id"] for r in search(vec[q]).collect()} & exact[q]) for q in sub)
    return round(hits / (10 * len(sub)), 4)


def test_quantized_recall_floors(spark, corpus, tmp_path):
    emb, exact, queries, vec = corpus
    ksub = min(64, max(4, emb.count() // 4))
    got = {}

    pq = create_pq_index(spark, emb, "embedding", "vec_id", str(tmp_path / "pq"), m=32, ksub=ksub)
    got["pq"] = _join_recall(pq.knn_join(queries, "qvec", 10, "qid"), exact)
    got["pq_adc"] = _join_recall(pq.knn_join(queries, "qvec", 10, "qid", rerank=0), exact)

    ivf = create_ivf_index(spark, emb, "embedding", "vec_id", str(tmp_path / "ivf"))
    got["ivf"] = _join_recall(ivf.knn_join(queries, "qvec", 10, "qid"), exact)

    ivfpq = create_ivfpq_index(
        spark, emb, "embedding", "vec_id", str(tmp_path / "ivfpq"), nlist=16, m=32, ksub=ksub
    )
    got["ivfpq"] = _search_recall(lambda q: ivfpq.knn_search(q, 10), exact, vec)

    mins, maxs = train_sq(emb, "embedding")
    got["sq"] = _search_recall(
        lambda q: sq_knn(emb, "embedding", "vec_id", q, 10, mins=mins, maxs=maxs), exact, vec
    )

    src = emb.select("vec_id", "embedding")
    got["bq"] = _search_recall(lambda q: bq_knn(src, "embedding", "vec_id", q, 10), exact, vec)
    bqa = create_bq_index(spark, src, "embedding", "vec_id", str(tmp_path / "bq"))
    assert bqa.manifest["scoring"] == "asym"
    got["bq_asym"] = _search_recall(lambda q: bqa.knn_search(q, 10), exact, vec)

    low = {k: (v, FLOORS[k]) for k, v in got.items() if v < FLOORS[k]}
    assert not low, f"recall@10 below its floor (measured, floor): {low}; all: {got}"
