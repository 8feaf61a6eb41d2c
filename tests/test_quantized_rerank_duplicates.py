"""Exact re-rank of a shortlist that holds an id twice (pq, ivfpq, bq,
ivfsq; ``knn_search`` and ``knn_join``).

``add_batch`` of ids 0–4 indexes them a second time, so a query near
id 0 shortlists both copies. The exact re-rank fetches source rows by
the DISTINCT shortlist ids, so each source row comes back once — the
rows brute force over ``source`` returns, whether ``source`` holds id 0
once or twice. Full-width re-rank and full probes make every family's
result exact, so the id multiset must equal brute force. The single
query path is checked on the driver-resolved shortlist (literal
In-filter fetch) and on the forced distributed scan (broadcast
left-semi fetch)."""

from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from duckdb_vss_spark.index.bq import create_bq_index
from duckdb_vss_spark.index.ivfpq import create_ivfpq_index
from duckdb_vss_spark.index.ivfsq import create_ivfsq_index
from duckdb_vss_spark.index.pq import create_pq_index

K = 10
QIDS = (0, 7)
GATE = "spark.vss.driver_probe_max_bytes"
BUILD = {
    "pq": lambda s, df, p: create_pq_index(s, df, "v", "vid", p, m=4, ksub=8),
    "ivfpq": lambda s, df, p: create_ivfpq_index(s, df, "v", "vid", p, nlist=4, m=4, ksub=8),
    "bq": lambda s, df, p: create_bq_index(s, df, "v", "vid", p),
    "ivfsq": lambda s, df, p: create_ivfsq_index(s, df, "v", "vid", p, nlist=4),
}


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    rng = np.random.default_rng(5)
    mat = rng.normal(size=(400, 16))
    path = str(tmp_path_factory.mktemp("dup_src") / "vecs")
    spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(len(mat))],
        "vid long, v array<double>",
    ).coalesce(1).write.parquet(path)
    return mat, spark.read.parquet(path)


@pytest.fixture(scope="module")
def indexes(spark, corpus, tmp_path_factory):
    _mat, df = corpus
    root = tmp_path_factory.mktemp("dup_ix")
    return {
        fam: build(spark, df, str(root / fam)).add_batch(df.where(F.col("vid") < 5))
        for fam, build in BUILD.items()
    }


def _full_width(fam, ix):
    width = ix.manifest["count"]
    kw = {"rescore": width} if fam == "bq" else {"rerank": width}
    if fam in ("ivfpq", "ivfsq"):
        kw["nprobe"] = ix.nlist
    return kw


def _brute(mat, ids, qid):
    d = np.sqrt(((mat[ids] - mat[qid]) ** 2).sum(axis=1))
    return Counter(ids[np.lexsort((ids, d))[:K]].tolist())


@pytest.mark.parametrize("copies", [1, 2])
@pytest.mark.parametrize("route", ["search-driver", "search-cluster", "join"])
@pytest.mark.parametrize("fam", list(BUILD))
def test_rerank_returns_brute_force_rows(spark, corpus, indexes, fam, route, copies):
    mat, df = corpus
    ix = indexes[fam]
    source = df if copies == 1 else df.unionByName(df.where(F.col("vid") == 0))
    ids = np.arange(len(mat))
    if copies == 2:
        ids = np.concatenate([ids, [0]])
    kw = _full_width(fam, ix)
    if route == "join":
        queries = spark.createDataFrame(
            [(q, [float(x) for x in mat[q]]) for q in QIDS], "qid long, qv array<double>"
        )
        rows = ix.knn_join(queries, "qv", K, "qid", source=source, **kw).collect()
        for q in QIDS:
            got = Counter(r["vid"] for r in rows if r["qid"] == q)
            assert got == _brute(mat, ids, q), (fam, q)
        return
    old = spark.conf.get(GATE, None)
    if route == "search-cluster":
        spark.conf.set(GATE, "0")
    try:
        for q in QIDS:
            rows = ix.knn_search([float(x) for x in mat[q]], K, source=source, **kw).collect()
            assert Counter(r["vid"] for r in rows) == _brute(mat, ids, q), (fam, q)
    finally:
        if old is None:
            spark.conf.unset(GATE)
        else:
            spark.conf.set(GATE, old)
