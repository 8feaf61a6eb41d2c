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
left-semi fetch). The SQL route over each index (``VssPlanner``'s
``ORDER BY array_distance(...) LIMIT k``) re-ranks the default shortlist
against the table it reads, whose rows hold each id once: it must return
each row once, the rows of ``knn_search`` with the same vector and
shortlist."""

from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from duckdb_vss_spark.index.bq import create_bq_index
from duckdb_vss_spark.index.ivfpq import create_ivfpq_index
from duckdb_vss_spark.index.ivfsq import create_ivfsq_index
from duckdb_vss_spark.index.pq import create_pq_index
from duckdb_vss_spark.plans import VssPlanner

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


@pytest.mark.parametrize("fam", list(BUILD))
def test_sql_route_returns_each_row_once(spark, corpus, indexes, fam):
    mat, df = corpus
    ix = indexes[fam]
    view = f"dup_items_{fam}"
    df.createOrReplaceTempView(view)
    p = VssPlanner(spark)
    p.register_index(view, "v", ix)
    for q in QIDS:
        # the routed FLOAT[16] literal is float32-rounded, like DuckDB's
        qv = [float(np.float32(x)) for x in mat[q]]
        lit = ", ".join(repr(x) for x in qv)
        rows = p.sql(
            f"SELECT vid FROM {view} ORDER BY array_distance(v, [{lit}]::FLOAT[16]) LIMIT {K}"
        ).collect()
        assert p.last_plan.endswith("INDEX_SCAN"), p.last_plan
        got = [r["vid"] for r in rows]
        assert len(got) == len(set(got)) == K, (fam, q, got)
        if fam == "bq":
            want = ix.knn_search(qv, K, source=df)
        else:  # the route's 10·k shortlist, like the default re-rank
            want = ix.knn_search(qv, K, rerank=10 * K, source=df)
        assert got == [r["vid"] for r in want.collect()], (fam, q)
