"""IVFADC (IVF x residual-PQ) tests — index/ivfpq.py.

Pins: partition pruning of the probed scan, full-probe+rerank
exactness vs brute force, residual codes beating flat-PQ
reconstruction on the same budget, determinism, and error paths."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from duckdb_vss_spark.index.ivfpq import create_ivfpq_index, load_ivfpq_index
from duckdb_vss_spark.index.pq import _encode_batch, train_pq_codebooks
from duckdb_vss_spark.operators.topk import knn_search


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def ivfpq(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivfpq") / "idx")
    return create_ivfpq_index(
        spark, emb, "embedding", "vec_id", path,
        nlist=8, m=16, ksub=32, overwrite=True,
    )


def test_probe_is_partition_pruned(spark, ivfpq, emb):
    """The DISTRIBUTED scan's plan shape (the 100 TB path) — force it;
    gate-small artifacts default to the r16 driver-resolved shortlist
    (tests/test_quantized_driver_search pins that route)."""
    qv = [float(x) for x in emb.first()["embedding"]]
    spark.conf.set("spark.vss.driver_probe_max_bytes", "0")
    try:
        df = ivfpq.knn_search(qv, 5, nprobe=3, rerank=0)
    finally:
        spark.conf.unset("spark.vss.driver_probe_max_bytes")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters")[1][:200]
    assert "list_id" in seg and "IN" in seg
    # and the scan reads codes, never original vectors
    read = plan.split("ReadSchema")[1].splitlines()[0]
    assert "pq_code" in read and "embedding" not in read


def test_full_probe_rerank_matches_brute(spark, ivfpq, emb):
    n = emb.count()
    for qid in (29, 123):
        qv = [float(x) for x in emb.where(F.col("vec_id") == qid).first()["embedding"]]
        brute = [r["vec_id"] for r in knn_search(emb, "embedding", qv, 10).collect()]
        rr = [
            r["vec_id"]
            for r in ivfpq.knn_search(
                qv, 10, nprobe=ivfpq.nlist, rerank=max(250, n // 4), source=emb
            ).collect()
        ]
        assert rr == brute


def test_partial_probe_returns_k_from_probed_lists_only(ivfpq, emb):
    qv = [float(x) for x in emb.where(F.col("vec_id") == 7).first()["embedding"]]
    out = ivfpq.knn_search(qv, 10, nprobe=2, rerank=0)
    assert out.count() == 10


def test_residual_quantization_beats_flat_on_same_budget(emb):
    """The IVFADC argument itself: residuals after a coarse quantizer
    carry less variance, so the same (m, ksub) budget reconstructs them
    with lower MSE than raw coordinates."""
    rows = emb.limit(400).collect()
    mat = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    from duckdb_vss_spark.index.ivf import _kmeans

    cents = _kmeans(mat, 8, 10, 42)
    d = (mat**2).sum(1, keepdims=True) + (cents**2).sum(1) - 2.0 * mat @ cents.T
    assign = d.argmin(1)
    resid = mat - cents[assign]

    def mse(data, books):
        codes = _encode_batch(data, books)
        m, ksub, dsub = books.shape
        recon = np.concatenate([books[j][codes[:, j]] for j in range(m)], axis=1)
        return ((recon - data) ** 2).sum(1).mean()

    flat_books = train_pq_codebooks(mat, 8, 16, seed=1)
    res_books = train_pq_codebooks(resid, 8, 16, seed=1)
    # total error: flat reconstructs x directly; ivfadc reconstructs
    # c + r̂ so its error IS the residual reconstruction error
    assert mse(resid, res_books) < mse(mat, flat_books)


def test_persistence_roundtrip_and_determinism(spark, ivfpq, emb):
    loaded = load_ivfpq_index(spark, ivfpq.path)
    assert loaded.nlist == ivfpq.nlist and loaded.m == ivfpq.m
    qv = [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]]
    a = [(r["vec_id"], r["dist"]) for r in ivfpq.knn_search(qv, 5, nprobe=4).collect()]
    b = [(r["vec_id"], r["dist"]) for r in loaded.knn_search(qv, 5, nprobe=4).collect()]
    assert a == b


def test_error_paths(spark, emb, tmp_path):
    with pytest.raises(ValueError, match="metric"):
        create_ivfpq_index(spark, emb, "embedding", "vec_id", str(tmp_path / "x"), metric="ip")
    with pytest.raises(ValueError, match="rerank requires"):
        # non-file source: rerank>0 with no reachable vectors must raise
        # (a FILE-backed build would auto-load the manifest source, r11)
        mem = spark.createDataFrame(
            [(i, [float(i)] * 8) for i in range(64)], "vec_id long, embedding array<float>"
        )
        idx = create_ivfpq_index(
            spark, mem, "embedding", "vec_id", str(tmp_path / "y"),
            nlist=4, m=8, ksub=8, overwrite=True,
        )
        idx.knn_search([0.0] * 8, 5, rerank=10, source=None)


def test_knn_join_parity_with_search(spark, ivfpq, emb):
    qs = emb.where(F.col("vec_id").isin(0, 100, 250)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    joined = ivfpq.knn_join(qs, "qv", 5, "qid", nprobe=ivfpq.nlist, rerank=100, source=emb)
    rows = joined.collect()
    for qid in (0, 100, 250):
        got = [r["vec_id"] for r in sorted(
            (r for r in rows if r["qid"] == qid), key=lambda r: r["rn"])]
        qv = [float(x) for x in emb.where(F.col("vec_id") == qid).first()["embedding"]]
        single = [
            r["vec_id"]
            for r in ivfpq.knn_search(
                qv, 5, nprobe=ivfpq.nlist, rerank=100, source=emb
            ).collect()
        ]
        assert got == single


def test_knn_join_adc_only_partial_probe(spark, ivfpq, emb):
    qs = emb.where(F.col("vec_id").isin(7, 42)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    out = ivfpq.knn_join(qs, "qv", 4, "qid", nprobe=2, rerank=0)
    counts = {r["qid"]: 0 for r in out.collect()}
    for r in out.collect():
        counts[r["qid"]] += 1
    assert counts == {7: 4, 42: 4}


def test_cosine_metric_rerank_matches_brute(spark, emb, tmp_path):
    idx = create_ivfpq_index(
        spark, emb, "embedding", "vec_id", str(tmp_path / "ivfpqc"),
        metric="cosine", nlist=8, m=16, ksub=32, overwrite=True,
    )
    qv = [float(x) for x in emb.where(F.col("vec_id") == 11).first()["embedding"]]
    brute = [
        r["vec_id"] for r in knn_search(emb, "embedding", qv, 8, metric="cosine").collect()
    ]
    rr = [
        r["vec_id"]
        for r in idx.knn_search(qv, 8, nprobe=8, rerank=250, source=emb).collect()
    ]
    assert rr == brute


def test_knn_join_stream_full_probe_matches_single_query(spark, ivfpq, emb):
    """Executor-side IVFADC query stream (VERDICT r9 #2): at full
    probe the multi-query join must reproduce the single-query ADC
    scan exactly (ids, dists, ranks), across flush boundaries
    (queries_per_batch=2 for 3 queries)."""
    qids = [7, 42, 99]
    qs = emb.where(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    out = ivfpq.knn_join(
        qs, "qv", 5, "qid", nprobe=ivfpq.nlist, rerank=0, queries_per_batch=2
    )
    got = {}
    for r in out.collect():
        got.setdefault(r["qid"], []).append((r["rn"], r["vec_id"], r["dist"]))
    for qid in qids:
        qv = [float(x) for x in emb.where(F.col("vec_id") == qid).first()["embedding"]]
        single = ivfpq.knn_search(qv, 5, nprobe=ivfpq.nlist, rerank=0).collect()
        rows = sorted(got[qid])
        assert [v for _, v, _ in rows] == [r["vec_id"] for r in single]
        assert np.allclose(
            [d for _, _, d in rows], [r["dist"] for r in single], rtol=1e-12
        )


def test_knn_join_stream_prunes_unprobed_lists(ivfpq, emb):
    """A list no query probes must never be READ: nprobe=1 with one
    query loads at most 1 list's files (the stream's pruning is
    list-granular file access, the mapInPandas counterpart of the
    single-query scan's PartitionFilters). Driven through the shared
    executor stream with the IVFADC codec knn_join hands it."""
    import os as _os

    import pandas as pd

    from duckdb_vss_spark.index.base import _query_stream

    seen = []
    codec = ivfpq._codec(1)
    load = codec["load"]

    def spy(file):
        seen.append(file)
        return load(file)

    codec["load"] = spy
    qv = np.asarray(
        emb.where(F.col("vec_id") == 7).first()["embedding"], dtype=np.float64
    )
    batches = [pd.DataFrame({"qid": [7], "qv": [qv]})]
    out = list(_query_stream(batches, "qv", "qid", ivfpq.metric, 5, 64, **codec))
    assert sum(len(o) for o in out) == 5
    probed_dirs = {_os.path.dirname(f) for f in seen}
    assert len(probed_dirs) == 1


def test_driver_local_build_matches_distributed(spark, tmp_path, monkeypatch):
    """Small file-backed source: the in-process IVFADC build must match
    the cluster build exactly — centroids, codebooks, per-list code
    bytes, and default-probe search results."""
    import numpy as np

    from duckdb_vss_spark.index import base, create_ivfpq_index

    rng = np.random.default_rng(9)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(900)]
    p = str(tmp_path / "vecs.parquet")
    spark.createDataFrame(rows, "vid long, v array<float>").coalesce(1).write.parquet(p)
    src = spark.read.parquet(p)

    local = create_ivfpq_index(
        spark, src, "v", "vid", str(tmp_path / "ix_local"),
        nlist=6, m=4, ksub=8, overwrite=True,
    )
    monkeypatch.setattr(base, "DRIVER_BUILD_MAX_BYTES", 0)  # force the cluster path
    dist = create_ivfpq_index(
        spark, src, "v", "vid", str(tmp_path / "ix_dist"),
        nlist=6, m=4, ksub=8, overwrite=True,
    )
    assert local.manifest["centroids"] == dist.manifest["centroids"]
    assert local.manifest["codebooks"] == dist.manifest["codebooks"]
    lc = {
        (r["list_id"], r["vid"]): bytes(r["pq_code"])
        for r in spark.read.parquet(local.path + "/codes").collect()
    }
    dc = {
        (r["list_id"], r["vid"]): bytes(r["pq_code"])
        for r in spark.read.parquet(dist.path + "/codes").collect()
    }
    assert lc == dc and len(lc) == 900
    q = rows[21][1]
    got_l = [(r["vid"], round(r["dist"], 9)) for r in local.knn_search(q, 5).collect()]
    got_d = [(r["vid"], round(r["dist"], 9)) for r in dist.knn_search(q, 5).collect()]
    assert got_l == got_d and len(got_l) == 5


def test_default_signature_auto_reranks(spark, ivfpq, emb):
    """r11 (VERDICT r10 #1): the DEFAULT call signature auto-reranks a
    10*k shortlist against the manifest-recorded file-backed source —
    shipped recall>=0.9 with exact-metric distances."""
    from duckdb_vss_spark.operators.topk import knn_search as brute_knn

    assert ivfpq.manifest["source_files"], "file-backed build records its source"
    qv = [float(x) for x in emb.where(F.col("vec_id") == 29).first()["embedding"]]
    got = ivfpq.knn_search(qv, 10, nprobe=ivfpq.nlist).collect()
    assert len(got) == 10
    brute = {r["vec_id"]: r["dist"] for r in brute_knn(emb, "embedding", qv, 10).collect()}
    overlap = [r for r in got if r["vec_id"] in brute]
    assert len(overlap) >= 9
    for r in overlap:
        assert abs(r["dist"] - brute[r["vec_id"]]) < 1e-9


def test_add_batch_merged_exact_at_all_probe_full_rerank(spark, emb, tmp_path):
    """r12: IVFADC add_batch assigns + residual-encodes with the frozen
    centroids/codebooks and appends per-list codes; all-probe +
    full-width rerank over the merged index is exact vs brute force."""
    from pyspark.sql import functions as F

    from duckdb_vss_spark.index.ivfpq import create_ivfpq_index
    from duckdb_vss_spark.operators.topk import knn_search

    nn = emb.where(F.col("embedding").isNotNull())
    h1 = nn.where(F.col("vec_id") % 2 == 0)
    h2 = nn.where(F.col("vec_id") % 2 == 1)
    ix = create_ivfpq_index(
        spark, h1, "embedding", "vec_id", str(tmp_path / "ipab"), m=16, ksub=16
    )
    ix = ix.add_batch(h2)
    n = nn.count()
    assert ix.manifest["count"] == n
    qv = [float(x) for x in nn.where(F.col("vec_id") == 29).first()["embedding"]]
    got = [r["vec_id"] for r in ix.knn_search(qv, 10, nprobe=ix.nlist, rerank=n).collect()]
    want = [r["vec_id"] for r in knn_search(nn, "embedding", qv, 10).collect()]
    assert got == want
