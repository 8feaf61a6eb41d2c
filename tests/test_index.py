"""HNSW index artifact: build, search, persistence, options, info."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from duckdb_vss_spark.index import (
    HNSWGraph,
    create_hnsw_index,
    drop_index,
    load_index,
)
from duckdb_vss_spark.operators import knn_search


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def idx(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("idx") / "emb_idx")
    index = create_hnsw_index(
        spark, emb, vec_col="embedding", id_col="vec_id", path=path, overwrite=True
    )
    yield index
    drop_index(path)


def test_option_validation(spark, emb, tmp_path):
    # error strings mirror hnsw_index_plan.cpp:33-80 (hnsw_options.test)
    p = str(tmp_path / "x")
    with pytest.raises(ValueError, match="'metric' must be one of"):
        create_hnsw_index(spark, emb, "embedding", "vec_id", p, metric="manhattan")
    with pytest.raises(ValueError, match="'ef_construction' must be at least 1"):
        create_hnsw_index(spark, emb, "embedding", "vec_id", p, ef_construction=0)
    with pytest.raises(ValueError, match="'M' must be at least 2"):
        create_hnsw_index(spark, emb, "embedding", "vec_id", p, m=1)
    with pytest.raises(ValueError, match="'M0' must be at least 2"):
        create_hnsw_index(spark, emb, "embedding", "vec_id", p, m0=1)


def test_persistence_setting_gates_create(spark, emb, tmp_path):
    # mirrors the reference's hnsw_enable_experimental_persistence gate:
    # setting it false forbids writing index artifacts (session.py)
    from duckdb_vss_spark.session import CONF_ENABLE_PERSISTENCE

    spark.conf.set(CONF_ENABLE_PERSISTENCE, "false")
    try:
        with pytest.raises(ValueError, match="persistence. is set to true"):
            create_hnsw_index(spark, emb, "embedding", "vec_id", str(tmp_path / "gated"))
    finally:
        spark.conf.unset(CONF_ENABLE_PERSISTENCE)


def test_knn_search_matches_brute_force(spark, emb, idx):
    # ef ≫ k at this scale → exact (the property the reference's own
    # with/without-index equality tests rely on, SURVEY §4.3.5)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 42).first()["embedding"]]
    got = idx.knn_search(emb, qv, 10, ef_search=400).select("vec_id").collect()
    want = knn_search(emb, "embedding", qv, 10).select("vec_id").collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in want]


def test_persistence_roundtrip(spark, emb, idx):
    # hnsw_basic.test:33-38 (load/restart): reload artifact, same results
    reloaded = load_index(spark, idx.path)
    qv = [0.1] * idx.dims
    a = idx.knn_search(emb, qv, 5).select("vec_id").collect()
    b = reloaded.knn_search(emb, qv, 5).select("vec_id").collect()
    assert [r["vec_id"] for r in a] == [r["vec_id"] for r in b]


def test_index_info_schema(idx):
    # pragma_hnsw_index_info() schema (hnsw_index_pragmas.cpp:24-58)
    info = idx.info()
    assert info.columns == [
        "catalog_name", "schema_name", "index_name", "table_name", "metric",
        "dimensions", "count", "capacity", "approx_memory_usage", "levels",
        "levels_stats",
    ]
    row = info.first()
    assert row["count"] == 500 and row["dimensions"] == 64
    assert row["levels_stats"][0]["nodes"] == 500


def test_dim_mismatch_query_rejected(emb, idx):
    with pytest.raises(ValueError, match=r"FLOAT\[64\]"):
        idx.knn_search(emb, [1.0, 2.0], 3)


def test_nulls_excluded_from_index(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, None), (3, [1.0, 1.0])],
        "id long, vec array<float>",
    )
    ix = create_hnsw_index(
        spark, df, "vec", "id", str(tmp_path / "nullidx"), overwrite=True
    )
    assert ix.count == 2  # NULL filtered like hnsw_index_plan.cpp:118-133
    rows = ix.knn_search(df, [0.0, 0.0], 5).select("id").collect()
    assert sorted(r["id"] for r in rows) == [1, 3]


def test_graph_recall_on_random(spark):
    rng = np.random.default_rng(0)
    X = rng.standard_normal((2000, 16)).astype(np.float32)
    g = HNSWGraph(16).build(np.arange(2000), X)
    hits = 0
    for q in rng.standard_normal((20, 16)).astype(np.float32):
        kk, _ = g.search(q, 10, 64)
        exact = np.argsort(((X - q) ** 2).sum(1))[:10]
        hits += len(set(kk.tolist()) & set(exact.tolist()))
    assert hits / 200 > 0.85  # HNSW paper regime: >0.9 typical at ef=64


def test_knn_join_chunked_matches_whole(spark, emb, idx):
    """Sub-chunking the per-task search buffer (queries_per_batch=10
    over 120 queries) must give output identical to one big chunk."""
    q = emb.where(F.col("embedding").isNotNull()).limit(120).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    items = emb.select("vec_id", "embedding")
    whole = idx.knn_join(q, items, "qvec", 3, "qid", ef_search=400)
    chunked = idx.knn_join(
        q, items, "qvec", 3, "qid", ef_search=400, queries_per_batch=10
    )
    a = sorted((r["qid"], r["vec_id"], r["rn"]) for r in whole.collect())
    b = sorted((r["qid"], r["vec_id"], r["rn"]) for r in chunked.collect())
    assert a == b and len(a) == 120 * 3


def test_knn_join_is_executor_side(spark, emb, idx, monkeypatch):
    """VERDICT r5 #1: the ANN lateral join must never relay query
    vectors through the driver — any toLocalIterator call in the path
    fails this test."""
    import pyspark.sql.dataframe as _D

    def _relay(*a, **kw):  # pragma: no cover - called only on regression
        raise AssertionError("driver relay: DataFrame.toLocalIterator in knn_join path")

    monkeypatch.setattr(_D.DataFrame, "toLocalIterator", _relay)
    q = emb.where(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    out = idx.knn_join(q, emb.select("vec_id", "embedding"), "qvec", 3, "qid")
    assert out.count() == q.count() * 3


def test_knn_join_null_outer_semantics(spark, emb, idx):
    """hnsw_lateral_join.test:46-67: a NULL outer row still gets k
    matches — dist NULL, first k items by id."""
    q = spark.createDataFrame(
        [(0, [float(x) for x in emb.first()["embedding"]]), (-1, None)],
        "qid long, qvec array<float>",
    )
    items = emb.where(F.col("embedding").isNotNull()).select("vec_id", "embedding")
    out = idx.knn_join(q, items, "qvec", 3, "qid", keep_null_queries=True).collect()
    null_rows = sorted(
        (r["vec_id"], r["rn"]) for r in out if r["qid"] == -1
    )
    want_ids = [r["vec_id"] for r in items.orderBy("vec_id").limit(3).collect()]
    assert [v for v, _ in null_rows] == want_ids
    assert all(r["dist"] is None for r in out if r["qid"] == -1)
    assert len([r for r in out if r["qid"] == 0]) == 3


def test_knn_search_post_filter_under_returns(spark, emb, idx):
    """Filter pull-up (hnsw_optimize_scan.cpp:161-191): search k first,
    filter after — may return fewer than k rows."""
    qv = [float(x) for x in emb.first()["embedding"]]
    unfiltered = idx.knn_search(emb, qv, 10, ef_search=400).collect()
    labels = {r["vec_id"]: r["label"] for r in unfiltered}
    keep = {v for v, l in labels.items() if l < 3}
    got = idx.knn_search(
        emb, qv, 10, ef_search=400, post_filter="label < 3"
    ).collect()
    assert {r["vec_id"] for r in got} == keep
    assert len(got) <= 10


def test_graph_bulk_build_recall_all_metrics():
    """The chunked builder must hold recall for every metric (the
    occlusion select and prepared-gram math differ per metric), and the
    graph must respect its degree bounds."""
    rng = np.random.default_rng(23)
    n, d = 8000, 32
    X = rng.standard_normal((n, d)).astype(np.float32)
    Xd = X.astype(np.float64)

    def brute(metric, q):
        if metric == "l2sq":
            return np.argsort(((Xd - q) ** 2).sum(1), kind="stable")
        if metric == "cosine":
            xn = Xd / np.maximum(np.linalg.norm(Xd, axis=1, keepdims=True), 1e-30)
            qn = q / max(np.linalg.norm(q), 1e-30)
            return np.argsort(1.0 - xn @ qn, kind="stable")
        return np.argsort(-(Xd @ q), kind="stable")  # ip

    for metric in ("l2sq", "cosine", "ip"):
        g = HNSWGraph(d, metric, m=16, ef_construction=128).build(
            np.arange(n, dtype=np.int64), X
        )
        # degree bounds: ≤ m0 at level 0, ≤ m above
        for node, nbrs in enumerate(g.neighbors):
            assert len(nbrs[0]) <= g.m0
            for lvl in range(1, len(nbrs)):
                assert len(nbrs[lvl]) <= g.m
            assert all(x != node for lv in nbrs for x in lv)
        hits = 0
        qs = Xd[rng.integers(0, n, 30)] + 0.01 * rng.standard_normal((30, d))
        for q in qs:
            got, _ = g.search(q.astype(np.float32), 10, ef_search=256)
            want = brute(metric, q)[:10]
            hits += len(set(got.tolist()) & set(want.tolist()))
        assert hits / 300 >= 0.9, f"{metric}: recall@10 {hits/300:.3f}"


def test_graph_bulk_build_50k_single_partition(monkeypatch):
    """VERDICT r2 #1 'done' bar: a single-partition graph over ≥50k
    vectors builds through the chunked BLAS bulk builder — never the
    per-row Python ``_insert`` path, which took tens of minutes at this
    size — with recall parity vs brute force. The reference builds
    1M-row graphs in its slow suite via vendored C++ threads
    (hnsw_index_physical_create.cpp:134-213); our per-partition budget is
    the 64k artifact ceiling (artifact.py). The pin is structural, not
    a wall-clock bound, so a throttled host cannot fail it."""
    calls = {"bulk": 0, "insert": 0}
    bulk, insert = HNSWGraph._bulk_build, HNSWGraph._insert

    def counted_bulk(self):
        calls["bulk"] += 1
        return bulk(self)

    def counted_insert(self, i):
        calls["insert"] += 1
        return insert(self, i)

    monkeypatch.setattr(HNSWGraph, "_bulk_build", counted_bulk)
    monkeypatch.setattr(HNSWGraph, "_insert", counted_insert)
    rng = np.random.default_rng(7)
    n, d = 50_000, 64
    X = rng.standard_normal((n, d)).astype(np.float32)
    g = HNSWGraph(d, "l2sq", m=16, ef_construction=128).build(
        np.arange(n, dtype=np.int64), X
    )
    assert calls == {"bulk": 1, "insert": 0}, calls
    qs = X[rng.integers(0, n, 50)] + 0.01 * rng.standard_normal((50, d)).astype(
        np.float32
    )
    hits = 0
    for q in qs:
        got, _ = g.search(q, 10, ef_search=256)
        want = np.argsort(((X.astype(np.float64) - q) ** 2).sum(1), kind="stable")[:10]
        hits += len(set(got.tolist()) & set(want.tolist()))
    assert hits / 500 >= 0.95, f"recall@10 {hits/500:.3f} at ef=256"


def test_rebuild_replaces_artifact(spark, emb, tmp_path):
    p = str(tmp_path / "rb")
    ix = create_hnsw_index(spark, emb.limit(100), "embedding", "vec_id", p)
    assert ix.count == 100
    ix2 = ix.rebuild(emb)
    assert ix2.count == 500
    assert load_index(spark, p).count == 500


def test_cosine_and_ip_metric_dispatch(spark, emb, tmp_path_factory):
    # hnsw_metrics.test parity: each metric's index reproduces the
    # brute-force ranking under its own distance function
    from pyspark.sql import functions as F

    from duckdb_vss_spark.functions import (
        array_cosine_distance,
        array_negative_inner_product,
    )

    qv = [float(x) for x in emb.where(F.col("vec_id") == 11).first()["embedding"]]
    for metric, dist_fn in (
        ("cosine", array_cosine_distance),
        ("ip", array_negative_inner_product),
    ):
        path = str(tmp_path_factory.mktemp("m") / f"idx_{metric}")
        idx = create_hnsw_index(
            spark, emb, vec_col="embedding", id_col="vec_id", path=path,
            metric=metric, overwrite=True,
        )
        got = [
            r["vec_id"]
            for r in idx.knn_search(emb, qv, 5, ef_search=400).select("vec_id").collect()
        ]
        want = [
            r["vec_id"]
            for r in emb.where(F.col("embedding").isNotNull())
            .withColumn("d", dist_fn(F.col("embedding"), qv))
            .orderBy(F.col("d").asc_nulls_last(), F.col("vec_id"))
            .limit(5)
            .select("vec_id")
            .collect()
        ]
        assert got == want, metric
        drop_index(path)


def test_knn_join_chunked_matches_unchunked(spark, emb, idx):
    # forcing tiny chunks must not change the result (the 10^6-query
    # scale path: each chunk is an independent broadcast + scan stage)
    from pyspark.sql import functions as F

    q = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    a = idx.knn_join(q, emb.select("vec_id", "embedding"), "qvec", 3, "qid",
                     ef_search=400)
    b = idx.knn_join(q, emb.select("vec_id", "embedding"), "qvec", 3, "qid",
                     ef_search=400, queries_per_batch=2)
    ka = {(r["qid"], r["rn"]): r["vec_id"] for r in a.collect()}
    kb = {(r["qid"], r["rn"]): r["vec_id"] for r in b.collect()}
    assert ka == kb and len(ka) > 0


def test_knn_transform_matches_knn_join(spark, emb, idx):
    """The stateless serve path (in-task global merge, no window) must
    produce the same (qid, item, rn) set and the same SQL-convention
    distances as the window-merged knn_join at ef >> k."""
    q = emb.where(F.col("embedding").isNotNull()).limit(80).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    items = emb.where(F.col("embedding").isNotNull()).select("vec_id", "embedding")
    joined = idx.knn_join(q, items, "qvec", 3, "qid", ef_search=400)
    served = idx.knn_transform(q, items, "qvec", 3, "qid", ef_search=400)
    a = sorted((r["qid"], r["vec_id"], r["rn"], round(r["dist"], 9)) for r in joined.collect())
    b = sorted((r["qid"], r["vec_id"], r["rn"], round(r["dist"], 9)) for r in served.collect())
    assert a == b and len(a) == 80 * 3


def test_knn_transform_plan_has_no_window(spark, emb, idx):
    """What makes knn_transform streaming-legal: no Window operator and
    no aggregation anywhere in the plan — only mapInPandas + join."""
    import contextlib
    import io

    q = emb.limit(10).select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    items = emb.select("vec_id", "embedding")
    df = idx.knn_transform(q, items, "qvec", 3, "qid")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    plan = buf.getvalue()
    assert "Window" not in plan and "HashAggregate" not in plan


def test_search_stream_loads_each_graph_once_across_batches(monkeypatch):
    """VERDICT r6 #4: a task whose partition arrives as MANY Arrow
    batches (Arrow defaults to ~10k rows/batch, far below
    queries_per_batch=65536) must still load each graph file exactly
    once — queries are buffered ACROSS batches before the per-file
    loop. Pre-fix behavior was B×P loads per task (zero LRU reuse once
    P > 32). Drives the module-level stream in-process with a counting
    _load_graph stub, exactly how the mapInPandas worker runs it."""
    import pandas as pd

    from duckdb_vss_spark.index import artifact as A

    loads: list[str] = []

    class _FakeGraph:
        def search_batch(self, mat, k, ef):
            n = len(mat)
            return [np.arange(k, dtype=np.int64) for _ in range(n)], None

    monkeypatch.setattr(A, "_load_graph", lambda f: loads.append(f) or _FakeGraph())

    files = [f"g{i}" for i in range(40)]  # > the 32-slot LRU
    rng = np.random.default_rng(7)
    batches = [
        pd.DataFrame(
            {
                "qid": np.arange(b * 100, b * 100 + 100),
                "qvec": [rng.standard_normal(8).astype(np.float32) for _ in range(100)],
            }
        )
        for b in range(12)  # 12 Arrow batches, 1200 queries total
    ]
    out = list(
        A._search_query_stream(
            iter(batches), "qvec", "qid", "vec_id", files, 3, 64, 65536
        )
    )
    assert len(loads) == len(files)  # one load per graph, not 12×40
    total = sum(len(o) for o in out)
    assert total == 1200 * 3 * len(files)  # every query × k × every file

    # and with a small chunk the loads scale as ceil(1200/500)×P, not B×P
    loads.clear()
    list(
        A._search_query_stream(
            iter(batches), "qvec", "qid", "vec_id", files, 3, 64, 500
        )
    )
    assert len(loads) == 3 * len(files)  # ceil(1200/500)=3 flushes


def test_driver_local_build_matches_distributed(spark, tmp_path, monkeypatch):
    """A small FILE-BACKED source builds in-process (the
    base.DRIVER_BUILD_MAX_BYTES gate); the artifact must be interchangeable
    with the distributed build: same manifest shape, same row count,
    same partition sizing, identical knn_search results. In-memory
    frames (input_bytes unknown) always take the distributed path, so
    only the parquet round-trip exercises the gate."""
    from duckdb_vss_spark.index import base, create_hnsw_index

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(1200)]
    p = str(tmp_path / "vecs.parquet")
    spark.createDataFrame(rows, "vid long, v array<float>").coalesce(1).write.parquet(p)
    src = spark.read.parquet(p)

    local = create_hnsw_index(
        spark, src, "v", "vid", str(tmp_path / "ix_local"), overwrite=True
    )
    monkeypatch.setattr(base, "DRIVER_BUILD_MAX_BYTES", 0)  # force the cluster path
    dist = create_hnsw_index(
        spark, src, "v", "vid", str(tmp_path / "ix_dist"), overwrite=True,
    )
    assert local.manifest["count"] == dist.manifest["count"] == 1200
    assert local.manifest["num_partitions"] == dist.manifest["num_partitions"]
    q = rows[11][1]
    got_l = [(r["vid"], round(r["dist"], 9)) for r in local.knn_search(src, q, 5).collect()]
    got_d = [(r["vid"], round(r["dist"], 9)) for r in dist.knn_search(src, q, 5).collect()]
    assert got_l == got_d
    # brute-force agreement (ef_search >> k at this size: exact)
    want = [
        (r["vid"], round(r["dist"], 9))
        for r in knn_search(src, "v", q, 5).select("vid", "dist").collect()
    ]
    assert got_l == want


# -- offline incremental maintenance: add_batch (VERDICT r11 #3) ----------


def test_add_batch_merged_equals_full_rebuild(spark, emb, tmp_path):
    """The done-bar: merged artifact ≡ full rebuild at ef≫k (both are
    exact at this scale, so they must agree row for row)."""
    nn = emb.where(F.col("embedding").isNotNull())
    first = nn.where(F.col("vec_id") % 2 == 0)
    second = nn.where(F.col("vec_id") % 2 == 1)
    merged = create_hnsw_index(
        spark, first, "embedding", "vec_id", str(tmp_path / "m"), overwrite=True
    ).add_batch(second)
    full = create_hnsw_index(
        spark, nn, "embedding", "vec_id", str(tmp_path / "f"), overwrite=True
    )
    qv = [float(x) for x in nn.where(F.col("vec_id") == 29).first()["embedding"]]
    a = [(r["vec_id"], r["dist"]) for r in merged.knn_search(nn, qv, 10, ef_search=400).collect()]
    b = [(r["vec_id"], r["dist"]) for r in full.knn_search(nn, qv, 10, ef_search=400).collect()]
    assert a == b


def test_add_batch_count_semantics_and_persistence(spark, emb, tmp_path):
    """info().count grows by the batch rows (hnsw_insert.test:18-67
    count semantics); the merged manifest survives a reload; shard pids
    continue after the existing ones."""
    nn = emb.where(F.col("embedding").isNotNull())
    first = nn.where(F.col("vec_id") < 100)
    second = nn.where(F.col("vec_id") >= 100)
    n1, n2 = first.count(), second.count()
    path = str(tmp_path / "p")
    ix = create_hnsw_index(spark, first, "embedding", "vec_id", path, overwrite=True)
    pids_before = {p["pid"] for p in ix.manifest["partitions"]}
    ix = ix.add_batch(second)
    assert ix.count == n1 + n2
    info_count = ix.info().first()["count"]
    assert info_count == n1 + n2
    new_pids = {p["pid"] for p in ix.manifest["partitions"]} - pids_before
    assert new_pids and min(new_pids) > max(pids_before)
    re = load_index(spark, path)
    assert re.count == n1 + n2
    qv = [float(x) for x in nn.where(F.col("vec_id") == 150).first()["embedding"]]
    got = {r["vec_id"] for r in re.knn_search(nn, qv, 5, ef_search=400).collect()}
    want = {r["vec_id"] for r in knn_search(nn, "embedding", qv, 5).collect()}
    assert got == want


def test_add_batch_dim_mismatch_rejected(spark, emb, tmp_path):
    ix = create_hnsw_index(
        spark, emb, "embedding", "vec_id", str(tmp_path / "d"), overwrite=True
    )
    bad = spark.createDataFrame(
        [(9001, [1.0, 2.0, 3.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="FLOAT"):
        ix.add_batch(bad)


def test_add_batch_then_compact_repacks_shards(spark, emb, tmp_path):
    """Repeated small adds accumulate shards; compact() re-packs to the
    bulk build's sizing (the reference's compaction-after-inserts)."""
    nn = emb.where(F.col("embedding").isNotNull())
    base = nn.where(F.col("vec_id") < 300)
    ix = create_hnsw_index(
        spark, base, "embedding", "vec_id", str(tmp_path / "c"), overwrite=True
    )
    for lo in (300, 350, 400):
        ix = ix.add_batch(nn.where((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 50)))
    grown = len(ix.manifest["partitions"])
    assert grown >= 4
    ix = ix.compact(nn.where(F.col("vec_id") < 450))
    assert len(ix.manifest["partitions"]) < grown
    qv = [float(x) for x in nn.where(F.col("vec_id") == 29).first()["embedding"]]
    sub = nn.where(F.col("vec_id") < 450)
    got = {r["vec_id"] for r in ix.knn_search(sub, qv, 5, ef_search=400).collect()}
    want = {r["vec_id"] for r in knn_search(sub, "embedding", qv, 5).collect()}
    assert got == want


def test_compact_from_shards_and_auto_trigger(spark, emb, tmp_path):
    """r13 (VERDICT r12 #4): compact_from_shards() repacks the
    accumulated shards using only the artifact's own stored vectors —
    no source DataFrame — and add_batch(auto_compact_shards=N) fires
    it inside the maintenance path. Exact results unchanged, count
    unchanged, shard count back to the snapshot sizing, bookkeeping
    (last_epochs) preserved across the repack."""
    nn = emb.where(F.col("embedding").isNotNull())
    base = nn.where(F.col("vec_id") < 300)
    ix = create_hnsw_index(
        spark, base, "embedding", "vec_id", str(tmp_path / "ac"), overwrite=True
    )
    # grow shards WITHOUT the trigger, riding a streaming-style stamp
    for i, lo in enumerate((300, 350, 400)):
        ix = ix.add_batch(
            nn.where((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 50)),
            manifest_extra={"last_epochs": {"ckX": i}},
        )
    grown = len(ix.manifest["partitions"])
    assert grown >= 4
    n = ix.count
    # the final add exceeds the threshold -> auto-compact fires
    ix = ix.add_batch(
        nn.where((F.col("vec_id") >= 450) & (F.col("vec_id") < 500)),
        manifest_extra={"last_epochs": {"ckX": 3}},
        auto_compact_shards=3,
    )
    assert len(ix.manifest["partitions"]) < grown
    assert len(ix.manifest["partitions"]) == max(1, (ix.count + 65_535) // 65_536)
    assert ix.count == n + nn.where(
        (F.col("vec_id") >= 450) & (F.col("vec_id") < 500)
    ).count()
    assert ix.manifest["last_epochs"] == {"ckX": 3}
    # exactness after the repack (ef >> k makes ANN exact here)
    sub = nn.where((F.col("vec_id") < 500) & ~F.col("vec_id").between(440, 449))
    qv = [float(x) for x in nn.where(F.col("vec_id") == 29).first()["embedding"]]
    got = {r["vec_id"] for r in ix.knn_search(sub, qv, 10, ef_search=400).collect()}
    want = {
        r["vec_id"]
        for r in knn_search(
            sub.where(F.col("vec_id") < 450) .unionByName(sub.where(F.col("vec_id") >= 450)),
            "embedding", qv, 10,
        ).collect()
    }
    assert got == want
    # reload sees the compacted artifact
    re = load_index(spark, ix.path)
    assert re.count == ix.count and len(re.manifest["partitions"]) == len(
        ix.manifest["partitions"]
    )


def test_delete_batch_marks_filters_and_compacts(spark, emb, tmp_path):
    """r13 — the Delete-hook analogue (reference hnsw_index.cpp:466-482
    mark-delete + compact reclaim): deleted ids disappear from every
    search path, count/info() report live rows, compaction drops them
    physically, and re-adding a tombstoned id revives it."""
    nn = emb.where(F.col("embedding").isNotNull()).select("vec_id", "embedding")
    ix = create_hnsw_index(
        spark, nn, "embedding", "vec_id", str(tmp_path / "del"), overwrite=True
    )
    n_total = ix.count
    dead = nn.where(F.col("vec_id") % 3 == 0).select("vec_id")
    n_dead = dead.count()
    ix = ix.delete_batch(dead)
    assert ix.count == n_total - n_dead
    assert ix.info().first()["count"] == n_total - n_dead
    # delete-of-missing + double-delete are no-ops on the count
    ix = ix.delete_batch([10**12, 10**12 + 1]).delete_batch(dead)
    assert ix.count == n_total - n_dead

    live = nn.where(F.col("vec_id") % 3 != 0)
    qv = [float(x) for x in nn.where(F.col("vec_id") == 7).first()["embedding"]]
    want = [
        (r["vec_id"], r["dist"])
        for r in knn_search(live, "embedding", qv, 10).collect()
    ]
    # knn_search: exact over the live rows at ef >> k
    got = [
        (r["vec_id"], r["dist"])
        for r in ix.knn_search(nn, qv, 10, ef_search=400).collect()
    ]
    assert got == want
    # knn_join: per-query results exclude tombstones
    q = nn.where(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    jids = {
        r["vec_id"]
        for r in ix.knn_join(q, nn, "qvec", 10, "qid", ef_search=400).collect()
    }
    assert jids == {v for v, _ in want}
    # knn_transform (in-task merge): same exclusion
    tids = {
        r["vec_id"]
        for r in ix.knn_transform(q, nn, "qvec", 10, "qid", ef_search=400).collect()
    }
    assert tids == {v for v, _ in want}

    # reload sees the tombstones
    re = load_index(spark, ix.path)
    assert re.count == n_total - n_dead

    # revive: re-adding two tombstoned ids makes them searchable again
    revive = nn.where(F.col("vec_id").isin(0, 3))
    re = re.add_batch(revive)
    assert re.count == n_total - n_dead + 2 * revive.count()  # appended + revived
    assert re.manifest["deleted_count"] == n_dead - revive.count()

    # compact_from_shards physically drops the remaining tombstones
    before_parts = len(re.manifest["partitions"])
    re = re.compact_from_shards()
    assert re.manifest.get("deleted_count", 0) == 0
    assert "tombstones_dir" not in re.manifest or not re.manifest.get("deleted_count")
    assert len(re.manifest["partitions"]) <= before_parts
    # live rows after revive = live ∪ two copies of each revived id
    # (the original shard copy was un-tombstoned AND the batch appended
    # a duplicate — the reference's re-insert-after-delete appends too),
    # so the oracle is a multiset over that exact union
    got2 = sorted(
        (r["vec_id"], r["dist"])
        for r in re.knn_search(nn, qv, 10, ef_search=400).collect()
    )
    want2 = sorted(
        (r["vec_id"], r["dist"])
        for r in knn_search(
            live.unionByName(revive).unionByName(revive), "embedding", qv, 10
        ).collect()
    )
    assert got2 == want2


def test_merge_small_shards_lsm_partial_compaction(spark, emb, tmp_path):
    """r16 (VERDICT r15 #6): the auto-compact tier merges ONLY the
    undersized shard tail — O(tail), not the O(corpus) full repack —
    leaving right-sized shards untouched, preserving count, search
    results, bookkeeping stamps, and the tombstone mask (dead rows stay
    filtered; physical reclaim stays with compact_from_shards)."""
    from duckdb_vss_spark.index.artifact import _plan_small_merge
    from duckdb_vss_spark.operators.topk import knn_search

    nn = emb.where(F.col("embedding").isNotNull())
    ix = create_hnsw_index(
        spark, nn.where(F.col("vec_id") < 300), "embedding", "vec_id",
        str(tmp_path / "lsm"), overwrite=True,
    )
    for i, lo in enumerate((300, 340, 380, 420)):
        ix = ix.add_batch(
            nn.where((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 40)),
            manifest_extra={"last_epochs": {"ckL": i}},
        )
    # tombstone a few ids from the BULK shard (untouched by the merge)
    ix = ix.delete_batch([0, 1, 2])
    parts_before = list(ix.manifest["partitions"])
    small, n_new = _plan_small_merge(parts_before)
    assert len(small) == len(parts_before) and n_new == 1  # all tiny here
    raw_before, dead_before = ix.manifest["count"], ix.manifest["deleted_count"]
    ix = ix.merge_small_shards()
    assert len(ix.manifest["partitions"]) == 1
    assert ix.manifest["count"] == raw_before  # same rows, new packing
    assert ix.manifest["deleted_count"] == dead_before  # mask untouched
    assert ix.manifest["last_epochs"] == {"ckL": 3}  # bookkeeping survives
    # deleted ids stay invisible; survivors exact vs brute force
    qv = [float(x) for x in nn.where(F.col("vec_id") == 7).first()["embedding"]]
    got = {r["vec_id"] for r in ix.knn_search(nn, qv, 8, ef_search=400).collect()}
    want = {
        r["vec_id"]
        for r in knn_search(
            nn.where(~F.col("vec_id").isin(0, 1, 2)), "embedding", qv, 8
        ).collect()
    }
    assert got == want and not ({0, 1, 2} & got)
    # old shard files are gone; reload agrees with the live handle
    import os as _o

    assert not any(_o.path.exists(p["file"]) for p in small)
    re = load_index(spark, ix.path)
    assert re.count == ix.count
    assert len(re.manifest["partitions"]) == 1


def test_auto_compact_prefers_lsm_merge_below_dead_threshold(spark, emb, tmp_path):
    """The trigger picks the partial merge when it restores the shard
    bound and tombstone mass is low; the full repack (which RECLAIMS)
    stays the path above the dead-fraction threshold."""
    nn = emb.where(F.col("embedding").isNotNull())
    ix = create_hnsw_index(
        spark, nn.where(F.col("vec_id") < 200), "embedding", "vec_id",
        str(tmp_path / "tier"), overwrite=True,
    )
    for lo in (200, 260):
        ix = ix.add_batch(
            nn.where((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 60))
        )
    # low dead mass -> LSM merge: deleted_count SURVIVES (no reclaim)
    ix = ix.delete_batch([5])
    ix = ix.add_batch(
        nn.where((F.col("vec_id") >= 320) & (F.col("vec_id") < 380)),
        auto_compact_shards=2,
    )
    assert len(ix.manifest["partitions"]) == 1
    assert ix.manifest["deleted_count"] == 1  # merge path: mask kept
    # high dead mass -> full repack: tombstones physically reclaimed
    ix = ix.delete_batch(range(0, 150))
    ix = ix.add_batch(
        nn.where((F.col("vec_id") >= 380) & (F.col("vec_id") < 420)),
        auto_compact_shards=1,
    )
    assert len(ix.manifest["partitions"]) == 1
    assert ix.manifest.get("deleted_count", 0) == 0  # repack reclaimed


def test_auto_compact_converges_to_bulk_shape(spark, emb, tmp_path):
    """r16 inherited-bug pin (q_stream_index_add at sf0.1): the
    auto-compact trigger must converge to compact_from_shards's own
    snapshot sizing whichever tier runs. A small corpus the bulk build
    would split WIDER for parallelism cannot be served by the LSM
    merge (a merge only reduces), so the trigger must fall back to the
    full repack instead of packing below the bulk split."""
    from duckdb_vss_spark.index.artifact import _bulk_shard_count

    base = emb.where(F.col("embedding").isNotNull()).select("vec_id", "embedding")
    nn = base
    for i in (1, 2):  # 3 disjoint id-shifted copies -> >1000 rows
        nn = nn.unionByName(
            base.select((F.col("vec_id") + i * 10_000).alias("vec_id"), "embedding")
        )
    n = nn.count()
    assert n > 1_000  # the regime where the bulk split exceeds 1
    ix = create_hnsw_index(
        spark, nn.where(F.col("vec_id") < 10_000), "embedding", "vec_id",
        str(tmp_path / "conv"), overwrite=True,
    )
    ix = ix.add_batch(
        nn.where(F.col("vec_id") >= 10_000), auto_compact_shards=1
    )
    par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert len(ix.manifest["partitions"]) == _bulk_shard_count(n, par)
    assert ix.manifest["count"] == n
