"""IVF index: build, partition-pruned search, join, persistence."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from duckdb_vss_spark.index import create_ivf_index, drop_ivf_index, load_ivf_index
from duckdb_vss_spark.operators import knn_join, knn_search


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def ivf(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf") / "emb_ivf")
    index = create_ivf_index(
        spark, emb, vec_col="embedding", id_col="vec_id", path=path, nlist=16
    )
    yield index
    drop_ivf_index(path)


def test_build_covers_all_rows(spark, emb, ivf):
    n = emb.where(F.col("embedding").isNotNull()).count()
    assert ivf.manifest["count"] == n
    assert sum(p["count"] for p in ivf.manifest["lists"]) == n
    assert ivf.nlist == 16


def test_full_probe_is_exact(spark, emb, ivf):
    # nprobe = nlist probes everything → must equal brute force exactly
    qv = [float(x) for x in emb.where(F.col("vec_id") == 42).first()["embedding"]]
    got = ivf.knn_search(qv, 10, nprobe=16).select("vec_id").collect()
    want = knn_search(emb, "embedding", qv, 10).select("vec_id").collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in want]


def test_partial_probe_recall(spark, emb, ivf):
    # nprobe=8 of 16 reads half the lists; aggregate recall@10 over three
    # in-distribution queries must be ≥ 0.8 (the sf0.01 embeddings are
    # only weakly clustered, so per-query recall varies 0.7-1.0)
    hits = total = 0
    for vid in (7, 42, 300):
        qv = [float(x) for x in emb.where(F.col("vec_id") == vid).first()["embedding"]]
        got = {r["vec_id"] for r in ivf.knn_search(qv, 10, nprobe=8).collect()}
        want = {r["vec_id"] for r in knn_search(emb, "embedding", qv, 10).collect()}
        hits += len(got & want)
        total += 10
    assert hits / total >= 0.8


def test_partition_pruning_in_plan(spark, ivf):
    # probing must compile to a parquet partition filter, not a full
    # scan — on BOTH routes: the distributed scan (gate=0 forces it;
    # the 100 TB plan) and the r16 driver-resolved fetch, whose
    # In-filter scan keeps the same PartitionFilters
    qv = [0.0] * ivf.dims
    spark.conf.set("spark.vss.driver_probe_max_bytes", "0")
    try:
        plan = ivf.knn_search(qv, 5, nprobe=2)._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.vss.driver_probe_max_bytes")
    assert "list_id" in plan and ("PartitionFilters: [" in plan or "PushedFilters" in plan)
    plan = ivf.knn_search(qv, 5, nprobe=2)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "In(vec_id" in plan


def test_knn_join_matches_brute_force_at_full_probe(spark, emb, ivf):
    q = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = ivf.knn_join(q, "qvec", 3, "qid", nprobe=16).select("qid", "vec_id", "rn")
    want = knn_join(q, emb.select("vec_id", "embedding"), "qvec", "embedding", 3).select(
        "qid", "vec_id", "rn"
    )
    g = {(r["qid"], r["rn"]): r["vec_id"] for r in got.collect()}
    w = {(r["qid"], r["rn"]): r["vec_id"] for r in want.collect()}
    assert g == w


def test_persistence_roundtrip(spark, emb, ivf):
    reloaded = load_ivf_index(spark, ivf.path)
    qv = [0.1] * ivf.dims
    a = ivf.knn_search(qv, 5).select("vec_id").collect()
    b = reloaded.knn_search(qv, 5).select("vec_id").collect()
    assert [r["vec_id"] for r in a] == [r["vec_id"] for r in b]
    assert reloaded.manifest == ivf.manifest


def test_info_schema(spark, ivf):
    row = ivf.info().first()
    assert row["index_name"] == "ivf_idx"
    assert row["nlist"] == 16
    assert row["count"] == ivf.manifest["count"]


def test_metric_validation(spark, emb, tmp_path):
    with pytest.raises(ValueError, match="'metric' must be one of"):
        create_ivf_index(spark, emb, "embedding", "vec_id", str(tmp_path / "x"), metric="bad")


def test_cosine_metric_spherical(spark, emb, tmp_path_factory):
    # cosine IVF: spherical geometry (normalized assignment/probe);
    # full probe must equal brute-force cosine ranking exactly
    from duckdb_vss_spark.functions import array_cosine_distance

    path = str(tmp_path_factory.mktemp("ivfc") / "emb_ivf_cos")
    idx = create_ivf_index(
        spark, emb, vec_col="embedding", id_col="vec_id", path=path,
        metric="cosine", nlist=8,
    )
    qv = [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]]
    got = [r["vec_id"] for r in idx.knn_search(qv, 5, nprobe=8).select("vec_id").collect()]
    want = [
        r["vec_id"]
        for r in emb.where(F.col("embedding").isNotNull())
        .withColumn("d", array_cosine_distance(F.col("embedding"), qv))
        .orderBy(F.col("d").asc_nulls_last(), F.col("vec_id"))
        .limit(5)
        .select("vec_id")
        .collect()
    ]
    assert got == want
    # partial probe keeps decent recall on the sphere
    got2 = {r["vec_id"] for r in idx.knn_search(qv, 5, nprobe=4).collect()}
    assert len(got2 & set(want)) >= 3
    drop_ivf_index(path)


def test_knn_join_broadcast_guard(spark, emb, ivf):
    """broadcast_queries=None auto-decides from Catalyst's size
    estimate; past the budget the join degrades to a shuffle join with
    identical results (never a forced broadcast that could OOM)."""
    from duckdb_vss_spark.index.base import _fits_broadcast

    q = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    assert _fits_broadcast(q, nprobe=4, budget_bytes=64 << 20)
    assert not _fits_broadcast(q, nprobe=4, budget_bytes=1)

    # VERDICT r5 #3: a FAILED/unknown estimate must route to the shuffle
    # join (never force-broadcast the side nothing is known about)
    class _NoPlan:
        @property
        def _jdf(self):
            raise RuntimeError("no query execution available")

    assert _fits_broadcast(_NoPlan(), nprobe=4, budget_bytes=64 << 20) is False

    def ordered(df):
        return [
            (r["qid"], r["rn"], r["vec_id"])
            for r in df.orderBy("qid", "rn").collect()
        ]

    via_bcast = ivf.knn_join(q, "qvec", 3, "qid", nprobe=16, broadcast_queries=True)
    via_shuffle = ivf.knn_join(q, "qvec", 3, "qid", nprobe=16, broadcast_queries=False)
    via_auto_tiny_budget = ivf.knn_join(
        q, "qvec", 3, "qid", nprobe=16, broadcast_budget_bytes=1
    )
    assert ordered(via_bcast) == ordered(via_shuffle) == ordered(via_auto_tiny_budget)


def test_default_nprobe_recall_on_clustered_data(spark, tmp_path_factory):
    """IVF's quality story depends on the data having cluster structure
    (real embedding distributions do; BENCH's synthetic unclustered
    Gaussians are the adversarial case and sit at ~0.47). On blob-
    structured vectors the DEFAULT nprobe (nlist/8) must clear the
    reference's >0.9 recall@10 anchor — this pins that the coarse
    quantizer actually routes by structure when structure exists."""
    rng = np.random.RandomState(7)
    n_clusters, per, dim = 24, 100, 32
    centers = rng.randn(n_clusters, dim) * 12.0
    vecs = np.concatenate(
        [c + rng.randn(per, dim) for c in centers]
    ).astype(np.float32)
    ids = np.arange(len(vecs))
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)],
        "vec_id long, embedding array<float>",
    )
    path = str(tmp_path_factory.mktemp("ivf_blob") / "idx")
    idx = create_ivf_index(
        spark, df, "embedding", "vec_id", path, nlist=24, seed=3, overwrite=True
    )
    q_ids = ids[::60]  # 40 queries, ONE knn_join job (default nprobe)
    qdf = df.where(F.col("vec_id") % 60 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got: dict[int, set] = {}
    for r in idx.knn_join(qdf, "qvec", 10, "qid").select("qid", "vec_id").collect():
        got.setdefault(r["qid"], set()).add(r["vec_id"])
    m64 = vecs.astype(np.float64)
    hits = tot = 0
    for qi in q_ids:
        d = ((m64 - m64[qi]) ** 2).sum(1)
        exact = set(ids[np.argsort(d, kind="stable")[:10]].tolist())
        hits += len(got.get(int(qi), set()) & exact)
        tot += 10
    assert hits / tot >= 0.9, f"recall {hits / tot} at default nprobe on clustered data"
    drop_ivf_index(path)


def test_calibrated_default_nprobe_recall_targeted():
    """VERDICT r7/r8/r9 #3: the default nprobe must be recall-targeted,
    not a fixed nlist fraction. On well-separated clusters routing is
    easy -> calibration picks a SMALL nprobe; on one isotropic Gaussian
    neighbors spread across lists -> calibration picks a LARGE one. In
    both regimes the estimated routing recall at the chosen default
    must meet the 0.9 target on the calibration sample itself."""
    from duckdb_vss_spark.index.ivf import _calibrate_nprobe, _kmeans

    rng = np.random.RandomState(7)
    # regime 1: 8 tight, well-separated clusters
    centers = rng.randn(8, 16) * 50.0
    clustered = np.vstack([c + rng.randn(64, 16) for c in centers])
    cents_c = _kmeans(clustered, 8, 5, 0)
    p_clustered = _calibrate_nprobe(clustered, cents_c)
    assert 1 <= p_clustered <= 3

    # regime 2: one isotropic Gaussian (the hard case that shipped 0.47)
    blob = rng.randn(512, 16)
    cents_b = _kmeans(blob, 8, 5, 0)
    p_blob = _calibrate_nprobe(blob, cents_b)
    assert p_blob > p_clustered


def test_calibration_metric_aware_ip():
    """Review r10: ip indexes must calibrate against inner-product
    ground truth. Corpus engineered so the two truths force different
    answers: every vector has a positive 7th component, and a far-away
    huge-norm spike cluster maximizes the dot product for EVERY query —
    so under ip truth the winners all live in the spike list, whose
    centroid is L2-distant (probed last), while under L2 truth the
    winners are nearby base vectors. The ip calibration must therefore
    probe strictly deeper than the L2 one."""
    from duckdb_vss_spark.index.ivf import _calibrate_nprobe, _kmeans

    rng = np.random.RandomState(3)
    base = rng.randn(480, 8)
    base[:, 7] = np.abs(base[:, 7]) + 0.5   # every query dot-aligned with spikes
    spikes = np.zeros((32, 8))
    spikes[:, 7] = 60.0 + rng.rand(32)      # MIPS winners for every query
    corpus = np.vstack([base, spikes])
    cents = _kmeans(corpus, 8, 5, 0)
    p_l2 = _calibrate_nprobe(corpus, cents, "l2sq")
    p_ip = _calibrate_nprobe(corpus, cents, "ip")
    assert p_ip > p_l2


def test_driver_local_build_matches_distributed(spark, tmp_path, monkeypatch):
    """Small file-backed source: the driver-local build (one collect +
    pyarrow list writes) must be indistinguishable from the cluster
    build — identical centroids (same frac==1.0 sample), identical
    list membership (shared _assign_rows kernel), identical default
    knn results, and Spark must read the hand-written hive layout with
    partition pruning intact."""
    import numpy as np

    from duckdb_vss_spark.index import base, create_ivf_index

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(1500)]
    p = str(tmp_path / "vecs.parquet")
    spark.createDataFrame(rows, "vid long, v array<float>").coalesce(1).write.parquet(p)
    src = spark.read.parquet(p)

    local = create_ivf_index(
        spark, src, "v", "vid", str(tmp_path / "ix_local"),
        nlist=8, overwrite=True,
    )
    monkeypatch.setattr(base, "DRIVER_BUILD_MAX_BYTES", 0)  # force the cluster path
    dist = create_ivf_index(
        spark, src, "v", "vid", str(tmp_path / "ix_dist"), nlist=8, overwrite=True,
    )
    assert local.manifest["centroids"] == dist.manifest["centroids"]
    assert local.manifest["lists"] == dist.manifest["lists"]
    assert local.manifest["count"] == dist.manifest["count"] == 1500
    q = rows[17][1]
    got_l = [(r["vid"], round(r["dist"], 9)) for r in local.knn_search(q, 5).collect()]
    got_d = [(r["vid"], round(r["dist"], 9)) for r in dist.knn_search(q, 5).collect()]
    assert got_l == got_d and len(got_l) == 5


def test_add_batch_appends_lists_and_counts(spark, emb, tmp_path):
    """r12: add_batch assigns to FROZEN centroids, hive-appends list
    files, and updates total + per-list manifest counts; an all-probe
    search over the merged index is exact vs brute force."""
    from pyspark.sql import functions as F

    from duckdb_vss_spark.index.ivf import create_ivf_index, load_ivf_index
    from duckdb_vss_spark.operators.topk import knn_search

    nn = emb.where(F.col("embedding").isNotNull())
    h1 = nn.where(F.col("vec_id") % 2 == 0)
    h2 = nn.where(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivfab")
    ix = create_ivf_index(spark, h1, "embedding", "vec_id", path)
    cents = ix.manifest["centroids"]
    ix = ix.add_batch(h2)
    assert ix.manifest["centroids"] == cents  # frozen
    assert ix.manifest["count"] == nn.count()
    assert sum(p["count"] for p in ix.manifest["lists"]) == nn.count()
    qv = [float(x) for x in nn.where(F.col("vec_id") == 29).first()["embedding"]]
    got = [r["vec_id"] for r in ix.knn_search(qv, 10, nprobe=ix.nlist).collect()]
    want = [r["vec_id"] for r in knn_search(nn, "embedding", qv, 10).collect()]
    assert got == want
    re = load_ivf_index(spark, path)
    assert re.manifest["count"] == nn.count()
    assert re.info().first()["count"] == nn.count()
