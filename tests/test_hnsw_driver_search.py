"""Driver-side HNSW top-k over tombstoned artifacts.

With tombstones, each shard is searched for k + deleted_count keys. The
driver probe drops the tombstoned keys and, when every id is indexed
once, keeps each shard's first k live keys plus those within float32
rounding of the last one, so a DELETE no longer pushes later reads onto
the executor probe. The executor probe (forced with ``spark.vss.driver_probe_max_bytes=0``)
searches the same keys and anti-joins the tombstones in Spark. These
differentials compare the two routes' collected rows exactly, schema
included: plain tombstones, revived ids holding two index copies,
``post_filter``, ``prefilter_overfetch``, k=100, exact and near ties at
the cut, and the cosine and ip metrics."""

import contextlib

import numpy as np
import pytest

from duckdb_vss_spark.index import artifact
from duckdb_vss_spark.index.artifact import create_hnsw_index

GATE = "spark.vss.driver_probe_max_bytes"
N, DIMS, SHARDS = 2000, 16, 4


@contextlib.contextmanager
def forced_cluster(spark):
    old = spark.conf.get(GATE, None)
    spark.conf.set(GATE, "0")
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(GATE)
        else:
            spark.conf.set(GATE, old)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def vecs():
    rng = np.random.default_rng(17)
    return rng.standard_normal((N, DIMS)).astype(np.float32)


def _table(spark, path, ids, mat):
    import pandas as pd

    pdf = pd.DataFrame(
        {"id": ids, "vec": [v.tolist() for v in mat], "grp": (ids % 5).astype(np.int32)}
    )
    spark.createDataFrame(pdf, "id long, vec array<float>, grp int").write.parquet(path)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def base(spark, vecs, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("hnsw_tomb") / "items")
    return _table(spark, path, np.arange(N, dtype=np.int64), vecs)


def _index(spark, base, tmp_path, dead_mod, metric="l2sq"):
    ix = create_hnsw_index(
        spark, base, "vec", "id", str(tmp_path / "ix"), metric=metric,
        num_partitions=SHARDS,
    )
    n = base.count()
    return ix.delete_batch([i for i in range(n) if i % dead_mod == 0])


@pytest.fixture
def heavy(spark, base, tmp_path):
    """286 of 2000 ids tombstoned: each of the 4 shards searches 296
    keys for a top-10, past the In-filter's 512 ids in total."""
    return _index(spark, base, tmp_path, 7)


def _query(vecs, i):
    return [float(x) for x in vecs[i] + 0.01]


def _assert_bit_identical(spark, mk_df, min_rows):
    d = mk_df()
    got, got_types = [tuple(r) for r in d.collect()], d.dtypes
    with forced_cluster(spark):
        c = mk_df()
        assert "MapInPandas" in _plan(c)
        want, want_types = [tuple(r) for r in c.collect()], c.dtypes
    assert got_types == want_types, f"schema diverged: {got_types} != {want_types}"
    assert got == want, f"driver path diverged:\n  got  {got}\n  want {want}"
    assert len(got) >= min_rows
    return d, got


def test_tombstoned_topk_bit_identical_and_driver_routed(spark, base, vecs, heavy):
    d, got = _assert_bit_identical(
        spark, lambda: heavy.knn_search(base, _query(vecs, 3), 10), 10
    )
    assert not {r[0] for r in got} & {i for i in range(N) if i % 7 == 0}
    assert "MapInPandas" not in _plan(d)


def test_tombstoned_topk_is_one_job_without_python(base, vecs, heavy, count_jobs):
    """Structural pin: a tombstoned top-10 plans no Python map node and
    its collect runs one Spark job (the literal In-filter fetch)."""
    df = heavy.knn_search(base, _query(vecs, 5), 10)
    plan = _plan(df)
    assert "MapInPandas" not in plan and "Python" not in plan, plan
    rows, n_jobs = count_jobs(df.collect)
    assert len(rows) == 10
    assert n_jobs == 1, f"tombstoned top-10 ran {n_jobs} jobs"


def test_k100_bit_identical(spark, base, vecs, heavy):
    d, _ = _assert_bit_identical(
        spark, lambda: heavy.knn_search(base, _query(vecs, 8), 100), 100
    )
    assert "MapInPandas" not in _plan(d)


def test_post_filter_bit_identical(spark, base, vecs, heavy):
    d, got = _assert_bit_identical(
        spark,
        lambda: heavy.knn_search(base, _query(vecs, 9), 10, post_filter="grp != 1"),
        1,
    )
    assert all(r[2] != 1 for r in got)
    assert "MapInPandas" not in _plan(d)


def test_prefilter_overfetch_bit_identical(spark, base, vecs, tmp_path):
    """A prefilter's WHERE may reject any over-fetched key, so the
    driver keeps every live key it searched: with few tombstones they
    fit the In-filter, with many they are fetched as literal rows,
    built through Arrow as a local relation (no Python RDD scan)."""
    light = _index(spark, base, tmp_path / "light", 97)
    heavy = _index(spark, base, tmp_path / "heavy", 7)
    for ix, join in ((light, False), (heavy, True)):
        d, got = _assert_bit_identical(
            spark,
            lambda: ix.knn_search(
                base, _query(vecs, 12), 10,
                post_filter="grp = 2", prefilter_overfetch=3.0,
            ),
            10,
        )
        assert all(r[2] == 2 for r in got)
        plan = _plan(d)
        assert "MapInPandas" not in plan
        assert ("BroadcastHashJoin" in plan) == join, plan
        assert "ExistingRDD" not in plan, plan


def test_revived_ids_keep_both_copies(spark, base, vecs, heavy):
    """Re-adding tombstoned ids revives their old index copy and adds
    a new one: both must reach the result, through the literal-rows
    join (an In-filter would collapse the duplicate)."""
    revived = [7, 14]
    ix = heavy.add_batch(base.where(base.id.isin(revived)))
    assert int(ix.manifest["deleted_count"]) > 0
    d, got = _assert_bit_identical(
        spark, lambda: ix.knn_search(base, [float(x) for x in vecs[7]], 10), 10
    )
    assert [r[0] for r in got].count(7) == 2, got
    plan = _plan(d)
    assert "MapInPandas" not in plan and "BroadcastHashJoin" in plan, plan


def test_revived_id_with_new_vector_keeps_old_copy(spark, base, vecs, heavy):
    """An id deleted and re-inserted with a new vector holds its old
    copy too. The old copy trails its shard's first k live keys, yet
    the executor probe still fetches it, so the driver must keep it."""
    q = _query(vecs, 3)
    d = ((vecs - np.asarray(q, dtype=np.float32)) ** 2).sum(1)
    dead_by_dist = [int(i) for i in np.argsort(d) if i % 7 == 0]
    x = dead_by_dist[len(dead_by_dist) // 4]
    moved = spark.createDataFrame([(x, q, x % 5)], "id long, vec array<float>, grp int")
    table = base.where(base.id != x).unionByName(moved)
    ix = heavy.add_batch(moved)
    _, got = _assert_bit_identical(spark, lambda: ix.knn_search(table, q, 10), 10)
    assert [r[0] for r in got].count(x) == 2, got


@pytest.mark.parametrize("shards", [1, 4])
def test_revived_id_old_copy_nearest_new_vector_far(spark, vecs, tmp_path, shards):
    """An id deleted and re-inserted with a new, far vector keeps its
    old index copy, here the query's nearest key. That copy takes one of
    its shard's first k live slots but scores with the far vector, so
    the driver must not trim that shard: the 11 rows nearest the query
    (ids N..N+10, N the revived one) share one shard, built with the
    rest (1 shard) or added as a batch after a 3-shard build (4)."""
    rng = np.random.default_rng(23)
    q = rng.standard_normal(DIMS).astype(np.float32)
    near = (q + 0.05 * rng.standard_normal((11, DIMS))).astype(np.float32)
    near[0] = q
    near_ids = np.arange(N, N + 11, dtype=np.int64)
    x = int(near_ids[0])
    ids = np.arange(N, dtype=np.int64)
    table = _table(
        spark, str(tmp_path / "items"),
        np.concatenate([ids, near_ids]), np.vstack([vecs, near]),
    )
    path = str(tmp_path / "ix")
    if shards == 1:
        ix = create_hnsw_index(spark, table, "vec", "id", path, num_partitions=1)
    else:
        ix = create_hnsw_index(
            spark, table.where(table.id < N), "vec", "id", path, num_partitions=3
        ).add_batch(table.where(table.id >= N))
    assert len(ix.manifest["partitions"]) == shards
    ix = ix.delete_batch([int(i) for i in ids if i % 7 == 0] + [x])
    moved = spark.createDataFrame(
        [(x, (q + 10.0).tolist(), x % 5)], "id long, vec array<float>, grp int"
    )
    ix = ix.add_batch(moved)
    table = table.where(table.id != x).unionByName(moved)
    qf = [float(v) for v in q]
    _, got = _assert_bit_identical(spark, lambda: ix.knn_search(table, qf, 10), 10)
    d = ((near[1:] - q) ** 2).sum(1)
    assert [r[0] for r in got] == [int(near_ids[1 + i]) for i in np.argsort(d)[:10]]


def _exact_ties(spark, tmp_path):
    """160 vectors at exactly the same distance from the query (two ±1
    coordinates, the query at the origin), written in descending id
    order: each shard's graph returns its tied keys largest id first,
    while the final ORDER BY dist, id wants the smallest ids, so every
    key tied with a shard's last kept distance must reach the fetch."""
    import itertools

    ring = []
    for i, j in itertools.combinations(range(DIMS), 2):
        for si, sj in itertools.product((1.0, -1.0), repeat=2):
            x = np.zeros(DIMS, dtype=np.float32)
            x[i], x[j] = si, sj
            ring.append(x)
    rng = np.random.default_rng(5)
    far = rng.standard_normal((N - 160, DIMS)).astype(np.float32)
    far *= 3.0 / np.linalg.norm(far, axis=1, keepdims=True)
    mat = np.vstack([np.asarray(ring[:160]), far])[::-1]
    ids = np.arange(N, dtype=np.int64)[::-1]
    table = _table(spark, str(tmp_path / "ring"), ids, mat)
    want = [i for i in range(1, 160) if i % 7][:10]
    return table, _index(spark, table, tmp_path, 7), [0.0] * DIMS, want


def _near_ties(spark, tmp_path):
    """Two rows A and B whose float32 graph distances order A first and
    whose f64 distances order B first. The query sits ~400 from the
    origin, so rounding it to float32 moves each graph distance by up to
    ~1e-5, far more than the rows' f64 gap. With 9 nearer rows, the
    graph ranks A 10th and B 11th while Spark wants B: B must be kept as
    lying within rounding of A."""
    from duckdb_vss_spark.index.hnsw_graph import _rank_dist

    rng = np.random.default_rng(3)
    q = 100.0 + rng.random(DIMS) / 3.0

    def shell(n, r):
        off = rng.standard_normal((n, DIMS))
        return (q + r * off / np.linalg.norm(off, axis=1, keepdims=True)).astype(np.float32)

    ring = shell(4000, 1.0)
    d64 = ((ring.astype(np.float64) - q) ** 2).sum(1)
    d32 = _rank_dist("l2sq", q.astype(np.float32), ring)
    o = np.argsort(d64)
    flip = d32[o[:-1]] - d32[o[1:]]
    i = int(np.argmax(flip))
    b, a = o[i], o[i + 1]
    assert d32[a] < d32[b] and d64[b] < d64[a] - 1e-12
    near = shell(9, 0.5)
    mat = np.vstack([near, ring[[a, b]], shell(600, 3.0)])
    ids = np.arange(len(mat), dtype=np.int64)
    table = _table(spark, str(tmp_path / "items"), ids, mat)
    ix = create_hnsw_index(
        spark, table, "vec", "id", str(tmp_path / "ix"), num_partitions=1
    ).delete_batch([int(i) for i in ids[11::7]])
    want = [int(i) for i in np.argsort(((near - q) ** 2).sum(1))] + [10]
    return table, ix, [float(v) for v in q], want


@pytest.mark.parametrize("ties", [_exact_ties, _near_ties], ids=["exact", "near"])
def test_ties_past_keep_bit_identical(spark, tmp_path, ties):
    table, ix, q, want = ties(spark, tmp_path)
    d, got = _assert_bit_identical(spark, lambda: ix.knn_search(table, q, 10), 10)
    assert [r[0] for r in got] == want
    assert "MapInPandas" not in _plan(d)


@pytest.mark.parametrize("metric", ["cosine", "ip"])
def test_other_metrics_bit_identical(spark, base, vecs, tmp_path, metric):
    ix = _index(spark, base, tmp_path, 7, metric=metric)
    d, _ = _assert_bit_identical(
        spark, lambda: ix.knn_search(base, _query(vecs, 4), 10), 10
    )
    assert "MapInPandas" not in _plan(d)


def test_work_bound_sends_probe_to_executors(spark, base, vecs, heavy, monkeypatch):
    q = _query(vecs, 3)
    want = [tuple(r) for r in heavy.knn_search(base, q, 10).collect()]
    take = 10 + int(heavy.manifest["deleted_count"])
    monkeypatch.setattr(artifact, "_MAX_DRIVER_PROBE_WORK", take * SHARDS - 1)
    df = heavy.knn_search(base, q, 10)
    assert "MapInPandas" in _plan(df)
    assert [tuple(r) for r in df.collect()] == want


def test_unreadable_tombstones_send_probe_to_executors(
    spark, base, vecs, heavy, monkeypatch
):
    q = _query(vecs, 3)
    want = [tuple(r) for r in heavy.knn_search(base, q, 10).collect()]
    monkeypatch.setattr(
        artifact.HnswIndex, "_tombstone_ids_local_meta", lambda self: None
    )
    df = heavy.knn_search(base, q, 10)
    assert "MapInPandas" in _plan(df)
    assert [tuple(r) for r in df.collect()] == want
