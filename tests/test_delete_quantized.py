"""delete_batch across the quantized index family (r13 — the Delete-hook
analogue extended family-wide, the same completion the r12 add_batch
work did for inserts; reference src/hnsw/hnsw_index.cpp:466-482
mark-delete + compact reclaim, shared contract in index/tombstones.py).

One parametrized battery per family: deleted ids disappear from every
search path (DataFrame scans AND the executor-side query streams),
count reports live rows, delete-of-missing / double-delete are no-ops,
add_batch revives a tombstoned id, and compact() physically reclaims
(exact post-compact count even with duplicate re-appended ids)."""

import os

import pytest
from pyspark.sql import functions as F

from duckdb_vss_spark.functions.distance import distance_for_metric
from duckdb_vss_spark.index.bq import create_bq_index, load_bq_index
from duckdb_vss_spark.index.ivf import create_ivf_index, load_ivf_index
from duckdb_vss_spark.index.ivfpq import create_ivfpq_index, load_ivfpq_index
from duckdb_vss_spark.index.ivfsq import create_ivfsq_index, load_ivfsq_index
from duckdb_vss_spark.index.pq import create_pq_index, load_pq_index


@pytest.fixture(scope="module")
def emb(spark):
    return (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .where(F.col("embedding").isNotNull())
        .cache()
    )


@pytest.fixture(scope="module")
def truth(spark, emb):
    """Exact l2sq top-10 over the LIVE rows (vec_id % 3 != 0) for the
    vec_id=11 query — the brute-force oracle every family must hit
    exactly (full-coverage signatures below make ANN exact)."""
    qv = [float(x) for x in emb.where(F.col("vec_id") == 11).first()["embedding"]]
    dist_fn = distance_for_metric("l2sq")
    rows = (
        emb.where(F.col("vec_id") % 3 != 0)
        .withColumn("dist", dist_fn(F.col("embedding"), qv))
        .orderBy("dist", "vec_id")
        .limit(10)
        .select("vec_id", "dist")
        .collect()
    )
    return qv, [(r["vec_id"], r["dist"]) for r in rows]


FAMILIES = {
    # name -> (create, load, search(idx, emb, qv) -> [(id, dist)], join(idx, q_df) or None)
    "pq": (
        lambda s, df, p: create_pq_index(s, df, "embedding", "vec_id", p),
        load_pq_index,
        # full-width rerank: exact over live rows
        lambda ix, emb, qv: ix.knn_search(qv, 10, rerank=ix.count, source=emb),
        lambda ix, emb, q: ix.knn_join(
            q, "qvec", 10, "qid", rerank=ix.count, source=emb
        ),
    ),
    "ivf": (
        lambda s, df, p: create_ivf_index(s, df, "embedding", "vec_id", p),
        load_ivf_index,
        lambda ix, emb, qv: ix.knn_search(qv, 10, nprobe=ix.nlist),
        lambda ix, emb, q: ix.knn_join(q, "qvec", 10, "qid", nprobe=ix.nlist),
    ),
    "ivfpq": (
        lambda s, df, p: create_ivfpq_index(s, df, "embedding", "vec_id", p),
        load_ivfpq_index,
        # full probes + full-width rerank: exact over live rows
        lambda ix, emb, qv: ix.knn_search(
            qv, 10, nprobe=ix.nlist, rerank=ix.count, source=emb
        ),
        lambda ix, emb, q: ix.knn_join(
            q, "qvec", 10, "qid", nprobe=ix.nlist, rerank=ix.count, source=emb
        ),
    ),
    "ivfsq": (
        lambda s, df, p: create_ivfsq_index(s, df, "embedding", "vec_id", p),
        load_ivfsq_index,
        lambda ix, emb, qv: ix.knn_search(
            qv, 10, nprobe=ix.nlist, rerank=ix.count, source=emb
        ),
        None,
    ),
    "bq": (
        lambda s, df, p: create_bq_index(s, df, "embedding", "vec_id", p),
        load_bq_index,
        lambda ix, emb, qv: ix.knn_search(qv, 10, rescore=ix.count, source=emb),
        None,
    ),
}


def _ids_dists(df):
    return [(r["vec_id"], r["dist"]) for r in df.select("vec_id", "dist").collect()]


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_delete_batch_family(spark, emb, truth, tmp_path, family):
    create, load, search, join = FAMILIES[family]
    qv, want = truth
    ix = create(spark, emb, str(tmp_path / family))
    n_total = emb.count()
    dead = emb.where(F.col("vec_id") % 3 == 0).select("vec_id")
    n_dead = dead.count()

    ix = ix.delete_batch(dead)
    assert ix.count == n_total - n_dead
    # delete-of-missing + double-delete are no-ops on the count
    ix = ix.delete_batch([10**12, 10**12 + 1]).delete_batch(dead)
    assert ix.count == n_total - n_dead

    # search path: exact top-10 over the LIVE rows (never a dead id)
    got = _ids_dists(search(ix, emb, qv))
    assert got == want, f"{family}: post-delete search diverged"

    # executor-side multi-query stream (where the family has one)
    if join is not None:
        q = spark.createDataFrame([(1, qv)], "qid long, qvec array<double>")
        jids = {r["vec_id"] for r in join(ix, emb, q).collect()}
        assert jids == {v for v, _ in want}, f"{family}: stream leaked tombstones"

    # reload sees the tombstones
    re = load(spark, ix.path)
    assert re.count == n_total - n_dead

    # revive: re-adding tombstoned ids makes them live again (the batch
    # also APPENDS duplicate rows — reference re-insert semantics)
    revive = emb.where(F.col("vec_id").isin(0, 3))
    n_rev = revive.count()
    re = re.add_batch(revive)
    assert re.manifest["deleted_count"] == n_dead - n_rev
    assert re.count == n_total - n_dead + 2 * n_rev

    # compact physically reclaims: tombstone bookkeeping cleared and
    # count recounted from the rewritten files (exact under duplicates)
    re = re.compact()
    assert re.manifest.get("deleted_count", 0) == 0
    assert "tombstones_dir" not in re.manifest
    data_sub = {"pq": "codes", "ivfpq": "codes", "bq": "sigs"}.get(family, "lists")
    n_files = sum(
        1
        for _root, _d, names in os.walk(os.path.join(re.path, data_sub))
        for nm in names
        if nm.endswith(".parquet")
    )
    physical = spark.read.parquet(os.path.join(re.path, data_sub)).count()
    assert re.manifest["count"] == physical
    assert re.count == physical
    # post-compact search: live rows plus both copies of each revived id
    got2 = {r["vec_id"] for r in search(re, emb, qv).collect()}
    assert got2 == {v for v, _ in want}
    # compaction coalesced the layout (no per-delete fragments)
    assert n_files <= max(1, re.manifest.get("nlist", 1))


def test_empty_and_noop_deletes(spark, emb, tmp_path):
    """Deleting nothing (empty frame) leaves the artifact untouched —
    no tombstone dir, same plans as a clean index."""
    ix = create_pq_index(
        spark, emb, "embedding", "vec_id", str(tmp_path / "noop")
    )
    n = ix.count
    ix = ix.delete_batch(emb.where(F.lit(False)).select("vec_id"))
    assert ix.count == n
    assert not int(ix.manifest.get("deleted_count", 0))


def test_ivf_info_reports_live_count(spark, emb, tmp_path):
    ix = create_ivf_index(spark, emb, "embedding", "vec_id", str(tmp_path / "i"))
    n = ix.count
    ix = ix.delete_batch(emb.limit(7).select("vec_id"))
    assert ix.info().first()["count"] == n - 7


def test_load_any_index_sniffs_every_family(spark, emb, tmp_path):
    """r13: load_any_index resolves the family from the manifest alone
    — the maintenance surfaces shouldn't need the caller to repeat
    what the artifact already records."""
    from duckdb_vss_spark.index import (
        create_hnsw_index,
        load_any_index,
    )

    builders = {
        "HnswIndex": lambda p: create_hnsw_index(
            spark, emb, "embedding", "vec_id", p, overwrite=True
        ),
        "PqIndex": lambda p: create_pq_index(spark, emb, "embedding", "vec_id", p),
        "IvfIndex": lambda p: create_ivf_index(spark, emb, "embedding", "vec_id", p),
        "IvfPqIndex": lambda p: create_ivfpq_index(
            spark, emb, "embedding", "vec_id", p
        ),
        "IvfSqIndex": lambda p: create_ivfsq_index(
            spark, emb, "embedding", "vec_id", p
        ),
        "BqIndex": lambda p: create_bq_index(spark, emb, "embedding", "vec_id", p),
    }
    for cls, build in builders.items():
        p = str(tmp_path / cls)
        build(p)
        assert type(load_any_index(spark, p)).__name__ == cls


def test_pq_dml_lifecycle_matches_model(spark, tmp_path):
    """Model-based lifecycle check (hypothesis-style op sequences,
    derandomized): arbitrary interleavings of delete_batch / add_batch
    (with revive + duplicate appends) / compact must track a plain
    Python model of the DOCUMENTED count semantics (manifest count =
    physical rows, deleted_count = tombstoned ids, live = difference;
    compact drops every row of a tombstoned id and clears the set) and
    must never surface a tombstoned id in a full-rerank search."""
    import numpy as np

    from duckdb_vss_spark.index.pq import create_pq_index

    rng = np.random.RandomState(11)
    vecs = {i: [float(x) for x in rng.randn(8)] for i in range(60)}

    def frame(ids):
        return spark.createDataFrame(
            [(int(i), vecs[i]) for i in ids], "vec_id long, embedding array<float>"
        )

    ix = create_pq_index(
        spark, frame(range(60)), "embedding", "vec_id",
        str(tmp_path / "model"), m=4, ksub=8,
    )
    # model state
    rows = {i: 1 for i in range(60)}  # physical row count per id
    tomb: set[int] = set()

    op_rng = np.random.RandomState(7)
    ops = []
    for _ in range(8):
        kind = op_rng.choice(["del", "add", "compact"], p=[0.45, 0.45, 0.1])
        subset = sorted(op_rng.choice(60, size=op_rng.randint(1, 12), replace=False))
        ops.append((str(kind), [int(x) for x in subset]))
    ops.append(("compact", []))  # always finish with a reclaim

    qv = vecs[5]
    for kind, subset in ops:
        if kind == "del":
            ix = ix.delete_batch(frame(subset).select("vec_id"))
            tomb |= {i for i in subset if rows.get(i, 0) > 0 and i not in tomb}
        elif kind == "add":
            ix = ix.add_batch(frame(subset))
            for i in subset:
                rows[i] = rows.get(i, 0) + 1
            tomb -= set(subset)
        else:
            ix = ix.compact()
            rows = {i: c for i, c in rows.items() if i not in tomb}
            tomb = set()
        # count semantics track the model exactly: live = physical
        # rows - tombstoned IDS (the documented duplicate-id caveat —
        # exact row accounting returns at compact)
        assert ix.count == sum(rows.values()) - len(tomb), (kind, subset)
        assert int(ix.manifest.get("deleted_count", 0)) == len(tomb)
        # full-rerank search: top-5 ids == brute force over live ids
        live = [i for i in rows if i not in tomb and rows[i] > 0]
        if len(live) >= 5:
            src = frame(live)
            got = [
                r["vec_id"]
                for r in ix.knn_search(qv, 5, rerank=ix.count, source=src).collect()
            ]
            d = np.array([[sum((a - b) ** 2 for a, b in zip(vecs[i], qv))] for i in live])
            want = [live[j] for j in np.lexsort((np.array(live), d[:, 0]))[:5]]
            assert got == want, (kind, subset)


def test_stream_mask_rides_as_broadcast_and_warns(spark, emb, tmp_path):
    """r14 (VERDICT r13 #3): the executor-side query-stream masks ship
    as Spark broadcast variables (one ship per executor, not a pickled
    per-task closure), and a mask past the streaming face's
    dead-fraction threshold warns that compact() is due."""
    import warnings

    import numpy as np
    from pyspark import Broadcast

    from duckdb_vss_spark.index import tombstones as _tomb

    ix = create_pq_index(spark, emb, "embedding", "vec_id", str(tmp_path / "pqb"))
    # ~33% tombstoned: past the 25% warning threshold
    ix = ix.delete_batch(emb.where(F.col("vec_id") % 3 == 0).select("vec_id"))
    with pytest.warns(UserWarning, match="compact"):
        bc = _tomb.dead_id_broadcast(ix)
    assert isinstance(bc, Broadcast)
    # un-versioned masks resolve file-independently to the full id set
    assert np.array_equal(
        _tomb.applicable_dead(_tomb.unwrap_dead(bc)), _tomb.dead_id_array(ix)
    )
    assert _tomb.unwrap_dead(None) is None
    assert _tomb.applicable_dead(None) is None

    # below the threshold: a broadcast, silently
    ix2 = create_pq_index(spark, emb, "embedding", "vec_id", str(tmp_path / "pqc"))
    ix2 = ix2.delete_batch(emb.where(F.col("vec_id") == 3).select("vec_id"))
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        bc2 = _tomb.dead_id_broadcast(ix2)
    assert isinstance(bc2, Broadcast)
    # clean artifact: no mask at all
    ix3 = create_pq_index(spark, emb, "embedding", "vec_id", str(tmp_path / "pqd"))
    assert _tomb.dead_id_broadcast(ix3) is None


@pytest.mark.parametrize("family", ["pq", "ivf", "ivfpq", "ivfsq", "bq"])
def test_drop_keeps_a_directory_without_manifest(tmp_path, family):
    """``drop_*_index`` removes an artifact only where a
    ``manifest.json`` marks one: a mistyped path to any other directory
    survives, for every family."""
    import importlib

    mod = importlib.import_module(f"duckdb_vss_spark.index.{family}")
    d = tmp_path / "not_an_index"
    d.mkdir()
    (d / "data.parquet").write_bytes(b"payload")
    getattr(mod, f"drop_{family}_index")(str(d))
    assert (d / "data.parquet").read_bytes() == b"payload"
