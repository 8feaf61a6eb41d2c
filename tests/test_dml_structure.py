"""Structural pins for DML on an HNSW-indexed table.

A DELETE checks membership against the shards' keys sidecars (a JVM
column scan, no graph load and no Python worker), returns its count as an
Arrow-built local relation, and the planner reads a path table with the
schema it inferred once at registration. These tests pin job counts
and plan shapes, never wall time."""

import glob
import os

import numpy as np
import pytest

from duckdb_vss_spark.index.artifact import _keys_file, create_hnsw_index
from duckdb_vss_spark.plans import VssPlanner

N, DIMS = 1_200, 8


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _table(spark, path, ids, vecs):
    import pandas as pd

    pdf = pd.DataFrame({"id": ids, "vec": [v.tolist() for v in vecs]})
    spark.createDataFrame(pdf, "id long, vec array<float>").write.parquet(path)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def vecs():
    return np.random.default_rng(5).standard_normal((N, DIMS)).astype(np.float32)


@pytest.fixture
def bound(spark, vecs, tmp_path):
    """A planner over a path table with a SQL-created HNSW index bound
    to it (DML propagates to the index)."""
    path = str(tmp_path / "items")
    _table(spark, path, np.arange(N, dtype=np.int64), vecs)
    p = VssPlanner(spark, catalog=str(tmp_path / "cat"))
    p.register_table("items", path)
    p.sql("CREATE INDEX items_idx ON items USING HNSW (vec)")
    return p, p._named["items_idx"]["index"]


def _topk(vecs, i: int) -> str:
    lit = ", ".join(repr(float(x)) for x in vecs[i])
    return f"SELECT id FROM items ORDER BY array_distance(vec, [{lit}]::FLOAT[{DIMS}]) LIMIT 10"


def _sidecars_match_manifest(ix) -> None:
    files = [p["file"] for p in ix.manifest["partitions"]]
    assert files
    on_disk = set(glob.glob(os.path.join(ix.path, "parts", "*.keys.parquet")))
    assert on_disk == {_keys_file(f) for f in files}


def test_keys_df_scans_sidecars_without_python(bound):
    _, ix = bound
    plan = _plan(ix.keys_df())
    assert "Python" not in plan and "ExistingRDD" not in plan, plan
    assert "FileScan parquet" in plan, plan
    assert sorted(r[0] for r in ix.keys_df().collect()) == list(range(N))


def test_sql_delete_jobs_and_zero_job_result(bound, count_jobs):
    """A SQL DELETE of 50 ids on the bound table runs at most 7 Spark
    jobs: the table's schema inference in ``delete_where``, the staged
    ids and rewritten table writes, the tombstone dir's schema
    inference once tombstones exist, and up to 3 for the tombstone
    merge (AQE runs each shuffle stage as its own job). Loading the
    graphs for the membership check would add Python jobs. The Count
    frame is collected with no job."""
    p, ix = bound
    for lo in (0, 100):
        ids = ", ".join(str(i) for i in range(lo, lo + 50))
        out, n_jobs = count_jobs(lambda: p.sql(f"DELETE FROM items WHERE id IN ({ids})"))
        assert n_jobs <= 7, f"DELETE ran {n_jobs} jobs"
        row, n_first = count_jobs(out.first)
        assert row["Count"] == 50 and n_first == 0
        assert "ExistingRDD" not in _plan(out)
    assert int(ix.manifest["deleted_count"]) == 100


def test_update_result_first_runs_no_job(bound, count_jobs):
    p, _ = bound
    out = p.sql("UPDATE items SET vec = array(0, 0, 0, 0, 0, 0, 0, 1) WHERE id < 3")
    row, n_jobs = count_jobs(out.first)
    assert row["Count"] == 3 and n_jobs == 0


def test_clean_planner_topk_is_one_job(bound, vecs, count_jobs):
    """No schema inference per statement: the planner reads the table
    with the schema it inferred at registration, so a clean top-10 is
    the one fetch job."""
    p, _ = bound
    rows, n_jobs = count_jobs(lambda: p.sql(_topk(vecs, 3)).collect())
    assert p.last_plan == "HNSW_INDEX_SCAN"
    assert rows[0]["id"] == 3 and len(rows) == 10
    assert n_jobs == 1, f"clean top-10 ran {n_jobs} jobs"


def test_legacy_artifact_without_sidecars_deletes_the_same(spark, vecs, tmp_path):
    """An artifact written before the sidecars existed falls back to
    loading its graphs, for those shards only: the marked ids and the
    deleted count match the sidecar path's."""
    df = _table(spark, str(tmp_path / "t"), np.arange(N, dtype=np.int64), vecs)
    doomed = [5, 17, 17, 400, 999, N + 7, -1]  # duplicate and absent ids
    got = []
    for name, strip in (("with", 0), ("none", None), ("some", 1)):
        ix = create_hnsw_index(
            spark, df, "vec", "id", str(tmp_path / name), num_partitions=3
        )
        files = [p["file"] for p in ix.manifest["partitions"]]
        for f in files[:strip]:
            os.remove(_keys_file(f))
        plan = _plan(ix.keys_df())
        assert ("MapInPandas" in plan) == (strip != 0), plan
        ix.delete_batch(doomed)
        dead = sorted(r[0] for r in spark.read.parquet(
            os.path.join(ix.path, ix.manifest["tombstones_dir"])
        ).collect())
        got.append((dead, int(ix.manifest["deleted_count"])))
    assert got[0] == ([5, 17, 400, 999], 4)
    assert got[1] == got[0] and got[2] == got[0]


def test_sidecars_follow_merge_and_compaction(spark, vecs, tmp_path):
    """Every listed shard keeps a sidecar holding its graph's keys, and
    no orphan sidecar is left after merge_small_shards or compaction."""
    import pyarrow.parquet as pq

    from duckdb_vss_spark.index.artifact import _load_graph

    df = _table(spark, str(tmp_path / "t"), np.arange(N, dtype=np.int64), vecs)
    ix = create_hnsw_index(
        spark, df.where("id < 600"), "vec", "id", str(tmp_path / "ix"), num_partitions=2
    )
    for lo in range(600, N, 200):
        ix.add_batch(df.where(f"id >= {lo} AND id < {lo + 200}"), num_partitions=1)
    assert len(ix.manifest["partitions"]) == 5
    _sidecars_match_manifest(ix)
    ix.merge_small_shards()
    assert len(ix.manifest["partitions"]) < 5
    _sidecars_match_manifest(ix)
    for p in ix.manifest["partitions"]:
        keys = pq.read_table(_keys_file(p["file"])).column("key").to_numpy()
        assert np.array_equal(keys, _load_graph(p["file"]).keys)
    ix.delete_batch(range(0, 50))
    ix.compact_from_shards()
    assert ix.count == N - 50
    _sidecars_match_manifest(ix)
    assert sorted(r[0] for r in ix.keys_df().collect()) == list(range(50, N))
