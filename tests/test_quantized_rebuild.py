"""``rebuild(snapshot)`` on every quantized family (pq, ivfpq, ivfsq, bq,
ivf): after a build, an ``add_batch`` and a ``delete_batch``, a rebuild
over the table snapshot must leave exactly the artifact a fresh
``create_*`` over the same snapshot writes — the same manifest except
its timestamps, and the same data rows. The ``pending_dml`` messages of
the DML journal tell the user to "rebuild() the index from the table
snapshot"; the last test follows that advice on a PQ index bound to a
planner table."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from duckdb_vss_spark.index import (
    create_bq_index,
    create_ivf_index,
    create_ivfpq_index,
    create_ivfsq_index,
    create_pq_index,
    load_any_index,
)
from duckdb_vss_spark.index.manifest import PendingDmlError, set_pending
from duckdb_vss_spark.plans import VssPlanner
from duckdb_vss_spark.sources import sinks

BUILD = {
    "pq": (create_pq_index, {"m": 4, "ksub": 8}),
    "ivfpq": (create_ivfpq_index, {"nlist": 4, "default_nprobe": 2, "m": 4, "ksub": 8}),
    "ivfsq": (create_ivfsq_index, {"nlist": 4, "default_nprobe": 2}),
    "bq": (create_bq_index, {}),
    "ivf": (create_ivf_index, {"nlist": 4, "default_nprobe": 2}),
}
DEAD = [3, 10, 17, 260]
TIMESTAMPS = ("created_at", "updated_at")


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    rng = np.random.default_rng(11)
    mat = rng.normal(size=(300, 16))
    root = tmp_path_factory.mktemp("rebuild_src")
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(len(mat))],
        "vid long, v array<double>",
    )
    df.coalesce(1).write.parquet(str(root / "all"))
    df.where(~F.col("vid").isin(DEAD)).coalesce(1).write.parquet(str(root / "snapshot"))
    return mat, spark.read.parquet(str(root / "all")), str(root / "snapshot")


def _artifact(spark, ix):
    man = {k: v for k, v in ix.manifest.items() if k not in TIMESTAMPS}
    rows = spark.read.parquet(f"{ix.path}/{ix.data_dir}").collect()
    data = sorted(
        repr([bytes(x) if isinstance(x, (bytes, bytearray)) else x for x in r]) for r in rows
    )
    return man, data


@pytest.mark.parametrize("fam", list(BUILD))
def test_rebuild_equals_fresh_create(spark, corpus, tmp_path, fam):
    _mat, df, snap_path = corpus
    create, params = BUILD[fam]
    ix = create(spark, df.where(F.col("vid") < 250), "v", "vid", str(tmp_path / "ix"),
                name="rb", **params)
    ix.add_batch(df.where(F.col("vid") >= 250))
    ix.delete_batch(spark.createDataFrame([(i,) for i in DEAD], "vid long"))
    assert ix.count == 296 and ix.manifest["deleted_count"] == len(DEAD)

    snapshot = spark.read.parquet(snap_path)
    out = ix.rebuild(snapshot)
    assert out is ix and ix.count == ix.manifest["count"] == 296
    fresh = create(spark, snapshot, "v", "vid", str(tmp_path / "fresh"), name="rb", **params)
    assert _artifact(spark, ix) == _artifact(spark, fresh)
    assert load_any_index(spark, ix.path).manifest == ix.manifest


def test_pending_dml_recovered_by_rebuild_on_planner_table(spark, corpus, tmp_path):
    """An insert journal that carries neither a file listing nor a
    watermark cannot be replayed: ``resolve_pending_dml`` refuses and
    names ``rebuild()``. Rebuilding the bound handle from the table
    clears the record, and the table's DML hooks and the SQL route keep
    serving the rebuilt index."""
    mat, df, _snap = corpus
    table = str(tmp_path / "items")
    df.where(F.col("vid") < 200).coalesce(1).write.parquet(table)
    p = VssPlanner(spark)
    p.register_table("items", table)
    p.sql("CREATE INDEX items_pq ON items USING PQ (v) WITH (id = 'vid', m = 4, ksub = 8)")
    ix = p._named["items_pq"]["index"]
    try:
        ix.manifest = set_pending(
            ix.path, ix.manifest, {"op": "insert", "table": table, "token": "t-crash"}
        )
        with pytest.raises(PendingDmlError):
            load_any_index(spark, ix.path)
        with pytest.raises(PendingDmlError, match=r"rebuild\(\)"):
            sinks.resolve_pending_dml(spark, ix.path)

        ix.rebuild(spark.read.parquet(table))
        assert "pending_dml" not in ix.manifest
        assert sinks.resolve_pending_dml(spark, ix.path) == "clean"
        assert load_any_index(spark, ix.path).manifest["count"] == 200

        vec = ", ".join(repr(float(x)) for x in mat[250])
        p.sql(f"INSERT INTO items VALUES (250, array({vec}))")
        assert ix.manifest["count"] == 201
        got = p.sql(
            f"SELECT vid FROM items ORDER BY array_distance(v, [{vec}]::FLOAT[16]) LIMIT 3"
        ).collect()
        assert p.last_plan == "PQ_INDEX_SCAN"
        assert got[0]["vid"] == 250
    finally:
        sinks.unbind_indexes(table)
