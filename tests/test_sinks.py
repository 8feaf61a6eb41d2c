"""Sink surface: CREATE TABLE AS / INSERT / DELETE / partition overwrite
(the reference's DDL contract on immutable storage, SURVEY §2.2)."""

from pyspark.sql import functions as F

from duckdb_vss_spark.sources.sinks import (
    delete_where,
    insert_into,
    overwrite_where,
    read_table,
    save_table,
)


def test_save_and_read_roundtrip(spark, tmp_path):
    p = str(tmp_path / "t1")
    df = spark.range(100).withColumn("g", F.col("id") % 4)
    save_table(df, p)
    assert read_table(spark, p).count() == 100


def test_partitioned_write_prunes(spark, tmp_path):
    p = str(tmp_path / "t2")
    df = spark.range(100).withColumn("g", (F.col("id") % 4).cast("int"))
    save_table(df, p, partition_by=["g"])
    got = read_table(spark, p).where(F.col("g") == 2)
    assert got.count() == 25
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan  # pruning, not post-filter


def test_insert_into_appends(spark, tmp_path):
    p = str(tmp_path / "t3")
    save_table(spark.range(10), p)
    insert_into(spark.range(10, 15), p)
    got = read_table(spark, p)
    assert got.count() == 15
    assert got.agg(F.max("id")).first()[0] == 14


def test_delete_where(spark, tmp_path):
    p = str(tmp_path / "t4")
    save_table(spark.range(100), p)
    n = delete_where(spark, p, F.col("id") >= 90)
    assert n == 10
    got = read_table(spark, p)
    assert got.count() == 90 and got.agg(F.max("id")).first()[0] == 89


def test_delete_where_counts_partitioned_table(spark, tmp_path):
    # row counts come from parquet footers only for a flat dir; a
    # partitioned table's part files sit in subdirs, so it is counted
    # by Spark instead
    p = str(tmp_path / "t6")
    df = spark.range(100).withColumn("g", (F.col("id") % 4).cast("int"))
    save_table(df, p, partition_by=["g"])
    assert delete_where(spark, p, F.col("id") >= 90) == 10
    assert read_table(spark, p).count() == 90


def test_delete_where_null_predicate_keeps_row(spark, tmp_path):
    # DELETE ... WHERE p: rows where p is NULL are NOT deleted (SQL
    # three-valued logic — only TRUE deletes)
    p = str(tmp_path / "t5")
    df = spark.createDataFrame([(1, 5), (2, None), (3, 20)], "id int, x int")
    save_table(df, p)
    n = delete_where(spark, p, F.col("x") > 10)
    assert n == 1
    assert sorted(r["id"] for r in read_table(spark, p).collect()) == [1, 2]


def test_overwrite_where_replaces_only_touched_partitions(spark, tmp_path):
    p = str(tmp_path / "t6")
    df = spark.range(100).withColumn("g", (F.col("id") % 4).cast("int"))
    save_table(df, p, partition_by=["g"])
    patch = (
        spark.range(1000, 1010)
        .withColumn("g", F.lit(2).cast("int"))
    )
    overwrite_where(patch, p, ["g"])
    got = read_table(spark, p)
    assert got.where(F.col("g") == 2).count() == 10  # replaced
    assert got.where(F.col("g") == 1).count() == 25  # untouched


def test_csv_roundtrip_and_duckdb_cross_read(spark, tmp_path):
    """CSV sink parity with the reference host (DuckDB COPY TO /
    read_csv): Spark-written headered CSV must roundtrip through Spark
    AND read identically through DuckDB's csv reader."""
    import duckdb

    from duckdb_vss_spark.sources.sinks import read_table, save_table

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "lang", "n_chars")
    )
    path = str(tmp_path / "docs_csv")
    save_table(docs, path, fmt="csv")
    back = read_table(spark, path, fmt="csv", schema="doc_id long, lang string, n_chars long")
    want = {(r["doc_id"], r["lang"], r["n_chars"]) for r in docs.collect()}
    assert {(r["doc_id"], r["lang"], r["n_chars"]) for r in back.collect()} == want
    duck = duckdb.sql(
        f"SELECT doc_id, lang, n_chars FROM read_csv('{path}/*.csv', header=true)"
    ).fetchall()
    assert {(r[0], r[1], r[2]) for r in duck} == want


def test_json_roundtrip_and_duckdb_cross_read(spark, tmp_path):
    import duckdb

    from duckdb_vss_spark.sources.sinks import read_table, save_table

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "label")
    )
    path = str(tmp_path / "emb_json")
    save_table(emb, path, fmt="json")
    back = read_table(spark, path, fmt="json", schema="vec_id long, label bigint")
    want = {(r["vec_id"], r["label"]) for r in emb.collect()}
    assert {(r["vec_id"], r["label"]) for r in back.collect()} == want
    duck = duckdb.sql(f"SELECT vec_id, label FROM read_json('{path}/*.json')").fetchall()
    assert {(r[0], r[1]) for r in duck} == want


def test_save_table_rejects_unknown_format(spark, tmp_path):
    import pytest

    from duckdb_vss_spark.sources.sinks import save_table

    docs = spark.range(3)
    with pytest.raises(ValueError, match="fmt"):
        save_table(docs, str(tmp_path / "x"), fmt="avro")


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """The 100 TB co-location story: two tables bucketed on the join key
    with the same bucket count join WITHOUT any Exchange — the shuffle
    was paid once at write time. (Broadcast disabled for the test so the
    plan can't sidestep the property.)"""
    import uuid

    from pyspark.sql import functions as F

    from duckdb_vss_spark.sources.sinks import save_table

    suffix = uuid.uuid4().hex[:8]
    ta, tb = f"bkt_a_{suffix}", f"bkt_b_{suffix}"
    a = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
    b = spark.range(500).select(F.col("id").alias("k"), (F.col("id") + 7).alias("vb"))
    save_table(a, str(tmp_path / ta), bucket_by=(8, ["k"]))
    save_table(b, str(tmp_path / tb), bucket_by=(8, ["k"]))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table(ta).join(spark.table(tb), "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert j.count() == 500
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")


def test_merge_upsert_updates_and_inserts(spark, tmp_path):
    from pyspark.sql import functions as F

    from duckdb_vss_spark.sources.sinks import merge_upsert

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    ).write.parquet(path)
    updates = spark.createDataFrame(
        [(2, "B"), (9, "Z")], "k long, v string"
    )
    stats = merge_upsert(spark, path, updates, ["k"])
    assert stats == {"updated": 1, "inserted": 1}
    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "B", 3: "c", 9: "Z"}


def test_merge_upsert_validates(spark, tmp_path):
    import pytest as _pt

    from duckdb_vss_spark.sources.sinks import merge_upsert

    path = str(tmp_path / "t2")
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(path)
    bad = spark.createDataFrame([(1,)], "k long")
    with _pt.raises(ValueError):
        merge_upsert(spark, path, bad, ["k"])
    with _pt.raises(ValueError):
        merge_upsert(spark, path, bad, [])


def test_compact_table_reduces_files_preserves_rows(spark, tmp_path):
    """OPTIMIZE-style compaction: many small files become few, rows and
    values survive byte-for-byte, swap is atomic (verify-then-rename)."""
    from duckdb_vss_spark.sources import load_table
    from duckdb_vss_spark.sources.sinks import compact_table

    path = str(tmp_path / "frag")
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    li.repartition(37).write.parquet(path)
    before = sorted(
        (r["l_orderkey"], r["l_linenumber"]) for r in spark.read.parquet(path).collect()
    )
    stats = compact_table(spark, path, target_file_mb=128)
    assert stats["files_before"] >= 37
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] == 1  # tiny table fits one 128 MB target
    after = sorted(
        (r["l_orderkey"], r["l_linenumber"]) for r in spark.read.parquet(path).collect()
    )
    assert after == before


def test_compact_table_empty_dir_raises(spark, tmp_path):
    import pytest as _pytest

    from duckdb_vss_spark.sources.sinks import compact_table

    p = tmp_path / "empty"
    p.mkdir()
    with _pytest.raises(ValueError, match="no parquet files"):
        compact_table(spark, str(p))


def test_dml_index_hooks(spark, tmp_path):
    """r13: bind_index gives the sinks the reference's DML->index hook
    behavior (hnsw_index.cpp:391-500): insert_into -> add_batch,
    delete_where -> delete_batch, merge_upsert -> tombstone + physical
    compact + add_batch (no stale version survives). Both an HNSW and
    a PQ handle bound to one table stay search-consistent with it
    through the whole insert/delete/upsert cycle."""
    import numpy as np

    from duckdb_vss_spark.index import create_hnsw_index
    from duckdb_vss_spark.index.pq import create_pq_index
    from duckdb_vss_spark.operators.topk import knn_search
    from duckdb_vss_spark.sources.sinks import (
        bind_index,
        bound_indexes,
        merge_upsert,
        unbind_indexes,
    )

    rng = np.random.RandomState(7)

    def rows(ids):
        return [(int(i), [float(x) for x in rng.randn(8)]) for i in ids]

    p = str(tmp_path / "vecs")
    save_table(
        spark.createDataFrame(rows(range(200)), "vid long, v array<float>"), p
    )
    hnsw = create_hnsw_index(
        spark, read_table(spark, p), "v", "vid", str(tmp_path / "hx"),
        overwrite=True,
    )
    pq = create_pq_index(
        spark, read_table(spark, p), "v", "vid", str(tmp_path / "px")
    )
    bind_index(p, hnsw)
    bind_index(p, pq)
    assert len(bound_indexes(p)) == 2

    # INSERT: new rows searchable in both indexes
    insert_into(
        spark.createDataFrame(rows(range(200, 220)), "vid long, v array<float>"), p
    )
    assert hnsw.count == 220 and pq.count == 220

    # DELETE: ids vanish from both
    n_del = delete_where(spark, p, F.col("vid") % 10 == 0)
    assert n_del == 22
    assert hnsw.count == 198 and pq.count == 198
    table = read_table(spark, p)
    qv = rows([999])[0][1]
    want = {r["vid"] for r in knn_search(table, "v", qv, 5).collect()}
    got_h = {r["vid"] for r in hnsw.knn_search(table, qv, 5, ef_search=400).collect()}
    got_p = {
        r["vid"]
        for r in pq.knn_search(qv, 5, rerank=pq.count, source=table).collect()
    }
    assert got_h == want and got_p == want

    # MERGE: an existing key moves to a new vector; search follows the
    # NEW version (the old one must not survive anywhere), and a new
    # key appends
    moved = rows([3])[0]
    res = merge_upsert(
        spark,
        p,
        spark.createDataFrame(
            [moved, rows([500])[0]], "vid long, v array<float>"
        ),
        ["vid"],
    )
    assert res == {"updated": 1, "inserted": 1}
    assert hnsw.count == 199 and pq.count == 199  # 198 - 1 replaced + 2
    assert not int(hnsw.manifest.get("deleted_count", 0))  # compacted
    # PQ takes the r14 O(batch) versioned path instead: the old
    # version is killed by (id, epoch < next) with NO physical compact
    assert int(pq.manifest.get("versioned_dead", 0)) == 1
    assert pq.manifest.get("versioned_tombstones") is True
    table = read_table(spark, p)
    qv3 = moved[1]  # the updated vector: its own id must be the top hit
    top_h = hnsw.knn_search(table, qv3, 1, ef_search=400).first()["vid"]
    top_p = pq.knn_search(qv3, 1, rerank=pq.count, source=table).first()["vid"]
    assert top_h == 3 and top_p == 3
    want3 = {r["vid"] for r in knn_search(table, "v", qv3, 5).collect()}
    got3 = {r["vid"] for r in hnsw.knn_search(table, qv3, 5, ef_search=400).collect()}
    assert got3 == want3

    unbind_indexes(p)
    assert bound_indexes(p) == []


def test_merge_upsert_quantized_is_o_batch(spark, tmp_path):
    """r14 (VERDICT r13 #4): the quantized upsert hook must not touch
    the existing data files — the old version dies by a versioned
    tombstone (id, epoch < next) and the new one appends at ``next``.
    Structural O(batch) proof: every pre-merge codes file survives
    byte-identical (no compact, no rewrite), only new files append.
    Search and counts follow the new version exactly, including a
    SECOND upsert of the same id (the accumulator case)."""
    import os as _os

    import numpy as np

    from duckdb_vss_spark.index.pq import create_pq_index
    from duckdb_vss_spark.operators.topk import knn_search
    from duckdb_vss_spark.sources.sinks import bind_index, merge_upsert, unbind_indexes

    rng = np.random.RandomState(11)

    def rows(ids):
        return [(int(i), [float(x) for x in rng.randn(8)]) for i in ids]

    p = str(tmp_path / "vecs")
    save_table(
        spark.createDataFrame(rows(range(150)), "vid long, v array<float>"), p
    )
    pq = create_pq_index(
        spark, read_table(spark, p), "v", "vid", str(tmp_path / "px")
    )
    bind_index(p, pq)
    try:
        codes_dir = _os.path.join(pq.path, "codes")

        def listing():
            return {
                _os.path.join(dp, f): _os.path.getsize(_os.path.join(dp, f))
                for dp, _dn, fn in _os.walk(codes_dir)
                for f in fn
                if f.endswith(".parquet")
            }

        before = listing()
        v1 = rows([7])[0]
        merge_upsert(
            spark, p,
            spark.createDataFrame([v1], "vid long, v array<float>"),
            ["vid"],
        )
        after = listing()
        # O(batch): every original file intact, only additions
        assert set(before) <= set(after)
        assert all(after[f] == sz for f, sz in before.items())
        assert pq.count == 150  # 150 - 1 killed version + 1 new
        table = read_table(spark, p)
        assert (
            pq.knn_search(v1[1], 1, rerank=pq.count, source=table).first()["vid"]
            == 7
        )
        # second upsert of the SAME id: the versioned_dead accumulator
        # keeps live counts exact where record-counting could not
        v2 = rows([7])[0]
        merge_upsert(
            spark, p,
            spark.createDataFrame([v2], "vid long, v array<float>"),
            ["vid"],
        )
        assert int(pq.manifest.get("versioned_dead", 0)) == 2
        assert pq.count == 150
        table = read_table(spark, p)
        assert (
            pq.knn_search(v2[1], 1, rerank=pq.count, source=table).first()["vid"]
            == 7
        )
        # the exact top-5 matches brute force over the CURRENT table
        want = [r["vid"] for r in knn_search(table, "v", v2[1], 5).collect()]
        got = [
            r["vid"]
            for r in pq.knn_search(v2[1], 5, rerank=pq.count, source=table).collect()
        ]
        assert got == want
        # compact() physically reclaims both killed versions exactly
        pq.compact()
        assert pq.count == 150
        assert not pq.manifest.get("versioned_tombstones")
        assert not int(pq.manifest.get("deleted_count", 0))
    finally:
        unbind_indexes(p)


def test_dml_hook_preserves_concurrent_manifest_commit(spark, tmp_path):
    """ADVICE r15: the bound-table DML hooks now take the same
    artifact_mutate_lock as the streaming mutators AND re-read the
    manifest from disk before mutating. A commit landed by a concurrent
    (serialized) mutator between bind time and the DML — simulated here
    by editing the manifest on disk behind the long-lived handle's back
    — must survive the hook's own manifest write instead of being
    erased by the stale in-memory copy."""
    import json
    import os

    import numpy as np

    from duckdb_vss_spark.index import create_hnsw_index
    from duckdb_vss_spark.index.manifest import reload_manifest, write_manifest
    from duckdb_vss_spark.sources.sinks import bind_index, unbind_indexes

    rng = np.random.RandomState(11)

    def rows(ids):
        return [(int(i), [float(x) for x in rng.randn(4)]) for i in ids]

    p = str(tmp_path / "tbl")
    save_table(
        spark.createDataFrame(rows(range(50)), "vid long, v array<float>"), p
    )
    ix_path = str(tmp_path / "hx")
    ix = create_hnsw_index(
        spark, read_table(spark, p), "v", "vid", ix_path, overwrite=True
    )
    bind_index(p, ix)
    try:
        # a concurrent mutator's committed manifest change, invisible to
        # the stale in-memory ix.manifest
        man = reload_manifest(ix_path)
        man["external_marker"] = "committed-by-other-writer"
        write_manifest(ix_path, man)
        assert "external_marker" not in ix.manifest  # handle is stale
        insert_into(
            spark.createDataFrame(rows(range(50, 60)), "vid long, v array<float>"),
            p,
        )
        after = reload_manifest(ix_path)
        assert after.get("external_marker") == "committed-by-other-writer"
        assert "pending_dml" not in after  # the hook window still closed
        # and the DML itself landed in the index
        assert any(
            pp["count"] for pp in after["partitions"]
        ) and sum(pp["count"] for pp in after["partitions"]) == 60
    finally:
        unbind_indexes(p)


def test_bind_index_dedupes_by_artifact_path(spark, tmp_path):
    """r16: a planner restart re-binds its persisted indexes while the
    module-level registry still holds the previous session's handle —
    two handles for one artifact ran every DML hook twice (doubled
    count, previously MASKED by the stale-manifest lost-update this
    round's mutate-lock fix closed). Re-binding the same artifact path
    replaces the old handle."""
    import numpy as np

    from duckdb_vss_spark.index import create_hnsw_index, load_index
    from duckdb_vss_spark.sources.sinks import (
        bind_index,
        bound_indexes,
        unbind_indexes,
    )

    rng = np.random.RandomState(3)

    def rows(ids):
        return [(int(i), [float(x) for x in rng.randn(4)]) for i in ids]

    p = str(tmp_path / "tbl")
    save_table(
        spark.createDataFrame(rows(range(20)), "vid long, v array<float>"), p
    )
    ix_path = str(tmp_path / "hx")
    ix1 = create_hnsw_index(
        spark, read_table(spark, p), "v", "vid", ix_path, overwrite=True
    )
    bind_index(p, ix1)
    ix2 = load_index(spark, ix_path)  # the restart's fresh handle
    bind_index(p, ix2)
    try:
        assert len(bound_indexes(p)) == 1  # replaced, not appended
        insert_into(
            spark.createDataFrame(rows(range(20, 25)), "vid long, v array<float>"),
            p,
        )
        assert load_index(spark, ix_path).count == 25  # hook ran ONCE
    finally:
        unbind_indexes(p)
