"""r16 driver-local quantized single-query search (PQ / IVFADC).

On a gate-small artifact the ADC shortlist is computed ON the driver
with the exact cluster kernels (pq._load_codes + the same numpy
expressions the pandas UDFs run), so results must be BIT-identical to
the distributed scan. These differentials force the cluster path with
``spark.vss.driver_probe_max_bytes=0`` and compare collected rows
exactly — across plain tombstones, versioned (epoch-bounded) kills,
duplicate re-added ids, list pruning, and both rerank modes."""

import contextlib

import pytest
from pyspark.sql import functions as F

from duckdb_vss_spark.index.bq import create_bq_index
from duckdb_vss_spark.index.ivfpq import create_ivfpq_index
from duckdb_vss_spark.index.pq import create_pq_index

GATE = "spark.vss.driver_probe_max_bytes"


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


@pytest.fixture(scope="module")
def emb(spark):
    return (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .where(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
        .cache()
    )


@pytest.fixture(scope="module")
def qv(emb):
    return [float(x) for x in emb.where(F.col("vec_id") == 11).first()["embedding"]]


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _assert_bit_identical(spark, mk_df, min_rows=1):
    """Driver-path result == forced-cluster result, bit for bit —
    including the SCHEMA (the literal frame must not widen/narrow any
    column type the distributed scan produces)."""
    d = mk_df()
    got = _rows(d)
    got_types = d.dtypes
    with forced_cluster(spark):
        c = mk_df()
        want = _rows(c)
        want_types = c.dtypes
    assert got_types == want_types, f"schema diverged: {got_types} != {want_types}"
    assert got == want, f"driver path diverged:\n  got  {got}\n  want {want}"
    assert len(got) >= min_rows
    return got


def test_pq_adc_only_bit_identical(spark, emb, qv, tmp_path):
    ix = create_pq_index(spark, emb, "embedding", "vec_id", str(tmp_path / "pq"))
    _assert_bit_identical(
        spark, lambda: ix.knn_search(qv, 10, rerank=0), min_rows=10
    )


def test_pq_rerank_bit_identical(spark, emb, qv, tmp_path):
    ix = create_pq_index(spark, emb, "embedding", "vec_id", str(tmp_path / "pq"))
    # default auto-rerank (manifest source) and explicit source+width
    _assert_bit_identical(spark, lambda: ix.knn_search(qv, 10), min_rows=10)
    _assert_bit_identical(
        spark,
        lambda: ix.knn_search(qv, 10, rerank=ix.count, source=emb),
        min_rows=10,
    )


def test_pq_tombstoned_and_duplicates(spark, emb, qv, tmp_path):
    ix = create_pq_index(spark, emb, "embedding", "vec_id", str(tmp_path / "pq"))
    # plain tombstones (id-only kills)
    ix = ix.delete_batch([r["vec_id"] for r in emb.limit(5).collect()])
    got = _assert_bit_identical(
        spark, lambda: ix.knn_search(qv, 10, rerank=0), min_rows=10
    )
    dead = {r["vec_id"] for r in emb.limit(5).collect()}
    assert not ({i for i, _d in got} & dead), "tombstoned id leaked"
    # duplicate re-added id: BOTH physical copies must reach the
    # shortlist (the r13 duplicate-id caveat); the re-rank fetches the
    # id's source row once on both routes
    row11 = emb.where(F.col("vec_id") == 11)
    ix = ix.add_batch(row11)
    short = _assert_bit_identical(
        spark, lambda: ix.knn_search(qv, 10, rerank=0), min_rows=10
    )
    assert [i for i, _d in short].count(11) == 2, "duplicate id collapsed"
    _assert_bit_identical(
        spark, lambda: ix.knn_search(qv, 10, source=emb), min_rows=10
    )


def test_pq_versioned_kill_bit_identical(spark, emb, qv, tmp_path):
    ix = create_pq_index(spark, emb, "embedding", "vec_id", str(tmp_path / "pq"))
    new5 = spark.createDataFrame(
        [(5, [-x for x in qv])], "vec_id long, embedding array<float>"
    )
    nxt = int(ix.manifest.get("append_epoch", 0)) + 1
    ix = ix.delete_batch([5], epoch_lt=nxt)
    ix = ix.add_batch(new5)
    assert ix.manifest.get("versioned_tombstones")
    got = _assert_bit_identical(
        spark, lambda: ix.knn_search([-x for x in qv], 10, rerank=0), min_rows=10
    )
    assert got[0][0] == 5, "new version must win at its own vector"


def test_ivfpq_adc_only_bit_identical(spark, emb, qv, tmp_path):
    ix = create_ivfpq_index(spark, emb, "embedding", "vec_id", str(tmp_path / "i"))
    # pruned probe set AND full probes
    _assert_bit_identical(
        spark, lambda: ix.knn_search(qv, 10, nprobe=2, rerank=0), min_rows=1
    )
    _assert_bit_identical(
        spark,
        lambda: ix.knn_search(qv, 10, nprobe=ix.nlist, rerank=0),
        min_rows=10,
    )


def test_ivfpq_rerank_and_tombstones(spark, emb, qv, tmp_path):
    ix = create_ivfpq_index(spark, emb, "embedding", "vec_id", str(tmp_path / "i"))
    _assert_bit_identical(spark, lambda: ix.knn_search(qv, 10), min_rows=10)
    ix = ix.delete_batch([r["vec_id"] for r in emb.limit(5).collect()])
    got = _assert_bit_identical(
        spark,
        lambda: ix.knn_search(qv, 10, nprobe=ix.nlist, rerank=0),
        min_rows=10,
    )
    dead = {r["vec_id"] for r in emb.limit(5).collect()}
    assert not ({i for i, _d in got} & dead), "tombstoned id leaked"


def test_ivfpq_versioned_kill_bit_identical(spark, emb, qv, tmp_path):
    ix = create_ivfpq_index(spark, emb, "embedding", "vec_id", str(tmp_path / "i"))
    new5 = spark.createDataFrame(
        [(5, [-x for x in qv])], "vec_id long, embedding array<float>"
    )
    nxt = int(ix.manifest.get("append_epoch", 0)) + 1
    ix = ix.delete_batch([5], epoch_lt=nxt)
    ix = ix.add_batch(new5)
    assert ix.manifest.get("versioned_tombstones")
    got = _assert_bit_identical(
        spark,
        lambda: ix.knn_search([-x for x in qv], 10, nprobe=ix.nlist, rerank=0),
        min_rows=10,
    )
    assert got[0][0] == 5, "new version must win at its own vector"


def test_bq_hamming_bit_identical(spark, emb, qv, tmp_path):
    ix = create_bq_index(
        spark, emb, "embedding", "vec_id", str(tmp_path / "bq"), scoring="hamming"
    )
    assert ix.manifest.get("scoring", "hamming") == "hamming"
    # raw integer-Hamming shortlist and the exact-rescore default
    _assert_bit_identical(
        spark, lambda: ix.knn_search(qv, 10, rescore=0), min_rows=10
    )
    _assert_bit_identical(spark, lambda: ix.knn_search(qv, 10), min_rows=10)
    # tombstoned
    ix = ix.delete_batch([r["vec_id"] for r in emb.limit(5).collect()])
    got = _assert_bit_identical(
        spark, lambda: ix.knn_search(qv, 10, rescore=0), min_rows=10
    )
    dead = {r["vec_id"] for r in emb.limit(5).collect()}
    assert not ({i for i, _h in got} & dead), "tombstoned id leaked"


@pytest.mark.parametrize("metric", ["l2sq", "ip", "cosine"])
def test_bq_asym_bit_identical(spark, emb, qv, tmp_path, metric):
    """The asym driver shortlist replays the SQL expression tree's
    exact fold/association order — scores must be bit-equal to the
    generated-SQL route for every metric."""
    ix = create_bq_index(
        spark, emb, "embedding", "vec_id", str(tmp_path / metric),
        metric=metric, scoring="asym",
    )
    # the hamming fast path must still refuse asym artifacts
    from duckdb_vss_spark.index.bq import _driver_hamming_shortlist

    assert _driver_hamming_shortlist(ix, qv, 10) is None
    # raw float-scored shortlist (the bit-identity claim) + the
    # exact-rescore default (only the id cut matters there)
    _assert_bit_identical(
        spark, lambda: ix.knn_search(qv, 25, rescore=0), min_rows=25
    )
    _assert_bit_identical(spark, lambda: ix.knn_search(qv, 10), min_rows=10)


def test_bq_asym_tombstoned_bit_identical(spark, emb, qv, tmp_path):
    ix = create_bq_index(
        spark, emb, "embedding", "vec_id", str(tmp_path / "bqa"), scoring="asym"
    )
    ix = ix.delete_batch([r["vec_id"] for r in emb.limit(5).collect()])
    got = _assert_bit_identical(
        spark, lambda: ix.knn_search(qv, 10, rescore=0), min_rows=10
    )
    dead = {r["vec_id"] for r in emb.limit(5).collect()}
    assert not ({i for i, _s in got} & dead), "tombstoned id leaked"


def test_gate_zero_is_cluster_plan(spark, emb, qv, tmp_path):
    """The conf genuinely gates the route: at 0 the candidate plan must
    contain the distributed scan (an ArrowEvalPython ADC stage), at the
    default it must NOT (driver-resolved literal rows)."""
    ix = create_pq_index(spark, emb, "embedding", "vec_id", str(tmp_path / "pq"))
    plan = ix.knn_search(qv, 10, rerank=0)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "Scan parquet" not in plan
    with forced_cluster(spark):
        plan = (
            ix.knn_search(qv, 10, rerank=0)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "ArrowEvalPython" in plan or "BatchEvalPython" in plan


# -- IVF / IVF×SQ (second landing wave: native-JVM fold replays) ---------


@pytest.mark.parametrize("metric", ["l2sq", "ip", "cosine"])
def test_ivf_bit_identical(spark, emb, qv, tmp_path, metric):
    """The IVF driver shortlist replays the native distance Column
    tree's exact fold/association order; the fetched rows re-rank
    through the SAME JVM expression, so the full result row (id, vec,
    list_id, dist) must be bit-equal to the probed scan for every
    metric, at partial and full probe width."""
    from duckdb_vss_spark.index.ivf import create_ivf_index

    ix = create_ivf_index(
        spark, emb, "embedding", "vec_id", str(tmp_path / metric),
        metric=metric, nlist=8,
    )
    _assert_bit_identical(
        spark, lambda: ix.knn_search(qv, 10, nprobe=8), min_rows=10
    )
    _assert_bit_identical(
        spark, lambda: ix.knn_search(qv, 10, nprobe=2), min_rows=1
    )


def test_ivf_tombstoned_and_duplicates(spark, emb, qv, tmp_path):
    from duckdb_vss_spark.index.ivf import create_ivf_index

    ix = create_ivf_index(
        spark, emb, "embedding", "vec_id", str(tmp_path / "ivf"), nlist=8
    )
    ix = ix.delete_batch([r["vec_id"] for r in emb.limit(5).collect()])
    got = _assert_bit_identical(
        spark, lambda: ix.knn_search(qv, 10, nprobe=8), min_rows=10
    )
    dead = {r["vec_id"] for r in emb.limit(5).collect()}
    assert not ({r[0] for r in got} & dead), "tombstoned id leaked"
    # duplicate re-added id: BOTH physical copies must be fetched and
    # re-ranked (the In-filter fetch is set-valued, but every copy of a
    # fetched id is scanned, so multiplicity reaches the result)
    row11 = emb.where(F.col("vec_id") == 11)
    ix = ix.add_batch(row11)
    got = _assert_bit_identical(
        spark, lambda: ix.knn_search(qv, 10, nprobe=8), min_rows=10
    )
    assert [r[0] for r in got].count(11) == 2, "duplicate id collapsed"


def test_ivf_versioned_kill_bit_identical(spark, emb, qv, tmp_path):
    from duckdb_vss_spark.index.ivf import create_ivf_index

    ix = create_ivf_index(
        spark, emb, "embedding", "vec_id", str(tmp_path / "ivf"), nlist=8
    )
    new5 = spark.createDataFrame(
        [(5, [-x for x in qv])], "vec_id long, embedding array<float>"
    )
    nxt = int(ix.manifest.get("append_epoch", 0)) + 1
    ix = ix.delete_batch([5], epoch_lt=nxt)
    ix = ix.add_batch(new5)
    assert ix.manifest.get("versioned_tombstones")
    got = _assert_bit_identical(
        spark,
        lambda: ix.knn_search([-x for x in qv], 10, nprobe=8),
        min_rows=10,
    )
    assert got[0][0] == 5, "new version must win at its own vector"


def test_ivfsq_bit_identical(spark, emb, qv, tmp_path):
    """The IVF×SQ driver shortlist replays the generated
    reconstruction+distance tree (division→scale→offset per dimension,
    then the 0.0-seeded sequential fold): the no-source (id, dist)
    values AND the exact-rerank result must be bit-equal to the
    distributed route."""
    from duckdb_vss_spark.index.ivfsq import create_ivfsq_index

    ix = create_ivfsq_index(
        spark, emb, "embedding", "vec_id", str(tmp_path / "sq"), nlist=8
    )
    _assert_bit_identical(
        spark, lambda: ix.knn_search(qv, 10, nprobe=8), min_rows=10
    )
    _assert_bit_identical(
        spark, lambda: ix.knn_search(qv, 10, nprobe=2), min_rows=1
    )
    # exact re-rank: narrow (In-filter fetch) and full-corpus width
    # (broadcast semi against the local frame — the q_ivfsq_knn shape)
    _assert_bit_identical(
        spark,
        lambda: ix.knn_search(qv, 10, nprobe=8, rerank=50, source=emb),
        min_rows=10,
    )
    _assert_bit_identical(
        spark,
        lambda: ix.knn_search(
            qv, 10, nprobe=8, rerank=ix.manifest["count"], source=emb
        ),
        min_rows=10,
    )


def test_ivfsq_tombstoned_bit_identical(spark, emb, qv, tmp_path):
    from duckdb_vss_spark.index.ivfsq import create_ivfsq_index

    ix = create_ivfsq_index(
        spark, emb, "embedding", "vec_id", str(tmp_path / "sq"), nlist=8
    )
    ix = ix.delete_batch([r["vec_id"] for r in emb.limit(5).collect()])
    got = _assert_bit_identical(
        spark, lambda: ix.knn_search(qv, 10, nprobe=8), min_rows=10
    )
    dead = {r["vec_id"] for r in emb.limit(5).collect()}
    assert not ({i for i, _d in got} & dead), "tombstoned id leaked"


def test_ivf_gate_zero_is_cluster_plan(spark, emb, qv, tmp_path):
    """At gate 0 the IVF plan must be the full probed scan (no id
    In-filter); at the default the fetch is the literal In pushed into
    the partition-pruned scan."""
    from duckdb_vss_spark.index.ivf import create_ivf_index

    ix = create_ivf_index(
        spark, emb, "embedding", "vec_id", str(tmp_path / "ivf"), nlist=8
    )
    plan = ix.knn_search(qv, 5, nprobe=2)._jdf.queryExecution().executedPlan().toString()
    assert "In(vec_id" in plan and "PartitionFilters: [" in plan
    with forced_cluster(spark):
        plan = (
            ix.knn_search(qv, 5, nprobe=2)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "In(vec_id" not in plan and "PartitionFilters: [" in plan
