"""Unit tests for Z-order layout (sources/layout.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from duckdb_vss_spark.sources.layout import zorder_key, zorder_write


def _key(spark, a, b, bits=8):
    df = spark.createDataFrame([(a, b)], "a long, b long")
    return df.select(zorder_key(["a", "b"], bits).alias("k")).first().k


class TestZorderKey:
    def test_interleave_exact(self, spark):
        # a=0b11, b=0b01 -> bits of a at even*2+0? a is col 0: position
        # i*2+0; b col 1: i*2+1 -> key = a0<<0 | b0<<1 | a1<<2 | b1<<3
        assert _key(spark, 0b11, 0b01) == 0b0111
        assert _key(spark, 0, 0) == 0
        assert _key(spark, 1, 0) == 1
        assert _key(spark, 0, 1) == 2

    def test_locality_monotone_on_diagonal(self, spark):
        ks = [_key(spark, v, v) for v in (0, 1, 2, 3)]
        assert ks == sorted(ks) and len(set(ks)) == 4

    def test_null_and_negative_clamp_to_zero(self, spark):
        df = spark.createDataFrame([(None, -5)], "a long, b long")
        assert df.select(zorder_key(["a", "b"], 8).alias("k")).first().k == 0

    def test_validation(self, spark):
        with pytest.raises(ValueError):
            zorder_key(["a"], 8)
        with pytest.raises(ValueError):
            zorder_key(["a", "b", "c", "d"], 16)

    def test_write_clusters_row_groups(self, spark, tmp_path):
        # after zorder_write, per-file min/max ranges of both columns
        # are narrower than the global range (the file-skipping effect)
        df = spark.range(4096).select(
            (F.col("id") % 64).alias("a"), (F.col("id") / 64).cast("long").alias("b")
        )
        out = str(tmp_path / "z")
        zorder_write(df, out, ["a", "b"], bits=6, num_files=8)
        import pyarrow.parquet as pq
        import glob

        spans_a = []
        for f in glob.glob(out + "/*.parquet"):
            t = pq.read_table(f)
            a = t.column("a").to_pylist()
            if a:
                spans_a.append(max(a) - min(a))
        assert spans_a and sum(spans_a) / len(spans_a) < 63  # global span is 63


def test_widen_narrow_scan_widens_single_split_parquet(spark, tmp_path):
    """A one-row-group parquet scan (narrower than the cluster) is
    repartitioned up to defaultParallelism; key form hash-partitions,
    keyless form round-robins. Already-wide frames pass through
    untouched (same plan object, no added exchange)."""
    from duckdb_vss_spark.sources.layout import widen_narrow_scan

    p = str(tmp_path / "narrow.parquet")
    spark.range(1000).selectExpr("id", "id * 2 AS v").coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    target = spark.sparkContext.defaultParallelism

    wide = widen_narrow_scan(df, "id")
    assert wide.rdd.getNumPartitions() == target
    assert sorted(r["id"] for r in wide.collect()) == list(range(1000))

    rr = widen_narrow_scan(df)
    assert rr.rdd.getNumPartitions() == target

    # in-memory frame that is already at cluster width: untouched
    mem = spark.range(0, 1000, 1, target)
    assert widen_narrow_scan(mem, "id") is mem


def test_widen_narrow_scan_union_already_wide(spark, tmp_path):
    """A k-branch union re-reading one small file is already k tasks
    wide even though inputFiles() dedupes to a single path — the probe
    must count analyzed-plan leaves and pass the frame through. (The
    round-robin repartition it would otherwise insert also MIXES corpus
    slices across tasks, defeating the dedup kernels' per-batch shingle
    memoization — measured 10-15x worker CPU at 32x; see layout.py.)"""
    from functools import reduce

    from pyspark.sql import functions as F

    from duckdb_vss_spark.sources.layout import widen_narrow_scan

    p = str(tmp_path / "one.parquet")
    spark.range(100).selectExpr("id", "id * 2 AS v").coalesce(1).write.parquet(p)
    base = spark.read.parquet(p)
    target = spark.sparkContext.defaultParallelism
    branches = [
        base.select((F.col("id") + i * 1000).alias("id"), "v")
        for i in range(target)
    ]
    union = reduce(lambda a, b: a.unionByName(b), branches)
    assert widen_narrow_scan(union) is union
    assert widen_narrow_scan(union, "id") is union
    # a union still narrower than the cluster is widened
    if target > 2:
        small = reduce(lambda a, b: a.unionByName(b), branches[:2])
        assert widen_narrow_scan(small).rdd.getNumPartitions() == target


class TestInputBytes:
    """input_bytes: the no-job size probe behind broadcast-vs-shuffle
    gates (contamination's eval-broadcast gate calibrates on it)."""

    def test_single_file_is_file_size(self, spark, tmp_path):
        import glob
        import os

        from duckdb_vss_spark.sources.layout import input_bytes

        p = str(tmp_path / "t.parquet")
        spark.range(1000).coalesce(1).write.parquet(p)
        disk = sum(
            os.path.getsize(f) for f in glob.glob(p + "/*.parquet")
        )
        assert input_bytes(spark.read.parquet(p)) == disk

    def test_self_union_scales_by_leaf_count(self, spark, tmp_path):
        """inputFiles() dedupes paths, so a k-branch self-union must
        report ~k x the file bytes (leaf-count scaling), not 1x."""
        from functools import reduce

        from pyspark.sql import functions as F

        from duckdb_vss_spark.sources.layout import input_bytes

        p = str(tmp_path / "u.parquet")
        spark.range(1000).coalesce(1).write.parquet(p)
        base = spark.read.parquet(p)
        one = input_bytes(base)
        union = reduce(
            lambda a, b: a.unionByName(b),
            [base.select((F.col("id") + i).alias("id")) for i in range(8)],
        )
        assert input_bytes(union) == 8 * one

    def test_non_file_plan_is_unknown(self, spark):
        from duckdb_vss_spark.sources.layout import input_bytes

        assert input_bytes(spark.range(10)) == -1


def test_contamination_gate_prefers_shuffle_on_small_train(spark, tmp_path):
    """The eval-broadcast auto gate requires a large train input: on a
    tiny file-backed corpus the plan must contain NO broadcast of the
    eval gram keys (the skinny gram shuffle is measured cheaper below
    the flip), while an explicit broadcast_eval=True must produce one.
    Results are identical either way."""
    from duckdb_vss_spark.pipeline.contamination import ngram_contamination
    from pyspark.sql import functions as F

    p = str(tmp_path / "docs.parquet")
    rows = [(i, f"w{i} w{i+1} w{i+2} w{i+3} w{i+4}") for i in range(200)]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(p)
    docs = spark.read.parquet(p)
    is_eval = F.col("doc_id") % 10 == 0

    auto = ngram_contamination(docs, "text", "doc_id", is_eval, n=2)
    forced = ngram_contamination(
        docs, "text", "doc_id", is_eval, n=2, broadcast_eval=True
    )
    # discriminate by logical shape (AQE may still broadcast the plain
    # join's small side at runtime, which is fine): the broadcast path
    # adds a SECOND join — the eval-keys pre-filter on the train leg —
    # while the gated-off path has only the hits join
    def njoins(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return sum(1 for ln in plan.splitlines() if "Join" in ln)

    assert njoins(auto) == 1
    assert njoins(forced) == 2
    a = {(r["doc_id"], r["n_shared_grams"], r["n_train_docs"]) for r in auto.collect()}
    b = {(r["doc_id"], r["n_shared_grams"], r["n_train_docs"]) for r in forced.collect()}
    assert a == b and a


class TestCollectGateBytes:
    """collect_gate_bytes (ADVICE r10): the driver-local collect gates
    in the four index builders must bound on the LARGER of on-disk and
    footer-uncompressed size, so RLE-compressible data can't smuggle a
    huge collect under a small file."""

    def test_uncompressed_exceeds_disk_on_constant_column(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from duckdb_vss_spark.sources.layout import (
            collect_gate_bytes,
            input_bytes,
            input_uncompressed_bytes,
        )

        p = str(tmp_path / "rle.parquet")
        # a constant 512-wide array column: tiny on disk, wide in memory
        spark.range(20000).withColumn(
            "v", F.array_repeat(F.lit(1.0), 512)
        ).coalesce(1).write.parquet(p)
        df = spark.read.parquet(p)
        disk = input_bytes(df)
        unc = input_uncompressed_bytes(df)
        assert disk > 0 and unc > 0
        # footer total_byte_size is POST-encoding pre-compression, so
        # the margin is the compression ratio, not the full expansion
        assert unc > 2 * disk
        assert collect_gate_bytes(df) == max(disk, unc)

    def test_non_file_plan_is_unknown(self, spark):
        from duckdb_vss_spark.sources.layout import (
            collect_gate_bytes,
            input_uncompressed_bytes,
        )

        assert input_uncompressed_bytes(spark.range(10)) == -1
        assert collect_gate_bytes(spark.range(10)) == -1

    def test_cached_file_scan_is_probed(self, spark, tmp_path):
        """r16 regression pin: ``Dataset.inputFiles()`` walks the
        OPTIMIZED plan, where cache substitution has already replaced
        the file relation with InMemoryRelation — so once a source is
        ``.cache()``d, ``inputFiles()`` returns [] for it AND for any
        other frame over the same file, and every size gate silently
        read "unknown" (the bench caches the embeddings table, so the
        driver-local index builds all fell to their cluster paths).
        The probe must walk the ANALYZED plan, which still holds the
        HadoopFsRelation."""
        import pyarrow as pa
        import pyarrow.parquet as papq

        from duckdb_vss_spark.sources.layout import (
            collect_gate_bytes,
            input_bytes,
        )

        p = str(tmp_path / "single.parquet")
        papq.write_table(pa.table({"id": list(range(1000))}), p)
        df = spark.read.parquet(p)
        # self-union through one file: bytes must scale with leaves
        assert input_bytes(df) > 0
        assert input_bytes(df.unionByName(df)) == 2 * input_bytes(df)
        cached = df.cache()
        try:
            cached.count()
            probed = collect_gate_bytes(cached.select("id"))
            assert probed > 0
            # same file through a FRESH read while the cache stands —
            # cache substitution hits this plan too
            assert collect_gate_bytes(spark.read.parquet(p)) == probed
        finally:
            cached.unpersist()

    def test_rle_heavy_build_takes_distributed_path(self, spark, tmp_path, monkeypatch):
        """End-to-end: a PQ build over a small-on-disk but
        large-decompressed file must NOT take the driver-local collect
        fast path when the uncompressed estimate exceeds the cap."""
        from pyspark.sql import functions as F

        from duckdb_vss_spark.index import base, create_pq_index
        from duckdb_vss_spark.sources.layout import (
            input_bytes,
            input_uncompressed_bytes,
        )

        p = str(tmp_path / "vecs.parquet")
        spark.range(4000).select(
            F.col("id").alias("vid"),
            F.array_repeat(F.lit(1.0), 64).cast("array<float>").alias("v"),
        ).coalesce(1).write.parquet(p)
        df = spark.read.parquet(p)
        disk, unc = input_bytes(df), input_uncompressed_bytes(df)
        assert 0 < disk < unc
        # cap between the two sizes: the old gate (disk only) would have
        # collected; the new gate must go distributed. The build result
        # itself must still be valid either way.
        monkeypatch.setattr(base, "DRIVER_BUILD_MAX_BYTES", (disk + unc) // 2)
        idx = create_pq_index(
            spark, df, "v", "vid", str(tmp_path / "ix"), m=8, ksub=4, overwrite=True,
        )
        assert idx.manifest["count"] == 4000


class TestZorderTopBits:
    def test_wide_domain_clusters_and_prunes(self, spark, tmp_path):
        """VERDICT r15 #3: a 2^32-domain column keyed on its LOW bits
        got effectively random key order — no file skipping, silently.
        With the probed-domain TOP-bits interleave, per-file min/max
        stats on the wide column partition its domain, so a point/range
        predicate prunes most files."""
        import glob

        import pyarrow.parquet as pq

        n = 4096
        df = spark.range(n).select(
            (F.col("id") * (2**32 // n)).alias("a"),  # domain ~2^32
            (F.col("id") % 64).alias("b"),
        )
        out = str(tmp_path / "zwide")
        zorder_write(df, out, ["a", "b"], bits=8, num_files=8)
        files = sorted(glob.glob(out + "/*.parquet"))
        spans, total_min, total_max = [], None, None
        ranges = []
        for f in files:
            t = pq.read_table(f, columns=["a"])
            vals = t.column("a").to_pylist()
            if vals:
                ranges.append((min(vals), max(vals)))
        assert len(ranges) >= 4
        global_span = max(hi for _, hi in ranges) - min(lo for lo, _ in ranges)
        avg_span = sum(hi - lo for lo, hi in ranges) / len(ranges)
        # clustered: average per-file span is a small fraction of the domain
        assert avg_span < global_span / 2, (avg_span, global_span)
        # and min/max pruning would actually prune: a point predicate on
        # the wide column intersects few files' [min, max] ranges
        probe = ranges[0][0] + 1
        hit = sum(1 for lo, hi in ranges if lo <= probe <= hi)
        assert hit <= len(ranges) / 2, (hit, len(ranges))

    def test_explicit_ranges_shift_matches_oracle_sql(self, spark):
        """The ranges-bearing key and zorder_oracle_expr stay
        bit-identical (the q_zorder_key contract), including the
        offset, the top-bits shift, and the clamp of values past the
        declared max."""
        import duckdb

        from duckdb_vss_spark.sources.layout import zorder_oracle_expr

        ranges = [(100, 100 + 2**20), (0, 15)]
        rows = [(100, 0), (2**20 + 100, 15), (50, 7), (2**21, 3), (None, None)]
        df = spark.createDataFrame(rows, "a long, b long")
        got = [
            r["k"]
            for r in df.select(
                zorder_key(["a", "b"], bits=6, ranges=ranges).alias("k")
            ).collect()
        ]
        expr = zorder_oracle_expr(["a", "b"], bits=6, ranges=ranges)
        con = duckdb.connect()
        want = [
            con.execute(
                "SELECT " + expr,
                # duckdb binds NULLs via a VALUES row
            ).fetchone()[0]
            if False
            else con.execute(
                f"SELECT {expr} FROM (SELECT {'NULL' if a is None else a} AS a,"
                f" {'NULL' if b is None else b} AS b)"
            ).fetchone()[0]
            for a, b in rows
        ]
        con.close()
        assert got == want

    def test_low_bits_default_unchanged(self, spark):
        # without ranges the raw low-bits key is preserved (back-compat
        # for in-domain columns); the docstring now says so honestly
        df = spark.createDataFrame([(0b11, 0b01)], "a long, b long")
        assert (
            df.select(zorder_key(["a", "b"], 8).alias("k")).first().k == 0b0111
        )


def test_widen_narrow_scan_is_conf_aware(spark, tmp_path):
    """VERDICT r15 #4: the width probe hardcoded 128 MB and ignored
    Spark's maxSplitBytes formula — a session with a small
    maxPartitionBytes had an already-wide scan re-shuffled (a
    corpus-mixing round-robin). With the confs driving the estimate, a
    scan Spark itself would split >= defaultParallelism ways must come
    back untouched."""
    p = str(tmp_path / "conf_wide")
    spark.range(200_000).select(
        F.col("id"), F.concat(F.lit("x" * 50), F.col("id").cast("string")).alias("pad")
    ).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    import glob
    import os

    size = sum(os.path.getsize(f) for f in glob.glob(p + "/*.parquet"))
    par = spark.sparkContext.defaultParallelism
    old_max = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_open = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        # small enough that Spark itself plans >= par splits for this file
        tiny = max(1, size // (par * 2))
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(tiny))
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        from duckdb_vss_spark.sources.layout import widen_narrow_scan

        out = widen_narrow_scan(df)
        assert out is df  # no repartition inserted: the scan is already wide
        # sanity: Spark's own planning agrees (>= par scan partitions)
        assert df.rdd.getNumPartitions() >= par
        # and with default confs the same file IS narrow -> widened
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_max)
        spark.conf.set("spark.sql.files.openCostInBytes", old_open)
        out2 = widen_narrow_scan(df)
        assert out2 is not df
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_max)
        spark.conf.set("spark.sql.files.openCostInBytes", old_open)


def test_collect_gate_bound_early_exit_still_gates(spark, tmp_path):
    """VERDICT r15 #5: collect_gate_bytes walked inputFiles + footers
    twice per call. The single-pass walk with a ``bound`` stops early
    once the answer is decided; the partial total must still exceed
    the bound (the gate's decision is unchanged), and the unbounded
    call still returns the full estimate."""
    from duckdb_vss_spark.sources.layout import collect_gate_bytes

    p = str(tmp_path / "gate")
    spark.range(50_000).select(
        F.col("id"), F.col("id").cast("string").alias("s")
    ).repartition(8).write.parquet(p)
    df = spark.read.parquet(p)
    full = collect_gate_bytes(df)
    assert full > 1024
    gated = collect_gate_bytes(df, bound=1024)
    assert gated > 1024  # decision preserved
    assert gated <= full  # partial walk never overshoots the true total
    assert collect_gate_bytes(df, bound=full * 10) == full
