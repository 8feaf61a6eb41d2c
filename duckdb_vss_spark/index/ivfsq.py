"""IVF×SQ: inverted-file routing over scalar-quantized codes — the
second point on the prune×compress composition grid (ivfpq.py is the
first).

IVF prunes WHICH rows are scanned (inverted lists = parquet
partitions, so probing compiles to partition pruning Catalyst proves);
SQ8 shrinks BYTES per scanned row (1 byte/dim, exact per-dim min/max
bounds — no codebook training, no sampled distortion). Compared to
IVFADC this trades compression ratio (PQ: ~1 byte per 2-8 dims) for a
training-free build and an EXACTLY reproducible codec: the ADC scan
over probed lists is fixed-order IEEE arithmetic end to end (sq.py),
so candidate scores replay bit-for-bit in SQL — the only approximation
left is which lists were probed, and the re-rank restores top-k
exactness the same way the PQ/IVFADC paths do.

Layout on disk:

    <path>/manifest.json               metric, dims, nlist, centroids,
                                       SQ bounds (mins/maxs), stats
    <path>/lists/list_id=N/*.parquet   (id, codes array<int>) — no raw
                                       vectors; the byte win is the point

Build = one Spark job: the IVF module's sampled k-means + broadcast
assignment, one exact min/max aggregation for the SQ bounds, encode
map-only, ``partitionBy(list_id)`` write (the only shuffle).
"""

from __future__ import annotations

import logging
import math
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_vss_spark.index.base import (
    IvfLists,
    _count_and_dims,
    _fresh_dir,
    _id_vec,
    _shortlist_frame,
    _training_sample,
    mtime_lru,
)

__all__ = ["IvfSqIndex", "create_ivfsq_index", "load_ivfsq_index", "drop_ivfsq_index"]

_LOG = logging.getLogger(__name__)


class IvfSqIndex(IvfLists):
    """Handle over a built IVF×SQ artifact."""

    label = "IVF-SQ"

    def __init__(self, spark: SparkSession, path: str, manifest: dict):
        super().__init__(spark, path, manifest)
        self._mins = np.asarray(manifest["sq_mins"], dtype=np.float64)
        self._maxs = np.asarray(manifest["sq_maxs"], dtype=np.float64)

    def knn_search(
        self,
        query_vec,
        k: int,
        nprobe: int | None = None,
        rerank: int | None = None,
        source: DataFrame | None = None,
        dist_col: str = "dist",
    ) -> DataFrame:
        """Probe ``nprobe`` lists (parquet partition pruning), SQ-ADC
        score the probed codes (asymmetric: raw query vs reconstructed
        corpus — the sq.py codec, bit-reproducible), take the top
        ``rerank`` (or ``k``) candidates, and — when ``source`` is
        given — re-rank them exactly against the original vectors via a
        broadcast id semi-join (late materialization, the same shape as
        the PQ/IVFADC re-rank)."""
        from duckdb_vss_spark.functions.distance import distance_for_metric
        from duckdb_vss_spark.index.sq import sq_reconstruct

        qv64, probes = self._probes(query_vec, nprobe)
        q = [float(x) for x in query_vec]
        id_col = self.manifest["id_col"]
        qv = F.from_json(
            F.lit("[" + ",".join(repr(float(x)) for x in q) + "]"),
            "array<double>",
        )
        dist_fn = distance_for_metric(self.manifest["metric"])
        nshort = int(rerank or k)
        # r16 (guide §1): gate-small artifacts resolve the SQ-ADC
        # shortlist ON the driver (bit-identical replay of the
        # reconstruction+distance tree) — the candidate stage becomes
        # an order-preserving LocalTableScan; oversized artifacts keep
        # the distributed scan (the 100 TB path)
        pairs = self._driver_sq_shortlist(qv64, probes, nshort)
        if pairs is not None:
            shortlist = _shortlist_frame(self.spark, pairs, id_col, dist_col)
        else:
            recon = sq_reconstruct(F.col("codes"), self._mins, self._maxs)
            shortlist = (
                self._data_df()
                .where(F.col("list_id").isin(probes))
                .withColumn(dist_col, dist_fn(recon, qv))
                .orderBy(F.col(dist_col).asc_nulls_last(), F.col(id_col))
                .limit(nshort)
            )
        if source is None:
            return shortlist.select(id_col, dist_col).limit(int(k))
        return self._rerank_one(source, q, k, pairs, shortlist, dist_col).select(
            id_col, dist_col
        )

    def knn_join(
        self,
        queries: DataFrame,
        query_vec_col: str,
        k: int,
        query_id_col: str,
        nprobe: int | None = None,
        rerank: int | None = None,
        source: DataFrame | None = None,
        dist_col: str = "dist",
        rn_col: str = "rn",
        broadcast_queries: bool | None = None,
        broadcast_budget_bytes: int = 64 << 20,
    ) -> DataFrame:
        """Batched multi-query IVF×SQ top-k (r13 — completes the
        family's knn_join matrix; the IvfIndex.knn_join shape with the
        SQ codec in the scoring seat): each query explodes to its
        ``nprobe`` probe lists, an equi-join on ``list_id`` routes it
        to exactly those SQ-coded candidates (shuffle ∝ queries·nprobe
        + probed lists, never queries × rows), the asymmetric SQ-ADC
        distance (raw query vs reconstructed corpus — the sq.py codec,
        bit-reproducible) scores them, and a ``row_number ≤ k`` window
        merges. Optional exact re-rank late-materializes the top
        ``rerank`` candidates per query against ``source``."""
        from duckdb_vss_spark.functions.distance import distance_for_metric
        from duckdb_vss_spark.index.sq import sq_reconstruct

        recon = sq_reconstruct(F.col("codes"), self._mins, self._maxs)
        dist = distance_for_metric(self.metric)(
            recon, F.col(query_vec_col).cast("array<double>")
        )
        cand = self._probe_join(
            queries, query_vec_col, query_id_col, nprobe, rerank or k, dist_col,
            rn_col, dist, ("codes", "list_id", query_vec_col), broadcast_queries,
            broadcast_budget_bytes,
        )
        if not rerank:
            return cand
        if source is None:
            raise ValueError(
                "rerank requires the source DataFrame with original vectors"
            )
        # cand is hash-partitioned by query already: distinct adds no shuffle
        pairs = cand.select(query_id_col, self.manifest["id_col"]).distinct()
        return self._rerank_join(
            queries, query_vec_col, query_id_col, pairs, source, k, dist_col, rn_col
        )

    def add_batch(
        self, df: DataFrame, manifest_extra: dict | None = None
    ) -> "IvfSqIndex":
        """Offline incremental maintenance (r12 — the IVF×SQ face of the
        add_batch family): assign to the FROZEN centroids and SQ-encode
        with the FROZEN per-dim bounds in one map-only stage, hive-append
        into ``lists/``, atomically bump the manifest count. Frozen-codec
        caveat specific to SQ: batch values OUTSIDE the trained min/max
        range clamp to the range edge (larger reconstruction error for
        those dims) — fine for appends from the same distribution;
        rebuild when the distribution shifts. Appended ids are not
        deduplicated (the reference's Insert appends too). Empty batch:
        no-op (ADVICE r12, family-consistent). Crash window: commits
        via staged_append — after a crash inside the rename→manifest
        window, rebuild."""
        from duckdb_vss_spark.index.ivf import _assign_udf
        from duckdb_vss_spark.index.manifest import staged_append
        from duckdb_vss_spark.index.sq import sq_encode

        src, n = self._batch(df)
        if n == 0:
            return self
        man = self.manifest
        assign = _assign_udf(self._centroids, man["metric"])
        encoded = sq_encode(src, man["vec_col"], self._mins, self._maxs).withColumn(
            "list_id", assign(F.col(man["vec_col"]))
        )
        moved = staged_append(
            encoded.select(man["id_col"], "codes", "list_id"),
            os.path.join(self.path, "lists"),
            partition_by="list_id",
        )
        return self._commit_append(src, moved, n, manifest_extra)

    def _driver_sq_shortlist(self, qv: np.ndarray, probes, take: int):
        """(id, dist) SQ-ADC top-``take`` over the PROBED lists, on the
        driver (the walk in ``QuantizedIndex._driver_shortlist``), or
        None for the distributed scan. The codes reconstruct into an f64
        matrix as ``mn[b] + (code/255.0)·(mx[b]−mn[b])`` — the generated
        Column tree's per-element ops in its order — and the exact
        kernel folds ``array_distance`` over it, so scores are
        bit-identical. l2sq only — the only metric create_ivfsq_index
        accepts (v1); any other keeps the distributed scan."""
        from duckdb_vss_spark.functions import kernels

        if self.metric != "l2sq":
            return None
        id_col, dims = self.manifest["id_col"], self.dims
        mins, span = self._mins, self._maxs - self._mins

        def score(_lid, codes):
            return kernels.metric_distance(
                "l2sq", mins + (codes.astype(np.float64) / 255.0) * span, qv
            )

        return self._driver_shortlist(
            take, dims * 8, lambda f: _load_sq_codes(f, id_col, dims), score, probes
        )


# mtime-keyed LRU of decoded SQ code files for repeated single-query
# searches on gate-small artifacts (the IVF×SQ face of bq._load_sigs)
@mtime_lru(32)
def _load_sq_codes(file: str, id_col: str, dims: int):
    """(ids, uint8 (n, dims) code matrix) for one inverted-list data
    file, or None when the stored shape cannot take the driver fold —
    NULL elements or ragged rows keep Spark's NULL/size-mismatch
    semantics on the distributed scan."""
    import pyarrow.parquet as papq

    t = papq.read_table(file, columns=[id_col, "codes"])
    ids = np.asarray(t[id_col].to_pylist(), dtype=np.int64)
    col = t["codes"].combine_chunks()
    if col.null_count:
        return None
    flat = col.flatten()
    if flat.null_count or len(flat) != len(ids) * dims:
        return None
    off = np.asarray(col.offsets)
    if len(ids) and not bool((np.diff(off) == dims).all()):
        return None  # uniform total length but ragged rows
    codes = flat.to_numpy(zero_copy_only=False).astype(np.uint8)
    return ids, codes.reshape(len(ids), dims)


def create_ivfsq_index(
    spark: SparkSession,
    df: DataFrame,
    vec_col: str,
    id_col: str,
    path: str,
    name: str = "ivfsq_idx",
    metric: str = "l2sq",
    nlist: int | None = None,
    default_nprobe: int | None = None,
    sample_per_list: int = 256,
    kmeans_iters: int = 10,
    seed: int = 42,
    overwrite: bool = False,
) -> IvfSqIndex:
    """Bulk build: sampled-k-means routing (ivf.py machinery) + exact
    SQ bounds + map-only encode + partitioned write of (id, codes)."""
    if metric != "l2sq":
        raise ValueError("IVF-SQ v1 supports metric='l2sq' only")
    from duckdb_vss_spark.index.ivf import _assign_udf, _calibrate_nprobe, _kmeans
    from duckdb_vss_spark.index.sq import sq_encode, train_sq
    from duckdb_vss_spark.session import check_persistence_enabled

    check_persistence_enabled(spark)
    src = _id_vec(df, id_col, vec_col)
    total, dims = _count_and_dims(src, vec_col, "an IVF-SQ index")
    if nlist is None:
        nlist = max(2, min(4096, int(math.isqrt(total))))
    nlist = int(min(nlist, total))
    sample, _ = _training_sample(src, vec_col, None, total, nlist * sample_per_list, seed)
    centroids = _kmeans(sample, nlist, kmeans_iters, seed)
    if default_nprobe is None:
        default_nprobe = _calibrate_nprobe(sample, centroids, "l2sq")
        _LOG.info(
            "ivfsq: calibrated default_nprobe=%d/%d (routing recall>=0.9 "
            "on the training sample)", default_nprobe, nlist,
        )

    mins, maxs = train_sq(src, vec_col)
    _fresh_dir(path, overwrite)
    assign = _assign_udf(centroids, "l2sq")
    encoded = sq_encode(src, vec_col, mins, maxs).withColumn(
        "list_id", assign(F.col(vec_col))
    )
    encoded.select(id_col, "codes", "list_id").write.partitionBy("list_id").parquet(
        os.path.join(path, "lists")
    )
    manifest = {
        "name": name,
        "metric": metric,
        "dimensions": dims,
        "nlist": nlist,
        "default_nprobe": default_nprobe,
        "count": total,
        "id_col": id_col,
        "vec_col": vec_col,
        "centroids": [[float(x) for x in c] for c in centroids],
        "sq_mins": [float(x) for x in mins],
        "sq_maxs": [float(x) for x in maxs],
    }
    from duckdb_vss_spark.index.manifest import write_manifest

    write_manifest(path, manifest)
    return IvfSqIndex(spark, path, manifest)


load_ivfsq_index = IvfSqIndex.load
drop_ivfsq_index = IvfSqIndex.drop
