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

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_vss_spark.index.base import IvfLists, _load_matrix, _shortlist_frame

__all__ = ["IvfSqIndex", "create_ivfsq_index", "load_ivfsq_index", "drop_ivfsq_index"]


class IvfSqIndex(IvfLists):
    """Handle over a built IVF×SQ artifact."""

    label = "IVF-SQ"
    metrics = ("l2sq",)  # v1
    ddl_options = {"nlist": int, "default_nprobe": int}
    recorded = {"nlist": "nlist", "default_nprobe": "default_nprobe"}

    def __init__(self, spark: SparkSession, path: str, manifest: dict):
        super().__init__(spark, path, manifest)
        self._mins = np.asarray(manifest["sq_mins"], dtype=np.float64)
        self._maxs = np.asarray(manifest["sq_maxs"], dtype=np.float64)

    # -- build: the codec of base.QuantizedIndex._create ------------------

    @classmethod
    def create(
        cls,
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
    ) -> "IvfSqIndex":
        """Bulk build: sampled-k-means routing (ivf.py machinery) + exact
        SQ bounds + map-only encode + partitioned write of (id, codes).
        No driver-local build: the SQ codec is a JVM expression."""
        return cls._create(
            spark, df, vec_col, id_col, path, name, metric, overwrite, nlist=nlist,
            default_nprobe=default_nprobe, sample_per_list=sample_per_list,
            kmeans_iters=kmeans_iters, seed=seed,
        )

    @classmethod
    def train(cls, src, vec_col, rows, total, metric, p):
        from duckdb_vss_spark.index.sq import train_sq

        fields, rows, _sample, _cents = cls._train_coarse(src, vec_col, rows, total, metric, p)
        mins, maxs = train_sq(src, vec_col)
        return {
            **fields,
            "sq_mins": [float(x) for x in mins],
            "sq_maxs": [float(x) for x in maxs],
        }, rows

    @classmethod
    def _encode(cls, src, man):
        from duckdb_vss_spark.index.ivf import _assign_udf
        from duckdb_vss_spark.index.sq import sq_encode

        vec_col = man["vec_col"]
        assign = _assign_udf(np.asarray(man["centroids"], dtype=np.float64), man["metric"])
        return (
            sq_encode(src, vec_col, np.asarray(man["sq_mins"]), np.asarray(man["sq_maxs"]))
            .withColumn("list_id", assign(F.col(vec_col)))
            .select(man["id_col"], "codes", "list_id")
        )

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
            take, dims * 8, lambda f: _load_matrix(f, id_col, "codes", dims, np.uint8), score, probes
        )


create_ivfsq_index = IvfSqIndex.create
load_ivfsq_index = IvfSqIndex.load
drop_ivfsq_index = IvfSqIndex.drop
