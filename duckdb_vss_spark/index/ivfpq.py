"""IVFADC: IVF routing × residual product quantization, composed.

The canonical billion-scale ANN layout (Jégou, Douze, Schmid, TPAMI
2011, §IV "IVFADC"): a coarse quantizer routes each vector to an
inverted list, and PQ encodes the RESIDUAL (x − centroid of its list)
rather than the raw vector. Residuals concentrate near the origin, so
the same code budget quantizes them with far less distortion than raw
coordinates — IVFADC recall at a given m beats flat PQ's.

Spark realization — the two scale levers compose mechanically:

- the inverted lists are parquet partitions (``partitionBy(list_id)``,
  exactly like index/ivf.py), so probing nprobe lists is partition
  pruning the scan provably performs;
- each partition stores (id, m-byte residual code): the pruned scan
  reads nprobe/nlist of the ROWS at m bytes per ROW — the two
  reductions multiply;
- search builds one LUT per PROBED list (the ADC tables of q − c_list;
  nprobe·m·ksub doubles — KBs riding the task closure), scores each
  Arrow batch group-wise by list_id, and merges via
  TakeOrderedAndProject; optional exact re-rank joins the top-R ids
  back to the original vectors (late materialization).

Build = two driver-sized trainings (centroids, then residual
codebooks over the same sample) + ONE map-only assign-and-encode
Arrow stage + one partitioned write: the IVF build plan with a
different payload column.

Metrics: l2sq and cosine (residuals taken on the unit sphere, like
the IVF spherical quantizer). ``ip`` is rejected — inner-product
residuals have no distance-LUT decomposition (the standard MIPS
augmentation changes the geometry; out of scope as in ivf.py's note).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_vss_spark.index.base import (
    IvfLists,
    _batch_udf,
    _norm_rows,
    _shortlist_frame,
    centroid_dists,
    coarse_probe,
)
from duckdb_vss_spark.index.pq import (
    PqIndex,
    _adc_block,
    _adc_scores,
    _books_field,
    _encode_batch,
    _load_codes,
    train_pq_codebooks,
)

__all__ = ["create_ivfpq_index", "load_ivfpq_index", "drop_ivfpq_index", "IvfPqIndex"]


def _ivfadc_codes(mat: np.ndarray, cents: np.ndarray, books: np.ndarray, metric: str) -> dict:
    """(n, dims) float64 rows → their nearest-centroid ``list_id`` and
    residual ``pq_code``: the one IVFADC encoder of both build paths
    (``base._batch_udf``)."""
    mat = _norm_rows(mat, metric)
    assign = centroid_dists(mat, cents).argmin(axis=1)
    codes = _encode_batch(mat - cents[assign], books)
    return {"list_id": assign.astype(np.int32), "pq_code": [c.tobytes() for c in codes]}


class IvfPqIndex(IvfLists):
    """Handle over a built IVFADC artifact."""

    data_dir = "codes"
    label = "IVFPQ"
    adc_recall = "0.73"
    metrics = ("cosine", "l2sq")  # no 'ip' residuals (module docstring)
    ddl_options = {"m": int, "nlist": int, "ksub": int, "default_nprobe": int}
    recorded = {k: k for k in ("nlist", "default_nprobe", "m", "ksub")}
    records_source = True

    def __init__(self, spark: SparkSession, path: str, manifest: dict):
        super().__init__(spark, path, manifest)
        self._books = np.asarray(manifest["codebooks"], dtype=np.float64)

    @property
    def m(self) -> int:
        return self.manifest["m"]

    # -- build: the codec of base.QuantizedIndex._create ------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        df: DataFrame,
        vec_col: str,
        id_col: str,
        path: str,
        name: str = "ivfpq_idx",
        metric: str = "l2sq",
        nlist: int | None = None,
        default_nprobe: int | None = None,
        m: int = 8,
        ksub: int = 16,
        sample_per_list: int = 256,
        kmeans_iters: int = 10,
        seed: int = 42,
        overwrite: bool = False,
    ) -> "IvfPqIndex":
        """Train coarse centroids + residual codebooks on one driver-sized
        sample, then ONE map-only assign-and-encode stage and one
        ``partitionBy(list_id)`` write (in-process, with the same numpy
        kernels, for a gate-small source)."""
        if ksub > 256:
            raise ValueError("ksub must be <= 256 (codes are one byte per subspace)")
        return cls._create(
            spark, df, vec_col, id_col, path, name, metric, overwrite, nlist=nlist,
            default_nprobe=default_nprobe, m=m, ksub=ksub,
            sample_per_list=sample_per_list, kmeans_iters=kmeans_iters, seed=seed,
        )

    @classmethod
    def train(cls, src, vec_col, rows, total, metric, p):
        # nprobe target 0.95 (not the IVF family's 0.9): since r11 the
        # default knn path auto-reranks, which removes the residual-
        # quantization loss entirely — routing is then the ONLY loss
        # term, so shipped end-to-end recall@10 ≈ routing recall. 0.9
        # routing shipped 0.8875 end-to-end (BENCH r11); 0.95 clears
        # the ≥0.9 contract.
        fields, rows, sample, cents = cls._train_coarse(
            src, vec_col, rows, total, metric, p, want=p["ksub"] * 4, target=0.95
        )
        # residual codebooks: quantize what the coarse quantizer leaves over
        assign = centroid_dists(sample, cents).argmin(axis=1)
        books = train_pq_codebooks(
            sample - cents[assign], p["m"], p["ksub"], p["kmeans_iters"], p["seed"]
        )
        return {**fields, "m": p["m"], "ksub": p["ksub"], "codebooks": _books_field(books)}, rows

    @staticmethod
    def _codec_arrays(man: dict) -> tuple:
        return (
            np.asarray(man["centroids"], dtype=np.float64),
            np.asarray(man["codebooks"], dtype=np.float64),
            man["metric"],
        )

    @classmethod
    def _encode_local(cls, rows, mat, man, elem):
        import pyarrow as pa

        out = _ivfadc_codes(mat, *cls._codec_arrays(man))
        return {"pq_code": pa.array(out["pq_code"], pa.binary())}, out["list_id"]

    @classmethod
    def _encode(cls, src, man):
        arrays = cls._codec_arrays(man)
        enc = _batch_udf(lambda mat: _ivfadc_codes(mat, *arrays), "list_id int, pq_code binary")
        return src.withColumn("_e", enc(F.col(man["vec_col"]))).select(
            man["id_col"],
            F.col("_e.list_id").alias("list_id"),
            F.col("_e.pq_code").alias("pq_code"),
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
        """Probe nprobe lists (partition pruning), ADC-score their
        residual codes against per-list LUTs of (q − c_list), merge
        top-k; optional exact re-rank against ``source``.

        ``rerank=None`` (the default) AUTO-reranks a 10·k shortlist
        whenever the original vectors are reachable (explicit
        ``source`` or the build-time file-backed source recorded in the
        manifest); ``rerank=0`` forces ADC-only (see
        base._resolve_rerank, VERDICT r10 #1)."""
        import pandas as pd
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import DoubleType

        q, probes = self._probes(query_vec, nprobe)
        rerank, source = self._resolve(k, rerank, source)
        qn = _norm_rows(q[None, :], self.metric)[0]

        # per-probed-list ADC tables of the query residual; the constant
        # ||q - c||-independent decomposition: d(q, c + r̂) =
        # ||q - c||² + 2(c - q)·r̂ + ||r̂||², all of which folds into a
        # per-(list, code) LUT entry computed directly from q - c.
        m, ksub, dsub = self._books.shape
        luts = np.empty((len(probes), m, ksub), dtype=np.float64)
        for pi, lid in enumerate(probes):
            r = qn - self._centroids[lid]
            for j in range(m):
                rs = r[j * dsub : (j + 1) * dsub]
                luts[pi, j] = ((self._books[j] - rs) ** 2).sum(axis=1)
        pos = {lid: pi for pi, lid in enumerate(probes)}

        id_col = self.manifest["id_col"]
        take = int(rerank) if rerank else int(k)
        # r16 (guide §1): gate-small artifacts resolve the residual-ADC
        # shortlist ON the driver with the exact cluster kernels
        # (bit-identity pinned by tests/test_quantized_driver_search) —
        # the candidate scan stage disappears while list pruning is
        # preserved; oversized artifacts keep the distributed scan
        pairs = self._driver_shortlist(
            take, m + 8, lambda f: _load_codes(f, id_col, m),
            lambda lid, codes: _adc_scores(luts[pos[lid]], codes), probes,
        )
        if pairs is not None:
            cand = _shortlist_frame(self.spark, pairs, id_col, dist_col)
        else:

            def adc(list_ids, codes):
                arr = np.frombuffer(b"".join(codes), dtype=np.uint8).reshape(
                    len(codes), m
                )
                pidx = np.array([pos[int(x)] for x in list_ids], dtype=np.int64)
                lut_rows = luts[pidx]  # (n, m, ksub)
                return pd.Series(
                    lut_rows[
                        np.arange(len(arr))[:, None], np.arange(m), arr
                    ].sum(axis=1)
                )

            adc_udf = pandas_udf(adc, DoubleType())
            cand = (
                self._data_df()
                .where(F.col("list_id").isin(probes))
                .withColumn(dist_col, adc_udf(F.col("list_id"), F.col("pq_code")))
                .orderBy(F.col(dist_col).asc_nulls_last(), F.col(id_col))
                .limit(take)
                .select(id_col, dist_col)
            )
        if not rerank:
            return cand
        return self._rerank_one(source, q, k, pairs, cand, dist_col)

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
        queries_per_batch: int = 1024,
    ) -> DataFrame:
        """Batched multi-query IVFADC, executor-side (VERDICT r9 #2)
        through the shared stream (``QuantizedIndex._stream_join``):
        each task routes its flush of queries to their probed lists,
        loads ONLY those lists' code files off the shared filesystem
        (the partition-pruning equivalent, list-granular,
        worker-LRU-cached), builds residual LUT blocks per (flush, list)
        and folds tie-safe running top-k heaps. Query cardinality is
        bounded by the cluster, not the driver; the no-rerank path is a
        single mapInPandas stage with NO shuffle. Optional exact re-rank
        late-materializes candidates against ``source``.

        ``rerank=None`` (the default) AUTO-reranks a 10·k shortlist
        whenever the original vectors are reachable; ``rerank=0``
        forces ADC-only (see base._resolve_rerank, VERDICT r10 #1)."""
        rerank, source = self._resolve(k, rerank, source)
        return self._stream_join(
            queries, query_vec_col, query_id_col, k, rerank or int(k), source,
            dist_col, rn_col, queries_per_batch, self._codec(nprobe),
        )

    _resolve = PqIndex._resolve

    def _codec(self, nprobe: int | None) -> dict:
        """The executor stream's view of the residual codes
        (``_query_stream``): each flush query routes to its ``nprobe``
        nearest coarse centroids, and each probed list scores its files
        against the residual LUTs (q − c_list) of exactly the queries
        probing it."""
        books, cents, m = self._books, self._centroids, self.m
        _m, ksub, dsub = books.shape
        nprobe = int(nprobe or self.manifest["default_nprobe"])
        id_col = self.manifest["id_col"]

        def route(qmat):
            by_list: dict[int, list[int]] = {}
            for qi, lids in enumerate(coarse_probe(cents, qmat, nprobe)):
                for lid in lids:
                    by_list.setdefault(int(lid), []).append(qi)
            return [(lid, np.asarray(by_list[lid], dtype=np.int64)) for lid in sorted(by_list)]

        def prepare(qsub, lid):
            resid = qsub - cents[lid]  # (|qs|, dims)
            luts = np.empty((len(qsub), m, ksub), dtype=np.float64)
            for j in range(m):
                rs = resid[:, j * dsub : (j + 1) * dsub]
                luts[:, j, :] = ((books[j][None, :, :] - rs[:, None, :]) ** 2).sum(axis=2)
            return luts

        files: dict[int, list[str]] = {}  # list id -> its code files
        for f, lid in self._files(range(self.nlist)):
            files.setdefault(lid, []).append(f)
        return {
            "files": files,
            "load": lambda f: _load_codes(f, id_col, m),
            "prepare": prepare,
            "score": _adc_block,
            "route": route,
        }


create_ivfpq_index = IvfPqIndex.create
load_ivfpq_index = IvfPqIndex.load
drop_ivfpq_index = IvfPqIndex.drop
