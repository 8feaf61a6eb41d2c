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

import logging
import math
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StructField,
    StructType,
)

from duckdb_vss_spark.functions.distance import distance_for_metric
from duckdb_vss_spark.index.base import (
    IvfLists,
    _fresh_dir,
    _id_vec,
    _list_parquet_files,
    _local_or_count,
    _norm_rows,
    _now,
    _shortlist_frame,
    _training_sample,
    centroid_dists,
    coarse_probe,
)
from duckdb_vss_spark.index.ivf import _calibrate_nprobe, _kmeans
from duckdb_vss_spark.index.manifest import write_manifest
from duckdb_vss_spark.index.pq import (
    _adc_scores,
    _buffered_query_stream,
    _encode_batch,
    _fetch_candidates,
    _load_codes,
    _merge_source_fields,
    _merge_topk,
    _resolve_rerank,
    _source_manifest_fields,
    train_pq_codebooks,
)

__all__ = ["create_ivfpq_index", "load_ivfpq_index", "drop_ivfpq_index", "IvfPqIndex"]

_LOG = logging.getLogger(__name__)


def _assign_encode_udf(centroids: np.ndarray, books: np.ndarray, metric: str):
    """One Arrow pass: nearest-centroid assignment + residual PQ encode.
    Returns struct(list_id int, pq_code binary)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    c = centroids.astype(np.float64)
    out_t = StructType(
        [
            StructField("list_id", IntegerType()),
            StructField("pq_code", BinaryType()),
        ]
    )

    def enc(v):
        mat = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        mat = _norm_rows(mat, metric)
        assign = centroid_dists(mat, c).argmin(axis=1)
        resid = mat - c[assign]
        codes = _encode_batch(resid, books)
        return pd.DataFrame(
            {
                "list_id": assign.astype(np.int32),
                "pq_code": [x.tobytes() for x in codes],
            }
        )

    return pandas_udf(enc, out_t)


def _ivfadc_query_stream(
    batches,
    query_vec_col: str,
    query_id_col: str,
    id_col: str,
    files_by_list: dict[int, list[str]],
    cents: np.ndarray,
    books: np.ndarray,
    metric: str,
    nprobe: int,
    take: int,
    chunk: int,
    slab: int = 16384,
    dead: np.ndarray | None = None,
):
    """Executor-side multi-query IVFADC over a stream of query batches
    (the residual-PQ twin of pq._adc_query_stream; VERDICT r9 #2: the
    old path ``collect()``ed the query set to the driver; buffering
    shared via pq._buffered_query_stream — review r10). Per flush of
    ≤``chunk`` queries: route each query to its ``nprobe`` nearest
    coarse centroids, then — list by list over the UNION of probed
    lists — load only that list's code files (worker-LRU), build the
    residual LUT block for exactly the queries probing it (vectorized
    over the query subset), score in ``slab``-row blocks, and fold into
    per-query tie-safe running top-``take`` heaps. Genuine pruning is
    preserved: a list no flush-query probes is never read. Peak memory
    is one (|probers|, m, ksub) LUT block + one (|probers| × slab)
    float64 block, independent of corpus size."""
    from duckdb_vss_spark.index.tombstones import unwrap_dead

    dead = unwrap_dead(dead)  # broadcast mask -> array, worker-side
    m, ksub, dsub = books.shape

    def score(qids: np.ndarray, qmat: np.ndarray):
        nq = len(qids)
        probes = coarse_probe(cents, qmat, nprobe)  # (nq, nprobe)
        by_list: dict[int, list[int]] = {}
        for qi in range(nq):
            for lid in probes[qi]:
                by_list.setdefault(int(lid), []).append(qi)
        best_d = np.full((nq, take), np.inf)
        best_i = np.full((nq, take), -1, dtype=np.int64)
        for lid in sorted(by_list):
            files = files_by_list.get(lid)
            if not files:
                continue
            qs = np.asarray(by_list[lid], dtype=np.int64)
            resid = qmat[qs] - cents[lid]  # (|qs|, dims)
            luts = np.empty((len(qs), m, ksub), dtype=np.float64)
            for j in range(m):
                rs = resid[:, j * dsub : (j + 1) * dsub]
                luts[:, j, :] = ((books[j][None, :, :] - rs[:, None, :]) ** 2).sum(
                    axis=2
                )
            for file in files:
                ids, codes = _load_codes(file, id_col, m)
                if dead is not None:
                    # tombstone mask (r13 delete_batch; r14 versioned)
                    # — after the LRU fetch so the cached arrays stay
                    # unmasked; resolved per file (epoch-bounded kills)
                    from duckdb_vss_spark.index.tombstones import mask_dead

                    ids, codes = mask_dead(ids, codes, dead, file)
                for lo in range(0, len(ids), slab):
                    arr = codes[lo : lo + slab]
                    d = np.zeros((len(qs), len(arr)), dtype=np.float64)
                    for j in range(m):
                        d += luts[:, j, arr[:, j]]
                    best_d[qs], best_i[qs] = _merge_topk(
                        best_d[qs], best_i[qs], d, ids[lo : lo + slab], take
                    )
        return best_d, best_i

    return _buffered_query_stream(
        batches, query_vec_col, query_id_col, metric, take, chunk, score
    )


def _codes_files_by_list(codes_dir: str) -> dict[int, list[str]]:
    """Map list_id -> its parquet files under the hive-partitioned
    ``codes/list_id=N/`` layout (driver-side listing; file COUNT is
    nlist-bounded, not corpus-bounded)."""
    out: dict[int, list[str]] = {}
    for entry in os.listdir(codes_dir):
        if not entry.startswith("list_id="):
            continue
        lid = int(entry.split("=", 1)[1])
        out[lid] = _list_parquet_files(os.path.join(codes_dir, entry))
    return out


class IvfPqIndex(IvfLists):
    """Handle over a built IVFADC artifact."""

    data_dir = "codes"
    label = "IVFPQ"

    def __init__(self, spark: SparkSession, path: str, manifest: dict):
        super().__init__(spark, path, manifest)
        self._books = np.asarray(manifest["codebooks"], dtype=np.float64)

    @property
    def m(self) -> int:
        return self.manifest["m"]

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
        pq._resolve_rerank, VERDICT r10 #1)."""
        import pandas as pd
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import DoubleType

        q, probes = self._probes(query_vec, nprobe)
        rerank, source = _resolve_rerank(self, k, rerank, source, "IvfPqIndex", "0.73")
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
        if source is None:
            raise ValueError("rerank requires the source DataFrame with original vectors")
        vec_col = self.manifest["vec_col"]
        dist_fn = distance_for_metric(self.metric)
        return (
            _fetch_candidates(source, cand, pairs, id_col)
            .withColumn(dist_col, dist_fn(F.col(vec_col), [float(x) for x in q]))
            .orderBy(F.col(dist_col).asc_nulls_last(), F.col(id_col))
            .limit(int(k))
            .drop(vec_col)
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
        queries_per_batch: int = 1024,
    ) -> DataFrame:
        """Batched multi-query IVFADC, executor-side (VERDICT r9 #2:
        the old path ``collect()``ed the query set to the driver): map
        over the *queries* DataFrame — each task routes its flush of
        queries to their probed lists, loads ONLY those lists' code
        files off the shared filesystem (the partition-pruning
        equivalent, list-granular, worker-LRU-cached), builds residual
        LUT blocks per (flush, list) and folds tie-safe running top-k
        heaps (``_ivfadc_query_stream``). Query cardinality is bounded
        by the cluster, not the driver; the no-rerank path is a single
        mapInPandas stage with NO shuffle. Optional exact re-rank
        late-materializes candidates against ``source`` (broadcast
        left to AQE).

        ``rerank=None`` (the default) AUTO-reranks a 10·k shortlist
        whenever the original vectors are reachable; ``rerank=0``
        forces ADC-only (see pq._resolve_rerank, VERDICT r10 #1)."""
        from pyspark.sql import Window

        rerank, source = _resolve_rerank(self, k, rerank, source, "IvfPqIndex", "0.73")
        books, metric = self._books, self.metric
        cents = self._centroids
        nprobe = int(nprobe or self.manifest["default_nprobe"])
        id_col = self.manifest["id_col"]
        files_by_list = _codes_files_by_list(os.path.join(self.path, "codes"))
        take = int(rerank) if rerank else int(k)
        chunk = max(1, int(queries_per_batch))
        from duckdb_vss_spark.index import tombstones as _tomb

        # one mask ship per EXECUTOR, not per task (VERDICT r13 #3)
        dead = _tomb.dead_id_broadcast(self)

        def stream(batches):
            return _ivfadc_query_stream(
                batches, query_vec_col, query_id_col, id_col,
                files_by_list, cents, books, metric, nprobe, take, chunk,
                dead=dead,
            )

        qrows = queries.select(query_id_col, query_vec_col).where(
            F.col(query_vec_col).isNotNull()
        )
        cand = qrows.mapInPandas(
            stream, schema="_qid long, _id long, _dist double, _rn int"
        ).select(
            F.col("_qid").alias(query_id_col),
            F.col("_id").alias(id_col),
            F.col("_dist").alias(dist_col),
            F.col("_rn").alias(rn_col),
        )
        if not rerank:
            return cand
        if source is None:
            raise ValueError("rerank requires the source DataFrame with original vectors")
        vec_col = self.manifest["vec_col"]
        dist_fn = distance_for_metric(metric)
        qvecs = qrows.withColumnRenamed(query_vec_col, "_qvec")
        w = Window.partitionBy(query_id_col).orderBy(
            F.col(dist_col).asc_nulls_last(), F.col(id_col)
        )
        return (
            source.join(cand.select(query_id_col, id_col), id_col)
            .join(qvecs, query_id_col)
            .withColumn(dist_col, dist_fn(F.col(vec_col), F.col("_qvec")))
            .withColumn(rn_col, F.row_number().over(w))
            .where(F.col(rn_col) <= int(k))
            .drop(vec_col, "_qvec")
        )

    def add_batch(
        self, df: DataFrame, manifest_extra: dict | None = None
    ) -> "IvfPqIndex":
        """Offline incremental maintenance (r12 — the IVFADC face of the
        HNSW ``add_batch``, VERDICT r11 #3): assign + residual-encode
        the new batch with the EXISTING centroids and codebooks (frozen;
        drift is a rebuild) in one map-only Arrow stage, append into the
        hive-partitioned ``codes/list_id=N/`` layout, and atomically
        update the manifest count. Probes and the executor-side query
        stream re-list the per-list files per call, so they pick the
        appended codes up immediately. The auto-rerank source extends /
        drops by the same rule as PqIndex.add_batch (a partial source
        would silently lose new-batch candidates in the re-rank join).
        Empty batch: no-op (ADVICE r12, family-consistent). Crash
        window: commits via staged_append — after a crash inside the
        rename→manifest window, rebuild."""
        from duckdb_vss_spark.index.manifest import staged_append

        src, n = self._batch(df)
        if n == 0:
            return self
        enc = _assign_encode_udf(self._centroids, self._books, self.metric)(
            F.col(self.manifest["vec_col"])
        )
        moved = staged_append(
            src.withColumn("_e", enc).select(
                self.manifest["id_col"],
                F.col("_e.list_id").alias("list_id"),
                F.col("_e.pq_code").alias("pq_code"),
            ),
            os.path.join(self.path, "codes"),
            partition_by="list_id",
        )
        return self._commit_append(
            src, moved, n, manifest_extra,
            source_fields=_merge_source_fields(self.manifest, df, "IvfPqIndex"),
        )


def create_ivfpq_index(
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
    driver_build_max_bytes: int = 4 << 20,
    overwrite: bool = False,
) -> IvfPqIndex:
    """Train coarse centroids + residual codebooks on one driver-sized
    sample, then ONE map-only assign-and-encode stage and one
    ``partitionBy(list_id)`` write."""
    if metric not in ("l2sq", "cosine"):
        raise ValueError("IVFPQ 'metric' must be 'l2sq' or 'cosine' (no 'ip' residuals)")
    if ksub > 256:
        raise ValueError("ksub must be <= 256 (codes are one byte per subspace)")
    from duckdb_vss_spark.session import check_persistence_enabled

    check_persistence_enabled(spark)
    src = _id_vec(df, id_col, vec_col)
    # driver-local fast path (r10, see create_hnsw_index's twin note):
    # small file-backed source + whole-table training sample → ONE
    # bounded collect serves training, assign+encode (same numpy
    # kernels as the Arrow UDF) and the partitioned codes write
    local_rows, total, dims = _local_or_count(
        src, vec_col, "an IVFPQ index", driver_build_max_bytes
    )
    if nlist is None:
        nlist = max(2, min(4096, int(math.isqrt(total))))
    nlist = int(min(nlist, total))
    sample_mat, local_rows = _training_sample(
        src, vec_col, local_rows, total, max(nlist * sample_per_list, ksub * 4), seed
    )
    sample = _norm_rows(sample_mat, metric)
    centroids = _kmeans(sample, nlist, kmeans_iters, seed)
    if default_nprobe is None:
        # target 0.95 (not the IVF family's 0.9): since r11 the default
        # knn path auto-reranks, which removes the residual-quantization
        # loss entirely — routing is then the ONLY loss term, so shipped
        # end-to-end recall@10 ≈ routing recall. 0.9 routing shipped
        # 0.8875 end-to-end (BENCH r11); 0.95 clears the ≥0.9 contract.
        default_nprobe = _calibrate_nprobe(sample, centroids, metric, target=0.95)
        _LOG.info(
            "ivfpq: calibrated default_nprobe=%d/%d (routing recall>=0.95 "
            "on the training sample)", default_nprobe, nlist,
        )
    # residual codebooks: quantize what the coarse quantizer leaves over
    assign = centroid_dists(sample, centroids).argmin(axis=1).astype(np.int32)
    books = train_pq_codebooks(sample - centroids[assign], m, ksub, kmeans_iters, seed)
    _fresh_dir(path, overwrite)

    codes_dir = os.path.join(path, "codes")
    if local_rows is not None:
        import pyarrow as pa
        import pyarrow.parquet as pq_

        # sample IS the normed corpus in collected order; replicate the
        # UDF's assign -> residual -> encode exactly
        codes = _encode_batch(sample - centroids[assign], books)
        ids = np.fromiter((r[0] for r in local_rows), dtype=np.int64, count=total)
        for lid in np.unique(assign):
            sel = np.flatnonzero(assign == lid)
            part = os.path.join(codes_dir, f"list_id={int(lid)}")
            os.makedirs(part)
            pq_.write_table(
                pa.table(
                    {
                        id_col: pa.array(ids[sel]),
                        "pq_code": pa.array(
                            [codes[i].tobytes() for i in sel], type=pa.binary()
                        ),
                    }
                ),
                os.path.join(part, "part-00000.parquet"),
            )
    else:
        enc = _assign_encode_udf(centroids, books, metric)(F.col(vec_col))
        (
            src.withColumn("_e", enc)
            .select(id_col, F.col("_e.list_id").alias("list_id"), F.col("_e.pq_code").alias("pq_code"))
            .write.partitionBy("list_id")
            .parquet(codes_dir)
        )

    manifest = {
        "index_name": name,
        "vec_col": vec_col,
        "id_col": id_col,
        "metric": metric,
        "dimensions": dims,
        "nlist": nlist,
        "default_nprobe": default_nprobe,
        "m": m,
        "ksub": ksub,
        "count": int(total),
        "centroids": [[float(x) for x in row] for row in centroids],
        "codebooks": [[[float(x) for x in row] for row in book] for book in books],
        # gated on the USER's plan shape, not the internal projection
        # (ADVICE r11; see pq._source_manifest_fields)
        **_source_manifest_fields(df),
        "created_at": _now(),
    }
    write_manifest(path, manifest)
    return IvfPqIndex(spark, path, manifest)


load_ivfpq_index = IvfPqIndex.load
drop_ivfpq_index = IvfPqIndex.drop
