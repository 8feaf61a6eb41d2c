"""The skeleton the quantized index families share (pq, bq, ivf, ivfpq,
ivfsq): each family keeps only its codec — a file loader and a scorer —
and gets the rest from here.

- **Driver gate**: ``spark.vss.driver_probe_max_bytes`` (also read by
  the HNSW driver probe in artifact.py) and the widest shortlist a
  driver path materializes.
- **Driver shortlist walk** (``QuantizedIndex._driver_shortlist``): the
  gate-small single-query path. It checks the budget, reads the
  tombstones without a Spark job, loads each data file through the
  family's mtime-keyed LRU, drops tombstoned rows, scores, and keeps the
  (score, id)-ordered top ``take`` — the order the distributed scan's
  ``ORDER BY dist, id`` produces. Oversized or unreadable artifacts
  return None and keep the distributed scan (the 100 TB path).
- **One mtime-keyed file LRU** (``mtime_lru``), behind the codes, sigs,
  vecs and SQ-codes loaders and the HNSW graph loader.
- **One coarse IVF quantizer** (``centroid_dists``/``coarse_probe``):
  list assignment at build, single-query probes and the knn_join probe
  UDF all rank centroids with the same arithmetic.
- **One handle base** (``QuantizedIndex``): manifest fields, the
  tombstone-filtered data frame, ``delete_batch``, ``compact``, the
  add_batch commit, ``load`` and ``drop``.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_vss_spark.index import tombstones as _tomb
from duckdb_vss_spark.index.manifest import record_epoch, write_manifest

# widest shortlist the driver path materializes as literal rows — a
# full-corpus rerank on a big artifact keeps the distributed scan
_MAX_DRIVER_SHORTLIST = 65_536


def _driver_probe_budget(spark) -> int:
    """``spark.vss.driver_probe_max_bytes`` — the broadcast-class
    driver-state budget every driver-local search path reads (the HNSW
    probe and the quantized shortlists); 0 disables them all."""
    try:
        return int(
            spark.conf.get("spark.vss.driver_probe_max_bytes", str(256 << 20))
        )
    except Exception:  # noqa: BLE001 — conf surface moved
        return 256 << 20


def _list_parquet_files(d: str) -> list[str]:
    return sorted(
        os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
    )


_NP_TYPES = {"double": np.float64, "int": np.int32}


def _shortlist_frame(
    spark, pairs, id_col: str, dist_col: str, dist_type: str = "double"
) -> DataFrame:
    """A driver-resolved shortlist as the same two-column frame the
    distributed candidate scan produces (``dist_type`` is its score
    column's type), rows ALREADY in that scan's (dist, id) output order.
    Built through pandas so the plan is an order-preserving
    LocalTableScan — collect() needs no distributed job; a plain-list
    createDataFrame would parallelize into an RDD scan costing ~0.4 s of
    scheduling per action (measured), which is the very overhead this
    path removes."""
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(
            {
                id_col: np.asarray([i for i, _d in pairs], dtype=np.int64),
                dist_col: np.asarray(
                    [d for _i, d in pairs], dtype=_NP_TYPES[dist_type]
                ),
            }
        ),
        schema=f"{id_col} long, {dist_col} {dist_type}",
    )


def mtime_lru(maxsize: int):
    """Decorate ``load(file, *args)`` with an LRU keyed by (file, mtime):
    a file rewritten in place reloads, and its stale entry is evicted.
    The cache lives per process — on the driver for the gate-small
    search paths, per Python worker for the executor streams. A load
    that returns None (a shape only the JVM can score) is not cached."""

    def wrap(load):
        cache: dict = {}

        @functools.wraps(load)
        def cached(file, *args):
            key = (file, os.path.getmtime(file))
            hit = cache.pop(key, None)
            if hit is None:
                for k in [k for k in cache if k[0] == file]:
                    del cache[k]
                hit = load(file, *args)
                if hit is None:
                    return None
                while len(cache) >= maxsize:
                    cache.pop(next(iter(cache)))
            cache[key] = hit  # (re)insert = most recently used
            return hit

        return cached

    return wrap


def _norm_rows(mat: np.ndarray, metric: str) -> np.ndarray:
    """For the cosine metric, centroid geometry lives on the unit sphere
    (spherical k-means): L2-normalize rows so L2-argmin ≡ cosine-argmax.
    l2sq/ip keep raw coordinates (for ip the coarse quantizer is a plain
    L2 partition of the raw space — exact MIPS routing would need an
    augmented-dimension transform; scoring is still exact either way)."""
    if metric != "cosine":
        return mat
    return mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)


def centroid_dists(mat: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    """(n, c) squared L2 distances via |x|²+|c|²−2x·c — one BLAS matmul
    per batch. The one coarse-quantizer arithmetic: k-means, list
    assignment, PQ subspace encoding and every IVF probe rank with it."""
    return (
        (mat**2).sum(axis=1, keepdims=True)
        + (centroids**2).sum(axis=1)
        - 2.0 * mat @ centroids.T
    )


def coarse_probe(centroids: np.ndarray, mat: np.ndarray, nprobe: int) -> np.ndarray:
    """(n, nprobe) nearest-first list ids for already-normalized query
    rows (stable order, so tied centroids probe the lower id first)."""
    d = centroid_dists(mat, centroids)
    return np.argsort(d, axis=1, kind="stable")[:, : int(nprobe)]


def probe_lists_udf(centroids: np.ndarray, metric: str, nprobe: int):
    """The knn_join probe: a pandas UDF mapping each query vector to its
    ``nprobe`` nearest lists (``array<int>``), for an explode + equi-join
    on ``list_id``."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    def probe(v):
        mat = _norm_rows(np.stack([np.asarray(x, dtype=np.float64) for x in v]), metric)
        return pd.Series(list(coarse_probe(centroids, mat, nprobe).astype(np.int32)))

    return pandas_udf(probe, ArrayType(IntegerType()))


def _id_vec(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The (long id, vec) non-NULL-vector projection every build and
    add_batch indexes."""
    return df.select(
        F.col(id_col).cast("long").alias(id_col), F.col(vec_col).alias(vec_col)
    ).where(F.col(vec_col).isNotNull())


def _count_and_dims(src: DataFrame, vec_col: str, what: str) -> tuple[int, int]:
    """Row count and vector width of a NULL-filtered source in ONE
    aggregate job (the separate count()/first() probes each cost a
    driver round-trip — ~0.2 s of a small build's wall, r10). Shared
    by every quantizer build in index/."""
    n, dims = _batch_count_and_dims(src, vec_col)
    if n == 0:
        raise ValueError(f"cannot build {what} over an empty vector column")
    return n, dims


def _batch_count_and_dims(src: DataFrame, vec_col: str) -> tuple[int, int | None]:
    """add_batch variant of ``_count_and_dims``: an empty (or all-NULL)
    batch returns ``(0, None)`` so every family's add_batch can no-op —
    a drained upstream (``corpus_diff`` finding zero new docs) must not
    throw on some index types while IvfIndex.add_batch treats the same
    input as a no-op (ADVICE r12)."""
    row = src.agg(
        F.count(F.lit(1)).alias("n"), F.first(F.size(vec_col)).alias("d")
    ).first()
    n = int(row["n"])
    return (n, int(row["d"])) if n else (0, None)


def _local_or_count(src: DataFrame, vec_col: str, what: str, bound: int):
    """``(local_rows, total, dims)`` for a build: small sources (scan ≤
    ``bound`` bytes by ``collect_gate_bytes``, which gates on max(compressed,
    footer-uncompressed) size — RLE-heavy columns can decompress far past
    their on-disk bytes, ADVICE r10) are collected once so the build can
    run in-process; larger ones are counted (local_rows None)."""
    from duckdb_vss_spark.sources.layout import collect_gate_bytes

    est = collect_gate_bytes(src, bound=bound)
    if 0 <= est <= bound:
        rows = src.collect()  # bounded by the gate
        if not rows:
            raise ValueError(f"cannot build {what} over an empty vector column")
        return rows, len(rows), len(rows[0][1])
    return (None, *_count_and_dims(src, vec_col, what))


def _training_sample(src: DataFrame, vec_col: str, local_rows, total: int, want: int, seed: int):
    """``(sample matrix, local_rows)`` — a driver-sized seeded sample of
    ``want`` rows. When the collected table already IS the sample
    (frac ≥ 1) it is reused; otherwise local_rows comes back None, since
    a frac<1.0 Spark sample is partitioning-dependent and the build must
    not depend on which branch ran."""
    frac = min(1.0, want / total)
    if local_rows is not None and frac >= 1.0:
        rows = [r[1] for r in local_rows]
    else:
        local_rows = None
        sel = src.select(vec_col)
        if frac < 1.0:
            sel = sel.sample(fraction=frac, seed=seed).limit(want)
        rows = [r[0] for r in sel.collect()]
    return np.stack([np.asarray(v, dtype=np.float64) for v in rows]), local_rows


def _fresh_dir(path: str, overwrite: bool) -> None:
    """Create an empty artifact dir, replacing one only on ``overwrite``."""
    if os.path.exists(path):
        if not overwrite:
            raise ValueError(f"index path {path!r} already exists (use overwrite=True)")
        shutil.rmtree(path)
    os.makedirs(path)


def _now() -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())


class QuantizedIndex:
    """Handle over a built quantized artifact: ``manifest.json`` plus one
    data dir of parquet rows (``data_dir``, hive-partitioned by
    ``partition_by`` for the IVF layouts). Families add their codec."""

    # the upsert hook may version-kill (id, epoch<bound) instead of
    # delete+compact+re-append (r14, VERDICT r13 #4)
    supports_versioned_delete = True
    data_dir = "codes"
    partition_by: str | None = None
    # the family's name in error messages ("PQ index keys must be ...")
    label = "quantized"

    def __init__(self, spark: SparkSession, path: str, manifest: dict):
        self.spark = spark
        self.path = path
        self.manifest = manifest

    @classmethod
    def load(cls, spark: SparkSession, path: str):
        with open(os.path.join(path, "manifest.json")) as f:
            return cls(spark, path, json.load(f))

    @staticmethod
    def drop(path: str) -> None:
        """Remove the artifact at ``path`` — only when it holds a
        ``manifest.json``, so a mistyped path never deletes a directory
        that is not an index."""
        if os.path.exists(os.path.join(path, "manifest.json")):
            shutil.rmtree(path)

    @property
    def metric(self) -> str:
        return self.manifest["metric"]

    @property
    def dims(self) -> int:
        return self.manifest["dimensions"]

    @property
    def count(self) -> int:
        """LIVE rows (indexed minus tombstoned) — the reference's
        post-delete count semantics; ``manifest["count"]`` stays the
        raw indexed total."""
        return _tomb.live_count(self.manifest)

    def _check_dims(self, q) -> np.ndarray:
        q = np.asarray([float(x) for x in q], dtype=np.float64)
        if q.shape[0] != self.dims:
            raise ValueError(f"{self.label} index keys must be of type FLOAT[{self.dims}]")
        return q

    def _data_df(self) -> DataFrame:
        """The data dir's rows with tombstoned ids filtered out."""
        return _tomb.filter_dead(
            self, self.spark.read.parquet(os.path.join(self.path, self.data_dir))
        )

    def _files(self, probes=None) -> list[tuple[str, int | None]]:
        """(file, list id) for every data file — or, given ``probes``,
        for the files of those lists only (list pruning)."""
        d = os.path.join(self.path, self.data_dir)
        if probes is None:
            return [(f, None) for f in _list_parquet_files(d)]
        out = []
        for lid in probes:
            ld = os.path.join(d, f"{self.partition_by}={int(lid)}")
            if os.path.isdir(ld):  # an empty list: partitionBy wrote no dir
                out.extend((f, int(lid)) for f in _list_parquet_files(ld))
        return out

    def _driver_shortlist(self, take: int, row_bytes: int, load, score, probes=None):
        """(id, score) top-``take`` computed ON the driver (r16, guide
        §1: the distributed candidate stage costs ~300 ms of scheduling
        and codegen against ~1 ms of arithmetic on a gate-small
        artifact — the quantized twin of artifact._driver_probe_ids), or
        None when the artifact is too big for driver state (count ·
        ``row_bytes`` · 2 over the budget, gated on the WHOLE artifact so
        the decision is probe-independent), the shortlist too wide, or
        the files or tombstones unreadable from this process — those
        keep the distributed scan bit-for-bit.

        ``load(file)`` returns ``(ids, *payload)`` through the family's
        LRU (the cached arrays stay unmasked), or None for a shape only
        the JVM fold can score; ``score(list_id, *payload)`` returns the
        per-row scores, bit-identical to the distributed scan's column
        (pinned by tests/test_quantized_driver_search). Tombstones are
        resolved per file (epoch-bounded kills); ties break on (score,
        id) exactly like the cluster ORDER BY."""
        budget = _driver_probe_budget(self.spark)
        est = int(self.manifest.get("count", 0)) * int(row_bytes) * 2
        if budget <= 0 or est <= 0 or est > budget or int(take) > _MAX_DRIVER_SHORTLIST:
            return None
        dead = _tomb.dead_mask_payload_local(self)
        if dead is _tomb.UNREADABLE:
            return None
        ids_parts, score_parts = [], []
        try:
            for file, lid in self._files(probes):
                loaded = load(file)
                if loaded is None:
                    return None
                ids, *payload = loaded
                gone = _tomb.applicable_dead(dead, file)
                if gone is not None:
                    keep = ~np.isin(ids, gone)
                    ids = ids[keep]
                    payload = [p if p is None else p[keep] for p in payload]
                if len(ids):
                    ids_parts.append(ids)
                    score_parts.append(score(lid, *payload))
        except Exception:  # noqa: BLE001 — remote FS/corrupt: distributed path
            return None
        if not ids_parts:
            return []
        ids, sc = np.concatenate(ids_parts), np.concatenate(score_parts)
        return [(int(ids[i]), sc[i].item()) for i in np.lexsort((ids, sc))[: int(take)]]

    def delete_batch(
        self, ids, manifest_extra: dict | None = None, epoch_lt: int | None = None
    ):
        """Offline mark-delete (r13; see index/tombstones.py for the
        shared contract, reference src/hnsw/hnsw_index.cpp:466-482):
        tombstone the ids, O(|ids|), no data rewrite. Every scan path
        (the distributed scan, the driver shortlist, the executor query
        streams and the SQL planner route) filters the tombstones;
        ``count`` reports live rows; ``add_batch`` of a tombstoned id
        revives it; ``compact()`` reclaims physically. ``epoch_lt``
        bounds the kill to rows appended before that epoch (r14 — the
        upsert hook's O(batch) version replacement)."""
        return _tomb.mark_delete(
            self, ids, self._data_df(), manifest_extra, epoch_lt=epoch_lt
        )

    def compact(self):
        """Physically drop tombstoned rows and re-pack the accumulated
        add_batch part files (one file per list for the IVF layouts) —
        the reference's compaction-after-DML contract,
        hnsw_index_pragmas.cpp:154-190. Self-contained: the data dir
        holds everything the family serves from; the auto-rerank source
        fields are untouched."""
        out = _tomb.compact_data(self, self.data_dir, partition_by=self.partition_by)
        if out is None:
            return self  # nothing to reclaim or coalesce (review r13)
        self._finish_compact(out)
        return self

    def _finish_compact(self, out: DataFrame) -> None:
        _tomb.finish_compact(self, new_count=out.count())

    def _batch(self, df: DataFrame) -> tuple[DataFrame, int]:
        """add_batch input: the (id, vec) projection and its row count;
        a batch of another width is rejected."""
        man = self.manifest
        src = _id_vec(df, man["id_col"], man["vec_col"])
        n, dims = _batch_count_and_dims(src, man["vec_col"])
        if n and dims != man["dimensions"]:
            raise ValueError(
                f"{self.label} index keys must be of type FLOAT[{man['dimensions']}] "
                f"(batch has FLOAT[{dims}])"
            )
        return src, n

    def _commit_append(
        self, src: DataFrame, moved, n: int, manifest_extra: dict | None,
        source_fields: dict | None = None, extra: dict | None = None,
    ):
        """The add_batch commit: record the appended files' epoch, bump
        the count, merge the family's ``extra`` fields and (for the
        auto-rerank families) the re-rank source fields, revive re-added
        tombstoned ids, and write the manifest atomically — then sweep
        the old tombstone dir."""
        man = self.manifest
        merged = dict(man)
        record_epoch(merged, moved)
        merged["count"] = int(man["count"] + n)
        if source_fields is not None:
            merged.pop("source_fingerprint", None)
            merged.update(source_fields)
        merged.update(extra or {})
        merged["updated_at"] = _now()
        if manifest_extra:
            # e.g. streaming replay stamps — ride the SAME atomic commit
            merged.update(manifest_extra)
        old_tomb = _tomb.revive(self, src.select(man["id_col"]), merged)
        write_manifest(self.path, merged)
        self.manifest = merged
        if old_tomb:
            shutil.rmtree(os.path.join(self.path, old_tomb), ignore_errors=True)
        return self


class IvfLists(QuantizedIndex):
    """An IVF-routed artifact: rows hive-partitioned by ``list_id``
    under the data dir, one list per coarse centroid in the manifest."""

    data_dir = "lists"
    partition_by = "list_id"

    def __init__(self, spark: SparkSession, path: str, manifest: dict):
        super().__init__(spark, path, manifest)
        self._centroids = np.asarray(manifest["centroids"], dtype=np.float64)

    @property
    def nlist(self) -> int:
        return self.manifest["nlist"]

    def _probes(self, query_vec, nprobe: int | None) -> tuple[np.ndarray, list[int]]:
        """(the dims-checked query, its ``nprobe`` nearest lists —
        default: the manifest's calibrated ``default_nprobe``)."""
        q = self._check_dims(query_vec)
        nprobe = int(nprobe or self.manifest["default_nprobe"])
        probes = coarse_probe(self._centroids, _norm_rows(q[None, :], self.metric), nprobe)
        return q, [int(i) for i in probes[0]]
