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
  tombstone-filtered data frame, ``delete_batch``, ``compact``,
  ``load`` and ``drop``.
- **One build path**: one ``create`` skeleton (``_create``: the
  local-or-count gate, the codec's training, one driver-local pyarrow
  writer or the cluster write, footer row counts, one manifest
  header), one ``add_batch`` and one ``rebuild`` replaying ``create``
  from the manifest.
- **One query path**: the re-rank source decision
  (``_resolve_rerank`` over the fingerprinted build-time source), one
  executor top-k stream (``_query_stream``) behind every quantized
  ``knn_join`` (``QuantizedIndex._stream_join``), one IVF probe join
  (``IvfLists._probe_join``), and one exact re-rank step in each form:
  single query (``_rerank_one``) and batched (``_rerank_join``).
"""

from __future__ import annotations

import functools
import json
import logging
import math
import os
import shutil
import time
import warnings

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_vss_spark.functions.distance import distance_for_metric
from duckdb_vss_spark.index import tombstones as _tomb
from duckdb_vss_spark.index.manifest import record_epoch, write_manifest
from duckdb_vss_spark.sources.layout import _local_path

_LOG = logging.getLogger(__name__)

# widest shortlist the driver path materializes as literal rows — a
# full-corpus rerank on a big artifact keeps the distributed scan
_MAX_DRIVER_SHORTLIST = 65_536
# driver-resolved candidate id sets above this size fetch via a
# broadcast join instead of a literal In-filter (planning + pushdown of
# a many-thousand-literal predicate costs more than the join it saves)
_MAX_ISIN_CANDIDATES = 512


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


# mtime-keyed LRU of decoded list files for repeated single-query
# searches on gate-small IVF and IVF×SQ artifacts (their face of
# bq._load_sigs)
@mtime_lru(32)
def _load_matrix(file: str, id_col: str, col: str, dims: int, dtype):
    """(ids, ``dtype`` (n, dims) matrix of ``col``) for one inverted-list
    data file — the IVF vectors as float64, the IVF×SQ codes as uint8 —
    or None when the stored shape cannot take the driver fold: NULL
    elements, ragged rows, or non-float vectors keep Spark's
    NULL/size-mismatch semantics on the distributed scan."""
    import pyarrow.parquet as papq

    t = papq.read_table(file, columns=[id_col, col])
    ids = np.asarray(t[id_col].to_pylist(), dtype=np.int64)
    arr = t[col].combine_chunks()
    if arr.null_count:
        return None
    flat = arr.flatten()
    if flat.null_count or len(flat) != len(ids) * dims:
        return None
    vals = flat.to_numpy(zero_copy_only=False)
    if dtype is np.float64 and vals.dtype.kind != "f":
        return None
    if len(ids) and not bool((np.diff(np.asarray(arr.offsets)) == dims).all()):
        return None  # uniform total length but ragged rows
    return ids, vals.astype(dtype, copy=False).reshape(len(ids), dims)


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


def _batch_udf(fn, schema: str):
    """A pandas UDF over a vector column: ``fn`` maps each Arrow batch's
    float64 row matrix to one output column, or to several (a dict, for
    a struct ``schema``) — the cluster twin of a family's numpy encoder
    or probe, so both paths run one kernel and agree bit for bit."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def run(v):
        out = fn(np.stack([np.asarray(x, dtype=np.float64) for x in v]))
        return pd.DataFrame(out) if isinstance(out, dict) else pd.Series(out)

    return pandas_udf(run, schema)


def probe_lists_udf(centroids: np.ndarray, metric: str, nprobe: int):
    """The knn_join probe: a pandas UDF mapping each query vector to its
    ``nprobe`` nearest lists (``array<int>``), for an explode + equi-join
    on ``list_id``."""
    return _batch_udf(
        lambda mat: list(coarse_probe(centroids, _norm_rows(mat, metric), nprobe).astype(np.int32)),
        "array<int>",
    )


def _id_vec(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The (long id, vec) non-NULL-vector projection every build and
    add_batch indexes."""
    return df.select(
        F.col(id_col).cast("long").alias(id_col), F.col(vec_col).alias(vec_col)
    ).where(F.col(vec_col).isNotNull())


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


# scan bytes (``collect_gate_bytes``) up to which a build runs
# in-process from one bounded collect — ~16k 64-d float vectors: a
# cluster job over half a megabyte pays ~2 s of fixed cost for ~0.1 s
# of work (r10). Shared with the HNSW build and add_batch, and read at
# call time, so a test can patch it to force or probe either path.
DRIVER_BUILD_MAX_BYTES = 4 << 20

_NP_ELEM = {"float": np.float32, "double": np.float64}


def _local_dtype(vec_type):
    """The numpy element type of a float/double array column, else None
    — the only element types the driver-local encoders replay
    exactly."""
    elem = getattr(vec_type, "elementType", None)
    return None if elem is None else _NP_ELEM.get(elem.simpleString())


def _data_files(d: str) -> list[str]:
    """Every parquet data file under ``d``, hive list dirs included."""
    return sorted(
        os.path.join(root, f)
        for root, _dirs, names in os.walk(d)
        for f in names
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def _file_rows(files) -> dict:
    """Footer row counts of written data files, keyed by the list id of
    their ``list_id=N`` dir (None in a flat layout) — exactly what a
    build or an append committed, read without a Spark job."""
    import pyarrow.parquet as papq

    out: dict = {}
    for f in files:
        part = os.path.basename(os.path.dirname(f))
        lid = int(part.split("=", 1)[1]) if "=" in part else None
        out[lid] = out.get(lid, 0) + int(papq.ParquetFile(f).metadata.num_rows)
    return out


def _write_local(data_dir: str, partition_by: str | None, table, lists) -> None:
    """The driver-side twin of the cluster write: one parquet file, or —
    given each row's list id — one file per non-empty list under the
    hive-style ``list_id=N/`` dirs Spark's reader discovers."""
    import pyarrow.parquet as papq

    if lists is None:
        parts = [(data_dir, table)]
    else:
        parts = [
            (os.path.join(data_dir, f"{partition_by}={int(lid)}"),
             table.take(np.flatnonzero(lists == lid)))
            for lid in np.unique(lists)
        ]
    for d, part in parts:
        os.makedirs(d)
        papq.write_table(part, os.path.join(d, "part-00000.parquet"))


def _now() -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())


# --------------------------------------------------------------------------
# The exact re-rank source: the build-time file-backed vectors, recorded
# in the manifest and fingerprint-validated before every use
# --------------------------------------------------------------------------

# fingerprints (manifest-identity strings) whose footer row counts have
# already been re-validated this session — stat() still runs per call
_FP_ROWS_VALIDATED: set[str] = set()


def _fingerprint_ok(manifest: dict) -> bool:
    """Validate the build-time source fingerprint before trusting the
    recorded files for exact re-rank (ADVICE r11: files overwritten at
    the same paths would otherwise be 'exactly' re-ranked against
    vectors that were never indexed). size+mtime_ns are stat'd on
    every call (cheap); the footer row count once per fingerprint."""
    fp = manifest.get("source_fingerprint")
    if not fp or not fp.get("files"):
        return False
    for f, (size, mtime_ns) in fp["files"].items():
        try:
            st = os.stat(_local_path(f))
        except OSError:
            return False
        if int(st.st_size) != int(size) or int(st.st_mtime_ns) != int(mtime_ns):
            return False
    want_rows = fp.get("num_rows")
    if want_rows is not None:
        key = json.dumps(fp, sort_keys=True)
        if key not in _FP_ROWS_VALIDATED:
            try:
                import pyarrow.parquet as papq

                rows = sum(
                    papq.ParquetFile(_local_path(f)).metadata.num_rows
                    for f in fp["files"]
                )
            except Exception:  # noqa: BLE001 — footer unreadable
                return False
            if rows != int(want_rows):
                return False
            _FP_ROWS_VALIDATED.add(key)
    return True


class LegacyManifestError(ValueError):
    """The manifest records ``source_files`` but predates the
    ``source_fingerprint`` schema (pre-r12 artifact). Serving it would
    silently degrade the auto-rerank default to ADC-only recall (~0.74
    at m=8) — the exact silent-wrong-default class the fingerprint
    hardening exists to close (VERDICT r12 #1). Rebuild the index (or
    re-create it over the same files to re-fingerprint)."""


def _manifest_source(spark: SparkSession, manifest: dict) -> DataFrame | None:
    """Reload the ORIGINAL vectors from the file-backed source recorded
    in the manifest at build time (``source_files``), projected to the
    minimal (id, vec) shape the exact re-rank needs. Returns None when
    the index was built from a non-file source or the fingerprint
    recorded at build time no longer matches (ADVICE r11) — callers
    fall back to shortlist-only scoring with a one-time warning. A
    manifest with ``source_files`` but NO fingerprint at all is a
    pre-r12 legacy artifact and raises instead (VERDICT r12 #1): 'the
    files changed under me' is runtime drift worth a warned fallback,
    but 'built by code that could not prove its source' must not
    silently serve below the >=0.9-recall default contract."""
    files = manifest.get("source_files") or []
    if not files:
        return None
    if "source_fingerprint" not in manifest:
        raise LegacyManifestError(
            "index manifest records source_files but no source_fingerprint "
            "— a pre-r12 legacy artifact whose auto-rerank default would "
            "silently degrade to ADC-only recall; rebuild the index."
        )
    if not _fingerprint_ok(manifest):
        return None
    id_col, vec_col = manifest["id_col"], manifest["vec_col"]
    try:
        src = spark.read.parquet(*files)
        if id_col not in src.columns or vec_col not in src.columns:
            return None
        return _id_vec(src, id_col, vec_col)
    except Exception:  # noqa: BLE001 — moved/deleted source files
        return None


def _input_files(df: DataFrame) -> list[str]:
    """The file paths under ``df``'s scans (empty for non-file plans) —
    recorded in index manifests so knn defaults can late-materialize
    exact re-rank against the original vectors without the caller
    re-supplying them.

    ``inputFiles()`` goes blind the moment the source is ``.cache()``d
    (the optimized plan's leaf becomes InMemoryRelation), so the
    fallback walks each cached leaf's cachedPlan down to its
    FileSourceScanExec — a cached scan is still a file-backed scan."""
    try:
        files = list(df.inputFiles())
    except Exception:  # noqa: BLE001 — non-file plan
        return []
    if files:
        return files
    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        it = leaves.iterator()
        while it.hasNext():
            leaf = it.next()
            if leaf.getClass().getSimpleName() != "InMemoryRelation":
                continue
            inner = leaf.cacheBuilder().cachedPlan().collectLeaves().iterator()
            while inner.hasNext():
                scan = inner.next()
                try:
                    files.extend(scan.relation().location().inputFiles())
                except Exception:  # noqa: BLE001 — non-file exec leaf
                    pass
    except Exception:  # noqa: BLE001 — py4j surface moved
        return []
    return files


# analyzed-plan node names through which file bytes pass UNCHANGED into
# the index build: leaves that ARE the files, and row-selecting /
# row-ordering nodes that never rewrite a column value
_RAW_LEAVES = frozenset(
    {"LogicalRelation", "DataSourceV2Relation", "DataSourceV2ScanRelation",
     "HiveTableRelation"}
)
_RAW_PASSTHROUGH = frozenset(
    {"Filter", "SubqueryAlias", "GlobalLimit", "LocalLimit", "Sort", "Sample",
     "Deduplicate", "Distinct", "Repartition", "RepartitionByExpression"}
)


def _plan_is_raw_files(df: DataFrame) -> bool:
    """True iff ``df``'s analyzed plan serves the scanned files' bytes
    verbatim — only scan leaves, row-selecting pass-through nodes, and
    attribute-only Projects (no Alias, no computed expression). This is
    the gate for recording ``source_files`` in an index manifest
    (ADVICE r11): a ``withColumn`` that normalizes the vec column in
    place preserves the column NAME, so without the plan check the
    auto-rerank default would 'exactly' re-rank against raw file
    vectors that were never indexed. Unknown plan shapes fail closed —
    the build then simply doesn't record a source and the default knn
    path warns instead of lying."""
    try:
        stack = [df._jdf.queryExecution().analyzed()]
        while stack:
            node = stack.pop()
            name = node.getClass().getSimpleName()
            if name in _RAW_LEAVES:
                continue
            if name == "Project":
                pl = node.projectList()
                for i in range(pl.size()):
                    if pl.apply(i).getClass().getSimpleName() != "AttributeReference":
                        return False
            elif name not in _RAW_PASSTHROUGH:
                return False
            ch = node.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
        return True
    except Exception:  # noqa: BLE001 — py4j surface moved: fail closed
        return False


def _files_fingerprint(files: list[str]) -> dict | None:
    """Per-file (size, mtime_ns) + total footer row count, recorded at
    build time and re-validated by ``_fingerprint_ok`` before the files
    are trusted as a re-rank source. None when any file can't be
    stat'd locally (remote FS) — then no source is recorded at all,
    since it could never be validated later."""
    import pyarrow.parquet as papq

    out: dict[str, list[int]] = {}
    rows: int | None = 0
    for f in files:
        p = _local_path(f)
        try:
            st = os.stat(p)
        except OSError:
            return None
        out[f] = [int(st.st_size), int(st.st_mtime_ns)]
        if rows is not None:
            try:
                rows += papq.ParquetFile(p).metadata.num_rows
            except Exception:  # noqa: BLE001 — not parquet
                rows = None
    return {"files": out, "num_rows": rows}


def _source_manifest_fields(df: DataFrame) -> dict:
    """The ``source_files`` + ``source_fingerprint`` manifest fields for
    an index built over ``df`` — empty when the plan transforms the
    scanned values or the files can't be fingerprinted (ADVICE r11)."""
    files = _input_files(df)
    if not files or not _plan_is_raw_files(df):
        return {"source_files": []}
    fp = _files_fingerprint(files)
    if fp is None:
        return {"source_files": []}
    return {"source_files": files, "source_fingerprint": fp}


def _merge_source_fields(manifest: dict, batch_df: DataFrame, family: str) -> dict:
    """Source fields after appending ``batch_df``'s rows to an index.

    Extends files + fingerprint when BOTH the existing manifest and the
    batch are fingerprintable raw file scans; otherwise DROPS the
    source entirely (with a warning) — an auto-rerank source covering
    only part of the corpus would silently lose new-batch candidates in
    the re-rank join, which is worse than the warned ADC-only fallback.
    The merged list is a set-union by path (a batch filtered from the
    SAME files as the build — the common incremental pattern — is a
    no-op on the list; every candidate id still resolves exactly once
    since each path is listed once). num_rows is recomputed over the
    union's footers so overlapping files are never double-counted."""
    old_files = manifest.get("source_files") or []
    old_fp = manifest.get("source_fingerprint")
    if old_files and "source_fingerprint" not in manifest:
        raise LegacyManifestError(
            f"{family}.add_batch: the manifest records source_files but no "
            f"source_fingerprint — a pre-r12 legacy artifact; rebuild the "
            f"index before appending to it."
        )
    if old_files and old_fp:
        # validate the OLD fingerprint BEFORE extending (r12 review): a
        # source file overwritten in place since the build would have
        # its stale (size, mtime_ns) silently REFRESHED by the set-union
        # below — re-arming exactly the silent-wrong-rerank hazard
        # _fingerprint_ok exists to close. Stale -> drop the source.
        if not _fingerprint_ok(manifest):
            warnings.warn(
                f"{family}.add_batch: dropping the recorded re-rank source — "
                f"its build-time fingerprint no longer matches (source files "
                f"changed since the index was built). Default knn calls will "
                f"be ADC-only with a warning; rebuild the index.",
                stacklevel=3,
            )
            return {"source_files": []}
        new = _source_manifest_fields(batch_df)
        nf = new.get("source_files") or []
        if nf:
            files = sorted(set(old_files) | set(nf))
            fp_files = dict(old_fp["files"])
            fp_files.update(new["source_fingerprint"]["files"])
            try:
                import pyarrow.parquet as papq

                num_rows = sum(
                    papq.ParquetFile(_local_path(f)).metadata.num_rows for f in files
                )
            except Exception:  # noqa: BLE001 — footer unreadable
                num_rows = None
            return {
                "source_files": files,
                "source_fingerprint": {"files": fp_files, "num_rows": num_rows},
            }
        warnings.warn(
            f"{family}.add_batch: dropping the recorded re-rank source — the "
            f"batch is not a fingerprintable raw file scan. Default knn calls "
            f"will be ADC-only with a warning; pass source= explicitly or "
            f"rebuild the index.",
            stacklevel=3,
        )
    return {"source_files": []}


# index paths that already warned about serving un-reranked results
_UNRERANKED_WARNED: set[str] = set()


def _resolve_rerank(
    index, rerank, source, auto_width: int, *, what: str, param: str = "rerank",
    strict: bool = True,
):
    """The one re-rank decision of the quantized knn paths (VERDICT r10
    #1, the same weak-default class as the IVF nprobe calibration in
    ivf.py:90). Returns ``(width, source)``: the shortlist width to
    re-rank exactly against ``source``, or ``(0, None)`` for no re-rank.

    - ``rerank=None`` is AUTO: re-rank ``auto_width`` candidates (PQ and
      IVFADC 10·k, BQ the calibrated width) whenever the original
      vectors are reachable — an explicit ``source``, else the
      fingerprint-validated file source recorded at build time — so
      recall@10 at the DEFAULT signature is >=0.9 instead of the
      byte-code ceiling. When none is reachable the call returns the
      shortlist scores (``what``) and warns ONCE per index.
    - ``rerank<=0`` opts out explicitly, silently.
    - ``rerank>0`` re-ranks that many; without reachable vectors a
      ``strict`` family raises, the others fall back like AUTO.

    Reference contract: approximate-but-useful defaults
    (duckdb_vss README.md:67)."""
    if rerank is not None and int(rerank) <= 0:
        return 0, None
    if source is None:
        source = _manifest_source(index.spark, index.manifest)
    if source is not None:
        width = int(auto_width if rerank is None else rerank)
        return (width, source) if width > 0 else (0, None)
    if rerank is not None and strict:
        raise ValueError("rerank requires the source DataFrame with original vectors")
    if index.path not in _UNRERANKED_WARNED:
        _UNRERANKED_WARNED.add(index.path)
        warnings.warn(
            f"{type(index).__name__}: returning {what} results (no exact "
            f"re-rank) because the original vectors are unreachable — the "
            f"index was built from a non-file source or its source files "
            f"changed, and no `source=` was given. Pass `source=<vectors "
            f"df>` for exact re-rank (recall>=0.9) or `{param}=0` to silence.",
            stacklevel=4,  # the caller of knn_search/knn_join
        )
    return 0, None


# --------------------------------------------------------------------------
# The executor top-k stream behind every quantized knn_join
# --------------------------------------------------------------------------


def _merge_topk(best_d, best_i, d, aid, take):
    """Tie-safe running top-``take`` merge: fold a (nq, n_slab) distance
    block into the per-query (nq, take) heaps, breaking distance ties by
    ascending id exactly like the finalizing ORDER BY dist, id (``aid``
    must be ascending; same scheme as operators/join._knn_join_broadcast).
    Returns the updated (best_d, best_i)."""
    kk = min(take, d.shape[1])
    idx = np.argpartition(d, kk - 1, axis=1)[:, :kk]
    dsel = np.take_along_axis(d, idx, axis=1)
    # one vectorized stable sort over the tied rows (ADVICE r9: the
    # per-row Python loop degrades on duplicate-heavy corpora where
    # every row ties at the cut)
    t = dsel.max(axis=1)
    flagged = np.flatnonzero((d <= t[:, None]).sum(axis=1) > kk)
    if len(flagged):
        sub = d[flagged]
        sel = np.argsort(sub, axis=1, kind="stable")[:, :kk]
        idx[flagged] = sel
        dsel[flagged] = np.take_along_axis(sub, sel, axis=1)
    cat_d = np.concatenate([best_d, dsel], axis=1)
    cat_i = np.concatenate([best_i, aid[idx]], axis=1)
    order = np.lexsort((cat_i, cat_d))[:, :take]
    return (
        np.take_along_axis(cat_d, order, axis=1),
        np.take_along_axis(cat_i, order, axis=1),
    )


def _emit_flush(qids, best_d, best_i, take: int, distinct: bool = False):
    """Materialize one flush's heaps as the stream's output frame —
    fixed internal column names (_qid, _id, _dist, _rn; renamed at the
    Spark layer so user column names can't collide, ADVICE r9), with
    _rn the 1-indexed (dist, id) rank straight off the sorted heaps.
    ``distinct`` keeps only each id's best copy per query (an id indexed
    twice) — the shortlist a re-rank fetches rows by."""
    import pandas as pd

    valid = best_i >= 0
    if distinct:
        order = np.argsort(best_i, axis=1, kind="stable")  # best copy first
        ids = np.take_along_axis(best_i, order, axis=1)
        first = np.ones_like(valid)
        first[:, 1:] = ids[:, 1:] != ids[:, :-1]
        np.put_along_axis(valid, order, np.take_along_axis(valid, order, axis=1) & first, axis=1)
    if not valid.any():
        return None
    rn = np.broadcast_to(np.arange(1, take + 1, dtype=np.int32), best_i.shape)
    return pd.DataFrame(
        {
            "_qid": np.repeat(qids, valid.sum(axis=1)),
            "_id": best_i[valid],
            "_dist": best_d[valid],
            "_rn": rn[valid],
        }
    )


def _drop_dead(dead, file, ids, payload):
    """The one tombstone mask of the numpy paths: drop the rows of
    ``file`` whose id is dead for it (per-file epoch-bounded kills)."""
    gone = _tomb.applicable_dead(dead, file)
    if gone is None:
        return ids, payload
    keep = ~np.isin(ids, gone)
    return ids[keep], [p if p is None else p[keep] for p in payload]


def _query_stream(
    batches, query_vec_col: str, query_id_col: str, metric: str, take: int,
    chunk: int, *, files: dict, load, prepare, score, route=None,
    slab: int = 16384, dead=None, distinct: bool = False,
):
    """The executor-side multi-query top-k walk of every quantized
    ``knn_join`` (VERDICT r7 #2 / r8 #1: never ``collect()`` the query
    set to the driver; the quantized twin of
    artifact._search_query_stream). NULL query vectors are skipped, and
    the rest are buffered across Arrow batches into flushes of
    ≤``chunk`` queries, normalized per ``metric``. Per flush:

    - ``route(qmat)`` groups the flush into ``(list id, query rows)``
      (IVFADC: each query's ``nprobe`` nearest lists; default: one
      group of every query over ``files[None]``);
    - per group, ``prepare(query rows, list id)`` builds the query-side
      state once (LUT tensors, sign vectors), then each of the group's
      ``files[list id]`` loads through the family's worker LRU
      (``load(file) -> (ids ascending, *payload)``; the cached arrays
      stay unmasked), drops its tombstoned rows, and is scored in
      ``slab``-row blocks (``score(state, *payload block) -> (nq, n)``)
      folded into tie-safe running top-``take`` heaps.

    A list no flush query probes is never read. Peak memory is the
    query state + one (chunk × slab) float64 block, independent of the
    corpus size. Emits each query's exact top-``take`` by (score, id)
    with its rank — the no-rerank join needs no shuffle at all — and,
    when ``distinct``, only the best copy of an id indexed twice."""
    dead = _tomb.unwrap_dead(dead)  # broadcast mask -> payload, worker-side

    def flush(buf_ids, buf_vecs):
        qids = np.concatenate(buf_ids)
        qmat = _norm_rows(np.vstack(buf_vecs), metric)
        best_d = np.full((len(qids), take), np.inf)
        best_i = np.full((len(qids), take), -1, dtype=np.int64)
        for lid, qs in route(qmat) if route else [(None, slice(None))]:
            if not files.get(lid):
                continue
            state = prepare(qmat[qs], lid)
            for file in files[lid]:
                ids, *payload = load(file)
                ids, payload = _drop_dead(dead, file, ids, payload)
                for lo in range(0, len(ids), slab):
                    sl = slice(lo, lo + slab)
                    d = score(state, *[p if p is None else p[sl] for p in payload])
                    best_d[qs], best_i[qs] = _merge_topk(
                        best_d[qs], best_i[qs], d, ids[sl], take
                    )
        return _emit_flush(qids, best_d, best_i, take, distinct)

    buf_ids, buf_vecs, n_buf = [], [], 0
    for pdf in batches:
        vecs = pdf[query_vec_col]
        mask = vecs.notna().to_numpy()
        if not mask.any():
            continue
        qids = pdf[query_id_col].to_numpy()[mask].astype(np.int64)
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs[mask]])
        lo = 0
        while lo < len(qids):
            n = min(chunk - n_buf, len(qids) - lo)
            buf_ids.append(qids[lo : lo + n])
            buf_vecs.append(mat[lo : lo + n])
            n_buf += n
            lo += n
            if n_buf >= chunk:
                out = flush(buf_ids, buf_vecs)
                buf_ids, buf_vecs, n_buf = [], [], 0
                if out is not None:
                    yield out
    if n_buf:
        out = flush(buf_ids, buf_vecs)
        if out is not None:
            yield out


def _fits_broadcast(queries: DataFrame, nprobe: int, budget_bytes: int) -> bool:
    """Whether the exploded (queries·nprobe) side fits a broadcast
    budget, from Catalyst's logical size estimate — a plan statistic,
    not a driver job.

    Unknown/FAILED estimates return False (VERDICT r5 #3): the shuffle
    join is always safe and AQE re-promotes the broadcast at runtime
    when actual sizes are known, whereas a forced broadcast of a side
    nothing is known about is the one path that can OOM executors. The
    decision (estimate vs budget) is logged so a demotion is visible to
    the caller — Catalyst wildly inflates sizeInBytes for plans without
    file-backed stats (UDF/join outputs multiply toward Long.MaxValue),
    and ``broadcast_queries=True`` remains the explicit override."""
    try:
        size = int(queries._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception as e:  # noqa: BLE001 — estimate is best-effort
        _LOG.info("ivf.knn_join broadcast auto-decision: estimate failed (%s) -> shuffle join", e)
        return False
    fits = size * nprobe <= budget_bytes
    _LOG.info(
        "ivf.knn_join broadcast auto-decision: estimate=%d B x nprobe=%d vs budget=%d B -> %s",
        size,
        nprobe,
        budget_bytes,
        "broadcast" if fits else "shuffle join",
    )
    return fits


class QuantizedIndex:
    """Handle over a built quantized artifact: ``manifest.json`` plus one
    data dir of parquet rows (``data_dir``, hive-partitioned by
    ``partition_by`` for the IVF layouts). Families add their codec:

    - ``metrics``, ``ddl_options`` (CREATE INDEX options and their
      types) and ``recorded`` (the create keywords ``rebuild`` replays,
      mapped to their manifest keys);
    - ``train(src, vec_col, rows, total, metric, params)`` →
      ``(codec manifest fields, rows)``;
    - ``_encode_local(rows, mat, man, elem)`` → ``(pyarrow columns, list
      ids or None)`` replaying the cluster encoder in numpy bit for bit,
      or None (no driver-local build);
    - ``_encode(src, man)``, the Column/UDF encoder of the cluster build
      and ``add_batch``, list ids included for the IVF layouts."""

    # the upsert hook may version-kill (id, epoch<bound) instead of
    # delete+compact+re-append (r14, VERDICT r13 #4)
    supports_versioned_delete = True
    data_dir = "codes"
    partition_by: str | None = None
    # the family's name in error messages ("PQ index keys must be ...")
    label = "quantized"
    metrics: tuple = ("cosine", "ip", "l2sq")
    ddl_options: dict = {}
    recorded: dict = {}
    # the build counts the source up front (BQ reads its width off its
    # calibration sample instead)
    counts_source = True
    # the auto-rerank families record the fingerprinted build source
    records_source = False
    # no numpy encoder: the family always builds on the cluster (ivfsq)
    _encode_local = None

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
                ids, payload = _drop_dead(dead, file, ids, payload)
                if len(ids):
                    ids_parts.append(ids)
                    score_parts.append(score(lid, *payload))
        except Exception:  # noqa: BLE001 — remote FS/corrupt: distributed path
            return None
        if not ids_parts:
            return []
        ids, sc = np.concatenate(ids_parts), np.concatenate(score_parts)
        return [(int(ids[i]), sc[i].item()) for i in np.lexsort((ids, sc))[: int(take)]]

    def _stream_join(
        self, queries: DataFrame, query_vec_col: str, query_id_col: str, k: int,
        take: int, source, dist_col: str, rn_col: str, queries_per_batch: int,
        codec: dict,
    ) -> DataFrame:
        """The one executor-side ``knn_join`` front (PQ, IVFADC, BQ): map
        over the *queries* DataFrame with ``_query_stream`` over the
        family's ``codec`` (its files, loader, query prep, block scorer
        and optional routing). No driver relay — the query set flows
        executor-to-executor like any DataFrame, and the tombstone mask
        ships once per executor as a broadcast (VERDICT r13 #3). Without
        ``source`` the stream's per-query top-``take`` rows (with their
        rank) are the result, a single mapInPandas stage with no
        shuffle; with it the shortlist is re-ranked exactly
        (``_rerank_join``)."""
        id_col, metric = self.manifest["id_col"], self.metric
        chunk = max(1, int(queries_per_batch))
        dead = _tomb.dead_id_broadcast(self)
        distinct = source is not None  # the re-rank fetches rows by id

        def stream(batches):
            return _query_stream(
                batches, query_vec_col, query_id_col, metric, take, chunk,
                dead=dead, distinct=distinct, **codec,
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
        if source is None:
            return cand
        return self._rerank_join(
            queries, query_vec_col, query_id_col, cand.select(query_id_col, id_col),
            source, k, dist_col, rn_col,
        )

    def _rerank_one(self, source: DataFrame, q, k: int, pairs, short: DataFrame,
                    dist_col: str) -> DataFrame:
        """Exact re-rank of a single-query shortlist ``short`` against the
        original vectors (late materialization, the HNSW rowid-fetch
        shape). One fetch rule: the DISTINCT shortlist ids become a
        literal In-filter pushed into the source scan when the driver
        resolved them (``pairs``) and there are at most
        ``_MAX_ISIN_CANDIDATES``, else a broadcast left-semi join. Both
        are id-set semantics, so an id the shortlist holds twice (a
        re-added row) fetches each source row once — the rows brute
        force over ``source`` returns. Exact distances use the
        SQL-visible metric, so the output is hash-comparable to a
        brute-force oracle."""
        id_col, vec_col = self.manifest["id_col"], self.manifest["vec_col"]
        ids = None if pairs is None else sorted({int(i) for i, _d in pairs})
        if ids is not None and len(ids) <= _MAX_ISIN_CANDIDATES:
            fetched = source.where(F.col(id_col).isin(ids))
        else:
            fetched = source.join(F.broadcast(short.select(id_col)), id_col, "left_semi")
        dist = distance_for_metric(self.metric)(F.col(vec_col), [float(x) for x in q])
        return (
            fetched.withColumn(dist_col, dist)
            .orderBy(F.col(dist_col).asc_nulls_last(), F.col(id_col))
            .limit(int(k))
            .drop(vec_col)
        )

    def _rerank_join(self, queries: DataFrame, query_vec_col: str, query_id_col: str,
                     pairs: DataFrame, source: DataFrame, k: int, dist_col: str,
                     rn_col: str) -> DataFrame:
        """Exact re-rank of a batched shortlist: the DISTINCT (query, id)
        ``pairs`` join the source rows (broadcast left to AQE: at 10⁸
        queries a forced hint on the candidate side would itself OOM)
        and the query vectors, the SQL-visible metric scores them, and
        a ``row_number ≤ k`` window per query keeps the top k. Distinct
        pairs are ``_rerank_one``'s id-set rule per query: each source
        row comes back once, as brute force over ``source`` returns
        it."""
        id_col, vec_col = self.manifest["id_col"], self.manifest["vec_col"]
        qvecs = queries.select(
            query_id_col, F.col(query_vec_col).alias("_qvec")
        ).where(F.col("_qvec").isNotNull())
        w = Window.partitionBy(query_id_col).orderBy(
            F.col(dist_col).asc_nulls_last(), F.col(id_col)
        )
        dist = distance_for_metric(self.metric)(F.col(vec_col), F.col("_qvec"))
        return (
            source.join(pairs, id_col)
            .join(qvecs, query_id_col)
            .withColumn(dist_col, dist)
            .withColumn(rn_col, F.row_number().over(w))
            .where(F.col(rn_col) <= int(k))
            .drop(vec_col, "_qvec")
        )

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
        fields are untouched. The count (and IVF's per-list counts) come
        from the rewritten files' footers."""
        data = _tomb.compact_data(self, self.data_dir, partition_by=self.partition_by)
        if data is None:
            return self  # nothing to reclaim or coalesce (review r13)
        counts = _file_rows(_data_files(data))
        _tomb.finish_compact(
            self, new_count=sum(counts.values()),
            extra=self._count_fields(self.manifest, counts, add=False),
        )
        return self

    # -- the one build path ----------------------------------------------

    @classmethod
    def _create(
        cls, spark: SparkSession, df: DataFrame, vec_col: str, id_col: str,
        path: str, name: str, metric: str, overwrite: bool, **params,
    ):
        """Build the artifact: train the family codec on a driver-sized
        sample, encode and write the data dir, and commit one manifest
        (the shared header, the codec fields, the row counts read off
        the written footers and, for the auto-rerank families, the
        build source). Small float/double sources of a family with a
        numpy encoder build in-process from ONE bounded collect (scan ≤
        ``DRIVER_BUILD_MAX_BYTES``, and the training sample is the whole
        table): no Spark job writes, and the artifact is bit-identical to
        the cluster build's (DuckDB's CREATE INDEX is in-process
        always)."""
        from duckdb_vss_spark.session import check_persistence_enabled

        if metric not in cls.metrics:
            raise ValueError(
                f"{cls.label} index 'metric' must be one of: "
                + ", ".join(repr(m) for m in sorted(cls.metrics))
            )
        check_persistence_enabled(spark)
        src = _id_vec(df, id_col, vec_col)
        elem = _local_dtype(src.schema[vec_col].dataType)
        rows, total, dims = cls._gather(src, vec_col, elem)
        fields, rows = cls.train(src, vec_col, rows, total, metric, params)
        _fresh_dir(path, overwrite)
        man = {"index_name": name, "vec_col": vec_col, "id_col": id_col,
               "metric": metric, "dimensions": dims, **fields}
        data = os.path.join(path, cls.data_dir)
        enc = None
        if rows is not None:
            try:
                mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
            except ValueError:  # ragged rows: the cluster write decides
                mat = None
            if mat is not None:
                enc = cls._encode_local(rows, mat, man, elem)
        if enc is None:
            w = cls._encode(src, man).write
            (w.partitionBy(cls.partition_by) if cls.partition_by else w).parquet(data)
        else:
            import pyarrow as pa

            ids = np.fromiter((r[0] for r in rows), dtype=np.int64, count=len(rows))
            cols, lists = enc
            _write_local(data, cls.partition_by, pa.table({id_col: pa.array(ids), **cols}), lists)
        counts = _file_rows(_data_files(data))
        man["count"] = sum(counts.values())
        man.update(cls._count_fields(man, counts))
        if cls.records_source:
            # gated on the USER's plan shape, not the internal projection
            # (the id cast is reapplied by _manifest_source)
            man.update(_source_manifest_fields(df))
        man["created_at"] = _now()
        write_manifest(path, man)
        return cls(spark, path, man)

    @classmethod
    def _gather(cls, src: DataFrame, vec_col: str, elem):
        """``(local rows, total, dims)`` for a build. Small float/double
        sources of a family with a local encoder are collected once
        (``collect_gate_bytes`` gates on max(compressed,
        footer-uncompressed) size — RLE-heavy columns can decompress far
        past their on-disk bytes, ADVICE r10); others are counted in one
        aggregate job (rows None), or not at all when the family probes
        its source itself (``counts_source`` False: all None)."""
        from duckdb_vss_spark.sources.layout import collect_gate_bytes

        rows = None
        if cls._encode_local is not None and elem is not None:
            bound = DRIVER_BUILD_MAX_BYTES
            if 0 <= collect_gate_bytes(src, bound=bound) <= bound:
                rows = src.collect()  # bounded by the gate
        if rows is not None:
            n, dims = len(rows), len(rows[0][1]) if rows else None
        elif cls.counts_source:
            # count and width in ONE aggregate job (separate count() and
            # first() probes each cost a driver round-trip, r10)
            row = src.agg(
                F.count(F.lit(1)).alias("n"), F.first(F.size(vec_col)).alias("d")
            ).first()
            n, dims = int(row["n"]), row["d"]
        else:
            return None, None, None
        if n == 0:
            raise ValueError(f"cannot build the {cls.label} index over an empty vector column")
        return rows, n, dims

    @classmethod
    def _count_fields(cls, man: dict, counts: dict, add: bool = True) -> dict:
        """Family manifest fields derived from the written rows per list
        (``counts``, from the footers; ``add``: on top of ``man``'s) on
        create, add_batch and compact — IVF's per-list counts; none by
        default."""
        return {}

    def add_batch(self, df: DataFrame, manifest_extra: dict | None = None):
        """Offline incremental maintenance (r12 — the quantized face of
        the HNSW ``add_batch``, VERDICT r11 #3): encode the batch with
        the FROZEN codec (codebooks, centroids, SQ bounds, BQ center and
        calibration fraction — a distribution shift is a ``rebuild``;
        SQ values outside the trained range clamp to its edge) in one
        map-only stage, append it next to the existing data through a
        staging dir, and commit the manifest atomically: the count (and
        IVF's per-list counts) from the appended files' footers — exact
        even for a non-deterministic batch source — the append epoch,
        revived tombstones and, for the auto-rerank families, the
        re-rank source, which EXTENDS when the batch is a fingerprintable
        raw file scan and is DROPPED with a warning otherwise (a source
        covering only part of the corpus would silently lose new-batch
        candidates in the re-rank join). Appended ids are not
        deduplicated (the reference's Insert appends too). An empty or
        all-NULL batch is a no-op (ADVICE r12). Crash window: the part
        files are renamed into place right before the manifest write
        (index/manifest.staged_append); after a crash inside that
        window, ``rebuild()``."""
        from duckdb_vss_spark.index.manifest import staged_append

        man = self.manifest
        src = _id_vec(df, man["id_col"], man["vec_col"])
        # one limit-1 probe for emptiness and width; the count comes from
        # the appended files' footers
        probe = src.select(F.size(man["vec_col"]).alias("d")).first()
        if probe is None:
            return self
        if int(probe["d"]) != man["dimensions"]:
            raise ValueError(
                f"{self.label} index keys must be of type FLOAT[{man['dimensions']}] "
                f"(batch has FLOAT[{probe['d']}])"
            )
        moved = staged_append(
            self._encode(src, man), os.path.join(self.path, self.data_dir),
            partition_by=self.partition_by,
        )
        counts = _file_rows(moved)
        source = (
            _merge_source_fields(man, df, type(self).__name__) if self.records_source else None
        )
        return self._commit_append(
            src, moved, sum(counts.values()), manifest_extra, source_fields=source,
            extra=self._count_fields(man, counts),
        )

    def rebuild(self, df: DataFrame):
        """Bulk rebuild from the current table snapshot ``df``: replay
        ``create`` at this path with the manifest's recorded build
        parameters (name, metric and the family's ``recorded`` codec
        keywords; sampling keywords take their defaults). Tombstones,
        appended files and any ``pending_dml`` record go with the old
        artifact. The handle is refreshed in place and returned."""
        m = self.manifest
        out = type(self).create(
            self.spark, df, m["vec_col"], m["id_col"], self.path,
            name=m["index_name"], metric=m["metric"], overwrite=True,
            **{kw: m[key] for kw, key in self.recorded.items()},
        )
        self.__init__(self.spark, self.path, out.manifest)
        return self

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

    @classmethod
    def _train_coarse(
        cls, src: DataFrame, vec_col: str, rows, total: int, metric: str,
        params: dict, want: int = 0, target: float = 0.9,
    ):
        """The IVF layouts' shared training step: ``nlist`` (default
        ~√count, the standard IVF rule of thumb, never above the row
        count), seeded k-means over a driver-sized sample of at least
        ``want`` rows, and — unless given — the smallest
        ``default_nprobe`` whose estimated routing recall@10 on the
        sample meets ``target`` (``ivf._calibrate_nprobe``:
        data-dependent, not a fixed fraction of nlist). Returns
        ``(fields, rows, normalized sample, centroids)``."""
        from duckdb_vss_spark.index.ivf import _calibrate_nprobe, _kmeans

        nlist, seed = params["nlist"], params["seed"]
        if nlist is None:
            nlist = max(2, min(4096, int(math.isqrt(total))))
        nlist = int(min(nlist, total))
        sample, rows = _training_sample(
            src, vec_col, rows, total, max(nlist * params["sample_per_list"], want), seed
        )
        sample = _norm_rows(sample, metric)
        centroids = _kmeans(sample, nlist, params["kmeans_iters"], seed)
        nprobe = params["default_nprobe"]
        if nprobe is None:
            nprobe = _calibrate_nprobe(sample, centroids, metric, target=target)
            _LOG.info(
                "%s: calibrated default_nprobe=%d/%d (routing recall>=%s on the "
                "training sample)", cls.label, nprobe, nlist, target,
            )
        fields = {
            "nlist": nlist,
            "default_nprobe": nprobe,
            "centroids": [[float(x) for x in row] for row in centroids],
        }
        return fields, rows, sample, centroids

    def _probes(self, query_vec, nprobe: int | None) -> tuple[np.ndarray, list[int]]:
        """(the dims-checked query, its ``nprobe`` nearest lists —
        default: the manifest's calibrated ``default_nprobe``)."""
        q = self._check_dims(query_vec)
        nprobe = int(nprobe or self.manifest["default_nprobe"])
        probes = coarse_probe(self._centroids, _norm_rows(q[None, :], self.metric), nprobe)
        return q, [int(i) for i in probes[0]]

    def _probe_join(
        self, queries: DataFrame, query_vec_col: str, query_id_col: str,
        nprobe: int | None, take: int, dist_col: str, rn_col: str, score,
        drop: tuple, broadcast_queries: bool | None, broadcast_budget_bytes: int,
    ) -> DataFrame:
        """The batched IVF probe (IVF and IVF×SQ ``knn_join``): each query
        explodes to its ``nprobe`` probe lists, an equi-join on
        ``list_id`` routes it to exactly those rows (shuffle ∝
        queries·nprobe + probed lists, never queries × rows), ``score``
        (a Column over both sides) becomes ``dist_col``, and a
        ``row_number ≤ take`` window per query merges; ``drop`` names
        the columns the result leaves out.

        ``broadcast_queries=None`` auto-decides from the optimizer's
        size estimate (``_fits_broadcast``): the probed side is forced
        broadcast only when queries·nprobe fits
        ``broadcast_budget_bytes``; past it the join degrades to a
        shuffle on list_id (AQE splits skewed hot lists) rather than a
        forced broadcast that could OOM executors."""
        nprobe = int(nprobe or self.manifest["default_nprobe"])
        probe_lists = probe_lists_udf(self._centroids, self.metric, nprobe)
        probed = queries.where(F.col(query_vec_col).isNotNull()).withColumn(
            "list_id", F.explode(probe_lists(F.col(query_vec_col)))
        )
        if broadcast_queries is None:
            broadcast_queries = _fits_broadcast(queries, nprobe, broadcast_budget_bytes)
        probed_side = F.broadcast(probed) if broadcast_queries else probed
        w = Window.partitionBy(query_id_col).orderBy(
            F.col(dist_col).asc_nulls_last(), F.col(self.manifest["id_col"])
        )
        return (
            self._data_df()
            .join(probed_side, on="list_id", how="inner")
            .withColumn(dist_col, score)
            .withColumn(rn_col, F.row_number().over(w))
            .where(F.col(rn_col) <= int(take))
            .drop(*drop)
        )
