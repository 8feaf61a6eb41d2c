from duckdb_vss_spark.index.artifact import (  # noqa: F401
    HnswIndex,
    create_hnsw_index,
    drop_index,
    index_info,
    load_index,
)
from duckdb_vss_spark.index.hnsw_graph import HNSWGraph  # noqa: F401
from duckdb_vss_spark.index.ivf import (  # noqa: F401
    IvfIndex,
    create_ivf_index,
    drop_ivf_index,
    load_ivf_index,
)
from duckdb_vss_spark.index.pq import (  # noqa: F401
    PqIndex,
    create_pq_index,
    drop_pq_index,
    load_pq_index,
    train_pq_codebooks,
)
from duckdb_vss_spark.index.ivfpq import (  # noqa: F401
    IvfPqIndex,
    create_ivfpq_index,
    drop_ivfpq_index,
    load_ivfpq_index,
)
from duckdb_vss_spark.index.sq import (  # noqa: F401
    sq_encode,
    sq_knn,
    sq_reconstruct,
    train_sq,
)
from duckdb_vss_spark.index.ivfsq import (  # noqa: F401
    IvfSqIndex,
    create_ivfsq_index,
    drop_ivfsq_index,
    load_ivfsq_index,
)
from duckdb_vss_spark.index.bq import (  # noqa: F401
    BqIndex,
    binary_signature,
    bq_knn,
    create_bq_index,
    drop_bq_index,
    hamming_distance,
    load_bq_index,
)

# the one family table: CREATE INDEX ... USING <family> (plans/rewrite.py,
# IVFADC aliasing IVFPQ) and streaming_index_add's ``index_kind`` read
# each class's ``create``/``load``, ``ddl_options`` and ``data_dir``
INDEX_FAMILIES = {
    "hnsw": HnswIndex,
    "ivf": IvfIndex,
    "pq": PqIndex,
    "ivfpq": IvfPqIndex,
    "ivfsq": IvfSqIndex,
    "bq": BqIndex,
}


def load_any_index(spark, path: str, allow_pending: bool = False):
    """Load an artifact of ANY family by sniffing its manifest (r13):
    the maintenance surfaces (streaming_index_delete, operational
    tooling) shouldn't need the caller to repeat which family lives at
    ``path`` — the manifest already says. Field fingerprints, checked
    in specificity order:

      partitions             -> HNSW   (shard graph list)
      sq_mins                -> IVF×SQ (per-dim codec bounds)
      centroids + codebooks  -> IVFADC (both quantizer levels)
      codebooks              -> PQ
      centroids              -> IVF
      cal_fraction           -> BQ     (persisted calibration)

    An artifact carrying a ``pending_dml`` intent record (r14 — a
    crash between a table DML and its index hook) REFUSES to load
    unless ``allow_pending`` (the resolver's own entrance): serving a
    possibly-divergent index silently is the failure mode the journal
    exists to prevent.
    """
    import json
    import os

    with open(os.path.join(path, "manifest.json")) as f:
        man = json.load(f)
    if man.get("pending_dml") and not allow_pending:
        from duckdb_vss_spark.index.manifest import PendingDmlError

        rec = man["pending_dml"]
        raise PendingDmlError(
            f"index at {path!r} has an unconfirmed {rec.get('op')!r} DML "
            f"(token {rec.get('token')}) — the table changed but the index "
            "update never confirmed. Run "
            "sources.sinks.resolve_pending_dml(spark, path) to replay it, "
            "or rebuild() from the table snapshot."
        )
    if "partitions" in man:
        return HnswIndex(spark, path, man)
    if "sq_mins" in man:
        return IvfSqIndex(spark, path, man)
    if "centroids" in man and "codebooks" in man:
        return IvfPqIndex(spark, path, man)
    if "codebooks" in man:
        return PqIndex(spark, path, man)
    if "centroids" in man:
        return IvfIndex(spark, path, man)
    if "cal_fraction" in man:
        return BqIndex(spark, path, man)
    raise ValueError(
        f"manifest at {path!r} matches no known index family"
    )
