"""Offline mark-delete shared by the quantized index family (r13 —
extends HnswIndex.delete_batch to PQ / IVF / IVFADC / IVFSQ / BQ, the
same family-wide completion the r12 ``add_batch`` work did for
inserts).

Reference contract: src/hnsw/hnsw_index.cpp:466-482 marks rows deleted
in usearch (``index.remove``) and compaction reclaims the slots; the
deleted rows stop appearing in scans immediately while the physical
storage shrinks only at compaction. The Spark-artifact analogue stores
the deleted ids as a skinny tombstones parquet INSIDE the artifact
directory, committed by the same atomic-manifest ritual every other
maintenance path uses:

- every scan path filters candidates with a broadcast anti-join
  against the tombstones (DataFrame scans) or an executor-side id
  mask (the mapInPandas query streams) — deletes are visible to the
  next query with O(|ids|) write work, no code/signature rewrite;
- ``count`` reports live rows (indexed − deleted), the reference's
  post-delete semantics (hnsw_insert.test);
- re-adding a tombstoned id via ``add_batch`` REVIVES it (the
  tombstone is by id, and the fresh batch row is the data);
- ``compact()`` physically drops tombstoned rows and re-packs the
  accumulated add_batch files (the reference's compaction-after-DML
  contract, hnsw_index_pragmas.cpp:154-190).

Tombstones are maintenance-scale state: searches anti-join against
them per query and the stream masks ride to workers as bounded
arrays, so a large accumulated delete set is the signal to compact —
the same contract HnswIndex.delete_batch documents.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duckdb_vss_spark.index.manifest import write_manifest
from duckdb_vss_spark.session import arrow_frame

__all__ = [
    "UNREADABLE",
    "applicable_dead",
    "dead_id_array",
    "dead_id_broadcast",
    "dead_mask_payload",
    "dead_mask_payload_local",
    "filter_dead",
    "live_count",
    "mark_delete",
    "revive",
    "tombstones_df",
    "unwrap_dead",
]

# mirror of streaming_index_delete's auto-compact trigger
# (streaming/ops.py auto_compact_dead_fraction): past this fraction the
# per-query mask cost is the signal to compact()
DEAD_FRACTION_WARN = 0.25

# ``__epoch_lt`` sentinel for un-versioned tombstones: kill the id at
# EVERY append epoch (r14 — versioned tombstones, VERDICT r13 #4: an
# upsert kills (id, epoch < current) so the new version appended at the
# current epoch stays live WITHOUT the O(corpus) physical compact the
# id-only tombstone needed). Row epochs come from the manifest's
# ``file_epochs`` map (basename -> append epoch; bulk-built files are
# epoch 0), so no data file is ever rewritten to version a row.
FULL_KILL = 1 << 62


def tombstones_df(index) -> DataFrame | None:
    """(id) rows marked deleted, or None when there are none."""
    name = index.manifest.get("tombstones_dir")
    if not name or not int(index.manifest.get("deleted_count", 0)):
        return None
    return index.spark.read.parquet(os.path.join(index.path, name))


def dead_id_array(index) -> np.ndarray | None:
    """Sorted int64 ids for the executor-side query-stream masks —
    bounded by the maintenance contract (accumulate only between
    compactions)."""
    t = tombstones_df(index)
    if t is None:
        return None
    id_col = index.manifest["id_col"]
    return np.sort(
        np.fromiter(
            (r[0] for r in t.select(id_col).collect()), dtype=np.int64
        )
    )


def _tombstones_with_lt(index) -> DataFrame | None:
    """Tombstones as (id, __epoch_lt) — pre-r14 dirs lack the epoch
    column, which means kill-at-every-epoch."""
    t = tombstones_df(index)
    if t is None:
        return None
    id_col = index.manifest["id_col"]
    if "__epoch_lt" in t.columns:
        return t.select(
            id_col, F.coalesce("__epoch_lt", F.lit(FULL_KILL)).alias("__epoch_lt")
        )
    return t.select(id_col, F.lit(FULL_KILL).alias("__epoch_lt"))


def dead_mask_payload(index) -> dict | None:
    """The query-stream mask: {'ids': sorted int64, 'lts': aligned
    epoch bounds or None (all FULL_KILL), 'file_epochs': basename ->
    append epoch}. ``applicable_dead`` resolves it per data file
    worker-side."""
    t = _tombstones_with_lt(index)
    if t is None:
        return None
    id_col = index.manifest["id_col"]
    rows = t.select(id_col, "__epoch_lt").collect()
    return _payload(index, [r[0] for r in rows], [r[1] for r in rows])


def _payload(index, ids, lts) -> dict | None:
    """The mask payload of (id, epoch bound) tombstone records, or None
    when there are none."""
    if not len(ids):
        return None
    ids = np.asarray(ids, dtype=np.int64)
    lts = np.asarray(lts, dtype=np.int64)
    order = np.argsort(ids)
    ids, lts = ids[order], lts[order]
    if bool((lts >= FULL_KILL).all()):
        lts = None  # the common un-versioned case: one array, not two
    return {
        "ids": ids,
        "lts": lts,
        "file_epochs": dict(index.manifest.get("file_epochs") or {}),
    }


def applicable_dead(dead, file: str | None = None) -> np.ndarray | None:
    """Worker-side: resolve a mask payload (dict from
    dead_mask_payload, possibly broadcast-unwrapped) or a plain id
    array to the dead-id array applicable to ``file`` — versioned
    kills apply only to rows in files appended BEFORE the kill's
    epoch bound. Returns None when nothing applies."""
    if dead is None:
        return None
    if isinstance(dead, dict):
        ids, lts = dead["ids"], dead.get("lts")
        if lts is not None:
            e = (dead.get("file_epochs") or {}).get(
                os.path.basename(file) if file else "", 0
            )
            ids = ids[lts > int(e)]
    else:
        ids = dead
    return ids if len(ids) else None


# sentinel: the tombstones dir exists but could not be read from the
# driver (remote FS, permissions) — callers must keep the Spark path
UNREADABLE = object()


def dead_mask_payload_local(index):
    """``dead_mask_payload`` computed WITHOUT a Spark job (r16 — for
    the driver-local gate-small search paths): the tombstones parquet
    is read driver-side via pyarrow. Returns the same payload dict,
    None when the artifact is clean, or the ``UNREADABLE`` sentinel
    when the dir cannot be read from this process (caller then keeps
    the distributed scan, which CAN read it)."""
    name = index.manifest.get("tombstones_dir")
    if not name or not int(index.manifest.get("deleted_count", 0)):
        return None
    try:
        import pyarrow.parquet as _papq

        id_col = index.manifest["id_col"]
        d = os.path.join(index.path, name)
        ids_l: list[int] = []
        lts_l: list[int] = []
        for fn in sorted(os.listdir(d)):
            if not fn.endswith(".parquet"):
                continue
            t = _papq.read_table(os.path.join(d, fn))
            ids_l.extend(int(x) for x in t.column(id_col).to_pylist())
            if "__epoch_lt" in t.column_names:
                # same NULL coalescing as _tombstones_with_lt
                lts_l.extend(
                    FULL_KILL if x is None else int(x)
                    for x in t.column("__epoch_lt").to_pylist()
                )
            else:
                lts_l.extend(FULL_KILL for _ in range(t.num_rows))
        return _payload(index, ids_l, lts_l)
    except Exception:  # noqa: BLE001 — remote FS: let Spark read it
        return UNREADABLE


def dead_id_broadcast(index):
    """The dead-id mask as a Spark BROADCAST variable for the
    executor-side query streams (r14, VERDICT r13 #3: a
    pickled-closure array ships once per TASK — a 10M-row delete set
    between compactions is ~80 MB in every task closure of every
    multi-query join; a broadcast ships once per EXECUTOR and is
    torrent-distributed). Warns past the same dead-fraction threshold
    the streaming face auto-compacts at — a mask that big is the
    signal to compact(). Returns None when the artifact is clean; the
    stream kernels resolve it worker-side via ``unwrap_dead``."""
    import warnings

    payload = dead_mask_payload(index)
    if payload is None:
        return None
    total = max(int(index.manifest.get("count", 0)), 1)
    frac = len(payload["ids"]) / total
    if frac > DEAD_FRACTION_WARN:
        warnings.warn(
            f"{type(index).__name__} at {index.path}: {len(payload['ids'])} "
            f"tombstoned ids ({frac:.0%} of indexed rows) ride to every "
            "executor of this query stream — compact() to reclaim",
            stacklevel=2,
        )
    return index.spark.sparkContext.broadcast(payload)


def unwrap_dead(dead):
    """Worker-side resolve: a broadcast mask (or a plain array, for
    the local/test paths) -> the sorted int64 id array, or None."""
    if dead is not None and hasattr(dead, "value"):
        return dead.value
    return dead


def filter_dead(index, df: DataFrame, id_col: str | None = None) -> DataFrame:
    """Drop tombstoned rows from a candidate scan: broadcast left-anti
    join (the tombstone side is maintenance-bounded). No-op when the
    artifact has no tombstones, so clean indexes keep their exact
    pre-delete plans; the id-only anti-join is kept whenever no
    VERSIONED kill exists (the common case — plain deletes keep their
    exact r13 plans too).

    With versioned tombstones (r14 upsert kills): each row's append
    epoch is derived from ``input_file_name()`` through the manifest's
    ``file_epochs`` map (a broadcast-joined skinny frame — no data
    file carries an epoch column), and the anti-join keeps a row
    unless some record matches its id AND bounds its epoch
    (``row_epoch < __epoch_lt``). ``df`` must be a raw scan of the
    artifact's data dir (every family caller is) for the file-name
    derivation to resolve."""
    t = tombstones_df(index)
    if t is None:
        return df
    man_id = index.manifest["id_col"]
    col = id_col or man_id
    if not index.manifest.get("versioned_tombstones"):
        return df.join(
            F.broadcast(t.select(F.col(man_id).alias(col))), col, "left_anti"
        )
    tt = _tombstones_with_lt(index).select(
        F.col(man_id).alias("__dead_id"), "__epoch_lt"
    )
    fe = index.manifest.get("file_epochs") or {}
    if fe:
        fdf = index.spark.createDataFrame(
            [(k, int(v)) for k, v in fe.items()], "__fname string, __fepoch long"
        )
        src = (
            df.withColumn(
                "__fname", F.regexp_extract(F.input_file_name(), "[^/]*$", 0)
            )
            .join(F.broadcast(fdf), "__fname", "left")
            .withColumn("__fepoch", F.coalesce("__fepoch", F.lit(0)))
        )
    else:
        src = df.withColumn("__fname", F.lit("")).withColumn(
            "__fepoch", F.lit(0).cast("long")
        )
    out = src.join(
        F.broadcast(tt),
        (F.col(col) == F.col("__dead_id"))
        & (F.col("__fepoch") < F.col("__epoch_lt")),
        "left_anti",
    )
    return out.drop("__fname", "__fepoch")


def live_count(manifest: dict) -> int:
    """Indexed minus tombstoned — the reference's post-delete count."""
    return int(manifest["count"]) - int(manifest.get("deleted_count", 0))


def mark_delete(
    index,
    ids,
    keys_df: DataFrame,
    manifest_extra: dict | None = None,
    epoch_lt: int | None = None,
):
    """The shared delete_batch body: tombstone ``ids`` in ``index``'s
    artifact. ``keys_df`` is the family's live id listing (a skinny
    column-pruned scan of its codes/sigs/lists) — only ids the index
    actually holds are marked, so delete-of-missing and double-delete
    are no-ops (DML DELETE semantics). Cost: the tombstone write is
    O(|ids| + |tombstones|), plus ONE id-column index scan for the
    membership check — the same cost class as a single query over the
    artifact (column-pruned parquet: the codes/sigs/lists for the
    quantized families, the shards' keys sidecars for HNSW). No data
    file is rewritten.

    ``epoch_lt`` (r14, VERDICT r13 #4) bounds the kill to rows
    appended BEFORE that epoch: the upsert hook tombstones
    ``(id, epoch < next)`` and appends the new versions at ``next``,
    so the replacement is O(batch) with no physical compact. Records
    aggregate to max(__epoch_lt) per id — a row is dead iff its epoch
    is under ANY record's bound. Default (None) kills at every epoch,
    the r13 semantics. Returns ``index`` with the manifest updated in
    place (atomic write, old tombstone dir swept after)."""
    man = index.manifest
    id_col = man["id_col"]
    if isinstance(ids, DataFrame):
        col = id_col if id_col in ids.columns else ids.columns[0]
        ids_df = ids.select(F.col(col).cast("long").alias(id_col))
    else:
        ids_df = arrow_frame(
            index.spark, {id_col: [int(x) for x in ids]}, f"{id_col} long"
        )
    # r16 (guide §2.4): no distinct on either semi-join side — set
    # membership needs none, and the groupBy(id) merge below is the
    # one dedup the records need (the versioned path's incremental
    # n_present count wants DISTINCT ids though, so that branch keeps
    # its dedup via the groupBy-input distinct there)
    ids_df = ids_df.where(F.col(id_col).isNotNull()).distinct()
    present = ids_df.join(
        keys_df.select(id_col), id_col, "left_semi"
    ).withColumn(
        "__epoch_lt",
        F.lit(int(epoch_lt) if epoch_lt is not None else FULL_KILL).cast("long"),
    )
    n_present = None
    if epoch_lt is not None:
        # a versioned kill's dead rows are counted INCREMENTALLY (the
        # merged records can't: two upserts of one id share one
        # max-bound record but killed two physical rows); persist so
        # the membership scan still runs once
        present = present.persist()
        n_present = present.count()
    old = _tombstones_with_lt(index)
    allrec = present if old is None else old.unionByName(present)
    merged_ids = allrec.groupBy(id_col).agg(
        F.max("__epoch_lt").alias("__epoch_lt")
    )
    name = f"tombstones-{uuid.uuid4().hex[:12]}"
    merged_ids.write.parquet(os.path.join(index.path, name))
    if n_present is not None:
        present.unpersist()
    merged = dict(man)
    old_dir = merged.get("tombstones_dir")
    merged["tombstones_dir"] = name
    if epoch_lt is not None:
        merged["versioned_dead"] = int(man.get("versioned_dead", 0)) + int(
            n_present
        )
        # gate for the epoch-aware scan plans; plain deletes keep the
        # exact r13 id-only anti-join plans
        merged["versioned_tombstones"] = True
    # deleted rows = full-kill records (one dead row per id under the
    # r13 id-accounting convention) + the accumulated versioned kills;
    # compact()'s exact recount remains the ultimate corrector for the
    # documented duplicate-id caveat. When NO versioned record can
    # exist (this kill is a full kill and none accumulated before),
    # every written record is FULL_KILL and the footer row count
    # answers without a Spark job (guide §1 — r16)
    n_full = -1
    if epoch_lt is None and not man.get("versioned_tombstones"):
        from duckdb_vss_spark.sources.layout import parquet_dir_rows

        n_full = parquet_dir_rows(os.path.join(index.path, name))
    if n_full < 0:
        written = index.spark.read.parquet(os.path.join(index.path, name))
        n_full = written.where(F.col("__epoch_lt") >= FULL_KILL).count()
    merged["deleted_count"] = int(n_full) + int(merged.get("versioned_dead", 0))
    if manifest_extra:
        # e.g. streaming replay stamps — ride the SAME atomic commit
        merged.update(manifest_extra)
    merged["updated_at"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    write_manifest(index.path, merged)
    index.manifest = merged
    if old_dir and old_dir != name:
        shutil.rmtree(os.path.join(index.path, old_dir), ignore_errors=True)
    return index


def revive(index, batch_ids_df: DataFrame, merged: dict) -> str | None:
    """add_batch revive semantics (mirrors HnswIndex.add_batch's
    tombstone merge): drop the incoming batch's ids from the tombstone
    set so a re-added id is live again. Only FULL-kill records revive
    (r14): a VERSIONED record (``__epoch_lt`` bound, the upsert kill)
    stays — it never applies to the new rows (their append epoch is at
    or past the bound), while removing it would resurrect the old
    versions it exists to kill. Mutates ``merged`` (the manifest the
    caller is about to write atomically — the revive rides the SAME
    commit as the count bump) and returns the OLD tombstone dir for
    the caller to sweep AFTER its write_manifest, or None when there
    was nothing to revive."""
    man = index.manifest
    if not int(man.get("deleted_count", 0)):
        return None
    id_col = man["id_col"]
    old = _tombstones_with_lt(index)
    readded = batch_ids_df.select(id_col).distinct().withColumn(
        "__re", F.lit(True)
    )
    remaining = (
        old.join(readded, id_col, "left")
        .where(F.col("__re").isNull() | (F.col("__epoch_lt") < FULL_KILL))
        .select(id_col, "__epoch_lt")
    )
    name = f"tombstones-{uuid.uuid4().hex[:12]}"
    remaining.write.parquet(os.path.join(index.path, name))
    # one agg job answers both counts (r16 — was a count + a filtered
    # count, two scans of the file just written)
    row = (
        index.spark.read.parquet(os.path.join(index.path, name))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("__epoch_lt") >= FULL_KILL, 1)).alias("nf"),
        )
        .first()
    )
    n_records, n_full = int(row["n"]), int(row["nf"])
    old_dir = man.get("tombstones_dir")
    if n_records:
        merged["tombstones_dir"] = name
        merged["deleted_count"] = int(n_full) + int(
            man.get("versioned_dead", 0)
        )
    else:
        shutil.rmtree(os.path.join(index.path, name), ignore_errors=True)
        merged.pop("tombstones_dir", None)
        merged.pop("deleted_count", None)
        merged.pop("versioned_dead", None)
        merged.pop("versioned_tombstones", None)
        name = None
    return old_dir if old_dir != name else None


def compact_data(
    index,
    subdir: str,
    partition_by: str | None = None,
    rows_per_file: int = 65_536,
) -> str | None:
    """Physically reclaim an artifact's data dir: read it back, drop
    tombstoned rows, re-pack the accumulated add_batch part files
    (right-sized for flat layouts; one file per list for hive layouts
    so probes read one file instead of one-per-epoch), and swap the
    rewritten dir into place. Returns the rewritten data dir (its
    footers are the new counts), or None when there was nothing to do
    (no tombstones and nothing to coalesce).

    The caller owns the manifest commit (count := live, tombstone
    fields cleared) — call ``finish_compact`` right after. Crash
    safety (ADVICE r13 — the old rmtree-then-rename window could lose
    the whole data dir): the rewrite lands in a hidden staging dir,
    then the old data dir is PARKED at a ``.__old__`` sibling across
    the stage's rename-in, and the parked copy is removed only after
    the swap — every crash point leaves either the old data (possibly
    under the parked name, restored on the next compact_data call
    because the manifest still references the pre-compact state) or
    the complete new data, never neither. Compaction is offline
    maintenance, same contract as the reference's PRAGMA."""
    data_dir = os.path.join(index.path, subdir)
    parked = data_dir.rstrip("/") + ".__old__"
    if not os.path.isdir(data_dir) and os.path.isdir(parked):
        # a previous compaction crashed between parking the old dir and
        # renaming the stage in — the manifest was never updated, so the
        # PARKED (old) copy is the consistent state: restore it
        os.rename(parked, data_dir)
    # sweep orphans from previously-crashed compactions of THIS artifact
    # (the restore above runs FIRST — a stage dir is only garbage once
    # the live data dir is accounted for)
    for nm in os.listdir(index.path):
        if nm.startswith(".compact-"):
            shutil.rmtree(os.path.join(index.path, nm), ignore_errors=True)
    shutil.rmtree(parked, ignore_errors=True)  # crash after rename-in
    # no-op guard (review r13): with zero tombstones and an already
    # right-sized layout there is no state change to buy, so do not
    # pay the O(corpus) rewrite or enter its crash window at all
    if not int(index.manifest.get("deleted_count", 0)):
        n_files = sum(
            1
            for _root, _dirs, names in os.walk(data_dir)
            for nm in names
            if nm.endswith(".parquet")
        )
        if partition_by:
            floor = int(index.manifest.get("nlist", 1))
        else:
            floor = max(1, -(-live_count(index.manifest) // rows_per_file))
        if n_files <= floor:
            return None
    df = index.spark.read.parquet(data_dir)
    df = filter_dead(index, df)
    if partition_by:
        out = df.repartition(F.col(partition_by))
        writer = out.write.partitionBy(partition_by)
    else:
        n_files = max(1, -(-live_count(index.manifest) // rows_per_file))
        out = df.repartition(n_files)
        writer = out.write
    stage = os.path.join(index.path, f".compact-{uuid.uuid4().hex[:12]}")
    writer.parquet(stage)
    # park-then-swap (ADVICE r13): old data survives every crash point
    os.rename(data_dir, parked)
    os.rename(stage, data_dir)
    shutil.rmtree(parked, ignore_errors=True)
    return data_dir


def finish_compact(
    index, new_count: int | None = None, extra: dict | None = None
) -> None:
    """Commit a compaction: count := the EXACT rewritten row count
    (``new_count`` — callers count the compacted files; live_count is
    only the fallback because deleting an id kills EVERY row carrying
    it, so with duplicate re-appended ids the id-based arithmetic
    undercounts the reclaim), tombstone bookkeeping cleared, ``extra``
    manifest fields (e.g. recomputed per-list stats) merged — one
    atomic write, then the tombstone dir sweeps."""
    man = index.manifest
    merged = dict(man)
    merged["count"] = int(new_count) if new_count is not None else live_count(man)
    old_dir = merged.pop("tombstones_dir", None)
    merged.pop("deleted_count", None)
    # the rewritten files are all-live at epoch 0 again; the
    # append_epoch counter keeps rising so future versioned kills stay
    # monotonic
    merged.pop("versioned_tombstones", None)
    merged.pop("versioned_dead", None)
    merged.pop("file_epochs", None)
    if extra:
        merged.update(extra)
    merged["updated_at"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    write_manifest(index.path, merged)
    index.manifest = merged
    if old_dir:
        shutil.rmtree(os.path.join(index.path, old_dir), ignore_errors=True)
