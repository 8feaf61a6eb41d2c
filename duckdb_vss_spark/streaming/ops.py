"""Structured Streaming operators.

The reference has NO streaming surface (SURVEY §2.2 — grep over src/ and
test/ finds none); this module is a north-star extension: the streaming
shapes a training-data ingest pipeline needs, built on Spark's native
watermark/window/session machinery, plus the micro-batch index-refresh
loop that replaces the reference's online DML index maintenance
(Insert/Delete/Compact, §2.1 #13) in a Spark-idiomatic way.

All operators accept any streaming DataFrame with an event-time column;
``read_events_stream`` adapts the driver's events table for smoke tests
(file source → processAllAvailable drives it synchronously).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def _stage_symlink(prefix: str, sf_dir: str, filename: str) -> str:
    """Stage a read-only table file behind a /tmp symlink dir (Spark's
    file stream source needs a DIRECTORY). One shared implementation
    (review r13: the lexists + try/except dance lived only in the
    embeddings reader while the events/documents readers kept the
    dangling-link + TOCTOU bugs it fixes): a dangling link (source
    vanished) reports absent via exists() and would then raise
    FileExistsError forever; the try/except closes the race between
    concurrent sessions sharing the staging dir."""
    import hashlib

    stage = os.path.join(
        "/tmp", f"{prefix}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    )
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, filename)
    if os.path.lexists(link) and not os.path.exists(link):
        os.unlink(link)
    if not os.path.lexists(link):
        try:
            # absolutized: a relative sf_dir would otherwise resolve
            # relative to the /tmp staging dir and dangle forever
            # (review r15)
            os.symlink(
                os.path.abspath(os.path.join(sf_dir, filename)), link
            )
        except FileExistsError:
            pass
    return stage


# shared with the bound-table DML hooks in sources/sinks.py (ADVICE
# r15: the hooks journaled and add_batch'ed WITHOUT it, so a table DML
# racing a streaming micro-batch could still interleave manifest
# load→modify→commit cycles) — one lock, one docstring, in manifest.py
from duckdb_vss_spark.index.manifest import (  # noqa: E402
    artifact_mutate_lock as _artifact_mutate_lock,
)


def _resolve_if_pending(spark, index_path: str) -> None:
    """A micro-batch must not mutate an artifact carrying a
    ``pending_dml`` intent record (review r15): family loaders skip
    the pending check entirely (silent divergence), while
    ``load_any_index`` raises and would kill the streaming query on a
    benign race with a bound-table DML's journal window. Replaying the
    journal first — the same auto-heal the durable catalog performs on
    restart — closes both: idempotent if the DML's index update in
    fact landed, and a genuinely unrecoverable journal still raises
    loudly (PendingDmlError names rebuild())."""
    man_path = os.path.join(index_path, "manifest.json")
    try:
        with open(man_path) as fh:
            pending = "pending_dml" in json.load(fh)
    except (OSError, ValueError):
        return
    if pending:
        from duckdb_vss_spark.sources.sinks import resolve_pending_dml

        resolve_pending_dml(spark, index_path)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of the events table (file source; in production a
    Kafka source lands here — same downstream operators).

    The event-time unit is derived from the parquet footer, never
    assumed (the driver's testdata has shipped both TIMESTAMP(NANOS)
    and TIMESTAMP(MICROS) across rounds; a hard-coded unit silently
    rescaled all of event time by 1000× in round 4). Either way the
    returned ``ts`` is a session-TZ TIMESTAMP — the session TZ is
    pinned UTC (session.py), so the NTZ→LTZ cast is value-preserving
    and downstream ``unix_micros``/``window`` consumers see identical
    values for both file layouts."""
    from duckdb_vss_spark.sources import events_ts_unit

    path = os.path.join(sf_dir, "events.parquet")
    nanos = events_ts_unit(path) == "timestamp[ns]"
    stage = _stage_symlink("vss_stream", sf_dir, "events.parquet")
    if nanos:
        # legacy NANOS files are unreadable as timestamps; take the raw
        # int64 and truncate ns→us. SESSION-WIDE side effect, documented
        # (review r13): the conf stays set because the stream decodes
        # lazily per micro-batch — later reads of OTHER nanos-timestamp
        # parquet in this session will also see them as bigint. This
        # repo's own readers derive the unit from the footer
        # (sources.events_ts_unit) and are unaffected.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.readStream.schema(_events_schema(T.LongType())).parquet(stage)
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    df = spark.readStream.schema(_events_schema(T.TimestampNTZType())).parquet(stage)
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def windowed_event_counts(
    events: DataFrame,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
    exact_sum: bool = False,
) -> DataFrame:
    """Watermarked sliding-window counts per event_type — the canonical
    late-data-tolerant streaming aggregate. ``exact_sum`` routes the
    value sum through a decimal so accumulation order (which micro-batch
    a row lands in) cannot perturb the float result."""
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    val = (
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
        if exact_sum
        else F.sum("value")
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w, "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            val.alias("sum_value"),
        )
    )


def session_window_stats(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    exact_sum: bool = False,
) -> DataFrame:
    """Per-user session windows (gap-based) — streaming equivalent of the
    batch sessionization query (queries.q_sessionize_events). Sessions
    merge while consecutive events are ≤ gap apart; window end = last
    event + gap (Spark session_window semantics). ``exact_sum`` routes
    the value sum through a decimal so micro-batch accumulation order
    cannot perturb the float result (oracle-comparable)."""
    val = (
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
        if exact_sum
        else F.sum("value")
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), val.alias("sum_value"))
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    lookback: str = "10 minutes",
    watermark: str = "1 hour",
    keep_ts: bool = False,
) -> DataFrame:
    """Stream-stream interval join: each left event paired with every
    right event of the same user in the trailing ``lookback`` window —
    the streaming twin of operators/interval.interval_join (Flink's
    interval join; DuckDB runs the same predicate as a batch
    inequality join, which is this surface's oracle).

    Spark-native: a watermarked stream-stream INNER join with a
    time-range condition. The watermark + range bound is what lets the
    join state GC old rows — without both, stream-stream join state
    grows forever; with them, each side retains only
    watermark + lookback of data regardless of total stream length
    (the property that matters for an unbounded 100 TB/day stream).

    `left` and `right` must be event streams with (event_id, user_id,
    ts) columns; returns (click_id, err_id, user_id) pairs, append
    mode — plus the left timestamp as `l_ts` when ``keep_ts`` is set
    (so a downstream windowed aggregate can chain onto the join:
    Spark's multi-stateful append pipeline).
    """
    l = (
        left.select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("l_ts"),
        ).withWatermark("l_ts", watermark)
    )
    r = (
        right.select(
            F.col("event_id").alias("err_id"),
            F.col("user_id").alias("r_user_id"),
            F.col("ts").alias("r_ts"),
        ).withWatermark("r_ts", watermark)
    )
    j = l.join(
        r,
        F.expr(
            f"""user_id = r_user_id
                AND r_ts BETWEEN l_ts - INTERVAL {lookback} AND l_ts"""
        ),
        "inner",
    )
    cols = ["click_id", "err_id", "user_id"] + (["l_ts"] if keep_ts else [])
    return j.select(*cols)


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of the documents table (file source)."""
    stage = _stage_symlink("vss_docstream", sf_dir, "documents.parquet")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    return spark.readStream.schema(schema).parquet(stage)


def streaming_dedup_first(
    stream: DataFrame, key_col: str, order_col: str
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: streaming
    exact-dedup. The first occurrence (lowest ``order_col``) of each
    ``key_col`` is emitted exactly once across the whole stream; any
    later occurrence — same micro-batch or any later one — is dropped
    through a per-key boolean state (checkpointed, so the guarantee
    survives restarts). This is the arbitrary-stateful surface the
    built-in window/session operators can't express: state is keyed by
    CONTENT (the fingerprint), not by time."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = f"{key_col} string, keep_id long"
    state_schema = "seen boolean"

    def fn(key, pdfs, state):
        best = None
        for pdf in pdfs:
            if len(pdf):
                m = pdf[order_col].min()
                best = m if best is None else min(best, m)
        if best is not None and not state.exists:
            state.update((True,))
            yield pd.DataFrame({key_col: [key[0]], "keep_id": [int(best)]})

    # each key emits exactly once, so "append" is the natural operator
    # mode (and composes with append-only sinks like files)
    return stream.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def streaming_index_refresh(
    vectors: DataFrame,
    base_df_provider,
    index_path: str,
    vec_col: str,
    id_col: str,
    checkpoint_dir: str,
    **index_opts,
):
    """Micro-batch ANN index refresh: each batch triggers a bulk rebuild
    from the current accumulated snapshot (``base_df_provider()``).

    This is the Spark-native replacement for the reference's online
    index DML — its own README recommends bulk build over incremental
    insert anyway (README.md:66 "faster to create the index after the
    table has been populated"). Returns the StreamingQuery.
    """
    from duckdb_vss_spark.index import create_hnsw_index

    def refresh(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        create_hnsw_index(
            spark,
            base_df_provider(),
            vec_col=vec_col,
            id_col=id_col,
            path=index_path,
            overwrite=True,
            **index_opts,
        )

    return (
        vectors.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(refresh)
        .start()
    )


def _index_fns(kind: str):
    """(create, load, data subdir for the file-count compaction trigger;
    None = HNSW, whose add_batch carries its own shard-count trigger)
    of an index family (index.INDEX_FAMILIES)."""
    from duckdb_vss_spark.index import INDEX_FAMILIES

    cls = INDEX_FAMILIES[kind]
    return cls.create, cls.load, cls.data_dir


def _data_file_count(path: str, subdir: str) -> int:
    import os as _os

    total = 0
    for _root, _dirs, names in _os.walk(_os.path.join(path, subdir)):
        total += sum(1 for nm in names if nm.endswith(".parquet"))
    return total


def streaming_index_add(
    vectors: DataFrame,
    index_path: str,
    vec_col: str,
    id_col: str,
    checkpoint_dir: str,
    auto_compact_shards: int = 64,
    index_kind: str = "hnsw",
    **index_opts,
):
    """Micro-batch INCREMENTAL index maintenance (r12; family-wide
    r13): each batch is merged into the artifact via the index
    family's ``add_batch`` — O(batch)
    per epoch instead of ``streaming_index_refresh``'s O(corpus)
    rebuild, which is the difference between a stream that keeps up
    and one that falls behind as the corpus grows.

    Epoch idempotency: foreachBatch replays the in-flight micro-batch
    after a restart, and add_batch is append-only, so the manifest
    records the last merged epoch IN THE SAME atomic manifest write as
    the merge — a replayed epoch is detected and skipped, making the
    merge exactly-once. The stamp is SCOPED TO THE STREAM (ADVICE r12:
    epoch ids restart at 0 whenever the checkpoint directory changes,
    so a bare global stamp would silently DROP every early batch of a
    restarted-with-fresh-checkpoint stream, and two streams sharing
    one index would suppress each other): the manifest holds
    ``last_epochs = {checkpoint-dir-hash: epoch}``, so only a true
    replay of the same checkpointed query is skipped. A pre-r13 bare
    ``last_epoch`` stamp is honored only until the first scoped write.
    The first batch creates the artifact (its epoch stamp is a
    separate write; a crash landing exactly between the create and the
    stamp replays batch 0 onto itself — the one at-least-once edge,
    same boundary the refresh op has). An existing artifact at
    ``index_path`` (e.g. a bulk nightly build) is extended, not
    overwritten.

    Duplicate ids across epochs append like the reference's Insert
    does — pair with ``streaming_dedup_against_store``/``corpus_diff``
    upstream when the stream can replay source rows. Shards accumulate
    one-per-epoch-partition, and every shard adds k candidates to every
    future query's merge — so the merge itself carries the compaction
    cadence (r13, VERDICT r12 #4): when the artifact exceeds
    ``auto_compact_shards`` shards beyond its snapshot-sized count, it
    repacks from its own stored vectors (``compact_from_shards``, no
    source scan), with the replay stamps preserved across the repack.
    Search cost after N epochs therefore tracks the compacted shard
    count, not N. The repack replaces the artifact dir; a crash inside
    it loses the artifact (same window as the reference's PRAGMA
    compact) — the stream recreates it from the checkpoint's replay.

    ``index_kind`` (r13, the family-wide face): any index family with
    an ``add_batch`` — ``"hnsw"`` (default) or ``"pq"``/``"ivf"``/
    ``"ivfpq"``/``"ivfsq"``/``"bq"``. The first micro-batch CREATES a
    quantized artifact, which freezes its codecs (codebooks/centroids/
    SQ bounds/BQ calibration) on that batch's distribution — fine for
    a stationary stream, but the recommended production pattern is to
    seed ``index_path`` with a bulk nightly build and let the stream
    EXTEND it (an existing artifact is never overwritten). Quantized
    compaction cadence: their add_batch appends one part file per
    batch-partition per epoch, so past ``auto_compact_shards`` data
    files beyond the right-sized count the merge calls the family's
    self-contained ``compact()`` (tombstones reclaimed too; the replay
    stamps survive the repack — finish_compact copies the manifest).

    Returns the StreamingQuery."""
    import hashlib

    create_index, load_index_fn, data_subdir = _index_fns(index_kind)

    # the stream's identity: its checkpoint dir IS the epoch-counter
    # scope (Spark's epoch ids are per-checkpoint), so keying the stamp
    # by it makes the replay guard exact
    stream_key = hashlib.md5(
        os.path.abspath(checkpoint_dir).encode()
    ).hexdigest()[:12]

    def add(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        with _artifact_mutate_lock(index_path):
            man_path = os.path.join(index_path, "manifest.json")
            if not os.path.exists(man_path):
                ix = create_index(
                    spark,
                    batch_df,
                    vec_col=vec_col,
                    id_col=id_col,
                    path=index_path,
                    overwrite=True,  # replayed epoch-0 recreate: idempotent
                    **index_opts,
                )
                ix.manifest["last_epochs"] = {stream_key: int(epoch_id)}
                from duckdb_vss_spark.index.manifest import write_manifest

                write_manifest(index_path, ix.manifest, indent=1)
                return
            _resolve_if_pending(spark, index_path)
            ix = load_index_fn(spark, index_path)
            stamps = dict(ix.manifest.get("last_epochs") or {})
            if not stamps and "last_epoch" in ix.manifest:
                # pre-r13 manifest: adopt the bare stamp ONLY when this
                # stream's epoch counter is already past it — a
                # same-checkpoint resume replays at epoch >= stamp,
                # while a FRESH checkpoint restarts at 0 and adopting
                # would silently drop every batch up to the stamp
                # (review r15). Trade-off (ADVICE r15): under a fresh
                # checkpoint that re-reads a source which STILL HOLDS
                # the already-indexed batches, epochs 0..stamp now
                # re-apply and re-add those rows as duplicates — the
                # epoch counter alone cannot distinguish that from the
                # fresh-checkpoint-new-data case the adoption guard
                # protects (where skipping LOST data). Duplicates are
                # recoverable (rebuild(), or dedup by id at query
                # time); lost rows are not, so the guard errs this
                # way. Migrating a pre-r13 artifact under a fresh
                # checkpoint cleanly = rebuild() it first.
                bare = int(ix.manifest["last_epoch"])
                if int(epoch_id) >= bare:
                    stamps = {stream_key: bare}
            if int(stamps.get(stream_key, -1)) >= int(epoch_id):
                return  # replayed micro-batch after restart — merged
            stamps[stream_key] = int(epoch_id)
            if data_subdir is None:  # HNSW: shard trigger rides add_batch
                ix.add_batch(
                    batch_df,
                    manifest_extra={"last_epochs": stamps},
                    auto_compact_shards=auto_compact_shards,
                )
                return
            ix.add_batch(batch_df, manifest_extra={"last_epochs": stamps})
            if auto_compact_shards is None:
                return  # manual cadence (review r15: int(None) raised)
            # hive-layout families legitimately hold ~one file PER LIST
            # after a compact — the trigger must not refire on that
            # floor
            right_sized = max(
                1,
                (int(ix.manifest["count"]) + 65_535) // 65_536,
                int(ix.manifest.get("nlist", 1)),
            )
            n_files = _data_file_count(index_path, data_subdir)
            if n_files > int(auto_compact_shards) and n_files > right_sized:
                ix.compact()

    return (
        vectors.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(add)
        .start()
    )


def streaming_index_delete(
    ids: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    index_kind: str | None = None,
    auto_compact_dead_fraction: float | None = 0.25,
):
    """Micro-batch INCREMENTAL index deletes (r13 — the streaming face
    of ``delete_batch``, completing the streaming DML pair with
    ``streaming_index_add``; reference src/hnsw/hnsw_index.cpp:466-482
    mark-delete + compact reclaim): each micro-batch of ids is
    tombstoned into the artifact at ``index_path`` — O(|batch| +
    |tombstones|) per epoch, no data rewrite; every search over the
    artifact excludes them from the next query on.

    Replay safety: deleting the same ids twice is a NO-OP by
    construction (tombstones are a set), so the operation is
    idempotent even without the stamp — but the per-checkpoint epoch
    stamp (``last_del_epochs``, riding the same atomic manifest commit
    as the tombstone write) is kept anyway so a true same-stream
    replay cannot re-kill an id that a CONCURRENT add stream revived
    between the original batch and its replay. Cross-stream ordering
    beyond that is wall-clock, as in any CDC apply: an add and a
    delete of the same id racing through two streams land in commit
    order.

    ``auto_compact_dead_fraction``: once tombstones exceed this
    fraction of the indexed rows, the merge compacts — every query
    pays the anti-join/over-fetch proportional to the tombstone count,
    so unbounded accumulation degrades search exactly like unbounded
    shards do on the add side. HNSW repacks from its own stored
    vectors (``compact_from_shards``); quantized families rewrite
    their codes/sigs/lists (``compact()``). Both preserve the replay
    stamps. None disables (manual cadence).

    A batch arriving before the artifact exists is SKIPPED with the
    checkpoint advancing (deleting from nothing deletes nothing — the
    same DELETE-of-missing no-op as the batch API).

    ``index_kind`` is OPTIONAL here (unlike the add face, which must
    know what to CREATE on the first batch): an existing artifact's
    manifest says which family it is (``load_any_index``).

    Returns the StreamingQuery."""
    import hashlib

    from duckdb_vss_spark.index import load_any_index

    if index_kind is not None:
        _index_fns(index_kind)  # validate EAGERLY — a typo'd kind must
        # fail the call, not kill the running stream on its first batch

    stream_key = hashlib.md5(
        os.path.abspath(checkpoint_dir).encode()
    ).hexdigest()[:12]

    def kill(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        with _artifact_mutate_lock(index_path):
            if not os.path.exists(os.path.join(index_path, "manifest.json")):
                return  # nothing to delete from (yet)
            _resolve_if_pending(spark, index_path)
            if index_kind is not None:
                _c, load_index_fn, _s = _index_fns(index_kind)
                ix = load_index_fn(spark, index_path)
            else:
                ix = load_any_index(spark, index_path)
            stamps = dict(ix.manifest.get("last_del_epochs") or {})
            if int(stamps.get(stream_key, -1)) >= int(epoch_id):
                return  # replayed micro-batch after restart — applied
            stamps[stream_key] = int(epoch_id)
            ix.delete_batch(
                batch_df, manifest_extra={"last_del_epochs": stamps}
            )
            if auto_compact_dead_fraction is None:
                return
            dead = int(ix.manifest.get("deleted_count", 0))
            total = int(ix.manifest.get("count", 0))
            if total and dead / total > float(auto_compact_dead_fraction):
                if hasattr(ix, "compact_from_shards"):  # HNSW repack
                    # DEFAULT preserve — it keeps pending_dml and
                    # last_dml_token beside the replay stamps (review
                    # r15: the narrowed tuple destroyed an in-flight
                    # DML journal record, exactly the divergence the
                    # journal exists to detect)
                    ix.compact_from_shards()
                else:  # quantized: self-contained data-dir rewrite
                    ix.compact()

    return (
        ids.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(kill)
        .start()
    )


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    stream_key: str,
    dim_key: str,
    window: str = "15 minutes",
    group_col: str = "c_mktsegment",
) -> DataFrame:
    """Stream-static enrichment join feeding a windowed aggregate — the
    canonical streaming-ETL shape (fact stream × slowly-changing dim).

    Spark-native: a stream-static join is STATELESS — the static side
    is planned as a broadcast hash join probed per micro-batch, so no
    watermark is needed on the dim and no join state accumulates;
    state exists only in the downstream windowed aggregate. That is
    the property that holds at 100 TB/day: dim re-broadcast is
    per-batch constant work, stream rows never shuffle for the join
    (only for the window aggregate's keys).

    Returns per (window, group_col) event counts and an exact
    decimal-cast value sum (order-independent across micro-batches, so
    the complete-mode result hash-matches the batch oracle).
    """
    enriched = stream.join(F.broadcast(dim), stream[stream_key] == dim[dim_key], "inner")
    return (
        enriched.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", window), F.col(group_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
        )
    )


def read_embeddings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of the embeddings table (file source) — the query
    stream for online ANN serving (HnswIndex.knn_transform)."""
    stage = _stage_symlink("vss_embstream", sf_dir, "embeddings.parquet")
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    return spark.readStream.schema(schema).parquet(stage)


def streaming_matview(
    stream_agg: DataFrame,
    path: str,
    key_cols: list[str],
    checkpoint_dir: str,
):
    """Streaming MATERIALIZED VIEW: maintain a queryable parquet table
    as the incremental result of a streaming aggregate.

    The aggregate runs in UPDATE mode — each micro-batch emits only
    the groups whose values changed — and ``foreachBatch`` merges
    those rows into the parquet target by key (``merge_upsert``'s
    anti-join + union + atomic rename). Readers always see a complete,
    consistent snapshot of the aggregate so far; the table is just
    parquet, so ANY engine can query it between refreshes.

    This is the Spark-native shape of incremental view maintenance at
    100 TB/day: per-batch work is (changed groups) + (one bounded
    rewrite of the target), not a recompute of the stream — and with a
    partitioned target the rewrite narrows to touched partitions via
    ``overwrite_where``. Returns the StreamingQuery.
    """
    from duckdb_vss_spark.sources.sinks import merge_upsert

    def refresh(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if not os.path.isdir(path) or not os.listdir(path):
            batch_df.write.mode("overwrite").parquet(path)
        else:
            merge_upsert(spark, path, batch_df, key_cols)

    return (
        stream_agg.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(refresh)
        .trigger(availableNow=True)
        .start()
    )


def streaming_dedup_against_store(
    stream_docs: DataFrame,
    store: DataFrame,
    sink_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
):
    """Streaming incremental near-dup dedup: each micro-batch of new
    documents is MinHash-deduplicated against the STATIC reference
    signature store and its matches appended to ``sink_path``.

    The per-batch body is the batch operator pair (``minhash_store`` →
    ``minhash_match_store``) run inside ``foreachBatch`` — the
    Structured Streaming pattern for reusing exactly-tested batch
    logic per increment. Each document's matches depend only on (doc,
    store), so the result is invariant to micro-batch boundaries, the
    property that makes the stream restartable mid-backlog (the file
    source + checkpoint replays unprocessed files only, and append is
    per-batch atomic).

    At scale the stream side is the small side by construction (a
    crawl increment vs the corpus store): its band buckets broadcast,
    the store is probed map-side, and history is never re-shingled —
    the same plan ``minhash_match_store`` documents. Returns the
    StreamingQuery (availableNow trigger; caller awaits)."""
    from duckdb_vss_spark.pipeline.dedup import minhash_match_store, minhash_store

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        new_store = minhash_store(batch_df, text_col, id_col, num_hashes, n)
        matches = minhash_match_store(new_store, store, num_hashes, bands, threshold)
        matches.write.mode("append").parquet(sink_path)

    return (
        stream_docs.writeStream.option("checkpointLocation", checkpoint_dir)
        .foreachBatch(process)
        .trigger(availableNow=True)
        .start()
    )


def read_staged_events_stream(spark: SparkSession, stage_dir: str) -> DataFrame:
    """File-source stream over a RESTARTABLE staging directory whose
    parquet files this engine wrote itself (``ts`` already a session-TZ
    TIMESTAMP in micros — no footer-unit sniffing needed, unlike
    ``read_events_stream`` which adapts the driver's raw testdata).
    Appending more part files to ``stage_dir`` and starting a new query
    on the same checkpoint continues exactly where the last run left
    off — the restart half of the matview maintenance story."""
    return spark.readStream.schema(_events_schema(T.TimestampType())).parquet(stage_dir)
