"""The benchmark workloads. Each is a closed loop with one client: the next
statement is sent only after the previous one returned. Each takes the
generated inputs, drives the public API, checks every output against the
exact oracle and returns its named metrics.

Timed regions hold only the engine call and the action that consumes its
result; oracle checks and row-count probes run between ops, untimed.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np

import gen
import oracle

SETUP_ROUNDS = 3
# point_topk measures for --seconds, and at least this many ops of each
# kind, so each per-run median has a middle sample past the first
# (warming) op
MIN_OPS = 3

# the plan markers a top-k statement and a LATERAL top-k join take when
# the index serves them; any other route fails the op
INDEX_SCAN = "HNSW_INDEX_SCAN"
INDEX_JOIN = "HNSW_INDEX_JOIN"

SIZES = {
    "point_topk": {"n": 5000, "n_queries": 2000, "large_share": 0.2},
    "batch_join_dedup": {
        "n": 5000,
        "n_queries": 200,
        "n_docs": 1500,
        "n_planted": 100,
        "iterations": 2,
    },
    "maintain_mixed": {
        "n": 5000,
        "cycles": 3,
        "compact_after": 0,
        "insert_rows": 500,
        "delete_rows": 200,
        "clean_reads": 6,
        "reads": 2,
        "warm_rows": 200,
    },
}

# the engine's default graph parameters; the id column is inferred (`id`)
CREATE_INDEX = "CREATE INDEX {name} ON {table} USING HNSW (vec)"
LATERAL = (
    "SELECT qid, id FROM queries a, LATERAL (SELECT b.id FROM items b "
    "ORDER BY array_distance(a.qvec, b.vec) LIMIT 10) nn"
)


def vec_literal(v) -> str:
    """A FLOAT[64] literal whose elements parse back to exactly ``v``."""
    body = ", ".join(np.format_float_positional(x, unique=True) for x in np.asarray(v, np.float32))
    return f"[{body}]::FLOAT[{len(v)}]"


def topk_sql(table: str, v, k: int) -> str:
    return f"SELECT id FROM {table} ORDER BY array_distance(vec, {vec_literal(v)}) LIMIT {k}"


@dataclass
class Op:
    ok: bool = True
    seconds: float = 0.0
    df: object = None
    rows: int | None = None
    route: str | None = None


@dataclass
class Run:
    """Samples, counts and failures of one workload run."""

    spark: object
    tracer: object = None
    cpu_clock: object = None  # () -> CPU seconds of driver and workers
    samples: dict = field(default_factory=lambda: defaultdict(list))
    cpu: dict = field(default_factory=lambda: defaultdict(list))
    setup: list = field(default_factory=list)
    setup_wall: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    layer_extra: dict = field(default_factory=dict)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    @contextlib.contextmanager
    def op(self, kind: str):
        """Time one op. An exception fails the op instead of the run."""
        rec = Op()
        self.attempted += 1
        if self.tracer:
            self.tracer.begin_op(kind)
        c0 = self.cpu_clock()
        t0 = time.perf_counter()
        try:
            yield rec
        except Exception:  # noqa: BLE001 — a failed op is counted, the loop goes on
            traceback.print_exc(file=sys.stderr)
            rec.ok = False
        rec.seconds = time.perf_counter() - t0
        self.cpu[kind].append(self.cpu_clock() - c0)
        if self.tracer:
            self.tracer.end_op(rec.df, rec.rows, rec.route)
        self.samples[kind].append(rec.seconds)
        if not rec.ok:
            self.failed += 1
            self.failures.append(kind)

    def check(self, rec: Op, ok: bool, what: str) -> None:
        """Fail ``rec`` (once) when an output check does not hold."""
        if ok or not rec.ok:
            return
        rec.ok = False
        self.failed += 1
        self.failures.append(what)
        print(f"check failed: {what}", file=sys.stderr)

    def expect_route(self, rec: Op, want: str) -> None:
        """Fail ``rec`` when its statement did not take the ``want`` plan:
        a silent fallback to a scan must not pass as a correct op."""
        self.check(rec, rec.route == want, f"route {rec.route!r}, expected {want}")

    def open_rounds(self, open_fn):
        """Set up ``SETUP_ROUNDS`` times, warm-up statements included. The
        median CPU seconds of a round is ``setup_s``; wall seconds are kept
        beside them."""
        out = None
        for _ in range(SETUP_ROUNDS):
            c0, t0 = self.cpu_clock(), time.perf_counter()
            out = open_fn()
            self.setup_wall.append(time.perf_counter() - t0)
            self.setup.append(self.cpu_clock() - c0)
        return out


def _p(xs, q: float) -> float:
    return float(np.percentile(np.asarray(xs), q)) if xs else float("nan")


def _named(value: float, n: int) -> tuple[float, int]:
    return (float(value), int(n))


def _planner(spark, catalog: str):
    from duckdb_vss_spark.plans import VssPlanner

    return VssPlanner(spark, catalog=catalog)


def _space_metrics(run: Run, catalog: str, table: str, live_rows: int) -> None:
    """Index artifact bytes per byte of live vectors (everything the
    catalog holds besides its registry file), and the table's file count."""
    artifact = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(catalog) for f in files if f != "catalog.json"
    )
    run.layer_extra["index.artifact_bytes_per_vector_byte"] = (
        artifact / (live_rows * gen.DIMS * 4)
    )
    run.layer_extra["sources.table_files"] = float(
        sum(f.endswith(".parquet") for _, _, fs in os.walk(table) for f in fs)
    )


def _table_rows(path: str) -> int:
    """Row count of a parquet table directory, read from file footers
    (no Spark job, so the check does not load the engine between ops)."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in pq.ParquetDataset(path).files)


# -- point_topk ----------------------------------------------------------------


def point_topk(run: Run, work: str, seed: int, seconds: float) -> dict:
    s = SIZES["point_topk"]
    inp = gen.vector_inputs(seed, os.path.join(work, "data"), s["n"], s["n_queries"],
                            large_share=s["large_share"])
    live = oracle.LiveSet(inp.ids, inp.vecs)
    cat = os.path.join(work, "catalog")
    p0 = _planner(run.spark, cat)
    p0.register_table("items", inp.paths["items"])
    t0 = time.perf_counter()
    p0.sql(CREATE_INDEX.format(name="items_idx", table="items"))
    build_s = time.perf_counter() - t0

    def open_fn():
        p = _planner(run.spark, cat)
        p.sql(topk_sql("items", inp.queries[-1], 10)).collect()
        return p

    p = run.open_rounds(open_fn)
    recalls = []
    deadline = time.perf_counter() + seconds
    i = 0
    while time.perf_counter() < deadline or len(run.samples["topk100"]) < MIN_OPS:
        # k=100 statements make a bigger driver probe, and past the
        # In-filter bound take the join route
        q, k = inp.queries[i % len(inp.queries)], int(inp.query_k[i % len(inp.queries)])
        i += 1
        stmt = topk_sql("items", q, k)
        with run.op(f"topk{k}") as op:
            with run.span("plans.sql"):
                df = p.sql(stmt)
            op.route = p.last_plan
            got = [r[0] for r in df.collect()]
            op.df, op.rows = df, len(got)
        if not op.ok:
            continue
        run.expect_route(op, INDEX_SCAN)
        ok = len(got) == k and len(set(got)) == k and all(0 <= g < len(live) for g in got)
        run.check(op, ok, f"topk k={k} returned {len(got)} rows, ids not distinct/live")
        if k == 10:
            recalls.append(oracle.recall(got, live.exact_topk(q, 10)[0]))
    lat = run.samples["topk10"] + run.samples["topk100"]
    _space_metrics(run, cat, inp.paths["items"], len(live))
    named = {
        "topk_p50_s": _named(_p(lat, 50), len(lat)),
        "recall_at_10": _named(statistics.fmean(recalls) if recalls else 0.0, len(recalls)),
    }
    if len(lat) >= 200:  # p95 only with >= 10 samples beyond it
        named["topk_p95_s"] = _named(_p(lat, 95), len(lat))
    return {
        "named": named,
        "op_cpu_s": _p(run.cpu["topk10"], 50),
        "op2_cpu_s": _p(run.cpu["topk100"], 50),
        "op3_cpu_s": statistics.fmean(run.cpu["topk10"] + run.cpu["topk100"]),
        "quality": named["recall_at_10"][0],
        "info": {"build_s": build_s, "rows": len(live), "statements": len(lat)},
    }


# -- batch_join_dedup ----------------------------------------------------------


def batch_join_dedup(run: Run, work: str, seed: int, seconds: float) -> dict:
    """The batch forms, in one process so they share its JVM and worker
    start-up: each iteration runs the index-routed LATERAL top-10 join,
    the exact broadcast join, and the MinHash dedup pipeline."""
    from duckdb_vss_spark.operators import knn_join
    from duckdb_vss_spark.pipeline import dedup_clusters, dedup_keep, minhash_lsh_pairs

    s = SIZES["batch_join_dedup"]
    spark = run.spark
    inp = gen.vector_inputs(seed, os.path.join(work, "data"), s["n"], s["n_queries"])
    docs_in = gen.doc_inputs(seed, os.path.join(work, "data"), s["n_docs"], s["n_planted"])
    live = oracle.LiveSet(inp.ids, inp.vecs)
    cat = os.path.join(work, "catalog")
    p0 = _planner(spark, cat)
    for t in ("items", "queries"):
        p0.register_table(t, inp.paths[t])
    t0 = time.perf_counter()
    p0.sql(CREATE_INDEX.format(name="items_idx", table="items"))
    build_s = time.perf_counter() - t0
    items_df = spark.read.parquet(inp.paths["items"])

    def dedup(path: str):
        docs = spark.read.parquet(path)
        with run.span("pipeline.minhash_pairs"):
            pairs = minhash_lsh_pairs(docs, "text", "id")
        with run.span("pipeline.dedup_clusters"):
            clusters = dedup_clusters(pairs)
        with run.span("pipeline.dedup_keep"):
            kept = dedup_keep(docs, "id", clusters).select("id")
            ids = [r[0] for r in kept.collect()]
        return ids, kept

    def open_fn():
        p = _planner(spark, cat)
        p.sql(topk_sql("items", inp.queries[0], 10)).collect()
        return p

    p = run.open_rounds(open_fn)
    exact = [live.exact_topk(q, 10)[0] for q in inp.queries]
    nq = len(inp.queries)
    recalls, dedup_recalls = [], []
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or len(run.samples["dedup"]) < s["iterations"]:
        with run.op("index_join") as op:
            with run.span("plans.sql"):
                df = p.sql(LATERAL)
            op.route = p.last_plan
            rows = df.collect()
            op.df, op.rows = df, len(rows)
        if op.ok:
            run.expect_route(op, INDEX_JOIN)
            got = _group(rows)
            run.check(op, sorted(got) == list(range(nq))
                      and all(len(set(v)) == len(v) == 10 for v in got.values()),
                      "index join: not 10 distinct ids for every query")
            recalls.append(statistics.fmean(oracle.recall(got.get(i, []), exact[i])
                                            for i in range(nq)))
        with run.op("brute_join") as op:
            with run.span("operators.join"):
                df = knn_join(
                    spark.read.parquet(inp.paths["queries"]), items_df, "qvec", "vec", 10,
                    metric="l2sq", query_id_col="qid", item_id_col="id", strategy="broadcast",
                ).select("qid", "id")
                rows = df.collect()
            op.df, op.rows = df, len(rows)
        if op.ok:
            got = _group(rows)
            run.check(op, all(oracle.is_exact_topk(got.get(i, []), live, inp.queries[i], 10)
                              for i in range(nq)),
                      "brute join differs from the exact top-10")
        with run.op("dedup") as op:
            ids, kept = dedup(docs_in.paths["docs"])
            op.df, op.rows = kept, len(ids)
        if op.ok:
            rec, others_ok = oracle.dedup_outcome(ids, docs_in.copies, s["n_docs"])
            run.check(op, others_ok, "dedup removed a document that is not a planted copy")
            dedup_recalls.append(rec)
    ij, bj, dd = run.samples["index_join"], run.samples["brute_join"], run.samples["dedup"]
    named = {
        "join_queries_per_s": _named(nq / _p(ij, 50), len(ij)),
        "brute_join_queries_per_s": _named(nq / _p(bj, 50), len(bj)),
        "recall_at_10": _named(statistics.fmean(recalls) if recalls else 0.0, len(recalls) * nq),
        "dedup_docs_per_s": _named(len(docs_in.ids) / _p(dd, 50), len(dd)),
        "dedup_recall": _named(
            statistics.fmean(dedup_recalls) if dedup_recalls else 0.0, len(dedup_recalls)
        ),
    }
    _space_metrics(run, cat, inp.paths["items"], len(live))
    return {
        "named": named,
        # means over the run's iterations (2 unless two take less than
        # ``seconds``), the cold first one included: a cold first op
        # costs about twice a warm one, and a mean of few ops keeps both
        # shares fixed where a median would pick one op
        "op_cpu_s": statistics.fmean(run.cpu["index_join"]),
        "op2_cpu_s": statistics.fmean(run.cpu["dedup"]),
        "op3_cpu_s": statistics.fmean(run.cpu["brute_join"]),
        "quality": named["recall_at_10"][0],
        "info": {"build_s": build_s, "rows": len(live), "queries": nq,
                 "docs": len(docs_in.ids), "iterations": len(dd), "dedup_p50_s": _p(dd, 50)},
    }


def _group(rows) -> dict[int, list[int]]:
    out: dict[int, list[int]] = defaultdict(list)
    for r in rows:
        out[int(r[0])].append(int(r[1]))
    return out


# -- maintain_mixed ------------------------------------------------------------


def maintain_mixed(run: Run, work: str, seed: int, seconds: float) -> dict:
    """A fixed sequence, the same on every host: CREATE INDEX, clean
    reads, then ``cycles`` cycles of INSERT, DELETE and reads (the first
    read of a cycle looks up a row that cycle inserted, by exact match);
    one compaction after cycle ``compact_after``. ``seconds`` is not used:
    the sequence does not grow or shrink with the host's speed.

    Clean reads have no tombstones to over-fetch, so their candidates fit
    the driver probe's In-filter; a read after a 200-row DELETE fetches
    past that bound and takes the executor-side probe. The two are timed
    as separate op kinds."""
    s = SIZES["maintain_mixed"]
    reads, clean = s["reads"], s["clean_reads"]
    inp = gen.vector_inputs(
        seed, os.path.join(work, "data"), s["n"], clean + s["cycles"] * reads,
        cycles=s["cycles"], insert_rows=s["insert_rows"], delete_rows=s["delete_rows"],
        warm_rows=s["warm_rows"],
    )
    live = oracle.LiveSet(inp.ids, inp.vecs)
    cat = os.path.join(work, "catalog")
    p0 = _planner(run.spark, cat)
    p0.register_table("items", inp.paths["items"])
    p0.register_table("warm", inp.paths["warm"])
    for c in range(s["cycles"]):
        p0.register_table(f"insert_{c}", inp.paths[f"insert_{c}"])

    def open_fn():
        p = _planner(run.spark, cat)
        p.sql(CREATE_INDEX.format(name="warm_idx", table="warm"))
        p.sql("DROP INDEX warm_idx")
        return p

    p = run.open_rounds(open_fn)
    recalls = []

    def count_is(rec: Op, what: str) -> None:
        n = _table_rows(inp.paths["items"])
        run.check(rec, n == len(live), f"{what}: table holds {n} rows, expected {len(live)}")

    def read(kind: str, q, what: str, must_hold: int | None = None) -> None:
        with run.op(kind) as op:
            with run.span("plans.sql"):
                df = p.sql(topk_sql("items", q, 10))
            op.route = p.last_plan
            got = [x[0] for x in df.collect()]
            op.df, op.rows = df, len(got)
        if not op.ok:
            return
        run.expect_route(op, INDEX_SCAN)
        run.check(op, not (set(got) & live.dead), f"{what}: a deleted id was returned")
        run.check(op, len(got) == 10 and len(set(got)) == 10, f"{what}: not 10 distinct ids")
        if must_hold is not None:
            run.check(op, must_hold in got, f"{what}: inserted id {must_hold} not reachable")
        else:
            recalls.append(oracle.recall(got, live.exact_topk(q, 10)[0]))

    with run.op("build") as op:
        p.sql(CREATE_INDEX.format(name="items_idx", table="items"))
    build_s = op.seconds
    for r in range(clean):
        read("clean_topk", inp.queries[r], "clean read")
    for c in range(s["cycles"]):
        b_ids, b_vecs = inp.inserts[c]
        with run.op("insert") as op:
            p.sql(f"INSERT INTO items SELECT id, vec FROM insert_{c}")
        live.insert(b_ids, b_vecs)
        count_is(op, f"insert {c}")
        doomed = inp.deletes[c]
        with run.op("delete") as op:
            gone = p.sql(
                f"DELETE FROM items WHERE id IN ({', '.join(str(int(x)) for x in doomed)})"
            ).first()["Count"]
        if op.ok:
            run.check(op, gone == len(doomed), f"delete {c}: {gone} rows, expected {len(doomed)}")
        live.delete(doomed)
        count_is(op, f"delete {c}")
        j = (c * 7) % len(b_ids)
        read("topk", b_vecs[j], f"cycle {c}", must_hold=int(b_ids[j]))
        for r in range(1, reads):
            read("topk", inp.queries[clean + c * reads + r], f"cycle {c}")
        if c == s["compact_after"]:
            with run.op("compact"):
                p.sql("PRAGMA hnsw_compact_index('items_idx')")
    all_ops = [t for v in run.samples.values() for t in v]
    topk = run.samples["clean_topk"] + run.samples["topk"]
    named = {
        "build_rows_per_s": _named(s["n"] / build_s, 1),
        "insert_p50_s": _named(_p(run.samples["insert"], 50), len(run.samples["insert"])),
        "delete_p50_s": _named(_p(run.samples["delete"], 50), len(run.samples["delete"])),
        "topk_p50_s": _named(_p(topk, 50), len(topk)),
        "mixed_ops_per_s": _named(len(all_ops) / sum(all_ops), len(all_ops)),
        "recall_at_10": _named(statistics.fmean(recalls) if recalls else 0.0, len(recalls)),
    }
    _space_metrics(run, cat, inp.paths["items"], len(live))
    return {
        "named": named,
        "op_cpu_s": _p(run.cpu["topk"], 50),
        # the mean of the sequence's three DELETEs, for the reason given
        # in batch_join_dedup
        "op2_cpu_s": statistics.fmean(run.cpu["delete"]),
        "op3_cpu_s": _p(run.cpu["clean_topk"], 50),
        "quality": named["recall_at_10"][0],
        "info": {"build_s": build_s, "cycles": s["cycles"], "live_rows": len(live)},
    }


WORKLOAD_FNS = {
    "point_topk": point_topk,
    "batch_join_dedup": batch_join_dedup,
    "maintain_mixed": maintain_mixed,
}
