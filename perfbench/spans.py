"""Traced-run instrumentation, all of it on the benchmark's side.

* Spans (name, start, end, parent, op id) kept in memory and dumped at
  exit. The benchmark opens spans around the public calls it makes
  itself; calls one layer makes into another (planner → index → sources,
  driver-side graph loads and searches) are wrapped for the traced run
  only and restored afterwards.
* One Spark job group per op. After the op returns, the listener bus is
  drained and the status store gives that group's jobs, stages, tasks,
  executor run/CPU time, shuffle write and spill.
* Python worker boot/init/compute time from the Arrow/pandas operator
  metrics of the op's executed plan.

Nothing here runs in an untraced run.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

PY_METRICS = ("pythonBootTime", "pythonInitTime", "pythonTotalTime")


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[dict] = []
        self._op: dict | None = None
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self._op["id"] if self._op else None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` (a function, method or classmethod) by
        one that records a span; ``on_result(span, result)`` may annotate
        the span. Undone by :meth:`unwrap_all`."""
        raw = owner.__dict__[attr]
        is_cm = isinstance(raw, classmethod)
        fn = raw.__func__ if is_cm else raw
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, out)
                return out

        traced.__wrapped__ = fn
        setattr(owner, attr, classmethod(traced) if is_cm else traced)
        self._patches.append((owner, attr, raw))

    def unwrap_all(self) -> None:
        for owner, attr, raw in reversed(self._patches):
            setattr(owner, attr, raw)
        self._patches.clear()

    # -- ops -----------------------------------------------------------------

    def begin_op(self, kind: str) -> None:
        op = {"id": f"op{len(self.ops)}", "kind": kind, "jobs": [], "python": {}}
        self.ops.append(op)
        self._op = op
        self.spark.sparkContext.setJobGroup(op["id"], kind, False)
        op["start"] = time.time()

    def end_op(self, df=None, rows: int | None = None, route: str | None = None) -> None:
        op = self._op
        op["end"] = time.time()
        op["rows"] = rows
        op["route"] = route
        self._op = None
        sc = self.spark.sparkContext
        sc.setJobGroup("untimed", "benchmark checks", False)
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30000)
        store = jsc.statusStore()
        for jid in sorted(sc.statusTracker().getJobIdsForGroup(op["id"])):
            op["jobs"].append(_job_stats(store, jid))
        if df is not None:
            op["python"] = python_plan_metrics(df)

    # -- output --------------------------------------------------------------

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops}, f)


def _job_stats(store, jid: int) -> dict:
    job = store.job(jid)
    sub = job.submissionTime()
    out = {
        "id": jid,
        "submitted": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
        "stages": 0,
        "tasks": 0,
        "run_s": 0.0,
        "cpu_s": 0.0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
    }
    it = job.stageIds().iterator()
    while it.hasNext():
        sid = it.next()
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — py4j: stage never submitted
            continue
        if str(st.status().toString()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += int(st.numTasks())
        out["run_s"] += st.executorRunTime() / 1e3
        out["cpu_s"] += st.executorCpuTime() / 1e9
        out["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
        out["spill_bytes"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
    return out


def python_plan_metrics(df) -> dict:
    """Summed Python-worker timing metrics (ms) over the executed plan,
    descending through adaptive-execution and query-stage wrappers."""
    totals: dict[str, int] = defaultdict(int)

    def walk(node) -> None:
        ms = node.metrics()
        for name in PY_METRICS:
            if ms.contains(name):
                totals[name] += int(ms.apply(name).value())
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            walk(node.plan())
        children = node.children().iterator()
        while children.hasNext():
            walk(children.next())

    walk(df._jdf.queryExecution().executedPlan())
    return dict(totals)


# -- per-layer metrics ---------------------------------------------------------


def _self_time(span: dict, children: dict[int, list[dict]]) -> float:
    dur = span["end"] - span["start"]
    return dur - sum(c["end"] - c["start"] for c in children.get(span["id"], []))


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(tracer: Tracer, floor_s: float, extra: dict) -> dict:
    """The per-layer metrics of one traced run, over its timed ops. ``_s``
    span metrics are mean seconds per call of that entry point; Spark
    counters and graph counts are per timed op."""
    ops = tracer.ops
    n_ops = max(1, len(ops))
    op_ids = {o["id"] for o in ops}
    spans = [s for s in tracer.spans if s["op"] in op_ids]
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    by_name: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)
    by_id = {s["id"]: s for s in spans}

    def dur(name):
        return [s["end"] - s["start"] for s in by_name[name]]

    def self_times(name):
        return [_self_time(s, children) for s in by_name[name]]

    def inside(span_name: str, name: str) -> list[dict]:
        """``name`` spans with no ``span_name`` ancestor."""
        out = []
        for s in by_name[name]:
            p = s["parent"]
            while p is not None and by_id[p]["name"] != span_name:
                p = by_id[p]["parent"]
            if p is None:
                out.append(s)
        return out

    jobs = [j for o in ops for j in o["jobs"]]
    searches = by_name["index.graph_search"]
    loads = by_name["index.graph_load"]
    fetched = sum(s.get("keys", 0) for s in searches)
    returned = sum(o["rows"] or 0 for o in ops if o.get("route"))
    routed = [o for o in ops if o.get("route")]
    dc = by_name["pipeline.dedup_clusters"]
    dc_jobs = sum(
        1 for j in jobs for s in dc
        if j["submitted"] is not None and s["start"] <= j["submitted"] <= s["end"]
    )
    py = [o["python"] for o in ops]
    m = {
        "spark.jobs_per_op": len(jobs) / n_ops,
        "spark.stages_per_op": sum(j["stages"] for j in jobs) / n_ops,
        "spark.tasks_per_op": sum(j["tasks"] for j in jobs) / n_ops,
        "spark.executor_run_s": sum(j["run_s"] for j in jobs) / n_ops,
        "spark.executor_cpu_s": sum(j["cpu_s"] for j in jobs) / n_ops,
        "spark.shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in jobs) / n_ops,
        "spark.spill_bytes": sum(j["spill_bytes"] for j in jobs) / n_ops,
        "spark.python_boot_s": sum(p.get("pythonBootTime", 0) for p in py) / 1e3 / n_ops,
        "spark.python_compute_s": sum(p.get("pythonTotalTime", 0) for p in py) / 1e3 / n_ops,
        "spark.job_floor_s": floor_s,
        "plans.sql_self_s": _mean(self_times("plans.sql")),
        "plans.index_route_ratio": (
            sum(1 for o in routed if "INDEX" in o["route"]) / len(routed) if routed else 0.0
        ),
        "index.knn_search_s": _mean(dur("index.knn_search")),
        "index.graph_search_s": _mean(dur("index.graph_search")),
        "index.graph_searches": len(searches) / n_ops,
        "index.graph_loads": len(loads) / n_ops,
        "index.graph_cache_hit_ratio": (
            max(0.0, 1.0 - len(loads) / len(searches)) if searches else 0.0
        ),
        "index.candidates_per_result": fetched / returned if returned else 0.0,
        "index.build_s": _mean(
            s["end"] - s["start"] for s in inside("index.compact", "index.build")
        ),
        "index.add_batch_s": _mean(dur("index.add_batch")),
        "index.delete_batch_s": _mean(dur("index.delete_batch")),
        "index.compact_s": _mean(dur("index.compact")),
        "sources.insert_self_s": _mean(self_times("sources.insert_into")),
        "sources.delete_self_s": _mean(self_times("sources.delete_where")),
        "operators.join_s": _mean(dur("operators.join")),
        "pipeline.minhash_pairs_s": _mean(dur("pipeline.minhash_pairs")),
        "pipeline.dedup_clusters_s": _mean(dur("pipeline.dedup_clusters")),
        "pipeline.dedup_clusters_jobs": dc_jobs / len(dc) if dc else 0.0,
        "pipeline.dedup_keep_s": _mean(dur("pipeline.dedup_keep")),
        "index.artifact_bytes_per_vector_byte": 0.0,
        "sources.table_files": 0.0,
    }
    m.update(extra)
    return m


def install_engine_wraps(tracer: Tracer) -> None:
    """Wrap the entry points one layer calls in another, so their spans
    nest under the benchmark's own."""
    from duckdb_vss_spark import index as index_pkg
    from duckdb_vss_spark.index import artifact
    from duckdb_vss_spark.index.hnsw_graph import HNSWGraph
    from duckdb_vss_spark.sources import sinks

    def count_keys(rec, out):
        rec["keys"] = len(out[0])

    tracer.wrap(HNSWGraph, "search", "index.graph_search", count_keys)
    tracer.wrap(HNSWGraph, "from_bytes", "index.graph_load")
    tracer.wrap(artifact.HnswIndex, "knn_search", "index.knn_search")
    tracer.wrap(artifact.HnswIndex, "add_batch", "index.add_batch")
    tracer.wrap(artifact.HnswIndex, "delete_batch", "index.delete_batch")
    tracer.wrap(artifact.HnswIndex, "compact", "index.compact")
    # the planner imports the builder from the package at call time,
    # rebuild() from its defining module
    tracer.wrap(artifact, "create_hnsw_index", "index.build")
    tracer.wrap(index_pkg, "create_hnsw_index", "index.build")
    tracer.wrap(sinks, "insert_into", "sources.insert_into")
    tracer.wrap(sinks, "delete_where", "sources.delete_where")
