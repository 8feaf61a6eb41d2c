"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload maintain_mixed --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed`` under ``.perfbench_work/`` (removed at exit), starts its own
Spark session, sets up, measures for ``--seconds`` and checks every
output against the exact numpy oracle. Human-readable lines (each
starting with ``#``) come first; the last line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``, where ``metrics`` holds
the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). A traced run also writes its spans to
``.perfbench_out/spans-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None):
    from metrics import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "duckdb_vss_spark")):
        print(f"no duckdb_vss_spark package under {ROOT}: run from a checkout",
              file=sys.stderr)
        return 2
    import launch
    import spans
    import workloads
    from metrics import END_TO_END, NAMED, PER_LAYER

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.chdir(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark, info = launch.start_session(ROOT, work, f"perfbench-{args.workload}")
        floor = launch.job_floor_s(spark)
        tracer = None
        if args.trace:
            tracer = spans.Tracer(spark)
            spans.install_engine_wraps(tracer)
        run = workloads.Run(spark, tracer, lambda: launch.cpu_seconds(info["jvm_pid"]))
        try:
            res = workloads.WORKLOAD_FNS[args.workload](run, work, args.seed, args.seconds)
        finally:
            if tracer:
                tracer.unwrap_all()
        jvm_rss, py_rss = launch.driver_peak_rss_mb(info["jvm_pid"])
        rss = jvm_rss + py_rss
        wall = time.perf_counter() - t0
        setup_s = statistics.median(run.setup)
        e2e = {
            "setup_s": setup_s,
            "op_cpu_s": res["op_cpu_s"],
            "op2_cpu_s": res["op2_cpu_s"],
            "op3_cpu_s": res["op3_cpu_s"],
            "quality": res["quality"],
        }
        named = dict(res["named"])
        named["setup_s"] = (setup_s, len(run.setup))
        named["error_rate"] = (run.failed / max(1, run.attempted), run.attempted)
        named["driver_peak_rss_mb"] = (rss, 1)
        print(f"# workload {args.workload} seed {args.seed} seconds {args.seconds:g} "
              f"trace {args.trace}")
        print(f"# host cores {info['cores']} master {info['master']} "
              f"driver_memory {info['driver_memory']} host_mem_mb {info['host_mem_mb']}")
        extra = "  ".join(f"{k} {v:.6g}" for k, v in res["info"].items())
        print(f"# session_start_s {info['session_start_s']:.3f}  job_floor_s {floor:.4f}  "
              f"run_wall_s {wall:.1f}  jvm_rss_mb {jvm_rss:.0f}  py_rss_mb {py_rss:.0f}  {extra}")
        for name, (value, n) in sorted(named.items()):
            print(f"#   {name:<26} {value:>14.6g} {NAMED[name][0]:<6} n={n}")
        for kind, xs in run.samples.items():
            print(f"# samples {kind}: " + " ".join(f"{x:.3f}" for x in xs))
            print(f"# cpu {kind}: " + " ".join(f"{x:.3f}" for x in run.cpu[kind]))
        print("# setup rounds cpu: " + " ".join(f"{x:.3f}" for x in run.setup))
        print("# setup rounds wall: " + " ".join(f"{x:.3f}" for x in run.setup_wall))
        if run.failures:
            print(f"# failures: {run.failures[:20]}")
        print("#e2e " + json.dumps(e2e))
        print("#named " + json.dumps(named))
        print("#info " + json.dumps(res["info"]))
        if tracer:
            layer = spans.layer_metrics(tracer, floor, run.layer_extra)
            for name in PER_LAYER:
                print(f"#   {name:<38} {layer[name]:>14.6g} {PER_LAYER[name]}")
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
            metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        print(json.dumps({
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            launch.stop_session(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
