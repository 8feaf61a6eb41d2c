"""Run every workload untraced and traced from one seed; print the full report.

    python3 perfbench/report.py --seed 1
    python3 perfbench/report.py --seed 1 --seconds 6 --workloads point_topk maintain_mixed

Each workload runs twice, each time in its own process via
``perfbench/run.py``: once untraced (the end-to-end numbers) and once
traced (the per-layer numbers). The report prints

* every named end-to-end metric per workload, with unit and sample count;
* every per-layer metric per workload;
* the tracing overhead: traced minus untraced end-to-end numbers;
* two attributions from the traced runs: the share of point_topk's
  ``topk_p50_s`` that ``spark.jobs_per_op`` x ``spark.job_floor_s``
  explains, and the share of a dedup pipeline run (batch_join_dedup)
  spent in ``dedup_clusters``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from metrics import END_TO_END, NAMED, PER_LAYER, WORKLOADS  # noqa: E402


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise RuntimeError(f"{workload} trace={trace}: exit {proc.returncode}")
    out = {"result": json.loads(lines[-1]), "header": []}
    for line in lines[:-1]:
        if line.startswith("#e2e "):
            out["e2e"] = json.loads(line[5:])
        elif line.startswith("#named "):
            out["named"] = json.loads(line[7:])
        elif line.startswith("#info "):
            out["info"] = json.loads(line[6:])
        elif line.startswith("# ") and not line.startswith("#   "):
            out["header"].append(line)
    return out


def fmt(v: float) -> str:
    return f"{v:.5g}"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--workloads", nargs="+", default=list(WORKLOADS), choices=WORKLOADS)
    args = ap.parse_args()
    plain, traced = {}, {}
    for w in args.workloads:
        plain[w] = run(w, args.seed, args.seconds, 0)
        traced[w] = run(w, args.seed, args.seconds, 1)
        print(f"ran {w}", file=sys.stderr, flush=True)

    print(f"# perfbench report, seed {args.seed}, {args.seconds:g} s per run")
    for w in args.workloads:
        for line in plain[w]["header"]:
            print(line)

    print("\n## End-to-end (untraced runs)")
    print(f"{'metric':<26} {'workload':<16} {'value':>12} {'unit':<6} samples")
    for name, (unit, where) in NAMED.items():
        for w in args.workloads:
            if w not in where:
                continue
            got = plain[w]["named"].get(name)
            if got is None:
                n = plain[w]["named"]["topk_p50_s"][1] if name == "topk_p95_s" else 0
                print(f"{name:<26} {w:<16} {'n/a':>12} {unit:<6} "
                      f"n={n} (needs >= 200 reads in a run)")
            else:
                print(f"{name:<26} {w:<16} {fmt(got[0]):>12} {unit:<6} n={got[1]}")
    for w in args.workloads:
        r = plain[w]["result"]
        print(f"{'correct':<26} {w:<16} {str(r['correct']):>12} {'':<6} "
              f"attempted={r['attempted']} failed={r['failed']}")

    print("\n## Per-layer (traced runs)")
    print(f"{'metric':<38} {'unit':<6} " + " ".join(f"{w:>15}" for w in args.workloads))
    for name, unit in PER_LAYER.items():
        vals = [traced[w]["result"]["metrics"][name]["value"] for w in args.workloads]
        print(f"{name:<38} {unit:<6} " + " ".join(f"{fmt(v):>15}" for v in vals))

    print("\n## Tracing overhead (traced - untraced, same seed)")
    print(f"{'metric':<26} {'workload':<16} {'untraced':>12} {'traced':>12} {'change':>8}")
    for w in args.workloads:
        rows = [(k, plain[w]["e2e"][k], traced[w]["e2e"][k]) for k in END_TO_END]
        rows += [(k, v[0], traced[w]["named"][k][0]) for k, v in plain[w]["named"].items()
                 if k in traced[w]["named"] and k not in END_TO_END and k != "error_rate"]
        for name, a, b in rows:
            rel = f"{(b - a) / a:+.1%}" if a else "n/a"
            print(f"{name:<26} {w:<16} {fmt(a):>12} {fmt(b):>12} {rel:>8}")

    print("\n## Attribution (traced runs)")
    if "point_topk" in traced:
        t = traced["point_topk"]
        lm = t["result"]["metrics"]
        jobs, floor = lm["spark.jobs_per_op"]["value"], lm["spark.job_floor_s"]["value"]
        p50 = t["named"]["topk_p50_s"][0]
        print(f"point_topk: spark.jobs_per_op x spark.job_floor_s = {fmt(jobs)} x {fmt(floor)} s "
              f"= {fmt(jobs * floor)} s, {jobs * floor / p50:.0%} of topk_p50_s {fmt(p50)} s")
    if "batch_join_dedup" in traced:
        t = traced["batch_join_dedup"]
        dc = t["result"]["metrics"]["pipeline.dedup_clusters_s"]["value"]
        run_s = t["info"]["dedup_p50_s"]
        print(f"batch_join_dedup: pipeline.dedup_clusters_s {fmt(dc)} s is {dc / run_s:.0%} "
              f"of the median dedup pipeline run {fmt(run_s)} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
