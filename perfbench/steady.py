"""Steadiness check: run every workload's set of runs twice and compare.

    python3 perfbench/steady.py                    # 2 sets x 10 seeds, all workloads
    python3 perfbench/steady.py --runs 5 --sets 1 --workloads maintain_mixed

Each run is ``perfbench/run.py`` in its own process, with the command,
``run_seconds`` and bounds of ``BENCHMARK.json``; set ``j`` uses seeds
``100*j + 1 .. 100*j + runs``. For every end-to-end metric of every
workload it prints each set's median and quartile spread
((Q3 - Q1) / median, from ``statistics.quantiles(n=4)``), and flags:

* a spread above the metric's bound,
* a spread above a third of the bound (warning: tune before relying on it),
* a second-set median worse than the first by more than the bound.

Raw results go to ``.perfbench_out/steady-<time>.json``. Exits 1 when a
hard check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(spec: dict, workload: str, seed: int) -> dict:
    cmd = list(spec["command"]) + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", "0",
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    out = json.loads(lines[-1])
    out["wall_s"] = wall
    return out


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse ``second`` is than ``first``, as a share of ``first``."""
    if first == 0:
        return 0.0
    return (second - first) / first if better == "lower" else (first - second) / first


def analyse(spec: dict, results: dict) -> bool:
    """Print the per-metric table; return whether every hard check held."""
    ok = True
    for workload, sets in results.items():
        print(f"\n== {workload}")
        walls = [r["wall_s"] for s in sets for r in s]
        print(f"   run wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        bad = [r for s in sets for r in s if not r["correct"]]
        if bad:
            ok = False
            print(f"   !! {len(bad)} runs reported correct=false")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            cols = []
            medians = []
            for s in sets:
                vals = [r["metrics"][name]["value"] for r in s]
                sp = spread(vals) if len(vals) >= 2 else 0.0
                med = statistics.median(vals)
                medians.append(med)
                flag = ""
                if sp > bound:
                    flag, ok = " SPREAD>BOUND", False
                elif sp > bound / 3:
                    flag = " spread>bound/3"
                cols.append(f"median {med:.5g} spread {sp:.3f}{flag}")
            line = f"   {name:<20} bound {bound:<5} " + " | ".join(cols)
            if len(medians) > 1:
                w = worse_by(medians[0], medians[1], m["better"])
                line += f" | 2nd worse by {w:+.3f}"
                if w > bound:
                    line += " MEDIAN>BOUND"
                    ok = False
            print(line)
    return ok


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", nargs="+", default=names, choices=names)
    args = ap.parse_args()
    results: dict[str, list[list[dict]]] = {w: [] for w in args.workloads}
    for j in range(args.sets):
        for w in args.workloads:
            results[w].append([])
        for i in range(args.runs):
            seed = 100 * (j + 1) + i + 1
            for w in args.workloads:
                r = run_once(spec, w, seed)
                results[w][j].append(r)
                print(f"set {j + 1} seed {seed} {w}: wall {r['wall_s']:.1f} s "
                      f"correct {r['correct']} " + " ".join(
                          f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                      flush=True)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"steady-{time.strftime('%Y%m%d-%H%M%S')}.json")
    with open(path, "w") as f:
        json.dump(results, f)
    print(f"\nraw results: {path}")
    ok = analyse(spec, results)
    print("\nsteady" if ok else "\nNOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
