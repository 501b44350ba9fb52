#!/usr/bin/env python3
"""Steadiness check: runs every listed workload back to back with seeds
1..N and reports, per end-to-end metric, the median, the quartiles and the
spread (inter-quartile range over median) beside the bound BENCHMARK.json
fixes. A spread under a third of its bound is steady; setup_s is exempt
from the spread rule (only its median is compared between two sets).

Usage (from the repository root):

    python3 lakebench/steadiness.py --runs 10 --out lakebench/results/steadiness.json
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

import run


def one(workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(run.BENCH, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=run.ROOT, capture_output=True, text=True)
    wall = time.time() - t0
    if p.returncode != 0:
        raise SystemExit("%s seed %d failed:\n%s" % (workload, seed, p.stderr[-2000:]))
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1]), wall


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*", default=None)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = a.workloads or [w["name"] for w in bench["workloads"]]
    report = {"run_seconds": bench["run_seconds"], "workloads": {}}
    for w in workloads:
        runs = []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            info, result, wall = one(w, seed, bench["run_seconds"])
            runs.append({"seed": seed, "wall_s": wall, "result": result,
                         "context": info["context"], "phases": info["phases"],
                         "op_kind": info["op_kind"], "op_ms": info["op_ms"]})
            print("%s seed %d: %.0f s, %s" % (w, seed, wall, {
                k: round(v["value"], 4) for k, v in result["metrics"].items()}), flush=True)
        metrics = {}
        for name, bound in bounds.items():
            vals = [r["result"]["metrics"][name]["value"] for r in runs]
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = run.spread(vals)
            metrics[name] = {
                "median": statistics.median(vals), "q1": q1, "q3": q3,
                "spread": spread, "bound": bound,
                "steady": name == "setup_s" or spread < bound / 3,
                "values": vals,
            }
        report["workloads"][w] = {
            "metrics": metrics,
            "all_correct": all(r["result"]["correct"] for r in runs),
            "ops_failed": sum(r["result"]["failed"] for r in runs),
            "wall_s": [r["wall_s"] for r in runs],
            "runs": runs,
        }
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    for w, r in report["workloads"].items():
        for name, m in r["metrics"].items():
            print("%-15s %-17s median %.4g  spread %.3f  bound %.2f  %s" % (
                w, name, m["median"], m["spread"], m["bound"],
                "ok" if m["steady"] else "NOT STEADY"))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
