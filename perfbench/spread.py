#!/usr/bin/env python3
"""Measure the run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --runs 10 --first-seed 100 [workload ...]

Runs ``run.py`` once per seed on each workload (untraced, ``run_seconds``
from BENCHMARK.json) and prints, per workload and metric, the median, the
quartiles and the spread (interquartile distance over the median, the
figure BENCHMARK.json's bounds are compared with), plus the host steal of
every run. The summary also goes to ``.bench_build/perfbench/spread.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    args = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    summary = {}
    for w in args.workloads:
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            cmd = [*spec["command"], "--workload", w, "--seed", str(seed)]
            cmd += ["--seconds", str(spec["run_seconds"]), "--trace", "0"]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
            result = json.loads(out.stdout.strip().splitlines()[-1])
            path = os.path.join(ROOT, ".bench_build", "perfbench", "results", f"{w}-seed{seed}-trace0.json")
            with open(path) as fh:
                record = json.load(fh)
            runs.append({"seed": seed, "steal_frac": record["steal_frac"], **result})
            print(f"{w} seed {seed}: {json.dumps(result)}", file=sys.stderr)
        metrics = {}
        for name, bound in bounds.items():
            values = [r["metrics"][name]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(values, n=4)
            metrics[name] = {
                "median": med,
                "q1": q1,
                "q3": q3,
                "spread": (q3 - q1) / med,
                "bound": bound,
                "values": values,
            }
        summary[w] = {
            "correct": all(r["correct"] for r in runs),
            "steal_frac": [r["steal_frac"] for r in runs],
            "metrics": metrics,
        }
        for name, m in metrics.items():
            print(f"{w:12s} {name:16s} median {m['median']:.4f} spread {m['spread']:.3f} (bound {m['bound']})")
    out_path = os.path.join(ROOT, ".bench_build", "perfbench", "spread.json")
    with open(out_path, "w") as fh:
        json.dump(summary, fh, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
