#!/usr/bin/env python3
"""Steadiness record: run every BENCHMARK.json workload once per seed and
summarise each end-to-end metric across the runs.

  python3 perfbench/steadiness.py --seeds 1-10 [--set A] [--workloads a,b]

Run from the repository root. Results are merged into
perfbench/STEADINESS.json under the given set name: every run's metrics,
exit code and host load per core at start and end, and per workload and
metric the median, quartiles (statistics.quantiles, n=4) and spread
(interquartile range / median) next to the metric's bound.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "STEADINESS.json")


def seeds(spec):
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def one(workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    load = re.search(r"load_per_core=\[([^\]]*)\]", p.stdout)
    return {
        "seed": seed, "exit": p.returncode, "wall_s": round(time.time() - t0, 1),
        "load_per_core": [round(float(x), 3) for x in load.group(1).split(",")] if load else None,
        "result": json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None,
        "stderr_tail": p.stderr[-400:] if p.returncode else "",
    }


def summary(runs, spec):
    out = {}
    for m in spec["end_to_end"]:
        vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs if r["result"]]
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        out[m["name"]] = {"median": med, "q1": q1, "q3": q3,
                          "spread": (q3 - q1) / med, "bound": m["bound"],
                          "within_third_of_bound": (q3 - q1) / med < m["bound"] / 3}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--set", default="A")
    ap.add_argument("--workloads", default="")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    record = {}
    if os.path.exists(OUT):
        with open(OUT) as f:
            record = json.load(f)
    record.setdefault("host", {"cores": len(os.sched_getaffinity(0)),
                               "run_seconds": spec["run_seconds"]})
    sets = record.setdefault("sets", {})
    for w in names:
        runs = []
        for s in seeds(args.seeds):
            runs.append(one(w, s, spec["run_seconds"]))
            print(w, json.dumps(runs[-1])[:300], flush=True)
        sets.setdefault(args.set, {})[w] = {"runs": runs, "summary": summary(runs, spec)}
        with open(OUT, "w") as f:
            json.dump(record, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
