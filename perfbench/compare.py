#!/usr/bin/env python3
"""Compare two commits on the benchmark, by alternating pairs of runs.

    python3 perfbench/compare.py --parent DIR --change DIR

Each DIR is a graft checkout holding this perfbench/ directory. For each
workload in BENCHMARK.json, pair i of ten runs both checkouts on seed
100+i for BENCHMARK.json's run_seconds, the parent first on even i and
the change first on odd i. One row per (workload, metric):

- ``gain``: the change wins at least 9 of every 10 pairs (ties count for
  neither side) and the medians differ by more than the parent's own
  spread (the distance between its quartiles);
- ``worse``: the change's median is worse than the parent's by more than
  the metric's bound in BENCHMARK.json;
- ``unresolved``: the spread of either side exceeds the bound, unless
  every change run beats every parent run;
- ``same`` otherwise.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
PAIRS = 10
SEED0 = 100


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[1], q[2]


def run_once(checkout, workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, os.path.join(checkout, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=900)
    line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    r = json.loads(line)
    if p.returncode != 0 or not r.get("correct"):
        raise SystemExit(f"{checkout}: {workload} seed {seed} failed: {line}")
    return {k: v["value"] for k, v in r["metrics"].items()}


def verdict(spec, parent, change):
    lower = spec["better"] == "lower"
    bound = spec.get("bound", 0.0)
    better = (lambda c, p: c < p) if lower else (lambda c, p: c > p)
    wins = sum(better(c, p) for p, c in zip(parent, change))
    losses = sum(better(p, c) for p, c in zip(parent, change))
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    spread = max((pq3 - pq1) / pmed if pmed else 0.0,
                 (cq3 - cq1) / cmed if cmed else 0.0)
    worse_by = ((cmed - pmed) if lower else (pmed - cmed)) / pmed if pmed else 0.0
    all_better = all(better(c, p) for c in change for p in parent)
    if wins >= 0.9 * len(parent) and abs(cmed - pmed) > (pq3 - pq1):
        v = "gain"
    elif spread > bound and not all_better:
        v = "unresolved"
    elif worse_by > bound:
        v = "worse"
    else:
        v = "same"
    return {"verdict": v, "parent_median": pmed, "change_median": cmed,
            "parent_iqr": [pq1, pq3], "change_iqr": [cq1, cq3],
            "wins": wins, "losses": losses, "pairs": len(parent),
            "worse_by": worse_by, "bound": bound}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    specs = {m["name"]: m for m in bench["end_to_end"]}
    runs = {}
    for w in [w["name"] for w in bench["workloads"]]:
        runs[w] = {"parent": [], "change": []}
        for i in range(PAIRS):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                co = a.parent if side == "parent" else a.change
                runs[w][side].append(
                    run_once(co, w, SEED0 + i, bench["run_seconds"]))
    for w, sides in runs.items():
        for name, spec in specs.items():
            row = verdict(spec, [r[name] for r in sides["parent"]],
                          [r[name] for r in sides["change"]])
            print(json.dumps({"workload": w, "metric": name, **row}))


if __name__ == "__main__":
    main()
