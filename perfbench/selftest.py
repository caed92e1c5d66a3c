#!/usr/bin/env python3
"""Self-test of the benchmark: a quick sf0.001 run of every workload,
untraced and traced, asserting that each run is correct with no failed
op, and that it prints exactly the metrics BENCHMARK.json names, each
with its declared unit.

    python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    for w in [w["name"] for w in bench["workloads"]]:
        for trace in (0, 1):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"),
                 "--workload", w, "--seed", "1", "--seconds", "1",
                 "--trace", str(trace), "--scale", "0.001"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                text=True, timeout=900)
            assert p.returncode == 0, f"{w}/{trace}: exit {p.returncode}"
            r = json.loads(p.stdout.strip().splitlines()[-1])
            assert sorted(r) == ["attempted", "correct", "failed", "metrics"], r
            assert r["correct"] and r["attempted"] > 0, f"{w}/{trace}: {r}"
            assert r["failed"] == 0, f"{w}/{trace}: fail_ratio " \
                f"{r['failed'] / r['attempted']}"
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            assert got == want[trace], f"{w}/{trace}: {got} != {want[trace]}"
            assert all(isinstance(v["value"], (int, float))
                       for v in r["metrics"].values()), r
            print(f"ok {w} trace={trace} attempted={r['attempted']}")


if __name__ == "__main__":
    main()
