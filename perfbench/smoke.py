#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at the smallest input scale.

Runs every workload of BENCHMARK.json briefly, untraced and traced, and
asserts that each run prints every metric BENCHMARK.json names for that
mode, with a number, and that no output check failed.

Usage (from the repository root): python3 perfbench/smoke.py [seconds]
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    seconds = sys.argv[1] if len(sys.argv) > 1 else "3"
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bad = []
    for w in bench["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"],
                   "--seed", "7", "--seconds", seconds, "--trace", str(trace),
                   "--scale", "0.001"]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
            except (IndexError, ValueError):
                bad.append(f"{w['name']} trace={trace}: no result line (exit {p.returncode})")
                continue
            missing = [m["name"] for m in bench[kind]
                       if not isinstance(res["metrics"].get(m["name"], {}).get("value"), (int, float))]
            if p.returncode != 0 or missing or res["failed"] != 0 or not res["correct"]:
                bad.append(f"{w['name']} trace={trace}: exit {p.returncode}, "
                           f"missing {missing}, failed {res['failed']} of {res['attempted']}")
            print(f"{w['name']} trace={trace}: {res['attempted']} checks, "
                  f"{res['failed']} failed, {len(res['metrics'])} metrics", flush=True)
    if bad:
        print("SMOKE FAILED\n" + "\n".join(bad))
        sys.exit(1)
    print("smoke ok")


if __name__ == "__main__":
    main()
