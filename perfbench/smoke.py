#!/usr/bin/env python3
"""Smoke check: every workload end to end at sf0.001, untraced and traced.

    python3 perfbench/smoke.py

Each run must pass its output checks with no failed operation, and the
metric names and units it prints must be exactly those BENCHMARK.json
declares (end_to_end untraced, per_layer traced).
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bad = 0
    for w in (x["name"] for x in spec["workloads"]):
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", "1", "--seconds", "1", "--trace", str(trace),
                 "--scale", "smoke"], cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"FAIL {w} trace={trace}: exit {p.returncode}\n{p.stderr[-2000:]}")
                bad += 1
                continue
            r = json.loads(lines[-1])
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            why = []
            if got != want:
                why.append(f"metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(want))}"
                           f" or units {[(k, got[k], want[k]) for k in got if k in want and got[k] != want[k]]}")
            if not r["correct"]:
                why.append("output check failed")
            if r["failed"]:
                why.append(f"{r['failed']} of {r['attempted']} operations failed")
            print(("FAIL" if why else "PASS"), w, f"trace={trace}", "; ".join(why))
            bad += bool(why)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
