#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's median and
spread (quartile distance over the median) against its bound.

Usage: python3 perfbench/spread.py --workload W --seeds 1-10 [--trace 0]
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values = {}
    for seed in seeds(a.seeds):
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", a.trace]
        out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True).stdout
        line = json.loads(out.strip().splitlines()[-1])
        print(json.dumps({"seed": seed, **line}), flush=True)
        if not line["correct"]:
            sys.exit(f"seed {seed}: incorrect output")
        for k, m in line["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    for k, v in values.items():
        if len(v) < 2:
            continue
        med, sp = stats.median(v), stats.spread(v)
        b = bounds.get(k)
        flag = "" if b is None else ("ok" if sp < b / 3 else "WIDE")
        print(f"{k:24} median {med:12.4f}  spread {sp:6.3f}  bound {b}  {flag}")


if __name__ == "__main__":
    main()
