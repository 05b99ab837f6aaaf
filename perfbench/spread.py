#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload crawl-deep --seeds 1-10

Runs the benchmark once per seed, one run at a time, and prints for each
end-to-end metric its median and the distance between its first and third
quartiles as a share of the median, next to a third of the metric's
bound.  Each run's result line is appended to
``.perfbench/spread-<workload>.jsonl`` and its whole output is kept in
``.perfbench/spread-logs/<workload>-<seed>.log``.
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


def seeds_of(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    log = os.path.join(ROOT, ".perfbench", f"spread-{args.workload}.jsonl")
    logs = os.path.join(ROOT, ".perfbench", "spread-logs")
    os.makedirs(logs, exist_ok=True)
    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    walls = []
    for seed in seeds_of(args.seeds):
        cmd = [*spec["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        walls.append(time.perf_counter() - t0)
        with open(os.path.join(logs, f"{args.workload}-{seed}.log"), "w", encoding="utf-8") as fh:
            fh.write(proc.stdout + proc.stderr)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}")
            return 1
        res = json.loads(lines[-1])
        with open(log, "a", encoding="utf-8") as fh:
            fh.write(json.dumps({"seed": seed, "wall_s": walls[-1], **res}) + "\n")
        for name, v in res["metrics"].items():
            values[name].append(v["value"])
        print(f"seed {seed}: {walls[-1]:.1f} s  "
              + "  ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    print(f"run wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med
        flag = "ok" if spread < m["bound"] / 3 else "WIDE"
        print(f"{m['name']:<16} median {med:12.5g}  spread {spread:7.4f}  bound/3 {m['bound'] / 3:.4f}  {flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
