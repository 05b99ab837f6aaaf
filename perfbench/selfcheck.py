#!/usr/bin/env python3
"""Checks of the benchmark itself, at smoke size (about 5 minutes).

    python3 perfbench/selfcheck.py

1. BENCHMARK.json keeps to its format: keys, name and unit syntax, counts,
   bounds, and a `setup_s` metric.
2. Every workload, with tracing off and on, at `--size smoke`, exits 0 and
   prints as its last line a result with exactly the declared metrics.
3. In a directory holding only BENCHMARK.json and perfbench/, the command
   exits non-zero and prints no result.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def check_spec(spec: dict) -> list[str]:
    errs = []
    if set(spec) != {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}:
        errs.append(f"keys: {sorted(spec)}")
    if not (1 <= spec["run_seconds"] <= 60 and isinstance(spec["run_seconds"], int)):
        errs.append("run_seconds")
    if not 2 <= len(spec["workloads"]) <= 8:
        errs.append("workload count")
    if not 1 <= len(spec["end_to_end"]) <= 16 or not 1 <= len(spec["per_layer"]) <= 128:
        errs.append("metric count")
    names = [w["name"] for w in spec["workloads"]] + [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    errs += [f"name {n!r}" for n in names if not NAME.match(n)]
    if len(set(names)) != len(names):
        errs.append("duplicate names")
    for w in spec["workloads"]:
        if set(w) != {"name", "why"} or len(w["why"]) > 200 or "\n" in w["why"]:
            errs.append(f"workload {w['name']}")
    for m in spec["end_to_end"]:
        if set(m) != {"name", "unit", "better", "bound"} or not 0 < m["bound"] <= 0.25:
            errs.append(f"end_to_end {m['name']}")
    for m in spec["per_layer"]:
        if set(m) != {"name", "unit", "better"}:
            errs.append(f"per_layer {m['name']}")
    for m in spec["end_to_end"] + spec["per_layer"]:
        if not UNIT.match(m["unit"]) or m["better"] not in ("lower", "higher"):
            errs.append(f"unit/better {m['name']}")
    if not any(m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower" for m in spec["end_to_end"]):
        errs.append("no setup_s")
    return errs


def run(cmd: list[str], cwd: str) -> tuple[int, str]:
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    errs = check_spec(spec)
    for w in spec["workloads"]:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [*spec["command"], "--workload", w["name"], "--seed", "7", "--seconds", "3",
                   "--trace", str(trace), "--size", "smoke"]
            code, out = run(cmd, ROOT)
            lines = out.strip().splitlines()
            try:
                res = json.loads(lines[-1])
            except (IndexError, ValueError):
                errs.append(f"{w['name']} trace {trace}: exit {code}, no result line")
                continue
            want = {m["name"]: m["unit"] for m in spec[group]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if code != 0 or set(res) != {"correct", "attempted", "failed", "metrics"} or not res["correct"]:
                errs.append(f"{w['name']} trace {trace}: exit {code}, {lines[-1][:200]}")
            if got != want or res["attempted"] < 1:
                errs.append(f"{w['name']} trace {trace}: metrics differ from BENCHMARK.json")
            print(f"{w['name']} trace {trace}: exit {code}, correct {res['correct']}", flush=True)
    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p), ignore=shutil.ignore_patterns("__pycache__"))
    w = spec["workloads"][0]["name"]
    code, out = run([*spec["command"], "--workload", w, "--seed", "1", "--seconds", "1", "--trace", "0"], bare)
    if code == 0 or '"metrics"' in out:
        errs.append(f"bare directory: exit {code}")
    print(f"bare directory: exit {code}")
    shutil.rmtree(bare)
    for e in errs:
        print("FAIL", e)
    print("selfcheck", "failed" if errs else "passed")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
