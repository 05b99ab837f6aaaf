#!/usr/bin/env python3
"""ccspark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload {crawl-deep,corpus-queries}
        --seed N --seconds S --trace {0,1} [--size {full,smoke}]

Run from the root of a checkout.  It prints a table of metrics and, as
its last line, one JSON object with the keys correct, attempted, failed
and metrics.  With ``--trace 0`` the metrics are the end-to-end ones of
BENCHMARK.json.  With ``--trace 1`` they are the per-layer ones, from
Spark's event log and from timed calls into each module's public
functions.  The exit code is 0 only when every correctness check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import traceback

import common

WORKLOADS = ("crawl-deep", "corpus-queries")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full",
                    help="smoke: tiny universe and sf0.001-sized corpus, for checking the benchmark itself")
    args = ap.parse_args()

    missing = common.program_missing()
    if missing:
        print(f"perfbench: program files missing from {common.ROOT}: {', '.join(missing)}", file=sys.stderr)
        return 2
    with open(os.path.join(common.ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)

    common.prepare_env()
    evdir = common.fresh_dir(os.path.join(common.WORK, "events"))
    trace = bool(args.trace)
    if args.workload == "crawl-deep":
        import crawl as workload
    else:
        import corpus as workload

    with common.RssSampler() as rss:
        out = workload.run(args.seed, args.seconds, trace, args.size, rss)

    error_rate = out["failed"] / out["attempted"]
    table = [
        ("setup_s", out["setup_s"], "s"),
        *out["table"],
        ("peak_mem_mb", rss.peak_mb, "MB"),
        ("error_rate", error_rate, "ratio"),
    ]
    if trace:
        from eventlog import EventIndex, load

        idx = EventIndex(load(evdir, out["app_id"]))
        per_step = [idx.step(jobs, t0, t1, common.cores()) for jobs, t0, t1 in out["steps"]]
        layers = {**out["layers"], "process.peak_mem_mb": rss.peak_mb}
        for k in per_step[0]:
            layers[f"step.{k}"] = statistics.median(s[k] for s in per_step)
        out["spans"].write(os.path.join(common.WORK, f"spans-{args.workload}-{args.seed}.json"))
        metrics = {m["name"]: {"value": layers.get(m["name"], 0), "unit": m["unit"]} for m in spec["per_layer"]}
        table += [(k, v["value"], v["unit"]) for k, v in metrics.items()]
    else:
        values = {"setup_s": out["setup_s"], "step_s": out["step_s"]}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    correct = out["failed"] == 0
    common.emit(table, {"correct": correct, "attempted": out["attempted"], "failed": out["failed"], "metrics": metrics})
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — report the failure, print no result
        traceback.print_exc()
        if "pyspark" in sys.modules:
            common.stop_jvm()
        sys.exit(1)
