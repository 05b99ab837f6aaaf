"""Per-step Spark numbers from the event log: jobs, stages, tasks,
driver gap and task-time totals for the jobs a step ran.

A step is one frontier round or one headline-query pass; its jobs are
the ids the status tracker gained while it ran.
"""

from __future__ import annotations

import json
import os


def load(evdir: str, app_id: str) -> list[dict]:
    """Events of application ``app_id``, logged under ``evdir``."""
    with open(os.path.join(evdir, app_id), encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


class EventIndex:
    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        self.tasks_by_stage: dict[int, list[dict]] = {}
        self.stage_done: dict[int, dict] = {}
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                self.jobs[e["Job ID"]] = {"submit": e["Submission Time"], "stages": e["Stage IDs"]}
            elif kind == "SparkListenerJobEnd":
                self.jobs.setdefault(e["Job ID"], {"stages": []})["end"] = e["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                self.stage_done[e["Stage Info"]["Stage ID"]] = e["Stage Info"]
            elif kind == "SparkListenerTaskEnd":
                self.tasks_by_stage.setdefault(e["Stage ID"], []).append(e)

    def step(self, job_ids, t0: float, t1: float, n_cores: int) -> dict:
        """Numbers for one step whose wall clock ran from ``t0`` to ``t1``
        (epoch seconds) and which ran ``job_ids``."""
        jobs = [self.jobs[j] for j in sorted(job_ids) if j in self.jobs]
        stage_ids = {s for j in jobs for s in j["stages"] if s in self.stage_done}
        tasks = [t for s in stage_ids for t in self.tasks_by_stage.get(s, [])]
        wall = max(t1 - t0, 1e-9)
        # union of the job intervals, clipped to the step
        ivs = sorted(
            (max(j["submit"] / 1000.0, t0), min(j.get("end", t1 * 1000.0) / 1000.0, t1))
            for j in jobs
            if "submit" in j
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        busy = cpu_ns = gc_ms = shuffle = spill = 0
        for t in tasks:
            info, m = t["Task Info"], t.get("Task Metrics") or {}
            busy += info["Finish Time"] - info["Launch Time"]
            cpu_ns += m.get("Executor CPU Time", 0)
            gc_ms += m.get("JVM GC Time", 0)
            shuffle += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            spill += m.get("Disk Bytes Spilled", 0)
        return {
            "jobs": len(jobs),
            "stages": len(stage_ids),
            "tasks": len(tasks),
            "driver_gap_s": wall - covered,
            "busy_ratio": busy / 1000.0 / (n_cores * wall),
            "executor_cpu_s": cpu_ns / 1e9,
            "gc_s": gc_ms / 1000.0,
            "shuffle_bytes": shuffle,
            "spill_bytes": spill,
        }
