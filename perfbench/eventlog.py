"""Stage and task metrics from a Spark event log (JSON lines), stdlib only.

Only jobs submitted inside a wall-clock window (epoch seconds) count, so
set-up and checks around the timed region stay out of the figures.
"""

from __future__ import annotations

import json
import os
import statistics

KERNEL_NODE = "MapInArrow"  # the physical node that runs the extraction kernel


def read_events(log_dir: str) -> list[dict]:
    """Every event of the (non-rolling) logs in `log_dir`."""
    events = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _is_kernel_stage(stage_info: dict) -> bool:
    return any(KERNEL_NODE in (rdd.get("Scope") or "") or KERNEL_NODE in rdd.get("Name", "")
               for rdd in stage_info.get("RDD Info", []))


def summarize(events: list[dict], t0: float, t1: float) -> dict:
    """Totals over the jobs submitted in [t0, t1]; job-group totals too."""
    lo, hi = t0 * 1000, t1 * 1000
    jobs: dict[int, dict] = {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart" and lo <= ev["Submission Time"] <= hi:
            jobs[ev["Job ID"]] = {
                "start": ev["Submission Time"], "end": None,
                "stages": set(ev["Stage IDs"]),
                "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
            }
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
    stage_job = {s: j for j, info in jobs.items() for s in info["stages"]}
    stages_run, kernel_stages = set(), set()
    for ev in events:
        if ev["Event"] == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if info["Stage ID"] in stage_job:
                stages_run.add(info["Stage ID"])
                if _is_kernel_stage(info):
                    kernel_stages.add(info["Stage ID"])
    tot = dict.fromkeys(("run_ms", "cpu_ns", "gc_ms", "shuffle_write",
                         "shuffle_read", "spill"), 0)
    tasks, kernel_task_s = 0, []
    for ev in events:
        if ev["Event"] != "SparkListenerTaskEnd" or ev["Stage ID"] not in stage_job:
            continue
        m = ev.get("Task Metrics") or {}
        tasks += 1
        tot["run_ms"] += m.get("Executor Run Time", 0)
        tot["cpu_ns"] += m.get("Executor CPU Time", 0)
        tot["gc_ms"] += m.get("JVM GC Time", 0)
        sw, sr = m.get("Shuffle Write Metrics") or {}, m.get("Shuffle Read Metrics") or {}
        tot["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
        tot["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        tot["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        if ev["Stage ID"] in kernel_stages:
            ti = ev["Task Info"]
            kernel_task_s.append((ti["Finish Time"] - ti["Launch Time"]) / 1000)
    job_ms = [j["end"] - j["start"] for j in jobs.values() if j["end"]]
    groups: dict[str, dict] = {}
    for j in jobs.values():
        g = groups.setdefault(j["group"] or "", {"jobs": 0, "job_s": 0.0})
        g["jobs"] += 1
        g["job_s"] += ((j["end"] or j["start"]) - j["start"]) / 1000
    wall = t1 - t0
    p50 = statistics.median(kernel_task_s) if kernel_task_s else 0.0
    kmax = max(kernel_task_s, default=0.0)
    return {
        "jobs": len(jobs), "stages": len(stages_run), "tasks": tasks,
        "job_sum_s": sum(job_ms) / 1000,
        "sched_gap_s": max(wall - sum(job_ms) / 1000, 0.0),
        "executor_run_s": tot["run_ms"] / 1000,
        "executor_cpu_s": tot["cpu_ns"] / 1e9,
        "cpu_util": tot["cpu_ns"] / 1e6 / tot["run_ms"] if tot["run_ms"] else 0.0,
        "gc_s": tot["gc_ms"] / 1000,
        "shuffle_write_mb": tot["shuffle_write"] / 1e6,
        "shuffle_read_mb": tot["shuffle_read"] / 1e6,
        "spill_mb": tot["spill"] / 1e6,
        "kernel_task_p50_s": p50, "kernel_task_max_s": kmax,
        "task_skew": kmax / p50 if p50 else 0.0,
        "groups": groups,
    }
