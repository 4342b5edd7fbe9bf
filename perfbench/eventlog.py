"""Per-op cluster metrics from Spark's event log.

The traced run starts Spark with ``spark.eventLog.enabled`` (plain
JSON lines, no compression, no rolling). Every job carries the job
group of the span that launched it (see spans.py), which maps the job
to its op. Per op this yields jobs, stages, tasks, executor run/CPU
time, JVM GC, shuffle bytes written, bytes spilled, task skew in the
slowest stage, and the driver-only time: the op's wall time outside
the union of its job intervals.
"""

from __future__ import annotations

import glob
import json
import os
import statistics


def _read(log_dir: str) -> list[dict]:
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    with open(files[0]) as f:
        return [json.loads(line) for line in f if line.strip()]


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def per_op(log_dir: str, tracer) -> dict[int, dict[str, float]]:
    """op id -> cluster metrics of the jobs its spans launched."""
    span_op = {f"span-{s['id']}": s["op"] for s in tracer.spans}
    roots = tracer.op_roots()
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    for e in _read(log_dir):
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            op = span_op.get(group)
            if op is None:  # no group: attribute by submission time
                t = e["Submission Time"] / 1000.0
                op = next((o for o, r in roots.items()
                           if r["start"] <= t <= r["end"]), None)
            jobs[e["Job ID"]] = {"op": op, "start": e["Submission Time"] / 1000.0}
            for sid in e["Stage IDs"]:
                stage_job.setdefault(sid, e["Job ID"])
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stages[info["Stage ID"]] = {
                "s": (info.get("Completion Time", 0) - info.get("Submission Time", 0)) / 1000.0,
            }
        elif ev == "SparkListenerTaskEnd":
            tasks.setdefault(e["Stage ID"], []).append(e)

    out: dict[int, dict[str, float]] = {}
    for op, root in roots.items():
        op_jobs = [j for j in jobs.values() if j["op"] == op and "end" in j]
        op_job_ids = {jid for jid, j in jobs.items() if j["op"] == op}
        op_stages = [sid for sid in stages if stage_job.get(sid) in op_job_ids]
        m = dict.fromkeys(
            ("executor_run_s", "executor_cpu_s", "jvm_gc_s",
             "shuffle_write_mb", "spill_mb"), 0.0)
        n_tasks = 0
        for sid in op_stages:
            for t in tasks.get(sid, []):
                n_tasks += 1
                tm = t.get("Task Metrics") or {}
                m["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                m["jvm_gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                sw = tm.get("Shuffle Write Metrics") or {}
                m["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                m["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 2**20
        skew = 1.0
        if op_stages:
            slowest = max(op_stages, key=lambda s: stages[s]["s"])
            durs = [(t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"]) / 1e3
                    for t in tasks.get(slowest, [])]
            if durs and statistics.median(durs) > 0:
                skew = max(durs) / statistics.median(durs)
        busy = _union_s([(j["start"], j["end"]) for j in op_jobs])
        m.update(
            jobs_per_op=float(len(op_job_ids)),
            stages_per_op=float(len(op_stages)),
            tasks_per_op=float(n_tasks),
            task_skew=skew,
            driver_only_s=max(0.0, root["end"] - root["start"] - busy),
        )
        out[op] = m
    return out
