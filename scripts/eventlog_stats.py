#!/usr/bin/env python
"""Summarize Spark event logs per stage: task count, wall span, executor
run time, JVM CPU time and run minus CPU (off_s: time the task threads
spent off the JVM CPU, e.g. waiting on a Python worker, I/O or a lock), GC,
shuffle fetch wait, remote/local bytes, spill, ser/deser time; then, in
total and per job group (spark.jobGroup.id, "-" for jobs outside any
group), the Spark jobs, the stages that ran tasks, their tasks and the
summed job wall time (submission to completion).

Usage: python scripts/eventlog_stats.py <eventlog file or dir> [top_n]
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict


def load_events(path: str):
    paths = [path]
    if os.path.isdir(path):
        entries = sorted(os.path.join(path, f) for f in os.listdir(path))
        # rolling event-log dir (eventlog_v2_*): concatenate events_* parts
        parts = [p for p in entries if os.path.basename(p).startswith("events_")]
        paths = parts or [max(entries, key=os.path.getmtime)]
        if os.path.isdir(paths[0]):  # an eventLog.dir: its newest log
            yield from load_events(paths[0])
            return
    for p in paths:
        print(f"# {p}", file=sys.stderr)
        if p.endswith(".zstd"):
            import io
            import subprocess

            proc = subprocess.Popen(
                ["zstd", "-dc", p], stdout=subprocess.PIPE
            )
            f = io.TextIOWrapper(proc.stdout)
        else:
            f = open(p)
        with f:
            for line in f:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue


def main() -> None:
    path = sys.argv[1]
    top_n = int(sys.argv[2]) if len(sys.argv) > 2 else 15

    stages: dict[tuple, dict] = defaultdict(
        lambda: {
            "name": "",
            "tasks": 0,
            "run_ms": 0,
            "cpu_ms": 0,
            "gc_ms": 0,
            "fetch_wait_ms": 0,
            "remote_mb": 0.0,
            "local_mb": 0.0,
            "write_ms": 0,
            "spill_mb": 0.0,
            "deser_ms": 0,
            "result_ser_ms": 0,
            "sched_delay_ms": 0,
            "first_launch": None,
            "last_finish": 0,
        }
    )

    jobs: dict[str, int] = defaultdict(int)
    job_start: dict[int, tuple[str, int]] = {}  # job id: (group, submitted)
    job_ms: dict[str, int] = defaultdict(int)
    # a stage belongs to the first job that lists it: later jobs of an
    # adaptive query list it again, as skipped
    stage_group: dict[int, str] = {}

    for ev in load_events(path):
        et = ev.get("Event")
        if et == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or "-"
            jobs[group] += 1
            job_start[ev["Job ID"]] = (group, ev.get("Submission Time", 0))
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif et == "SparkListenerJobEnd" and ev["Job ID"] in job_start:
            group, submitted = job_start[ev["Job ID"]]
            job_ms[group] += ev.get("Completion Time", 0) - submitted
        elif et == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            stages[key]["name"] = info["Stage Name"].split("\n")[0][:60]
        elif et == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev["Stage Attempt ID"])
            s = stages[key]
            ti = ev.get("Task Info", {})
            tm = ev.get("Task Metrics") or {}
            s["tasks"] += 1
            s["run_ms"] += tm.get("Executor Run Time", 0)
            s["cpu_ms"] += tm.get("Executor CPU Time", 0) // 1_000_000
            s["gc_ms"] += tm.get("JVM GC Time", 0)
            s["deser_ms"] += tm.get("Executor Deserialize Time", 0)
            s["result_ser_ms"] += tm.get("Result Serialization Time", 0)
            srm = tm.get("Shuffle Read Metrics") or {}
            s["fetch_wait_ms"] += srm.get("Fetch Wait Time", 0)
            s["remote_mb"] += srm.get("Remote Bytes Read", 0) / 1e6
            s["local_mb"] += srm.get("Local Bytes Read", 0) / 1e6
            swm = tm.get("Shuffle Write Metrics") or {}
            s["write_ms"] += swm.get("Shuffle Write Time", 0) // 1_000_000
            s["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 1e6
            lt = ti.get("Launch Time", 0)
            ft = ti.get("Finish Time", 0)
            if s["first_launch"] is None or lt < s["first_launch"]:
                s["first_launch"] = lt
            s["last_finish"] = max(s["last_finish"], ft)

    rows = []
    for (sid, att), s in stages.items():
        if not s["tasks"]:
            continue
        span = (s["last_finish"] - (s["first_launch"] or 0)) / 1000
        rows.append((span, sid, att, s))
    rows.sort(reverse=True)

    hdr = (
        f"{'stage':>5} {'span_s':>7} {'tasks':>5} {'run_s':>7} {'cpu_s':>7} "
        f"{'off_s':>7} {'gc_s':>6} {'fwait_s':>7} {'rem_MB':>7} {'loc_MB':>7} "
        f"{'spill_MB':>8} {'deser_s':>7}  name"
    )
    print(hdr)
    for span, sid, att, s in rows[:top_n]:
        print(
            f"{sid:>5} {span:>7.1f} {s['tasks']:>5} {s['run_ms']/1000:>7.1f} "
            f"{s['cpu_ms']/1000:>7.1f} {(s['run_ms'] - s['cpu_ms'])/1000:>7.1f} "
            f"{s['gc_ms']/1000:>6.1f} "
            f"{s['fetch_wait_ms']/1000:>7.1f} {s['remote_mb']:>7.0f} "
            f"{s['local_mb']:>7.0f} {s['spill_mb']:>8.0f} "
            f"{s['deser_ms']/1000:>7.1f}  {s['name']}"
        )

    ran: dict[str, list[int]] = defaultdict(lambda: [0, 0])  # stages, tasks
    for (sid, _), s in stages.items():
        if s["tasks"]:
            r = ran[stage_group.get(sid, "-")]
            r[0] += 1
            r[1] += s["tasks"]
    groups = [
        (g, n, *ran[g], job_ms[g] / 1000) for g, n in sorted(jobs.items())
    ]
    total = tuple(sum(row[i] for row in groups) for i in range(1, 5))
    print(f"\n{'jobs':>5} {'stages':>6} {'tasks':>6} {'job_s':>7}  group")
    for g, n, n_stages, n_tasks, secs in [("total", *total), *groups]:
        print(f"{n:>5} {n_stages:>6} {n_tasks:>6} {secs:>7.2f}  {g}")


if __name__ == "__main__":
    main()
