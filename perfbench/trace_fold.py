"""Fold a Spark event log (uncompressed, one JSON event per line) into
run totals: jobs, stages, tasks, executor time, GC, shuffle, spill,
source reads and sink writes, plus per-job-group job counts and one
span per job (parent: its job group)."""

from __future__ import annotations

import json
from collections import Counter
from pathlib import Path

_TOTALS = (
    "tasks", "failed_tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_rows", "input_bytes", "output_rows", "output_bytes",
)


def fold_event_log(evdir: Path) -> dict:
    files = [p for p in Path(evdir).iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {evdir}, got {files}")
    tot = dict.fromkeys(_TOTALS, 0)
    stages = 0
    group_jobs: Counter = Counter()
    job_spans: dict[int, dict] = {}
    with files[0].open() as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                group_jobs[group] += 1
                job_spans[ev["Job ID"]] = {
                    "name": f"job {ev['Job ID']}", "parent": group,
                    "start": ev["Submission Time"] / 1000.0,
                }
            elif kind == "SparkListenerJobEnd":
                job_spans[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                stages += 1
            elif kind == "SparkListenerTaskEnd":
                tot["tasks"] += 1
                if ev.get("Task End Reason", {}).get("Reason") != "Success":
                    tot["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                tot["executor_run_ms"] += m.get("Executor Run Time", 0)
                tot["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                tot["gc_ms"] += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                tot["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = m.get("Shuffle Write Metrics") or {}
                tot["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                tot["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                im = m.get("Input Metrics") or {}
                tot["input_rows"] += im.get("Records Read", 0)
                tot["input_bytes"] += im.get("Bytes Read", 0)
                om = m.get("Output Metrics") or {}
                tot["output_rows"] += om.get("Records Written", 0)
                tot["output_bytes"] += om.get("Bytes Written", 0)
    return {
        "jobs": len(job_spans),
        "stages": stages,
        "group_jobs": dict(group_jobs),
        "job_spans": list(job_spans.values()),
        **tot,
    }
