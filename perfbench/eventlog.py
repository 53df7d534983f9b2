"""Spark event-log parser: job and task records -> per-batch counters.

Only the traced run enables ``spark.eventLog``.  Each job is assigned to
the micro-batch whose span contains its submission time; a stage belongs
to the first job that lists it (later jobs list it again as skipped), and
a task to its stage.
"""

from __future__ import annotations

import json

MB = 1024.0 * 1024.0


def parse(lines) -> dict:
    """{"jobs": {job_id: submit_ms}, "stage_job": {stage: job},
    "tasks": [per-task metrics]} from event-log JSON lines."""
    jobs: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = int(ev["Job ID"])
            jobs[jid] = int(ev["Submission Time"])
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(int(sid), jid)
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tasks.append({
                "stage": int(ev["Stage ID"]),
                "launch": int(info.get("Launch Time", 0)),
                "finish": int(info.get("Finish Time", 0)),
                "run_ms": int(m.get("Executor Run Time", 0)),
                "cpu_ns": int(m.get("Executor CPU Time", 0)),
                "gc_ms": int(m.get("JVM GC Time", 0)),
                "shuffle_read": int(sr.get("Remote Bytes Read", 0))
                + int(sr.get("Local Bytes Read", 0)),
                "shuffle_write": int(sw.get("Shuffle Bytes Written", 0)),
                "spill": int(m.get("Memory Bytes Spilled", 0))
                + int(m.get("Disk Bytes Spilled", 0)),
            })
    return {"jobs": jobs, "stage_job": stage_job, "tasks": tasks}


def attribute(parsed: dict, windows: dict[int, tuple[float, float]]) -> dict:
    """Counters over the jobs submitted inside the batch windows.

    ``windows`` maps batch id -> (start, end) in epoch seconds.  Returns
    per-batch job/stage/task counts plus totals over all attributed
    work."""
    def batch_of(ms: int) -> int | None:
        t = ms / 1000.0
        for b, (s, e) in windows.items():
            if s <= t <= e:
                return b
        return None

    job_batch = {j: batch_of(ms) for j, ms in parsed["jobs"].items()}
    per = {b: {"jobs": 0, "stages": set(), "tasks": 0} for b in windows}
    for j, b in job_batch.items():
        if b is not None:
            per[b]["jobs"] += 1
    tot = {"run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "shuffle_read": 0,
           "shuffle_write": 0, "spill": 0, "tasks": 0}
    for t in parsed["tasks"]:
        j = parsed["stage_job"].get(t["stage"])
        b = job_batch.get(j)
        if b is None:
            continue
        per[b]["stages"].add(t["stage"])
        per[b]["tasks"] += 1
        for k in ("run_ms", "cpu_ns", "gc_ms", "shuffle_read",
                  "shuffle_write", "spill"):
            tot[k] += t[k]
        tot["tasks"] += 1
    return {
        "per_batch": {
            b: {"jobs": v["jobs"], "stages": len(v["stages"]),
                "tasks": v["tasks"]}
            for b, v in per.items()
        },
        "totals": tot,
    }


def read_dir(directory: str) -> dict | None:
    """Parse the one plain application log Spark wrote under ``directory``."""
    import os

    logs = sorted(os.listdir(directory))
    if not logs:
        return None
    with open(os.path.join(directory, logs[0])) as f:
        return parse(f)
