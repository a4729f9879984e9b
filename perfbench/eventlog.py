"""Reduce an uncompressed Spark event log to per-job and per-call JSON.

Standard library only. Spark writes either one JSON-lines file or, for a
rolling log, an ``eventlog_v2_*`` directory of ``events_<n>_*`` parts;
both are read here. Compression must be off
(``spark.eventLog.compress=false``): the reader has no zstd codec.

Jobs are attributed to a call by the job group the benchmark sets around
each call (``spark.jobGroup.id``), and to a phase or layer inside the
call by the span whose interval holds the job's submission time.

Usage: python3 perfbench/eventlog.py <event-log file or dir>
prints one JSON object per job, grouped by job group.
"""

from __future__ import annotations

import json
import os
import sys

#: RDD scope names of stages that run Python workers (Arrow / pandas)
PYTHON_SCOPES = ("Pandas", "Python", "InArrow")


def log_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(path, f) for f in parts]


def find_log(log_dir: str, app_id: str) -> str:
    """The log Spark wrote under ``log_dir`` for application ``app_id``."""
    apps = [f for f in os.listdir(log_dir) if not f.startswith(".") and app_id in f]
    if len(apps) != 1:
        raise ValueError(f"expected one event log for {app_id} under {log_dir}, found {apps}")
    return os.path.join(log_dir, apps[0])


def _stage_record(info: dict) -> dict:
    scopes = []
    for rdd in info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            scopes.append(json.loads(scope).get("name", ""))
    return {
        "tasks": info.get("Number of Tasks", 0),
        "python": any(p in s for s in scopes for p in PYTHON_SCOPES),
        "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "sched_delay_ms": 0,
        "shuffle_write_b": 0, "shuffle_read_b": 0, "spill_b": 0,
    }


def reduce_log(path: str) -> dict:
    """{"jobs": [...], "stages": {id: {...}}} from the log at ``path``.

    Each job: id, group, submit_ms, end_ms, stage ids.
    Each stage: task count, whether it runs Python, and task metrics
    summed over its tasks (run, CPU, GC, scheduler delay, shuffle, spill).
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for part in log_files(path):
        with open(part, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "job": ev["Job ID"],
                        "group": props.get("spark.jobGroup.id"),
                        "submit_ms": ev["Submission Time"],
                        "end_ms": None,
                        "stages": list(ev.get("Stage IDs", [])),
                    }
                    for info in ev.get("Stage Infos", []):
                        stages.setdefault(info["Stage ID"], _stage_record(info))
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    rec = stages.setdefault(info["Stage ID"], _stage_record(info))
                    rec["ran"] = True
                elif kind == "SparkListenerTaskEnd":
                    rec = stages.setdefault(ev["Stage ID"], _stage_record({}))
                    m = ev.get("Task Metrics") or {}
                    ti = ev.get("Task Info") or {}
                    run = m.get("Executor Run Time", 0)
                    rec["run_ms"] += run
                    rec["cpu_ns"] += m.get("Executor CPU Time", 0)
                    rec["gc_ms"] += m.get("JVM GC Time", 0)
                    # the web UI's scheduler delay: task duration not spent
                    # deserializing, running, serializing or fetching results
                    dur = ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
                    getting = ti.get("Getting Result Time", 0)
                    fetch = (ti.get("Finish Time", 0) - getting) if getting else 0
                    rec["sched_delay_ms"] += max(0, dur - run - fetch
                                                 - m.get("Executor Deserialize Time", 0)
                                                 - m.get("Result Serialization Time", 0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    rec["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                    rec["shuffle_read_b"] += (sr.get("Remote Bytes Read", 0)
                                              + sr.get("Local Bytes Read", 0))
                    rec["spill_b"] += (m.get("Memory Bytes Spilled", 0)
                                       + m.get("Disk Bytes Spilled", 0))
    return {"jobs": sorted(jobs.values(), key=lambda j: j["job"]), "stages": stages}


def job_totals(log: dict, jobs: list[dict]) -> dict:
    """Sum the stage metrics of ``jobs`` into the ``spark.*`` names.
    A stage shared by two jobs (a reused shuffle) counts once."""
    seen: set[int] = set()
    t = {"jobs": len(jobs), "stages": 0, "tasks": 0, "single_task_stages": 0,
         "scheduler_delay_s": 0.0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
         "python_run_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
         "shuffle_read_mb": 0.0, "spill_mb": 0.0}
    for job in jobs:
        for sid in job["stages"]:
            st = log["stages"].get(sid)
            if st is None or sid in seen or not st.get("ran"):
                continue  # skipped stages (shuffle reuse) ran no tasks
            seen.add(sid)
            t["stages"] += 1
            t["tasks"] += st["tasks"]
            t["single_task_stages"] += st["tasks"] == 1
            t["scheduler_delay_s"] += st["sched_delay_ms"] / 1e3
            t["executor_run_s"] += st["run_ms"] / 1e3
            t["executor_cpu_s"] += st["cpu_ns"] / 1e9
            if st["python"]:
                t["python_run_s"] += max(0.0, st["run_ms"] / 1e3 - st["cpu_ns"] / 1e9)
            t["gc_s"] += st["gc_ms"] / 1e3
            t["shuffle_write_mb"] += st["shuffle_write_b"] / 1e6
            t["shuffle_read_mb"] += st["shuffle_read_b"] / 1e6
            t["spill_mb"] += st["spill_b"] / 1e6
    return t


def covered_ms(jobs: list[dict], start_ms: float, end_ms: float) -> float:
    """Milliseconds of [start_ms, end_ms] during which at least one of
    ``jobs`` was running."""
    spans = sorted((max(j["submit_ms"], start_ms), min(j["end_ms"] or end_ms, end_ms))
                   for j in jobs)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    log = reduce_log(argv[0])
    groups: dict[str, list[dict]] = {}
    for job in log["jobs"]:
        groups.setdefault(job["group"] or "", []).append(job)
    out = {g: job_totals(log, js) for g, js in groups.items()}
    print(json.dumps(out, indent=1, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
