"""Per-layer reduction, the run record, and record comparison.

A record (``perfbench/results/<workload>-s<seed>-t<trace>.json``) holds
the host fingerprint, the workload's input description, every call of
every pass (build/exec/wall/CPU seconds, MB read and written, rows,
error) and, for a traced run, each call's Spark jobs and the per-layer
metrics. Two records are compared with

    python3 perfbench/record.py OLD.json NEW.json

which prints each metric's ratio, and refuses (exit code 3, with the
differing fingerprint fields named) when the records come from hosts or
core counts that differ.
"""

from __future__ import annotations

import json
import os
import sys

import eventlog
import measure
import spans

SINK_FNS = ["export_json", "export_parquet", "export_parquet_sorted", "refresh_rollup",
            "write_zordered"]

E2E_UNITS = {
    "setup_s": "s", "cold_pass_s": "s", "latency_p50_s": "s", "latency_tail_s": "s",
    "read_mb_per_s": "MB/s", "write_mb_per_s": "MB/s", "cpu_s_per_pass": "s",
    "peak_rss_mb": "MB", "failed_ratio": "ratio",
}
LAYER_UNITS: dict[str, str] = {
    "session.get_spark_s": "s",
    "sources.load_table_s": "s", "sources.table_schema_s": "s",
    "sources.table_row_count_s": "s", "sources.describe_indexes_s": "s",
    "sources.jobs": "count", "sources.zero_job_ratio": "ratio",
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.exec_s": "s",
    "queries.exec_jobs": "count", "queries.stages": "count", "queries.tasks": "count",
    "queries.rows_out": "count",
    **{f"{f}.{p}_s": "s" for f in spans.FAMILIES.values() for p in ("build", "exec")},
    "engine.analyze_s": "s", "engine.infer_schema_dynamic_s": "s",
    **{f"sinks.{fn}_s": "s" for fn in SINK_FNS},
    "sinks.bytes_written_mb": "MB", "sinks.files_written": "count",
    "sinks.write_amplification": "ratio",
    "streaming.drain_s": "s", "streaming.batches": "count", "streaming.rows": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.single_task_stage_ratio": "ratio", "spark.scheduler_delay_s": "s",
    "spark.driver_gap_s": "s", "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.python_run_s": "s", "spark.gc_s": "s", "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
    "trace.overhead_ratio": "ratio",
    "write_mb_per_s": "MB/s",
}


def _merge(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def _jobs_by_call(log: dict, calls: list[dict]) -> dict[str, list[dict]]:
    """The jobs submitted while each call ran. Calls never overlap (one
    client, closed loop), so this also catches jobs that Spark runs under
    a job group of its own, such as a stream's micro-batches."""
    return {c["group"]: _within(log["jobs"], c["start"], c["end"]) for c in calls}


def _within(jobs: list[dict], s: float, e: float) -> list[dict]:
    """Jobs submitted in [s, e] (seconds); the JVM stamps whole ms."""
    return [j for j in jobs if int(s * 1e3) <= j["submit_ms"] <= e * 1e3]


def call_jobs(log: dict, tracer, calls: list[dict]) -> dict[str, dict]:
    """Per traced call: its jobs split by phase, and their totals."""
    groups = _jobs_by_call(log, calls)
    out = {}
    for c in calls:
        jobs = groups[c["group"]]
        if not jobs:
            continue
        tot = eventlog.job_totals(log, jobs)
        tot["build_jobs"] = len(_within(jobs, c["start"], c["build_end"]))
        tot["exec_jobs"] = len(jobs) - tot["build_jobs"]
        tot["spans"] = {layer: round(e - s, 6) for layer, s, e in tracer.of_call(c["group"])}
        out[c["group"]] = tot
    return out


def layer_metrics(log: dict, tracer, steady_on: list[list[dict]], get_spark_s: float,
                  write_mb_per_s: float, overhead_ratio: float) -> dict[str, float]:
    """Every per-layer metric, summed per instrumented steady pass and
    averaged over those passes. Layers a workload never enters read 0."""
    groups = _jobs_by_call(log, [c for calls in steady_on for c in calls])
    per_pass = []
    for calls in steady_on:
        m = dict.fromkeys(LAYER_UNITS, 0.0)
        src_calls = src_zero = 0
        sink_read = 0.0
        pass_jobs = []
        for c in calls:
            jobs = groups[c["group"]]
            pass_jobs += jobs
            call_spans = tracer.of_call(c["group"])
            kind = c["kind"]
            if kind == "query":
                bj = _within(jobs, c["start"], c["build_end"])
                tot = eventlog.job_totals(log, jobs)
                m["queries.build_s"] += c["build_s"]
                m["queries.exec_s"] += c["exec_s"]
                m["queries.build_jobs"] += len(bj)
                m["queries.exec_jobs"] += len(jobs) - len(bj)
                m["queries.stages"] += tot["stages"]
                m["queries.tasks"] += tot["tasks"]
                m["queries.rows_out"] += c.get("rows_out", 0)
            if c["family"]:
                m[f"{c['family']}.exec_s"] += c["exec_s"]
            for layer, s, e in call_spans:
                if layer.startswith("sources."):
                    m[f"{layer}_s"] += e - s
                elif s < c["build_end"]:
                    m[f"{layer}.build_s"] += e - s
            for s, e in _merge([(s, e) for layer, s, e in call_spans
                                if layer.startswith("sources.")]):
                n = len(_within(jobs, s, e))
                m["sources.jobs"] += n
                src_calls += 1
                src_zero += n == 0
            if kind in ("engine", "sink"):
                m[f"{c['name']}_s"] += c["exec_s"]
            elif kind == "stream":
                m["streaming.drain_s"] += c["exec_s"]
                m["streaming.batches"] += c.get("batches", 0)
                m["streaming.rows"] += c.get("rows_out", 0)
            if kind in ("sink", "stream"):
                m["sinks.bytes_written_mb"] += c.get("written_mb", 0.0)
                m["sinks.files_written"] += c.get("files_written", 0)
                sink_read += c["read_mb"]
            covered = eventlog.covered_ms(jobs, c["start"] * 1e3, c["end"] * 1e3) / 1e3
            m["spark.driver_gap_s"] += c["wall_s"] - covered
        m["sources.zero_job_ratio"] = src_zero / src_calls if src_calls else 0.0
        m["sinks.write_amplification"] = (m["sinks.bytes_written_mb"] / sink_read
                                          if sink_read else 0.0)
        tot = eventlog.job_totals(log, pass_jobs)
        for k in ("jobs", "stages", "tasks", "scheduler_delay_s", "executor_run_s",
                  "executor_cpu_s", "python_run_s", "gc_s", "shuffle_write_mb",
                  "shuffle_read_mb", "spill_mb"):
            m[f"spark.{k}"] = float(tot[k])
        m["spark.single_task_stage_ratio"] = (tot["single_task_stages"] / tot["stages"]
                                              if tot["stages"] else 0.0)
        per_pass.append(m)
    out = {k: sum(m[k] for m in per_pass) / len(per_pass) for k in LAYER_UNITS}
    out["session.get_spark_s"] = get_spark_s
    out["trace.overhead_ratio"] = overhead_ratio
    out["write_mb_per_s"] = write_mb_per_s
    return out


def build(args, host: dict, inputs: dict, e2e: dict, extra: dict, metrics: dict,
          units: dict, passes: list[list[dict]], instrumented: list[bool],
          per_call_jobs: dict | None, failures: list[str]) -> dict:
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host, "inputs": inputs,
        "end_to_end": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()},
        "end_to_end_extra": extra,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        "failures": failures,
        "passes": [{"pass": i, "instrumented": instrumented[i], "cold": i == 0,
                    "calls": [{k: (round(v, 6) if isinstance(v, float) else v)
                               for k, v in c.items()} for c in calls]}
                   for i, calls in enumerate(passes)],
        "call_jobs": per_call_jobs,
    }


def write(out_dir: str, rec: dict) -> str:
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{rec['workload']}-s{rec['seed']}-t{rec['trace']}.json")
    with open(path, "w") as fh:
        json.dump(rec, fh, sort_keys=True)
        fh.write("\n")
    return path


def print_summary(workload: str, e2e: dict, extra: dict, failures: list[str],
                  path: str, traced: bool, host: dict) -> None:
    """A few lines that, with the final JSON line, fit a 2000-character
    tail: every end-to-end metric with its unit, the host fingerprint,
    then the failing calls."""
    print(f"perfbench {workload}: {extra['steady_passes']} steady passes, "
          f"{extra['steady_calls']} ok steady calls, {len(failures)} failed"
          + (" (traced: end-to-end figures include tracing)" if traced else ""))
    print("  host: " + " ".join(f"{k}={host[k]}" for k in host if k != "cpu_model"))
    parts = []
    for k, v in e2e.items():
        s = f"{k} {v:.4g} {E2E_UNITS[k]}"
        if k == "latency_tail_s":
            s += f" (p{extra['tail_percentile']:g} of {extra['steady_calls']})"
        parts.append(s)
    print("  " + " | ".join(parts))
    by_call: dict[str, list[str]] = {}
    for f in failures:
        group, err = f.split(": ", 1)
        by_call.setdefault(group.split(":", 1)[1], []).append(err)
    for name, errs in list(by_call.items())[:3]:
        print(f"  FAILED {name} x{len(errs)}: {errs[0][:90]}")
    if len(by_call) > 3:
        print(f"  ... {len(by_call) - 3} more failing calls in the record")
    print(f"  record: {os.path.relpath(path)}")


def compare(old: dict, new: dict) -> tuple[list[str], list[str]]:
    """(fingerprint mismatches, per-metric lines)."""
    bad = [f"{k}: {old['host'].get(k)} vs {new['host'].get(k)}"
           for k in measure.COMPARABLE if old["host"].get(k) != new["host"].get(k)]
    lines = []
    for sect in ("end_to_end", "metrics"):
        for k, v in new[sect].items():
            o = old[sect].get(k)
            if o is None:
                continue
            ratio = f"{v['value'] / o['value']:.3f}x" if o["value"] else "no base"
            lines.append(f"{sect}.{k}: {o['value']:.4g} -> {v['value']:.4g} {v['unit']}"
                         f" ({ratio})")
    return bad, lines


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[0]) as fa, open(argv[1]) as fb:
        old, new = json.load(fa), json.load(fb)
    if old["workload"] != new["workload"]:
        print(f"different workloads: {old['workload']} vs {new['workload']}")
        return 3
    bad, lines = compare(old, new)
    if bad:
        print("NOT COMPARABLE: the records come from different hosts or settings:")
        for b in bad:
            print(f"  {b}")
        return 3
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
