"""The repository's benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload analyst|corpus_pipeline|write_refresh \
        --seed N --seconds S --trace 0|1

Run it from the repository root. It generates the workload's inputs from
the seed, measures set-up (import plus ``get_spark`` on
``local[nproc]``, twice: once in a child process, once in this one),
runs one cold pass and then the steady passes, checks every call's
output, and prints a short summary followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the Spark event log
is on and the metrics are the per-layer ones. The full per-call and
per-layer record goes to ``perfbench/results/`` (see ``record.py``).
See ``perfbench/README.md`` for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import logging
import math
import os
import pickle
import shlex
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import measure  # noqa: E402
import record  # noqa: E402
import workloads  # noqa: E402

#: end-to-end metrics defined on every workload (BENCHMARK.json end_to_end)
GATED = ["setup_s", "cold_pass_s", "latency_p50_s", "latency_tail_s",
         "read_mb_per_s", "cpu_s_per_pass", "peak_rss_mb"]
SETUP_PROBES = 1


def _launch_env(work: str, root: str, trace: bool) -> None:
    """Spark launch settings, all from this process's environment: Python
    workers import the program from the checkout whatever their working
    directory, scratch stays inside ``work``, and the traced run turns
    the uncompressed event log on. The JVM starts with a 4 GB heap
    (``spark.driver.memory`` stays the program's maximum): left to grow
    from its default, G1's heap sizing alone moved a run's call times by
    up to 60% and its peak RSS by 25% between runs of the same inputs."""
    for d in ("tmp", "local", "eventlog", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    args = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--driver-java-options",
        f"-XX:-UsePerfData -Xms4g -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    ]
    if trace:
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", f"spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args) + " pyspark-shell"


def start_spark(cores: int):
    """Import the program and its registry, then ``get_spark``: the set-up
    every CLI invocation pays. Returns (spark, set-up seconds, of which
    ``get_spark`` seconds)."""
    t0 = time.perf_counter()
    import mongo_analyser_spark  # noqa: F401
    import mongo_analyser_spark.queries  # noqa: F401
    from mongo_analyser_spark import get_spark

    t1 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cores)
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, t2 - t0, t2 - t1


def stop_spark(spark, clean: bool) -> None:
    """End the session and wait until the JVM and every process under it
    (the Python worker daemon and its workers) has exited. ``clean``
    stops the SparkContext first, which the traced run needs to close
    its event log; otherwise the JVM is killed outright."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    tree = [p for p in measure.tree() if p != os.getpid()]
    if clean:
        spark.stop()
    else:
        # what stop() would do on the Python side, so the accumulator
        # server does not report the JVM's disappearance as an error
        spark.sparkContext._accumulatorServer.shutdown()
    proc.kill()
    proc.wait()
    # py4j objects collected from here on try to reach the JVM and log
    # the failure; nothing is lost, so keep those messages out of stderr
    logging.disable(logging.CRITICAL)
    measure.wait_gone(tree)
    SparkContext._gateway = None
    SparkContext._jvm = None


def setup_probe(cores: int) -> int:
    """Child-process set-up sample: prints the seconds as JSON."""
    spark, dt, _ = start_spark(cores)
    print(json.dumps({"setup_s": dt}))
    sys.stdout.flush()
    stop_spark(spark, clean=False)
    return 0


def _probe(cores: int) -> float:
    out = subprocess.run([sys.executable, os.path.abspath(__file__), "--setup-probe",
                          "--cores", str(cores)],
                         capture_output=True, text=True, timeout=170, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])["setup_s"]


def _oracles(work: str, jobs: list, cores: int) -> dict:
    """Run the oracle SQL of each (sf_dir, row) job: one child process per
    input directory, all at once, sharing the cores."""
    if not jobs:
        return {}
    from mongo_analyser_spark.queries import ORACLE_GENERATORS, ORACLES

    by_dir: dict[str, list] = {}
    for d, name in jobs:
        sql = ORACLE_GENERATORS[name](d) if name in ORACLE_GENERATORS else ORACLES[name]
        by_dir.setdefault(d, []).append((d, name, sql))
    threads = str(max(1, cores // len(by_dir)))
    procs = []
    for i, group in enumerate(by_dir.values()):
        spec = os.path.join(work, f"oracle_{i}.json")
        out = os.path.join(work, f"oracle_{i}.pickle")
        with open(spec, "w") as fh:
            json.dump(group, fh)
        procs.append((subprocess.Popen([sys.executable, os.path.join(HERE, "oracle.py"),
                                        spec, out, threads], stdout=subprocess.DEVNULL), out))
    expected = {}
    for proc, out in procs:
        if proc.wait(timeout=170) != 0:
            raise RuntimeError(f"oracle process failed with code {proc.returncode}")
        with open(out, "rb") as fh:
            expected.update(pickle.load(fh))
    return expected


def _mb(paths: list[str]) -> float:
    return sum(workloads.file_bytes(p) for p in paths) / 1e6


def run_call(spark, call, group: str, traced: bool, spans) -> dict:
    """Run one call closed-loop: build, run, then check outside the timed
    region. A call that raises is recorded as failed; the run goes on."""
    sc = spark.sparkContext
    rec = {"name": call.name, "group": group, "kind": call.kind, "family": call.family,
           "read_mb": _mb(call.read_paths), "error": None}
    if traced:
        sc.setJobGroup(group, call.name)
    if spans is not None:
        spans.call = group
    cpu0 = measure.tree_cpu_s()
    t0_ns = time.time_ns()
    t0 = t1 = time.time()
    res = None
    try:
        obj = call.build(spark)
        t1 = time.time()
        res = call.run(spark, obj)
    except Exception as e:  # noqa: BLE001 — a failing call is counted, not fatal
        first_line = (str(e).strip().splitlines() or [""])[0]
        rec["error"] = f"raised {type(e).__name__}: {first_line[:300]}"
    t2 = time.time()
    cpu1 = measure.tree_cpu_s()
    if spans is not None:
        spans.call = None
    if traced:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    rec.update(start=t0, build_end=t1, end=t2, build_s=t1 - t0, exec_s=t2 - t1,
               wall_s=t2 - t0, cpu_s=measure.cpu_delta(cpu0, cpu1))
    if rec["error"] is None:
        try:
            rec["error"] = call.check(res)
            rec.update(call.stats(res))
        except Exception as e:  # noqa: BLE001
            rec["error"] = f"check raised {type(e).__name__}: {e}"
    if call.out_path:
        files = workloads.data_files(call.out_path, t0_ns)
        rec["files_written"] = len(files)
        rec["written_mb"] = sum(os.path.getsize(f) for f in files) / 1e6
    return rec


def e2e_metrics(setup: list[float], cold: list[dict], steady: list[list[dict]],
                peak_rss: float) -> dict:
    calls = [c for p in steady for c in p]
    ok = [c["wall_s"] for c in calls if c["error"] is None]
    walls = [sum(c["wall_s"] for c in p) for p in steady]
    pass_mb = [sum(c["read_mb"] for c in p) for p in steady]
    writes = [c for c in calls if "written_mb" in c]
    tail_p = measure.tail_percentile(len(ok))
    attempted = len(cold) + len(calls)
    failed = sum(c["error"] is not None for c in cold + calls)
    m = {
        "setup_s": measure.median(setup),
        "cold_pass_s": sum(c["wall_s"] for c in cold),
        "latency_p50_s": measure.median(ok) if ok else float("nan"),
        "latency_tail_s": measure.percentile(ok, tail_p) if ok else float("nan"),
        "read_mb_per_s": measure.median(pass_mb) / measure.median(walls),
        "write_mb_per_s": (sum(c["written_mb"] for c in writes)
                           / sum(c["wall_s"] for c in writes)) if writes else 0.0,
        "cpu_s_per_pass": measure.median([sum(c["cpu_s"] for c in p) for p in steady]),
        "peak_rss_mb": peak_rss,
        "failed_ratio": failed / attempted,
    }
    extra = {"tail_percentile": tail_p, "steady_calls": len(ok), "steady_passes": len(steady),
             "setup_samples": setup, "steady_pass_s": walls}
    return m, extra


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(workloads.WORKLOADS) + ["all"],
                    help="one workload, or all three one after another")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--cores", type=int, default=None, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "mongo_analyser_spark", "__init__.py")):
        print("perfbench: run from the repository root (no mongo_analyser_spark/ here)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    cores = args.cores or measure.nproc()
    if args.setup_probe:
        return setup_probe(cores)
    if args.workload is None:
        ap.error("--workload is required")
    if args.workload == "all":
        return _run_all(args)

    traced = bool(args.trace)
    scratch = os.path.join(HERE, ".work")
    _prune(scratch)
    work = os.path.join(scratch, f"{args.workload}-{args.seed}-{os.getpid()}")
    return _run(args, root, work, cores, traced)


def _run_all(args) -> int:
    """Run every workload in its own process, one after another, and pass
    their output through."""
    rc = 0
    for name in workloads.WORKLOADS:
        sys.stdout.flush()
        rc |= subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", name,
                              "--seed", str(args.seed), "--seconds", str(args.seconds),
                              "--trace", str(args.trace)]).returncode
    return rc


#: scratch of an exited run is removed once it is this old
PRUNE_AGE_S = 3600


def _prune(scratch: str) -> None:
    """Remove the scratch directories of earlier runs that have exited
    and are older than PRUNE_AGE_S. A run leaves its own behind: removing
    files whose pages are still being written back blocks for seconds on
    a busy disk, while older files are clean and go at once."""
    if not os.path.isdir(scratch):
        return
    now = time.time()
    for d in os.listdir(scratch):
        path = os.path.join(scratch, d)
        pid = d.rsplit("-", 1)[-1]
        if (pid.isdigit() and not os.path.exists(f"/proc/{pid}")
                and now - os.path.getmtime(path) > PRUNE_AGE_S):
            shutil.rmtree(path, ignore_errors=True)


def _run(args, root: str, work: str, cores: int, traced: bool) -> int:
    wl = workloads.WORKLOADS[args.workload](work, args.seed)
    n_steady = max(wl.min_passes, math.ceil(args.seconds / wl.nominal_pass_s))
    first = 1 + wl.warmup_passes  # passes before this one are not measured
    # the traced run adds one bare pass between two instrumented ones, so
    # trace.overhead_ratio compares neighbouring passes of one session
    bare = first + 1 if traced else -1
    n_passes = first + n_steady + (1 if traced else 0)
    phases, t = {}, time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t
        now = time.perf_counter()
        phases[name] = now - t
        t = now

    os.makedirs(work, exist_ok=True)
    _launch_env(work, root, traced)
    jobs = wl.prepare(n_passes)
    phase("generate")
    setup = [_probe(cores) for _ in range(SETUP_PROBES)]
    phase("setup_probes")
    spark, dt, get_spark_s = start_spark(cores)
    setup.append(dt)
    phase("setup")
    # the session idles while DuckDB runs the oracles in a child process
    expected = _oracles(work, jobs, cores)
    phase("oracles")
    spans = None
    if traced:
        import spans as spans_mod
        spans = spans_mod.Spans()
        spans.install()

    passes, instrumented, hwm_after = [], [], []
    for p in range(n_passes):
        wl.between_passes(p)
        calls = wl.calls(p, expected)
        on = traced and p != bare
        instrumented.append(on)
        passes.append([run_call(spark, c, f"p{p}c{i}:{c.name}", on, spans if on else None)
                       for i, c in enumerate(calls)])
        hwm_after.append(sum(measure.hwm_by_process().values()))
    phase("passes")
    hwm = measure.hwm_by_process()
    peak_rss = sum(hwm.values())
    java = spark.sparkContext._jvm.System.getProperty("java.version")
    app_id = spark.sparkContext.applicationId
    stop_spark(spark, clean=traced)
    phase("stop")

    host = measure.host(args.seed, cores, java)
    if traced:
        import eventlog
        log = eventlog.reduce_log(eventlog.find_log(os.path.join(work, "eventlog"), app_id))
        steady_on = [passes[p] for p in range(first, n_passes) if instrumented[p]]
        m, extra = e2e_metrics(setup, passes[0], steady_on, peak_rss)
        wall = [sum(c["wall_s"] for c in calls) for calls in passes]
        overhead = (wall[bare - 1] + wall[bare + 1]) / 2 / wall[bare]
        metrics = record.layer_metrics(log, spans, steady_on, get_spark_s,
                                       m["write_mb_per_s"], overhead)
        units = record.LAYER_UNITS
        per_call_jobs = record.call_jobs(log, spans, [c for p in passes for c in p])
    else:
        m, extra = e2e_metrics(setup, passes[0], passes[first:], peak_rss)
        metrics = {k: m[k] for k in GATED}
        units = record.E2E_UNITS
        per_call_jobs = None
    phase("reduce")
    extra["phases_s"] = phases
    extra["hwm_mb"] = hwm
    extra["hwm_after_pass_mb"] = hwm_after
    extra["warmup_passes"] = wl.warmup_passes
    all_calls = [c for p in passes for c in p]
    failures = [f"{c['group']}: {c['error']}" for c in all_calls if c["error"]]
    m["failed_ratio"] = len(failures) / len(all_calls)
    rec = record.build(args, host, wl.describe(), m, extra, metrics, units, passes,
                       instrumented, per_call_jobs, failures)
    path = record.write(os.path.join(HERE, "results"), rec)

    record.print_summary(args.workload, m, extra, failures, path, traced, host)
    print(json.dumps({
        "correct": not failures,
        "attempted": len(all_calls),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
