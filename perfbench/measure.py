"""Process-tree CPU and memory from /proc, the host fingerprint, and the
percentile rule the benchmark reports timings with."""

from __future__ import annotations

import math
import os
import platform
import statistics

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants: the
    driver, the JVM it launched, and the Python workers the JVM forks."""
    root = root or os.getpid()
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_s(pids: list[int]) -> dict[int, float]:
    """CPU seconds per pid, counting reaped children (cutime/cstime) so
    worker processes that exited are not lost."""
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read()
        except OSError:
            continue
        v = f[f.rindex(")") + 2:].split()
        out[pid] = (int(v[11]) + int(v[12]) + int(v[13]) + int(v[14])) / _TICK
    return out


def tree_cpu_s() -> dict[int, float]:
    return cpu_s(tree())


def cpu_delta(before: dict[int, float], after: dict[int, float]) -> float:
    """CPU seconds spent between two ``tree_cpu_s`` snapshots; a process
    born in between counts from zero."""
    return sum(v - before.get(pid, 0.0) for pid, v in after.items())


def wait_gone(pids: list[int], timeout_s: float = 60.0) -> None:
    """Wait until every pid in ``pids`` has exited (a zombie counts as
    exited); kill what is left at the timeout."""
    import signal
    import time

    deadline = time.monotonic() + timeout_s
    left = list(pids)
    while left:
        alive = []
        for pid in left:
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    f = fh.read()
            except OSError:
                continue
            if f[f.rindex(")") + 2] != "Z":
                alive.append(pid)
        left = alive
        if left and time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + timeout_s
        if left:
            time.sleep(0.05)


def hwm_by_process() -> dict[str, float]:
    """VmHWM (peak resident set) in MB of each process in the tree,
    keyed by ``<pid>:<command name>``."""
    out = {}
    for pid in tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                status = fh.read()
        except OSError:
            continue
        fields = dict(line.split(":", 1) for line in status.splitlines() if ":" in line)
        if "VmHWM" in fields:
            out[f"{pid}:{fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024.0
    return out


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host(seed: int, cores: int, java: str | None) -> dict:
    """What a comparison between two records must hold equal."""
    import duckdb
    import pyarrow
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    model = ""
    with open("/proc/cpuinfo") as fh:
        for line in fh:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    return {
        "nproc": nproc(),
        "master": f"local[{cores}]",
        "cpu_model": model,
        "mem_total_gb": round(mem_kb / 1024 / 1024, 1),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "java": java,
        "python": platform.python_version(),
        "seed": seed,
    }


#: fingerprint keys that must match before two records are compared
COMPARABLE = ("nproc", "master", "cpu_model", "mem_total_gb", "spark",
              "pyarrow", "duckdb", "java", "python")


def tail_percentile(n: int) -> float:
    """The highest percentile with at least ten samples beyond it."""
    return max(0.0, math.floor(1000.0 * (1.0 - 10.0 / n)) / 10.0) if n > 10 else 0.0


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (p in 0..100)."""
    s = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def median(values: list[float]) -> float:
    return statistics.median(values)
