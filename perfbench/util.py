"""Small helpers shared by the workloads: statistics, memory, stamps."""

from __future__ import annotations

import os
import statistics
import subprocess
import time


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    if not values:
        return 0.0
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def mix_latency(per_kind_ms: dict[str, float], weights: dict[str, float]) -> float:
    """Mix-weighted mean of per-kind latencies over the fixed kind set
    ``weights``: the latency of a typical operation at the nominal mix.
    Unlike the p50 over all operations, it does not jump between the
    kinds' modes when a short run's realized mix shifts by an operation
    or two. A kind without one successful operation has no latency, and
    dropping it would read as a speed-up, so that is an error."""
    missing = sorted(k for k in weights if k not in per_kind_ms)
    if missing:
        raise RuntimeError(f"no successful operation of {missing}: mix latency undefined")
    return sum(per_kind_ms[k] * w for k, w in weights.items()) / sum(weights.values())


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the high-water resident set (VmHWM) of ``pids``."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def engine_cpu_s(spark) -> float:
    """CPU seconds used so far by the engine: this process (its own
    threads only, so not the load generator it starts) plus the JVM and
    every process under it (the Python workers, and the CPU time of
    those that already exited). The hypervisor's steal is not in it,
    unlike in wall time."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            stat = _proc_stat(int(entry))
            if stat:
                children.setdefault(int(stat[1]), []).append(int(entry))
    ticks = sum(int(x) for x in (_proc_stat(os.getpid()) or [0] * 13)[11:13])
    stack = [jvm_pid(spark)]
    while stack:
        pid = stack.pop()
        stack += children.get(pid, [])
        ticks += sum(int(x) for x in (_proc_stat(pid) or [0] * 15)[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def _proc_stat(pid: int | None) -> list[str] | None:
    """Fields of /proc/PID/stat after the command name (state first)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def loadavg() -> list[float]:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:
        return []


def cpu_probe_s() -> float:
    """Seconds for a fixed pure-Python loop: a stamp of how fast the
    host runs this process right now. Shared VMs drift by tens of
    percent over minutes, and this tells a slow run from a slow commit."""
    t0 = time.perf_counter()
    acc = 0
    for k in range(1_000_000):
        acc += k * k
    return time.perf_counter() - t0


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def steal_pct(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times()`` samples: high steal marks a slow run as the host's."""
    if len(start) < 8 or len(end) < 8:
        return 0.0
    total = sum(end) - sum(start)
    return 100.0 * (end[7] - start[7]) / total if total > 0 else 0.0


def commit(root: str) -> str:
    """HEAD of the checkout when it is a git work tree, else a content
    hash of the package sources (the benchmark may run from an export)."""
    if os.path.isdir(os.path.join(root, ".git")):
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        )
        if out.returncode == 0:
            return out.stdout.strip()
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(root, "stac_fastapi_duckdb_spark")
    for base, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(base, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return "src-" + h.hexdigest()[:16]


SETUPS = 3
E2E_FROM_LOOP = ("cpu_ms_per_op",)
SETUP_PARTS = ("session_s", "catalog_build_s", "cache_inputs_s", "warmup_s")


def finish(spark, base: dict, setups: list[dict], layers: dict, extra: dict):
    """Common tail of every workload, called before the JVM stops:
    → (end-to-end metrics, per-layer metrics, report)."""
    rss = peak_rss_mb([os.getpid(), jvm_pid(spark)])
    setup = {k: median([s.get(k, 0.0) for s in setups]) for k in SETUP_PARTS + ("setup_s",)}
    e2e = {k: base[k] for k in E2E_FROM_LOOP}
    e2e["setup_s"] = setup["setup_s"]
    layers = dict(layers)
    for part in ("session_s", "cache_inputs_s", "warmup_s"):
        layers.setdefault(f"setup.{part}", setup[part])
    layers["setup.first_setup_s"] = setups[0]["setup_s"]  # the only one with the JVM launch
    layers["sources.catalog_build_s"] = setup["catalog_build_s"]
    layers["spark.driver_peak_rss_mb"] = rss
    report = dict(base, **extra, setup_s=setup["setup_s"], peak_rss_mb=rss, setups=setups,
                  master=spark.sparkContext.master,
                  default_parallelism=spark.sparkContext.defaultParallelism)
    report["error_rate"] = report["failed"] / report["attempted"] if report["attempted"] else 0.0
    return e2e, layers, report
