"""Repo benchmark: STAC API traffic and the registry's batch queries.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads:

- ``api_interactive``: closed loop, min(4, nproc) keep-alive clients,
  seeded route mix over a 4-collection catalog;
- ``analytics_batch``: one driver thread running the ``bench.py``
  headline queries plus the two phash families through the noop sink.

Inputs are generated from ``--seed`` into ``perfbench/.cache`` (outside
every timed region); scratch state goes to ``perfbench/.work`` and is
removed at exit; each run's full report is written under
``perfbench/.results``. Every answer is checked against DuckDB.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a traced segment,
measured next to an untraced one in the same process so the tracing
overhead is reported too. The line before it is the full report: every
metric of the workload, the error breakdown and the stamps (master,
default parallelism, nproc, loadavg and a CPU probe at start and end,
the CPU share stolen by the hypervisor during the run, seed, commit).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("api_interactive", "analytics_batch")


def _prepare_env(workdir: str) -> int:
    """Point every scratch location of Spark and the package into
    ``workdir`` and pin the process to UTC; → nproc."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        PYTHONPATH=os.pathsep.join(paths),
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_LOCAL_DIRS=os.path.join(workdir, "spark-local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(workdir, "warehouse"),
        SPARK_GRAFT_SIDECAR_DIR=os.path.join(workdir, "sidecar"),
        SPARK_GRAFT_HTTP_CACHE=os.path.join(workdir, "http"),
        TMPDIR=tmp,
        # every JVM (the spark-submit launcher too) keeps its temp files
        # here and its perf counters in memory, not in /tmp/hsperfdata_*
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem",
    )
    sys.path.insert(0, ROOT)
    return nproc


def _stop_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "stac_fastapi_duckdb_spark", "__init__.py")) \
            or not os.path.isfile(os.path.join(ROOT, "bench.py")):
        print(f"perfbench: no stac_fastapi_duckdb_spark package and bench.py under {ROOT}",
              file=sys.stderr)
        return 2

    from util import commit, cpu_probe_s, cpu_times, loadavg, steal_pct

    load_start, probe_start, ticks_start = loadavg(), cpu_probe_s(), cpu_times()
    workdir = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    cache = os.path.join(HERE, ".cache")
    nproc = _prepare_env(workdir)
    try:
        if args.workload == "analytics_batch":
            import batch_workload

            e2e, layers, report = batch_workload.run(args, workdir, cache)
        else:
            import api_workload

            e2e, layers, report = api_workload.run(args, workdir, cache, nproc)
        stamps = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, "nproc": nproc, "loadavg_start": load_start,
                  "loadavg_end": loadavg(), "cpu_probe_s": [probe_start, cpu_probe_s()],
                  "steal_pct": steal_pct(ticks_start, cpu_times()),
                  "commit": commit(ROOT)}
        report = dict(report, **stamps)
        results = os.path.join(HERE, ".results")
        os.makedirs(results, exist_ok=True)
        name = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json"
        spans = os.path.join(workdir, "spans.json")  # written by traced runs
        if os.path.exists(spans):
            shutil.move(spans, os.path.join(results, name[:-5] + "-spans.json"))
        with open(os.path.join(results, name), "w") as f:
            json.dump({"report": report, "end_to_end": e2e, "per_layer": layers}, f, indent=1)
    finally:
        _stop_jvm()
        shutil.rmtree(workdir, ignore_errors=True)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layers if args.trace else e2e
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": report["wrong"] == 0 and report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                    for m in declared},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
