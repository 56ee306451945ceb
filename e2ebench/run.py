"""Benchmark command: one workload, one seed, one result line.

    python3 e2ebench/run.py --workload batch_headline --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout of the repository. Inputs are made
from ``--seed`` under ``.e2ebench_work/`` and reused by later runs with
the same seed. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics named in ``BENCHMARK.json``, ``--trace 1`` the
per-layer ones; a per-layer metric of a layer the workload never calls
reads 0. Everything else the run saw (box, versions, samples, spans)
goes to ``.e2ebench_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shlex
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".e2ebench_work")
HEAP = "2g"  # the driver JVM's heap, fixed


def pin_environment() -> None:
    """The knobs the engine reads, pinned to this box, and every
    scratch path kept inside the checkout. Must run before pyspark
    starts the JVM."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # two task threads leave the rest of a small shared box to the
    # Python driver and the JVM's JIT and GC threads
    os.environ["SPARK_GRAFT_CPUS"] = str(min(2, len(os.sched_getaffinity(0))))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # the heap starts at its maximum: a growing heap collects more often
    # early in a run, which made pass times drift down for a minute
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_engine(spark) -> tuple[float, float]:
    """Stop Spark and its JVM, wait for the JVM to exit, and return
    the peak RSS (MB) of this process and of the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    peak = vm_hwm_mb(os.getpid()), (vm_hwm_mb(proc.pid) if proc else 0.0)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    return peak


def box(load_before) -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "task_threads": int(os.environ["SPARK_GRAFT_CPUS"]),
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    p.add_argument("--fault", action="append", default=[],
                   help="smoke test: corrupt one correctness gate (oracle, dlq, census)")
    a = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "eventstreams_spark", "__init__.py")):
        print("run from the root of a repository checkout (eventstreams_spark/ missing)",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    load_before = os.getloadavg()
    pin_environment()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    if a.workload not in workloads.WORKLOADS:
        print(f"unknown workload {a.workload!r}", file=sys.stderr)
        return 2

    out = sys.stdout
    sys.stdout = sys.stderr  # keep standard output for the result line (cmd_run prints "done")
    sizes = workloads.Sizes.tiny() if a.tiny else workloads.Sizes()
    run = workloads.Run(WORK, a.seed, a.seconds, bool(a.trace), sizes, set(a.fault))
    t0 = time.perf_counter()
    try:
        e2e, attempted, failed, detail = workloads.WORKLOADS[a.workload](run)
    finally:
        run.tr.restore()
        python_mb, jvm_mb = stop_engine(run.spark) if run.spark is not None else (0.0, 0.0)
        run.mark("stop")
    e2e["peak_rss_mb"] = python_mb + jvm_mb
    run.layers["memory.python_peak_rss_mb"] = python_mb
    run.layers["memory.jvm_peak_rss_mb"] = jvm_mb
    run.layers["trace.spans"] = float(sum(s is not None for s in run.tr.spans))

    if a.trace:
        values = {m["name"]: run.layers.get(m["name"], 0.0) for m in spec["per_layer"]}
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        values = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    if not all(math.isfinite(v) for v in values.values()):
        raise RuntimeError(f"non-finite metric: {values}")
    result = {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
    }

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    stem = os.path.join(WORK, "results", f"{a.workload}-s{a.seed}-t{a.trace}")
    info = box(load_before)
    with open(stem + ".json", "w") as f:
        json.dump({"box": info, "wall_s": time.perf_counter() - t0, "phases_s": run.phases(),
                   "detail": detail, "end_to_end": e2e, "layers": run.layers,
                   "result": result}, f, indent=1)
    if a.trace:
        run.tr.dump(stem + ".spans.jsonl")
    print(json.dumps(info), file=sys.stderr)
    print(json.dumps(result), file=out, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
