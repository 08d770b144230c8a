#!/usr/bin/env python3
"""sparkfiledb benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload registry --seed 1 --seconds 10 --trace 0

Run it from the repository root: it imports `file_db_spark` from the
current directory, keeps every file it writes under `.perfbench_work/`
there, and removes that directory on exit. The last line of standard output is one JSON object:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of
BENCHMARK.json; with `--trace 1` the layer functions are wrapped, the
Spark event log is on, and the metrics are the per-layer ones. See
README.md in this directory for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
from stats import kind_geomean  # noqa: E402
from workloads import WORKLOADS, Run  # noqa: E402


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _prepare_env(root: str, work: str) -> None:
    """Keep the session's files inside the checkout and let the Python
    workers import the package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # the catalog is a few MB; a smaller heap keeps the JVM's resident
    # set near 2 GB instead of growing towards the 8 GB default
    os.environ["SPARK_DRIVER_MEM"] = "2g"


def _start_spark(work: str, app: str, events: str | None):
    from file_db_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if events:
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name=app, extra_conf=conf)


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t_start = time.perf_counter()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "file_db_spark")):
        print("run from the repository root: no file_db_spark/ here", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(root, work)
    events = os.path.join(work, "events") if args.trace else None
    spark = None
    try:
        from spans import NullTracer, Tracer

        t = time.perf_counter()
        spark = _start_spark(work, f"perfbench-{args.workload}", events)
        get_spark_s = time.perf_counter() - t
        tracer = NullTracer()
        if args.trace:
            tracer = Tracer(spark.sparkContext)
            tracer.install()
        run = Run(spark, work, args.seed, tracer)
        run.phases["get_spark"] = get_spark_s
        WORKLOADS[args.workload](run, args.seconds)
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        e2e = {
            "setup_s": run.setup_end - t_start,
            "op_p50_s": kind_geomean(run.op_s, run.op_kind),
        }
        run.layer["session.peak_rss_mb"] = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
        if args.trace:
            tracer.uninstall()
            run.check(
                "self time plus child spans equals wall time",
                lambda: layers.self_time_violations(tracer.spans) == 0,
            )
            out = os.path.join(root, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tracer.dump(os.path.join(out, f"spans-{args.workload}-{args.seed}.jsonl"))
        app_id = spark.sparkContext.applicationId
        _stop(spark)
        spark = None
        if args.trace:
            metrics = layers.per_layer(run, tracer, os.path.join(events, app_id), get_spark_s)
        else:
            metrics = {k: (v, layers.E2E_UNITS[k]) for k, v in e2e.items()}
        for f in run.failures:
            print(f"FAILED {f}", file=sys.stderr)
        print(layers.summary(args.workload, run, e2e), file=sys.stderr)
        print(json.dumps({
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
