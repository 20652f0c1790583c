"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload index_lifecycle --seed 1 --seconds 10 \\
        --trace 0

Run from the root of a checkout: the package is imported from the current
directory, and everything the run writes (generated inputs, stores, Spark
scratch, the run record) goes under ``.perfbench/`` there.  The last line
of standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.  The lines before it give the facts
that make runs comparable and the workload's own report.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time

from tracing import Tracer, gc_seconds
from workloads import WORKLOADS, Context

SPARK_CPUS = 4
# Below the package's 8g default, so a run fits a small machine.  The
# heap is pinned at this size (-Xms): an unpinned heap grows when the
# collector chooses to, which moved peak RSS by up to a fifth between
# runs.  Peak RSS then follows native and Python memory; the heap the
# program keeps live is its own metric.
DRIVER_MEMORY = "2g"

SETUPS = 3

# Per-layer metrics that the tracer records under another name; every
# other one is the median of the tracer's values of the same name.  A
# layer a workload bypasses reads 0.
TRACED_AS = {
    # The build is lazy: its exchange runs inside write_index's jobs.
    "operators.index.shuffle_write_bytes":
        "operators.persist.write_index.shuffle_write_bytes",
    "operators.index.spill_bytes": "operators.persist.write_index.spill_bytes",
    "operators.index.task_max_over_median":
        "operators.persist.write_index.task_max_over_median",
    "operators.search.broadcast_build_s":
        "operators.persist.bm25_probe_persisted.broadcast_build_s",
}

REPORT_UNITS = {
    "build_s": "s", "index_bytes_per_input_byte": "ratio",
    "probe_p50_ms": "ms", "probe_p90_ms": "ms", "batch_qps": "1/s",
    "append_p50_ms": "ms", "delete_p50_ms": "ms",
    "lifecycle_probe_p50_ms": "ms", "compact_s": "s", "curate_s": "s",
    "near_dup_recall": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Keep every file Spark, the JVMs and Python write inside ``work``."""
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # Every JVM (the launcher too): no hsperfdata files under /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(min(SPARK_CPUS, os.cpu_count() or 1))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.extraJavaOptions=-Xms{DRIVER_MEMORY} "
        "pyspark-shell")


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def facts(spark, args) -> dict:
    import pyspark
    sc = spark.sparkContext
    jvm = sc._jvm
    return {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "pyspark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(workload, ctx, seconds: float) -> list[float]:
    """Repeat passes until ``seconds`` are spent; returns pass times."""
    ctx.measuring = True
    passes: list[float] = []
    start = time.perf_counter()
    while not passes or time.perf_counter() - start < seconds:
        ctx.pass_time = 0.0
        workload.run_pass(ctx)
        passes.append(ctx.pass_time)
        ctx.sample_live_heap()
    ctx.measuring = False
    return passes


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    # Fails here, before any work, when the package is not in the checkout.
    import big_data_assignment_2_spark  # noqa: F401

    out_dir = os.path.join(root, ".perfbench")
    work = os.path.join(out_dir, f"work-{args.workload}-{args.seed}-"
                                 f"{os.getpid()}")
    prepare_environment(work)

    from big_data_assignment_2_spark.session import get_spark

    loadavg_start = os.getloadavg()
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    spark = None
    try:
        # Set up SETUPS times and keep the last: the first start launches
        # the driver JVM, later ones start a new context inside it.
        setups = []
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            t = time.perf_counter()
            spark = get_spark(f"perfbench-{args.workload}")
            if i == 0:
                get_spark_s = time.perf_counter() - t
            workload = WORKLOADS[args.workload]()
            ctx = Context(spark, None, f"{work}/setup{i}")
            workload.setup(ctx, args.seed)
            setups.append(time.perf_counter() - t)
        setup_s = statistics.median(setups)
        tracer = ctx.tracer = Tracer(spark, run_id)
        run_facts = facts(spark, args)
        run_facts["loadavg_start"] = loadavg_start
        run_facts["setups_s"] = setups
        tracer.enabled = bool(args.trace)
        passes = measure(workload, ctx, args.seconds)
        workload.summarize(ctx)
        gc_s = gc_seconds(spark.sparkContext._jvm) - ctx.forced_gc_s
        proc = getattr(spark.sparkContext._gateway, "proc", None)
        rss = (jvm_peak_rss_mb(proc.pid) if proc is not None else 0.0) + \
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    run_facts["loadavg_end"] = os.getloadavg()
    print(json.dumps({"facts": run_facts}))

    report = {k: {"value": v, "unit": REPORT_UNITS[k]}
              for k, v in sorted(ctx.report.items())}
    report["pass_count"] = {"value": len(passes), "unit": "count"}
    print(json.dumps({"report": report}))

    if args.trace:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            specs = json.load(f)["per_layer"]
        metrics = per_layer(specs, tracer, passes, get_spark_s, gc_s)
    else:
        metrics = end_to_end(ctx, passes, setup_s, rss)
    result = {"correct": ctx.failed == 0, "attempted": ctx.attempted,
              "failed": ctx.failed,
              "metrics": {k: {"value": v, "unit": u}
                          for k, (v, u) in metrics.items()}}
    os.makedirs(f"{out_dir}/runs", exist_ok=True)
    record = f"{out_dir}/runs/{run_id}-trace{args.trace}.json"
    tracer.dump(record, {**run_facts, "report": report, "result": result,
                         "passes": passes, "latencies": ctx.latencies})
    print(json.dumps(result))
    return 0


def end_to_end(ctx, passes, setup_s: float, rss_mb: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(passes), "s"),
        "peak_rss_mb": (rss_mb, "MB"),
        "live_heap_mb": (statistics.median(ctx.live_heap_mb), "MB"),
        "op_success_ratio": ((ctx.attempted - ctx.failed) / ctx.attempted,
                             "ratio"),
        "recall": (statistics.fmean(ctx.recall) if ctx.recall else 0.0,
                   "ratio"),
    }


def per_layer(specs, tracer, passes, get_spark_s: float,
              gc_s: float) -> dict:
    # Tracing overhead: this traced pass time minus the untraced run's
    # pass_s for the same seed; the tracer's own share is measured here.
    direct = {
        "session.get_spark_s": get_spark_s, "jvm.gc_s": gc_s,
        "trace.pass_s": statistics.median(passes),
        "trace.bookkeeping_per_pass_s": tracer.bookkeeping_s / len(passes),
    }
    out = {}
    for m in specs:
        name = m["name"]
        value = direct[name] if name in direct else \
            tracer.median(TRACED_AS.get(name, name))
        out[name] = (value, m["unit"])
    return out


if __name__ == "__main__":
    sys.exit(main())
