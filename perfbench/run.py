#!/usr/bin/env python3
"""Run one benchmark workload in a fresh process and print its metrics.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it is a fuller report (every metric,
pass times, checks, core count, load average). See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
DRIVER_MEM = "2g"

END_TO_END = {"setup_s": "s", "job_s": "s", "rows_per_s": "1/s", "step_p50_s": "s",
              "cpu_s": "s", "peak_rss_mb": "MB"}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "windows.s": "s", "windows.shuffle_write_mb": "MB", "windows.task_skew": "ratio",
    "asof.s": "s", "asof.tasks": "count",
    "encode.s": "s", "encode.crossing_s": "s",
    "embed.s": "s", "kernels.busy_s": "s",
    "catalog.write_s": "s", "catalog.bytes_written_mb": "MB", "catalog.write_amp": "ratio",
    "catalog.files_written": "count",
    "incremental.refresh_aggregate_s": "s", "incremental.dedup_new_batch_s": "s",
    "incremental.update_components_s": "s",
    "ann_index.refresh_ivf_s": "s", "ann_index.jobs": "count",
    "dedup.exact_s": "s", "dedup.signatures_s": "s", "dedup.pairs_s": "s",
    "dedup.pairs_out": "count",
    "graph.cc_s": "s", "graph.jobs": "count", "graph.shuffle_write_mb": "MB",
    "graph.retain_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.cpu_ratio": "ratio",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB", "spark.task_skew": "ratio",
    "trace.overhead": "ratio", "trace.unattributed_s": "s",
}


def start_spark(run_dir: str, cores: int, event_log: str | None = None):
    from lyssandra_spark.session import get_spark

    extra = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        extra.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_log,
                      "spark.eventLog.rolling.enabled": "false",
                      "spark.eventLog.compress": "false"})
    return get_spark(app="lyssandra-perfbench", cores=cores, extra=extra)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM py4j launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def reap_tree(timeout: float = 30.0) -> None:
    """Wait until no process started by this run is left; kill stragglers."""
    from perfbench.probe import descendants

    deadline = time.monotonic() + timeout
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while descendants() and time.monotonic() < deadline + 10:
        time.sleep(0.2)


def measure(w, seconds: float, rss) -> dict:
    """Repeat the workload's pass until ``seconds`` have elapsed."""
    from perfbench.probe import tree_cpu_s

    times, rows, failed = [], 0, 0
    cpu0 = tree_cpu_s()
    t_begin = time.perf_counter()
    while (not times or time.perf_counter() - t_begin < seconds) and w.more():
        t0 = time.perf_counter()
        try:
            rows += w.step()
        except Exception:
            traceback.print_exc()
            failed += 1
        times.append(time.perf_counter() - t0)
        rss.sample()
    cpu = tree_cpu_s() - cpu0
    total = sum(times)
    return {"times": times, "failed": failed, "job_s": total / len(times),
            "rows_per_s": rows / total, "step_p50_s": statistics.median(times),
            "cpu_s": cpu / len(times)}


def traced(w, spark, log_dir: str, untraced_pass_s: float) -> dict:
    """One traced pass (``refresh``: its traced steps), then the workload's
    per-layer probes; Spark metrics come from the event log, summed per
    job group."""
    from perfbench.probe import Tracer, read_event_log, summarize

    tracer = Tracer(f"{w.name}-{w.seed}", spark.sparkContext)
    log = lambda: read_event_log(log_dir)  # noqa: E731
    if w.name == "refresh":
        # refresh's library calls are eager: its spans are the layers
        out = w.layers(tracer, log)
        passes = tracer.durations("step")
        pass_groups = tracer.groups("")
        attributed = sum(tracer.total(s) for s in out.pop("layer_spans")) / len(passes)
    else:
        with tracer.span("pass"):
            w.step()
        passes = tracer.durations("pass")
        pass_groups = tracer.groups("pass")
        out = w.layers(tracer, log)
        attributed = sum(tracer.total(s) for s in out.pop("layer_spans"))
    job_s = statistics.median(passes)
    sp = summarize(log(), pass_groups)
    n = len(passes)
    out.update({
        "spark.jobs": sp["jobs"] / n, "spark.stages": sp["stages"] / n,
        "spark.tasks": sp["tasks"] / n, "spark.failed_tasks": sp["failed_tasks"],
        "spark.cpu_ratio": sp["cpu_ratio"], "spark.shuffle_write_mb": sp["shuffle_write_mb"] / n,
        "spark.spill_mb": sp["spill_mb"] / n, "spark.task_skew": sp["task_skew"],
        "trace.overhead": job_s / untraced_pass_s - 1.0,
        "trace.unattributed_s": job_s - attributed,
    })
    return out


def run(args, run_dir: str) -> tuple[dict, dict]:
    from perfbench.probe import PeakRss, steal_s
    from perfbench.workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    report = {"workload": args.workload, "seed": args.seed, "cores": cores,
              "driver_mem": DRIVER_MEM, "loadavg_start": os.getloadavg()}
    steal0 = steal_s()
    w = WORKLOADS[args.workload](run_dir, args.seed)
    t_gen = time.perf_counter()
    w.prepare()
    report["gen_s"] = time.perf_counter() - t_gen
    log_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    rss = PeakRss()
    attempted = failed = 0
    spark = None
    t_setup = time.perf_counter()
    try:
        spark = start_spark(run_dir, cores, event_log=log_dir)
        report["session_start_s"] = time.perf_counter() - t_setup
        w.attach(spark)
        w.setup()
        t_warm = time.perf_counter()
        w.step()  # untimed warm-up pass
        attempted += 1
        setup_s = time.perf_counter() - t_setup
        report["warmup_s"] = time.perf_counter() - t_warm
        rss.sample()
        m = measure(w, args.seconds, rss)
        attempted += len(m["times"])
        failed += m["failed"]
        try:
            checks = w.check()
        except Exception:
            traceback.print_exc()
            checks = [("checks_ran", False)]
        rss.sample()
        if args.trace:
            layer = traced(w, spark, log_dir, m["step_p50_s"])
    finally:
        if spark is not None:
            stop_spark(spark)
    attempted += len(checks)
    failed += sum(not ok for _, ok in checks)
    metrics = {"setup_s": setup_s, "job_s": m["job_s"], "rows_per_s": m["rows_per_s"],
               "step_p50_s": m["step_p50_s"], "cpu_s": m["cpu_s"], "peak_rss_mb": rss.mb()}
    report.update({"rows_per_pass": w.rows, "rows_are": w.rows_label,
                   "pass_s": m["times"], "checks": dict(checks),
                   "error_rate": failed / attempted})
    if args.trace:
        layer["session.start_s"] = report["session_start_s"]
        metrics = {k: float(layer.get(k, 0.0)) for k in PER_LAYER_UNITS}
        units = PER_LAYER_UNITS
    else:
        units = END_TO_END
    report["loadavg_end"] = os.getloadavg()
    report["host_steal_s"] = steal_s() - steal0
    report["metrics"] = metrics
    result = {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    return report, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["backfill", "recode_lasso", "refresh", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, "lyssandra_spark")):
        print(f"perfbench: no lyssandra_spark package next to {BENCH_DIR}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    run_dir = os.path.join(REPO, ".bench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    # everything Spark and its Python workers write stays in the run dir;
    # workers import the library (and perfbench) from the repo root
    os.environ.update({
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # every JVM (the spark-submit launcher too): no /tmp/hsperfdata
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        # single-threaded BLAS here and in the workers (which inherit this
        # env); set before numpy is first imported
        "OMP_NUM_THREADS": "1", "OPENBLAS_NUM_THREADS": "1", "MKL_NUM_THREADS": "1",
        "PYTHONPATH": os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
    })
    sys.path.insert(0, REPO)
    try:
        report, result = run(args, run_dir)
    finally:
        reap_tree()
        shutil.rmtree(run_dir, ignore_errors=True)
        runs = os.path.dirname(run_dir)
        if os.path.isdir(runs) and not os.listdir(runs):
            os.rmdir(runs)
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
