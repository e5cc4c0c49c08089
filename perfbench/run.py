"""Benchmark of the covid19_spark dataflow, one workload per process.

    python3 perfbench/run.py --workload stats_feed --seed 1 --seconds 10 --trace 0

Workloads: ``stats_feed`` (open-loop snapshot feed through the streaming
dataflow) and ``serve_requests`` (closed-loop user requests against the
serving tables). Each run starts from an empty work directory under
``.perfbench_work/`` in the checkout, checks the program's outputs against
an oracle that shares no code with it, and prints one JSON object as the
last line of stdout. With ``--trace 0`` its metrics are the end-to-end
metrics; with ``--trace 1`` they are the per-layer metrics (see DESIGN.md).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

import harness

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("stats_feed", "serve_requests")

# Pinned environment. SPARK_GRAFT_DRIVER_MEM defaults to 16g in the program,
# more than a 15 GB machine has; PYTHONPATH must name the checkout or the
# stateful Python workers cannot import the package.
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
    "success_rate": "share",
}
PER_LAYER = {
    # stats_feed
    "sources.backlog_files_p50": "count",
    "sources.backlog_files_max": "count",
    "sources.offset_ms_p50": "ms",
    "streaming.batches": "count",
    "streaming.batch_s_p50": "s",
    "streaming.rows_per_batch_p50": "count",
    "streaming.stateful_s_p50": "s",
    "streaming.upsert_s_p50": "s",
    "streaming.upsert_buckets_p50": "count",
    "streaming.fanout_s_p50": "s",
    "streaming.alerts": "count",
    "streaming.overhead_ms_p50": "ms",
    "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "bytes",
    "streaming.state_commit_ms_p50": "ms",
    "streaming.idle_share": "share",
    "gen_late_max_s": "s",
    # serve_requests
    "serving.request_s_p50.state": "s",
    "serving.request_s_p50.summary": "s",
    "serving.request_s_p50.today": "s",
    "serving.request_s_p50.yesterday": "s",
    "serving.jobs_per_request": "count",
    "serving.tasks_per_request": "count",
    "serving.materialize_s": "s",
    "operators.stages_per_request": "count",
    "operators.task_run_s_p50": "s",
    "operators.task_gc_s_p50": "s",
    "operators.shuffle_write_bytes_p50": "bytes",
    "operators.spill_bytes_p50": "bytes",
    "sources.input_bytes_p50": "bytes",
    # both
    "session.start_s": "s",
    "session.jvm_gc_s": "s",
    "trace.latency_p50_s": "s",
}


def pin_environment(work: str) -> dict[str, str]:
    """Set the process environment before the JVM starts; return the Spark
    settings that keep every file the run writes inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    python_path = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYTHONPATH=os.pathsep.join(python_path),
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        # the launcher JVM that spark-submit runs first
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        TZ="UTC",
    )
    time.tzset()
    tempfile.tempdir = tmp
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the heap is committed and touched at start, so the JVM's peak
        # resident set does not depend on when G1 chose to grow the heap
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"),
    }


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--counters", help="write the run's exact counters to this JSON file")
    return ap.parse_args(argv)


def measure(args, work: str, spans_path: str) -> harness.Result:
    """One run of one workload in a fresh JVM; returns what it reports."""
    extra_conf = pin_environment(work)
    sys.path.insert(0, ROOT)
    from covid19_spark.session import get_spark

    workload = importlib.import_module(args.workload)
    tracer = harness.Tracer(bool(args.trace))
    result = harness.Result()
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench_{args.workload}", extra_conf=extra_conf)
    result.layers["session.start_s"] = (time.perf_counter() - t0, "s")
    harness.log("session started")
    spark.sparkContext.setLogLevel("ERROR")
    probe = harness.JvmProbe(spark)
    try:
        workload.run(spark, args, work, tracer, probe, result)
        result.end_to_end["peak_rss_mb"] = (probe.peak_rss_mb(), "MB")
    except Exception:  # noqa: BLE001 - reported as a failed, incorrect run
        traceback.print_exc()
        result.check(False, "workload raised")
        result.failed += 1
        result.attempted += 1
    finally:
        harness.stop_spark(spark)
        harness.log("spark stopped")
    result.end_to_end["success_rate"] = (
        (result.attempted - result.failed) / result.attempted if result.attempted else 0.0, "share")
    result.layers["trace.latency_p50_s"] = result.end_to_end.get("latency_p50_s", (0.0, "s"))
    tracer.dump(spans_path)
    return result


def main(argv=None) -> int:
    args = parse_args(argv)
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = measure(args, work, os.path.join(base, f"spans-{args.workload}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.counters:
        with open(args.counters, "w") as f:
            json.dump(result.exact, f, sort_keys=True)
    for p in result.problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)

    names = PER_LAYER if args.trace else END_TO_END
    source = result.layers if args.trace else result.end_to_end
    metrics = {
        name: {"value": float(source.get(name, (0.0, unit))[0]), "unit": unit}
        for name, unit in names.items()
    }
    print(json.dumps({
        "correct": result.correct,
        "attempted": max(1, result.attempted),
        "failed": result.failed,
        "metrics": metrics,
    }), flush=True)
    return 0 if result.correct and result.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
