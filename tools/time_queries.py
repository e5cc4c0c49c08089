"""Dev-loop timing harness: run selected registry queries N times at a given
sf dir, print per-run seconds and Spark job counts, then the per-job table of
each query's last run (bench.py is the official artifact; this is the dev
loop). Warm-up, settle and the noop-forced run are the bench's own, from
``covid19_spark.measure``, so isolated retests are comparable to in-sweep
bench numbers. The job table reads the live status store, so it needs no
Spark UI.

Usage: python tools/time_queries.py [-n RUNS] [--sf SF_DIR] name [name ...]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from covid19_spark.measure import job_rows, next_job_id, run, settle, warm  # noqa: E402
from covid19_spark.plans.registry import QUERY_REGISTRY  # noqa: E402
from covid19_spark.session import get_spark  # noqa: E402


def print_jobs(rows: list[dict]) -> None:
    """One line per job: id, idle gap since the previous jobs ended, own
    duration and description; then the sum of job durations."""
    prev_end = None
    for r in rows:
        dur = (r["completed_ms"] - r["submitted_ms"]) / 1e3
        gap = (r["submitted_ms"] - prev_end) / 1e3 if prev_end else 0.0
        prev_end = max(prev_end, r["completed_ms"]) if prev_end else r["completed_ms"]
        print(f"  job {r['job']:4d}  gap {gap:7.3f}s  dur {dur:7.3f}s  {r['desc'][:110]}")
    total = sum(r["completed_ms"] - r["submitted_ms"] for r in rows) / 1e3
    print(f"  sum of job durations: {total:.2f}s", flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("-n", type=int, default=3)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    spark = get_spark("covid19_spark_timing")
    warm(spark, args.sf)

    for name in args.names:
        fn = QUERY_REGISTRY[name].fn
        runs, jobs = [], []
        for _ in range(args.n):
            j0 = next_job_id(spark)
            sec, n_jobs = run(spark, fn, args.sf)
            runs.append(round(sec, 3))
            jobs.append(n_jobs)
            settle(spark)
        print(f"{name}: sec={runs} (min {min(runs)}) jobs={jobs}", flush=True)
        # job ids are sequential: the last run's are the first n after its mark
        print_jobs(job_rows(spark, j0)[: jobs[-1]])


if __name__ == "__main__":
    main()
