"""One measurement core for ``bench.py`` and the dev tools.

- ``warm``: compiles and loads what every query shares, so the first timed
  query is not charged JVM/FS/codegen start-up.
- ``settle``: drops the previous run's working set outside any timed region.
- ``anchor``: the fixed pure-Spark calibration workload, min of 2 runs.
- ``run``: one noop-forced run of a ``fn(spark, sf_dir) -> DataFrame``,
  returning its wall seconds and the number of Spark jobs it submitted.
- ``stage_metrics`` / ``job_rows``: per-stage IO and per-job timing for the
  jobs since a ``next_job_id`` mark, read from the live AppStatusStore (the
  structure behind the UI/REST API; populated with ``spark.ui.enabled=false``).

A noop write computes the full plan and collects nothing back to Python, so
the time measures the distributed plan, not pandas conversion.
"""

from __future__ import annotations

import gc
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from covid19_spark.sources.tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

def warm(spark: SparkSession, sf_dir: str) -> None:
    """Warm the JVM/FS/codegen paths so the first query isn't charged startup:
    count() over each fact table touches every parquet footer + page-cache
    block once, and the toy groupBy compiles the codegen pipeline."""
    for t in ("region", "lineitem", "orders", "documents", "embeddings", "events"):
        load_table(spark, t, sf_dir).count()  # events needs the nanos loader
    spark.range(1000).groupBy((F.col("id") % 2).alias("k")).count().collect()
    # Warm the shared codegen/executor machinery (hash join, window, explode,
    # array exprs, sort, shuffle write) with one tiny compound query so the
    # FIRST timed query isn't charged for compiling templates every later
    # query reuses. Toy data — runs in well under a second.
    a = spark.range(5000).select(
        "id", (F.col("id") % 7).alias("k"),
        F.array_repeat(F.col("id").cast("string"), 3).alias("arr"),
    )
    b = spark.range(500).select(F.col("id").alias("bid"), (F.col("id") % 7).alias("k"))
    (
        a.join(b, "k")
        .select("id", "k", F.explode("arr").alias("x"))
        .groupBy("k").agg(F.count(F.lit(1)).alias("c"), F.sum("id").alias("s"))
        .withColumn("r", F.row_number().over(Window.partitionBy(F.lit(1)).orderBy(F.col("c").desc())))
        .orderBy("k")
        .write.format("noop").mode("overwrite").save()
    )
    # Warm the array higher-order-function machinery (aggregate/zip_with/
    # transform/slice/sort_array-of-structs) that every ANN/dedup plan leans
    # on — without this the alphabetically-first ANN query pays the one-time
    # compile (ann_cosine_topk was spread-flagged for exactly this).
    v = F.transform(F.sequence(F.lit(1), F.lit(16)), lambda i: i.cast("double"))
    (
        spark.range(2000)
        .select(v.alias("v1"), F.reverse(v).alias("v2"))
        .select(
            F.aggregate(
                F.zip_with("v1", "v2", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
            ).alias("dot"),
            F.slice("v1", 2, 5).alias("s"),
            F.sort_array(
                F.transform("v1", lambda x: F.struct((-x).alias("n"), x.alias("x")))
            )[0]["x"].alias("m"),
        )
        .groupBy().agg(F.sum("dot").alias("d"), F.count(F.lit(1)).alias("c"))
        .write.format("noop").mode("overwrite").save()
    )


def settle(spark: SparkSession) -> None:
    """Queries that self-join cache intermediate frames (LSH signatures,
    normalized embeddings); drop them so later runs aren't charged for
    eviction/GC of a previous run's working set. clearCache does NOT free
    localCheckpoint RDDs (connected-components rounds) — those are cleaned by
    the ContextCleaner only after the Python-side DataFrame refs die, so
    collect Python garbage explicitly. The ContextCleaner removes dead
    broadcasts/RDD blocks ASYNCHRONOUSLY — without a settle step the removal
    storm (plus the eventual full GC of a 32 g heap) lands INSIDE the next
    timed section and charges one query for its predecessors' garbage
    (measured: the same query varies 0.7 s ↔ 10.9 s purely by bench
    position). Force the collection, run a trivial job so cleaner messages
    drain, and give the daemon a beat — all outside the timings."""
    spark.catalog.clearCache()
    gc.collect()
    spark._jvm.System.gc()
    spark.range(1).count()
    time.sleep(0.2)


def next_job_id(spark: SparkSession) -> int:
    """Id the DAGScheduler gives the next submitted job; ids are sequential,
    so the difference of two marks counts the jobs between them."""
    return int(spark._jsc.sc().dagScheduler().nextJobId())


def run(spark: SparkSession, fn: QueryFn, sf_dir: str) -> tuple[float, int]:
    """(wall seconds, jobs submitted) for building ``fn(spark, sf_dir)`` and
    forcing it through a noop sink. Jobs issued eagerly while the plan is
    built count too. The job marks sit outside the timed region."""
    j0 = next_job_id(spark)
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    sec = time.perf_counter() - t0
    return sec, next_job_id(spark) - j0


def _anchor_frame(spark: SparkSession, _sf_dir: str) -> DataFrame:
    # Calibration anchor: one FIXED pure-Spark workload — constant
    # synthetic range, modular hash, 1000-key aggregate, noop sink; zero
    # project code, zero IO. Its runtime moves only with box conditions (CPU
    # contention, JVM heap state), so two sweeps can be compared via
    # anchor-normalized query times instead of cross-referencing a separate
    # quiet-box rerun. ~1 s on a quiet local[32].
    return (
        spark.range(0, 400_000_000, 1, 32)
        .select(
            (F.col("id") % 1000).alias("k"),
            F.pmod(F.col("id") * 2654435761, F.lit(4294967296)).alias("h"),
        )
        .groupBy("k")
        .agg(F.sum("h").alias("s"), F.count(F.lit(1)).alias("c"))
    )


def anchor(spark: SparkSession) -> float:
    """Anchor seconds, min of 2: the anchor tracks sustained load, not one
    GC spike."""
    return round(min(run(spark, _anchor_frame, "")[0] for _ in range(2)), 3)


def nearest_anchor(samples: list[list[float]], pos: int) -> float:
    """Median of the 3 anchor samples nearest sweep position ``pos``
    (``samples`` is ``[[position, anchor_sec], ...]``).

    A single nearest sample inherits single-sample noise — r13's series
    carried one 0.575 s outlier (0.68x the sweep mean) that inflated ~25
    sub-second queries' norms x1.8-x2.5 on unchanged plans. The median of
    the 3 nearest is robust to one bad sample while still tracking
    intra-sweep drift (the r12 failure a global mean anchor can't see).
    With <3 samples (early in the sweep) it degrades to the median of what
    exists."""
    near = sorted(samples, key=lambda s: abs(s[0] - pos))[:3]
    vals = sorted(a for _, a in near)
    return vals[len(vals) // 2]


def spread_flags(all_runs: dict[str, list[float]]) -> list[str]:
    """Queries whose runs disagreed >2x (above 0.5 s): their min is a best
    case, not a typical cost."""
    return sorted(
        n for n, rs in all_runs.items() if min(rs) > 0.5 and max(rs) > 2.0 * min(rs)
    )


def _status_store(spark: SparkSession):
    sc = spark._jsc.sc()
    # the store is fed by an asynchronous listener; let it catch up with the
    # jobs that already ended before reading it
    sc.listenerBus().waitUntilEmpty()
    return sc.statusStore()


def _jobs_since(spark: SparkSession, store, since_job: int) -> list:
    """JobData for every job with id >= ``since_job``, oldest first."""
    jobs = store.jobsList(spark._jvm.java.util.ArrayList())
    out = [jobs.apply(i) for i in range(jobs.size())]
    return sorted((j for j in out if j.jobId() >= since_job), key=lambda j: j.jobId())


def job_rows(spark: SparkSession, since_job: int) -> list[dict]:
    """Per job since ``since_job``: id, submission and completion time (epoch
    ms) and its description or call site."""
    rows = []
    for j in _jobs_since(spark, _status_store(spark), since_job):
        desc = j.description()
        rows.append(
            {
                "job": j.jobId(),
                "submitted_ms": j.submissionTime().get().getTime(),
                "completed_ms": j.completionTime().get().getTime(),
                "desc": desc.get() if desc.isDefined() else j.name(),
            }
        )
    return rows


def stage_metrics(spark: SparkSession, since_job: int) -> list[dict]:
    """Per-stage IO of the stages run by jobs since ``since_job``."""
    store = _status_store(spark)
    wanted = set()
    for j in _jobs_since(spark, store, since_job):
        ids = j.stageIds()
        wanted.update(ids.apply(i) for i in range(ids.size()))
    jvm, gw = spark._jvm, spark.sparkContext._gateway
    stages = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    out = []
    for i in range(stages.size()):
        s = stages.apply(i)
        if s.stageId() not in wanted:
            continue
        out.append(
            {
                "stage": s.stageId(),
                "name": s.name().split(" at ")[0][:48],
                "shuffle_read": s.shuffleReadBytes(),
                "shuffle_write": s.shuffleWriteBytes(),
                "spill_mem": s.memoryBytesSpilled(),
                "spill_disk": s.diskBytesSpilled(),
                "input": s.inputBytes(),
            }
        )
    return out
