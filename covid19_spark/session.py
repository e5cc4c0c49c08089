"""SparkSession factory with scale-oriented defaults.

Local runs use ``local[N]``; on a real cluster the same config block applies
minus ``master``. AQE is on so skewed shuffles re-plan at runtime; shuffle
partition count defaults to the local core count but should be sized to
~128 MB/partition of shuffle data at the target scale factor.

Two settings keep Spark's per-batch plumbing off a small micro-batch's
critical path (``stats_feed`` on 4 cores: latency p50 6.14 -> 5.86 s, 10 of
10 alternating pairs): up to 4,096 paths are listed on the driver, not by a
"Listing leaf files" job, and Python workers fork from ``worker_daemon``,
so a task no longer re-reads ``pyspark.zip``'s directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from covid19_spark import worker_daemon

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
ROCKSDB_CHANGELOG_CONF = (
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
)
COMMITTER_VERSION_CONF = "mapreduce.fileoutputcommitter.algorithm.version"
# the directory that holds the package, for the Python workers' import path
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "covid19_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Env overrides: ``SPARK_GRAFT_CPUS`` → master local[N] and shuffle
    partition count, matching the driver's bench invocation.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # local[N] runs the whole "cluster" in the driver JVM. Heap sizing is
        # a measured trade-off: 32 concurrent tasks need room for decimal/
        # array-heavy aggregation, but an oversized heap makes G1 mixed
        # cycles long enough to bleed multi-second pauses into *later*
        # queries (measured on the 79-query bench at sf0.1: 32 g heap →
        # 133 s total with 8-10 s outliers; 16 g → 90 s, stable). 16 g is
        # the sweet spot for this box; override via SPARK_GRAFT_DRIVER_MEM.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # v2 file-output committer: task outputs move to the destination at
        # TASK commit, skipping the v1 job-commit serial rename pass that
        # costs a flat ~4.5 s per write on this box's fs (measured: 16-row
        # parquet write 4.6 s → 0.3 s). Tradeoff: a failed job can leave
        # partial task files in the destination — the standard Spark
        # setting for object stores, where real deployments use
        # cloud-native committers anyway.
        .config(f"spark.hadoop.{COMMITTER_VERSION_CONF}", "2")
        # Streaming state: RocksDB provider = disk-backed per-key state, the
        # analogue of the reference's RocksDB stores (SURVEY §4).
        .config("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
        # Commit each batch's state as a changelog file instead of uploading
        # a RocksDB checkpoint (snapshots are taken in the background): the
        # stats_feed state commit fell from ~0.5-0.7 s to ~0.3 s per batch.
        .config(ROCKSDB_CHANGELOG_CONF, "true")
        # Python workers fork from a daemon whose zipimporters re-read an
        # archive's directory only when its os.stat stamp changed. A stock
        # worker's 16 zipimporters each re-read pyspark.zip (1,328 entries)
        # or py4j's zip in every task's importlib.invalidate_caches(): 76-122
        # ms per task, under 0.1 ms here; a warm 4-task mapInPandas job fell
        # from ~170 to ~105 ms. The workers import the daemon from the
        # package root, whatever the driver's cwd and PYTHONPATH.
        .config("spark.python.daemon.module", worker_daemon.__name__)
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
        # List up to 4,096 paths on the driver, not with a Spark job. In
        # local mode the job's tasks run in this same JVM against the same
        # disk, so it adds only scheduling: N local paths listed serially vs
        # by one job took 23 vs 207 ms (N=33), 15 vs 135 ms (40), 38 vs 841
        # ms (400) and 299 vs 6,808 ms (4,096). With no crossover in the
        # measured range the threshold is its top; a stream batch of 40 new
        # files no longer runs a listing job per trigger.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def use_fast_committer(spark: SparkSession) -> None:
    """Switch the session's Hadoop output committer to algorithm v2 before
    store writes (idempotent, runtime-safe): v1's job-commit rename pass
    costs a flat ~4.5 s per write on a local fs — 4 writes per index build
    — while v2 commits at task level (measured 0.3 s). Set here, not only
    in get_spark, because stores are written from whatever session the
    caller owns (a plain session without get_spark's confs included). Same
    partial-file failure tradeoff as every object-store deployment;
    rebuilds are overwrite-idempotent."""
    try:
        spark.sparkContext._jsc.hadoopConfiguration().set(
            COMMITTER_VERSION_CONF, "2"
        )
    except Exception:
        # No JVM-side context (e.g. Spark Connect): writes still work,
        # just under whatever committer the cluster configured.
        pass


def partitions_for_bytes(spark: SparkSession, n_bytes: int) -> int:
    """Partition (or bucket) count for ``n_bytes`` of data: one per
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` — the size AQE
    coalesces shuffle partitions to — clamped to ``[1, defaultParallelism]``.
    """
    sql_conf = spark._jvm.org.apache.spark.sql.internal.SQLConf
    target = spark._jsparkSession.sessionState().conf().getConf(
        sql_conf.ADVISORY_PARTITION_SIZE_IN_BYTES()
    )
    return max(1, min(spark.sparkContext.defaultParallelism, -(-n_bytes // target)))
