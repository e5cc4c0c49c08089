"""The measurement core bench.py and the dev tools share: a noop-forced run
counts its jobs, the status-store stage reader sees that run's shuffle bytes
with the UI off, and settle() empties the session's cache."""

from pyspark.sql import functions as F

from covid19_spark.measure import next_job_id, run, settle, stage_metrics


def _grouped(spark, _sf_dir):
    return spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()


def test_run_reports_seconds_and_jobs(spark):
    sec, jobs = run(spark, _grouped, "")
    assert sec > 0
    assert jobs >= 1


def test_stage_reader_sees_shuffle_write_of_run(spark):
    assert spark.conf.get("spark.ui.enabled") == "false"
    j0 = next_job_id(spark)
    run(spark, _grouped, "")
    stages = stage_metrics(spark, j0)
    assert stages
    assert sum(s["shuffle_write"] for s in stages) > 0
    # nothing from before the mark
    assert stage_metrics(spark, next_job_id(spark)) == []


def test_settle_empties_cache_manager(spark):
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    df = spark.range(100).withColumn("x", F.col("id") * 2).cache()
    assert df.count() == 100
    assert not cache_manager.isEmpty()
    settle(spark)
    assert cache_manager.isEmpty()
