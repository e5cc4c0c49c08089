"""Binned range join (operators/rangejoin.py): equivalence with the naive
inequality join, bin-boundary edges, and the giant-interval guard."""

import pytest
from pyspark.sql import functions as F

from covid19_spark.operators.rangejoin import binned_range_join


@pytest.fixture()
def frames(spark):
    points = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([0.0, 1.0, 2.5, 7.49, 7.5, 10.0, 99.9, 55.5])],
        "pid long, value double",
    )
    intervals = spark.createDataFrame(
        [
            (100, 0.0, 2.5),     # closed bounds: catches 0.0, 1.0, 2.5
            (101, 2.5, 7.5),     # overlaps previous at 2.5
            (102, 50.0, 60.0),
            (103, 99.9, 99.9),   # zero-length
            (104, 200.0, 210.0), # matches nothing
        ],
        "iid long, lo double, hi double",
    )
    return points, intervals


def naive(points, intervals):
    return points.join(
        intervals,
        (F.col("value") >= F.col("lo")) & (F.col("value") <= F.col("hi")),
    )


def test_matches_naive_join(spark, frames):
    points, intervals = frames
    got = sorted(
        (r.pid, r.iid)
        for r in binned_range_join(points, intervals, "value", "lo", "hi").collect()
    )
    want = sorted((r.pid, r.iid) for r in naive(points, intervals).collect())
    assert got == want


def test_no_nested_loop_in_plan(spark, frames):
    points, intervals = frames
    plan = (
        binned_range_join(points, intervals, "value", "lo", "hi")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    naive_plan = naive(points, intervals)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in naive_plan or "CartesianProduct" in naive_plan


def test_giant_interval_guard(spark, frames):
    points, intervals = frames
    wide = intervals.union(
        spark.createDataFrame([(999, 0.0, 1e9)], "iid long, lo double, hi double")
    )
    joined = binned_range_join(points, wide, "value", "lo", "hi")
    with pytest.raises(Exception, match="spans more than 1024 bins"):
        joined.collect()
