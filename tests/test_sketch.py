"""Misra-Gries heavy-hitters (operators/sketch.py): the textbook
guarantees under crafted skew, partition invariance of the bounds, and
agreement with a pure-Python reference on a single partition."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from covid19_spark.operators.sketch import heavy_hitters, misra_gries_summaries


def _stream(spark, items, n_parts=4):
    return spark.createDataFrame(
        [(i, x) for i, x in enumerate(items)], "i long, item string"
    ).repartition(n_parts, "i")


def _skewed():
    # one dominant item, a mid tier, and a long tail
    items = ["hot"] * 500 + [f"mid{j}" for j in range(10) for _ in range(40)]
    items += [f"tail{j}" for j in range(300)]
    return items


def test_bounds_hold_under_any_partitioning(spark):
    items = _skewed()
    truth = Counter(items)
    n = len(items)
    m = 16
    for parts in (1, 3, 8):
        est = {
            r.item: r.est
            for r in heavy_hitters(_stream(spark, items, parts), "item", m).collect()
        }
        for item, cnt in truth.items():
            e = est.get(item, 0)
            assert e <= cnt, (parts, item)
            assert e * m >= cnt * m - n, (parts, item)


def test_heavy_hitter_always_present(spark):
    items = _skewed()
    n = len(items)
    m = 16
    truth = Counter(items)
    for parts in (1, 3, 8):
        est = {
            r.item: r.est
            for r in heavy_hitters(_stream(spark, items, parts), "item", m).collect()
        }
        for item, cnt in truth.items():
            if cnt * m > n:
                assert item in est and est[item] > 0, (parts, item)


def test_summary_respects_capacity(spark):
    items = [f"u{j}" for j in range(5000)]  # all distinct: worst case
    df = _stream(spark, items, 4)
    per_part = misra_gries_summaries(df, "item", capacity=32)
    sizes = (
        per_part.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    # merged output is also bounded by capacity x n_partitions
    assert per_part.count() <= 32 * 4
    assert all(r.n <= 32 for r in sizes)


def test_single_partition_matches_python_model(spark):
    items = _skewed()
    m = 16

    counters: dict[str, int] = {}
    for item in items:
        if item in counters:
            counters[item] += 1
        elif len(counters) < m:
            counters[item] = 1
        else:
            dead = []
            for k in counters:
                counters[k] -= 1
                if counters[k] == 0:
                    dead.append(k)
            for k in dead:
                del counters[k]

    # coalesce(1) + a single input file order: same arrival order as the list
    df = spark.createDataFrame(
        [(i, x) for i, x in enumerate(items)], "i long, item string"
    ).coalesce(1).sortWithinPartitions("i")
    got = {r.item: r.est for r in heavy_hitters(df, "item", m).collect()}
    assert got == counters


def test_nulls_are_ignored(spark):
    df = spark.createDataFrame(
        [(0, "a"), (1, None), (2, "a"), (3, None)], "i long, item string"
    ).coalesce(1)
    got = {r.item: r.est for r in heavy_hitters(df, "item", 8).collect()}
    assert got == {"a": 2}


