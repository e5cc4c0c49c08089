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


def test_streaming_heavy_hitters_accumulates_across_batches(spark):
    """The streaming twin: Misra-Gries state carries across micro-batches,
    the newest per-shard emission satisfies the batch operator's bounds
    against the EXACT counts of everything streamed so far, and every
    global heavy hitter is present in its shard's summary."""
    import shutil
    import tempfile

    from covid19_spark.streaming.heavy_hitters_stream import streaming_heavy_hitters

    d = tempfile.mkdtemp(prefix="hhstream_")
    src, ckpt = f"{d}/src", f"{d}/ckpt"
    m, shards = 16, 4
    batch1 = ["hot"] * 200 + [f"tail{j}" for j in range(150)]
    batch2 = ["hot"] * 300 + [f"mid{j}" for j in range(10) for _ in range(40)]
    try:
        for i, items in enumerate((batch1, batch2)):
            spark.createDataFrame(
                [(x,) for x in items], "item string"
            ).coalesce(1).write.parquet(f"{src}/f{i}")
        stream = (
            spark.readStream.schema("item string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        sk = streaming_heavy_hitters(stream, "item", capacity=m, shards=shards)
        q = (
            sk.writeStream.format("memory")
            .queryName("hh_stream")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        rows = spark.table("hh_stream").collect()
        latest_emission = {}
        for r in rows:
            latest_emission[r.shard] = max(latest_emission.get(r.shard, 0), r.emission)
        est = {
            r.item: r.est
            for r in rows
            if r.emission == latest_emission[r.shard]
        }
        truth = Counter(batch1 + batch2)
        n = len(batch1) + len(batch2)
        for item, cnt in truth.items():
            e = est.get(item, 0)
            assert e <= cnt, item
            assert e * m >= cnt * m - n, item
            if cnt * m > n:
                assert item in est and est[item] > 0, item
        # 'hot' spans both batches: state must have accumulated, so its
        # estimate exceeds anything a single batch could produce alone
        assert est["hot"] > 300 - n // m
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_heavy_hitters_checkpoint_recovery(spark, tmp_path):
    """The sketch counters must survive a kill/restart from checkpoint:
    batch 2 (processed by a FRESH query object on the same checkpoint)
    builds on batch 1's counters, so the post-restart estimate for an
    item spanning both batches reflects BOTH — not a cold restart."""
    from covid19_spark.streaming.heavy_hitters_stream import streaming_heavy_hitters

    import os

    d = str(tmp_path)
    src, ckpt, out = f"{d}/src", f"{d}/ckpt", f"{d}/out"
    os.makedirs(src)
    m, shards = 16, 2

    def start():
        stream = spark.readStream.schema("item string").parquet(src)
        return (
            streaming_heavy_hitters(stream, "item", capacity=m, shards=shards)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    batch1 = ["hot"] * 100 + [f"a{j}" for j in range(40)]
    batch2 = ["hot"] * 150 + [f"b{j}" for j in range(40)]

    q1 = start()
    try:
        spark.createDataFrame([(x,) for x in batch1], "item string").coalesce(
            1
        ).write.mode("append").parquet(src)
        q1.processAllAvailable()
    finally:
        q1.stop()  # mid-stream kill

    spark.createDataFrame([(x,) for x in batch2], "item string").coalesce(
        1
    ).write.mode("append").parquet(src)
    q2 = start()  # fresh query, SAME checkpoint
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    rows = spark.read.parquet(out).collect()
    latest = {}
    for r in rows:
        latest[r.shard] = max(latest.get(r.shard, 0), r.emission)
    est = {r.item: r.est for r in rows if r.emission == latest[r.shard]}
    n = len(batch1) + len(batch2)
    # 250 true 'hot' occurrences; a cold restart could report at most
    # 150; the carried state must push it above that even after MG decay
    assert est["hot"] > 150, est.get("hot")
    assert est["hot"] >= 250 - n // m
    assert est["hot"] <= 250
