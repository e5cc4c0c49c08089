"""Incremental view maintenance (operators/ivm.py): the state algebra —
batch-boundary independence, associativity, HLL distinct-state merge."""

from pyspark.sql import functions as F

from covid19_spark.operators.ivm import (
    agg_state,
    finalize_agg_state,
    merge_agg_state,
)


def _rows(spark, lo, hi):
    return spark.createDataFrame(
        [(i % 3, float(i), i % 7) for i in range(lo, hi)],
        "k int, v double, u int",
    )


def _report(df):
    return {
        r.k: (r.n_rows, r.sum_v, r.min_v, r.max_v, r.avg_v)
        for r in finalize_agg_state(df).collect()
    }


def test_merge_equals_full_recompute_any_split(spark):
    """finalize(lift(A) ⊕ lift(B)) == finalize(lift(A ∪ B)) bit-for-bit,
    for several batch boundaries (DEC sums make the split invisible)."""
    full = _report(agg_state(_rows(spark, 0, 100), ["k"], "v"))
    for cut in (1, 37, 50, 99):
        a = agg_state(_rows(spark, 0, cut), ["k"], "v")
        b = agg_state(_rows(spark, cut, 100), ["k"], "v")
        assert _report(merge_agg_state(a, b, ["k"])) == full


def test_merge_is_associative_hierarchical(spark):
    """(a ⊕ b) ⊕ c == a ⊕ (b ⊕ c) — states can pre-merge per hour → day."""
    a = agg_state(_rows(spark, 0, 30), ["k"], "v")
    b = agg_state(_rows(spark, 30, 60), ["k"], "v")
    c = agg_state(_rows(spark, 60, 100), ["k"], "v")
    left = merge_agg_state(merge_agg_state(a, b, ["k"]), c, ["k"])
    right = merge_agg_state(a, merge_agg_state(b, c, ["k"]), ["k"])
    assert _report(left) == _report(right)


def test_key_only_in_one_batch_survives(spark):
    a = agg_state(
        spark.createDataFrame([(1, 2.0)], "k int, v double"), ["k"], "v"
    )
    b = agg_state(
        spark.createDataFrame([(2, 5.0)], "k int, v double"), ["k"], "v"
    )
    rep = _report(merge_agg_state(a, b, ["k"]))
    assert rep[1] == (1, 2.0, 2.0, 2.0, 2.0)
    assert rep[2] == (1, 5.0, 5.0, 5.0, 5.0)


def test_lift_is_map_side_combined(spark):
    """Plan shape: the lift aggregates partially before the exchange."""
    plan = (
        agg_state(_rows(spark, 0, 100), ["k"], "v")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "partial" in plan.lower()


def test_streaming_state_merge_equals_one_shot_lift(spark, tmp_path):
    """Three micro-batches through merge_state_batch == one-shot lift over
    the union, bit-for-bit (the streaming materialized view), and each
    batch rewrites only its keys' buckets."""
    from covid19_spark.streaming.ivm_stream import (
        merge_state_batch,
        read_report,
    )

    state = str(tmp_path / "state")
    batches = [_rows(spark, 0, 30), _rows(spark, 30, 60), _rows(spark, 60, 100)]
    for b in batches:
        touched = merge_state_batch(b, state, ["k"], "v", n_buckets=8)
        assert touched  # keys hash to at most 3 buckets
        assert len(touched) <= 3
    streamed = {
        r.k: (r.n_rows, r.sum_v, r.min_v, r.max_v, r.avg_v)
        for r in read_report(spark, state).collect()
    }
    assert streamed == _report(agg_state(_rows(spark, 0, 100), ["k"], "v"))


def test_streaming_state_merge_via_foreachbatch(spark, tmp_path):
    """End-to-end through a real availableNow stream + foreachBatch."""
    import os

    from covid19_spark.streaming.ivm_stream import (
        make_state_merge_sink,
        read_report,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")
    _rows(spark, 0, 100).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("k int, v double, u int").parquet(src)
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(make_state_merge_sink(state, ["k"], "v", n_buckets=8))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.k: (r.n_rows, r.sum_v, r.min_v, r.max_v, r.avg_v)
        for r in read_report(spark, state).collect()
    }
    assert got == _report(agg_state(_rows(spark, 0, 100), ["k"], "v"))
