"""Structured Streaming tests: file source → pipeline → memory sink, with
batch-vs-streaming equivalence for the stateful delta (SURVEY §7.3.3)."""

import datetime as dt
import shutil
import tempfile

import pytest
from pyspark.sql import types as T

from covid19_spark.operators.delta import running_delta
from covid19_spark.operators.rollup import daily_rollup
from covid19_spark.streaming.pipelines import (
    alert_fanout,
    daily_states_count,
    doubling_rate_stream,
    patients_news_sources,
    stats_delta_stream,
)
from covid19_spark.streaming.table import compact_batch_to_table, latest_by_key

SNAP_SCHEMA = T.StructType(
    [
        T.StructField("state", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("confirmed", T.DoubleType()),
        T.StructField("recovered", T.DoubleType()),
        T.StructField("deaths", T.DoubleType()),
    ]
)


def ts(s):
    return dt.datetime.fromisoformat(s)


SNAPSHOTS = [
    ("Assam", ts("2020-04-08T10:00:00"), 10.0, 0.0, 0.0),
    ("Assam", ts("2020-04-08T22:00:00"), 27.0, 1.0, 0.0),
    ("Assam", ts("2020-04-09T02:00:00"), 28.0, 1.0, 1.0),
    ("Delhi", ts("2020-04-08T12:00:00"), 5.0, 0.0, 0.0),
    ("Delhi", ts("2020-04-09T12:00:00"), 9.0, 2.0, 0.0),
]


@pytest.fixture()
def stream_env(spark):
    d = tempfile.mkdtemp(prefix="c19stream_")
    src, ckpt = f"{d}/src", f"{d}/ckpt"
    yield spark, d, src, ckpt
    shutil.rmtree(d, ignore_errors=True)


def run_stream_to_memory(spark, stream_df, name, ckpt, mode="append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_streaming_delta_equals_batch_lag(stream_env):
    spark, d, src, ckpt = stream_env
    batch_df = spark.createDataFrame(SNAPSHOTS, SNAP_SCHEMA)
    batch_df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(SNAP_SCHEMA).parquet(src)

    out = run_stream_to_memory(
        spark, stats_delta_stream(stream), "delta_stream", ckpt
    ).collect()

    expected = {
        (r.state, r.ts): (r.delta_confirmed, r.delta_recovered, r.delta_deaths)
        for r in running_delta(
            batch_df, ["state"], ["ts"], ["confirmed", "recovered", "deaths"]
        ).collect()
    }
    assert len(out) == len(expected)
    for r in out:
        assert (
            r.delta_confirmed,
            r.delta_recovered,
            r.delta_deaths,
        ) == expected[(r.state, r.ts)], r


@pytest.mark.parametrize("provider", ["default", "rocksdb"])
def test_streaming_delta_state_carries_across_batches(stream_env, provider, request):
    if provider == "rocksdb":
        request.getfixturevalue("rocksdb_state_store")
    spark, d, src, ckpt = stream_env
    import os

    os.makedirs(src)
    spark.createDataFrame(SNAPSHOTS[:2], SNAP_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema(SNAP_SCHEMA).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = (
        stats_delta_stream(stream)
        .writeStream.format("memory")
        .queryName("delta_s2")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        # second micro-batch arrives while the query is live; state must
        # remember confirmed=27 across batches
        spark.createDataFrame(SNAPSHOTS[2:3], SNAP_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        out = spark.table("delta_s2").collect()
    finally:
        q.stop()
    by_key = {(r.state, r.ts): r.delta_confirmed for r in out}
    assert by_key[("Assam", ts("2020-04-08T10:00:00"))] == 10.0
    assert by_key[("Assam", ts("2020-04-09T02:00:00"))] == 1.0  # 28 - 27


def test_rocksdb_delta_state_survives_restart(stream_env, rocksdb_state_store):
    """The running delta's state is restored from the RocksDB changelog
    checkpoint: a new query on the same checkpoint, started after batch 1's
    query stopped, still knows Assam's confirmed=27."""
    import os

    spark, d, src, ckpt = stream_env
    os.makedirs(src)

    def run_once():
        # the memory sink cannot restart from a checkpoint; foreachBatch can
        rows = []
        stream = spark.readStream.schema(SNAP_SCHEMA).parquet(src)
        q = (
            stats_delta_stream(stream).writeStream.outputMode("append")
            .foreachBatch(lambda batch, _id: rows.extend(batch.collect()))
            .option("checkpointLocation", ckpt).start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return rows

    spark.createDataFrame(SNAPSHOTS[:2], SNAP_SCHEMA).coalesce(1).write.parquet(src, mode="append")
    run_once()
    spark.createDataFrame(SNAPSHOTS[2:3], SNAP_SCHEMA).coalesce(1).write.parquet(src, mode="append")
    out = run_once()
    assert [(r.state, r.ts, r.delta_confirmed) for r in out] == [
        ("Assam", ts("2020-04-09T02:00:00"), 1.0)  # 28 - 27
    ]


def test_daily_window_rollup_stream(stream_env):
    spark, d, src, ckpt = stream_env
    spark.createDataFrame(SNAPSHOTS, SNAP_SCHEMA).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(SNAP_SCHEMA).parquet(src)
    daily = daily_states_count(stats_delta_stream(stream))
    out = run_stream_to_memory(spark, daily, "daily_stream", ckpt, mode="update").collect()
    got = {(str(r.date), r.state): r for r in out}
    # Assam 04-08: deltas 10+17=27, latest cumulative 27
    r = got[("2020-04-08", "Assam")]
    assert r.sum_delta_confirmed == 27.0 and r.last_confirmed == 27.0
    r = got[("2020-04-09", "Assam")]
    assert r.sum_delta_confirmed == 1.0 and r.last_confirmed == 28.0
    r = got[("2020-04-09", "Delhi")]
    assert r.sum_delta_confirmed == 4.0


def test_doubling_rate_stream(stream_env):
    spark, d, src, ckpt = stream_env
    spark.createDataFrame(SNAPSHOTS, SNAP_SCHEMA).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(SNAP_SCHEMA).parquet(src)
    dr = doubling_rate_stream(daily_states_count(stats_delta_stream(stream)))
    out = run_stream_to_memory(spark, dr, "dr_stream", ckpt, mode="update").collect()
    got = {(str(r.date), r.state): r.doubling_days for r in out}
    # Assam 04-09: delta 1, cum 28 → round(70/(100/28)) = round(19.6) = 20
    assert got[("2020-04-09", "Assam")] == 20.0


PATIENT_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("patientnumber", T.StringType()),
        T.StructField("currentstatus", T.StringType()),
        T.StructField("detectedstate", T.StringType()),
        T.StructField("dateannounced", T.StringType()),
        T.StructField("source1", T.StringType()),
        T.StructField("source2", T.StringType()),
        T.StructField("source3", T.StringType()),
    ]
)


def test_patients_pipeline_filters_coalesces_dedups(stream_env):
    spark, d, src, ckpt = stream_env
    rows = [
        (ts("2020-04-08T10:00:00"), "P1", "Hospitalized", "Assam", "08/04/2020", "u1", "", ""),
        (ts("2020-04-08T11:00:00"), "P2", "", "Assam", "08/04/2020", "u2", "", ""),          # dropped: empty status
        (ts("2020-04-08T12:00:00"), "P3", "Hospitalized", "Delhi", "07/04/2020", "", "", ""),  # dropped: no source
        (ts("2020-04-08T13:00:00"), "P4", "Recovered", "Delhi", "06/04/2020", "a", "b", "c"),  # news=c (source3 wins)
        (ts("2020-04-08T14:00:00"), "P5", "Recovered", "Delhi", "07/04/2020", "x", "", "c"),   # dup of news=c → dropped
        (ts("2020-04-08T15:00:00"), "P6", "Recovered", "Goa", "20/03/2020", "old", "", ""),    # dropped: stale (>1 week)
        (ts("2020-04-08T16:00:00"), "P7", "Recovered", "Goa", "02/04/2020", "edge", "", ""),   # kept: exactly 6 days ago
    ]
    spark.createDataFrame(rows, PATIENT_SCHEMA).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(PATIENT_SCHEMA).parquet(src)
    out = run_stream_to_memory(
        spark,
        patients_news_sources(stream, today=dt.date(2020, 4, 8)),
        "patients_stream",
        ckpt,
    ).collect()
    got = sorted((r.state, r.news) for r in out)
    assert got == [("Assam", "u1"), ("Delhi", "c"), ("Goa", "edge")]


def test_latest_by_key_update_mode(stream_env):
    spark, d, src, ckpt = stream_env
    spark.createDataFrame(SNAPSHOTS, SNAP_SCHEMA).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(SNAP_SCHEMA).parquet(src)
    table = latest_by_key(stream, ["state"], "ts", ["confirmed"])
    out = run_stream_to_memory(spark, table, "ktable", ckpt, mode="complete").collect()
    got = {r.state: r.confirmed for r in out}
    assert got == {"Assam": 28.0, "Delhi": 9.0}


def test_compact_batch_to_table(spark):
    old = spark.createDataFrame(
        [("Assam", ts("2020-04-08T10:00:00"), 10.0)], ["state", "ts", "confirmed"]
    )
    new = spark.createDataFrame(
        [
            ("Assam", ts("2020-04-09T10:00:00"), 28.0),
            ("Delhi", ts("2020-04-09T11:00:00"), 9.0),
        ],
        ["state", "ts", "confirmed"],
    )
    out = compact_batch_to_table(new, old, ["state"], "ts").collect()
    got = {r.state: r.confirmed for r in out}
    assert got == {"Assam": 28.0, "Delhi": 9.0}


def test_late_data_updates_old_window_within_watermark(stream_env):
    """T4 (``Covid19Stats.java:123,147``): 365-day retention means a late
    record silently updates its old window. Spark twin: a record older than
    the max seen event time but inside the watermark re-opens its window's
    state and re-emits the updated sum; once the watermark passes the window
    end, late records are dropped."""
    import os

    from covid19_spark.streaming.windowed import daily_window_agg

    spark, d, src, ckpt = stream_env
    schema = T.StructType(
        [
            T.StructField("state", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("delta", T.DoubleType()),
        ]
    )
    os.makedirs(src)

    def push(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    daily = daily_window_agg(stream, "ts", ["state"], sum_cols=["delta"])
    q = (
        daily.writeStream.format("memory")
        .queryName("late_stream")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        # batch 1: establishes windows 04-08 (sum 5) and 04-09 (sum 3)
        push([("Assam", ts("2020-04-08T10:00:00"), 5.0),
              ("Assam", ts("2020-04-09T10:00:00"), 3.0)])
        # batch 2: LATE record for 04-08 (event time < max seen) but inside
        # the 2-day watermark → the old window must re-emit with sum 7
        push([("Assam", ts("2020-04-08T15:00:00"), 2.0)])
        sums = [
            r.sum_delta
            for r in spark.table("late_stream").collect()
            if str(r.date) == "2020-04-08"
        ]
        assert 5.0 in sums, sums   # initial emission
        assert 7.0 in sums, sums   # late-update re-emission
        # batch 3: advance event time to 04-12 → watermark moves to 04-10,
        # past the 04-08 window end
        push([("Assam", ts("2020-04-12T10:00:00"), 1.0)])
        # batch 4: now-too-late record for 04-08 → dropped, no re-emission
        push([("Assam", ts("2020-04-08T16:00:00"), 100.0)])
        sums = [
            r.sum_delta
            for r in spark.table("late_stream").collect()
            if str(r.date) == "2020-04-08"
        ]
        assert max(sums) == 7.0, sums  # 100.0 never applied
    finally:
        q.stop()


def test_upsert_batch_partitioned_rewrites_only_touched_buckets(spark):
    import glob
    import os

    from covid19_spark.measure import next_job_id
    from covid19_spark.streaming.table import upsert_batch_partitioned

    d = tempfile.mkdtemp()
    table = os.path.join(d, "ktable")
    try:
        seed = spark.createDataFrame(
            [(f"k{i}", ts("2020-04-08T10:00:00"), float(i)) for i in range(100)],
            ["state", "ts", "confirmed"],
        )
        first = upsert_batch_partitioned(seed, table, ["state"], "ts", n_buckets=8)
        assert first  # seeded across buckets
        before = {
            f: os.path.getmtime(f)
            for f in glob.glob(os.path.join(table, "kb=*", "*.parquet"))
        }

        batch = spark.createDataFrame(
            [("k3", ts("2020-04-09T10:00:00"), 333.0),
             ("k999", ts("2020-04-09T11:00:00"), 1.0)],
            ["state", "ts", "confirmed"],
        )
        j0 = next_job_id(spark)
        touched = upsert_batch_partitioned(batch, table, ["state"], "ts", n_buckets=8)
        # bucketed-batch checkpoint (touched set observed on it), merge
        # checkpoint (3: two AQE shuffle map stages + result), write; reading
        # the table back infers no schema
        assert next_job_id(spark) - j0 == 5
        # per-batch write cost bounded by the batch's keys, not table size
        assert 1 <= len(touched) <= 2

        after = {
            f: os.path.getmtime(f)
            for f in glob.glob(os.path.join(table, "kb=*", "*.parquet"))
        }
        untouched_dirs = [f"kb={b}" for b in first if b not in touched]
        for f, mtime in before.items():
            if any(u in f for u in untouched_dirs):
                assert after.get(f) == mtime, f"untouched bucket rewritten: {f}"

        final = spark.read.parquet(table)
        got = {r.state: r.confirmed for r in final.collect()}
        assert got["k3"] == 333.0      # updated
        assert got["k999"] == 1.0      # inserted
        assert got["k7"] == 7.0        # untouched key intact
        assert len(got) == 101
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_upsert_bucket_count_fixed_when_table_is_created(spark, tmp_path):
    """A 3-row first batch sizes the table at one bucket; a 100x larger
    later batch keeps that count (a changed count would strand each key's
    old row in its old bucket) and leaves one row per key."""
    import os

    from covid19_spark.streaming.table import BUCKETS_RECORD, upsert_batch_partitioned

    table = str(tmp_path / "ktable")
    cols = ["state", "ts", "confirmed"]
    first = [(f"k{i}", ts("2020-04-08T10:00:00"), float(i)) for i in range(3)]
    assert upsert_batch_partitioned(spark.createDataFrame(first, cols), table, ["state"], "ts") == [0]
    later = [(f"k{i}", ts("2020-04-09T10:00:00"), float(-i)) for i in range(300)]
    assert upsert_batch_partitioned(spark.createDataFrame(later, cols), table, ["state"], "ts") == [0]
    assert sorted(os.listdir(table)) == [BUCKETS_RECORD, "kb=0"]
    rows = spark.read.parquet(table).collect()
    assert len(rows) == 300 and len({r.state for r in rows}) == 300
    assert {r.state: r.confirmed for r in rows}["k2"] == -2.0


def test_upsert_explicit_bucket_count_must_match_record(spark, tmp_path):
    from covid19_spark.streaming.table import upsert_batch_partitioned

    table = str(tmp_path / "ktable")
    batch = spark.createDataFrame([("k1", ts("2020-04-08T10:00:00"), 1.0)], ["state", "ts", "confirmed"])
    upsert_batch_partitioned(batch, table, ["state"], "ts")  # sized: 1 bucket
    with pytest.raises(ValueError, match="1 buckets, not 8"):
        upsert_batch_partitioned(batch, table, ["state"], "ts", n_buckets=8)


def test_upsert_refuses_table_without_bucket_record(spark, tmp_path):
    """A directory the sink did not create is never overwritten."""
    from covid19_spark.streaming.table import upsert_batch_partitioned

    table = str(tmp_path / "ktable")
    batch = spark.createDataFrame([("k1", ts("2020-04-08T10:00:00"), 1.0)], ["state", "ts", "confirmed"])
    batch.write.parquet(table)
    with pytest.raises(ValueError, match="no _buckets record"):
        upsert_batch_partitioned(batch, table, ["state"], "ts")
    assert spark.read.parquet(table).count() == 1


def test_upsert_sink_via_foreachbatch(stream_env):
    import os

    from covid19_spark.streaming.table import make_upsert_sink

    spark, d, src, ckpt = stream_env
    table = os.path.join(d, "served")
    spark.createDataFrame(SNAPSHOTS, SNAP_SCHEMA).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(SNAP_SCHEMA).parquet(src)
    q = (
        latest_by_key(stream, ["state"], "ts", ["confirmed"])
        .writeStream.outputMode("update")
        .foreachBatch(make_upsert_sink(table, ["state"], "ts", n_buckets=8))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.state: r.confirmed for r in spark.read.parquet(table).collect()}
    assert got == {"Assam": 28.0, "Delhi": 9.0}


def test_alert_fanout_semantics(stream_env):
    spark, d, src, ckpt = stream_env
    deltas = spark.createDataFrame(
        [
            ("Assam", ts("2020-04-08T10:00:00"), 1.0, 0.0, 0.0, 28.0),
            ("Delhi", ts("2020-04-08T11:00:00"), 0.0, 0.0, 0.0, 9.0),  # zero delta → no alert
        ],
        ["state", "ts", "delta_confirmed", "delta_recovered", "delta_deaths", "confirmed"],
    )
    prefs = spark.createDataFrame(
        [
            ("u1", ["Assam", "Delhi"], True),
            ("u2", ["Delhi"], True),
            ("u3", ["Assam"], False),  # unsubscribed
        ],
        ["userId", "myStates", "subscribed"],
    )
    out = alert_fanout(deltas, prefs).collect()
    assert [(r.userId, r.state) for r in out] == [("u1", "Assam")]


def test_stream_stream_interval_join(stream_env):
    """Stream-stream attribution: purchases match clicks within the window,
    across micro-batches, with watermark-bounded state."""
    from pyspark.sql import types as TT

    from covid19_spark.streaming.joins import click_purchase_attribution

    spark, d, src, ckpt = stream_env
    EV_SCHEMA = TT.StructType(
        [
            TT.StructField("event_id", TT.LongType()),
            TT.StructField("ts", TT.TimestampType()),
            TT.StructField("user_id", TT.LongType()),
            TT.StructField("event_type", TT.StringType()),
            TT.StructField("value", TT.DoubleType()),
        ]
    )
    rows = [
        (1, ts("2024-01-01T10:00:00"), 7, "click", 0.0),
        (2, ts("2024-01-01T10:10:00"), 7, "purchase", 9.99),   # within 30m of click 1
        (3, ts("2024-01-01T12:00:00"), 7, "purchase", 5.00),   # no click within window
        (4, ts("2024-01-01T10:05:00"), 8, "click", 0.0),
        (5, ts("2024-01-01T11:00:00"), 8, "purchase", 1.00),   # 55m after click 4: outside
    ]
    spark.createDataFrame(rows, EV_SCHEMA).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(EV_SCHEMA).parquet(src)
    attributed = click_purchase_attribution(stream)
    out = run_stream_to_memory(spark, attributed, "attribution_stream", ckpt).collect()
    got = {(r.click_id, r.purchase_id): r.lag_sec for r in out}
    assert got == {(1, 2): 600}


def test_upsert_sequence_equals_global_latest(spark):
    """Any split of the record stream into micro-batches must converge to
    the same table as a single global latest-per-key pass (the MERGE
    semantics), including keys updated across batches and out of order."""
    import itertools
    import os

    from covid19_spark.streaming.table import compact_batch_to_table, upsert_batch_partitioned

    records = [
        (f"k{i % 4}", ts(f"2020-04-{8 + (i % 3):02d}T{10 + i:02d}:00:00"), float(i))
        for i in range(12)
    ]
    cols = ["state", "ts", "confirmed"]
    expected = {
        (r.state): (r.ts, r.confirmed)
        for r in compact_batch_to_table(
            spark.createDataFrame(records, cols), None, ["state"], "ts"
        ).collect()
    }
    for split in ([3, 4, 2, 3], [12], [1] * 12):
        d = tempfile.mkdtemp()
        table = os.path.join(d, "t")
        try:
            it = iter(records)
            for n in split:
                batch = list(itertools.islice(it, n))
                upsert_batch_partitioned(
                    spark.createDataFrame(batch, cols), table, ["state"], "ts", n_buckets=4
                )
            got = {
                r.state: (r.ts, r.confirmed)
                for r in spark.read.parquet(table).select(*cols).collect()
            }
            assert got == expected, split
        finally:
            shutil.rmtree(d, ignore_errors=True)


def test_delta_kernel_multichunk_unsorted_matches_single_sorted():
    """The stateful-delta kernel must concat-then-sort: chunked,
    out-of-order arrival gives the same deltas as one sorted frame, with
    state seeding row 0."""
    import pandas as pd

    from covid19_spark.streaming.stateful_delta import delta_kernel

    rows = [
        {"state": "Assam", "ts": ts("2020-04-08T22:00:00"), "confirmed": 27.0},
        {"state": "Assam", "ts": ts("2020-04-08T10:00:00"), "confirmed": 10.0},
        {"state": "Assam", "ts": ts("2020-04-09T02:00:00"), "confirmed": 28.0},
    ]
    chunked = [pd.DataFrame(rows[:2]), pd.DataFrame(rows[2:])]
    out_c, prev_c = delta_kernel(chunked, [5.0], ["state"], "ts", ["confirmed"])
    single = [pd.DataFrame(sorted(rows, key=lambda r: r["ts"]))]
    out_s, prev_s = delta_kernel(single, [5.0], ["state"], "ts", ["confirmed"])
    assert prev_c == prev_s == [28.0]
    assert list(out_c["delta_confirmed"]) == list(out_s["delta_confirmed"]) == [
        5.0,  # 10 − 5 (state seed)
        17.0,  # 27 − 10
        1.0,  # 28 − 27
    ]
    assert list(out_c["ts"]) == sorted(r["ts"] for r in rows)
    # empty input: state passes through untouched, no output frame
    out_e, prev_e = delta_kernel([], [5.0], ["state"], "ts", ["confirmed"])
    assert out_e is None and prev_e == [5.0]


def test_chained_topology_equals_batch_delta_rollup(stream_env, rocksdb_state_store):
    """The §3.1 chained topology (stateful delta -> daily windowed rollup,
    one query, on get_spark's RocksDB state store) must equal the batch
    ``running_delta`` followed by the batch ``daily_rollup``."""
    spark, d, src, ckpt = stream_env
    batch_df = spark.createDataFrame(SNAPSHOTS, SNAP_SCHEMA)
    batch_df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(SNAP_SCHEMA).parquet(src)
    sums = ["delta_confirmed", "delta_recovered", "delta_deaths"]
    out = run_stream_to_memory(
        spark, daily_states_count(stats_delta_stream(stream)), "chain", ckpt,
        mode="update",
    ).collect()
    expected = daily_rollup(
        running_delta(batch_df, ["state"], ["ts"], ["confirmed", "recovered", "deaths"]),
        "ts", ["state"], sum_cols=sums, last_cols=["confirmed"],
    ).collect()

    def rows(rs):
        return sorted(
            (str(r.date), r.state, *(r[f"sum_{c}"] for c in sums), r.last_confirmed,
             r.n_updates)
            for r in rs
        )

    assert rows(out) == rows(expected)
