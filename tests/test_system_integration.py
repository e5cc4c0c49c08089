"""Full-system integration: the reference's §3.1 + §3.3 dataflow end-to-end.

snapshot stream → stateful delta → foreachBatch upsert into serving tables
(compact_batch_to_table) → StoreReader queries → alert fan-out → golden text.
This is the whole engine in one test: streaming, state, materialization,
interactive queries, and presentation."""

import datetime as dt
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from covid19_spark.serving.format import build_statewise_alert_text
from covid19_spark.serving.stores import StoreReader
from covid19_spark.streaming.pipelines import alert_fanout, stats_delta_stream
from covid19_spark.streaming.table import compact_batch_to_table

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


@pytest.fixture()
def env(spark):
    d = tempfile.mkdtemp(prefix="c19system_")
    yield spark, d
    shutil.rmtree(d, ignore_errors=True)


def test_stream_to_store_to_alert(env, rocksdb_state_store):
    spark, d = env
    src, ckpt = f"{d}/src", f"{d}/ckpt"
    table_path = f"{d}/statewise_delta"
    os.makedirs(src)

    # --- streaming ingest with foreachBatch upsert (S6 + T7) ---
    def upsert(batch, batch_id):
        existing = None
        if os.path.exists(table_path):
            existing = spark.read.parquet(table_path)
        snapshot = compact_batch_to_table(batch, existing, ["state"], "ts")
        snapshot.write.mode("overwrite").parquet(f"{table_path}__tmp")
        spark.read.parquet(f"{table_path}__tmp").write.mode("overwrite").parquet(table_path)

    stream = spark.readStream.schema(SNAP_SCHEMA).option("maxFilesPerTrigger", "1").parquet(src)
    q = (
        stats_delta_stream(stream)
        .writeStream.foreachBatch(upsert)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        spark.createDataFrame(
            [
                ("Assam", ts("2020-04-08T10:00:00"), 27.0, 0.0, 0.0),
                ("Delhi", ts("2020-04-08T12:00:00"), 5.0, 0.0, 0.0),
            ],
            SNAP_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        spark.createDataFrame(
            [("Assam", ts("2020-04-08T23:00:00"), 28.0, 0.0, 0.0)], SNAP_SCHEMA
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    # --- serve (T7): latest snapshot per state, cross-batch delta correct ---
    reader = StoreReader(spark, d)
    [assam] = reader.delta_stats_for_state("Assam")
    [delhi] = reader.delta_stats_for_state("Delhi")
    assert assam["confirmed"] == 28.0
    assert assam["delta_confirmed"] == 1.0  # 28 - 27, across micro-batches
    assert delhi["delta_confirmed"] == 5.0

    # --- fan-out (§3.3, J2/P4): only subscribed users with matching states ---
    deltas = spark.read.parquet(os.path.join(d, "statewise_delta")).select(
        "state", "ts", "delta_confirmed", "delta_recovered", "delta_deaths", "confirmed"
    )
    prefs = spark.createDataFrame(
        [("u1", ["Assam"], True), ("u2", ["Kerala"], True), ("u3", ["Assam"], False)],
        ["userId", "myStates", "subscribed"],
    )
    alerts = alert_fanout(deltas, prefs).collect()
    assert [(r.userId, r.state) for r in alerts] == [("u1", "Assam")]

    # --- presentation: the golden alert string from live pipeline numbers ---
    a = alerts[0]
    text = build_statewise_alert_text(
        "April 08, 11:00 PM",
        [
            {
                "state": a.state,
                "delta_confirmed": int(a.delta_confirmed),
                "delta_recovered": int(a.delta_recovered),
                "delta_deaths": int(a.delta_deaths),
                "current_confirmed": int(a.confirmed),
                "current_recovered": 0,
                "current_deaths": 0,
            }
        ],
        [
            {
                "state": a.state,
                "delta_confirmed": int(a.delta_confirmed),
                "delta_recovered": 0,
                "delta_deaths": 0,
            }
        ],
        {},
        {"Assam": "20"},
        [],
    )
    assert "1 new case in Assam\n" in text
    assert "Total cases  : (↑1) 28" in text
    assert "Doubling rate: 20 days" in text


def test_stream_to_incremental_upsert_to_chart_request(env):
    """Round-2 chain: stream -> stateful delta -> INCREMENTAL bucketed
    upsert (the scale path) -> daily rollup store -> chart rows -> Chart.js
    request document, end to end on live pipeline numbers."""
    import json

    from covid19_spark.operators.rollup import daily_rollup
    from covid19_spark.serving.analytics import daily_history_chart
    from covid19_spark.serving.charts import history_chart_request
    from covid19_spark.streaming.table import make_upsert_sink

    spark, d = env
    src, ckpt = f"{d}/src2", f"{d}/ckpt2"
    table_path = f"{d}/snapshots"
    os.makedirs(src)

    stream = spark.readStream.schema(SNAP_SCHEMA).option("maxFilesPerTrigger", "1").parquet(src)
    q = (
        stats_delta_stream(stream)
        .writeStream.foreachBatch(
            make_upsert_sink(table_path, ["state", "ts"], "ts", n_buckets=8)
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        spark.createDataFrame(
            [
                ("Goa", ts("2020-04-08T10:00:00"), 5.0, 1.0, 0.0),
                ("Goa", ts("2020-04-09T10:00:00"), 8.0, 1.0, 1.0),
            ],
            SNAP_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        spark.createDataFrame(
            [("Goa", ts("2020-04-09T22:00:00"), 10.0, 2.0, 1.0)], SNAP_SCHEMA
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    deltas = spark.read.parquet(table_path)
    assert deltas.count() == 3  # every snapshot upserted, cross-batch state held
    daily = daily_rollup(
        deltas,
        "ts",
        ["state"],
        sum_cols=["delta_confirmed", "delta_recovered", "delta_deaths"],
        last_cols=["confirmed"],
    )
    chart = daily_history_chart(daily, "Goa", 2, dt.date(2020, 4, 9))
    doc = json.loads(history_chart_request(chart).first().request_json)
    assert doc["chart"]["data"]["labels"] == ["08-Apr", "09-Apr"]
    series = {s["label"]: s["data"] for s in doc["chart"]["data"]["datasets"]}
    # day 1: delta 5; day 2: deltas 3 (8-5) + 2 (10-8) = 5 confirmed
    assert series["Recovered"] == [1.0, 1.0]
    assert series["Deaths"] == [0.0, 1.0]
    assert series["Active"] == [4.0, 3.0]  # confirmed - recovered - deaths, clamped


def test_user_request_round_trip_over_emulated_topics(env):
    """§3.2 end-to-end on the emulated transport (VERDICT r06 task #6):
    produce a UserRequest onto the request topic, run the dispatch stream
    (request topic → store queries → reply topic), and read back the golden
    /stats reply — the Spark twin of UserRequestConsumer.java:87-142's
    poll → answer → send loop, previously covered only by direct store-read
    tests."""
    from pyspark.sql import functions as F

    from covid19_spark.schemas import USER_REQUEST
    from covid19_spark.serving.requests import serve_user_requests_stream
    from covid19_spark.serving.stores import Materializer
    from covid19_spark.sources.kafka import emulated_topic_sink, read_emulated_topic

    spark, d = env
    req_topic, reply_topic, ckpt = f"{d}/user-request", f"{d}/user-reply", f"{d}/ckpt-req"

    snapshots = spark.createDataFrame(
        [
            ("Maharashtra", ts("2020-04-08T10:00:00"), 10, 1, 1),
            ("Maharashtra", ts("2020-04-09T22:00:00"), 28, 2, 2),
            ("Delhi", ts("2020-04-08T12:00:00"), 5, 0, 0),
            ("Delhi", ts("2020-04-09T12:00:00"), 9, 1, 1),
            ("Total", ts("2020-04-09T22:00:00"), 37, 3, 3),
        ],
        ["state", "last_updated", "confirmed", "recovered", "deaths"],
    )
    Materializer(spark, d).refresh_statewise(snapshots)
    reader = StoreReader(spark, d)

    # produce: two bot commands land on the request topic (S5 point write)
    emulated_topic_sink(req_topic, F.col("chatId"))(
        spark.createDataFrame(
            [("chat-1", "Summary"), ("chat-2", "Today")], USER_REQUEST
        ),
        0,
    )

    q = serve_user_requests_stream(
        spark, reader, req_topic, reply_topic, dt.date(2020, 4, 9),
        last_updated="09/04/2020 22:00:00", checkpoint_dir=ckpt,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    reply_schema = T.StructType(
        [
            T.StructField("chatId", T.StringType()),
            T.StructField("state", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    replies = {r.chatId: r for r in read_emulated_topic(spark, reply_topic, reply_schema).collect()}
    assert set(replies) == {"chat-1", "chat-2"}
    assert replies["chat-1"].key == "chat-1"  # reply keyed by chat, like the bot send
    summary = replies["chat-1"].text
    assert "Summary of all affected Indian States" in summary
    assert "Mah  |     28|      2|     2" in summary
    assert summary.rstrip("</pre>").rstrip().endswith("Total|     37|      3|     3")
    today_text = replies["chat-2"].text
    assert "Mah  |     18|      1|     1" in today_text
    assert "Delhi|      4|      1|     1" in today_text


