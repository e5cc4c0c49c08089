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
    latest = {r.state: r for r in reader._t("statewise_delta").collect()}
    assert latest["Assam"].confirmed == 28.0
    assert latest["Assam"].delta_confirmed == 1.0  # 28 - 27, across micro-batches
    assert latest["Delhi"].delta_confirmed == 5.0

    # --- fan-out (§3.3, J2/P4): only subscribed users with matching states ---
    deltas = reader._t("statewise_delta").select(
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

    from covid19_spark.serving.requests import (
        USER_REQUEST_SCHEMA,
        serve_user_requests_stream,
    )
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
            [("chat-1", "Summary"), ("chat-2", "Today")], USER_REQUEST_SCHEMA
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


def test_crawl_stream_to_corpus_table(env):
    """Full crawl system: continuous WARC ingestion (crawl_corpus_stream)
    feeding the incremental hash-bucketed upsert sink into a queryable
    corpus table — a recrawl of an already-ingested canonical URL inside
    the dedup horizon never reaches the table, and the table end-state is
    one row per surviving page with the cleaned text."""
    import datetime as _dt

    from covid19_spark.sources.warc import (
        encode_warc,
        encode_warc_record,
        http_response_block,
    )
    from covid19_spark.streaming.crawl_stream import crawl_corpus_stream
    from covid19_spark.streaming.table import make_upsert_sink

    spark, d = env
    src, ckpt, table = f"{d}/crawl_src", f"{d}/crawl_ckpt", f"{d}/corpus"
    os.makedirs(src)
    t = _dt.datetime.fromisoformat

    def blob(wid, url, words):
        html = (
            "<html><body><div>Home</div><p>" + words + "</p>"
            "<p>was — cited</p><p>was - cited</p><div>Home</div></body></html>"
        ).encode()
        return encode_warc(
            [
                encode_warc_record(
                    "response", f"r{wid}", http_response_block(200, "OK", html),
                    target_uri=url,
                    content_type="application/http; msgtype=response",
                )
            ],
            gzip_per_record=wid % 2 == 1,
        )

    schema = "warc_id long, payload binary, fetched_at timestamp"
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = (
        crawl_corpus_stream(stream, retention="1 day")
        .writeStream.foreachBatch(
            make_upsert_sink(table, ["canonical"], "fetched_at", n_buckets=4)
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        spark.createDataFrame(
            [
                (1, blob(1, "https://a.example/p", "alpha beta gamma delta"), t("2024-02-01T10:00:00")),
                (2, blob(2, "https://b.example/p", "epsilon zeta eta theta"), t("2024-02-01T10:01:00")),
            ],
            schema,
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        spark.createDataFrame(
            [
                # recrawl of a.example within the horizon: never reaches the sink
                (3, blob(3, "HTTPS://A.Example:443/p", "different words now here"), t("2024-02-01T11:00:00")),
                (4, blob(4, "https://c.example/p", "iota kappa lambda mu"), t("2024-02-01T11:01:00")),
            ],
            schema,
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {r.canonical: r for r in spark.read.parquet(table).collect()}
    assert sorted(rows) == [
        "https://a.example/p", "https://b.example/p", "https://c.example/p"
    ]
    assert rows["https://a.example/p"].doc_id == 1  # the recrawl never landed
    assert rows["https://a.example/p"].clean_text == (
        "Home\n\nalpha beta gamma delta\n\nwas - cited"
    )
    assert rows["https://c.example/p"].doc_id == 4


def test_crawl_stream_to_searchable_index(env):
    """Crawl → searchable-index, continuously (VERDICT r12 task #5): the
    clean-corpus stream feeds make_index_ingest_sink, BM25 serves from the
    maintained index BETWEEN batches (post-batch-N searches see batch-N
    docs), and the final index is bit-identical to a one-shot build over
    the same corpus — the bm25_incremental_index equivalence, driven
    through Structured Streaming."""
    import datetime as _dt

    from covid19_spark.operators.retrieval import bm25_scores_from_index
    from covid19_spark.sources.index import (
        build_inverted_index_from,
        make_index_ingest_sink,
        read_inverted_index,
    )
    from covid19_spark.sources.warc import (
        encode_warc,
        encode_warc_record,
        http_response_block,
    )
    from covid19_spark.streaming.crawl_stream import crawl_corpus_stream

    spark, d = env
    src, ckpt, idx_path = f"{d}/crawl_src", f"{d}/crawl_ckpt", f"{d}/searchidx"
    os.makedirs(src)
    t = _dt.datetime.fromisoformat

    def blob(wid, url, words):
        html = f"<html><body><p>{words}</p></body></html>".encode()
        return encode_warc(
            [
                encode_warc_record(
                    "response", f"r{wid}", http_response_block(200, "OK", html),
                    target_uri=url,
                    content_type="application/http; msgtype=response",
                )
            ]
        )

    def bm25(terms):
        idx = read_inverted_index(spark, idx_path)  # reopen-per-serve
        return {
            r.doc_id: r.score
            for r in bm25_scores_from_index(spark, idx, terms).collect()
        }

    schema = "warc_id long, payload binary, fetched_at timestamp"
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = (
        crawl_corpus_stream(stream, retention="1 day")
        .select("doc_id", "clean_text")
        .writeStream.foreachBatch(
            make_index_ingest_sink(idx_path, text_col="clean_text")
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        spark.createDataFrame(
            [
                (1, blob(1, "https://a.example/p", "shuffle exchange hash join partition"), t("2024-02-01T10:00:00")),
                (2, blob(2, "https://b.example/p", "codegen stage whole plan fusion"), t("2024-02-01T10:01:00")),
            ],
            schema,
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        # post-batch-1 serve: batch-1 docs searchable, batch-2 terms absent
        assert set(bm25(["shuffle", "codegen"])) == {1, 2}
        assert bm25(["watermark"]) == {}
        spark.createDataFrame(
            [
                (3, blob(3, "https://c.example/p", "watermark state store shuffle eviction"), t("2024-02-01T11:00:00")),
            ],
            schema,
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    # post-batch-2: the new doc is searchable, and scores SHIFTED for old
    # docs too (df/avgdl rewrites are corpus-global — a stale index would
    # keep batch-1 scores)
    after = bm25(["shuffle", "watermark"])
    assert set(after) == {1, 3}
    # equivalence: streamed-in index == one-shot build over the same corpus
    idx = read_inverted_index(spark, idx_path)
    oneshot_path = f"{d}/oneshot"
    docs_now = spark.createDataFrame(
        [
            (1, "shuffle exchange hash join partition"),
            (2, "codegen stage whole plan fusion"),
            (3, "watermark state store shuffle eviction"),
        ],
        "doc_id long, text string",
    )
    build_inverted_index_from(docs_now, oneshot_path)
    want_idx = read_inverted_index(spark, oneshot_path)
    assert (idx.n_docs, idx.avgdl) == (want_idx.n_docs, want_idx.avgdl)
    got_postings = sorted(
        (r.t, r.doc_id, r.tf, r.dl, tuple(r.pos)) for r in idx.postings.collect()
    )
    want_postings = sorted(
        (r.t, r.doc_id, r.tf, r.dl, tuple(r.pos)) for r in want_idx.postings.collect()
    )
    assert got_postings == want_postings
    assert sorted(
        (r.doc_id, r.score)
        for r in bm25_scores_from_index(spark, idx, ["shuffle", "state"]).collect()
    ) == sorted(
        (r.doc_id, r.score)
        for r in bm25_scores_from_index(spark, want_idx, ["shuffle", "state"]).collect()
    )


def test_long_run_ingest_auto_compaction(env):
    """Long-run streaming ingest with in-sink auto-compaction (VERDICT r13
    task #2): 21 micro-batches (1 build + 20 appends) through
    make_index_ingest_sink with compact_every=4.  Without compaction every
    append leaves one fragment per touched term bucket and the postings
    store grows file-listing-bound; with the sink compacting itself the
    fragment count stays bounded near one file per non-empty bucket.
    Serving equivalence is pinned MID-stream (right after an in-sink
    compaction) and at the end: the streamed+auto-compacted index is
    bit-identical to a one-shot build over the same corpus."""
    import glob

    from covid19_spark.operators.retrieval import bm25_scores_from_index
    from covid19_spark.sources.index import (
        build_inverted_index_from,
        make_index_ingest_sink,
        read_inverted_index,
    )

    spark, d = env
    src, ckpt, idx_path = f"{d}/ingest_src", f"{d}/ingest_ckpt", f"{d}/autoidx"
    os.makedirs(src)

    def doc(i):
        # small, overlapping vocabulary: every batch touches the "shared"
        # bucket plus its own terms, so fragments accumulate bucket-wise
        return (i, f"shared alpha{i % 3} term{i} tail{i % 5}")

    def write_batch_files(lo, hi):
        for i in range(lo, hi):
            spark.createDataFrame(
                [doc(i)], "doc_id long, text string"
            ).coalesce(1).write.mode("append").parquet(src)

    def fragments():
        return len(glob.glob(f"{idx_path}/postings/**/*.parquet", recursive=True))

    def serve_equiv(n_docs_now, terms):
        idx = read_inverted_index(spark, idx_path)  # reopen-per-serve
        oneshot = f"{d}/oneshot_{n_docs_now}"
        build_inverted_index_from(
            spark.createDataFrame(
                [doc(i) for i in range(n_docs_now)], "doc_id long, text string"
            ),
            oneshot,
        )
        want = read_inverted_index(spark, oneshot)
        assert (idx.n_docs, idx.avgdl) == (want.n_docs, want.avgdl)
        got = sorted(
            (r.doc_id, r.score)
            for r in bm25_scores_from_index(spark, idx, terms).collect()
        )
        exp = sorted(
            (r.doc_id, r.score)
            for r in bm25_scores_from_index(spark, want, terms).collect()
        )
        assert got == exp
        return idx, want

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            make_index_ingest_sink(idx_path, compact_every=4, file_threshold=4)
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        # phase 1: 13 batches (1 build + 12 appends → 3 in-sink compactions)
        write_batch_files(0, 13)
        q.processAllAvailable()
        mid_frags = fragments()
        serve_equiv(13, ["shared", "term7"])
        # phase 2: 8 more appends (compactions at append 16 and 20)
        write_batch_files(13, 21)
        q.processAllAvailable()
    finally:
        q.stop()

    end_frags = fragments()
    n_dirs = len(glob.glob(f"{idx_path}/postings/tb=*"))
    # bounded: never more than one compacted file per bucket plus the
    # fragments of at most compact_every un-compacted appends (each append
    # touches <= 4 term buckets).  A no-compaction run of 21 batches leaves
    # ~4 fragments per batch (~80+); the in-sink discipline keeps it near
    # the floor at both probe points.
    bound = n_dirs + 4 * 4
    assert mid_frags <= bound, (mid_frags, bound)
    assert end_frags <= bound, (end_frags, bound)
    # final equivalence: postings bit-identical to the one-shot build
    idx, want = serve_equiv(21, ["shared", "term19", "tail3"])
    assert sorted(
        (r.t, r.doc_id, r.tf, r.dl, tuple(r.pos)) for r in idx.postings.collect()
    ) == sorted(
        (r.t, r.doc_id, r.tf, r.dl, tuple(r.pos)) for r in want.postings.collect()
    )
