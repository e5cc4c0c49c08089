"""stats_feed: the paper's core dataflow under an open-loop feed.

One generator thread writes the emulated snapshot topic on a fixed schedule
that does not slow when the stream does. The stream runs
``read_emulated_topic_stream`` -> ``stats_delta_stream`` (default binding)
-> ``foreachBatch`` {``upsert_batch_partitioned`` into a serving table, then
``alert_fanout`` against a seeded user-prefs table}.

Micro-batches start on a fixed trigger interval, so each carries the same
number of events and a slower batch does not grow the next one. Latency of
an event runs from the moment its tick was due to the return of the
``foreachBatch`` body that emitted its delta. The measurement window is the
first ``ceil(--seconds / TRIGGER_S)`` batches that each carry a full trigger
interval of events. Latency counts every event those batches emitted, so no
event created during warm-up is counted, and every counted event has been
emitted when the run ends. Batches after the window run the stateful step
and write nothing.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import threading
import time
import zlib
from dataclasses import dataclass

import harness
import inputs

RATE_PER_S = 40  # offered load, events per second: about a quarter of capacity
TICK_S = 1.0  # the generator writes one tick of events every TICK_S
TRIGGER_S = 10.0  # micro-batch trigger interval; Spark aligns triggers to its multiples
MAX_WARM_BATCHES = 3  # fed batches to wait for one that carries a full interval
TAIL_PCT = 90
FEED_SLACK_S = 60.0  # feed scheduled beyond the window, for slow batches
RUN_TIMEOUT_S = 100.0  # beyond --seconds, before a run gives up


@dataclass
class Batch:
    batch_id: int
    start: float
    end: float
    stamps_us: list[int]
    stateful_s: float
    upsert_s: float
    buckets: int
    fanout_s: float
    alerts: int
    gc_s: float  # JVM collector time when the batch ended (traced runs)


def _snapshot_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [T.StructField("state", T.StringType())]
        + [T.StructField(c, T.DoubleType()) for c in ("confirmed", "recovered", "deaths")]
    )


def _on_boundary(progress) -> bool:
    """True when the trigger started on a TRIGGER_S boundary, that is, it
    waited for the boundary instead of following a batch that overran."""
    started = dt.datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00"))
    return started.timestamp() * 1000 % (TRIGGER_S * 1000) < 100


def oracle(events, prefs) -> tuple[dict, int]:
    """Plain-Python recomputation over events in stamp order: latest
    (cumulative, delta) per key, and how many (user, event) alerts the
    fan-out must emit."""
    followers: dict[str, int] = {}
    for _user, keys, subscribed in prefs:
        if subscribed:
            for k in keys:
                followers[k] = followers.get(k, 0) + 1
    prev: dict[str, tuple[int, ...]] = {}
    latest = {}
    alerts = 0
    for key, *cum in events:
        before = prev.get(key, (0, 0, 0))
        delta = tuple(c - b for c, b in zip(cum, before))
        if any(d > 0 for d in delta):
            alerts += followers.get(key, 0)
        prev[key] = tuple(cum)
        latest[key] = (*cum, *delta)
    return latest, alerts


def run(spark, args, work: str, tracer: harness.Tracer, probe: harness.JvmProbe,
        result: harness.Result) -> None:
    from pyspark.sql import functions as F

    from covid19_spark.sources.kafka import read_emulated_topic_stream
    from covid19_spark.streaming.pipelines import alert_fanout, stats_delta_stream
    from covid19_spark.streaming.table import upsert_batch_partitioned

    window_batches = max(1, math.ceil(args.seconds / TRIGGER_S))
    feed = inputs.make_feed(args.seed, RATE_PER_S, TICK_S,
                            round((args.seconds + FEED_SLACK_S) / TICK_S))
    prefs_rows = inputs.user_prefs(args.seed, feed.keys)
    topic, table = os.path.join(work, "topic"), os.path.join(work, "serving", "statewise_delta")
    prefs = spark.createDataFrame(prefs_rows, "userId string, myStates array<string>, subscribed boolean")
    prefs = prefs.cache()
    prefs.count()

    batches: list[Batch] = []
    failures: list[str] = []
    window = {"closing": False}
    feed_start = threading.Event()

    def body(batch, batch_id: int) -> None:
        if window["closing"]:
            # after the window: run the stateful step (its state stores must
            # commit) but write nothing
            batch.write.format("noop").mode("overwrite").save()
            return
        start = time.time()
        try:
            cached = batch.persist()
            t0 = time.perf_counter()
            stamps = [r[0] for r in cached.select(F.unix_micros("ts")).collect()]
            t1 = time.perf_counter()
            buckets = upsert_batch_partitioned(cached, table, ["state"], "ts")
            t2 = time.perf_counter()
            alerts = alert_fanout(cached, prefs).count()
            t3 = time.perf_counter()
            cached.unpersist()
        except Exception as e:  # noqa: BLE001 - recorded, then the stream fails
            failures.append(f"batch {batch_id}: {e!r}"[:500])
            raise
        end = time.time()
        gc = probe.gc_s() if tracer.enabled else 0.0
        batches.append(Batch(batch_id, start, end, stamps, t1 - t0, t2 - t1, len(buckets),
                             t3 - t2, alerts, gc))
        harness.log(f"batch {batch_id}: rows={len(stamps)} body={end - start:.2f}s "
                    f"stateful={t1 - t0:.2f}s upsert={t2 - t1:.2f}s fanout={t3 - t2:.2f}s")
        tracer.add("streaming.stateful", t0, t1, f"batch{batch_id}")
        tracer.add("streaming.upsert", t1, t2, f"batch{batch_id}")
        tracer.add("streaming.fanout", t2, t3, f"batch{batch_id}")
        feed_start.set()

    # cold start: the first batch launches the stateful Python runner, so it
    # runs on a seed tick (one snapshot per key) before the feed starts
    seed_us = int(time.time() * 1e6)
    files_per_tick = [inputs.write_topic_files(topic, 0, feed.seed_events, seed_us)]
    written_at = [time.time()]
    late = [0.0]
    stop = threading.Event()
    clock = {"g0": 0.0}

    def generate() -> None:
        # The first tick is due half a second before the first trigger
        # boundary at least 1.5 s after the cold batch ends, and the next
        # ones every second after it. So the first fed batch starts on that
        # boundary with one tick, every later one on the next boundary with a
        # full interval of ticks, and no batch depends on where the cold batch
        # happened to end.
        while not feed_start.wait(0.1):
            if stop.is_set():
                return
        g0 = clock["g0"] = math.ceil((time.time() + 1.5) / TRIGGER_S) * TRIGGER_S - 0.5
        for i, events in enumerate(feed.ticks):
            due = g0 + i * TICK_S
            wait = due - time.time()
            if (wait > 0 and stop.wait(wait)) or stop.is_set():
                return
            files_per_tick.append(inputs.write_topic_files(topic, i + 1, events, int(due * 1e6)))
            written_at.append(time.time())
            late[0] = max(late[0], time.time() - due)

    gen = threading.Thread(target=generate, name="feed-generator")
    gen.start()
    query = None
    try:
        with tracer.span("sources.stream_start"):
            src = read_emulated_topic_stream(spark, topic, _snapshot_schema())
        with tracer.span("streaming.stream_start"):
            query = (
                stats_delta_stream(src)
                .writeStream.foreachBatch(body)
                .trigger(processingTime=f"{TRIGGER_S} seconds")
                .option("checkpointLocation", os.path.join(work, "checkpoint"))
                .start()
            )
        # The window is the first `window_batches` batches that each carry a
        # full trigger interval of events: those whose predecessor started
        # on a trigger boundary. A stream that never keeps up with the
        # trigger gets its window after MAX_WARM_BATCHES fed batches.
        deadline = time.time() + args.seconds + RUN_TIMEOUT_S
        first = None
        while query.isActive and not failures:
            if time.time() > deadline:
                failures.append("the measurement window did not close")
                break
            time.sleep(0.1)
            if first is None:
                started_on_boundary = {
                    p["batchId"] for p in query.recentProgress if _on_boundary(p)}
                first = next((i for i in range(2, len(batches))
                              if batches[i - 1].batch_id in started_on_boundary), None)
                if first is None and len(batches) > 1 + MAX_WARM_BATCHES:
                    first = 1 + MAX_WARM_BATCHES
            if first is not None and len(batches) >= first + window_batches:
                window["closing"] = True
                break
        stop.set()
        gen.join()
        # the last window batch reports its progress after its commit
        last_id = batches[-1].batch_id if batches and tracer.enabled else -1
        deadline = time.time() + 10.0
        while (query.isActive and time.time() < deadline
               and all(p["batchId"] < last_id for p in query.recentProgress)):
            time.sleep(0.05)
        progress = list(query.recentProgress)
    finally:
        stop.set()
        gen.join()
        if query is not None:
            query.stop()
    g0 = clock["g0"]
    error = query.exception()
    if error is not None:
        failures.append(str(error)[:500])
    first = first or len(batches)
    in_window = batches[first:first + window_batches]
    w0 = batches[first - 1].end if batches else time.time()
    result.end_to_end["setup_s"] = (harness.process_age_s() - (time.time() - w0), "s")

    # --- correctness: the serving table and alert count against the oracle ---
    # a key's events all sit in one topic partition, read in order, so the
    # emitted events of each key must be a prefix of what was generated
    emitted = {s for b in batches for s in b.stamps_us}
    generated = [(seed_us + j, ev) for j, ev in enumerate(feed.seed_events)] + [
        (int((g0 + i * TICK_S) * 1e6) + j, ev)
        for i, tick in enumerate(feed.ticks) for j, ev in enumerate(tick)
    ]
    cut: set[str] = set()
    gaps = 0
    for stamp, ev in generated:
        if stamp in emitted:
            gaps += ev[0] in cut
        else:
            cut.add(ev[0])
    expected, expected_alerts = oracle([ev for s, ev in generated if s in emitted], prefs_rows)
    alerts = sum(b.alerts for b in batches)
    result.check(not failures, f"stream failures: {failures}")
    result.check(len(emitted) == sum(len(b.stamps_us) for b in batches), "an event was emitted twice")
    result.check(gaps == 0, f"{gaps} events emitted after an earlier event of their key was skipped")
    result.check(alerts == expected_alerts, f"alerts {alerts} != expected {expected_alerts}")
    served = {}
    if os.path.isdir(table):
        rows = spark.read.parquet(table).select(
            "state", "confirmed", "recovered", "deaths",
            "delta_confirmed", "delta_recovered", "delta_deaths",
        ).collect()
        served = {r[0]: tuple(int(v) for v in r[1:]) for r in rows}
        result.check(len(rows) == len(served), "serving table holds duplicate keys")
    bad = [k for k in expected if served.get(k) != expected[k]]
    result.check(not bad and len(served) == len(expected),
                 f"serving table differs on {len(bad)} keys, e.g. {bad[:3]}")
    result.attempted = len(batches) + len(failures)
    result.failed = len(failures)
    cold = batches[0] if batches else None
    result.exact.update(
        feed_crc=zlib.crc32(repr(feed.ticks[:50]).encode()),
        seed_rows=len(cold.stamps_us) if cold else 0,
        seed_alerts=cold.alerts if cold else 0,
        seed_buckets=cold.buckets if cold else 0,
        keys=len(feed.keys),
    )

    # --- end-to-end: the window's batches ------------------------------------
    latencies = [b.end - s / 1e6 for b in in_window for s in b.stamps_us]
    w1 = in_window[-1].end if in_window else w0
    rows = sum(len(b.stamps_us) for b in in_window)
    result.end_to_end.update(
        latency_p50_s=(harness.median(latencies), "s"),
        latency_tail_s=(harness.percentile(latencies, TAIL_PCT), "s"),
        throughput_per_s=(rows / (w1 - w0) if w1 > w0 else 0.0, "1/s"),
    )
    if not tracer.enabled:
        return

    # --- per layer (traced run) ---------------------------------------------
    def started(p) -> float:
        return dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()

    by_id = {p["batchId"]: p for p in progress}
    win = [by_id[b.batch_id] for b in in_window if b.batch_id in by_id]
    g0_us, tick_us = int(g0 * 1e6), int(TICK_S * 1e6)
    backlog = []
    for b in in_window:
        p = by_id.get(b.batch_id)
        if p is None:
            continue
        earlier = [s for e in batches if e.end <= b.start for s in e.stamps_us if s >= g0_us]
        ticks_consumed = 2 + round((max(earlier) - g0_us) / tick_us) if earlier else 1
        ticks_written = sum(1 for w in written_at if w <= started(p))
        backlog.append(sum(files_per_tick[ticks_consumed:ticks_written]))
    busy = 0.0
    for p in progress:
        s = started(p)
        e = s + p["durationMs"].get("triggerExecution", 0) / 1e3
        busy += max(0.0, min(e, w1) - max(s, w0))
    dur = [p["durationMs"] for p in win]
    ops = [p["stateOperators"][0] for p in win if p.get("stateOperators")]
    L = result.layers
    L["sources.backlog_files_p50"] = (harness.median(backlog), "count")
    L["sources.backlog_files_max"] = (float(max(backlog, default=0)), "count")
    L["sources.offset_ms_p50"] = (
        harness.median(d.get("latestOffset", 0) + d.get("getBatch", 0) for d in dur), "ms")
    L["streaming.batches"] = (float(len(in_window)), "count")
    L["streaming.batch_s_p50"] = (harness.median(d.get("triggerExecution", 0) / 1e3 for d in dur), "s")
    L["streaming.rows_per_batch_p50"] = (harness.median(len(b.stamps_us) for b in in_window), "count")
    L["streaming.stateful_s_p50"] = (harness.median(b.stateful_s for b in in_window), "s")
    L["streaming.upsert_s_p50"] = (harness.median(b.upsert_s for b in in_window), "s")
    L["streaming.upsert_buckets_p50"] = (harness.median(b.buckets for b in in_window), "count")
    L["streaming.fanout_s_p50"] = (harness.median(b.fanout_s for b in in_window), "s")
    L["streaming.alerts"] = (float(sum(b.alerts for b in in_window)), "count")
    L["streaming.overhead_ms_p50"] = (harness.median(
        d.get("walCommit", 0) + d.get("commitOffsets", 0) + d.get("queryPlanning", 0) for d in dur), "ms")
    L["streaming.state_rows"] = (float(ops[-1].get("numRowsTotal", 0)) if ops else 0.0, "count")
    L["streaming.state_mem_bytes"] = (float(ops[-1].get("memoryUsedBytes", 0)) if ops else 0.0, "bytes")
    L["streaming.state_commit_ms_p50"] = (harness.median(o.get("commitTimeMs", 0) for o in ops), "ms")
    L["streaming.idle_share"] = (max(0.0, 1.0 - busy / (w1 - w0)) if w1 > w0 else 0.0, "share")
    L["session.jvm_gc_s"] = (in_window[-1].gc_s - batches[first - 1].gc_s if in_window else 0.0, "s")
    L["gen_late_max_s"] = (late[0], "s")
