"""serve_requests: closed-loop user requests against the serving tables.

Setup builds the reference-scale serving tables (38 states + Total, 20
districts per state, 120 days) through the write paths ``stats_feed`` uses:
``Materializer`` for the statewise, districtwise and dimension tables, and
``upsert_batch_partitioned`` for the bucketed ``statewise_delta`` table.
Two clients then answer requests one after another through
``handle_user_request``, as the reference consumer answers polled requests.
Every reply is checked against values computed from the generator's own
series.
"""

from __future__ import annotations

import os
import re
import shutil
import threading
import time
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Decimal

import harness
import inputs

CLIENTS = 2
TAIL_PCT = 75  # of about 20 requests per window
LAST_UPDATED = "01/08/2020 18:00:00"


# --- oracle: expected reply numbers from the generator's series -------------

def _counts_line(parts) -> str:
    words = [f"{v} {one if v == 1 else many}" for v, one, many in parts if v > 0]
    return ", ".join(words)


def _half_up(x: float) -> int:
    return int(Decimal(repr(x)).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def expected_reply_numbers(data: inputs.ServeData, request: str) -> dict:
    """What a reply must contain, derived from the cumulative series."""
    today = len(data.days) - 1

    def daily(cum, i):
        return tuple(c - (cum[i - 1][j] if i else 0) for j, c in enumerate(cum[i]))

    if request == "Summary":
        return {"rows": {inputs.STATE_CODES[s]: data.state_cum[s][today] for s in data.state_cum}}
    if request in ("Today", "Yesterday"):
        i = today if request == "Today" else today - 1
        rows = {inputs.STATE_CODES[s]: daily(cum, i) for s, cum in data.state_cum.items()}
        return {"rows": {k: v for k, v in rows.items() if any(v) or k == "Total"}}
    cum = data.state_cum[request]
    c, r, d = cum[today]
    dc, dr, dd = daily(cum, today)
    yc = daily(cum, today - 1)[0]
    ycur = cum[today - 1][0]
    rate = str(_half_up(70.0 / (100.0 * yc / ycur))) if ycur > 0 and yc > 0 else "0"
    tested, positive = data.tests[request][today]
    lines = []
    for (s, name), dcum in data.district_cum.items():
        if s != request:
            continue
        for i in range(len(data.days)):
            dc_, dr_, dd_ = daily(dcum, i)
            text = _counts_line([(dc_, "new case", "new cases"), (dd_, "death", "deaths"),
                                 (dr_, "recovery", "recoveries")])
            if text:
                lines.append(f"{text} in {name}")
    return {
        "block": [
            f"Total cases  : (↑{dc}) {c}", f"Active       : (↑{dc - dr - dd}) {c - r - d}",
            f"Recovered    : (↑{dr}) {r}", f"Deaths       : (↑{dd}) {d}",
            f"Doubling rate: {rate} days",
            f"<pre>Total tested   : (↑?) {tested}", f"Positive       : (↑?) {positive}",
            f"Positivity rate: {100.0 * positive / tested:.2f}%",
        ],
        "district_lines": sorted(lines),
        "source": f"Source: https://news.example/{inputs.STATE_CODES[request]}",
    }


_ROW = re.compile(r"^(.{5})\|\s*(-?\d+)\|\s*(-?\d+)\|\s*(-?\d+)$")


def check_reply(expected: dict, text: str) -> str | None:
    """None when the reply carries the expected numbers, else a reason."""
    if "rows" in expected:
        got = {}
        for line in text.splitlines():
            m = _ROW.match(line.replace("</pre>", ""))
            if m and m.group(1).strip() != "State":
                got[m.group(1).strip()] = tuple(int(m.group(k)) for k in (2, 3, 4))
        return None if got == expected["rows"] else f"summary rows differ: {sorted(set(got.items()) ^ set(expected['rows'].items()))[:4]}"
    lines = text.splitlines()
    missing = [b for b in expected["block"] if b not in lines]
    if missing:
        return f"block lines missing: {missing[:3]}"
    districts = sorted(line for line in lines if re.search(r" in .+ D\d\d$", line))
    if districts != expected["district_lines"]:
        return f"district lines differ ({len(districts)} vs {len(expected['district_lines'])})"
    if expected["source"] not in lines:
        return "news source line missing"
    return None


# --- setup ------------------------------------------------------------------

def build_tables(spark, data: inputs.ServeData, raw: str, out: str, tracer) -> None:
    from covid19_spark.serving.stores import Materializer
    from covid19_spark.streaming.table import upsert_batch_partitioned

    inputs.write_serve_inputs(data, raw)
    read = lambda name: spark.read.parquet(os.path.join(raw, f"{name}.parquet"))  # noqa: E731
    m = Materializer(spark, out)
    with tracer.span("serving.materialize"):
        m.refresh_statewise(read("statewise"), ts_col="last_updated")
        m.refresh_districtwise(read("districtwise"), ts_col="ts")
        m.refresh_dimension(read("news"), "news_sources")
        m.refresh_dimension(read("tests"), "statewise_test_data")
    # the latest-delta table goes through the upsert sink, like stats_feed's
    staged = os.path.join(raw, "statewise_delta_batch")
    shutil.move(os.path.join(out, "statewise_delta"), staged)
    with tracer.span("streaming.upsert"):
        upsert_batch_partitioned(spark.read.parquet(staged), os.path.join(out, "statewise_delta"),
                                 ["state"], "last_updated")


def _kind(request: str) -> str:
    return request.lower() if request in ("Summary", "Today", "Yesterday") else "state"


@dataclass
class Request:
    index: int
    request: str
    issued: float
    done: float
    text: str | None
    error: str | None
    jobs: int = 0
    stage_ids: tuple[int, ...] = ()


def run(spark, args, work: str, tracer: harness.Tracer, probe: harness.JvmProbe,
        result: harness.Result) -> None:
    from covid19_spark.serving.requests import handle_user_request
    from covid19_spark.serving.stores import StoreReader

    data = inputs.make_serve_data(args.seed)
    out = os.path.join(work, "serving")
    t0 = time.perf_counter()
    build_tables(spark, data, os.path.join(work, "raw"), out, tracer)
    build_s = time.perf_counter() - t0
    reader = StoreReader(spark, out)
    today = data.days[-1]
    sequence = inputs.request_sequence(args.seed)
    harness.log("serve_requests: tables built")

    lock = threading.Lock()
    cursor = [0]
    records: list[Request] = []
    sc = spark.sparkContext

    def next_index(stop_at: float | None) -> int | None:
        """The next request, or None once warm-up or the window is done.
        Both end on a round boundary, so every window holds whole rounds."""
        with lock:
            i = cursor[0]
            done = i > 0 if stop_at is None else time.time() >= stop_at
            if done and i % inputs.REQUEST_ROUND == 0:
                return None
            cursor[0] += 1
            return i

    def client(stop_at: float | None) -> None:
        while (i := next_index(stop_at)) is not None:
            group = f"req{i}"
            sc.setJobGroup(group, sequence[i])
            issued = time.time()
            try:
                text, error = handle_user_request(reader, sequence[i], today, LAST_UPDATED), None
            except Exception as e:  # noqa: BLE001 - a failed request is counted, not fatal
                text, error = None, repr(e)[:300]
            r = Request(i, sequence[i], issued, time.time(), text, error)
            if tracer.enabled:
                r.jobs, stage_ids = probe.group_jobs_stages(group)
                r.stage_ids = tuple(stage_ids)
                tracer.add(f"serving.request.{_kind(r.request)}", r.issued, r.done, group)
            with lock:
                records.append(r)

    def run_clients(stop_at: float | None) -> None:
        threads = [threading.Thread(target=client, args=(stop_at,)) for _ in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    run_clients(None)  # warm-up: the first round
    w0 = time.time()
    result.end_to_end["setup_s"] = (harness.process_age_s(), "s")
    gc0 = probe.gc_s() if tracer.enabled else 0.0
    run_clients(w0 + args.seconds)
    gc1 = probe.gc_s() if tracer.enabled else 0.0
    harness.log(f"serve_requests: {len(records)} requests done")

    # --- correctness: every reply, warm-up included --------------------------
    expected: dict[str, dict] = {}
    wrong = []
    for r in records:
        if r.error is None:
            if r.request not in expected:
                expected[r.request] = expected_reply_numbers(data, r.request)
            reason = check_reply(expected[r.request], r.text)
            if reason:
                wrong.append(f"{r.request}: {reason}")
    failed = [r.error for r in records if r.error is not None]
    result.check(not failed, f"{len(failed)} requests raised, e.g. {failed[:1]}")
    result.check(not wrong, f"{len(wrong)} wrong replies, e.g. {wrong[:2]}")
    result.attempted = len(records)
    result.failed = len(failed)

    # --- end-to-end: requests issued inside the window -----------------------
    window = [r for r in records if r.index >= inputs.REQUEST_ROUND]
    latencies = [r.done - r.issued for r in window]
    w1 = max((r.done for r in window), default=w0)
    result.end_to_end.update(
        latency_p50_s=(harness.median(latencies), "s"),
        latency_tail_s=(harness.percentile(latencies, TAIL_PCT), "s"),
        throughput_per_s=(len(window) / (w1 - w0) if w1 > w0 else 0.0, "1/s"),
    )
    # exact counters come from the warm-up requests, the same ones every run
    first_of_kind: dict[str, Request] = {}
    for r in sorted(records, key=lambda r: r.index):
        if r.index < inputs.REQUEST_ROUND:
            first_of_kind.setdefault(_kind(r.request), r)
    result.exact["reply_chars"] = {k: len(r.text or "") for k, r in first_of_kind.items()}
    if not tracer.enabled:
        return

    # --- per layer (traced run) ---------------------------------------------
    totals = probe.stage_totals(sid for r in records for sid in r.stage_ids)

    def per_request(key: str) -> list[float]:
        return [sum(totals[s][key] for s in r.stage_ids if s in totals) for r in window]

    L = result.layers
    for kind in ("state", "summary", "today", "yesterday"):
        L[f"serving.request_s_p50.{kind}"] = (
            harness.median(r.done - r.issued for r in window if _kind(r.request) == kind), "s")
    L["serving.jobs_per_request"] = (harness.median(r.jobs for r in window), "count")
    L["serving.tasks_per_request"] = (harness.median(per_request("tasks")), "count")
    L["serving.materialize_s"] = (build_s, "s")
    L["operators.stages_per_request"] = (
        harness.median(sum(1 for s in r.stage_ids if s in totals) for r in window), "count")
    L["operators.task_run_s_p50"] = (harness.median(per_request("run_s")), "s")
    L["operators.task_gc_s_p50"] = (harness.median(per_request("gc_s")), "s")
    L["operators.shuffle_write_bytes_p50"] = (harness.median(per_request("shuffle_write")), "bytes")
    L["operators.spill_bytes_p50"] = (harness.median(per_request("spill")), "bytes")
    L["sources.input_bytes_p50"] = (harness.median(per_request("input_bytes")), "bytes")
    L["session.jvm_gc_s"] = (gc1 - gc0, "s")
    result.exact["jobs_stages_tasks"] = {
        k: [r.jobs, sum(1 for s in r.stage_ids if s in totals),
            sum(totals[s]["tasks"] for s in r.stage_ids if s in totals)]
        for k, r in first_of_kind.items()
    }
