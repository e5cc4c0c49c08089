"""On-demand user-request dispatch (§3.2 query lifecycle).

Reference: ``UserRequestConsumer.listenForUserRequests``
(``request/UserRequestConsumer.java:87-142``) dispatches on request.state:
Summary → full-scan summary, Today/Yesterday → per-date summary (+ chart),
else per-state block assembled from six store lookups.

Spark shape: each branch is a handful of batch queries against the
materialized serving tables (``serving.stores.StoreReader``) plus the golden
format functions — the Kafka request/response round-trip is transport, not
engine (SURVEY §3.2: "capability to preserve = the queries"). Chart bytes
come from the visualizations table when present (S7 produces them).
"""

from __future__ import annotations

import datetime as dt
import json
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from covid19_spark.serving import format as fmt
from covid19_spark.serving.stores import StoreReader

#: the ``user-request`` topic value (reference ``UserRequest.java:14-17``).
USER_REQUEST_SCHEMA = T.StructType(
    [
        T.StructField("chatId", T.StringType()),
        T.StructField("state", T.StringType()),
    ]
)


def _one_shot_sections(frames: dict[str, DataFrame]) -> dict[str, list[dict]]:
    """Collect several small store lookups with ONE ``collect``.

    Each lookup is tagged and serialized to a JSON payload column, the
    frames union into one plan, and a single ``collect`` fans the rows back
    out per section. The per-state request path batches its six store
    lookups this way — one driver round-trip instead of six sequential
    collects (the reference pays six RocksDB point reads; a Spark job each
    is the wrong currency for serving-path latency).

    On warm store handles the union runs as one Spark job: every section is
    a filtered scan, with no shuffle. The 14-day as-of probe therefore joins
    the union unreduced (at most 14 rows) and the caller picks its latest
    row on the driver.

    NULL fields are dropped by ``to_json`` — consumers read payload dicts
    with ``.get``; the serving tables carry no legitimately-NULL columns.
    """
    tagged = [
        df.select(
            F.lit(name).alias("__section"),
            F.to_json(F.struct(*df.columns)).alias("__payload"),
        )
        for name, df in frames.items()
    ]
    union = reduce(lambda a, b: a.unionByName(b), tagged)
    out: dict[str, list[dict]] = {name: [] for name in frames}
    for r in union.collect():
        out[r["__section"]].append(json.loads(r["__payload"]))
    return out


def _delta_row_to_dict(r) -> dict:
    return {
        "state": r["state"],
        "delta_confirmed": r.get("delta_confirmed", r.get("sum_delta_confirmed", 0)),
        "delta_recovered": r.get("delta_recovered", r.get("sum_delta_recovered", 0)),
        "delta_deaths": r.get("delta_deaths", r.get("sum_delta_deaths", 0)),
        "current_confirmed": r.get("confirmed", r.get("last_confirmed", 0)),
        "current_recovered": r.get("recovered", r.get("last_recovered", 0)),
        "current_deaths": r.get("deaths", r.get("last_deaths", 0)),
    }


def _sorted_summary_rows(rows, value_col: str) -> list[dict]:
    """Summary-table rows by ``value_col`` descending (NULLs last, as Spark's
    descending ``orderBy``), ties by state name. Sorted on the driver: a
    reply holds one row per state, and a Spark ``orderBy`` would add a
    range-partition sampling job and leave the order of ties to the shuffle.
    """
    dicts = [r.asDict() for r in rows]
    dicts.sort(key=lambda r: (r[value_col] is None, -(r[value_col] or 0), str(r["state"])))
    return [_delta_row_to_dict(r) for r in dicts]


def handle_user_request(
    reader: StoreReader,
    state: str,
    today: dt.date,
    last_updated: str = "",
) -> str:
    """Answer one user request with the reference's dispatch semantics.

    ``state`` ∈ {"Summary", "Today", "Yesterday", <state name>}; returns the
    alert text (photo attachment is the caller's concern).
    """
    if state.lower() == "summary":
        rows = _sorted_summary_rows(reader._t("statewise_delta").collect(), "confirmed")
        return fmt.build_state_summary_alert_text(rows, last_updated, daily=False)

    if state.lower() in ("today", "yesterday"):
        date = today if state.lower() == "today" else today - dt.timedelta(days=1)
        rows = _sorted_summary_rows(
            reader.daily_count_for(date=date).collect(), "sum_delta_confirmed"
        )
        return fmt.build_state_summary_alert_text(rows, last_updated, daily=True)

    # per-state block: six store lookups -> one summary block
    # (reference: delta, daily, news source, 14d test data, yesterday's
    # doubling rate, district dailies — UserRequestConsumer.java:108-128).
    # All six collect in one batched union (_one_shot_sections).
    yesterday = today - dt.timedelta(days=1)
    sections = _one_shot_sections(
        {
            "delta": reader.delta_stats_for_state(state),
            "daily": reader.daily_count_for(date=today, state=state),
            "test": reader.test_data_within_14d(state, today),
            "rate": reader.doubling_rate_for(state, yesterday),
            "districts": reader.district_stats_for(state, daily=True),
            "news": reader.news_source_for(state),
        }
    )
    if not sections["delta"]:
        return f"No data for {state}"
    delta = _delta_row_to_dict(sections["delta"][0])
    daily = (
        _delta_row_to_dict(sections["daily"][0])
        if sections["daily"]
        else {"state": state, "delta_confirmed": 0, "delta_recovered": 0, "delta_deaths": 0}
    )
    testing: dict[str, dict] = {}
    if sections["test"]:
        # latest_within_lookback's rule: the newest date wins, ties arbitrary
        latest = max(sections["test"], key=lambda r: r["date"])
        testing[state] = dict(latest)
        testing[state].setdefault("updatedon", str(latest.get("date")))
    rate_rows = sections["rate"]
    rates = {
        state: (
            str(int(rate_rows[0]["doubling_days"]))
            if rate_rows and rate_rows[0].get("doubling_days") is not None
            else "0"  # reference emits "0" when unavailable (Covid19Stats.java:198)
        )
    }
    districts = sorted(
        sections["districts"],
        key=lambda d: (-(d.get("sum_delta_confirmed") or 0), d.get("district") or ""),
    )
    district_dicts = [
        {
            "district": d["district"],
            "delta_confirmed": d.get("sum_delta_confirmed", 0),
            "delta_recovered": d.get("sum_delta_recovered", 0),
            "delta_deceased": d.get("sum_delta_deceased", 0),
        }
        for d in districts
    ]
    text = fmt.build_summary_alert_block(
        [delta], [daily], testing, rates, {state: district_dicts}
    )
    news = sections["news"]
    if state.lower() != "total" and news:
        text += f"\nSource: {news[0]['url']}"
    return text


def serve_user_requests_stream(
    spark: SparkSession,
    reader: StoreReader,
    request_topic_dir: str,
    reply_topic_dir: str,
    today: dt.date,
    last_updated: str = "",
    checkpoint_dir: str | None = None,
):
    """§3.2 transport loop over emulated topics: consume ``UserRequest``
    records, dispatch each through ``handle_user_request``, produce
    ``(chatId, state, text)`` replies keyed by chatId — the Spark shape of
    ``UserRequestConsumer.listenForUserRequests``
    (``UserRequestConsumer.java:87-142``: poll the ``user-request`` topic,
    answer via store lookups, send the alert back to the chat).

    The per-batch ``collect`` is bounded by the poll size by construction —
    the reference consumer caps it at ``max-poll-records: 100``
    (``application.yml:23``); requests are human-issued bot commands, not a
    data stream, so the driver loop is the serving tier, not a scale path.
    Returns the started streaming query (caller stops it)."""
    from covid19_spark.sources.kafka import (
        emulated_topic_sink,
        read_emulated_topic_stream,
    )

    requests = read_emulated_topic_stream(spark, request_topic_dir, USER_REQUEST_SCHEMA)
    produce_reply = emulated_topic_sink(reply_topic_dir, F.col("chatId"))

    def dispatch(batch: DataFrame, batch_id: int) -> None:
        polled = batch.select("chatId", "state").collect()
        replies = [
            (r["chatId"], r["state"], handle_user_request(reader, r["state"], today, last_updated))
            for r in polled
        ]
        if replies:
            produce_reply(
                spark.createDataFrame(
                    replies, "chatId string, state string, text string"
                ),
                batch_id,
            )

    writer = requests.writeStream.foreachBatch(dispatch)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
