"""On-demand user-request dispatch (§3.2 query lifecycle).

Reference: ``UserRequestConsumer.listenForUserRequests``
(``request/UserRequestConsumer.java:87-142``) dispatches on request.state:
Summary → full-scan summary, Today/Yesterday → per-date summary (+ chart),
else per-state block assembled from six store lookups.

Spark shape: each branch is a handful of lookups in the driver-side
snapshots of the materialized serving tables (``serving.stores.StoreReader``;
a warm request runs no Spark job) plus the golden format functions — the
Kafka request/response round-trip is transport, not engine (SURVEY §3.2:
"capability to preserve = the queries"). Chart bytes come from the
visualizations table when present (S7 produces them).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from covid19_spark.schemas import USER_REQUEST
from covid19_spark.serving import format as fmt
from covid19_spark.serving.stores import StoreReader

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


def _sorted_summary_rows(rows: list[dict], value_col: str) -> list[dict]:
    """Summary-table rows by ``value_col`` descending (NULLs last, as Spark's
    descending ``orderBy``), ties by state name."""
    rows = sorted(
        rows, key=lambda r: (r.get(value_col) is None, -(r.get(value_col) or 0), str(r["state"]))
    )
    return [_delta_row_to_dict(r) for r in rows]


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
        rows = _sorted_summary_rows(reader.rows("statewise_delta"), "confirmed")
        return fmt.build_state_summary_alert_text(rows, last_updated, daily=False)

    if state.lower() in ("today", "yesterday"):
        date = today if state.lower() == "today" else today - dt.timedelta(days=1)
        rows = _sorted_summary_rows(reader.daily_count_for(date=date), "sum_delta_confirmed")
        return fmt.build_state_summary_alert_text(rows, last_updated, daily=True)

    # per-state block: six store lookups -> one summary block
    # (reference: delta, daily, news source, 14d test data, yesterday's
    # doubling rate, district dailies — UserRequestConsumer.java:108-128).
    delta_rows = reader.delta_stats_for_state(state)
    if not delta_rows:
        return f"No data for {state}"
    delta = _delta_row_to_dict(delta_rows[0])
    daily_rows = reader.daily_count_for(date=today, state=state)
    daily = (
        _delta_row_to_dict(daily_rows[0])
        if daily_rows
        else {"state": state, "delta_confirmed": 0, "delta_recovered": 0, "delta_deaths": 0}
    )
    testing: dict[str, dict] = {}
    latest = reader.latest_test_data_within_14d(state, today)
    if latest is not None:
        testing[state] = dict(latest)
        testing[state].setdefault("updatedon", str(latest.get("date")))
    rate_rows = reader.doubling_rate_for(state, today - dt.timedelta(days=1))
    rates = {
        state: (
            str(int(rate_rows[0]["doubling_days"]))
            if rate_rows and rate_rows[0].get("doubling_days") is not None
            else "0"  # reference emits "0" when unavailable (Covid19Stats.java:198)
        )
    }
    districts = sorted(
        reader.district_stats_for(state),
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
    news = reader.news_source_for(state)
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

    requests = read_emulated_topic_stream(spark, request_topic_dir, USER_REQUEST)
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
