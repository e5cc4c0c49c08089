"""The reference's topologies rebuilt as Structured Streaming dataflows.

Each pipeline is a pure streaming-DataFrame transform (source- and
sink-agnostic): bind a Kafka/file source and a Kafka/Delta/memory sink at the
edges. Tests drive them with file sources + memory sinks; production binds
``sources.kafka``.

Reference topologies (SURVEY §3):
- stats (``Covid19Stats.java:81-167``): statewise/districtwise snapshots →
  running delta per key → 1-day windowed rollup → doubling rate.
- patients (``Covid19PatientAnalyzer.java:55-89``): filter empty status →
  past-week filter → best news source → dedup 7d → re-key by state.
- alert fan-out (``StatsAlertConsumerConfig.java:89-188``): nonzero deltas ⋈
  daily stats ⋈ user prefs (array_contains) → per-user alerts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from covid19_spark.functions.scalars import is_within_past_week
from covid19_spark.operators.rates import doubling_rate
from covid19_spark.streaming.dedup_stream import dedup_within_watermark
from covid19_spark.streaming.stateful_delta import streaming_running_delta
from covid19_spark.streaming.windowed import daily_window_agg


def stats_delta_stream(snapshots: DataFrame) -> DataFrame:
    """Cumulative snapshot stream → per-state delta stream (A1).

    Input: state, ts, confirmed/recovered/deaths (cumulative longs).
    Output adds delta_confirmed/delta_recovered/delta_deaths."""
    return streaming_running_delta(
        snapshots,
        key_cols=["state"],
        ts_col="ts",
        value_cols=["confirmed", "recovered", "deaths"],
    )


def daily_states_count(deltas: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Delta stream → 1-day tumbling rollup per state (A3): summed deltas +
    latest cumulative, keyed (date, state)."""
    return daily_window_agg(
        deltas,
        ts_col=ts_col,
        key_cols=["state"],
        sum_cols=["delta_confirmed", "delta_recovered", "delta_deaths"],
        last_cols=["confirmed"],
    )


def doubling_rate_stream(daily: DataFrame) -> DataFrame:
    """Daily rollup → doubling rate per (date, state) (A9/P7)."""
    return daily.select(
        "date",
        "state",
        doubling_rate(F.col("sum_delta_confirmed"), F.col("last_confirmed")).alias(
            "doubling_days"
        ),
    )


def patients_news_sources(
    patients: DataFrame,
    ts_col: str = "ts",
    dedup_retention: str = "7 days",
    date_col: str = "dateannounced",
    today=None,
) -> DataFrame:
    """Patient feed → deduplicated best-news-source stream (P1/P2/P8/T2).

    Filter empty currentstatus (``Covid19PatientAnalyzer.java:58,125-133``),
    keep only records announced within the past week (``:84,101-110``; pass
    ``today`` explicitly per the SURVEY tz note — defaults to
    ``current_date()`` in the session timezone), coalesce first non-empty of
    source3>source2>source1 (``:86,112-123``), drop null news (``:87``),
    dedup by news source within 7 days
    (``DeduplicationTransformer.java:37-88``), key by detectedstate (``:85``).
    """
    best = F.coalesce(
        F.nullif(F.col("source3"), F.lit("")),
        F.nullif(F.col("source2"), F.lit("")),
        F.nullif(F.col("source1"), F.lit("")),
    )
    today_col = F.current_date() if today is None else F.lit(today)
    cleaned = (
        patients.filter(F.col("currentstatus").isNotNull() & (F.col("currentstatus") != ""))
        .filter(is_within_past_week(F.col(date_col), today_col))
        .withColumn("news", best)
        .filter(F.col("news").isNotNull())
    )
    deduped = dedup_within_watermark(cleaned, ["news"], ts_col, dedup_retention)
    return deduped.select(F.col("detectedstate").alias("state"), "news", ts_col)


def alert_fanout(deltas: DataFrame, user_prefs: DataFrame) -> DataFrame:
    """Nonzero deltas × subscribed users whose myStates contains the state
    (J2/P4, ``StatsAlertConsumerConfig.java:118-188``).

    ``user_prefs`` is a static (or snapshot) DataFrame — a stream-static join,
    executed as broadcast against the prefs dimension.
    """
    nonzero = deltas.filter(
        (F.col("delta_confirmed") > 0)
        | (F.col("delta_recovered") > 0)
        | (F.col("delta_deaths") > 0)
    )
    subscribed = user_prefs.filter(F.col("subscribed"))
    return nonzero.join(
        F.broadcast(subscribed),
        F.array_contains(subscribed.myStates, nonzero.state),
    ).select(
        "userId", "state", "ts", "delta_confirmed", "delta_recovered", "delta_deaths",
        "confirmed",
    )
