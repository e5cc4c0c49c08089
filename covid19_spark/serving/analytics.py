"""Scheduled analytics jobs: the visualizer's chart crons as batch queries.

Reference: ``covid19-visualizer/.../Visualizer.java`` runs 8 cron jobs that
loop over dates on the driver, probe RocksDB per (state, date), assemble
Chart.js request JSON, POST to a chart service, and publish PNG bytes
(``Visualizer.java:98-538``). Here each job is one declarative query over the
materialized tables — date spine + joins instead of driver loops — emitting
one chart-request row (labels + datasets as arrays). The HTTP POST is a
driver-side utility stub (S7 is not a Spark operator, SURVEY §2.1).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from covid19_spark.operators.rates import moving_average
from covid19_spark.operators.series import top_k


def _date_spine_joined(
    daily: DataFrame, days_back: int, today, value_cols: Sequence[str]
) -> DataFrame:
    """Last-N-days spine left-joined with daily facts, gaps filled with 0 —
    the declarative form of the reference's per-date probe loops
    (``Visualizer.java:250-256``)."""
    spark = daily.sparkSession
    spine = spark.range(1).select(
        F.explode(
            F.sequence(F.date_sub(F.lit(today), days_back - 1), F.lit(today))
        ).alias("date")
    )
    joined = spine.join(daily, "date", "left")
    return joined.select(
        "date", *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in value_cols]
    )


def daily_history_chart(
    daily: DataFrame, state: str, days_back: int, today
) -> DataFrame:
    """Per-state last-N-days chart (``Visualizer.java:240-286`` shape):
    confirmed/recovered/deceased/active daily series, active clamped at 0
    (``Visualizer.java:455``)."""
    d = daily.filter(F.col("state") == state)
    base = _date_spine_joined(
        d,
        days_back,
        today,
        ["sum_delta_confirmed", "sum_delta_recovered", "sum_delta_deaths"],
    ).withColumn(
        "active",
        F.greatest(
            F.lit(0),
            F.col("sum_delta_confirmed")
            - F.col("sum_delta_recovered")
            - F.col("sum_delta_deaths"),
        ),
    )
    # collect_list order after a shuffle is NOT guaranteed: collect structs
    # and sort by the date key inside the aggregate, then project each series
    # out of the sorted array — deterministic on any partitioning.
    rows = F.sort_array(
        F.collect_list(
            F.struct(
                F.col("date").alias("date"),
                F.date_format("date", "dd-MMM").alias("label"),
                F.col("sum_delta_confirmed").alias("confirmed"),
                F.col("sum_delta_recovered").alias("recovered"),
                F.col("sum_delta_deaths").alias("deceased"),
                F.col("active").alias("active"),
            )
        )
    )
    return base.agg(rows.alias("rows")).select(
        F.lit(state).alias("chart_name"),
        F.transform("rows", lambda x: x.label).alias("labels"),
        F.transform("rows", lambda x: x.confirmed).alias("confirmed"),
        F.transform("rows", lambda x: x.recovered).alias("recovered"),
        F.transform("rows", lambda x: x.deceased).alias("deceased"),
        F.transform("rows", lambda x: x.active).alias("active"),
    )


def top_states_series(
    daily: DataFrame, k: int, days_back: int, today
) -> DataFrame:
    """True top-k states by confirmed over the window, one series per state
    (W3's rank upgrade over the reference's hardcoded list,
    ``Visualizer.java:193-215``), pivoted date×state (W4)."""
    window_facts = daily.filter(
        F.col("date").between(F.date_sub(F.lit(today), days_back - 1), F.lit(today))
    ).filter(F.col("state") != "Total")
    totals = window_facts.groupBy("state").agg(
        F.sum("sum_delta_confirmed").alias("total_confirmed")
    )
    top = top_k(totals, "total_confirmed", k, tiebreak_cols=["state"])
    facts = window_facts.join(top.select("state"), "state", "left_semi")
    return (
        facts.groupBy("date")
        .pivot("state")
        .agg(F.first("sum_delta_confirmed"))
        .orderBy("date")
    )


def testing_trend(
    test_data: DataFrame, daily: DataFrame, days_back: int, today
) -> DataFrame:
    """Testing trend for state='Total' (J4 + A6/A7,
    ``Visualizer.java:288-368``): tested vs positive per date, positivity %
    and its 5-day moving average."""
    tested = test_data.filter(F.col("state") == "Total").select(
        "date",
        F.col("totaltested").cast("long").alias("tested"),
        F.col("positive").cast("long").alias("positive"),
    )
    in_window = tested.filter(
        F.col("date").between(F.date_sub(F.lit(today), days_back - 1), F.lit(today))
    ).withColumn(
        "positivity",
        F.when(F.col("tested") > 0, F.round(100.0 * F.col("positive") / F.col("tested"), 2)),
    )
    return moving_average(
        in_window, "positivity", [], "date", out_col="positivity_ma5"
    ).orderBy("date")


def states_history_since(
    daily: DataFrame, start_date, states: Sequence[str]
) -> DataFrame:
    """Cumulative history from a fixed start (``Visualizer.java:154-185``):
    running total per state from daily deltas — a windowed cumulative sum
    instead of the reference's per-date store probes."""
    from pyspark.sql import Window

    facts = daily.filter(F.col("date") >= F.lit(start_date)).filter(
        F.col("state").isin(*states)
    )
    w = Window.partitionBy("state").orderBy("date")
    return facts.select(
        "date",
        "state",
        F.sum("sum_delta_confirmed").over(w).alias("cumulative_confirmed"),
    ).orderBy("state", "date")
