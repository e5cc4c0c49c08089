"""Visualizer-equivalent analytics jobs over materialized daily tables."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from covid19_spark.serving.analytics import testing_trend as build_testing_trend
from covid19_spark.serving.analytics import (
    daily_history_chart,
    states_history_since,
    top_states_series,
)
from covid19_spark.serving.http_sink import post_document


@pytest.fixture()
def daily(spark):
    rows = []
    for i, date in enumerate(
        [dt.date(2020, 4, d) for d in range(1, 11)]
    ):
        rows.append((date, "Maharashtra", 10 + i, 2, 1))
        rows.append((date, "Delhi", 5, 1, 0))
        rows.append((date, "Goa", 1 if i == 0 else 0, 0, 0))
        rows.append((date, "Total", 16 + i, 3, 1))
    return spark.createDataFrame(
        rows,
        ["date", "state", "sum_delta_confirmed", "sum_delta_recovered", "sum_delta_deaths"],
    )


def test_daily_history_chart(daily):
    out = daily_history_chart(daily, "Maharashtra", 7, dt.date(2020, 4, 10)).collect()[0]
    assert out.chart_name == "Maharashtra"
    assert len(out.labels) == 7
    assert out.labels[0] == "04-Apr" and out.labels[-1] == "10-Apr"
    assert out.confirmed == [13, 14, 15, 16, 17, 18, 19]
    assert out.active == [10, 11, 12, 13, 14, 15, 16]  # conf - rec - dead


def test_daily_history_fills_gaps(daily):
    # Goa has zero deltas after day 1; spine fills every date with 0
    out = daily_history_chart(daily, "Goa", 10, dt.date(2020, 4, 10)).collect()[0]
    assert out.confirmed == [1, 0, 0, 0, 0, 0, 0, 0, 0, 0]


def test_top_states_series_excludes_total(daily):
    out = top_states_series(daily, k=2, days_back=10, today=dt.date(2020, 4, 10))
    cols = set(out.columns) - {"date"}
    assert cols == {"Maharashtra", "Delhi"}  # Total excluded, Goa below top-2
    rows = out.collect()
    assert len(rows) == 10


def test_testing_trend_ma(spark, daily):
    test_rows = spark.createDataFrame(
        [
            ("Total", dt.date(2020, 4, d), 1000 * d, 30 * d)
            for d in range(1, 11)
        ],
        ["state", "date", "totaltested", "positive"],
    )
    out = build_testing_trend(test_rows, daily, 10, dt.date(2020, 4, 10)).collect()
    assert len(out) == 10
    assert all(r.positivity == 3.0 for r in out)
    assert all(abs(r.positivity_ma5 - 3.0) < 1e-9 for r in out)


def test_states_history_since(daily):
    out = states_history_since(daily, dt.date(2020, 4, 8), ["Maharashtra"]).collect()
    assert [r.cumulative_confirmed for r in out] == [17, 17 + 18, 17 + 18 + 19]


def test_chart_post_unreachable_service_raises():
    # real transport now (see test_http_sink.py for the served path): a
    # connection failure surfaces after bounded retries, not a stub error
    with pytest.raises(Exception):
        post_document(b"{}", "http://127.0.0.1:9/unroutable")
