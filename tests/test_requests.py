"""§3.2 user-request dispatch over materialized stores."""

import datetime as dt
import os
import shutil
import tempfile

import pytest

from covid19_spark.serving.requests import handle_user_request
from covid19_spark.serving.stores import Materializer, StoreReader
from covid19_spark.streaming.table import upsert_batch_partitioned


def ts(s):
    return dt.datetime.fromisoformat(s)


@pytest.fixture()
def reader(spark):
    d = tempfile.mkdtemp(prefix="c19req_")
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
    m = Materializer(spark, d)
    m.refresh_statewise(snapshots)
    m.refresh_districtwise(
        spark.createDataFrame(
            [
                ("Maharashtra", "Mumbai", ts("2020-04-09T10:00:00"), 20, 1, 1),
                ("Maharashtra", "Mumbai", ts("2020-04-09T20:00:00"), 25, 2, 1),
            ],
            ["state", "district", "ts", "confirmed", "recovered", "deceased"],
        )
    )
    m.refresh_dimension(
        spark.createDataFrame([("Maharashtra", "https://news.example/mh")], ["state", "url"]),
        "news_sources",
    )
    m.refresh_dimension(
        spark.createDataFrame(
            [("Maharashtra", dt.date(2020, 4, 8), "53166", "1621", "26/04/2020")],
            ["state", "date", "totaltested", "positive", "updatedon"],
        ),
        "statewise_test_data",
    )
    yield StoreReader(spark, d)
    shutil.rmtree(d, ignore_errors=True)


def test_summary_request(reader):
    out = handle_user_request(reader, "Summary", dt.date(2020, 4, 9), "09/04/2020 22:00:00")
    assert "Summary of all affected Indian States" in out
    assert "Mah  |     28|      2|     2" in out
    assert out.rstrip("</pre>").rstrip().endswith("Total|     37|      3|     3")


def test_today_request_daily_numbers(reader):
    out = handle_user_request(reader, "Today", dt.date(2020, 4, 9), "09/04/2020 22:00:00")
    # daily deltas for 04-09: Maharashtra +18, Delhi +4, Total +37 (first snapshot)
    assert "Mah  |     18|      1|     1" in out
    assert "Delhi|      4|      1|     1" in out


def test_state_request_full_block(reader):
    out = handle_user_request(reader, "Maharashtra", dt.date(2020, 4, 9))
    assert "<b>Maharashtra</b>" in out
    assert "Total cases  : (↑18) 28" in out
    assert "Positivity rate: 3.05%" in out       # testing block joined in
    assert "District-wise breakup (today)" in out
    # day's summed deltas: first snapshot seeds with zeros (delta=20) + 5
    # more later = 25; recoveries 1+1; deaths 1+0
    assert "25 new cases, 1 death, 2 recoveries in Mumbai" in out
    assert "Source: https://news.example/mh" in out


def test_unknown_state(reader):
    assert handle_user_request(reader, "Atlantis", dt.date(2020, 4, 9)) == "No data for Atlantis"


def test_summary_ties_ordered_by_state_name(spark):
    """Kerala and Goa tie on the day's delta and on the running totals; both
    summary tables list them by state name, whatever order Spark reads them."""
    d = tempfile.mkdtemp(prefix="c19req_tie_")
    try:
        Materializer(spark, d).refresh_statewise(
            spark.createDataFrame(
                [
                    ("Kerala", ts("2020-04-08T10:00:00"), 3, 0, 0),
                    ("Kerala", ts("2020-04-09T10:00:00"), 10, 1, 0),
                    ("Goa", ts("2020-04-08T11:00:00"), 3, 0, 0),
                    ("Goa", ts("2020-04-09T11:00:00"), 10, 1, 0),
                    ("Delhi", ts("2020-04-08T12:00:00"), 2, 0, 0),
                    ("Delhi", ts("2020-04-09T12:00:00"), 4, 0, 0),
                    ("Total", ts("2020-04-09T12:00:00"), 24, 2, 0),
                ],
                ["state", "last_updated", "confirmed", "recovered", "deaths"],
            )
        )
        # the latest-delta table as the stream writes it: hash-bucketed, so
        # Spark returns tied rows in bucket order (Kerala before Goa)
        table = os.path.join(d, "statewise_delta")
        shutil.move(table, os.path.join(d, "staged"))
        upsert_batch_partitioned(
            spark.read.parquet(os.path.join(d, "staged")), table, ["state"], "last_updated"
        )
        r = StoreReader(spark, d)
        summary = handle_user_request(r, "Summary", dt.date(2020, 4, 9)).splitlines()
        assert summary.index("Goa  |     10|      1|     0") + 1 == summary.index(
            "Ker  |     10|      1|     0"
        )
        assert summary[summary.index("Ker  |     10|      1|     0") + 1].startswith("Delhi")
        today = handle_user_request(r, "Today", dt.date(2020, 4, 9)).splitlines()
        assert today.index("Goa  |      7|      1|     0") + 1 == today.index(
            "Ker  |      7|      1|     0"
        )
        assert today[today.index("Ker  |      7|      1|     0") + 1].startswith("Delhi")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_state_request_null_fields(spark):
    """NULL store fields read as the reference's defaults: a NULL negative
    count prints N/A, and a NULL district sum or doubling rate counts as 0."""
    d = tempfile.mkdtemp(prefix="c19req_null_")
    try:
        m = Materializer(spark, d)
        m.refresh_statewise(
            spark.createDataFrame(
                [
                    ("Goa", ts("2020-04-08T10:00:00"), 10, 1, 0),
                    ("Goa", ts("2020-04-09T10:00:00"), 15, 2, 1),
                ],
                ["state", "last_updated", "confirmed", "recovered", "deaths"],
            )
        )
        m.refresh_dimension(
            spark.createDataFrame(
                [
                    ("Goa", "North Goa", dt.date(2020, 4, 9), 5, None, 1, 12),
                    ("Goa", "South Goa", dt.date(2020, 4, 9), None, 2, None, 3),
                ],
                "state string, district string, date date, sum_delta_confirmed bigint, "
                "sum_delta_recovered bigint, sum_delta_deceased bigint, last_confirmed bigint",
            ),
            "districtwise_daily",
        )
        m.refresh_dimension(
            spark.createDataFrame(
                [("Goa", dt.date(2020, 4, 9), "400", "15", None)],
                "state string, date date, totaltested string, positive string, negative string",
            ),
            "statewise_test_data",
        )
        m.refresh_dimension(
            spark.createDataFrame([("Goa", dt.date(2020, 4, 8), None)],
                                  "state string, date date, doubling_days double"),
            "doubling_rate",
        )
        m.refresh_dimension(
            spark.createDataFrame([], "state string, url string"), "news_sources"
        )
        out = handle_user_request(StoreReader(spark, d), "Goa", dt.date(2020, 4, 9))
        assert out == (
            "\n<b>Goa</b>\n<pre>\n"
            "Total cases  : (↑5) 15\n"
            "Active       : (↑3) 12\n"
            "Recovered    : (↑1) 2\n"
            "Deaths       : (↑1) 1\n"
            "Doubling rate: 0 days\n"
            "</pre>\n<pre>"
            "Total tested   : (↑?) 400\n"
            "Positive       : (↑?) 15\n"
            "Negative       : N/A\n"
            "Unconfirmed    : N/A\n"
            "Positivity rate: 3.75%\n"
            "Last updated   : 2020-04-09\n"
            "</pre>\n"
            "<b>District-wise breakup (today)</b>\n"
            "5 new cases, 1 death in North Goa\n"
            "2 recoveries in South Goa\n"
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
