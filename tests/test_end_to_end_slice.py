"""The SURVEY §7.2 minimum end-to-end slice: raw statewise snapshots → cast →
running delta → daily rollup → doubling rate → sort → golden summary table.
One real query through the whole engine with zero streaming infrastructure,
asserting the reference's fixed-width output format."""

import datetime as dt

from pyspark.sql import functions as F

from covid19_spark.functions.scalars import best_news_source, is_within_past_week
from covid19_spark.operators.delta import running_delta
from covid19_spark.operators.rates import doubling_rate
from covid19_spark.operators.rollup import daily_rollup
from covid19_spark.schemas import cast_statewise
from covid19_spark.serving.format import build_state_summary_alert_text


def test_today_summary_end_to_end(spark):
    # raw wire-format rows (all strings, as from the statewise-data topic)
    raw = spark.createDataFrame(
        [
            ("Maharashtra", "MH", "8", "10", "1", "1", "08/04/2020 10:00:00"),
            ("Maharashtra", "MH", "24", "28", "2", "2", "08/04/2020 22:00:00"),
            ("Delhi", "DL", "5", "5", "0", "0", "08/04/2020 12:00:00"),
            ("Total", "TT", "13", "33", "2", "2", "08/04/2020 22:00:00"),
            ("Goa", "GA", "0", "0", "0", "0", "08/04/2020 09:00:00"),  # zero row skipped
            # a name outside STATE_CODES gets the Total line's "None" label
            ("Atlantis", "XX", "3", "3", "0", "0", "08/04/2020 11:00:00"),
        ],
        ["state", "statecode", "active", "confirmed", "deaths", "recovered", "lastupdatedtime"],
    )
    typed = cast_statewise(raw)
    assert dict(typed.dtypes)["confirmed"] == "bigint"

    deltas = running_delta(
        typed, ["state"], ["last_updated"], ["confirmed", "recovered", "deaths"]
    )
    daily = daily_rollup(
        deltas,
        "last_updated",
        ["state"],
        sum_cols=["delta_confirmed", "delta_recovered", "delta_deaths"],
        last_cols=["confirmed", "recovered", "deaths"],
    )
    enriched = daily.withColumn(
        "doubling_days",
        doubling_rate(F.col("sum_delta_confirmed"), F.col("last_confirmed")),
    )
    rows = enriched.orderBy(F.col("last_confirmed").desc()).collect()

    stats = [
        {
            "state": r.state,
            "delta_confirmed": r.sum_delta_confirmed,
            "delta_recovered": r.sum_delta_recovered,
            "delta_deaths": r.sum_delta_deaths,
            "current_confirmed": r.last_confirmed,
            "current_recovered": r.last_recovered,
            "current_deaths": r.last_deaths,
        }
        for r in rows
    ]
    text = build_state_summary_alert_text(stats, "08/04/2020 22:00:00", daily=False)

    assert text.startswith("<i>April 08, 10:00 PM</i>\n\n")
    assert "State|   Conf|   Rec.|  Died\n" in text
    assert "Mah  |     28|      2|     2\n" in text
    assert "Delhi|      5|      0|     0\n" in text
    assert "Goa" not in text  # zero row skipped
    assert "None |      3|      0|     0\n" in text
    # Total repositioned to the bottom
    assert text.rstrip("</pre>").rstrip().endswith("Total|     33|      2|     2")


def test_past_week_boundary(spark):
    # UtilTests.java:11-20: exactly 6 days ago is in range; 7 days ago is not
    today = F.to_date(F.lit("2020-04-20"))
    df = spark.createDataFrame(
        [("14/04/2020",), ("13/04/2020",), ("20/04/2020",), ("21/04/2020",)], ["d"]
    )
    out = df.select("d", is_within_past_week(F.col("d"), today).alias("ok")).collect()
    got = {r.d: r.ok for r in out}
    assert got == {
        "14/04/2020": True,   # 6 days ago: in range
        "13/04/2020": False,  # 7 days ago: out
        "20/04/2020": True,   # today: in
        "21/04/2020": False,  # future: out
    }


def test_best_news_source_priority(spark):
    df = spark.createDataFrame(
        [("a", "b", "c"), ("a", "b", ""), ("a", "", ""), ("", "", "")],
        ["s1", "s2", "s3"],
    )
    out = [
        r.news
        for r in df.select(
            best_news_source(F.col("s1"), F.col("s2"), F.col("s3")).alias("news")
        ).collect()
    ]
    assert out == ["c", "b", "a", None]
