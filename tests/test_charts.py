"""Chart-request JSON assembly: golden parity with the reference's Gson tree
(``ChartRequest`` → ``Chart`` → ``ChartData``/``ChartOption``,
``Visualizer.java:361-363``) — field order, defaults, compact form."""

import datetime as dt
import json

from covid19_spark.serving.charts import (
    BLUE,
    GREY,
    RED,
    DatasetSpec,
    chart_request,
    history_chart_request,
)

CHART_SCHEMA = (
    "labels array<string>, confirmed array<double>, recovered array<double>, "
    "deceased array<double>, active array<double>"
)

GOLDEN = (
    '{"backgroundColor":"transparent","width":"750","height":"450","format":"png",'
    '"chart":{"type":"bar","data":{"labels":["08-Apr","09-Apr"],"datasets":['
    '{"type":"bar","label":"Active","data":[2.0,2.0],"fill":false,'
    '"borderColor":"rgb(201, 203, 207)","backgroundColor":"rgb(201, 203, 207)",'
    '"borderWidth":"3","barThickness":"10","pointRadius":"0","yAxisID":"left-y-axis"},'
    '{"type":"bar","label":"Deaths","data":[2.0,1.0],"fill":false,'
    '"borderColor":"rgb(255, 99, 132)","backgroundColor":"rgb(255, 99, 132)",'
    '"borderWidth":"3","barThickness":"10","pointRadius":"0","yAxisID":"left-y-axis"},'
    '{"type":"bar","label":"Recovered","data":[1.0,0.0],"fill":false,'
    '"borderColor":"rgb(54, 162, 235)","backgroundColor":"rgb(54, 162, 235)",'
    '"borderWidth":"3","barThickness":"10","pointRadius":"0","yAxisID":"left-y-axis"}]},'
    '"options":{"plugins":{"datalabels":{"display":false,"anchor":"end",'
    '"backgroundColor":"#ccc","borderRadius":"3","align":"end"}},'
    '"scales":{"xAxes":[{"id":"bottom-x-axis","position":"bottom","stacked":true,'
    '"ticks":{"beginAtZero":true}}],"yAxes":[{"id":"left-y-axis","position":"left",'
    '"stacked":true,"ticks":{"beginAtZero":true}}]},'
    '"title":{"display":false,"text":""}}}}'
)


def test_history_chart_request_golden(spark):
    df = spark.createDataFrame(
        [(["08-Apr", "09-Apr"], [5.0, 3.0], [1.0, 0.0], [2.0, 1.0], [2.0, 2.0])],
        CHART_SCHEMA,
    )
    got = history_chart_request(df).select("request_json").first()[0]
    assert got == GOLDEN


def test_chart_request_dual_axis_and_title(spark):
    # The testing-trend shape (Visualizer.java:351-363): bar+bar+line with a
    # right y-axis; and the districtwise shape with a title (:468).
    df = spark.createDataFrame(
        [(["08-Apr"], [100.0], [5.0], [5.0])],
        "labels array<string>, tested array<double>, positive array<double>, rate array<double>",
    )
    out = chart_request(
        df,
        "bar",
        [
            DatasetSpec("bar", "Positive", "positive", RED),
            DatasetSpec("bar", "Tested", "tested", GREY),
            DatasetSpec("line", "5-day Moving Positivity rate", "rate", BLUE, "right-y-axis"),
        ],
        stacked=True,
        right_axis=True,
        title="As of today",
    ).first()
    doc = json.loads(out.request_json)
    assert doc["chart"]["options"]["title"] == {"display": True, "text": "As of today"}
    axes = doc["chart"]["options"]["scales"]["yAxes"]
    assert [a["id"] for a in axes] == ["left-y-axis", "right-y-axis"]
    assert axes[1]["stacked"] is False
    assert doc["chart"]["data"]["datasets"][2]["yAxisID"] == "right-y-axis"
    assert doc["chart"]["data"]["datasets"][2]["type"] == "line"


def test_chart_request_from_daily_history(spark):
    # End-to-end: daily rollup rows -> chart rows -> request document.
    from covid19_spark.serving.analytics import daily_history_chart

    daily = spark.createDataFrame(
        [
            (dt.date(2020, 4, 8), "Goa", 5.0, 1.0, 0.0),
            (dt.date(2020, 4, 9), "Goa", 3.0, 0.0, 1.0),
        ],
        "date date, state string, sum_delta_confirmed double, "
        "sum_delta_recovered double, sum_delta_deaths double",
    )
    chart = daily_history_chart(daily, "Goa", 3, dt.date(2020, 4, 10))
    doc = json.loads(history_chart_request(chart).first().request_json)
    assert doc["format"] == "png" and doc["chart"]["type"] == "bar"
    assert len(doc["chart"]["data"]["labels"]) == 3  # 3-day spine
    labels = {d["label"] for d in doc["chart"]["data"]["datasets"]}
    assert labels == {"Active", "Deaths", "Recovered"}
