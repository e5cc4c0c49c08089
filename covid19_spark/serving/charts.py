"""Chart.js request-document assembly (S7's data half).

The reference serializes a POJO tree with Gson —
``ChartRequest{backgroundColor,width,height,format,chart}`` →
``Chart{type,data,options}`` → ``ChartData{labels,datasets[]}`` /
``ChartOption{plugins,scales,title}`` (``covid19-visualizer/.../charts/*.java``,
``Visualizer.java:361-363,412-414,468-471``) — and POSTs the JSON to the
chart-rendering service.

Spark-first equivalent: the document is assembled INSIDE the plan as
``to_json(struct(...))`` over the chart-row DataFrame (labels + series
arrays, e.g. ``analytics.daily_history_chart`` output), so request JSON for
thousands of charts is produced distributed, one row per chart, with no
driver-side loop. ``to_json`` matches Gson's defaults: compact output, field
order = struct declaration order, nulls omitted.

The HTTP POST to the rendering service (``VisualizationService.java:38-43``)
is ``serving.http_sink``: ``post_document`` for one document from the
driver, ``post_chart_documents`` for a whole chart frame from the executors.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Visualizer.java:50-56 — the reference's series palette.
BLUE = "rgb(54, 162, 235)"
RED = "rgb(255, 99, 132)"
GREY = "rgb(201, 203, 207)"


@dataclass(frozen=True)
class DatasetSpec:
    """One ``ChartDataset`` (``ChartDataset.java``): a series column plus its
    presentation constants. Defaults mirror the POJO's 4-arg constructor
    (fill=false, borderWidth=3, barThickness=10, pointRadius=0,
    backgroundColor=borderColor, yAxisID=left-y-axis)."""

    chart_type: str  # "line" | "bar" | "horizontalBar"
    label: str
    source_col: str
    border_color: str
    y_axis_id: str = "left-y-axis"


def _dataset(spec: DatasetSpec) -> Column:
    return F.struct(
        F.lit(spec.chart_type).alias("type"),
        F.lit(spec.label).alias("label"),
        F.col(spec.source_col).cast("array<double>").alias("data"),
        F.lit(False).alias("fill"),
        F.lit(spec.border_color).alias("borderColor"),
        F.lit(spec.border_color).alias("backgroundColor"),
        F.lit("3").alias("borderWidth"),
        F.lit("10").alias("barThickness"),
        F.lit("0").alias("pointRadius"),
        F.lit(spec.y_axis_id).alias("yAxisID"),
    )


def _axis(axis_id: str, position: str, stacked: bool) -> Column:
    # ChartAxis.java constructor: ticks always {beginAtZero: true}
    return F.struct(
        F.lit(axis_id).alias("id"),
        F.lit(position).alias("position"),
        F.lit(stacked).alias("stacked"),
        F.struct(F.lit(True).alias("beginAtZero")).alias("ticks"),
    )


def chart_request(
    chart_df: DataFrame,
    chart_type: str,
    datasets: Sequence[DatasetSpec],
    labels_col: str = "labels",
    stacked: bool = False,
    right_axis: bool = False,
    title: str | None = None,
    display_labels: bool = False,
    width: str = "750",
    height: str = "450",
    out_col: str = "request_json",
) -> DataFrame:
    """Append the assembled Chart.js request document as a JSON string column.

    ``chart_df``: one row per chart with a ``labels`` array column and one
    array column per dataset (the shape ``daily_history_chart`` /
    ``pivot_series`` emit). Mirrors ``new Gson().toJson(new ChartRequest(new
    Chart(type, data, displayLabels, xAxes, yAxes[, title])))``
    (``Visualizer.java:360-363``).
    """
    y_axes = [_axis("left-y-axis", "left", stacked)]
    if right_axis:
        y_axes.append(_axis("right-y-axis", "right", False))
    options = F.struct(
        F.struct(
            F.struct(
                F.lit(display_labels).alias("display"),
                F.lit("end").alias("anchor"),
                F.lit("#ccc").alias("backgroundColor"),
                F.lit("3").alias("borderRadius"),
                F.lit("end").alias("align"),
            ).alias("datalabels")
        ).alias("plugins"),
        F.struct(
            F.array(_axis("bottom-x-axis", "bottom", stacked)).alias("xAxes"),
            F.array(*y_axes).alias("yAxes"),
        ).alias("scales"),
        F.struct(
            F.lit(title is not None).alias("display"),
            F.lit(title or "").alias("text"),
        ).alias("title"),
    )
    request = F.struct(
        F.lit("transparent").alias("backgroundColor"),
        F.lit(width).alias("width"),
        F.lit(height).alias("height"),
        F.lit("png").alias("format"),
        F.struct(
            F.lit(chart_type).alias("type"),
            F.struct(
                F.col(labels_col).alias("labels"),
                F.array(*[_dataset(s) for s in datasets]).alias("datasets"),
            ).alias("data"),
            options.alias("options"),
        ).alias("chart"),
    )
    return chart_df.withColumn(out_col, F.to_json(request))


def history_chart_request(chart_df: DataFrame) -> DataFrame:
    """The last-N-days overview request (``Visualizer.java:396-414``): daily
    active/deaths/recovered bars over ``daily_history_chart`` output."""
    return chart_request(
        chart_df,
        "bar",
        [
            DatasetSpec("bar", "Active", "active", GREY),
            DatasetSpec("bar", "Deaths", "deceased", RED),
            DatasetSpec("bar", "Recovered", "recovered", BLUE),
        ],
        stacked=True,
    )
