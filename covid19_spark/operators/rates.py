"""Derived rate measures: doubling rate, positivity, active cases, moving avg.

All pure column expressions (JVM-side, whole-stage-codegen'd) — zero UDFs, a
deliberate design goal (SURVEY §2.8).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def doubling_rate(delta_confirmed: Column, current_confirmed: Column) -> Column:
    """``round(70 / (100 * delta / current))`` days, with zero guards.

    Mirrors the reference's rule-of-70 (``Covid19Stats.java:196-203``): growth
    rate = 100*delta/current; doubling ≈ 70/growth. Null when no growth or no
    base (reference emits nothing for those keys).
    """
    growth = F.lit(100.0) * delta_confirmed / current_confirmed
    return F.when(
        (current_confirmed > 0) & (delta_confirmed > 0),
        F.round(F.lit(70.0) / growth),
    )


def positivity_rate(positive: Column, total_tested: Column) -> Column:
    """100·positive/tested rounded to 2dp; null when tested is 0/null.

    Reference: ``BotUtils.java:241-247`` (DecimalFormat "0.00", 0 on empty).
    """
    return F.when(total_tested > 0, F.round(F.lit(100.0) * positive / total_tested, 2))


def active_cases(confirmed: Column, recovered: Column, deaths: Column, clamp: bool = False) -> Column:
    """active = confirmed − recovered − deaths (``BotUtils.java:206``).

    ``clamp=True`` applies the chart-side negative clamp
    (``Visualizer.java:455``: ``greatest(0, expr)``).
    """
    expr = confirmed - recovered - deaths
    return F.greatest(F.lit(0), expr) if clamp else expr


def moving_average(
    df: DataFrame,
    value_col: str,
    key_cols: list[str],
    order_col: str,
    out_col: str | None = None,
) -> DataFrame:
    """Trailing moving average over the last 5 rows per key.

    Reference: 5-day sliding ``DescriptiveStatistics`` mean
    (``Visualizer.java:300-319``). A rows-window avg needs one exchange on the
    key columns; the frame is bounded so state per key is O(5).
    """
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col(order_col).asc())
        .rowsBetween(-4, 0)
    )
    return df.withColumn(out_col or f"ma5_{value_col}", F.avg(value_col).over(w))
