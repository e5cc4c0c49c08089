"""Tumbling-window aggregation with watermarks (reference A3/A4 + T1/T4).

Reference: 1-day tumbling windows over the delta stream, retention 365 days,
caching disabled = emit on every update (``Covid19Stats.java:114-147``).

Spark mapping: ``withWatermark`` + ``window(ts, '1 day')`` groupBy. The
watermark bounds state (the reference held 365 days of windows in RocksDB —
here long-horizon history belongs in the materialized sink table, stream
state only holds open windows; SURVEY §7.5.8). Update output mode ≈ the
reference's per-update emission; the window start flattens to a date column
exactly like ``dateTimeFormatter.format(key.window().startTime())``
(``Covid19Stats.java:133,159``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def daily_window_agg(
    stream: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    sum_cols: Sequence[str] = (),
    last_cols: Sequence[str] = (),
) -> DataFrame:
    """Tumbling 1-day rollup, watermarked 2 days behind event time: sum
    deltas, carry latest value.

    Output: date (window start, formatted), key_cols, sum_<c>, last_<c>,
    n_updates — the streaming twin of ``operators.rollup.daily_rollup``.
    """
    aggs = [F.sum(c).alias(f"sum_{c}") for c in sum_cols]
    aggs += [F.max_by(F.col(c), F.col(ts_col)).alias(f"last_{c}") for c in last_cols]
    aggs.append(F.count(F.lit(1)).alias("n_updates"))
    windowed = (
        stream.withWatermark(ts_col, "2 days")
        .groupBy(F.window(F.col(ts_col), "1 day").alias("w"), *key_cols)
        .agg(*aggs)
    )
    return windowed.select(
        F.to_date(F.col("w.start")).alias("date"),
        *key_cols,
        *[F.col(f"sum_{c}") for c in sum_cols],
        *[F.col(f"last_{c}") for c in last_cols],
        "n_updates",
    )


