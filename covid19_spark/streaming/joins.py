"""Stream-stream joins with event-time bounds.

Beyond the reference's surface (its joins are all stream→table lookups,
SURVEY §2.3) but core Structured Streaming capability: joining two live
streams requires both sides buffered in state, bounded by watermarks + an
interval condition — otherwise state grows forever.

The canonical use: attribution — match each conversion event to the
triggering event within a time window (click → purchase within N minutes).

State account: each side holds only rows younger than its watermark; the
interval condition lets Spark evict aggressively (left rows older than
the 30-minute delay past the watermark can never match future right rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str,
    right_ts: str,
) -> DataFrame:
    """Inner-join right-events to left-events on ``key_col`` where
    ``left_ts <= right_ts <= left_ts + 30 minutes``, each side watermarked
    one hour behind its event time.

    Both inputs must be streaming DataFrames (or both batch — the same
    expression works for backfill, the usual batch/stream symmetry).
    """
    l = left.withWatermark(left_ts, "1 hour").alias("l")
    r = right.withWatermark(right_ts, "1 hour").alias("r")
    cond = (
        (F.col(f"l.{key_col}") == F.col(f"r.{key_col}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + F.expr("INTERVAL 30 minutes"))
    )
    return l.join(r, cond)


def click_purchase_attribution(events: DataFrame) -> DataFrame:
    """Attribute each purchase to the clicks that preceded it by at most 30
    minutes (event time ``ts``), per user. Output: one row per (click, purchase) candidate pair
    with the lag between them."""
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"), F.col("value").alias("purchase_value"),
    )
    joined = interval_join(clicks, purchases, "user_id", "click_ts", "purchase_ts")
    return joined.select(
        F.col("l.user_id").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
        (F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")).alias("lag_sec"),
    )
