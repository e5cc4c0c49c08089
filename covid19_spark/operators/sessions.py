"""Sessionization: gap-based session assignment over an event stream.

Not in the reference's surface, but a core capability of any event-analytics
engine (and of Spark's own ``session_window``). Batch form: the classic
lag/cumsum two-window construction — a new session starts where the gap to
the previous event of the same key exceeds the timeout; the session id is the
running count of session starts.

Scale: both windows partition by the key — ONE hash exchange total (Catalyst
reuses the partitioning for the second window since it has the same
partition spec). Per-key history is processed independently.

Streaming form: a watermarked ``groupBy(F.session_window(ts, gap), key)``
covers the windowed-agg case.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    gap: str = "30 minutes",
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Assign a per-key session index (1-based, ``session_id``) to every
    event.

    A session break occurs when ``ts - lag(ts) > gap`` (or at the key's first
    event). ``gap`` is an INTERVAL string.
    """
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in tiebreak_cols]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    prev_ts = F.lag(F.col(ts_col)).over(w)
    is_start = (
        prev_ts.isNull()
        | (F.col(ts_col) > prev_ts + F.expr(f"INTERVAL {gap}"))
    ).cast("int")
    running = Window.partitionBy(*key_cols).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return df.withColumn("session_id", F.sum(is_start).over(running))


def session_stats(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    gap: str = "30 minutes",
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-session summary: bounds, duration, event count."""
    s = sessionize(df, key_cols, ts_col, gap, tiebreak_cols)
    return s.groupBy(*key_cols, "session_id").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        (
            F.unix_timestamp(F.max(ts_col)) - F.unix_timestamp(F.min(ts_col))
        ).alias("duration_sec"),
    )
