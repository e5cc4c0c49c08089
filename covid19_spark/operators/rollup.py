"""Daily windowed rollups and grand-total rows.

Reference semantics:
- A3/A4 (SURVEY §2.4): 1-day tumbling window over the delta stream; sum the
  deltas within the day and keep the latest cumulative
  (``Covid19Stats.java:114-147, 244-270``). The window start is flattened into
  a formatted date key (``Covid19Stats.java:133,159``).
- A5: the "Total" grand-total row (``BotUtils.java:293-318``) → Spark
  ``rollup``.

Scale notes: a day×key aggregation is one hash exchange on (day, key); the
partial aggregation (map-side combine) happens before the shuffle, so the
shuffled volume is bounded by |days × keys|, not row count. ``last(...)`` is
made deterministic by pre-sorting within partitions via ``max_by``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def daily_rollup(
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    sum_cols: Sequence[str] = (),
    last_cols: Sequence[str] = (),
    exact: bool = False,
) -> DataFrame:
    """Tumbling 1-day rollup keyed by ``date``: sum deltas, carry latest
    cumulative.

    ``sum_cols`` are summed within the (day, key) group; for ``last_cols`` the
    value belonging to the max ``ts_col`` in the group is kept (``max_by`` —
    the deterministic equivalent of the reference's "latest update wins"
    reducer at ``Covid19Stats.java:258-270``).

    ``exact=True`` sums doubles through DECIMAL(38,6) per row (exact,
    order-independent accumulation) and returns DOUBLE — used wherever results
    must be bit-stable across partitionings.
    """
    if exact:
        aggs = [
            F.sum(F.col(c).cast("decimal(38,6)")).cast("double").alias(f"sum_{c}")
            for c in sum_cols
        ]
    else:
        aggs = [F.sum(c).alias(f"sum_{c}") for c in sum_cols]
    aggs += [F.max_by(F.col(c), F.col(ts_col)).alias(f"last_{c}") for c in last_cols]
    aggs.append(F.count(F.lit(1)).alias("n_updates"))
    return (
        df.withColumn("date", F.to_date(F.col(ts_col)))
        .groupBy("date", *key_cols)
        .agg(*aggs)
    )


def grand_total_rollup(
    df: DataFrame,
    key_col: str,
    sum_cols: Sequence[str],
    total_label: str = "Total",
) -> DataFrame:
    """Per-key sums plus a grand-total row labeled ``total_label``.

    The reference receives "Total" as a pre-aggregated input key
    (``BotUtils.java:293-297``); computing it with ``rollup`` is the
    Spark-native way and removes the upstream trust dependency.
    """
    out = df.rollup(key_col).agg(*[F.sum(c).alias(f"sum_{c}") for c in sum_cols])
    return out.withColumn(key_col, F.coalesce(F.col(key_col), F.lit(total_label)))
