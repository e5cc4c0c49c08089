"""Running delta: new-cumulative minus previous-cumulative, per key.

Reference semantics (operator A1/A2 in SURVEY §2.4): the reference keeps the
last cumulative snapshot per key in a RocksDB store and emits
``delta = new - previous`` on every update, carrying the new cumulative
forward (reference ``Covid19Stats.java:211-242``).

Spark-first design:
- **batch / backfill path** (this module): a ``lag()`` window per key. The
  shuffle partitions by the key columns only once; Catalyst keeps the sort
  within partitions. At 100 TB this is a single hash-partitioned exchange by
  key — the per-key history is processed independently, so skew is bounded by
  the hottest key's history length, not the table size.
- **streaming path**: ``covid19_spark.streaming.stateful_delta`` keeps the
  last cumulative per key in the state store (the direct analogue of the
  reference's aggregator) and is tested equivalent to this batch operator.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def running_delta(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    value_cols: Sequence[str],
) -> DataFrame:
    """Per-key difference between successive cumulative snapshots.

    For each column ``c`` in ``value_cols`` adds ``delta_{c}`` =
    ``c - lag(c)``. For a key's first snapshot the reference seeds the
    aggregate with zeros (``Covid19Stats.java:227-231`` initializes
    ``StatewiseDelta::new`` with 0s), so the first delta equals the first
    cumulative value.

    ``order_cols`` must be a deterministic total order within each key
    (include a tiebreaker id column if the timestamp can collide).
    """
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).asc() for c in order_cols])
    out = df
    for c in value_cols:
        prev = F.coalesce(F.lag(F.col(c)).over(w), F.lit(0))
        out = out.withColumn(f"delta_{c}", F.col(c) - prev)
    return out
