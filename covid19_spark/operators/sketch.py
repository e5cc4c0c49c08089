"""Misra-Gries heavy-hitters sketch: per-partition mergeable summaries.

The missing piece between exact ``groupBy(item).count()`` (a
|distinct items|-sized shuffle — unbounded on web-scale token streams) and
Spark's built-in sketches (HLL++/t-digest cover distincts and quantiles,
not frequent items): a bounded-state frequent-items summary in the
classic mergeable-summaries shape (Misra & Gries 1982; merge semantics
per Agarwal et al. 2012, "Mergeable Summaries", PODS).

Guarantees (capacity ``m``, total item count ``N``):

- each per-partition summary keeps ≤ m rows, and its per-item estimate
  undercounts that partition's true count by at most ``N_p / m``;
- summing per-partition estimates therefore brackets the true global
  count: ``true - N/m  ≤  est  ≤  true`` — INDEPENDENT of how the input
  was partitioned (the per-partition errors telescope: Σ N_p/m = N/m);
- every true heavy hitter with ``count > N/m`` is guaranteed present in
  the merged sketch (its global estimate is > 0).

Shape at 100 TB: the map side emits ≤ m rows per task (KBs), the merge
is a groupBy over ``m × n_tasks`` rows — shuffle bytes are BOUNDED BY
CONTRACT, not by the item-cardinality the exact plan would pay. The
estimates themselves depend on partition boundaries; the bounds above do
not — catalog verification (q_event_analytics.q_heavy_hitters) compares
only partition-invariant facts (exact counts + bound booleans),
mirroring the ``approx_aggregates`` error-envelope pattern.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def mg_update(counters: dict[str, int], items: Iterable[str], capacity: int) -> None:
    """Fold ``items`` into the Misra-Gries ``counters`` (at most ``capacity``
    of them) with the textbook decrement-all step: a new item past capacity
    shrinks every counter by 1 and drops the zeros."""
    for item in items:
        if item is None:
            continue
        item = str(item)
        if item in counters:
            counters[item] += 1
        elif len(counters) < capacity:
            counters[item] = 1
        else:
            dead = []
            for k in counters:
                counters[k] -= 1
                if counters[k] == 0:
                    dead.append(k)
            for k in dead:
                del counters[k]


def misra_gries_summaries(
    df: DataFrame, item_col: str, capacity: int = 256
) -> DataFrame:
    """``(item, est)`` per partition: ≤ ``capacity`` rows each.

    Arrow-batched: one Misra-Gries dict per PARTITION (the ``mapInPandas``
    iterator spans all of a partition's batches, each folded by
    ``mg_update``), summary emitted once at iterator exhaustion. Estimates
    are true partition counts minus at most ``N_p / capacity``.
    """
    from collections.abc import Iterator

    import pandas as pd

    def summarize(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        for pdf in it:
            mg_update(counters, pdf[item_col], capacity)
        if counters:
            yield pd.DataFrame(
                {"item": list(counters.keys()), "est": list(counters.values())}
            )

    return df.select(F.col(item_col).alias(item_col)).mapInPandas(
        summarize, schema="item string, est long"
    )


def heavy_hitters(
    df: DataFrame, item_col: str, capacity: int = 256
) -> DataFrame:
    """Merged global sketch: ``(item, est)`` with
    ``true - N/capacity ≤ est ≤ true`` under any partitioning.

    Merge = sum of per-partition estimates (each a certified lower bound
    with bounded deficit; the sums telescope). Output is ≤
    ``capacity × n_partitions`` rows BEFORE the merge and ≤ that after —
    bounded by contract, never by item cardinality.
    """
    return (
        misra_gries_summaries(df, item_col, capacity)
        .groupBy("item")
        .agg(F.sum("est").alias("est"))
    )
