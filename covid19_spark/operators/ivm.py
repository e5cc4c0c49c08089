"""Incremental view maintenance: mergeable aggregate state.

A 100 TB warehouse never recomputes its reporting aggregates from scratch —
it maintains a MATERIALIZED per-key state table and folds each new batch's
partial aggregates into it (the algebraic-aggregate / "merge-on-write"
pattern: Gray et al.'s distributive aggregates; the same contract Spark's
own partial aggregation uses between map and reduce, lifted to a persisted
table).  The reference keeps exactly such running per-key state in its
KTables (``Covid19Stats.java`` statewise running totals, SURVEY §2.4 A1-A5)
— this module is the batch/warehouse form of that discipline.

Three functions with the classic state algebra:
- ``agg_state``       scan → per-key state rows        (lift)
- ``merge_agg_state`` state ⊕ state → state            (associative merge)
- ``finalize_agg_state`` state → report                 (lower)

The invariant that makes incrementalism safe is
``finalize(merge(lift(A), lift(B))) == finalize(lift(A ∪ B))`` — pinned
exactly (bit-for-bit) in tests and in the registry oracle, which is why
every sum is carried as DECIMAL(38,6): double partial sums would make the
merged result depend on batch boundaries.

Scale: lift is one map-side-combined agg per batch (shuffle carries
|keys|); merge is a union of two |keys|-sized frames + one agg — history
is NEVER rescanned.  min/max/count/sum/avg are fully algebraic (the
holistic exact distinct is the one aggregate that CANNOT be maintained
incrementally without keeping the full key set).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEC = "decimal(38,6)"


def agg_state(
    df: DataFrame,
    keys: Sequence[str],
    measure: str,
) -> DataFrame:
    """Lift a batch to per-key mergeable state: n_rows, exact DEC sum,
    min, max of ``measure``."""
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col(measure).cast(DEC)).alias("sum_dec"),
        F.min(measure).alias("min_v"),
        F.max(measure).alias("max_v"),
    )


def merge_agg_state(
    a: DataFrame, b: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """⊕: fold two state tables (old materialized state, new batch's
    lift) into one.  Associative and commutative, so batches may arrive
    in any order and states may be pre-merged hierarchically (per hour →
    per day → total) — union + one |keys|-sized agg, no history rescan."""
    return a.unionByName(b).groupBy(*keys).agg(
        F.sum("n_rows").alias("n_rows"),
        # sum of DEC partials is exact → merged state is independent of
        # how rows were split into batches
        F.sum("sum_dec").cast(DEC).alias("sum_dec"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    )


def finalize_agg_state(
    state: DataFrame, keys: Sequence[str] | None = None
) -> DataFrame:
    """Lower state to the report: count, sum, min, max, avg (exact DEC
    sum divided by the count, cast once — identical to what a full
    recompute yields).

    ``keys``: the grouping columns.  Pass them explicitly when a key
    column could collide with a measure name; when omitted they are
    inferred as every column that is not a known measure."""
    cols = [
        F.col("n_rows"),
        F.col("sum_dec").cast("double").alias("sum_v"),
        F.col("min_v"),
        F.col("max_v"),
        (F.col("sum_dec").cast("double") / F.col("n_rows")).alias("avg_v"),
    ]
    if keys is None:
        keys = [
            c for c in state.columns
            if c not in {"n_rows", "sum_dec", "min_v", "max_v"}
        ]
    else:
        keys = list(keys)
    return state.select(*keys, *cols)
