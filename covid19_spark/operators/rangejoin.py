"""Binned range join: points→containing-intervals WITHOUT an equi-key.

Spark compiles a bare ``p.value BETWEEN i.lo AND i.hi`` join (no equality
conjunct) to BroadcastNestedLoopJoin — O(|points|·|intervals|) work that only
survives while one side fits in a broadcast. The classic scale fix (used by
IP→geo, time→calendar-bucket, genomic overlap pipelines) is to manufacture
the missing equi-key: quantize the value axis into fixed-width bins, explode
each interval into every bin it overlaps, and hash-join on the bin id with
the exact range predicate as a residual filter.

Cost model: |points| map-only binning + Σ⌈len/bin_width⌉ exploded interval
rows + ONE hash shuffle on the bin id. A ``BIN_WIDTH`` near the typical
interval length keeps the explode factor ~2 and each bin's candidate set
small. Degenerate giant intervals (explode factor → ∞, over 1024 bins) are
refused in-plan rather than silently going quadratic — same
spirit as the LSH bucket cap in ``operators/dedup.py``.

Reference analogue: the date-window containment probes the bot serves
(``Covid19Stats.java`` lookback scans); generalized to arbitrary numeric /
epoch axes. For the equi-key + range case (per-user attribution) a plain
hash join with a residual range already scales — see
``streaming/joins.interval_join``; this operator is ONLY for the keyless
case.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BIN_COL = "_range_bin"
BIN_WIDTH = 0.1


def _bin_of(col: Column) -> Column:
    return F.floor(col.cast("double") / F.lit(BIN_WIDTH)).cast("long")


def binned_range_join(
    points: DataFrame,
    intervals: DataFrame,
    value_col: str,
    lo_col: str,
    hi_col: str,
) -> DataFrame:
    """Inner-join each point row to every interval row with
    ``lo <= value <= hi``, as a bin-keyed hash join.

    Column names must be disjoint between the two frames (rename before
    calling). Intervals wider than ``1024 * BIN_WIDTH`` raise in-plan — route outliers through a broadcast
    side-channel instead of letting one 10⁶-bin interval recreate the
    nested loop.
    """
    lo_bin = _bin_of(F.col(lo_col))
    hi_bin = _bin_of(F.col(hi_col))
    n_bins = hi_bin - lo_bin + F.lit(1)
    guarded = F.when(
        n_bins > 1024,
        F.raise_error(
            F.format_string(
                "interval spans more than %d bins; "
                "broadcast outlier intervals separately",
                F.lit(1024),
            )
        ).cast("long"),
    ).otherwise(hi_bin)
    iv = intervals.withColumn(BIN_COL, F.explode(F.sequence(lo_bin, guarded)))
    p = points.withColumn(BIN_COL, _bin_of(F.col(value_col)))
    return (
        p.join(iv, BIN_COL)
        .filter((F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) <= F.col(hi_col)))
        .drop(BIN_COL)
    )
