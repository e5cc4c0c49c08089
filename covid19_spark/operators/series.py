"""Chart-series operators: date spine, pivot series, top-k.

Reference (SURVEY §2.5): the visualizer iterates dates on the driver and
probes stores per (state, date) (``Visualizer.java:102-107,197-232,250-256``)
and pivots date×state → series maps. In Spark these are declarative:
``sequence``+``explode`` generates the spine distributed, the pivot is a
``groupBy().pivot()``, and top-k is a rank window — no driver loops.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def fan_out_small_scan(df: DataFrame, *key_cols) -> DataFrame:
    """Scale-adaptive parallelism floor for heavy per-row / partial-agg
    work rooted at a small scan.

    A scan's task count is its file-split count, and parquet cannot split
    below a row group — so a table that fits one row group pins EVERY
    downstream narrow stage (codec decode, percentile/HLL partial
    buffers, pairwise verifies) to a single task no matter how many cores
    the cluster has.  When the planned partition count is already at or
    above the session's default parallelism (any real-scale scan), this
    is a NO-OP — the repartition exists only where the data is provably
    too small for the exchange to matter.  With ``key_cols`` the fan-out
    hash-partitions (aligning later keyed work); without, round-robin
    (deterministic under retries via sort-before-repartition).
    """
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, *key_cols) if key_cols else df.repartition(n)


def date_spine(
    df: DataFrame,
    start_expr,
    end_expr,
    date_col: str = "date",
) -> DataFrame:
    """One row per day in [start, end] — the distributed date iterator (W5)."""
    return df.sparkSession.range(1).select(
        F.explode(F.sequence(start_expr, end_expr)).alias(date_col)
    )


def pivot_series(
    df: DataFrame,
    row_col: str,
    pivot_col: str,
    value_col: str,
    pivot_values: Sequence[str] | None = None,
    agg: str = "sum",
) -> DataFrame:
    """date×key → one column per key (W4, ``Visualizer.java:217-232``).

    Passing ``pivot_values`` explicitly avoids the extra distinct-values job —
    at 100 TB the two-pass pivot (collect distinct, then pivot) is a full
    extra scan, so callers should supply the dimension values when known.
    """
    agg_fn = getattr(F, agg)
    p = df.groupBy(row_col).pivot(pivot_col, list(pivot_values) if pivot_values else None)
    return p.agg(agg_fn(value_col))


def with_ordered_index(
    df: DataFrame,
    order_cols: Sequence,
    idx_col: str = "idx",
) -> DataFrame:
    """Dense 1-based global position by sort order WITHOUT a single-partition
    window — the DataFrame form of ``RDD.zipWithIndex``.

    A bare ``row_number() OVER (ORDER BY ...)`` forces every row through one
    task (Spark's "No Partition Defined for Window" warning); at 100 TB that
    is the job. Instead:

    1. ``orderBy`` range-partitions and sorts, so partition *i* holds rows
       strictly before partition *i+1* in the global order;
    2. each partition numbers its own rows (window partitioned by
       ``spark_partition_id`` — parallel);
    3. per-partition row counts (one tiny row per partition) are turned into
       cumulative offsets with a running-sum window over that ≤ n_partitions-
       row frame and broadcast back (equi-join on the partition id).

    Ties in ``order_cols`` get arbitrary-but-consistent indices
    (``row_number`` semantics within a partition).
    """
    order = [c if not isinstance(c, str) else F.col(c) for c in order_cols]
    sdf = df.orderBy(*order).withColumn("_pid", F.spark_partition_id())
    w = Window.partitionBy("_pid").orderBy(*order)
    w_all = Window.partitionBy("_pid")
    # row_number and the partition size share ONE exchange + sort pass
    # (fused into one projection — every extra DataFrame op re-analyzes
    # the whole upstream plan on the driver, the r14 construction tax)
    numbered = sdf.select(
        "*",
        F.row_number().over(w).alias("_local"),
        F.count(F.lit(1)).over(w_all).alias("_cnt"),
    )
    # one row per partition, no extra aggregation shuffle; the cumulative
    # offset is a window over that ≤ n_partitions-row frame — tiny at ANY
    # scale by construction (one row per range partition), unlike the big
    # frame this function exists to keep out of single-task windows. The
    # former triangular self-join + groupBy computed the same sums with
    # an extra join and aggregate in the broadcast build.
    offsets = (
        numbered.filter(F.col("_local") == 1)
        .select("_pid", "_cnt")
        .select(
            "_pid",
            F.expr(
                "coalesce(sum(_cnt) OVER (ORDER BY _pid ROWS BETWEEN "
                "UNBOUNDED PRECEDING AND 1 PRECEDING), CAST(0 AS BIGINT))"
            ).alias("_off"),
        )
    )
    # the offsets branch re-reads the same exchanges (ReusedExchange); range
    # partition assignment is deterministic for a given input, so both
    # branches see identical _pid labels even on recompute
    return numbered.join(F.broadcast(offsets), "_pid").select(
        *[F.col(c) for c in df.columns],
        (F.col("_off") + F.col("_local")).cast("long").alias(idx_col),
    )


def zip_positional(
    a: DataFrame,
    b: DataFrame,
    order_a: Sequence,
    order_b: Sequence,
) -> DataFrame:
    """Positional zip of two ordered frames — the reference's ``Utils.zip``
    (``Utils.java:17-28``), which THROWS when the lists' lengths differ
    (SURVEY §7.5.4 asks for the same assertion on the positional join).

    Both sides get a dense global index via ``with_ordered_index`` (no
    single-partition window), then full-outer join on it, with a lazy
    ``raise_error`` on any one-sided position — the throw happens
    DISTRIBUTED at execution, with zero extra driver-side count jobs, and
    fires even when the mismatch is discovered mid-scan.

    Column layout: ``idx`` then a's columns then b's; name collisions on
    b's side get a ``_b`` suffix."""
    ia = with_ordered_index(a, order_a)
    ib = with_ordered_index(b, order_b)
    taken = set(a.columns) | {"idx"}
    renames = {c: (c + "_b" if c in taken else c) for c in b.columns}
    ib = ib.select("idx", *[F.col(c).alias(renames[c]) for c in b.columns])
    # one-sided-ness must be detected on a NON-NULLABLE marker, not on the
    # payload columns (which may be legitimately null)
    ia = ia.withColumn("__pa", F.lit(True))
    ib = ib.withColumn("__pb", F.lit(True))
    out = ia.join(ib, "idx", "full_outer")
    matched = F.col("__pa").isNotNull() & F.col("__pb").isNotNull()
    cols = ["idx", *a.columns, *[renames[c] for c in b.columns]]
    # The guard lives in a FILTER, not a projected column: a projected
    # raise_error is silently DROPPED by column pruning the moment a caller
    # selects a subset without it (select('va','vb') would then null-pad
    # instead of throwing). A filter predicate always executes; matched
    # rows pass as plain TRUE.
    guard = F.when(matched, F.lit(True)).otherwise(
        F.raise_error(
            F.concat(
                F.lit("zip_positional: length mismatch at position "),
                F.col("idx").cast("string"),
                F.lit(" (reference Utils.zip throws on unequal lengths)"),
            )
        ).cast("boolean")
    )
    return out.filter(guard).select(*cols)


def top_k(
    df: DataFrame,
    measure_col: str,
    k: int,
    partition_cols: Sequence[str] = (),
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """True top-k by measure (W3's rank variant, vs the hardcoded list),
    ranked 1..k in an int ``rank`` column.

    Partitioned top-k is a rank window (one exchange on the partition keys).

    Global top-k (``partition_cols`` empty) is two-stage: ``sort + limit``,
    which Catalyst compiles to ``TakeOrderedAndProject`` — every input
    partition computes its local top-k and only k rows per partition move to
    the merge — then the rank window runs over the k survivors only. No
    single-task sort of the full frame, so this holds for raw-row top-k at
    any scale, not just pre-aggregated frames.

    Ties at the k boundary are arbitrary unless ``tiebreak_cols`` makes the
    order total (same contract as ``row_number``).
    """
    order = [F.col(measure_col).desc()] + [F.col(c).asc() for c in tiebreak_cols]
    if not partition_cols:
        top = df.orderBy(*order).limit(k)
        # Ranking the ≤ k survivors through the ordered-index path keeps the
        # whole operator free of partition-less WindowExec nodes.
        return with_ordered_index(top, order, idx_col="rank").withColumn(
            "rank", F.col("rank").cast("int")
        )
    w = Window.partitionBy(*partition_cols).orderBy(*order)
    return df.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def interpolate_series(
    daily: DataFrame,
    key_cols: Sequence[str],
    date_col: str,
    value_col: str,
) -> DataFrame:
    """Linear-interpolation gap fill over a sparse per-key daily series.

    Builds the full key x day grid over the series' global date range, then
    fills each missing day by linear interpolation between the nearest known
    values before and after it. Days outside a key's known range (leading /
    trailing) stay NULL. Adds boolean ``interpolated``.

    Plan (100 TB): the date spine is at most a few thousand rows — it is
    BROADCAST against the distinct-keys frame, so grid construction adds no
    shuffle beyond the key-dedup. The prev/next known neighbors come from two
    ignore-nulls windows sharing ONE hash exchange on the key. The known
    (date, value) pair travels as a struct so both fields always come from
    the same observation.
    """
    keys = list(key_cols)
    bounds = daily.agg(
        F.min(date_col).alias("__d0"), F.max(date_col).alias("__d1")
    )
    spine = bounds.select(
        F.explode(F.sequence(F.col("__d0"), F.col("__d1"))).alias(date_col)
    )
    grid = daily.select(*keys).distinct().join(F.broadcast(spine))
    j = grid.join(daily, on=keys + [date_col], how="left")

    known = F.when(
        F.col(value_col).isNotNull(),
        F.struct(F.col(date_col).alias("d"), F.col(value_col).alias("v")),
    )
    w_prev = (
        Window.partitionBy(*keys)
        .orderBy(F.col(date_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy(*keys)
        .orderBy(F.col(date_col).asc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    j = j.withColumn("__prev", F.last(known, ignorenulls=True).over(w_prev)).withColumn(
        "__next", F.first(known, ignorenulls=True).over(w_next)
    )
    gap_fill = F.when(
        F.col("__prev").isNotNull() & F.col("__next").isNotNull(),
        F.col("__prev.v")
        + (F.col("__next.v") - F.col("__prev.v"))
        * F.datediff(F.col(date_col), F.col("__prev.d"))
        / F.datediff(F.col("__next.d"), F.col("__prev.d")),
    )
    filled = F.coalesce(F.col(value_col), gap_fill)
    interpolated = (
        F.col(value_col).isNull()
        & F.col("__prev").isNotNull()
        & F.col("__next").isNotNull()
    )
    return j.select(
        *keys,
        date_col,
        filled.alias(value_col),
        interpolated.alias("interpolated"),
    )
