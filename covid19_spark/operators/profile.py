"""Table profiling: per-column completeness/cardinality report.

The data-quality report stage every warehouse/pipeline run emits before
training or serving (reference analogue: the sanity checks the ingest
consumers apply per record, lifted to whole-table statistics).

Scale: ONE aggregation pass computes every column's null count and exact
distinct count (each ``count(DISTINCT c)`` adds an Expand branch — at 100 TB
swap ``exact=False`` in to use HLL++ ``approx_count_distinct`` and the pass
stays single-Expand-free with sketch state only). The long-form reshape is a
``stack`` over the ONE aggregated row — no second scan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_columns(df: DataFrame) -> DataFrame:
    """One row per column of ``df``: n_rows, n_nulls, n_distinct (exact,
    NULLs excluded)."""
    cols = list(df.columns)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"__nulls_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"__dist_{c}"))
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', __nulls_{c}, __dist_{c}" for c in cols
    )
    return one.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS (column, n_nulls, n_distinct)"
        ),
        F.col("__n").alias("n_rows"),
    ).select(
        "column",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_nulls").cast("long").alias("n_nulls"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
    )


DEC = "decimal(38,6)"


def pairwise_correlations(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Pearson correlation for every pair of numeric columns, exactly.

    Built from exact sufficient statistics (Σx, Σy, Σxy, Σx², Σy² with
    per-row DECIMAL(38,6) casts) rather than the engine's streaming ``corr``
    aggregate — engines disagree in the last bits of one-pass covariance
    updates, exact sums make the result order-independent and
    bit-reproducible across engines.

    Scale: ONE aggregation pass for all C(n,2) pairs — 2n + n(n−1) partial
    sums in the agg buffer, one partial row per partition on the shuffle;
    the pair reshape is a literal-array explode over the single aggregated
    row. Never a second scan, never a row-pair join.
    """
    cols = list(cols)
    if len(cols) < 2:
        raise ValueError("pairwise_correlations needs at least two columns")
    # The 2n + C(n,2) DECIMAL(38,6) partial sums are CPU-heavy and run
    # pipelined on the scan partitions; a few-file source would pin them to
    # 1-3 tasks. Project the needed columns first (thin rows), then fan out
    # to cluster parallelism — the exchange carries |cols| doubles per row,
    # the partial aggs then use every core. On a real many-split table the
    # scan already provides the parallelism and the exchange coalesces to
    # the same shape.
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    df = df.select(*cols).repartition(n_parts)
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for c in cols:
        x = F.col(c).cast(DEC)
        aggs.append(F.sum(x).cast("double").alias(f"__s_{c}"))
        aggs.append(F.sum((F.col(c) * F.col(c)).cast(DEC)).cast("double").alias(f"__ss_{c}"))
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    for a, b in pairs:
        aggs.append(
            F.sum((F.col(a) * F.col(b)).cast(DEC))
            .cast("double")
            .alias(f"__sp_{a}_{b}")
        )
    wide = df.agg(*aggs)
    n = F.col("__n")
    out_structs = []
    for a, b in pairs:
        cov = n * F.col(f"__sp_{a}_{b}") - F.col(f"__s_{a}") * F.col(f"__s_{b}")
        var_a = n * F.col(f"__ss_{a}") - F.col(f"__s_{a}") * F.col(f"__s_{a}")
        var_b = n * F.col(f"__ss_{b}") - F.col(f"__s_{b}") * F.col(f"__s_{b}")
        out_structs.append(
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                (cov / F.sqrt(var_a * var_b)).alias("corr"),
            )
        )
    return wide.select(
        F.explode(F.array(*out_structs)).alias("p"), n.alias("n_rows")
    ).select("p.col_a", "p.col_b", "p.corr", "n_rows")


def key_skew_report(df: DataFrame, key_col: str) -> DataFrame:
    """Key-distribution diagnostic for partitioning decisions: per-key row
    counts reduced to one stats row — key count, max/mean per-key load, exact
    p50/p90/p99 of the count distribution, the max/mean skew ratio, and the
    smallest key carrying the max load. This is the report you run BEFORE
    picking a shuffle key, a salting factor, or an AQE skew threshold: a
    skew_ratio near 1 means hash partitioning is safe; 100× means the top
    key needs salting/two-phase aggregation (operators/skew.py).

    Plan: one groupBy(key) with map-side partial counts (shuffle carries
    |keys| rows), then a single-row global aggregate — no windows, no sort.
    The top-key lookup joins the (tiny) max back against per-key counts.
    """
    per_key = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("__cnt"))
    stats = per_key.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("__cnt").cast("long").alias("total_rows"),
        F.max("__cnt").cast("long").alias("max_cnt"),
        F.percentile("__cnt", F.lit(0.5)).alias("p50_cnt"),
        F.percentile("__cnt", F.lit(0.9)).alias("p90_cnt"),
        F.percentile("__cnt", F.lit(0.99)).alias("p99_cnt"),
    ).select(
        "n_keys",
        "total_rows",
        "max_cnt",
        (F.col("total_rows") / F.col("n_keys")).alias("mean_cnt"),
        "p50_cnt",
        "p90_cnt",
        "p99_cnt",
        (F.col("max_cnt") / (F.col("total_rows") / F.col("n_keys"))).alias("skew_ratio"),
    )
    max_cnt = per_key.agg(F.max("__cnt").alias("__mx"))
    top = (
        per_key.join(F.broadcast(max_cnt), per_key["__cnt"] == max_cnt["__mx"])
        .agg(F.min(key_col).cast("long").alias("top_key"))
    )
    return stats.crossJoin(top)
