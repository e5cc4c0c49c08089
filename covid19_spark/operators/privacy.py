"""Privacy auditing: k-anonymity / l-diversity over quasi-identifiers.

Before a curated table leaves the pipeline (training corpus metadata,
shared analytics extracts), the standard privacy gate measures how
re-identifiable rows are: a row is k-ANONYMOUS when at least k rows share
its full quasi-identifier combination (Sweeney 2002), and an equivalence
class is l-DIVERSE when its sensitive attribute takes at least l distinct
values (Machanavajjhala 2007) — k-anonymity alone fails under homogeneity
(everyone in the class shares the secret).

Complements ``operators/curation``'s PII redaction: redaction removes
direct identifiers; this measures the joint-rareness risk of what remains,
and quantifies how much a GENERALIZATION step (coarsening a quasi-column)
buys.

Scale shape: one groupBy per generalization level — |classes|-sized
shuffles with map-side combine; the risk report is an aggregate over the
class-size frame.  Pure relational, exact integer counts.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def equivalence_classes(
    df: DataFrame,
    quasi_cols: Sequence[Column | str],
    sensitive_col: str | None = None,
) -> DataFrame:
    """One row per quasi-identifier combination: ``k`` (class size) and,
    with ``sensitive_col``, ``l`` (distinct sensitive values — the
    diversity of the secret within the class)."""
    aggs = [F.count(F.lit(1)).cast("long").alias("k")]
    if sensitive_col is not None:
        aggs.append(F.countDistinct(sensitive_col).cast("long").alias("l"))
    return df.groupBy(*quasi_cols).agg(*aggs)


def anonymity_report(classes: DataFrame) -> DataFrame:
    """Collapse a class frame to the one-row risk report: class count,
    min/max k, rows in classes below k = 5 (the re-identifiable
    population), and — when ``l`` is present — rows in homogeneity-risk
    classes (l < 2).  Exact integer counts plus one IEEE
    ratio division."""
    has_l = "l" in classes.columns
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("k").cast("long").alias("min_k"),
        F.max("k").cast("long").alias("max_k"),
        F.sum("k").cast("long").alias("n_rows"),
        F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
    ]
    if has_l:
        aggs.append(
            F.sum(F.when(F.col("l") < 2, F.col("k")).otherwise(0))
            .cast("long")
            .alias("rows_homogeneous")
        )
    out = classes.agg(*aggs)
    return out.withColumn(
        "pct_at_risk",
        F.col("rows_at_risk").cast("double") / F.col("n_rows").cast("double"),
    )
