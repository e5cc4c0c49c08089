"""Declarative data-quality checks: single-pass constraint validation.

The expectations layer of a production pipeline (Deequ / Great-Expectations
shape, rebuilt Spark-first): declare row-level constraints, get a
violation report computed in ONE aggregation pass over the table — bad
rows are data to audit and reprocess, not a reason to kill a
1000-executor job at hour three.

Scale notes:
- The report is one map-side-combined agg: every row-level rule folds to
  ``sum(CASE WHEN violated)`` so the shuffle carries one partial row per
  partition regardless of table size; rule results are then ``stack``ed
  long-form (≤ |rules| rows) — the same one-pass-then-reshape plan as
  ``operators/profile``.
- Uniqueness is not a row predicate: it folds to
  ``count(*) − count(DISTINCT key)`` inside the SAME agg pass (exact
  distinct; swap to approx_count_distinct at the 100 TB+ point where a ~2%
  dup-count error is acceptable).

Reference analogue: the scattered empty/null/zero guards
(`BotUtils.java:241-247`, `Covid19PatientAnalyzer.java:101-110`, SURVEY
P1-P5) — here declared once and evaluated in bulk.
"""

from __future__ import annotations

from dataclasses import dataclass
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Rule:
    """A named constraint. ``ok`` must be a boolean Column that is True for
    conforming rows (NULL counts as a violation unless the rule says
    otherwise). ``unique_cols`` is set only for uniqueness rules."""

    name: str
    ok: Column | None = None
    unique_cols: tuple[str, ...] | None = None


def expect_not_null(col: str) -> Rule:
    return Rule(f"{col}_not_null", F.col(col).isNotNull())


def expect_in_set(col: str, values: Sequence) -> Rule:
    c = F.col(col)
    return Rule(f"{col}_in_set", c.isNotNull() & c.isin(*values))


def expect_matches(col: str, regex: str) -> Rule:
    c = F.col(col)
    return Rule(f"{col}_matches", c.isNotNull() & c.rlike(regex))


def expect_unique(*cols: str) -> Rule:
    return Rule("unique_" + "_".join(cols), unique_cols=tuple(cols))


def quality_report(df: DataFrame, rules: Sequence[Rule]) -> DataFrame:
    """Violation counts for every rule in one aggregation pass.

    Output (one row per rule): rule, violations, n_rows, pass_rate.
    """
    rules = list(rules)
    if not rules:
        raise ValueError("quality_report needs at least one rule")
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for i, r in enumerate(rules):
        if r.unique_cols is not None:
            key = F.struct(*[F.col(c) for c in r.unique_cols])
            aggs.append(
                (F.count(F.lit(1)) - F.count_distinct(key))
                .cast("long")
                .alias(f"__v{i}")
            )
        else:
            aggs.append(
                F.sum(F.when(~F.coalesce(r.ok, F.lit(False)), 1).otherwise(0))
                .cast("long")
                .alias(f"__v{i}")
            )
    wide = df.agg(*aggs)
    stack_args = ", ".join(f"'{r.name}', __v{i}" for i, r in enumerate(rules))
    return wide.select(
        F.expr(f"stack({len(rules)}, {stack_args}) as (rule, violations)"),
        F.col("__n").alias("n_rows"),
    ).select(
        "rule",
        "violations",
        "n_rows",
        F.when(F.col("n_rows") == 0, F.lit(1.0))
        .otherwise(1.0 - F.col("violations") / F.col("n_rows"))
        .alias("pass_rate"),
    )


def mad_outlier_report(df, group_col: str, value_col: str):
    """Robust per-group outlier report via median absolute deviation (MAD):
    a value is an outlier when |x - median| > 3 * 1.4826 * MAD (the 1.4826
    factor makes MAD a consistent sigma estimator under normality — the
    standard robust-zscore rule, immune to the outliers themselves unlike
    mean/stddev).

    Two exact-percentile passes (median, then MAD), each a |groups|-row
    aggregate broadcast back onto the fact — no windows, no sorts of the
    full table. Output: one row per group with n_rows, n_outliers, med, mad,
    outlier_rate.
    """
    from pyspark.sql import functions as F

    med = df.groupBy(group_col).agg(
        F.percentile(value_col, F.lit(0.5)).alias("med")
    )
    with_med = df.join(F.broadcast(med), group_col).withColumn(
        "__absdev", F.abs(F.col(value_col) - F.col("med"))
    )
    mad = with_med.groupBy(group_col).agg(
        F.percentile("__absdev", F.lit(0.5)).alias("mad")
    )
    flagged = with_med.join(F.broadcast(mad), group_col)
    return (
        flagged.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(
                F.when(
                    F.col("__absdev") > F.lit(3.0) * F.lit(1.4826) * F.col("mad"), 1
                ).otherwise(0)
            ).cast("long").alias("n_outliers"),
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
        )
        .withColumn("outlier_rate", F.col("n_outliers") / F.col("n_rows"))
    )
