"""Survival analysis: the Kaplan-Meier product-limit estimator.

The retention/churn curve every subscription or engagement analytics stack
reports (Kaplan & Meier 1958): given per-subject durations with right
censoring (subjects still active contribute risk time but no event), the
survival probability at event time t is

    S(t) = Π_{u ≤ t, event times} (1 − d_u / n_u)

with d_u = events at u and n_u = subjects still at risk entering u.

Scale shape: one groupBy collapses subjects to (duration, events, total)
rows — the distinct-duration frame, bounded by the time resolution (days),
NOT subject count; that contract-small frame collects into a single row
and the running (n_risk, survival) recurrence folds over it inside the JVM
(the ``holt``/``cusum`` fold discipline) — censoring handled by n_risk
decrementing for ALL leavers while only events multiply the product.

Determinism: d/n are exact integer ratios; the product multiplies in
ascending duration order as a left-to-right fold — replayed verbatim by a
recursive-CTE oracle, full precision, no rounding exceptions.
"""

from __future__ import annotations


from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Kaplan-Meier curve: one output row per EVENT time —
    (t, n_risk, d, survival).  ``event_col`` is 1 for an
    observed event, 0 for right-censored.  Censored-only times emit no
    row but still shrink the risk set (the estimator's whole point).
    """
    by_t = df.groupBy(F.col(duration_col).alias("t")).agg(
        F.sum(F.col(event_col).cast("long")).alias("d"),
        F.count(F.lit(1)).alias("c"),
    )
    collected = by_t.groupBy().agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("t"), F.col("d"), F.col("c")))
        ).alias("arr"),
        F.sum("c").alias("n_total"),
    )

    out_t = "array<struct<t:bigint,n_risk:bigint,d:bigint,survival:double>>"
    init = F.struct(
        F.col("n_total").cast("long").alias("n"),
        F.lit(1.0).alias("surv"),
        F.array().cast(out_t).alias("out"),
    )

    def step(acc, e):
        has_event = e["d"] > 0
        term = F.lit(1.0) - e["d"].cast("double") / acc["n"].cast("double")
        new_surv = F.when(has_event, acc["surv"] * term).otherwise(acc["surv"])
        row = F.struct(
            e["t"].cast("long").alias("t"),
            acc["n"].cast("long").alias("n_risk"),
            e["d"].cast("long").alias("d"),
            new_surv.alias("survival"),
        )
        return F.struct(
            (acc["n"] - e["c"]).cast("long").alias("n"),
            new_surv.alias("surv"),
            F.when(has_event, F.concat(acc["out"], F.array(row)))
            .otherwise(acc["out"])
            .alias("out"),
        )

    folded = F.aggregate(F.col("arr"), init, step)
    return collected.select(F.explode(folded["out"]).alias("o")).select(
        F.col("o.t").alias("t"),
        F.col("o.n_risk").alias("n_risk"),
        F.col("o.d").alias("d"),
        F.col("o.survival").alias("survival"),
    )
