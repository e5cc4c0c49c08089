"""Declarative data-quality suite: one-pass report + map-only quarantine."""

import pytest
from pyspark.sql import functions as F

from covid19_spark.operators.quality import (
    Rule,
    expect_in_set,
    expect_matches,
    expect_not_null,
    expect_unique,
    quality_report,
)

ROWS = [
    (1, "a@x.com", 10.0, "O"),
    (2, None, 50.0, "O"),          # null email
    (3, "c@x.com", -5.0, "F"),     # price out of range
    (4, "d@x.com", 20.0, "Z"),     # bad status
    (4, "e@x.com", 30.0, "O"),     # duplicate id
]
SCHEMA = "id long, email string, price double, status string"

def rules():
    # built lazily: Column construction needs an active SparkContext
    return [
        expect_not_null("email"),
        expect_unique("id"),
        Rule("price_in_range", F.col("price").isNotNull() & (F.col("price") >= 0.0)),
        expect_in_set("status", ["O", "F"]),
        expect_matches("email", "^[^@]+@[^@]+$"),
    ]


def test_quality_report_counts(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    rep = {r["rule"]: r for r in quality_report(df, rules()).collect()}
    assert rep["email_not_null"]["violations"] == 1
    assert rep["unique_id"]["violations"] == 1  # 5 rows, 4 distinct ids
    assert rep["price_in_range"]["violations"] == 1
    assert rep["status_in_set"]["violations"] == 1
    assert rep["email_matches"]["violations"] == 1  # the NULL email
    assert all(r["n_rows"] == 5 for r in rep.values())
    assert rep["email_not_null"]["pass_rate"] == pytest.approx(0.8)
    with pytest.raises(ValueError, match="at least one"):
        quality_report(df, [])


def test_quality_report_is_single_pass(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    plan = quality_report(df, rules())._jdf.queryExecution().executedPlan().toString()
    # one aggregation over the input: no join of several scans, and only the
    # single-partial-row agg exchange
    assert "Join" not in plan
    assert plan.count("Scan") <= 1


def test_mad_outlier_report_flags_planted_outliers(spark):
    """MAD is robust: one wild value per group is flagged without dragging
    the threshold the way mean/stddev would; a clean group reports zero."""
    from covid19_spark.operators.quality import mad_outlier_report

    rows = [("a", float(v)) for v in [10, 11, 12, 10, 11, 12, 10, 11, 1000]]
    rows += [("b", float(v)) for v in [5, 5, 6, 6, 5, 6]]
    df = spark.createDataFrame(rows, ["grp", "value"])
    out = {r.grp: r for r in mad_outlier_report(df, "grp", "value").collect()}
    assert out["a"].n_outliers == 1 and out["a"].n_rows == 9
    assert out["a"].med == 11.0
    assert out["b"].n_outliers == 0
    assert out["b"].outlier_rate == 0.0
