"""k-anonymity / l-diversity auditing (operators/privacy.py)."""

from pyspark.sql import functions as F

from covid19_spark.operators.privacy import (
    anonymity_report,
    equivalence_classes,
)


def _people(spark):
    # (zip, age_band, disease): one 3-row class (l=2), one 2-row
    # homogeneous class (l=1), one singleton
    rows = [
        ("10001", 1, "flu"),
        ("10001", 1, "flu"),
        ("10001", 1, "cold"),
        ("20002", 2, "flu"),
        ("20002", 2, "flu"),
        ("30003", 3, "rare"),
    ]
    return spark.createDataFrame(rows, "zip string, age int, disease string")


def test_equivalence_classes_hand_case(spark):
    classes = {
        (r.zip, r.age): (r.k, r.l)
        for r in equivalence_classes(
            _people(spark), ["zip", "age"], sensitive_col="disease"
        ).collect()
    }
    assert classes == {
        ("10001", 1): (3, 2),
        ("20002", 2): (2, 1),
        ("30003", 3): (1, 1),
    }


def test_anonymity_report_hand_case(spark):
    classes = equivalence_classes(
        _people(spark), ["zip", "age"], sensitive_col="disease"
    )
    r = anonymity_report(classes).collect()[0]
    assert (r.n_classes, r.min_k, r.max_k, r.n_rows) == (3, 1, 3, 6)
    assert r.rows_at_risk == 6  # every class is below k = 5
    assert r.rows_homogeneous == 3  # l=1 classes: 2 + 1 rows
    assert r.pct_at_risk == 1.0


def test_generalization_monotonicity_on_real_data(spark):
    """Coarsening the quasi-identifier can only merge classes: min_k is
    non-decreasing and rows_at_risk non-increasing up the ladder (the
    property the k_anonymity_ladder query reports)."""
    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")

    def report(width):
        quasi = cust.select(
            "c_nationkey",
            F.floor(F.col("c_acctbal") / F.lit(float(width))).alias("band"),
        )
        return anonymity_report(
            equivalence_classes(quasi, ["c_nationkey", "band"])
        ).collect()[0]

    fine, coarse = report(500), report(2000)
    assert coarse.min_k >= fine.min_k
    assert coarse.rows_at_risk <= fine.rows_at_risk
    assert coarse.n_classes <= fine.n_classes
