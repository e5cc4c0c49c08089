"""Operator-semantics tests mirroring the reference's conformance points
(FIXTURES.md §8): delta arithmetic, daily rollup carry, doubling rate,
as-of lookup, top-k, date spine."""

import datetime as dt

from pyspark.sql import functions as F

from covid19_spark.operators.asof import latest_within_lookback
from covid19_spark.operators.delta import running_delta
from covid19_spark.operators.rates import active_cases, doubling_rate, positivity_rate
from covid19_spark.operators.rollup import daily_rollup, grand_total_rollup
from covid19_spark.operators.series import date_spine, top_k


def ts(s):
    return dt.datetime.fromisoformat(s)


def test_running_delta_matches_reference_semantics(spark):
    # Successive cumulative snapshots → Δ = new − previous; first Δ = value
    # (reference seeds the aggregate with zeros, Covid19Stats.java:227-242).
    rows = [
        ("Assam", ts("2020-04-08T10:00:00"), 10),
        ("Assam", ts("2020-04-08T11:00:00"), 27),
        ("Assam", ts("2020-04-08T12:00:00"), 28),
        ("Delhi", ts("2020-04-08T10:30:00"), 5),
    ]
    df = spark.createDataFrame(rows, ["state", "t", "confirmed"])
    out = running_delta(df, ["state"], ["t"], ["confirmed"])
    got = {(r.state, r.t): r.delta_confirmed for r in out.collect()}
    assert got[("Assam", ts("2020-04-08T10:00:00"))] == 10
    assert got[("Assam", ts("2020-04-08T11:00:00"))] == 17
    assert got[("Assam", ts("2020-04-08T12:00:00"))] == 1
    assert got[("Delhi", ts("2020-04-08T10:30:00"))] == 5


def test_daily_rollup_sums_deltas_and_carries_latest(spark):
    # Daily window sums deltas, keeps the latest cumulative
    # (Covid19Stats.java:244-270).
    rows = [
        ("Assam", ts("2020-04-08T10:00:00"), 10, 10),
        ("Assam", ts("2020-04-08T23:00:00"), 17, 27),
        ("Assam", ts("2020-04-09T01:00:00"), 1, 28),
    ]
    df = spark.createDataFrame(rows, ["state", "t", "delta_confirmed", "cum_confirmed"])
    out = daily_rollup(
        df, "t", ["state"], sum_cols=["delta_confirmed"], last_cols=["cum_confirmed"]
    ).collect()
    by_date = {str(r.date): r for r in out}
    assert by_date["2020-04-08"].sum_delta_confirmed == 27
    assert by_date["2020-04-08"].last_cum_confirmed == 27
    assert by_date["2020-04-08"].n_updates == 2
    assert by_date["2020-04-09"].sum_delta_confirmed == 1
    assert by_date["2020-04-09"].last_cum_confirmed == 28


def test_doubling_rate_formula(spark):
    # Covid19Stats.java:196-203: growth% = 100·Δ/cum; rate = round(70/growth%).
    # Δ=31, cum=5341 → 70/0.5804 → round(120.61) = 121.
    df = spark.createDataFrame([(31, 5341)], ["d", "c"])
    out = df.select(doubling_rate(F.col("d"), F.col("c")).alias("r")).collect()[0].r
    assert out == 121

    # zero guard (reference returns "0" string — presentation layer's job);
    # engine emits null for no-growth/no-base keys
    z = spark.createDataFrame([(0, 100)], ["d", "c"])
    assert z.select(doubling_rate(F.col("d"), F.col("c")).alias("r")).collect()[0].r is None


def test_positivity_and_active(spark):
    # 3.05% = 100·1621/53166 (AlertTextTests.java:111, BotUtils.java:241-247)
    df = spark.createDataFrame([(1621, 53166)], ["p", "t"])
    assert df.select(positivity_rate(F.col("p"), F.col("t")).alias("r")).collect()[0].r == 3.05
    # active = confirmed − recovered − deaths (BotUtils.java:206): 5341-455-157
    a = spark.createDataFrame([(5341, 455, 157)], ["c", "r", "d"])
    assert (
        a.select(active_cases(F.col("c"), F.col("r"), F.col("d")).alias("x")).collect()[0].x
        == 4729
    )
    # chart clamp (Visualizer.java:455)
    n = spark.createDataFrame([(1, 5, 0)], ["c", "r", "d"])
    assert (
        n.select(active_cases(F.col("c"), F.col("r"), F.col("d"), clamp=True).alias("x"))
        .collect()[0]
        .x
        == 0
    )


def test_asof_latest_within_lookback(spark):
    # reference probes (state, today-k) k=0..13 until hit
    # (StateStoresManager.java:212-229)
    rows = [
        ("Delhi", dt.date(2020, 4, 20), 100),
        ("Delhi", dt.date(2020, 4, 25), 200),
        ("Assam", dt.date(2020, 4, 1), 50),  # outside 14d lookback from 4/26
    ]
    df = spark.createDataFrame(rows, ["state", "d", "tested"])
    out = latest_within_lookback(
        df.filter(F.col("d") >= F.lit("2020-04-13")), ["state"], "d"
    ).collect()
    got = {r.state: r.tested for r in out}
    assert got == {"Delhi": 200}


def test_top_k_deterministic_ties(spark):
    df = spark.createDataFrame(
        [("a", 10), ("b", 10), ("c", 5)], ["k", "v"]
    )
    out = top_k(df, "v", 2, tiebreak_cols=["k"]).orderBy("rank").collect()
    assert [(r.k, r.rank) for r in out] == [("a", 1), ("b", 2)]


def test_grand_total_rollup(spark):
    df = spark.createDataFrame([("x", 1), ("y", 2)], ["state", "v"])
    out = {r.state: r.sum_v for r in grand_total_rollup(df, "state", ["v"]).collect()}
    assert out == {"x": 1, "y": 2, "Total": 3}


def test_date_spine(spark):
    df = spark.range(1)
    out = date_spine(df, F.lit(dt.date(2020, 1, 1)), F.lit(dt.date(2020, 1, 5))).collect()
    assert len(out) == 5
    assert out[0].date == dt.date(2020, 1, 1)


def test_with_ordered_index_matches_global_rank(spark):
    from covid19_spark.operators.series import with_ordered_index

    # 1000 rows spread over many partitions with shuffled insert order: the
    # ordered index must equal the dense global rank by (v, id).
    rows = [((i * 7919) % 1000, i) for i in range(1000)]
    df = spark.createDataFrame(rows, "v int, id int").repartition(16)
    out = with_ordered_index(df, [F.col("v").asc(), F.col("id").asc()]).collect()
    got = sorted((r.idx, r.v) for r in out)
    assert [g[0] for g in got] == list(range(1, 1001))
    assert [g[1] for g in got] == sorted(r[0] for r in rows)
    # dense, 1-based, no duplicates even with multiple input partitions
    assert len({g[0] for g in got}) == 1000


def test_interpolate_series_interior_gap_and_edges(spark):
    from covid19_spark.operators.series import interpolate_series

    d = dt.date
    daily = spark.createDataFrame(
        [
            (1, d(2024, 1, 2), 10.0),
            (1, d(2024, 1, 5), 40.0),   # gap 3,4 -> 20, 30
            (1, d(2024, 1, 6), 0.0),
            (2, d(2024, 1, 3), 5.0),    # single point: everything else edges
        ],
        "k long, date date, v double",
    )
    out = interpolate_series(daily, ["k"], "date", "v")
    rows = {(r["k"], r["date"].isoformat()): r for r in out.collect()}
    # global range is 2024-01-02..2024-01-06 -> 5 days x 2 keys
    assert len(rows) == 10
    assert rows[(1, "2024-01-03")]["v"] == 20.0 and rows[(1, "2024-01-03")]["interpolated"]
    assert rows[(1, "2024-01-04")]["v"] == 30.0 and rows[(1, "2024-01-04")]["interpolated"]
    assert rows[(1, "2024-01-02")]["v"] == 10.0 and not rows[(1, "2024-01-02")]["interpolated"]
    assert rows[(1, "2024-01-06")]["v"] == 0.0
    # key 2: leading/trailing edges stay NULL, known day passes through
    assert rows[(2, "2024-01-03")]["v"] == 5.0
    assert rows[(2, "2024-01-02")]["v"] is None and not rows[(2, "2024-01-02")]["interpolated"]
    assert rows[(2, "2024-01-06")]["v"] is None


def test_profile_columns_exact_and_approx(spark):
    from covid19_spark.operators.profile import profile_columns

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (None, "b")], "x long, s string"
    )
    rows = {r["column"]: r for r in profile_columns(df).collect()}
    assert rows["x"]["n_rows"] == 4 and rows["x"]["n_nulls"] == 1 and rows["x"]["n_distinct"] == 3
    assert rows["s"]["n_nulls"] == 1 and rows["s"]["n_distinct"] == 2


def test_pairwise_correlations_hand_case_and_single_pass(spark):
    import pytest as _pytest

    from covid19_spark.operators.profile import pairwise_correlations

    df = spark.createDataFrame(
        [(1.0, 2.0, -1.0), (2.0, 4.0, -2.0), (3.0, 6.0, -3.0), (4.0, 8.0, -4.0)],
        "x double, y double, z double",
    )
    out = pairwise_correlations(df, ["x", "y", "z"])
    got = {(r["col_a"], r["col_b"]): r["corr"] for r in out.collect()}
    assert got[("x", "y")] == _pytest.approx(1.0)
    assert got[("x", "z")] == _pytest.approx(-1.0)
    assert got[("y", "z")] == _pytest.approx(-1.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE echoes the initial plan too
    assert "Join" not in final and final.count("Scan") <= 1  # one pass, no self-join
    with _pytest.raises(ValueError, match="two columns"):
        pairwise_correlations(df, ["x"])


def test_zip_positional_equal_lengths_pairs_in_order(spark):
    from covid19_spark.operators.series import zip_positional

    a = spark.createDataFrame([(3, "c"), (1, "a"), (2, "b")], "ka int, va string")
    b = spark.createDataFrame([(20, "B"), (10, "A"), (30, "C")], "kb int, vb string")
    out = zip_positional(a, b, ["ka"], ["kb"]).orderBy("idx").collect()
    assert [(r.idx, r.va, r.vb) for r in out] == [(1, "a", "A"), (2, "b", "B"), (3, "c", "C")]


def test_zip_positional_length_mismatch_raises(spark):
    """VERDICT r10 #6 / SURVEY §7.5.4: the reference's Utils.zip
    (Utils.java:17-28) throws on unequal lengths — zip_positional must
    surface the mismatch at execution, not silently inner-join."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from covid19_spark.operators.series import zip_positional

    a = spark.createDataFrame([(1,), (2,), (3,)], "k int")
    b = spark.createDataFrame([(10,), (20,)], "k int")
    out = zip_positional(a, b, ["k"], ["k"])
    with pytest.raises(SparkRuntimeException, match="length mismatch"):
        out.collect()
    # round-11 review fix: the guard must survive COLUMN PRUNING — a
    # caller that never selects idx (the old guard's carrier column) still
    # gets the throw, because the guard now lives in a filter predicate
    a2 = spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")], "k int, v string")
    b2 = spark.createDataFrame([(10, "X"), (20, "Y")], "k int, v string")
    pruned = zip_positional(a2, b2, ["k"], ["k"]).select("v", "v_b")
    with pytest.raises(SparkRuntimeException, match="length mismatch"):
        pruned.collect()


def test_lorenz_concentration_gini_and_invariants(spark):
    """The Lorenz rows reconstruct a valid concentration curve: shares sum
    to 1, cum_share is increasing and convex-ish (rev_share nondecreasing
    by decile since customers are revenue-sorted), and the implied Gini is
    in (0, 1)."""
    from covid19_spark.plans.registry import QUERY_REGISTRY

    rows = sorted(
        QUERY_REGISTRY["lorenz_concentration"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect(),
        key=lambda r: r.decile,
    )
    assert [r.decile for r in rows] == list(range(10))
    assert abs(sum(r.rev_share for r in rows) - 1.0) < 1e-12
    shares = [r.rev_share for r in rows]
    assert all(a <= b + 1e-12 for a, b in zip(shares, shares[1:]))
    assert abs(rows[-1].cum_share - 1.0) < 1e-12
    # trapezoidal Gini over the decile curve
    xs = [0.0] + [(i + 1) / 10 for i in range(10)]
    ys = [0.0] + [r.cum_share for r in rows]
    auc = sum((xs[i + 1] - xs[i]) * (ys[i + 1] + ys[i]) / 2 for i in range(10))
    gini = 1 - 2 * auc
    assert 0.0 < gini < 1.0
