"""Holt linear smoothing (operators/forecast.py): hand-computed recurrence,
degenerate series handling, key independence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from covid19_spark.operators.forecast import holt_linear


def _series(spark, rows):
    return spark.createDataFrame(rows, "k string, t int, y double")


def test_matches_hand_computed_recurrence(spark):
    # y = [10, 12, 15], alpha=0.5, beta=0.25
    # l0=10, b0=2
    # t=1 (y=12): l=0.5*12+0.5*(10+2)=12;     b=0.25*(12-10)+0.75*2=2
    # t=2 (y=15): l=0.5*15+0.5*(12+2)=14.5;   b=0.25*(14.5-12)+0.75*2=2.125
    df = _series(spark, [("a", 1, 10.0), ("a", 2, 12.0), ("a", 3, 15.0)])
    out = holt_linear(df, ["k"], "t", "y")
    rows = {r.h: r for r in out.collect()}
    assert rows[1].level == 14.5
    assert rows[1].trend == 2.125
    assert rows[1].forecast == 14.5 + 2.125
    assert rows[2].forecast == 14.5 + 2 * 2.125
    assert rows[1].n_obs == 3


def test_constant_series_flat_forecast(spark):
    df = _series(spark, [("a", i, 7.0) for i in range(1, 6)])
    rows = holt_linear(df, ["k"], "t", "y").collect()
    for r in rows:
        assert r.level == 7.0 and r.trend == 0.0 and r.forecast == 7.0


def test_perfect_linear_series_extrapolates_exactly(spark):
    # y = 3 + 2t: level/trend lock on and h-step forecasts are exact
    df = _series(spark, [("a", t, 3.0 + 2.0 * t) for t in range(1, 8)])
    rows = {r.h: r for r in holt_linear(df, ["k"], "t", "y").collect()}
    last = 3.0 + 2.0 * 7
    for h in (1, 2, 3):
        assert rows[h].forecast == pytest.approx(last + 2.0 * h, abs=1e-6)


def test_single_point_keys_dropped_and_keys_independent(spark):
    df = _series(
        spark,
        [("lonely", 1, 5.0), ("a", 1, 1.0), ("a", 2, 2.0), ("b", 1, 10.0), ("b", 2, 30.0)],
    )
    out = holt_linear(df, ["k"], "t", "y").collect()
    ks = {r.k: r for r in out}
    assert "lonely" not in ks
    assert ks["a"].trend == 1.0 and ks["b"].trend == 20.0


def test_unordered_input_is_sorted_by_order_col(spark):
    shuffled = _series(spark, [("a", 3, 15.0), ("a", 1, 10.0), ("a", 2, 12.0)])
    ordered = _series(spark, [("a", 1, 10.0), ("a", 2, 12.0), ("a", 3, 15.0)])
    got_s = holt_linear(shuffled, ["k"], "t", "y").collect()[0]
    got_o = holt_linear(ordered, ["k"], "t", "y").collect()[0]
    assert (got_s.level, got_s.trend) == (got_o.level, got_o.trend)


def test_holt_winters_hand_case(spark):
    """m=7, alpha=0.5, beta=0.25, gamma=0.25 on y=[1..20]: init from the
    first two periods, then the recurrence replayed in python over
    t=8..20."""
    from covid19_spark.operators.forecast import holt_winters_additive

    ys = [float(i) for i in range(1, 21)]
    rows = [(1, i, y) for i, y in enumerate(ys, 1)]
    df = spark.createDataFrame(rows, "k int, t int, y double")
    out = {r.h: r for r in holt_winters_additive(df, ["k"], "t", "y").collect()}
    # replay the recurrence in python
    mean1, mean2 = sum(ys[:7]) / 7.0, sum(ys[7:14]) / 7.0
    l, b = mean1, (mean2 - mean1) / 7.0
    s = [y - l for y in ys[:7]]
    for y in ys[7:]:
        sh = s[0]
        nl = 0.5 * (y - sh) + 0.5 * (l + b)
        nb = 0.25 * (nl - l) + 0.75 * b
        ns = 0.25 * (y - nl) + 0.75 * sh
        l, b, s = nl, nb, s[1:] + [ns]
    assert out[1].level == l and out[1].trend == b
    assert [out[h].seasonal for h in range(1, 8)] == s
    assert out[1].forecast == l + 1.0 * b + s[0]
    assert out[2].forecast == l + 2.0 * b + s[1]


def test_holt_winters_recovers_pure_seasonality(spark):
    """A flat series with an exact weekly additive pattern: level
    converges to the mean, trend to ~0, and the h=1..7 forecasts
    reproduce the pattern ordering."""
    from covid19_spark.operators.forecast import holt_winters_additive

    pat = [10.0, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0]
    rows = [(1, t, pat[t % 7]) for t in range(70)]
    df = spark.createDataFrame(rows, "k int, t int, y double")
    out = {
        r.h: r.forecast
        for r in holt_winters_additive(df, ["k"], "t", "y").collect()
    }
    # t=70..76 -> pattern positions 0..6
    for h in range(1, 8):
        assert abs(out[h] - pat[h - 1]) < 1.5


def test_holt_winters_drops_short_series_and_guards_period(spark):
    """The init needs two full weekly periods: a 13-point key is dropped,
    a 14-point key forecasts."""
    from covid19_spark.operators.forecast import holt_winters_additive

    rows = [(1, t, float(t)) for t in range(13)]  # 13 < 2*7
    rows += [(2, t, float(t)) for t in range(14)]
    df = spark.createDataFrame(rows, "k int, t int, y double")
    out = holt_winters_additive(df, ["k"], "t", "y").collect()
    assert {r.k for r in out} == {2}


def test_cusum_hand_case(spark):
    """baseline 28, y=[10]*28 + [11, 30, 30]: mu0=10, k=1.25, h=10.
    s29 = max(0, 0 + 11-11.25) = 0; s30 = max(0, 0 + 30-11.25) = 18.75 >= 10
    -> first_alarm=30; s31 = 18.75 + 18.75 = 37.5 (alarm again) -> n_alarms=2."""
    from covid19_spark.operators.forecast import cusum_alarms

    rows = [(1, t, y) for t, y in enumerate([10.0] * 28 + [11.0, 30.0, 30.0], 1)]
    df = spark.createDataFrame(rows, "k int, t int, y double")
    r = cusum_alarms(df, ["k"], "t", "y").collect()[0]
    assert r.mu0 == 10.0
    assert r.s_final == 37.5
    assert r.first_alarm == 30
    assert r.n_alarms == 2


def test_cusum_flat_series_never_alarms(spark):
    from covid19_spark.operators.forecast import cusum_alarms

    rows = [(1, t, 10.0) for t in range(1, 40)]
    df = spark.createDataFrame(rows, "k int, t int, y double")
    r = cusum_alarms(df, ["k"], "t", "y").collect()[0]
    assert r.first_alarm == 0 and r.n_alarms == 0 and r.s_final == 0.0


def test_cusum_catches_sustained_shift_a_zscore_would_miss(spark):
    """A +20% sustained level shift (each point well inside any 3-sigma
    band of the noisy baseline) accumulates to an alarm."""
    from covid19_spark.operators.forecast import cusum_alarms

    noise = [10.0, 12.0, 8.0, 11.0, 9.0, 10.0, 12.0, 8.0, 11.0, 9.0]
    base = noise * 2 + noise[:8]  # 28 points, mean 10
    shifted = [12.0, 13.0, 11.5, 12.5, 12.0, 13.0, 11.5, 12.0, 12.5, 13.0]
    rows = [(1, t, y) for t, y in enumerate(base + shifted, 1)]
    df = spark.createDataFrame(rows, "k int, t int, y double")
    r = cusum_alarms(df, ["k"], "t", "y").collect()[0]
    assert r.first_alarm > 28
    assert r.n_alarms >= 1


def test_cusum_guards_and_short_series(spark):
    """The recurrence needs the 28-point baseline plus one observation: a
    28-point key is dropped, a 29-point key reports."""
    from covid19_spark.operators.forecast import cusum_alarms

    rows = [(1, t, 1.0) for t in range(28)]  # 28 < baseline + 1
    rows += [(2, t, 1.0) for t in range(29)]
    df = spark.createDataFrame(rows, "k int, t int, y double")
    assert [r.k for r in cusum_alarms(df, ["k"], "t", "y").collect()] == [2]
