"""Kaplan-Meier product-limit estimator (operators/survival.py)."""

from covid19_spark.operators.survival import kaplan_meier


def test_km_textbook_hand_case(spark):
    """Classic 6-subject example: events at t=1 (n=6), t=3 (n=4, after a
    censor at 2), t=5 (n=2): S = 5/6, 5/6·3/4 = 0.625, 0.625·1/2 = 0.3125.
    Censored times (2, 4) emit no row but shrink the risk set."""
    rows = [(1, 1), (2, 0), (3, 1), (4, 0), (5, 1), (6, 0)]
    df = spark.createDataFrame(rows, "dur long, event int")
    out = {r.t: r for r in kaplan_meier(df, "dur", "event").collect()}
    assert set(out) == {1, 3, 5}
    assert (out[1].n_risk, out[1].d) == (6, 1)
    assert out[1].survival == 1.0 - 1 / 6
    assert (out[3].n_risk, out[3].d) == (4, 1)
    assert out[3].survival == (1.0 - 1 / 6) * (1.0 - 1 / 4)
    assert (out[5].n_risk, out[5].d) == (2, 1)
    assert out[5].survival == (1.0 - 1 / 6) * (1.0 - 1 / 4) * (1.0 - 1 / 2)


def test_km_all_censored_emits_nothing(spark):
    df = spark.createDataFrame([(3, 0), (7, 0)], "dur long, event int")
    assert kaplan_meier(df, "dur", "event").count() == 0


def test_km_survival_monotone_nonincreasing_per_group(spark):
    rows = [(g, t % 11 + 1, (t * 7 + g) % 3 != 0) for g in (1, 2) for t in range(40)]
    df = spark.createDataFrame(
        [(g, d, int(e)) for g, d, e in rows], "g int, dur long, event int"
    )
    for g in (1, 2):
        out = kaplan_meier(df.filter(df.g == g), "dur", "event").collect()
        curve = sorted((r.t, r.survival) for r in out)
        vals = [s for _, s in curve]
        assert all(a >= b for a, b in zip(vals, vals[1:]))
        assert all(0.0 <= s <= 1.0 for s in vals)


def test_km_ties_events_and_censors_same_time(spark):
    """Events and censors at the SAME time: both leave the risk set, only
    events enter the product — d/n uses the risk count entering t."""
    rows = [(2, 1), (2, 1), (2, 0), (5, 1)]
    df = spark.createDataFrame(rows, "dur long, event int")
    out = {r.t: r for r in kaplan_meier(df, "dur", "event").collect()}
    assert (out[2].n_risk, out[2].d) == (4, 2)
    assert out[2].survival == 1.0 - 2 / 4
    assert (out[5].n_risk, out[5].d) == (1, 1)
    assert out[5].survival == (1.0 - 2 / 4) * 0.0
