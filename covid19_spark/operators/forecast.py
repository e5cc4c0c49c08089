"""Holt double-exponential smoothing (linear-trend forecasting) as a
per-key JVM-side fold.

The recurrence (Holt 1957; the ``statsmodels`` ``Holt`` initialization
``l₀ = y₀``, ``b₀ = y₁ − y₀``, recursion from the second observation):

    lₜ = α·yₜ + (1−α)·(lₜ₋₁ + bₜ₋₁)
    bₜ = β·(lₜ − lₜ₋₁) + (1−β)·bₜ₋₁
    ŷₜ₊ₕ = lₜ + h·bₜ

is inherently sequential PER KEY — but keys are independent, so the
scale shape is: one groupBy collecting each key's ordered series into an
array (bounded by the series length — days per key, not corpus size),
then ``F.aggregate`` folds the recurrence INSIDE the JVM (Catalyst
higher-order function — no Python, no UDF, no per-row state store).
This is the registry's exemplar of the fold-over-collected-series
pattern: the iterative-algorithm analogue of what PageRank does across
rounds, done within a row.

Determinism: the fold is a left-to-right double recurrence with literal
coefficients — the DuckDB oracle replays the identical expressions
through a recursive CTE, so full-precision doubles hash-match
(coefficients are chosen binary-exact: α = 0.5, β = 0.25).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HORIZON = 7  # forecast steps per key


def holt_linear(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    y_col: str,
) -> DataFrame:
    """``(key_cols..., n_obs, level, trend, h, forecast)`` — one row per
    key and forecast step ``h ∈ 1..HORIZON``, smoothing with α=0.5 and
    β=0.25. Keys with fewer than two observations are dropped (the trend
    is undefined)."""
    key_cols = list(key_cols)
    a, one_a = 0.5, 0.5
    b_, one_b = 0.25, 0.75

    series = (
        df.groupBy(*key_cols)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(order_col).alias("o"), F.col(y_col).alias("y")))
            ).alias("s")
        )
        .filter(F.size("s") >= 2)
    )
    ys = F.transform(F.col("s"), lambda r: r["y"].cast("double"))
    init = F.struct(
        F.element_at(ys, 1).alias("l"),
        (F.element_at(ys, 2) - F.element_at(ys, 1)).alias("b"),
    )

    def step(acc, y):
        new_l = F.lit(a) * y + F.lit(one_a) * (acc["l"] + acc["b"])
        new_b = F.lit(b_) * (new_l - acc["l"]) + F.lit(one_b) * acc["b"]
        return F.struct(new_l.alias("l"), new_b.alias("b"))

    folded = F.aggregate(F.slice(ys, 2, F.size(ys)), init, step)
    fitted = series.select(
        *key_cols,
        F.size("s").cast("long").alias("n_obs"),
        folded["l"].alias("level"),
        folded["b"].alias("trend"),
    )
    h = F.explode(F.sequence(F.lit(1), F.lit(HORIZON))).alias("h")
    return fitted.select(*key_cols, "n_obs", "level", "trend", h).select(
        *key_cols,
        "n_obs",
        "level",
        "trend",
        F.col("h").cast("int").alias("h"),
        (F.col("level") + F.col("h").cast("double") * F.col("trend")).alias("forecast"),
    )


def holt_winters_additive(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    y_col: str,
) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal smoothing (Winters 1960) — the
    level/trend recurrence of :func:`holt_linear` plus a rolling seasonal
    state of m = 7 indices (a weekly period), forecast ``HORIZON`` steps:

        lₜ = α·(yₜ − sₜ₋ₘ) + (1−α)·(lₜ₋₁ + bₜ₋₁)
        bₜ = β·(lₜ − lₜ₋₁) + (1−β)·bₜ₋₁
        sₜ = γ·(yₜ − lₜ) + (1−γ)·sₜ₋ₘ
        ŷₜ₊ₕ = lₜ + h·bₜ + sₜ₋ₘ₊₍₍ₕ₋₁₎ mod ₘ₎₊₁

    Classic init from the first two periods: l₀ = mean(period 1),
    b₀ = (mean(period 2) − mean(period 1)) / m, sᵢ = yᵢ − l₀; the
    recursion then consumes observations m+1..T.  Keys shorter than 2m
    observations are dropped (the init is undefined).

    Scale shape identical to ``holt_linear``: per-key collected ordered
    series (bounded by days-per-key), the fold runs inside the JVM via
    ``F.aggregate`` — the state struct carries the m-slot seasonal ring
    as an array, rotated with slice+concat each step.  Zero Python, zero
    per-row state.

    Determinism: binary-exact coefficients (α=0.5, β=0.25, γ=0.25),
    left-to-right double folds everywhere (the period means are
    folds too, NOT avg()), so the DuckDB recursive-CTE replay of the
    textually-identical expressions hash-matches at full precision."""
    key_cols = list(key_cols)
    m = 7
    a, one_a = 0.5, 0.5
    b_, one_b = 0.25, 0.75
    g, one_g = 0.25, 0.75

    series = (
        df.groupBy(*key_cols)
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col(order_col).alias("o"), F.col(y_col).alias("y"))
                )
            ).alias("s")
        )
        .filter(F.size("s") >= 2 * m)
    )
    ys = F.transform(F.col("s"), lambda r: r["y"].cast("double"))

    def fold_sum(arr):
        return F.aggregate(arr, F.lit(0.0), lambda acc, y: acc + y)

    mean1 = fold_sum(F.slice(ys, 1, m)) / F.lit(float(m))
    mean2 = fold_sum(F.slice(ys, m + 1, m)) / F.lit(float(m))
    l0 = mean1
    b0 = (mean2 - mean1) / F.lit(float(m))
    s0 = F.transform(F.slice(ys, 1, m), lambda y: y - l0)
    init = F.struct(l0.alias("l"), b0.alias("b"), s0.alias("ss"))

    def step(acc, y):
        s_head = F.element_at(acc["ss"], 1)
        new_l = F.lit(a) * (y - s_head) + F.lit(one_a) * (acc["l"] + acc["b"])
        new_b = F.lit(b_) * (new_l - acc["l"]) + F.lit(one_b) * acc["b"]
        new_s = F.lit(g) * (y - new_l) + F.lit(one_g) * s_head
        ring = F.concat(F.slice(acc["ss"], 2, m - 1), F.array(new_s))
        return F.struct(new_l.alias("l"), new_b.alias("b"), ring.alias("ss"))

    folded = F.aggregate(F.slice(ys, m + 1, F.size(ys) - m), init, step)
    fitted = series.select(
        *key_cols,
        F.size("s").cast("long").alias("n_obs"),
        folded["l"].alias("level"),
        folded["b"].alias("trend"),
        folded["ss"].alias("season"),
    )
    h = F.explode(F.sequence(F.lit(1), F.lit(HORIZON))).alias("h")
    return fitted.select(
        *key_cols, "n_obs", "level", "trend", "season", h
    ).select(
        *key_cols,
        "n_obs",
        "level",
        "trend",
        F.col("h").cast("int").alias("h"),
        F.element_at(
            "season", ((F.col("h") - 1) % F.lit(m)).cast("int") + 1
        ).alias("seasonal"),
        (
            F.col("level")
            + F.col("h").cast("double") * F.col("trend")
            + F.element_at("season", ((F.col("h") - 1) % F.lit(m)).cast("int") + 1)
        ).alias("forecast"),
    )


def cusum_alarms(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    y_col: str,
) -> DataFrame:
    """One-sided CUSUM changepoint detection (Page 1954) per key:

        s₀ = 0;   sₜ = max(0, sₜ₋₁ + (yₜ − μ₀ − k))

    with target μ₀ = mean of the first 28 observations (the baseline), slack
    ``k = 0.125·μ₀`` and alarm threshold ``h = 1.0·μ₀`` — the
    level-shift monitor that catches a sustained drift long before any
    single point trips a z-score gate.  The recurrence runs from
    observation 29; keys shorter than 29 are dropped.

    Same per-key JVM fold as ``holt_linear``/``holt_winters_additive``
    (collected ordered series, ``F.aggregate``), state carrying the
    running statistic, the 1-based index of the FIRST alarm (0 = never)
    and the alarm-day count.  Determinism: μ₀ is a left-to-right fold
    mean (not avg()), the slack and threshold factors are binary-exact, and
    max(0, ·) is exact — the whole recurrence replays verbatim in a
    recursive CTE, no rounding exceptions needed.

    Output: key_cols..., n_obs, mu0, s_final, first_alarm, n_alarms.
    """
    key_cols = list(key_cols)
    b = 28

    series = (
        df.groupBy(*key_cols)
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col(order_col).alias("o"), F.col(y_col).alias("y"))
                )
            ).alias("s")
        )
        .filter(F.size("s") >= b + 1)
    )
    ys = F.transform(F.col("s"), lambda r: r["y"].cast("double"))
    mu0 = (
        F.aggregate(F.slice(ys, 1, b), F.lit(0.0), lambda acc, y: acc + y)
        / F.lit(float(b))
    )
    kk = F.lit(0.125) * mu0
    hh = F.lit(1.0) * mu0
    init = F.struct(
        F.lit(0.0).alias("cs"),
        F.lit(b).cast("int").alias("t"),
        F.lit(0).cast("int").alias("first_alarm"),
        F.lit(0).cast("long").alias("n_alarms"),
    )

    def step(acc, y):
        ns = F.greatest(F.lit(0.0), acc["cs"] + (y - mu0 - kk))
        nt = acc["t"] + F.lit(1)
        alarmed = ns >= hh
        return F.struct(
            ns.alias("cs"),
            nt.cast("int").alias("t"),
            F.when(
                (acc["first_alarm"] == 0) & alarmed, nt.cast("int")
            ).otherwise(acc["first_alarm"]).alias("first_alarm"),
            (acc["n_alarms"] + alarmed.cast("long")).alias("n_alarms"),
        )

    folded = F.aggregate(F.slice(ys, b + 1, F.size(ys) - b), init, step)
    return series.select(
        *key_cols,
        F.size("s").cast("long").alias("n_obs"),
        mu0.alias("mu0"),
        folded["cs"].alias("s_final"),
        folded["first_alarm"].cast("long").alias("first_alarm"),
        folded["n_alarms"].cast("long").alias("n_alarms"),
    )
